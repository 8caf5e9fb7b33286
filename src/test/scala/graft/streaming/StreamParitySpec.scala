package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.llm.{Ann, Retrieval}
import graft.dfl.DflFrame
import graft.io.DataStoreIO
import org.apache.spark.sql.functions.{col, explode, lit, sequence, unbase64}
import java.nio.file.Files

/** SURVEY.md §5.5: the same DFL pipeline in batch and stream mode must
  * agree (the reference guarantees this by sharing processObject,
  * cli/process.go:114-127). */
class StreamParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pipelineSrc =
    """filter(@, "(@amenity == bar) and (@name != null)") |
      |map(@, "{name: @name, tx: tileX(@lon, 8)}")""".stripMargin

  test("batch and stream runs of one DFL pipeline agree") {
    val dir = Files.createTempDirectory("graft-stream").toString
    val rows = Seq(
      """{"amenity":"bar","name":"A","lon":-77.1}""",
      """{"amenity":"bar","name":"B","lon":10.5}""",
      """{"amenity":"cafe","name":"C","lon":3.0}""",
      """{"amenity":"bar","name":null,"lon":4.0}""",
    )
    Files.writeString(java.nio.file.Paths.get(s"$dir/part1.json"),
      rows.take(2).mkString("\n"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/part2.json"),
      rows.drop(2).mkString("\n"))

    val batch = DflFrame.pipeline(spark.read.json(dir), pipelineSrc)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val stream = StreamRunner.runOnce(spark, dir, "jsonl", pipelineSrc)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(batch == stream)
    assert(batch == Set(("A", 73L), ("B", 135L)))
  }

  test("unstreamable formats and operators are rejected") {
    intercept[IllegalArgumentException] {
      StreamRunner.validateStreamable("json", "filter(@, '@a == 1')")
    }
    intercept[IllegalArgumentException] {
      StreamRunner.validateStreamable("jsonl", "sort(@) | limit(@, 5)")
    }
    // dsir/dsirScore need whole-corpus aggregation → fenced; classify is
    // row-local → streamable (model serving over a stream is the point)
    intercept[IllegalArgumentException] {
      StreamRunner.validateStreamable("jsonl",
        "dsir(@, '@id', '@text', $t, 5)")
    }
    intercept[IllegalArgumentException] {
      StreamRunner.validateStreamable("jsonl",
        "dsirScore(@, '@id', '@text', $m)")
    }
    // the CLI's streaming DSIR flag: --stream required, malformed spec
    // and missing keys rejected eagerly
    intercept[IllegalArgumentException] {
      graft.cli.ProcessCli.parseArgs(Array("--input-uri", "/tmp/x",
        "--stream-dsir", "model=/tmp/m;min=0.5"))
    }
    intercept[IllegalArgumentException] { // missing min
      graft.cli.ProcessCli.parseArgs(Array("--input-uri", "/tmp/x", "--stream",
        "--stream-dsir", "model=/tmp/m"))
    }
    intercept[IllegalArgumentException] { // malformed pair
      graft.cli.ProcessCli.parseArgs(Array("--input-uri", "/tmp/x", "--stream",
        "--stream-dsir", "garbage"))
    }
    StreamRunner.validateStreamable("jsonl",
      "classify(@, '@id', '@vec', $w, 0.0)")
    // the dict-assembly stage compiles to a whole-dataset collect_list
    // aggregation — fenced like the named dataset operators
    intercept[IllegalArgumentException] {
      StreamRunner.validateStreamable("jsonl",
        "filter(@, '@a == 1') | {rows: @, n: len(@)}")
    }
  }

  test("hist through --stream runs in complete mode and matches the batch histogram") {
    val dir = Files.createTempDirectory("graft-streamhist").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      Seq("{\"amenity\":\"bar\"}", "{\"amenity\":\"bar\"}",
        "{\"amenity\":\"cafe\"}").mkString("\n"))
    // an un-watermarked streaming aggregation is illegal in APPEND mode:
    // runOnce must pick COMPLETE from the plan instead of dying with an
    // AnalysisException after validateStreamable passed
    val got = StreamRunner.runOnce(spark, dir, "jsonl",
        "hist(@, '@amenity')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = graft.dfl.DflFrame.pipeline(
        spark.read.json(s"$dir/a.jsonl"), "hist(@, '@amenity')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && got == Set(("bar", 2L), ("cafe", 1L)))
  }

  test("streaming DSIR filter rejects a bucket-count mismatch loudly") {
    val target = Seq((1L, "clinical trial")).toDF("id", "text")
    val source = Seq((2L, "football match")).toDF("id", "text")
    val model = graft.llm.Dsir.fit(source, target, "text", buckets = 512)
    val stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      .json(Files.createTempDirectory("graft-dsirmm").toString)
    // fit at 512, served at the 1024 default: scores would hash into the
    // wrong bucket space (crash or silent mis-scoring) — fail construction
    val err = intercept[IllegalArgumentException] {
      StreamRunner.streamingDsirFilter(stream, "id", "text", model, 0.0)
    }
    assert(err.getMessage.contains("512") && err.getMessage.contains("1024"))
  }

  test("streaming DSIR filter serves a frozen batch-trained model, batch-parity") {
    val target = Seq(
      (101L, "clinical trial patient dosage treatment outcome"),
      (102L, "patient symptoms diagnosis clinical treatment")).toDF("id", "text")
    val source = Seq(
      (1L, "clinical patient treatment dosage outcome trial"),
      (2L, "football match score goal referee stadium"),
      (3L, "patient diagnosis clinical symptoms treatment"),
      (4L, "stock market trading shares dividend portfolio")).toDF("id", "text")
    val model = graft.llm.Dsir.fit(source, target, "text")
    // batch reference: a threshold between the two score groups
    val scores = graft.llm.Dsir.scoreWith(source, "id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cut = (Set(1L, 3L).map(scores).min + Set(2L, 4L).map(scores).max) / 2
    assert(Set(1L, 3L).map(scores).min > Set(2L, 4L).map(scores).max,
      s"target-like docs must outscore off-domain: $scores")
    val batchKeep = scores.filter(_._2 >= cut).keySet
    assert(batchKeep == Set(1L, 3L))
    // stream the same rows through the stateless filter
    val dir = Files.createTempDirectory("graft-dsirstream").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"clinical patient treatment dosage outcome trial"}
        |{"id":2,"text":"football match score goal referee stadium"}
        |{"id":3,"text":"patient diagnosis clinical symptoms treatment"}
        |{"id":4,"text":"stock market trading shares dividend portfolio"}""".stripMargin)
    val kept = StreamRunner.collectStream(
      StreamRunner.streamingDsirFilter(
        StreamRunner.readStream(spark, dir, "jsonl"), "id", "text", model, cut),
      "append").collect().map(_.getAs[Long]("id")).toSet
    assert(kept == batchKeep)
  }

  test("bpeSegment serves a frozen tokenizer in stream mode, batch-parity") {
    val dir = Files.createTempDirectory("graft-bpestream").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"lowest low"}
        |{"id":2,"text":"newest"}""".stripMargin)
    // the textbook merges as a bound dataset var
    val merges = Seq((0, "e", "s"), (1, "es", "t</w>"), (2, "l", "o"), (3, "e", "w"))
      .toDF("rank", "left", "right")
    val expr = "bpeSegment(@, '@id', '@text', $m)"
    val batch = DflFrame.pipeline(spark.read.json(dir), expr, Map("m" -> merges))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val stream = StreamRunner.runOnce(spark, dir, "jsonl", expr,
        vars = Map("m" -> merges))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(stream == batch)
    assert(batch == Set((1L, "lo w est</w> lo w</w>"), (2L, "n ew est</w>")))
    // BYTE mode is row-local too → streamable; the byte-alphabet
    // textbook table serves with batch parity, and the frozen-tokenizer
    // round trip is lossless on the streamed rows
    val bm = Seq((0, "e", "s"), (1, "es", "t"), (2, "l", "o"), (3, "lo", "w"))
      .toDF("rank", "left", "right")
    val bExpr = "bpeSegment(@, '@id', '@text', $m, 'byte')"
    val bBatch = DflFrame.pipeline(spark.read.json(dir), bExpr, Map("m" -> bm))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val bStream = StreamRunner.runOnce(spark, dir, "jsonl", bExpr,
        vars = Map("m" -> bm))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(bStream == bBatch)
    assert(bBatch == Set((1L, "low est Ġ low"), (2L, "n e w est")))
    // annTopKFiltered is whole-dataset (index build + self-probe) → fenced
    intercept[IllegalArgumentException](StreamRunner.validateStreamable(
      "jsonl", "annTopKFiltered(@, '@id', '@v', [1.0], 5, '@flag == 0')"))
  }

  test("wordpieceSegment serves a frozen vocabulary in stream mode, batch-parity") {
    val dir = Files.createTempDirectory("graft-wpstream").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"lowest low"}
        |{"id":2,"text":"unknownword"}""".stripMargin)
    // the hand-computed planted vocab (WordPieceSpec) as a dataset var;
    // doc 2's word has no matchable pieces → the single [UNK] piece
    val vocab = Seq("l", "##o", "##w", "##e", "##s", "##t", "lo", "##st",
      "wid", "##id").toDF("piece")
    val expr = "wordpieceSegment(@, '@id', '@text', $v)"
    val batch = DflFrame.pipeline(spark.read.json(dir), expr, Map("v" -> vocab))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val stream = StreamRunner.runOnce(spark, dir, "jsonl", expr,
        vars = Map("v" -> vocab))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(stream == batch)
    assert(batch == Set((1L, "lo ##w ##e ##st lo ##w"), (2L, "[UNK]")))
    // mmr needs the whole candidate pool → fenced
    intercept[IllegalArgumentException](StreamRunner.validateStreamable(
      "jsonl", "mmr(@, '@id', '@score', '@vec', 5)"))
  }

  test("unigramSegment serves a frozen piece table in stream mode, batch-parity; bm25 fenced") {
    val dir = Files.createTempDirectory("graft-unistream").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"abab ab"}
        |{"id":2,"text":"ba"}""".stripMargin)
    val vocab = Seq(("a", -1.0), ("b", -1.0), ("ab", -0.5))
      .toDF("piece", "logp")
    val expr = "unigramSegment(@, '@id', '@text', $v)"
    val batch = DflFrame.pipeline(spark.read.json(dir), expr, Map("v" -> vocab))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val stream = StreamRunner.runOnce(spark, dir, "jsonl", expr,
        vars = Map("v" -> vocab))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(stream == batch)
    assert(batch == Set((1L, "ab ab</w> ab</w>"), (2L, "b a</w>")))
    // bm25 trains corpus statistics → fenced out of stream mode
    intercept[IllegalArgumentException](StreamRunner.validateStreamable(
      "jsonl", "bm25(@, '@id', '@text', 'spark window', 5)"))
  }

  test("streaming line scrub removes retained-corpus boilerplate lines, keeps fresh content") {
    val ref = Seq(
      (100L, "cookie banner accept all\nsome old article body"),
      (101L, "site nav home about contact"),
    ).toDF("id", "text")
    val dir = Files.createTempDirectory("graft-linescrub").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"cookie banner  ACCEPT ALL\nfresh reporting here\nsite nav home about contact"}
        |{"id":2,"text":"all new\n\ncontent"}""".stripMargin)
    val got = StreamRunner.collectStream(
      StreamRunner.streamingLineScrubAgainst(
        StreamRunner.readStream(spark, dir, "jsonl"), "text", ref, "text"),
      "append").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("text"), r.getAs[Long]("n_lines"),
          r.getAs[Long]("n_kept"))).toMap
    // boilerplate drops under NORMALIZED matching (case/extra spaces);
    // fresh lines survive verbatim
    assert(got(1L) == (("fresh reporting here", 3L, 1L)), s"got $got")
    // empty lines are exempt; untouched docs come back verbatim
    assert(got(2L) == (("all new\n\ncontent", 3L, 3L)))
    // empty reference = pass-through
    val empty = ref.filter(col("id") < 0)
    val got2 = StreamRunner.collectStream(
      StreamRunner.streamingLineScrubAgainst(
        StreamRunner.readStream(spark, dir, "jsonl"), "text", empty, "text"),
      "append").collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("n_kept")).toMap
    assert(got2 == Map(1L -> 3L, 2L -> 3L))
    // CLI flag: eager validation + --stream requirement
    intercept[IllegalArgumentException] {
      graft.cli.ProcessCli.parseArgs(Array("--input-uri", "/tmp/x",
        "--stream-line-ref", "ref=/tmp/r"))
    }
    intercept[IllegalArgumentException] {
      graft.cli.ProcessCli.parseArgs(Array("--input-uri", "/tmp/x", "--stream",
        "--stream-line-ref", "garbage"))
    }
    val ok = graft.cli.ProcessCli.parseArgs(Array("--input-uri", "/tmp/x",
      "--stream", "--stream-line-ref", "ref=/tmp/r;sep=|"))
    assert(ok.streamLineRef == "ref=/tmp/r;sep=|")
  }

  test("cdcChunks is streamable (row-local), batch-parity; cdcPairs/sourceFilter fenced") {
    val dir = Files.createTempDirectory("graft-cdcstream").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"the fast key order sort table scan merge part window small hash"}
        |{"id":2,"text":"zz yy xx the fast key order sort table scan merge part window small hash"}""".stripMargin)
    val expr = "cdcChunks(@, '@id', '@text')"
    val batch = DflFrame.pipeline(spark.read.json(dir), expr)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
    val stream = StreamRunner.runOnce(spark, dir, "jsonl", expr)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3))).toSet
    assert(stream == batch && batch.nonEmpty)
    // the whole-dataset CDC/source stages stay fenced
    for (bad <- Seq("cdcPairs(@, '@id', '@text')",
        "cdcScrub(@, '@id', '@text')",
        "sourceFilter(@, '@id', '@text', '@text')")) {
      val e = intercept[IllegalArgumentException] {
        StreamRunner.runOnce(spark, dir, "jsonl", bad)
      }
      assert(e.getMessage.contains("whole-dataset"))
    }
  }

  test("streaming CDC dedup-against drops edited near-copies of retained docs") {
    val dir = Files.createTempDirectory("graft-cdcagainst").toString
    val retainedText = "the fast key order sort table scan merge part " +
      "window small hash scan join order batch batch batch stream"
    // stream: an edited (prefixed) near-copy, a verbatim copy, a fresh doc
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.jsonl"),
      s"""{"id":1,"text":"zz yy xx $retainedText"}
         |{"id":2,"text":"$retainedText"}
         |{"id":3,"text":"completely different unrelated words with zero overlap at all"}""".stripMargin)
    val ref = Seq((100L, retainedText)).toDF("doc_id", "text")
    val stream = spark.readStream.schema("id LONG, text STRING")
      .json(dir)
    val out = StreamRunner.collectStream(
      StreamRunner.streamingCdcDedupAgainst(stream, "text", ref, "text"),
      "append")
    val kept = out.collect().map(_.getAs[Long]("id")).toSet
    // both the verbatim copy AND the prefix-edited copy share chunks
    // with the retained doc (the edit-robustness fixed signatures lack);
    // the fresh doc passes
    assert(kept == Set(3L))
    // empty reference keeps everything
    val all = StreamRunner.collectStream(
      StreamRunner.streamingCdcDedupAgainst(stream, "text",
        ref.filter(lit(false)), "text"), "append")
    assert(all.collect().map(_.getAs[Long]("id")).toSet == Set(1L, 2L, 3L))
  }

  test("classify serves a linear model in stream mode, batch-parity") {
    val dir = Files.createTempDirectory("graft-clf").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/v.jsonl"),
      """{"id":1,"vec":[1.0,0.0]}
        |{"id":2,"vec":[0.0,1.0]}
        |{"id":3,"vec":[-2.0,0.5]}""".stripMargin)
    val expr = "classify(@, '@id', '@vec', $w, 0.1)"
    val w = Seq(0.8, -0.4)
    val batch = DflFrame.pipeline(spark.read.json(dir), expr, Map("w" -> w))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val stream = StreamRunner.runOnce(spark, dir, "jsonl", expr,
        vars = Map("w" -> w))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(stream == batch)
    val z1 = 0.8 * 1.0 + 0.1
    assert(batch.toMap.apply(1L) ==
      math.rint(1.0 / (1.0 + math.exp(-z1)) * 1e6) / 1e6)
  }

  test("windowed hist with watermark counts per event-time window") {
    val dir = Files.createTempDirectory("graft-wh").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/ev.jsonl"),
      """{"ts":"2026-01-01 00:00:05","kind":"a"}
        |{"ts":"2026-01-01 00:00:20","kind":"a"}
        |{"ts":"2026-01-01 00:00:25","kind":"b"}
        |{"ts":"2026-01-01 00:01:10","kind":"a"}""".stripMargin)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.windowedHist(stream, "ts", "@kind", "1 minute", "10 seconds"),
      "append")
    // append mode only emits closed windows; process-all closes everything
    val rows = out.collect().map(r =>
      (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(rows(("2026-01-01 00:00:00.0", "a")) == 2L)
    assert(rows(("2026-01-01 00:00:00.0", "b")) == 1L)
  }

  test("windowed streaming heavy hitters: exact per window in the small regime") {
    val dir = Files.createTempDirectory("graft-whh").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/ev.jsonl"),
      """{"ts":"2026-01-01 00:00:05","kind":"a"}
        |{"ts":"2026-01-01 00:00:10","kind":"a"}
        |{"ts":"2026-01-01 00:00:20","kind":"b"}
        |{"ts":"2026-01-01 00:01:10","kind":"b"}
        |{"ts":"2026-01-01 00:01:15","kind":"b"}
        |{"ts":"2026-01-01 00:03:00","kind":"z"}""".stripMargin)
    // the z sentinel only advances the watermark past window 1's end —
    // its own window stays open and never emits
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingTopItems(stream, "kind", "ts", "1 minute",
        "10 seconds", capacity = 8), "append")
    val rows = out.collect().map(r =>
      (r.getTimestamp(0).toString, r.getInt(1))
        -> (r.getString(2), r.getLong(3))).toMap
    // window 0: a=2 (rank 0), b=1 (rank 1); window 1: b=2 (rank 0) —
    // capacity ≥ distinct, so the counts are exact as in batch
    assert(rows(("2026-01-01 00:00:00.0", 0)) == (("a", 2L)))
    assert(rows(("2026-01-01 00:00:00.0", 1)) == (("b", 1L)))
    assert(rows(("2026-01-01 00:01:00.0", 0)) == (("b", 2L)))
  }

  test("windowed streaming quantiles: exact order statistics per window under k") {
    val dir = Files.createTempDirectory("graft-wq").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/ev.jsonl"),
      """{"ts":"2026-01-01 00:00:05","x":30}
        |{"ts":"2026-01-01 00:00:10","x":10}
        |{"ts":"2026-01-01 00:00:20","x":20}
        |{"ts":"2026-01-01 00:00:40","x":40}
        |{"ts":"2026-01-01 00:01:10","x":7}
        |{"ts":"2026-01-01 00:01:15","x":3}
        |{"ts":"2026-01-01 00:03:00","x":0}""".stripMargin)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingQuantiles(stream, "x", "ts", "1 minute",
        "10 seconds", k = 64), "append")
      .collect().map(r => r.getTimestamp(0).toString ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // window 0 holds {30,10,20,40}: p25 = ceil(.25*4)=1st = 10,
    // p50 = 2nd = 20, p90 = ceil(3.6)=4th = 40; window 1 holds {7,3}:
    // p25 = 1st = 3, p50 = 3, p90 = 7 — exact order statistics, the
    // under-k regime; the z-time sentinel only advances the watermark
    assert(out("2026-01-01 00:00:00.0") == ((4L, 10.0, 20.0, 40.0)))
    assert(out("2026-01-01 00:01:00.0") == ((2L, 3.0, 3.0, 7.0)))
  }

  test("streaming session windows agree with the batch sessionizer") {
    val dir = Files.createTempDirectory("graft-ssw").toString
    // user 1: two sessions (5 s gaps inside, a 30 s gap between);
    // user 2: one single-event session. Gap threshold 10 s; no
    // inter-event gap equals the threshold exactly (the one boundary
    // where the half-open streaming window and the inclusive batch rule
    // differ by design — documented on streamingSessions).
    Files.writeString(java.nio.file.Paths.get(s"$dir/ev.jsonl"),
      """{"ts":"2026-01-01 00:00:00","u":1,"v":1.5}
        |{"ts":"2026-01-01 00:00:05","u":1,"v":2.0}
        |{"ts":"2026-01-01 00:00:40","u":1,"v":4.0}
        |{"ts":"2026-01-01 00:00:44","u":1,"v":0.5}
        |{"ts":"2026-01-01 00:00:03","u":2,"v":7.0}
        |{"ts":"2026-01-01 00:10:00","u":99,"v":0.0}""".stripMargin)
    // u=99 is a watermark flush: append mode only emits sessions CLOSED
    // by the watermark, so a far-future event closes the real ones (its
    // own session stays open and is never emitted)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingSessions(stream, "u", "ts", "10 seconds",
        "5 seconds", "v"), "append")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val got = out.select("u", "session_start_us", "session_end_us",
      "n_events", "sum_value").collect().map(key).toSet
    // batch twin over the same rows, same gap (µs)
    val batch = spark.read.json(s"$dir/ev.jsonl")
      .withColumn("ts_us", org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.to_timestamp($"ts")))
    val want = graft.temporal.Temporal.sessionStats(
        batch.filter($"u" =!= 99L), "u", "ts_us",
        gapUs = 10000000L, valueCol = "v")
      .select("u", "session_start_us", "session_end_us", "n_events",
        "sum_value").collect().map(key).toSet
    assert(got == want)
    assert(got.size == 3 && got.count(_._1 == 1L) == 2)
  }

  test("process --stream --stream-sessions emits session stats after the DFL stages") {
    val dir = Files.createTempDirectory("graft-pss").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/ev.jsonl"),
      """{"ts":"2026-01-01 00:00:00","u":1,"v":1.5,"kind":"k"}
        |{"ts":"2026-01-01 00:00:05","u":1,"v":2.0,"kind":"k"}
        |{"ts":"2026-01-01 00:00:40","u":1,"v":4.0,"kind":"drop"}
        |{"ts":"2026-01-01 00:00:03","u":2,"v":7.0,"kind":"k"}
        |{"ts":"2026-01-01 00:10:00","u":99,"v":0.0,"kind":"k"}""".stripMargin)
    val c = graft.cli.ProcessCli.parseArgs(Array(
      "--input-uri", dir, "--input-format", "jsonl",
      "--dfl", "filter(@, '@kind == k')", "--stream",
      "--stream-sessions", "key=u;ts=ts;gap=10 seconds;watermark=5 seconds;value=v"))
    val out = graft.cli.ProcessCli.run(spark, c)
      .select("u", "n_events", "sum_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the DFL filter dropped the 00:00:40 event BEFORE sessionization;
    // u=99 is the watermark flush (its own session stays open)
    assert(out == Set((1L, 2L, 3.5), (2L, 1L, 7.0)))
    // flag validation: sessions without --stream, malformed/missing keys
    intercept[IllegalArgumentException](graft.cli.ProcessCli.parseArgs(
      Array("--input-uri", dir, "--stream-sessions", "key=u;ts=ts;gap=1 s;watermark=1 s;value=v")))
    intercept[IllegalArgumentException](graft.cli.ProcessCli.parseArgs(
      Array("--input-uri", dir, "--stream", "--stream-sessions", "key=u;ts=ts")))
  }

  test("process --dataset-var binds a second table for two-dataset DFL stages") {
    val dir = Files.createTempDirectory("graft-pdv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/new.jsonl"),
      """{"id":1,"text":"retained body of text"}
        |{"id":2,"text":"completely new material"}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$dir/ref.jsonl"),
      """{"id":9,"text":"Retained   BODY of text"}""".stripMargin)
    val c = graft.cli.ProcessCli.parseArgs(Array(
      "--input-uri", s"$dir/new.jsonl",
      "--dataset-var", s"ref=$dir/ref.jsonl",
      "--dfl", "dedupAgainst(@, '@id', '@text', $ref, 0.8, 'exact') | map(@, '@id')"))
    assert(graft.cli.ProcessCli.run(spark, c).as[Long].collect().toSeq == Seq(2L))
    // explicit ::format suffix covers extension-less URIs
    val refDir = Files.createTempDirectory("graft-pdv-ref").toString
    spark.read.json(s"$dir/ref.jsonl").write.mode("overwrite").parquet(refDir)
    val c2 = graft.cli.ProcessCli.parseArgs(Array(
      "--input-uri", s"$dir/new.jsonl",
      "--dataset-var", s"ref=$refDir::parquet",
      "--dfl", "dedupAgainst(@, '@id', '@text', $ref, 0.8, 'exact') | map(@, '@id')"))
    assert(graft.cli.ProcessCli.run(spark, c2).as[Long].collect().toSeq == Seq(2L))
    // malformed binding rejected at parse
    intercept[IllegalArgumentException](graft.cli.ProcessCli.parseArgs(
      Array("--input-uri", s"$dir/new.jsonl", "--dataset-var", "nope")))
  }

  test("stream-stream interval join matches the batch range join") {
    val lDir = Files.createTempDirectory("graft-ssj-l").toString
    val rDir = Files.createTempDirectory("graft-ssj-r").toString
    // clicks at :10 and :40; purchases at :05, :35, :50. Window 20 s back:
    // click :10 ← purchase :05; click :40 ← purchase :35 (:50 is future,
    // :05 is stale). Same-key only.
    Files.writeString(java.nio.file.Paths.get(s"$lDir/c.jsonl"),
      """{"ts":"2026-01-01 00:00:10","u":1,"cid":100}
        |{"ts":"2026-01-01 00:00:40","u":1,"cid":101}
        |{"ts":"2026-01-01 00:00:40","u":2,"cid":102}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(s"$rDir/p.jsonl"),
      """{"ts":"2026-01-01 00:00:05","u":1,"pid":200}
        |{"ts":"2026-01-01 00:00:35","u":1,"pid":201}
        |{"ts":"2026-01-01 00:00:50","u":1,"pid":202}""".stripMargin)
    import org.apache.spark.sql.functions.to_timestamp
    def src(dir: String) = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingIntervalJoin(src(lDir), src(rDir), "u",
        "ts", "ts", "20 seconds", "10 seconds"), "append")
    val got = out.select("cid", "r_pid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 200L), (101L, 201L)))
    // batch twin: plain inner range join over the same files
    val lb = spark.read.json(s"$lDir/c.jsonl")
      .withColumn("ts", to_timestamp($"ts"))
    val rb = spark.read.json(s"$rDir/p.jsonl")
      .withColumn("ts", to_timestamp($"ts"))
    val batch = lb.as("l").join(rb.as("r"),
        $"l.u" === $"r.u" && $"r.ts" <= $"l.ts" &&
          $"r.ts" >= org.apache.spark.sql.functions
            .expr("l.ts - INTERVAL 20 seconds"))
      .select($"l.cid", $"r.pid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
  }

  test("streaming dedup keeps first record per fingerprint") {
    val dir = Files.createTempDirectory("graft-sd").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"ts":"2026-01-01 00:00:01","text":"hello world","id":1}
        |{"ts":"2026-01-01 00:00:02","text":"Hello   WORLD","id":2}
        |{"ts":"2026-01-01 00:00:03","text":"different","id":3}""".stripMargin)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingDedup(stream, "text", "ts", "1 minute"), "append")
    // normalization makes the first two records the same fingerprint
    assert(out.count() == 2)
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("corpus ingest job: dedup-against + decontam + in-stream dedup, exactly once") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val ref = Seq((100L, "retained body of text")).toDF("doc_id", "text")
    val bench = Seq((200L, s"bench doc $span tail words")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-cij").toString
    val out = Files.createTempDirectory("graft-cij-out").toString
    val ckpt = Files.createTempDirectory("graft-cij-ck").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/b1.jsonl"),
      """{"ts":"2026-01-01 00:00:01","text":"Retained BODY of text","id":1}
        |{"ts":"2026-01-01 00:00:02","text":"genuinely new survivor content","id":2}""".stripMargin)
    def runOnce(): Unit = {
      val q = StreamRunner.corpusIngestJob(spark, dir, "jsonl", "text", "ts",
        "1 minute", Some(ref), Some(bench), out, ckpt, once = true)
      q.awaitTermination()
    }
    runOnce()
    // batch 2: a contaminated row, a dup of batch 1's survivor, one keeper
    Files.writeString(java.nio.file.Paths.get(s"$dir/b2.jsonl"),
      s"""{"ts":"2026-01-01 00:00:10","text":"prefix $span suffix","id":3}
         |{"ts":"2026-01-01 00:00:11","text":"genuinely  NEW survivor content","id":4}
         |{"ts":"2026-01-01 00:00:12","text":"second keeper entirely","id":5}""".stripMargin)
    runOnce()
    val ids = spark.read.parquet(out).select("id").as[Long].collect().toSet
    // 1 drops (retained), 3 drops (benchmark gram), 4 drops (normalized
    // dup of 2 within the watermark store), 2 and 5 survive
    assert(ids == Set(2L, 5L))
    // relaunch with nothing new: exactly-once, no duplicate appends
    runOnce()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("streaming dedup-against-reference drops retained rows exactly, near mode by simhash") {
    val ref = Seq((100L, "hello world"), (101L, "retained document body"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-sda").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"ts":"2026-01-01 00:00:01","text":"Hello   WORLD","id":1}
        |{"ts":"2026-01-01 00:00:02","text":"genuinely new content","id":2}
        |{"ts":"2026-01-01 00:00:03","text":"body document retained","id":3}""".stripMargin)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
    // exact: id 1 normalizes onto the retained fingerprint → dropped;
    // id 3 permutes the tokens — exact mode keeps it
    val exact = StreamRunner.collectStream(
      StreamRunner.streamingDedupAgainst(stream, ref, "text", "text"), "append")
    assert(exact.select("id").as[Long].collect().toSet == Set(2L, 3L))
    // near: the permutation shares the token multiset → same simhash →
    // dropped too
    val near = StreamRunner.collectStream(
      StreamRunner.streamingDedupAgainst(stream, ref, "text", "text",
        near = true), "append")
    assert(near.select("id").as[Long].collect().toSet == Set(2L))
    // parity with the batch operator on the same files
    val batch = graft.llm.Dedup.exactSurvivorsAgainst(
      spark.read.json(s"$dir/d.jsonl"), ref, "id", "text")
      .select("id").as[Long].collect().toSet
    assert(exact.select("id").as[Long].collect().toSet == batch)
  }

  test("streaming contamination filter drops benchmark-overlapping docs statelessly") {
    import org.apache.spark.sql.functions.to_timestamp
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, s"leading words $span trailing words"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-scf").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      s"""{"ts":"2026-01-01 00:00:01","text":"unrelated prefix $span different suffix","id":1}
         |{"ts":"2026-01-01 00:00:02","text":"no overlap here at all just original tokens","id":2}
         |{"ts":"2026-01-01 00:00:03","text":"too short","id":3}""".stripMargin)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingContamFilter(stream, "text", bench, "text", 8),
      "append")
    // doc 1 carries the planted 8-gram → dropped; 2 clean; 3 gram-free
    assert(out.select("id").as[Long].collect().toSet == Set(2L, 3L))
    // streaming (conservative) survivors ⊆ batch-exact survivors: the
    // bloom can over-drop, never under-drop
    val batch = spark.read.json(s"$dir/d.jsonl")
    val exact = graft.llm.TextAnalysis.decontaminate(
      batch, "id", "text", bench, "text", 8)
      .select("id").as[Long].collect().toSet
    assert(out.select("id").as[Long].collect().toSet.subsetOf(exact))
    // empty benchmark: everything survives (NULL bloom ≡ no-op stage)
    val all = StreamRunner.collectStream(
      StreamRunner.streamingContamFilter(stream, "text",
        bench.filter($"doc_id" < 0L), "text", 8), "append")
    assert(all.count() == 3L)
  }

  test("process --stream --stream-decontam-bench filters before the DFL stages") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val benchDir = Files.createTempDirectory("graft-pcb").toString
    Files.writeString(java.nio.file.Paths.get(s"$benchDir/bench.jsonl"),
      s"""{"doc_id":100,"text":"leading words $span trailing words"}""")
    val dir = Files.createTempDirectory("graft-pcs").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      s"""{"text":"unrelated prefix $span different suffix","id":1}
         |{"text":"no overlap here at all just original tokens","id":2}""".stripMargin)
    val c = graft.cli.ProcessCli.Config(inputUri = dir, inputFormat = "jsonl",
      dfl = "map(@, '{id: @id}')", stream = true,
      streamDecontamBench = s"$benchDir/bench.jsonl")
    val out = graft.cli.ProcessCli.run(spark, c)
    assert(out.select("id").as[Long].collect().toSet == Set(2L))
    // flag validation: decontam-bench without --stream is rejected
    intercept[IllegalArgumentException](graft.cli.ProcessCli.parseArgs(
      Array("--input-uri", dir, "--stream-decontam-bench", benchDir)))
  }

  test("process --stream --stream-cdc-ref drops chunk-sharing rows before the DFL stages") {
    val retained = "the fast key order sort table scan merge part " +
      "window small hash scan join order batch batch batch stream"
    val refDir = Files.createTempDirectory("graft-pccref").toString
    Files.writeString(java.nio.file.Paths.get(s"$refDir/ref.jsonl"),
      s"""{"doc_id":100,"text":"$retained"}""")
    val dir = Files.createTempDirectory("graft-pccs").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      s"""{"text":"zz yy xx $retained","id":1}
         |{"text":"completely different unrelated words with zero overlap at all","id":2}""".stripMargin)
    val c = graft.cli.ProcessCli.Config(inputUri = dir, inputFormat = "jsonl",
      dfl = "map(@, '{id: @id}')", stream = true,
      streamCdcRef = s"ref=$refDir/ref.jsonl")
    val out = graft.cli.ProcessCli.run(spark, c)
    assert(out.select("id").as[Long].collect().toSet == Set(2L))
    // flag validation: cdc-ref without --stream is rejected; missing ref too
    intercept[IllegalArgumentException](graft.cli.ProcessCli.parseArgs(
      Array("--input-uri", dir, "--stream-cdc-ref", s"ref=$refDir/ref.jsonl")))
    intercept[IllegalArgumentException](graft.cli.ProcessCli.parseArgs(
      Array("--input-uri", dir, "--stream", "--stream-cdc-ref", "text=t;max=1")))
  }

  test("streaming near-dedup collapses same-token-multiset records by simhash") {
    val dir = Files.createTempDirectory("graft-snd").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      """{"ts":"2026-01-01 00:00:01","text":"the quick brown fox","id":1}
        |{"ts":"2026-01-01 00:00:02","text":"Quick  THE fox brown","id":2}
        |{"ts":"2026-01-01 00:00:03","text":"a completely different document","id":3}""".stripMargin)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingNearDedup(stream, "text", "ts", "1 minute"), "append")
    // ids 1 and 2 are the same token multiset (order/case/spacing differ)
    // → identical simhash; exact fingerprint would keep both
    assert(out.count() == 2)
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 3L))
    // batch parity: survivors equal the batch-side distinct signature count
    val batch = spark.read.json(s"$dir/d.jsonl")
    val batchSigs = graft.llm.Dedup.simhashSigs(batch, "id", "text")
      .select("sig").distinct().count()
    assert(out.count() == batchSigs)
  }

  test("streaming embedding dedup collapses same-signature vectors, keeps the negation") {
    val dir = Files.createTempDirectory("graft-sed").toString
    // v2 = v1 exactly (identical signature, always collapses); v3 = -v1
    // (every sign projection flips: a deterministically DIFFERENT
    // signature, always survives)
    val v1 = Seq(0.4, -1.2, 0.7, 2.1)
    val v3 = v1.map(-_)
    def row(ts: String, v: Seq[Double], id: Int) =
      s"""{"ts":"$ts","vec":[${v.mkString(",")}],"id":$id}"""
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      Seq(row("2026-01-01 00:00:01", v1, 1),
          row("2026-01-01 00:00:02", v1, 2),
          row("2026-01-01 00:00:03", v3, 3)).mkString("\n"))
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val out = StreamRunner.collectStream(
      StreamRunner.streamingEmbeddingDedup(stream, "vec", "ts", "1 minute",
        nBits = 8, dim = 4), "append")
    assert(out.count() == 2)
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 3L))
    // batch parity: survivors equal the batch-side distinct signature count
    val batch = spark.read.json(s"$dir/d.jsonl")
    val planes = graft.llm.Similarity.hyperplanes(8, 4)
    val batchSigs = batch.select(org.apache.spark.sql.functions.element_at(
        graft.functions.HyperplaneF.bands($"vec", 1, 8, planes), 1).as("s"))
      .distinct().count()
    assert(out.count() == batchSigs)
  }

  test("banded streaming embedding dedup catches partial-signature matches the single band misses") {
    val numBands = 4; val bits = 8; val dim = 4
    val planes = graft.llm.Similarity.hyperplanes(numBands * bits, dim)
    def bandSig(v: Seq[Double], b: Int): Long =
      (0 until bits).foldLeft(0L) { (sig, r) =>
        val p = planes(b * bits + r)
        val d = p.zip(v).map { case (a, x) => a * x }.sum
        if (d > 0) sig | (1L << r) else sig
      }
    def sigs(v: Seq[Double]): Seq[Long] = (0 until numBands).map(bandSig(v, _))
    val v1 = Seq(0.4, -1.2, 0.7, 2.1)
    // search a deterministic perturbation grid for a vector that shares
    // AT LEAST one band with v1 but not all four — the near-dup shape the
    // banded OR catches and a full-width single signature cannot
    val v2 = (for {
      j <- (0 until dim).iterator
      d <- Iterator(0.3, 0.6, 0.9, 1.2, 1.5, -0.3, -0.6, -0.9, -1.2, -1.5)
      cand = v1.updated(j, v1(j) + d)
      shared = sigs(cand).zip(sigs(v1)).count { case (a, b) => a == b }
      if shared >= 1 && shared < numBands
    } yield cand).nextOption().getOrElse(fail("no partial-band perturbation found"))
    val v3 = v1.map(-_) // every sign flips: all bands differ, must survive
    def row(ts: String, v: Seq[Double], id: Int) =
      s"""{"ts":"$ts","vec":[${v.mkString(",")}],"id":$id}"""
    val dir = Files.createTempDirectory("graft-sedb").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      Seq(row("2026-01-01 00:00:01", v1, 1),
          row("2026-01-01 00:00:02", v2, 2),
          row("2026-01-01 00:00:03", v3, 3)).mkString("\n"))
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp($"ts"))
    val banded = StreamRunner.collectStream(
      StreamRunner.streamingEmbeddingDedupBanded(stream, "vec", "ts", "1 minute",
        numBands = numBands, bitsPerBand = bits, dim = dim), "append")
    assert(banded.select("id").as[Long].collect().toSet == Set(1L, 3L),
      "one shared band must dedup id 2; flipped id 3 must survive")
    // the SINGLE-band variant over the same 32 total bits keeps the
    // partial match — banding is what extends the dedup regime
    val single = StreamRunner.collectStream(
      StreamRunner.streamingEmbeddingDedup(stream, "vec", "ts", "1 minute",
        nBits = numBands * bits, dim = dim), "append")
    assert(single.select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    // the banded output drops its internal band columns
    assert(!banded.schema.fieldNames.exists(_.startsWith("__band")))
  }

  test("streaming ANN serving answers a query stream against a static index") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val idxDir = Files.createTempDirectory("graft-annserve").toString + "/idx"
    graft.llm.Similarity.lshBuild(emb, "vec_id", "embedding", idxDir,
      nBits = 16, dim = 64)
    // a stream of query vectors (ids 0-2 of the corpus itself)
    val qdir = Files.createTempDirectory("graft-annserve-q").toString
    val qrows = emb.filter($"vec_id" < 3).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    // malformed rows ride along: a missing vector, a fractional qid
    // (truncating would mislabel answers), and a wrong-dim vector — a
    // serving stream must SKIP them and keep answering, never crash
    val malformed = Seq(
      """{"qid":50}""",
      s"""{"qid":7.5,"vec":[${qrows.head._2.mkString(",")}]}""",
      """{"qid":60,"vec":[1.0,2.0]}""")
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      (qrows.map { case (id, v) =>
        s"""{"qid":$id,"vec":[${v.mkString(",")}]}""" } ++ malformed).mkString("\n"))
    def serve(method: String, dir: String, tuning: Int): Map[Long, Set[(Long, Double)]] = {
      val stream = StreamRunner.readStream(spark, qdir, "jsonl")
      val answers = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double)]
      val q = StreamRunner.annServeBatches(stream, "qid", "vec", dir, 5,
        method = method, tuning = Some(tuning)) { (out, _) =>
        answers.synchronized {
          answers ++= out.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
      }
      try q.processAllAvailable() finally q.stop()
      answers.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    }
    // every WELL-FORMED streamed query answered, identically to a direct
    // index probe; the malformed rows are skipped, not fatal
    val lshAnswers = serve("lsh", idxDir, 20)
    assert(lshAnswers.keySet == qrows.map(_._1).toSet,
      s"answered qids: ${lshAnswers.keySet}")
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, idxDir),
        Ann.Probe(Ann.One(vec), Ann.TopK(5), tuning = Some(20)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(lshAnswers.get(qid).contains(direct), s"lsh query $qid")
    }
    // same serving shape over an IVF index
    val ivfDir = Files.createTempDirectory("graft-annserve-ivf").toString + "/idx"
    graft.llm.Similarity.ivfBuild(emb, "vec_id", "embedding", ivfDir,
      kLists = 8, trainSample = 256)
    val ivfAnswers = serve("ivf", ivfDir, 3)
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, ivfDir),
        Ann.Probe(Ann.One(vec), Ann.TopK(5), tuning = Some(3)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(ivfAnswers.get(qid).contains(direct), s"ivf query $qid")
    }
  }

  test("streaming ANN serving over a compressed IVFPQ index: top-k, filtered, and range batch-parity") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val corpus = emb.withColumn("flag", (col("vec_id") % 2).cast("int"))
    val idxDir = Files.createTempDirectory("graft-pqserve").toString + "/idx"
    graft.llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", idxDir,
      kLists = 8, m = 8, k = 16, metaCols = Seq("flag"))
    val qrows = emb.filter($"vec_id" < 3).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qdir = Files.createTempDirectory("graft-pqserve-q").toString
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      qrows.map { case (id, v) =>
        s"""{"qid":$id,"vec":[${v.mkString(",")}]}""" }.mkString("\n"))
    def serve(minCos: Option[Double], filterDfl: Option[String])
        : Map[Long, Set[(Long, Double)]] = {
      val stream = StreamRunner.readStream(spark, qdir, "jsonl")
      val answers = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double)]
      val q = StreamRunner.annServeBatches(stream, "qid", "vec", idxDir, 5,
        method = "ivfpq", tuning = Some(2), minCos = minCos,
        filterDfl = filterDfl) { (out, _) =>
        answers.synchronized {
          answers ++= out.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
      }
      try q.processAllAvailable() finally q.stop()
      answers.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    }
    // plain top-k: served ≡ direct compressed probe, per query
    val topk = serve(None, None)
    assert(topk.keySet == qrows.map(_._1).toSet)
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, idxDir),
        Ann.Probe(Ann.One(vec), Ann.TopK(5), tuning = Some(2)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(topk(qid) == direct, s"ivfpq serve query $qid")
    }
    // filtered: routed to the widening filtered batch probe
    val filtered = serve(None, Some("@flag == 0"))
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, idxDir),
        Ann.Probe(Ann.One(vec), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(2)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(filtered(qid) == direct, s"ivfpq filtered serve query $qid")
      assert(filtered(qid).forall(_._1 % 2 == 0))
    }
    // range: thresholds the reconstructed cosine (the compressed
    // contract), served ≡ direct ivfPqRange
    val range = serve(Some(0.5), None)
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, idxDir),
        Ann.Probe(Ann.One(vec), Ann.Range(0.5), tuning = Some(2)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(range.getOrElse(qid, Set.empty) == direct,
        s"ivfpq range serve query $qid")
    }
  }

  test("serve-ann --refine: sidecar-reranked answers equal the direct refined batch probe; misuse rejects") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-refserve").toString
    emb.write.parquet(s"$root/corpus")
    val qrows = emb.filter($"vec_id" < 3).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qdir = s"$root/queries"; new java.io.File(qdir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      qrows.map { case (id, v) =>
        s"""{"qid":$id,"vec":[${v.mkString(",")}]}""" }.mkString("\n"))
    val cfg = graft.cli.ServeCli.parseArgs(Array(
      "--index-dir", s"$root/idx", "--method", "ivfpq", "--k", "5",
      "--refine", "4", "--keep-vectors",
      "--build-from", s"$root/corpus",
      "--queries-uri", qdir, "--output-uri", s"$root/answers",
      "--checkpoint", s"$root/ckpt", "--once"))
    graft.cli.ServeCli.run(spark, cfg)
    val got = spark.read.json(s"$root/answers/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("cos"))).toSet
    val want = Ann.probe(Ann.Dir(spark, s"$root/idx"),
      Ann.Probe(Ann.Batch(qrows), Ann.TopK(5), tuning = Some(8), refine = Some(4)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want && got.nonEmpty,
      "refined serving must equal the direct refined batch probe")
    // refined scores are TRUE cosines: each query's own vector tops its
    // slice at exactly 1.0
    qrows.foreach { case (qid, _) =>
      assert(got.contains((qid, qid, 1.0)), s"self-hit missing for $qid")
    }
    // the telemetry saw the refined leg
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(new java.io.File(s"$root/answers").listFiles()
        .filter(_.getName.startsWith("batch-")).head.listFiles()
        .find(_.getName == "_metrics.json").get.toPath))
    import scala.jdk.CollectionConverters._
    assert(m.get("legs").elements().asScala.exists(
      _.get("op").asText == "ivfpq_refined"), m.toString)
    // misuse rejects at job construction: codes-only index, non-ivfpq
    // method, range composition
    val bare = s"$root/bare"
    graft.llm.Pq.ivfPqBuild(emb, "vec_id", "embedding", bare,
      kLists = 8, m = 8, k = 16)
    val e1 = intercept[IllegalArgumentException](graft.cli.ServeCli.run(spark,
      graft.cli.ServeCli.parseArgs(Array(
        "--index-dir", bare, "--method", "ivfpq", "--k", "5", "--refine", "4",
        "--queries-uri", qdir, "--output-uri", s"$root/a2",
        "--checkpoint", s"$root/c2", "--once"))))
    assert(e1.getMessage.contains("keep-vectors"), e1.getMessage)
    intercept[IllegalArgumentException](StreamRunner.annServeBatches(
      StreamRunner.readStream(spark, qdir, "jsonl"), "qid", "vec",
      s"$root/idx", 5, method = "lsh", refine = Some(4))((_, _) => ()))

    // --refine COMPOSES with --filter and --min-cos (r19): a flagged
    // keepVectors index serves both refined twins, answers ≡ the direct
    // batch probes, scores TRUE cosines
    val kvFlag = s"$root/kvflag"
    graft.llm.Pq.ivfPqBuild(
      emb.withColumn("flag", (col("vec_id") % 2).cast("int")),
      "vec_id", "embedding", kvFlag, kLists = 8, m = 8, k = 16,
      keepVectors = true, metaCols = Seq("flag"))
    def serveKv(minCos: Option[Double], filterDfl: Option[String])
        : Set[(Long, Long, Double)] = {
      val stream = StreamRunner.readStream(spark, qdir, "jsonl")
      val answers = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Double)]
      val q = StreamRunner.annServeBatches(stream, "qid", "vec", kvFlag, 5,
        method = "ivfpq", tuning = Some(2), minCos = minCos,
        filterDfl = filterDfl, refine = Some(4)) { (out, _) =>
        answers.synchronized {
          answers ++= out.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2)))
        }
      }
      try q.processAllAvailable() finally q.stop()
      answers.toSet
    }
    val gotFR = serveKv(None, Some("@flag == 0"))
    val wantFR = Ann.probe(Ann.Dir(spark, kvFlag),
      Ann.Probe(Ann.Batch(qrows), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(2),
        refine = Some(4)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotFR == wantFR && gotFR.nonEmpty,
      "filtered refined serving must equal the direct filtered refined probe")
    assert(gotFR.forall(_._2 % 2 == 0))
    // even self-queries rank at exactly 1.0 (true cosines through the
    // filtered widening loop)
    qrows.filter(_._1 % 2 == 0).foreach { case (qid, _) =>
      assert(gotFR.contains((qid, qid, 1.0)), s"self-hit missing for $qid")
    }
    val gotRR = serveKv(Some(0.6), None)
    // --refine 4 loosens the nomination threshold by 0.05·4 (the factor
    // widens the net, the range counterpart of the top-k k×N budget)
    val wantRR = Ann.probe(Ann.Dir(spark, kvFlag),
      Ann.Probe(Ann.Batch(qrows), Ann.Range(0.6), tuning = Some(2), refine = Some(4)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotRR == wantRR && gotRR.nonEmpty,
      "refined range serving must equal the direct refined range probe")
    // exact threshold: every served cosine is a true cosine >= t
    assert(gotRR.forall(_._3 >= 0.6))
  }

  test("serve-ann rejects an oversized query micro-batch loudly instead of collecting it") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val idxDir = Files.createTempDirectory("graft-guard").toString + "/idx"
    graft.llm.Similarity.lshBuild(emb, "vec_id", "embedding", idxDir,
      nBits = 8, dim = 64, partitionBits = 4)
    val qdir = Files.createTempDirectory("graft-guard-q").toString
    val q0 = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      (0 until 5).map(i =>
        s"""{"qid":$i,"vec":[${q0.mkString(",")}]}""").mkString("\n"))
    val stream = StreamRunner.readStream(spark, qdir, "jsonl")
    val q = StreamRunner.annServeBatches(stream, "qid", "vec", idxDir, 5,
      method = "lsh", maxQueriesPerBatch = 3)((_, _) => ())
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    def rootMsg(e: Throwable): String =
      if (e.getCause == null) String.valueOf(e.getMessage)
      else rootMsg(e.getCause)
    assert(rootMsg(err).contains("max-queries-per-batch"),
      s"expected the batch-size guard, got: ${rootMsg(err)}")
    // the guard is configurable: the same file serves under a higher cap
    val answers = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ok = StreamRunner.annServeBatches(
      StreamRunner.readStream(spark, qdir, "jsonl"), "qid", "vec", idxDir, 5,
      method = "lsh", maxQueriesPerBatch = 5) { (out, _) =>
      answers.synchronized { answers ++= out.collect().map(_.getLong(0)) }
    }
    try ok.processAllAvailable() finally ok.stop()
    assert(answers.toSet == (0L until 5L).toSet)
    // CLI plumbing
    val cfg = graft.cli.ServeCli.parseArgs(Array(
      "--queries-uri", qdir, "--index-dir", idxDir, "--output-uri", "/tmp/x",
      "--checkpoint", "/tmp/c", "--max-batch-queries", "123"))
    assert(cfg.maxBatchQueries == 123)
    intercept[IllegalArgumentException](StreamRunner.annServeBatches(
      StreamRunner.readStream(spark, qdir, "jsonl"), "qid", "vec", idxDir, 5,
      maxQueriesPerBatch = 0)((_, _) => ()))
  }

  // One fixture for the per-kind serving tables: a small (doc_id, text,
  // vec) corpus with a bm25 and an lsh index over it, and two jsonl query
  // dirs every kind reads (each kind selects only its own columns):
  // `mixed` holds two good queries, a row malformed for every kind and a
  // duplicate qid; `five` holds five good queries.
  private lazy val kindsRoot: String = {
    val words = Seq("spark", "stream", "window", "merge", "sort", "vector",
      "hash", "index", "query", "batch")
    val docs = (0L until 60L).map(i => i -> Seq.tabulate(5)(j =>
      words(((i * 7 + j * 3) % words.size).toInt)).mkString(" "))
      .toDF("doc_id", "text")
    val emb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val corpus = docs.select(col("doc_id"), col("text"))
      .join(emb.select(col("doc_id"), col("vec")), Seq("doc_id"))
    val root = Files.createTempDirectory("graft-kinds").toString
    Retrieval.bm25Build(corpus, "doc_id", "text", s"$root/bidx", pbands = 16)
    graft.llm.Similarity.lshBuild(corpus, "doc_id", "vec", s"$root/aidx",
      nBits = 8, dim = 16, partitionBits = 4)
    def qvec(text: String): String =
      graft.llm.TextAnalysis.hashEmbed(Seq((0L, text)).toDF("doc_id", "text"),
        "doc_id", "text", dim = 16, seed = 7L)
        .select("vec").as[Seq[Double]].head().mkString("[", ",", "]")
    def row(qid: Long, terms: String) =
      s"""{"qid":$qid,"terms":"$terms","vec":${qvec(terms)}}"""
    def write(dir: String, rows: Seq[String]): Unit = {
      new java.io.File(s"$root/$dir").mkdirs()
      Files.writeString(java.nio.file.Paths.get(s"$root/$dir/q.jsonl"),
        rows.mkString("\n"))
    }
    write("mixed", Seq(row(1, "spark stream window"), row(2, "merge sort"),
      """{"qid":3}""", row(1, "window")))
    write("five", (0L until 5L).map(row(_, "spark stream window")))
    root
  }

  private def serveKind(name: String): StreamRunner.ServeKind[_] = name match {
    case "ann" => StreamRunner.annKind(spark, "vec", s"$kindsRoot/aidx", 5,
      "lsh", Some(50), None, None, None)
    case "bm25" => StreamRunner.bm25Kind(spark, "terms", s"$kindsRoot/bidx",
      5, 1.2, 0.75, None)
    case "hybrid" => StreamRunner.hybridKind(spark, "terms", "vec",
      s"$kindsRoot/bidx", s"$kindsRoot/aidx", "lsh", 5, 10, None, 1.2, 0.75,
      Some(50), None, None)
  }

  private def serveJob(name: String, queries: String, out: String,
                       ckpt: String) = name match {
    case "ann" => StreamRunner.annServeJob(spark, queries, "jsonl", "qid",
      "vec", s"$kindsRoot/aidx", "lsh", 5, Some(50), out, "jsonl", ckpt,
      once = true)
    case "bm25" => StreamRunner.bm25ServeJob(spark, queries, "jsonl", "qid",
      "terms", s"$kindsRoot/bidx", 5, out, "jsonl", ckpt, once = true)
    case "hybrid" => StreamRunner.hybridServeJob(spark, queries, "jsonl",
      "qid", "terms", "vec", s"$kindsRoot/bidx", s"$kindsRoot/aidx", "lsh",
      5, 10, out, "jsonl", ckpt, once = true, tuning = Some(50))
  }

  Seq("ann", "bm25", "hybrid").foreach { name =>
    test(s"$name serving rejects an oversized query micro-batch; Int.MaxValue lifts the cap") {
      def serve(max: Int)(sink: (org.apache.spark.sql.DataFrame, Long) => Unit) =
        StreamRunner.serveBatches(
          StreamRunner.readStream(spark, s"$kindsRoot/five", "jsonl"), "qid",
          serveKind(name), maxQueriesPerBatch = max)(sink)
      val q = serve(4)((_, _) => ())
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        try q.processAllAvailable() finally q.stop()
      }
      def rootMsg(e: Throwable): String =
        if (e.getCause == null) String.valueOf(e.getMessage)
        else rootMsg(e.getCause)
      assert(rootMsg(err).contains("max-queries-per-batch 4"),
        s"expected the batch-size guard, got: ${rootMsg(err)}")
      val answered = scala.collection.mutable.Set.empty[Long]
      val ok = serve(Int.MaxValue) { (out, _) =>
        answered.synchronized { answered ++= out.select("qid").as[Long].collect() }
      }
      try ok.processAllAvailable() finally ok.stop()
      assert(answered == (0L until 5L).toSet)
    }

    test(s"$name serving skips a malformed row and a duplicate qid, counted in _metrics.json") {
      val root = Files.createTempDirectory(s"graft-kinds-$name").toString
      serveJob(name, s"$kindsRoot/mixed", s"$root/answers", s"$root/ckpt")
        .awaitTermination()
      val batchDirs = new java.io.File(s"$root/answers").listFiles()
        .filter(_.getName.startsWith("batch-"))
      assert(batchDirs.length == 1, batchDirs.toSeq)
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        Files.readString(batchDirs.head.toPath.resolve("_metrics.json")))
      assert(m.get("queries_seen").asInt == 4, m.toString)
      assert(m.get("queries_served").asInt == 2, m.toString)
      assert(m.get("queries_skipped").asInt == 2, m.toString)
      val qids = spark.read.json(batchDirs.head.getPath)
        .select("qid").as[Long].collect().toSet
      assert(qids == Set(1L, 2L), qids)
    }
  }

  test("streaming image dedup drops perceptual copies of a static reference, keeps fresh and undecodable") {
    def render(seedShift: Int, shift: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 16; y <- 0 until 12) {
        val g = math.min(239, (x * 180) / 16 + (y * 40) / 12 + seedShift) + shift
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val refImg = render(0, 0, "png")
    val ref = Seq(Tuple1(refImg)).toDF("payload")
    val dir = Files.createTempDirectory("graft-imgstream").toString
    // stream rows: 1 = byte-identical copy (drop), 2 = brightness-shifted
    // BMP re-encode (hamming 0 under dHash → drop), 3 = a structurally
    // different image (keep), 4 = undecodable bytes (keep — no
    // perceptual identity)
    val b64 = java.util.Base64.getEncoder
    def row(id: Int, payload: Array[Byte]) =
      s"""{"id":$id,"payload":"${b64.encodeToString(payload)}"}"""
    Files.writeString(java.nio.file.Paths.get(s"$dir/imgs.jsonl"),
      Seq(row(1, refImg), row(2, render(0, 8, "bmp")),
        row(3, render(100, 0, "png")),
        row(4, "junk".getBytes("UTF-8"))).mkString("\n"))
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
      .withColumn("payload", unbase64(col("payload")))
    val kept = StreamRunner.collectStream(
      StreamRunner.streamingImageDedupAgainst(stream, "payload",
        ref, "payload", estRefImages = 1024), "append")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"kept: $kept")
    // batch parity: the same decision the banded cross operator makes
    // at hamming 0 (row 3 shares no signature; row 4 has none)
    val batchStream = spark.read.json(s"$dir/imgs.jsonl")
      .withColumn("payload", unbase64(col("payload")))
    val matched = graft.llm.Dedup.imagePairsAgainst(
      batchStream.select(col("id"), col("payload")),
      ref.select(lit(100L).as("id"), col("payload")), maxHamming = 0)
      .select("id_a").as[Long].collect().toSet
    assert(matched == Set(1L, 2L))
    // empty reference keeps everything
    val all = StreamRunner.collectStream(
      StreamRunner.streamingImageDedupAgainst(
        StreamRunner.readStream(spark, dir, "jsonl")
          .withColumn("payload", unbase64(col("payload"))),
        "payload", ref.filter(lit(false)), "payload"), "append")
      .select("id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L, 4L))
  }

  test("streaming ANN serving with --filter routes to the filtered batch probes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val corpus = emb.withColumn("flag", (col("vec_id") % 2).cast("int"))
    val idxDir = Files.createTempDirectory("graft-fserve").toString + "/idx"
    graft.llm.Similarity.lshBuild(corpus, "vec_id", "embedding", idxDir,
      nBits = 8, dim = 64, partitionBits = 4, metaCols = Seq("flag"))
    val qrows = emb.filter($"vec_id" < 2).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qdir = Files.createTempDirectory("graft-fserve-q").toString
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      qrows.map { case (id, v) =>
        s"""{"qid":$id,"vec":[${v.mkString(",")}]}""" }.mkString("\n"))
    val stream = StreamRunner.readStream(spark, qdir, "jsonl")
    val answers = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = StreamRunner.annServeBatches(stream, "qid", "vec", idxDir, 5,
      method = "lsh", tuning = Some(5), filterDfl = Some("@flag == 0")) { (out, _) =>
      answers.synchronized {
        answers ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try q.processAllAvailable() finally q.stop()
    // streamed answers equal the direct filtered probe, per query
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, idxDir),
        Ann.Probe(Ann.One(vec), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(5)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val got = answers.filter(_._1 == qid).map(t => (t._2, t._3)).toSet
      assert(got == direct, s"filtered serve query $qid: $got vs $direct")
      assert(got.forall(_._1 % 2 == 0), s"odd id served through flag==0: $got")
    }
    // filter + range serving is rejected at job construction
    intercept[IllegalArgumentException](StreamRunner.annServeBatches(
      StreamRunner.readStream(spark, qdir, "jsonl"), "qid", "vec", idxDir, 5,
      minCos = Some(0.9), filterDfl = Some("@flag == 0"))((_, _) => ()))
    // a malformed filter fails eagerly too
    intercept[Exception](StreamRunner.annServeBatches(
      StreamRunner.readStream(spark, qdir, "jsonl"), "qid", "vec", idxDir, 5,
      filterDfl = Some("@flag =="))((_, _) => ()))
    // CLI plumbing: --filter and --build-meta parse
    val cfg = graft.cli.ServeCli.parseArgs(Array(
      "--queries-uri", qdir, "--index-dir", idxDir, "--output-uri", "/tmp/x",
      "--checkpoint", "/tmp/c", "--filter", "@flag == 0",
      "--build-meta", "flag,lang"))
    assert(cfg.filterDfl.contains("@flag == 0") &&
      cfg.buildMeta == Seq("flag", "lang"))
  }

  test("serving jobs write a _metrics.json sidecar; a widening filtered batch is visible in it") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // `flag == 1` keeps ~1% of rows: a selective filter that forces the
    // widening loop past its starting nprobe=1
    val corpus = emb.withColumn("flag",
      (col("vec_id") % 97 === 0).cast("int"))
    val root = Files.createTempDirectory("graft-metrics").toString
    val idxDir = s"$root/idx"
    graft.llm.Similarity.ivfBuild(corpus, "vec_id", "embedding", idxDir,
      kLists = 16, metaCols = Seq("flag"))
    val qrows = emb.filter($"vec_id" < 2).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qdir = s"$root/queries"; new java.io.File(qdir).mkdirs()
    // two valid queries + one malformed (null vec) + one duplicate qid
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      qrows.map { case (id, v) =>
        s"""{"qid":$id,"vec":[${v.mkString(",")}]}""" }.mkString("\n") +
        "\n" + s"""{"qid":99,"vec":null}""" +
        "\n" + s"""{"qid":0,"vec":[${qrows.head._2.mkString(",")}]}""")
    val q = StreamRunner.annServeJob(spark, qdir, "jsonl", "qid", "vec",
      idxDir, "ivf", 5, tuning = Some(1), s"$root/answers", "jsonl",
      s"$root/ckpt", once = true, filterDfl = Some("@flag == 1"))
    // once=true already processAllAvailable()+stop()ed inside the job —
    // this await returns immediately and never races the batch
    q.awaitTermination()
    val batchDirs = new java.io.File(s"$root/answers").listFiles()
      .filter(_.getName.startsWith("batch-"))
    assert(batchDirs.nonEmpty, "no answer batch dir written")
    val metricsFiles = batchDirs.flatMap(_.listFiles())
      .filter(_.getName == "_metrics.json")
    assert(metricsFiles.nonEmpty, "no _metrics.json sidecar written")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(metricsFiles.head.toPath))
    assert(m.get("queries_seen").asInt == 4, m.toString)
    assert(m.get("queries_served").asInt == 2, m.toString)
    assert(m.get("queries_skipped").asInt == 2, m.toString)
    assert(m.get("wall_ms").asLong >= 0, m.toString)
    val legs = m.get("legs")
    assert(legs.size() >= 1, m.toString)
    val leg = legs.get(0)
    assert(leg.get("op").asText == "ivf_filtered", m.toString)
    assert(leg.get("queries").asInt == 2, m.toString)
    assert(leg.get("width_start").asInt == 1, m.toString)
    // the selective filter forced the loop past its starting width
    assert(leg.get("widened_rounds").asInt >= 1, m.toString)
    assert(leg.get("width_reached").asInt > leg.get("width_start").asInt,
      m.toString)
    // the underscore prefix keeps the sidecar INVISIBLE to answer
    // readers: the batch dir still parses as pure answers
    val answers = spark.read.json(batchDirs.head.getPath)
    assert(answers.columns.sorted.toSeq == Seq("cos", "id", "qid"))
    assert(answers.count() > 0)
    // answers equal the direct filtered batch probe (metrics must not
    // perturb serving)
    val direct = Ann.probe(Ann.Dir(spark, idxDir),
      Ann.Probe(Ann.Batch(qrows), Ann.TopK(5), filter = Some(col("flag") === 1), tuning = Some(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = spark.read.json(s"$root/answers/batch-*")
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("cos"))).toSet
    assert(got == direct, s"$got vs $direct")
  }

  test("serve-ann RANGE mode: jsonl queries in, threshold answers out") {
    // planted clique makes the expected range answer closed-form: 5
    // copies of vec 0 at +100000 sit at Hamming 0 / the rank-0 list, so
    // the 0.9-threshold probe provably returns them plus vec 0 itself
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val clique = emb.unionByName(planted)
    val idxDir = Files.createTempDirectory("graft-rangeserve").toString + "/idx"
    graft.llm.Similarity.lshBuild(clique, "vec_id", "embedding", idxDir,
      nBits = 16, dim = 64)
    val qrows = emb.filter($"vec_id" < 2).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qdir = Files.createTempDirectory("graft-rangeserve-q").toString
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      qrows.map { case (id, v) =>
        s"""{"qid":$id,"vec":[${v.mkString(",")}]}""" }.mkString("\n"))
    val outDir = Files.createTempDirectory("graft-rangeserve-o").toString
    val ckpt = Files.createTempDirectory("graft-rangeserve-c").toString
    // the full product surface: jsonl in, jsonl batch-keyed answers out
    StreamRunner.annServeJob(spark, qdir, "jsonl", "qid", "vec", idxDir,
      "lsh", k = 5, tuning = None, outDir, "jsonl", ckpt, once = true,
      minCos = Some(0.9))
    val got = spark.read.json(s"$outDir/batch-*")
      .select("qid", "id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    // answers == a direct lshRange probe per query (k played no part)
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, idxDir), Ann.Probe(Ann.One(vec), Ann.Range(0.9)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got.getOrElse(qid, Set.empty) == direct, s"lsh range query $qid")
    }
    // the planted clique is fully served for its query
    assert((1 to 5).forall(i => got(0L).exists(_._1 == 100000L + i)))
    // the ivf leg of the same mode, through the in-process surface
    val ivfDir = Files.createTempDirectory("graft-rangeserve-ivf").toString + "/idx"
    graft.llm.Similarity.ivfBuild(clique, "vec_id", "embedding", ivfDir,
      kLists = 8, trainSample = 256)
    val stream = StreamRunner.readStream(spark, qdir, "jsonl")
    val answers = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = StreamRunner.annServeBatches(stream, "qid", "vec", ivfDir, 5,
      method = "ivf", tuning = Some(4), minCos = Some(0.9)) { (out, _) =>
      answers.synchronized {
        answers ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try q.processAllAvailable() finally q.stop()
    val ivfGot = answers.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, ivfDir),
        Ann.Probe(Ann.One(vec), Ann.Range(0.9), tuning = Some(4)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(ivfGot.getOrElse(qid, Set.empty) == direct, s"ivf range query $qid")
    }
    // a bad threshold is rejected before any stream starts
    intercept[IllegalArgumentException](
      StreamRunner.annServeBatches(stream, "qid", "vec", ivfDir, 5,
        minCos = Some(1.5)) { (_, _) => () })
  }

  test("annServe propagates non-dim probe failures instead of swallowing them") {
    // bad DIMS are skipped (previous test); every OTHER probe failure —
    // here a missing index directory — must FAIL the stream, not vanish
    // into a blanket exception catch
    val qdir = Files.createTempDirectory("graft-annserve-bad").toString
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      """{"qid":1,"vec":[1.0,2.0,3.0]}""")
    val stream = StreamRunner.readStream(spark, qdir, "jsonl")
    val q = StreamRunner.annServeBatches(stream, "qid", "vec",
      s"$qdir/no-such-index", 5, method = "lsh") { (_, _) => () }
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q.processAllAvailable())
    finally q.stop()
  }

  test("serve-ann re-resolves an index compacted twice under one served batch") {
    // the ingest maintenance slot can compact as often as a serving
    // attempt takes: here batch 0 serves cleanly, then two compactions
    // land between batch 1's probe resolution and its read (one per
    // attempt, from inside the sink, before the lazy answer executes).
    // Each attempt dies on FileNotFound over the rewritten
    // vectors/list=N files; the stream must re-resolve until a read
    // sees a stable index, not give up after one retry.
    val rnd = new scala.util.Random(7)
    val corpus = (0L until 400L).map(id => id -> Seq.fill(16)(rnd.nextGaussian()))
    val idxDir = Files.createTempDirectory("graft-annserve-compact").toString + "/idx"
    graft.llm.Similarity.ivfBuild(corpus.toDF("vec_id", "embedding"), "vec_id",
      "embedding", idxDir, kLists = 8, trainSample = 256)
    val qdir = Files.createTempDirectory("graft-annserve-compact-q").toString
    val qrows = corpus.take(4)
    def writeQueries(name: String, qs: Seq[(Long, Seq[Double])]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$qdir/$name"),
        qs.map { case (id, v) => s"""{"qid":$id,"vec":[${v.mkString(",")}]}""" }
          .mkString("\n"))
    writeQueries("q0.jsonl", qrows.take(2))
    val answers = scala.collection.mutable.Map.empty[Long, Set[(Long, Double)]]
    var compactions = 0
    val stream = StreamRunner.readStream(spark, qdir, "jsonl")
    val q = StreamRunner.annServeBatches(stream, "qid", "vec", idxDir, 5,
      method = "ivf", tuning = Some(3)) { (out, batchId) =>
      if (batchId == 1 && compactions < 2) {
        compactions += 1
        graft.llm.Ann.compact(spark, idxDir)
      }
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      answers.synchronized {
        rows.groupBy(_._1).foreach { case (qid, rs) =>
          answers(qid) = rs.map(r => (r._2, r._3)).toSet }
      }
    }
    try {
      q.processAllAvailable()
      writeQueries("q1.jsonl", qrows.drop(2))
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception)
    } finally q.stop()
    assert(compactions == 2)
    assert(answers.keySet == qrows.map(_._1).toSet, s"answered: ${answers.keySet}")
    // compaction rewrites files, never rows: every answer equals a
    // direct probe of the compacted index
    qrows.foreach { case (qid, vec) =>
      val direct = Ann.probe(Ann.Dir(spark, idxDir),
        Ann.Probe(Ann.One(vec), Ann.TopK(5), tuning = Some(3)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(answers.get(qid).contains(direct), s"query $qid")
    }
  }

  test("serve-ann job: catalog-bound serving, exactly-once restart from checkpoint") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-servecli").toString
    val idxDir = s"$root/idx"
    graft.llm.Similarity.lshBuild(emb, "vec_id", "embedding", idxDir,
      nBits = 16, dim = 64)
    val qdir = s"$root/queries"
    new java.io.File(qdir).mkdirs()
    val outDir = s"$root/answers"
    def qrows(ids: Seq[Long]): Seq[(Long, Seq[Double])] =
      emb.filter($"vec_id".isin(ids: _*)).orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    def writeQueries(file: String, ids: Seq[Long],
                     quoteQid: Boolean = false): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$qdir/$file"),
        qrows(ids).map { case (id, v) =>
          val q = if (quoteQid) s""""$id"""" else s"$id"
          s"""{"qid":$q,"vec":[${v.mkString(",")}]}""" }.mkString("\n"))
    writeQueries("q1.jsonl", Seq(0L, 1L))
    // the serving job binds its query stream and answer sink as CATALOG
    // datastores — ops configure serving like any other datastore job
    val cat = new graft.catalog.Catalog
    cat.add(graft.catalog.Workspace("ws"))
    cat.add(graft.catalog.DataStore("ws", "qstream", s"'$qdir'", format = "jsonl"))
    cat.add(graft.catalog.DataStore("ws", "answers", s"'$outDir'", format = "jsonl"))
    cat.save(s"$root/catalog.json")
    val cfg = graft.cli.ServeCli.parseArgs(Array(
      "--index-dir", idxDir, "--method", "lsh", "--k", "5", "--tuning", "20",
      "--catalog", s"$root/catalog.json",
      "--queries-datastore", "qstream", "--output-datastore", "answers",
      "--checkpoint", s"$root/ckpt", "--once"))
    graft.cli.ServeCli.run(spark, cfg)
    def answers() = spark.read.json(s"$outDir/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"), r.getAs[Double]("cos")))
    val first = answers()
    assert(first.map(_._1).toSet == Set(0L, 1L))
    // streamed answers equal a direct probe of the same index
    val direct = Ann.probe(Ann.Dir(spark, idxDir),
      Ann.Probe(Ann.Batch(qrows(Seq(0L, 1L))), Ann.TopK(5), tuning = Some(20))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(first.toSet == direct)
    // RESTART: a new query file arrives while the job is down; the same
    // checkpoint resumes with ONLY the new file — the already-served
    // queries are not re-read, so no qid is ever answered twice. The new
    // file carries its qid as a JSON STRING ("2"): the stream's explicit
    // schema reads qids as string so quoted and bare ids both serve
    writeQueries("q2.jsonl", Seq(2L), quoteQid = true)
    graft.cli.ServeCli.run(spark, cfg)
    val second = answers()
    assert(second.map(_._1).toSet == Set(0L, 1L, 2L))
    assert(second.groupBy(_._1).values.forall(_.length == 5),
      "restart must answer only the new queries, never duplicate old ones")
  }

  test("serve-ann job: --build-from bootstraps a missing index, never rebuilds a live one") {
    val root = Files.createTempDirectory("graft-servecli-boot").toString
    val qdir = s"$root/queries"; new java.io.File(qdir).mkdirs()
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q0 = emb.filter($"vec_id" === 7L).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      s"""{"qid":7,"vec":[${q0.mkString(",")}]}""")
    val cfg = graft.cli.ServeCli.parseArgs(Array(
      "--index-dir", s"$root/idx", "--method", "lsh", "--k", "3",
      "--tuning", "10",
      "--build-from", "/root/testdata/sf0.001/embeddings.parquet",
      "--queries-uri", qdir, "--output-uri", s"$root/answers",
      "--checkpoint", s"$root/ckpt", "--once"))
    graft.cli.ServeCli.run(spark, cfg)
    val got = spark.read.json(s"$root/answers/batch-*")
      .orderBy(org.apache.spark.sql.functions.desc("cos")).collect()
    assert(got.length == 3 && got.head.getAs[Long]("id") == 7L,
      "bootstrapped index must serve the self-match top-1")
    // relaunch with the same flags: the live index is reused, not rebuilt
    val metaBefore = new java.io.File(s"$root/idx/meta").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    graft.cli.ServeCli.run(spark, cfg)
    val metaAfter = new java.io.File(s"$root/idx/meta").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(metaBefore == metaAfter, "existing index must not be rebuilt")
  }

  test("serve-bm25 job: catalog-bound serving, exactly-once restart from checkpoint; malformed rows skipped") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val root = Files.createTempDirectory("graft-bm25cli").toString
    val idxDir = s"$root/idx"
    graft.llm.Retrieval.bm25Build(docs, "doc_id", "text", idxDir, pbands = 16)
    val qdir = s"$root/queries"
    new java.io.File(qdir).mkdirs()
    val outDir = s"$root/answers"
    // one malformed row of each skip shape rides along: the job must
    // answer the good queries and never die on the bad rows
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q1.jsonl"),
      Seq(
        """{"qid":1,"terms":"spark stream window"}""",
        """{"qid":2,"terms":"merge sort"}""",
        // ARRAY-shaped jsonl terms: arrives as its raw JSON text under
        // the stream's string schema and must parse back to the same
        // terms as qid 2's string shape — not whitespace-split into
        // garbage tokens, not skipped
        """{"qid":4,"terms":["merge","sort"]}""",
        """{"qid":null,"terms":"spark"}""",
        """{"qid":3,"terms":"   "}""",
        """{"qid":"x","terms":"spark"}""",
        // a duplicated qid within one batch: first occurrence wins,
        // the duplicate is skipped (never double-counted)
        """{"qid":2,"terms":"window"}""").mkString("\n"))
    val cat = new graft.catalog.Catalog
    cat.add(graft.catalog.Workspace("ws"))
    cat.add(graft.catalog.DataStore("ws", "qstream", s"'$qdir'", format = "jsonl"))
    cat.add(graft.catalog.DataStore("ws", "answers", s"'$outDir'", format = "jsonl"))
    cat.save(s"$root/catalog.json")
    val cfg = graft.cli.ServeBm25Cli.parseArgs(Array(
      "--index-dir", idxDir, "--k", "5",
      "--catalog", s"$root/catalog.json",
      "--queries-datastore", "qstream", "--output-datastore", "answers",
      "--checkpoint", s"$root/ckpt", "--once"))
    graft.cli.ServeBm25Cli.run(spark, cfg)
    def answers() = spark.read.json(s"$outDir/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("score"), r.getAs[Long]("rnk")))
    val first = answers()
    assert(first.map(_._1).toSet == Set(1L, 2L, 4L),
      "good queries answered (both terms shapes), malformed rows skipped")
    // the array shape answers exactly as its string-shape twin
    assert(first.filter(_._1 == 4L).map(t => (t._2, t._3, t._4)).toSet ==
      first.filter(_._1 == 2L).map(t => (t._2, t._3, t._4)).toSet,
      "array-shaped terms must answer identically to the string shape")
    // streamed answers equal the direct indexed batch probe AND the
    // full direct corpus scan
    val direct = Retrieval.probe(Retrieval.Dir(spark, idxDir), Retrieval.Probe(
        Retrieval.Batch(Seq(1L -> Seq("spark", "stream", "window"),
          2L -> Seq("merge", "sort"), 4L -> Seq("merge", "sort"))),
        5)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(first.toSet == direct)
    val scan = Retrieval.probe(Retrieval.Scan(docs, "doc_id", "text"),
        Retrieval.Probe(Retrieval.One(Seq("spark", "stream", "window")), 5))
      .collect()
      .map(r => (1L, r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(first.filter(_._1 == 1L).toSet == scan)
    // RESTART: a new query file (quoted qid) arrives while the job is
    // down; the checkpoint resumes with ONLY the new file
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q2.jsonl"),
      """{"qid":"9","terms":"vector hash"}""")
    graft.cli.ServeBm25Cli.run(spark, cfg)
    val second = answers()
    assert(second.map(_._1).toSet == Set(1L, 2L, 4L, 9L))
    assert(second.groupBy(_._1).values.forall(a => a.length == a.map(_._2).distinct.length),
      "restart must answer only the new queries, never duplicate old ones")
    assert(second.count(_._1 == 1L) == first.count(_._1 == 1L))
  }

  test("serve-bm25: array-typed terms serve through the in-process surface; --build-from bootstraps once") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val root = Files.createTempDirectory("graft-bm25cli-boot").toString
    val qdir = s"$root/queries"
    // parquet queries with terms as array<string> — the non-jsonl shape
    Seq((5L, Seq("spark", "stream", "window")))
      .toDF("qid", "terms").coalesce(1).write.parquet(qdir)
    val cfg = graft.cli.ServeBm25Cli.parseArgs(Array(
      "--index-dir", s"$root/idx", "--k", "4",
      "--queries-uri", qdir, "--queries-format", "parquet",
      "--output-uri", s"$root/answers", "--output-format", "parquet",
      "--build-from", "/root/testdata/sf0.001/documents.parquet",
      "--checkpoint", s"$root/ckpt", "--once"))
    graft.cli.ServeBm25Cli.run(spark, cfg)
    val got = spark.read.parquet(s"$root/answers/batch-*")
      .orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score")))
    val direct = Retrieval.probe(Retrieval.Scan(docs, "doc_id", "text"),
        Retrieval.Probe(Retrieval.One(Seq("spark", "stream", "window")), 4))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == direct.toSeq,
      "bootstrapped index + array terms must equal the direct scan")
    // relaunch with the same flags: the live index is reused, not rebuilt
    val statsBefore = new java.io.File(s"$root/idx/stats").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    graft.cli.ServeBm25Cli.run(spark, cfg)
    val statsAfter = new java.io.File(s"$root/idx/stats").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    assert(statsBefore == statsAfter, "existing index must not be rebuilt")
    // FILTERED serving: a meta-carrying bootstrap probed under a DFL
    // language predicate — answers equal the filtered batch probe
    val fcfg = graft.cli.ServeBm25Cli.parseArgs(Array(
      "--index-dir", s"$root/fidx", "--k", "4",
      "--filter", "@lang == 'en'",
      "--queries-uri", qdir, "--queries-format", "parquet",
      "--output-uri", s"$root/fanswers", "--output-format", "parquet",
      "--build-from", "/root/testdata/sf0.001/documents.parquet",
      "--build-meta", "lang",
      "--checkpoint", s"$root/fckpt", "--once"))
    assert(fcfg.filterDfl.contains("@lang == 'en'") &&
      fcfg.buildMeta == Seq("lang"))
    graft.cli.ServeBm25Cli.run(spark, fcfg)
    val fgot = spark.read.parquet(s"$root/fanswers/batch-*")
      .orderBy("rnk").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toSeq
    val fdirect = Retrieval.probe(Retrieval.Dir(spark, s"$root/fidx"),
        Retrieval.Probe(Retrieval.One(Seq("spark", "stream", "window")), 4,
          Some(col("lang") === "en")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fgot == fdirect && fgot.nonEmpty,
      "filtered serving must equal the filtered batch probe")
    // a filter naming a column the index never carried fails JOB
    // CONSTRUCTION (eager schema resolution), not the first micro-batch
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.cli.ServeBm25Cli.run(spark, graft.cli.ServeBm25Cli.parseArgs(
        Array("--index-dir", s"$root/fidx", "--k", "4",
          "--filter", "@nope == 'en'",
          "--queries-uri", qdir, "--queries-format", "parquet",
          "--output-uri", s"$root/fanswers2",
          "--checkpoint", s"$root/fckpt2", "--once")))
    }
  }

  test("serve-hybrid job: fused lexical+semantic answers equal the direct batch composition; MMR and restart") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hEmb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val corpus = docs.select(col("doc_id"), col("text"), col("lang"))
      .join(hEmb.select(col("doc_id"), col("vec")), Seq("doc_id"))
    val root = Files.createTempDirectory("graft-hybridserve").toString
    corpus.write.parquet(s"$root/corpus")
    def qvec(text: String): Seq[Double] =
      graft.llm.TextAnalysis.hashEmbed(
        Seq((0L, text)).toDF("doc_id", "text"), "doc_id", "text",
        dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
    val q1 = qvec("spark stream window")
    val q2 = qvec("merge sort vector")
    val qdir = s"$root/queries"; new java.io.File(qdir).mkdirs()
    def js(v: Seq[Double]): String = v.mkString("[", ",", "]")
    // one string-shape and one ARRAY-shape terms row, plus a malformed
    // row the job must skip without dying
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q1.jsonl"),
      Seq(
        s"""{"qid":1,"terms":"spark stream window","vec":${js(q1)}}""",
        s"""{"qid":2,"terms":["merge","sort","vector"],"vec":${js(q2)}}""",
        s"""{"qid":null,"terms":"spark","vec":${js(q1)}}""").mkString("\n"))
    val cfg = graft.cli.ServeHybridCli.parseArgs(Array(
      "--bm25-index-dir", s"$root/bidx", "--ann-index-dir", s"$root/aidx",
      "--ann-method", "lsh", "--k", "5",
      "--queries-uri", qdir, "--output-uri", s"$root/answers",
      "--checkpoint", s"$root/ckpt", "--once",
      "--build-from", s"$root/corpus", "--build-id-col", "doc_id",
      "--build-text-col", "text", "--build-vec-col", "vec",
      "--build-meta", "lang", "--build-nbits", "8", "--build-pbits", "4"))
    graft.cli.ServeHybridCli.run(spark, cfg)
    def answers(dir: String) = spark.read.json(s"$dir/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("score"), r.getAs[Long]("rnk"))).toSet
    val got = answers(s"$root/answers")
    assert(got.map(_._1) == Set(1L, 2L),
      "both terms shapes answered, the malformed row skipped")
    // direct composition at the job's own pool (2k = 10 per leg)
    val qs = Seq((1L, Seq("spark", "stream", "window"), q1),
      (2L, Seq("merge", "sort", "vector"), q2))
    def direct(k: Int) = {
      val lex = Retrieval.probe(Retrieval.Dir(spark, s"$root/bidx"),
          Retrieval.Probe(Retrieval.Batch(qs.map(q => q._1 -> q._2)), 2 * k))
        .select("qid", "id", "rnk")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("id").asc)
      val sem = Ann.probe(Ann.Dir(spark, s"$root/aidx"),
        Ann.Probe(Ann.Batch(qs.map(q => q._1 -> q._3)), Ann.TopK(2 * k), tuning = Some(100)))
        .withColumn("rnk",
          org.apache.spark.sql.functions.row_number().over(w).cast("long"))
        .select("qid", "id", "rnk")
      graft.llm.Retrieval.rrfFuseBatch(Seq(lex, sem), 2 * k)
    }
    val want = direct(5).filter(col("rnk") <= 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == want, "served fusion must equal the direct composition")
    // (the DFL hybrid stage's semantic leg is brute-force by design;
    // serve-hybrid's is the ANN index probe — the serving contract is
    // equality with the direct INDEXED composition above)
    // RESTART: only a NEW query file is answered
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q2.jsonl"),
      s"""{"qid":9,"terms":"vector hash","vec":${js(q2)}}""")
    graft.cli.ServeHybridCli.run(spark, cfg)
    val second = answers(s"$root/answers")
    assert(second.map(_._1) == Set(1L, 2L, 9L))
    assert(second.count(_._1 == 1L) == got.count(_._1 == 1L),
      "restart must not re-answer committed queries")
    // MMR form: --lambda re-ranks each qid's fused pool with vectors
    // fetched from the ANN index — equals the direct mmrRerankBatch
    val mcfg = graft.cli.ServeHybridCli.parseArgs(Array(
      "--bm25-index-dir", s"$root/bidx", "--ann-index-dir", s"$root/aidx",
      "--ann-method", "lsh", "--k", "5", "--lambda", "0.7",
      "--queries-uri", qdir, "--output-uri", s"$root/manswers",
      "--checkpoint", s"$root/mckpt", "--once"))
    graft.cli.ServeHybridCli.run(spark, mcfg)
    val mgot = spark.read.json(s"$root/manswers/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Long]("rnk"))).toSet
    val fused = direct(5)
    val vecs = spark.read.parquet(s"$root/aidx/vectors").select("id", "v")
    val cands = vecs.join(
      org.apache.spark.sql.functions.broadcast(
        fused.select("qid", "id", "score")), Seq("id"))
    val mwantQ12 = graft.llm.Retrieval.mmrRerankBatch(cands, "qid", "id",
        "score", "v", 5, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(mgot.filter(t => t._1 == 1L || t._1 == 2L) == mwantQ12,
      "served MMR must equal the direct batch re-rank")
  }

  test("serve-hybrid --filter routes both legs to the filtered batch probes; bad filter fails construction") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hEmb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val corpus = docs.select(col("doc_id"), col("text"), col("lang"))
      .join(hEmb.select(col("doc_id"), col("vec")), Seq("doc_id"))
    val root = Files.createTempDirectory("graft-hybridfserve").toString
    corpus.write.parquet(s"$root/corpus")
    val q1 = graft.llm.TextAnalysis.hashEmbed(
      Seq((0L, "spark stream window")).toDF("doc_id", "text"),
      "doc_id", "text", dim = 16, seed = 7L)
      .select("vec").as[Seq[Double]].head()
    val qdir = s"$root/queries"; new java.io.File(qdir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      s"""{"qid":1,"terms":"spark stream window","vec":${q1.mkString("[", ",", "]")}}""")
    val cfg = graft.cli.ServeHybridCli.parseArgs(Array(
      "--bm25-index-dir", s"$root/bidx", "--ann-index-dir", s"$root/aidx",
      "--ann-method", "ivf", "--k", "5", "--filter", "@lang == 'en'",
      "--queries-uri", qdir, "--output-uri", s"$root/answers",
      "--checkpoint", s"$root/ckpt", "--once",
      "--build-from", s"$root/corpus", "--build-id-col", "doc_id",
      "--build-text-col", "text", "--build-vec-col", "vec",
      "--build-meta", "lang"))
    graft.cli.ServeHybridCli.run(spark, cfg)
    val got = spark.read.json(s"$root/answers/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("score"), r.getAs[Long]("rnk"))).toSet
    // direct filtered composition
    val pred = col("lang") === "en"
    val lex = Retrieval.probe(Retrieval.Dir(spark, s"$root/bidx"),
        Retrieval.Probe(Retrieval.Batch(Seq(1L -> Seq("spark", "stream", "window"))),
          10, Some(pred)))
      .select("qid", "id", "rnk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    val sem = Ann.probe(Ann.Dir(spark, s"$root/aidx"),
      Ann.Probe(Ann.Batch(Seq(1L -> q1)), Ann.TopK(10), filter = Some(pred), tuning = Some(8)))
      .withColumn("rnk",
        org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .select("qid", "id", "rnk")
    val want = graft.llm.Retrieval.rrfFuseBatch(Seq(lex, sem), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == want && got.nonEmpty,
      "filtered serving must equal the filtered direct composition")
    // every answer satisfies the predicate
    val enIds = corpus.filter(pred).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(got.map(_._2).forall(enIds), "a non-en id leaked through")
    // a filter naming a column neither index carries fails JOB
    // CONSTRUCTION (eager schema resolution on both layouts)
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.cli.ServeHybridCli.run(spark, graft.cli.ServeHybridCli.parseArgs(
        Array("--bm25-index-dir", s"$root/bidx",
          "--ann-index-dir", s"$root/aidx", "--ann-method", "ivf",
          "--k", "5", "--filter", "@nope == 'en'",
          "--queries-uri", qdir, "--output-uri", s"$root/answers2",
          "--checkpoint", s"$root/ckpt2", "--once")))
    }
  }

  test("serve-hybrid over a compressed IVFPQ index: RRF form batch-parity; MMR rejected loudly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hEmb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val corpus = docs.select(col("doc_id"), col("text"))
      .join(hEmb.select(col("doc_id"), col("vec")), Seq("doc_id"))
    val root = Files.createTempDirectory("graft-hybridpq").toString
    corpus.write.parquet(s"$root/corpus")
    val q1 = graft.llm.TextAnalysis.hashEmbed(
      Seq((0L, "spark stream window")).toDF("doc_id", "text"),
      "doc_id", "text", dim = 16, seed = 7L)
      .select("vec").as[Seq[Double]].head()
    val qdir = s"$root/queries"; new java.io.File(qdir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      s"""{"qid":1,"terms":"spark stream window","vec":${q1.mkString("[", ",", "]")}}""")
    val cfg = graft.cli.ServeHybridCli.parseArgs(Array(
      "--bm25-index-dir", s"$root/bidx", "--ann-index-dir", s"$root/aidx",
      "--ann-method", "ivfpq", "--k", "5",
      "--queries-uri", qdir, "--output-uri", s"$root/answers",
      "--checkpoint", s"$root/ckpt", "--once",
      "--build-from", s"$root/corpus", "--build-id-col", "doc_id",
      "--build-text-col", "text", "--build-vec-col", "vec"))
    graft.cli.ServeHybridCli.run(spark, cfg)
    val got = spark.read.json(s"$root/answers/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Double]("score"), r.getAs[Long]("rnk"))).toSet
    val lex = Retrieval.probe(Retrieval.Dir(spark, s"$root/bidx"),
        Retrieval.Probe(Retrieval.Batch(Seq(1L -> Seq("spark", "stream", "window"))),
          10))
      .select("qid", "id", "rnk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    val sem = Ann.probe(Ann.Dir(spark, s"$root/aidx"),
      Ann.Probe(Ann.Batch(Seq(1L -> q1)), Ann.TopK(10)))
      .withColumn("rnk",
        org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .select("qid", "id", "rnk")
    val want = graft.llm.Retrieval.rrfFuseBatch(Seq(lex, sem), 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(got == want && got.nonEmpty,
      "compressed-index hybrid serving must equal the direct composition")
    // --lambda over a SIDECAR-LESS ivfpq index: codes carry no float
    // vectors for the MMR penalty — rejected at job construction with
    // the keepVectors advice, never silently served
    val err = intercept[IllegalArgumentException] {
      graft.cli.ServeHybridCli.run(spark, graft.cli.ServeHybridCli.parseArgs(
        Array("--bm25-index-dir", s"$root/bidx",
          "--ann-index-dir", s"$root/aidx", "--ann-method", "ivfpq",
          "--k", "5", "--lambda", "0.7",
          "--queries-uri", qdir, "--output-uri", s"$root/answers2",
          "--checkpoint", s"$root/ckpt2", "--once")))
    }
    assert(err.getMessage.contains("vectors_f32"), err.getMessage)
    // --ann-method disagreeing with the dir's actual layout fails job
    // construction with a sentence, not every micro-batch with an opaque
    // read error ('aidx' is a built ivfpq index, claimed as ivf)
    val mism = intercept[IllegalArgumentException] {
      graft.cli.ServeHybridCli.run(spark, graft.cli.ServeHybridCli.parseArgs(
        Array("--bm25-index-dir", s"$root/bidx",
          "--ann-index-dir", s"$root/aidx", "--ann-method", "ivf",
          "--k", "5",
          "--queries-uri", qdir, "--output-uri", s"$root/answers3",
          "--checkpoint", s"$root/ckpt3", "--once")))
    }
    assert(mism.getMessage.contains("built 'ivfpq' index"), mism.getMessage)
  }

  test("serve-hybrid --lambda over a keepVectors IVFPQ index: exact MMR parity from the float sidecar") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hEmb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val corpus = docs.select(col("doc_id"), col("text"))
      .join(hEmb.select(col("doc_id"), col("vec")), Seq("doc_id"))
    val root = Files.createTempDirectory("graft-hybridpqkv").toString
    corpus.write.parquet(s"$root/corpus")
    val q1 = graft.llm.TextAnalysis.hashEmbed(
      Seq((0L, "spark stream window")).toDF("doc_id", "text"),
      "doc_id", "text", dim = 16, seed = 7L)
      .select("vec").as[Seq[Double]].head()
    val qdir = s"$root/queries"; new java.io.File(qdir).mkdirs()
    Files.writeString(java.nio.file.Paths.get(s"$qdir/q.jsonl"),
      s"""{"qid":1,"terms":"spark stream window","vec":${q1.mkString("[", ",", "]")}}""")
    val cfg = graft.cli.ServeHybridCli.parseArgs(Array(
      "--bm25-index-dir", s"$root/bidx", "--ann-index-dir", s"$root/aidx",
      "--ann-method", "ivfpq", "--k", "5", "--lambda", "0.7",
      "--keep-vectors",
      "--queries-uri", qdir, "--output-uri", s"$root/answers",
      "--checkpoint", s"$root/ckpt", "--once",
      "--build-from", s"$root/corpus", "--build-id-col", "doc_id",
      "--build-text-col", "text", "--build-vec-col", "vec"))
    // capture executed plans across the serve run: the MMR candidate
    // fetch must push the fused pool's ids into the sidecar read
    // (In(id, …) in PushedFilters) — a broadcast join alone would scan
    // the whole corpus-sized sidecar per micro-batch
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    try graft.cli.ServeHybridCli.run(spark, cfg)
    finally spark.listenerManager.unregister(ql)
    // listener posts are async — poll to a deadline before judging
    def awaitPlan(): Boolean = {
      val deadline = System.currentTimeMillis() + 10000
      import scala.jdk.CollectionConverters._
      while (System.currentTimeMillis() < deadline) {
        if (plans.asScala.exists(
            _.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(id.*")))
          return true
        Thread.sleep(100)
      }
      false
    }
    assert(awaitPlan(),
      "no captured serving plan showed the pushed id In filter on the " +
        "MMR candidate fetch")
    assert(graft.llm.Pq.hasVectorSidecar(spark, s"$root/aidx"))
    val got = spark.read.json(s"$root/answers/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Long]("rnk"))).toSet
    // direct composition: compressed probes for the pool, RRF fuse at
    // pool width, exact MMR over the fused pool with TRUE floats from
    // the sidecar — serve-hybrid must equal it term for term
    val lex = Retrieval.probe(Retrieval.Dir(spark, s"$root/bidx"),
        Retrieval.Probe(Retrieval.Batch(Seq(1L -> Seq("spark", "stream", "window"))),
          10))
      .select("qid", "id", "rnk")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
    val sem = Ann.probe(Ann.Dir(spark, s"$root/aidx"),
      Ann.Probe(Ann.Batch(Seq(1L -> q1)), Ann.TopK(10)))
      .withColumn("rnk",
        org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .select("qid", "id", "rnk")
    val fused = graft.llm.Retrieval.rrfFuseBatch(Seq(lex, sem), 10)
    val cands = spark.read
      .parquet(s"$root/aidx/${graft.llm.Pq.vectorSidecarDir}")
      .select(col("id"), col("v"))
      .join(org.apache.spark.sql.functions.broadcast(fused), Seq("id"))
    val want = graft.llm.Retrieval.mmrRerankBatch(
        cands, "qid", "id", "score", "v", 5, 0.7)
      .select("qid", "id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty,
      "sidecar MMR serving must equal the direct float composition")
    // --refine over the same keepVectors indexes: the semantic leg
    // nominates with compressed ADC and reranks with TRUE cosines, so
    // the fused answers equal the refined direct composition
    graft.cli.ServeHybridCli.run(spark, graft.cli.ServeHybridCli.parseArgs(
      Array("--bm25-index-dir", s"$root/bidx",
        "--ann-index-dir", s"$root/aidx", "--ann-method", "ivfpq",
        "--k", "5", "--refine", "4",
        "--queries-uri", qdir, "--output-uri", s"$root/answersR",
        "--checkpoint", s"$root/ckptR", "--once")))
    val gotR = spark.read.json(s"$root/answersR/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Long]("rnk"))).toSet
    val semR = Ann.probe(Ann.Dir(spark, s"$root/aidx"),
      Ann.Probe(Ann.Batch(Seq(1L -> q1)), Ann.TopK(10), refine = Some(4)))
      .withColumn("rnk",
        org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .select("qid", "id", "rnk")
    val wantR = graft.llm.Retrieval.rrfFuseBatch(Seq(lex, semR), 5)
      .select("qid", "id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotR == wantR && gotR.nonEmpty,
      "refined hybrid serving must equal the refined direct composition")
    // --filter + --refine (r19): BOTH legs route to their filtered
    // probes, the semantic leg through the filtered-REFINED widening
    // loop — answers equal the filtered refined direct composition
    // (the predicate addresses `id`, which both index layouts carry)
    graft.cli.ServeHybridCli.run(spark, graft.cli.ServeHybridCli.parseArgs(
      Array("--bm25-index-dir", s"$root/bidx",
        "--ann-index-dir", s"$root/aidx", "--ann-method", "ivfpq",
        "--k", "5", "--refine", "4", "--filter", "@id < 300",
        "--queries-uri", qdir, "--output-uri", s"$root/answersFR",
        "--checkpoint", s"$root/ckptFR", "--once")))
    val gotFR = spark.read.json(s"$root/answersFR/batch-*").collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"),
        r.getAs[Long]("rnk"))).toSet
    val pred = graft.dfl.DflFrame.indexPredicate("@id < 300")
    val lexF = Retrieval.probe(Retrieval.Dir(spark, s"$root/bidx"),
        Retrieval.Probe(Retrieval.Batch(Seq(1L -> Seq("spark", "stream", "window"))),
          10, Some(pred)))
      .select("qid", "id", "rnk")
    val semFR = Ann.probe(Ann.Dir(spark, s"$root/aidx"),
      Ann.Probe(Ann.Batch(Seq(1L -> q1)), Ann.TopK(10), filter = Some(pred), refine = Some(4)))
      .withColumn("rnk",
        org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .select("qid", "id", "rnk")
    val wantFR = graft.llm.Retrieval.rrfFuseBatch(Seq(lexF, semFR), 5)
      .select("qid", "id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotFR == wantFR && gotFR.nonEmpty,
      "filtered refined hybrid serving must equal the direct composition")
    assert(gotFR.forall(_._2 < 300L), s"filter must hold: $gotFR")
    // refine over a codes-only index rejects at job construction
    val bareErr = intercept[IllegalArgumentException] {
      graft.cli.ServeHybridCli.run(spark, graft.cli.ServeHybridCli.parseArgs(
        Array("--bm25-index-dir", s"$root/bidx",
          "--ann-index-dir", s"$root/aidx", "--ann-method", "lsh",
          "--k", "5", "--refine", "4",
          "--queries-uri", qdir, "--output-uri", s"$root/answersX",
          "--checkpoint", s"$root/ckptX", "--once")))
    }
    assert(bareErr.getMessage.contains("only to ivfpq"), bareErr.getMessage)
  }

  test("ingest-bm25 job: bulk build + streaming appends serve the full corpus; relaunch is a no-op") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val root = Files.createTempDirectory("graft-bm25ingest").toString
    // bulk backfill: doc_id < 300; stream increments: one parquet file each
    docs.filter($"doc_id" < 300L).coalesce(1)
      .write.parquet(s"$root/backfill")
    val incDir = s"$root/inc"
    docs.filter($"doc_id" >= 300L && $"doc_id" < 400L).coalesce(1)
      .write.parquet(incDir)
    val idx = s"$root/idx"
    val cfg = graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", incDir, "--index-dir", idx, "--method", "bm25",
      "--id-col", "doc_id", "--text-col", "text",
      "--checkpoint", s"$root/ckpt", "--once",
      "--build-from", s"$root/backfill", "--compact-every", "1"))
    graft.cli.IngestCli.run(spark, cfg)
    val terms = Seq("spark", "stream", "window")
    def probe() = Retrieval.probe(Retrieval.Dir(spark, idx),
        Retrieval.Probe(Retrieval.One(terms), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct400 = Retrieval.probe(
      Retrieval.Scan(docs.filter($"doc_id" < 400L), "doc_id", "text"),
      Retrieval.Probe(Retrieval.One(terms), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe() == direct400,
      "backfill + streamed increment must serve exactly the 400-doc corpus")
    // relaunch with nothing new: committed files are not re-read, the
    // index is unchanged (a re-append would double postings)
    val postings = spark.read.parquet(s"$idx/postings").count()
    graft.cli.IngestCli.run(spark, cfg)
    assert(spark.read.parquet(s"$idx/postings").count() == postings)
    // a NEW increment file lands on the next --once drain
    docs.filter($"doc_id" >= 400L).coalesce(1)
      .write.mode("append").parquet(incDir)
    graft.cli.IngestCli.run(spark, cfg)
    val directAll = Retrieval.probe(Retrieval.Scan(docs, "doc_id", "text"),
      Retrieval.Probe(Retrieval.One(terms), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probe() == directAll,
      "the grown index must equal the full-corpus direct scan")
    // retrain-skew is an IVF knob: rejected for bm25, never ignored
    intercept[IllegalArgumentException](graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", incDir, "--index-dir", idx, "--method", "bm25",
      "--checkpoint", s"$root/ckpt", "--retrain-skew", "2.0")))
    // a META-carrying index keeps ingesting incrementally: the stream
    // schema is typed from the index's postings, so the lang column
    // flows through appends and the filtered probe serves the grown
    // corpus
    val mdocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    mdocs.filter($"doc_id" < 300L).coalesce(1).write.parquet(s"$root/mbf")
    val mInc = s"$root/minc"
    mdocs.filter($"doc_id" >= 300L).coalesce(1).write.parquet(mInc)
    graft.cli.IngestCli.run(spark, graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", mInc, "--index-dir", s"$root/midx", "--method", "bm25",
      "--id-col", "doc_id", "--text-col", "text",
      "--checkpoint", s"$root/mckpt", "--once",
      "--build-from", s"$root/mbf", "--build-meta", "lang")))
    val mProbe = Retrieval.probe(Retrieval.Dir(spark, s"$root/midx"),
        Retrieval.Probe(Retrieval.One(terms), 10, Some(col("lang") === "en")))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mWant = Retrieval.probe(Retrieval.Dir(spark, s"$root/midx"),
        Retrieval.Probe(Retrieval.One(terms), 100000)).select($"id", $"score")
      .join(mdocs.select($"doc_id".as("id"), $"lang"), Seq("id"))
      .filter($"lang" === "en")
      .orderBy($"score".desc, $"id".asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(mProbe == mWant && mProbe.nonEmpty,
      "meta must flow through streaming ingest into the filtered probe")
  }

  test("ingest-ann job: bulk build + streaming appends equal a full rebuild; relaunch is a no-op") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-ingestcli").toString
    // bulk backfill: rows < 300; stream increments: one parquet file each
    emb.filter($"vec_id" < 300L).coalesce(1)
      .write.parquet(s"$root/backfill")
    val streamDir = s"$root/stream"; new java.io.File(streamDir).mkdirs()
    def addIncrement(name: String, lo: Long, hi: Long): Unit = {
      val tmp = s"$root/.inc-$name"
      emb.filter($"vec_id" >= lo && $"vec_id" < hi).coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
    }
    addIncrement("f1", 300L, 400L)
    val cfg = graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", streamDir, "--corpus-format", "parquet",
      "--index-dir", s"$root/idx", "--method", "lsh",
      "--checkpoint", s"$root/ckpt", "--once",
      "--build-from", s"$root/backfill",
      "--build-nbits", "8", "--build-pbits", "4"))
    graft.cli.IngestCli.run(spark, cfg)
    // streaming appends are EXACT (lshAppend ≡ rebuild): probes equal a
    // one-shot full build over the same 400 rows
    val fullDir = s"$root/idx-full"
    graft.llm.Similarity.lshBuild(emb.filter($"vec_id" < 400L),
      "vec_id", "embedding", fullDir, nBits = 8, partitionBits = 4)
    def probe(idx: String, qid: Long) = {
      val q = emb.filter($"vec_id" === qid).select($"embedding").head()
        .getSeq[Float](0).map(_.toDouble)
      Ann.probe(Ann.Dir(spark, idx), Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(20)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(probe(s"$root/idx", 50L) == probe(fullDir, 50L))
    assert(probe(s"$root/idx", 350L) == probe(fullDir, 350L),
      "a query landing on APPENDED rows must match the full rebuild")
    // a second increment arrives while the job is down; the same
    // checkpoint resumes with only the new file
    addIncrement("f2", 400L, 500L)
    graft.cli.IngestCli.run(spark, cfg)
    assert(probe(s"$root/idx", 450L).head._1 == 450L,
      "rows from the second increment must be served after relaunch")
    def indexRows() = spark.read.parquet(s"$root/idx/vectors").count()
    val n = indexRows()
    assert(n == 500L, s"index must hold all 500 rows, got $n")
    // relaunch with nothing new: committed files are not re-appended
    graft.cli.IngestCli.run(spark, cfg)
    assert(indexRows() == 500L,
      "an idle relaunch must not re-append committed batches")
  }

  test("ingest-ann --compact-every: append growth is rewritten back to build shape mid-stream") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-ingestcompact").toString
    emb.filter($"vec_id" < 300L).coalesce(1).write.parquet(s"$root/backfill")
    val streamDir = s"$root/stream"; new java.io.File(streamDir).mkdirs()
    def addIncrement(name: String, lo: Long, hi: Long): Unit = {
      val tmp = s"$root/.inc-$name"
      emb.filter($"vec_id" >= lo && $"vec_id" < hi).coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
    }
    val cfg = graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", streamDir, "--corpus-format", "parquet",
      "--index-dir", s"$root/idx", "--method", "lsh",
      "--checkpoint", s"$root/ckpt", "--once", "--compact-every", "1",
      "--build-from", s"$root/backfill",
      "--build-nbits", "8", "--build-pbits", "4"))
    addIncrement("f1", 300L, 400L)
    // compact-every 1: EVERY append opens the maintenance slot — batch 0
    // included (the appends-since-slot cadence; the old batchId % n form
    // skipped the whole multiple-free prefix)
    graft.cli.IngestCli.run(spark, cfg) // batch 0: append, then compact
    val (_, maxGrown) = graft.llm.Similarity.indexFileStats(spark, s"$root/idx")
    assert(maxGrown == 1, s"n=1 must compact the very first append; " +
      s"worst partition has $maxGrown files")
    addIncrement("f2", 400L, 500L)
    graft.cli.IngestCli.run(spark, cfg) // batch 1: append, then compact
    // compaction ran: every pband partition is back to a single data
    // file (the build-shape layout at this corpus size)...
    val (_, maxPerPart) = graft.llm.Similarity.indexFileStats(spark, s"$root/idx")
    assert(maxPerPart == 1, s"expected compacted layout, worst partition " +
      s"still has $maxPerPart files")
    // ...and neither rows nor answers changed
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 500L)
    val q = emb.filter($"vec_id" === 450L).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    assert(Ann.probe(Ann.Dir(spark, s"$root/idx"),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(20))).collect().head.getLong(0) == 450L)
    // exactly-once holds across the rewrite: idle relaunch re-appends nothing
    graft.cli.IngestCli.run(spark, cfg)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 500L)
  }

  test("ingest-ann --compact-every counts APPENDS, durably across --once runs: the n-th append opens the slot") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-ingestcadence").toString
    emb.filter($"vec_id" < 200L).coalesce(1).write.parquet(s"$root/backfill")
    val streamDir = s"$root/stream"; new java.io.File(streamDir).mkdirs()
    def addIncrement(name: String, lo: Long, hi: Long): Unit = {
      val tmp = s"$root/.inc-$name"
      emb.filter($"vec_id" >= lo && $"vec_id" < hi).coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
    }
    val cfg = graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", streamDir, "--corpus-format", "parquet",
      "--index-dir", s"$root/idx", "--method", "lsh",
      "--checkpoint", s"$root/ckpt", "--once", "--compact-every", "2",
      "--build-from", s"$root/backfill",
      "--build-nbits", "8", "--build-pbits", "4"))
    // the cron shape: ONE append per --once run. The cadence must be
    // durable across runs (a per-job counter would reset to zero every
    // run and never compact) and fire on the SECOND append — the old
    // absolute batchId % 2 cadence only fired at batch 2, i.e. the third
    addIncrement("f1", 200L, 300L)
    graft.cli.IngestCli.run(spark, cfg) // append 1: no slot yet
    val (_, grownAfter1) =
      graft.llm.Similarity.indexFileStats(spark, s"$root/idx")
    assert(grownAfter1 > 1,
      "append 1 should have grown some partition past one file")
    addIncrement("f2", 300L, 400L)
    graft.cli.IngestCli.run(spark, cfg) // append 2: slot opens, compacts
    val (_, maxPerPart) =
      graft.llm.Similarity.indexFileStats(spark, s"$root/idx")
    assert(maxPerPart == 1, s"the 2nd append must open the maintenance " +
      s"slot across --once runs; worst partition still has $maxPerPart files")
    // rows and answers survive the rewrite
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 400L)
    val q = emb.filter($"vec_id" === 350L).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    assert(Ann.probe(Ann.Dir(spark, s"$root/idx"),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(20))).collect().head.getLong(0) == 350L)
    // an idle relaunch (EMPTY batch set) must not advance the cadence:
    // the durable counter is back at zero, so the NEXT append is 1-of-2
    graft.cli.IngestCli.run(spark, cfg)
    addIncrement("f3", 400L, 500L)
    graft.cli.IngestCli.run(spark, cfg) // append 1 of the next window
    val (_, grownAgain) =
      graft.llm.Similarity.indexFileStats(spark, s"$root/idx")
    assert(grownAgain > 1,
      "one append after a compaction must NOT open the slot under n=2")
  }

  test("ingest-ann --method ivfpq: frozen-codebook streaming appends serve the planted clique; relaunch is a no-op") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-ingestpq").toString
    // bulk backfill: rows < 300 (vec 0 — the query's original — included,
    // so centroids AND codebooks know its region)
    emb.filter($"vec_id" < 300L).coalesce(1).write.parquet(s"$root/backfill")
    val streamDir = s"$root/stream"; new java.io.File(streamDir).mkdirs()
    def addIncrement(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$root/.inc-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
    }
    // increment 1: natural rows; increment 2 (after a relaunch): the
    // planted clique — 10 bit-identical copies of vec 0's embedding,
    // which the FROZEN codebooks encode to vec 0's exact codes
    addIncrement("f1", emb.filter($"vec_id" >= 300L && $"vec_id" < 400L))
    val cfg = graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", streamDir, "--corpus-format", "parquet",
      "--index-dir", s"$root/idx", "--method", "ivfpq",
      "--checkpoint", s"$root/ckpt", "--once", "--compact-every", "1",
      "--build-from", s"$root/backfill",
      "--build-klists", "8", "--build-pq-m", "8", "--build-pq-k", "16"))
    graft.cli.IngestCli.run(spark, cfg)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 400L)
    val planted = emb.filter($"vec_id" === 0L)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select(($"r" + 100000L).as("vec_id"), $"embedding")
    addIncrement("f2", planted)
    graft.cli.IngestCli.run(spark, cfg)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 410L)
    // every appended clique row encodes to vec 0's codes and assigns to
    // its list: the rank-0 probe serves the whole clique exactly
    val q = emb.filter($"vec_id" === 0L).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val top = Ann.probe(Ann.Dir(spark, s"$root/idx"),
      Ann.Probe(Ann.One(q), Ann.TopK(11), tuning = Some(1)))
      .collect().map(_.getLong(0)).toSet
    assert(top == (Set(0L) ++ (1L to 10L).map(_ + 100000L)), s"clique: $top")
    // idle relaunch: committed files are not re-appended
    graft.cli.IngestCli.run(spark, cfg)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 410L)
    // the maintenance slot spoke "ivfpq": layout is back at build shape
    val (_, maxPerPart) =
      graft.llm.Similarity.indexFileStats(spark, s"$root/idx")
    assert(maxPerPart == 1,
      s"expected compacted ivfpq layout, worst partition has $maxPerPart files")
    // ...and the codebook sidecar still says residual after compaction
    assert(spark.read.parquet(s"$root/idx/codebooks")
      .select("enc").head().getString(0) == "res")
    // --retrain-skew against a SIDECAR-LESS ivfpq index: codes can't
    // re-encode themselves — rejected at JOB CONSTRUCTION with the
    // keepVectors advice, not hours in at the first skew firing
    val e = intercept[IllegalArgumentException](graft.cli.IngestCli.run(spark,
      graft.cli.IngestCli.parseArgs(Array(
        "--corpus-uri", streamDir, "--index-dir", s"$root/idx",
        "--method", "ivfpq", "--checkpoint", s"$root/ckpt-r",
        "--compact-every", "1", "--retrain-skew", "2.0"))))
    assert(e.getMessage.contains("keep-vectors"), e.getMessage)
  }

  test("ingest-ann --retrain-skew: the maintenance slot retrains a drifted ivf index in-stream") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-ingestretrain").toString
    emb.filter($"vec_id" < 300L).coalesce(1).write.parquet(s"$root/backfill")
    val streamDir = s"$root/stream"; new java.io.File(streamDir).mkdirs()
    // two drifted increments, clustered far from the build distribution
    def addDrifted(name: String, base: Long): Unit = {
      val tmp = s"$root/.inc-$name"
      spark.createDataFrame((0 until 50).map { i =>
        (base + i, Array.tabulate(64)(d =>
          if (d == 0) 10.0f else ((i * 13 + d) % 5 - 2) * 0.1f).toSeq)
      }).toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
    }
    val cfg = graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", streamDir, "--corpus-format", "parquet",
      "--index-dir", s"$root/idx", "--method", "ivf",
      "--checkpoint", s"$root/ckpt", "--once",
      "--compact-every", "1", "--retrain-skew", "2.0",
      "--build-from", s"$root/backfill"))
    addDrifted("f1", 1000L)
    graft.cli.IngestCli.run(spark, cfg) // batch 0: append only (no slot)
    val centroidsFrozen =
      graft.llm.Similarity.readCentroids(spark, s"$root/idx").map(_.toSeq).toSeq
    val skewDrifted = graft.llm.Similarity.ivfSkew(spark, s"$root/idx")
    assert(skewDrifted > 2.0, s"drifted increment should raise skew, got $skewDrifted")
    addDrifted("f2", 2000L)
    graft.cli.IngestCli.run(spark, cfg) // batch 1: append, slot -> retrain
    assert(graft.llm.Similarity.readCentroids(spark, s"$root/idx")
      .map(_.toSeq).toSeq != centroidsFrozen,
      "maintenance slot should have retrained the quantizer")
    assert(graft.llm.Similarity.ivfSkew(spark, s"$root/idx") < skewDrifted)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 400L)
    // exactly-once across the retrain: idle relaunch re-appends nothing
    graft.cli.IngestCli.run(spark, cfg)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 400L)
  }

  test("ingest-ann --retrain-skew over a keepVectors ivfpq index: the slot retrains codebooks from the sidecar") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = Files.createTempDirectory("graft-ingestpqretrain").toString
    emb.filter($"vec_id" < 300L).coalesce(1).write.parquet(s"$root/backfill")
    val streamDir = s"$root/stream"; new java.io.File(streamDir).mkdirs()
    def addDrifted(name: String, base: Long): Unit = {
      val tmp = s"$root/.inc-$name"
      spark.createDataFrame((0 until 50).map { i =>
        (base + i, Array.tabulate(64)(d =>
          if (d == 0) 10.0f else ((i * 13 + d) % 5 - 2) * 0.1f).toSeq)
      }).toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(s"$streamDir/$name.parquet"))
    }
    val cfg = graft.cli.IngestCli.parseArgs(Array(
      "--corpus-uri", streamDir, "--corpus-format", "parquet",
      "--index-dir", s"$root/idx", "--method", "ivfpq",
      "--checkpoint", s"$root/ckpt", "--once",
      "--compact-every", "1", "--retrain-skew", "2.0", "--keep-vectors",
      "--build-from", s"$root/backfill"))
    addDrifted("f1", 1000L)
    graft.cli.IngestCli.run(spark, cfg) // batch 0: append only (no slot)
    assert(graft.llm.Pq.hasVectorSidecar(spark, s"$root/idx"))
    val centroidsFrozen =
      graft.llm.Similarity.readCentroids(spark, s"$root/idx").map(_.toSeq).toSeq
    val booksFrozen = spark.read.parquet(s"$root/idx/codebooks")
      .collect().map(_.toSeq).toSet
    val skewDrifted = graft.llm.Similarity.ivfSkew(spark, s"$root/idx")
    assert(skewDrifted > 2.0, s"drifted increment should raise skew, got $skewDrifted")
    addDrifted("f2", 2000L)
    graft.cli.IngestCli.run(spark, cfg) // batch 1: append, slot -> retrain
    assert(graft.llm.Similarity.readCentroids(spark, s"$root/idx")
      .map(_.toSeq).toSeq != centroidsFrozen,
      "maintenance slot should have retrained the coarse quantizer")
    assert(spark.read.parquet(s"$root/idx/codebooks")
      .collect().map(_.toSeq).toSet != booksFrozen,
      "an ivfpq retrain must retrain the CODEBOOKS too (re-clustering " +
        "changes every residual)")
    assert(spark.read.parquet(s"$root/idx/codebooks")
      .select("enc").head().getString(0) == "res",
      "the declared encoding survives the retrain")
    assert(graft.llm.Similarity.ivfSkew(spark, s"$root/idx") < skewDrifted)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 400L)
    assert(spark.read
      .parquet(s"$root/idx/${graft.llm.Pq.vectorSidecarDir}").count() == 400L)
    // the retrained quantizer serves the drifted region exactly: probe
    // with a drifted-cluster query and expect drifted ids at the top
    val q = Array.tabulate(64)(d =>
      if (d == 0) 10.0 else ((13 + d) % 5 - 2) * 0.1).toSeq // i = 1
    val top = Ann.probe(Ann.Dir(spark, s"$root/idx"),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(2)))
      .collect().map(_.getLong(0)).toSet
    assert(top.forall(id => id >= 1000L),
      s"drifted-region query should serve drifted ids, got $top")
    // exactly-once across the retrain: idle relaunch re-appends nothing
    graft.cli.IngestCli.run(spark, cfg)
    assert(spark.read.parquet(s"$root/idx/vectors").count() == 400L)
    assert(spark.read
      .parquet(s"$root/idx/${graft.llm.Pq.vectorSidecarDir}").count() == 400L)
    // the maintenance telemetry recorded the cadence: with
    // compact-every=1 EVERY append opens the slot (the n-th append
    // fires at n=1), so both batches carry a full record — measured
    // skew, the action taken, and its cost: the numbers an operator
    // tunes the knobs from
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def rec(b: Int) = mapper.readTree(Files.readString(
      java.nio.file.Paths.get(s"$root/ckpt/maintenance/batch-$b.json")))
    val m0 = rec(0)
    assert(m0.get("slot_opened").asBoolean, m0.toString)
    assert(!m0.get("skew").isNull, m0.toString)
    assert(m0.get("append_ms").asLong >= 0, m0.toString)
    val m1 = rec(1)
    assert(m1.get("slot_opened").asBoolean, m1.toString)
    assert(m1.get("action").asText == "retrain", m1.toString)
    assert(!m1.get("skew").isNull && m1.get("skew").asDouble > 2.0, m1.toString)
    assert(m1.get("action_ms").asLong >= 0, m1.toString)
  }

  test("ingest-ann binds its corpus as a catalog datastore") {
    val root = Files.createTempDirectory("graft-ingestcat").toString
    val cat = new graft.catalog.Catalog
    cat.add(graft.catalog.Workspace("ws"))
    cat.add(graft.catalog.DataStore("ws", "corpus", s"'$root/inc'", format = "jsonl"))
    cat.save(s"$root/catalog.json")
    val c = graft.cli.IngestCli.resolve(graft.cli.IngestCli.parseArgs(Array(
      "--catalog", s"$root/catalog.json", "--corpus-datastore", "corpus",
      "--index-dir", s"$root/idx", "--checkpoint", s"$root/ckpt")))
    assert(c.corpusUri == s"$root/inc" && c.corpusFormat == "jsonl")
  }

  test("mapGroupsWithState running counts accumulate across batches") {
    val dir = Files.createTempDirectory("graft-rc").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.jsonl"),
      """{"k":"x"}
        |{"k":"x"}
        |{"k":"y"}""".stripMargin)
    val stream = StreamRunner.readStream(spark, dir, "jsonl")
    val out = StreamRunner.collectStream(
      StreamRunner.runningCounts(stream, "k"), "update")
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("x" -> 2L, "y" -> 1L))
  }

  test("ProcessCli batch run: csv in, dfl, collect out") {
    val dir = Files.createTempDirectory("graft-cli").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "name,qty\nalpha,5\nbeta,50\n")
    val cfg = graft.cli.ProcessCli.parseArgs(Array(
      "--input-uri", s"$dir/in.csv",
      "--dfl", "filter(@, '@qty > 10') | map(@, '@name')"))
    val out = graft.cli.ProcessCli.run(spark, cfg)
    assert(out.as[String].collect().toSeq == Seq("beta"))
  }

  test("ProcessCli dynamic output via DataStoreIO write") {
    val dir = Files.createTempDirectory("graft-cli2").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.jsonl"),
      """{"a":1,"b":"x"}
        |{"a":2,"b":"y"}""".stripMargin)
    val cfg = graft.cli.ProcessCli.parseArgs(Array(
      "--input-uri", s"$dir/in.jsonl",
      "--dfl", "filter(@, '@a > 1')",
      "--output-uri", s"$dir/out.jsonl"))
    val out = graft.cli.ProcessCli.run(spark, cfg)
    DataStoreIO.write(out, s"$dir/out.jsonl")
    assert(spark.read.json(s"$dir/out.jsonl").count() == 1)
  }
}
