package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.dfl.DflFrame
import graft.io.{DataStoreIO, FormatInfer}
import graft.streaming.StreamRunner
import graft.util.Sessions

/** `process` command: read → DFL pipeline → write. The Spark-native
  * mirror of the reference CLI (reference: cli/process.go:519-945):
  * flags → read with inferred format/compression → compiled DFL plan →
  * sink. `--stream` switches the same plan onto Structured Streaming
  * (reference: cli/process.go:656; see [[graft.streaming.StreamRunner]]).
  *
  * Usage:
  *   runMain graft.cli.ProcessCli
  *     --input-uri F [--input-format f] [--input-header a,b,c]
  *     [--input-comment '#'] [--input-skip N] [--input-limit N]
  *     [--dfl EXPR | --dfl-uri FILE] [--var k=v]... [--dataset-var k=URI]...
  *     [--output-uri F|-] [--output-format f] [--output-limit N]
  *     [--output-cluster-by c1,c2 | --output-zorder-by c1,c2 [--output-files N]]
  *     [--output-compression gzip|bzip2] [--output-mode overwrite|append]
  *     [--error-uri F] [--stream]
  *     [--stream-decontam-bench F [--stream-decontam-text col]
  *      [--stream-decontam-n N]]
  *     [--stream-sessions "key=K;ts=T;gap=G;watermark=W;value=V"]
  *     [--stream-dsir "model=URI;min=X[;id=COL][;text=COL][;buckets=B][;seed=S]"]
  *     [--stream-cdc-ref "ref=URI[;text=COL][;refText=COL][;max=N]"]
  *     [--stream-line-ref "ref=URI[;text=COL][;refText=COL][;sep=S]"]
  */
object ProcessCli {

  final case class Config(
      inputUri: String = "",
      inputFormat: String = "",
      inputHeader: Option[Seq[String]] = None,
      inputComment: Option[Char] = None,
      inputSkip: Int = 0,
      inputLimit: Option[Int] = None,
      dfl: String = "",
      vars: Map[String, Any] = Map.empty,
      outputUri: String = "-",
      outputFormat: String = "",
      outputCompression: String = "",
      outputMode: String = "overwrite",
      outputLimit: Option[Int] = None,
      errorUri: String = "",
      stream: Boolean = false,
      streamDecontamBench: String = "",
      streamDecontamText: String = "text",
      streamDecontamN: Int = 8,
      streamSessions: String = "",
      streamDsir: String = "",
      streamCdcRef: String = "",
      streamLineRef: String = "",
      datasetVars: Map[String, String] = Map.empty,
      outputClusterBy: String = "",
      outputZorderBy: String = "",
      outputFiles: Int = 8,
  )

  /** Parse `--stream-sessions "key=u;ts=ts;gap=30 minutes;watermark=10
    * minutes;value=v"` (order-free `;`-separated pairs; gap/watermark are
    * Spark interval strings, so they may contain spaces). */
  private[cli] def parseDsirSpec(s: String): Map[String, String] = {
    val m = s.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val j = kv.indexOf('=')
      require(j > 0, s"--stream-dsir: malformed pair '$kv'")
      kv.take(j).trim -> kv.drop(j + 1).trim
    }.toMap
    val missing = Seq("model", "min").filterNot(m.contains)
    require(missing.isEmpty, s"--stream-dsir: missing ${missing.mkString(", ")}")
    m
  }

  private[cli] def parseCdcSpec(s: String): Map[String, String] = {
    val m = s.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val j = kv.indexOf('=')
      require(j > 0, s"--stream-cdc-ref: malformed pair '$kv'")
      kv.take(j).trim -> kv.drop(j + 1).trim
    }.toMap
    require(m.contains("ref"), "--stream-cdc-ref: missing ref")
    m
  }

  private[cli] def parseLineRefSpec(s: String): Map[String, String] = {
    val m = s.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val j = kv.indexOf('=')
      require(j > 0, s"--stream-line-ref: malformed pair '$kv'")
      kv.take(j).trim -> kv.drop(j + 1).trim
    }.toMap
    require(m.contains("ref"), "--stream-line-ref: missing ref")
    m
  }

  private[cli] def parseSessionSpec(s: String): Map[String, String] = {
    val m = s.split(';').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
      val j = kv.indexOf('=')
      require(j > 0, s"--stream-sessions: malformed pair '$kv'")
      kv.take(j).trim -> kv.drop(j + 1).trim
    }.toMap
    val missing = Seq("key", "ts", "gap", "watermark", "value").filterNot(m.contains)
    require(missing.isEmpty,
      s"--stream-sessions: missing ${missing.mkString(", ")}")
    m
  }

  def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) {
      a.flag() match {
        case "--input-uri"     => c = c.copy(inputUri = a.value())
        case "--input-format"  => c = c.copy(inputFormat = a.value())
        case "--input-header"  => c = c.copy(inputHeader = Some(a.value().split(',').toSeq))
        case "--input-comment" =>
          val v = a.value()
          if (v.isEmpty)
            throw new IllegalArgumentException(
              "--input-comment needs a non-empty character")
          c = c.copy(inputComment = Some(v.head))
        case "--input-skip"    => c = c.copy(inputSkip = a.int())
        case "--input-limit"   => c = c.copy(inputLimit = Some(a.int()))
        case "--dfl"           => c = c.copy(dfl = a.value())
        case "--dfl-uri"       => c = c.copy(dfl = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(a.value()))))
        case "--var" =>
          val kv = a.value(); val j = kv.indexOf('=')
          c = c.copy(vars = c.vars + (kv.take(j) -> graft.io.TextFormats.parseScalar(kv.drop(j + 1))))
        // a SECOND table bound as a DFL dataset $var (dedupAgainst's
        // reference snapshot, decontam's benchmark, diff's old snapshot,
        // asof's right side): the URI is read with the same
        // format-inference path as --input-uri
        case "--dataset-var" =>
          val kv = a.value(); val j = kv.indexOf('=')
          require(j > 0, s"--dataset-var: expected k=URI, got '$kv'")
          c = c.copy(datasetVars = c.datasetVars + (kv.take(j) -> kv.drop(j + 1)))
        case "--output-uri"    => c = c.copy(outputUri = a.value())
        case "--output-cluster-by" => c = c.copy(outputClusterBy = a.value())
        case "--output-zorder-by"  => c = c.copy(outputZorderBy = a.value())
        case "--output-files"      => c = c.copy(outputFiles = a.int())
        case "--output-format" => c = c.copy(outputFormat = a.value())
        case "--output-limit"       => c = c.copy(outputLimit = Some(a.int()))
        case "--output-compression" => c = c.copy(outputCompression = a.value())
        case "--output-mode"        => c = c.copy(outputMode = a.value())
        case "--error-uri"          => c = c.copy(errorUri = a.value())
        case "--stream"        => c = c.copy(stream = true)
        // streaming decontamination: drop records sharing an n-gram with
        // the (batch-read) benchmark BEFORE the DFL stages — the
        // conservative bloom filter, stateless per record
        case "--stream-decontam-bench" =>
          c = c.copy(streamDecontamBench = a.value())
        case "--stream-decontam-text" =>
          c = c.copy(streamDecontamText = a.value())
        case "--stream-decontam-n" =>
          c = c.copy(streamDecontamN = a.int())
        // streaming sessionization AFTER the DFL stages: event-time
        // session windows with watermark-bounded state (the streaming
        // twin of the batch `sessionize(@, …)` stage, which is fenced
        // out of stream mode)
        case "--stream-sessions" =>
          val v = a.value(); parseSessionSpec(v) // validate eagerly
          c = c.copy(streamSessions = v)
        // streaming DSIR filter BEFORE the DFL stages: score each row
        // against a frozen batch-trained fit table (model=URI of the
        // (b, lr) parquet/jsonl sidecar) and keep rows >= min — the
        // serve-side of the batch dsir stage, which is fenced out of
        // stream mode
        case "--stream-dsir" =>
          val v = a.value(); parseDsirSpec(v) // validate eagerly
          c = c.copy(streamDsir = v)
        // streaming CDC ingest dedup BEFORE the DFL stages: drop rows
        // sharing content-defined chunks with a (batch-read) retained
        // corpus — the edit-robust conservative bloom filter
        case "--stream-cdc-ref" =>
          val v = a.value(); parseCdcSpec(v) // validate eagerly
          c = c.copy(streamCdcRef = v)
        // line-level boilerplate scrub vs a (batch-read) retained corpus
        case "--stream-line-ref" =>
          val v = a.value(); parseLineRefSpec(v) // validate eagerly
          c = c.copy(streamLineRef = v)
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(c.inputUri.nonEmpty, "--input-uri is required")
    require(c.streamDecontamBench.isEmpty || c.stream,
      "--stream-decontam-bench requires --stream (batch pipelines use " +
        "the exact decontam(@, …) DFL stage instead)")
    require(c.streamSessions.isEmpty || c.stream,
      "--stream-sessions requires --stream (batch pipelines use the " +
        "sessionize(@, …) DFL stage instead)")
    require(c.streamDsir.isEmpty || c.stream,
      "--stream-dsir requires --stream (batch pipelines use the " +
        "dsir(@, …) / dsirScore(@, …) DFL stages instead)")
    require(c.streamCdcRef.isEmpty || c.stream,
      "--stream-cdc-ref requires --stream (batch pipelines use the " +
        "cdcPairs(@, …) DFL stage instead)")
    require(c.streamLineRef.isEmpty || c.stream,
      "--stream-line-ref requires --stream (batch pipelines use the " +
        "lineDedup(@, …) DFL stage instead)")
    c
  }

  /** `-` input: spool stdin to a temp file so the regular reader (and its
    * format/compression options) applies (reference: cli/process.go:617 —
    * `stdin` is one of the input schemes). `--input-format` is required
    * since there is no extension to infer from. */
  private def spoolStdin(c: Config): Config = {
    require(c.inputFormat.nonEmpty, "--input-format is required with stdin input")
    val tmp = java.nio.file.Files.createTempFile("graft-stdin", "." + c.inputFormat)
    java.nio.file.Files.copy(System.in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    c.copy(inputUri = tmp.toString)
  }

  def run(spark: SparkSession, c: Config): DataFrame = {
    if (c.stream) {
      val fmt = if (c.inputFormat.nonEmpty) c.inputFormat
        else FormatInfer.split(c.inputUri).format
      val preDecontam: DataFrame => DataFrame =
        if (c.streamDecontamBench.isEmpty) identity
        else { s =>
          val bench = DataStoreIO.read(spark, c.streamDecontamBench,
            DataStoreIO.ReadOptions())
          StreamRunner.streamingContamFilter(s, c.streamDecontamText,
            bench, c.streamDecontamText, c.streamDecontamN)
        }
      val preDsir: DataFrame => DataFrame =
        if (c.streamDsir.isEmpty) identity
        else { s =>
          val spec = parseDsirSpec(c.streamDsir)
          val model = DataStoreIO.read(spark, spec("model"),
            DataStoreIO.ReadOptions())
          StreamRunner.streamingDsirFilter(s,
            spec.getOrElse("id", "id"), spec.getOrElse("text", "text"),
            model, spec("min").toDouble,
            spec.getOrElse("buckets", "1024").toInt,
            spec.getOrElse("seed", "7").toLong)
        }
      val preCdc: DataFrame => DataFrame =
        if (c.streamCdcRef.isEmpty) identity
        else { s =>
          val spec = parseCdcSpec(c.streamCdcRef)
          val ref = DataStoreIO.read(spark, spec("ref"),
            DataStoreIO.ReadOptions())
          StreamRunner.streamingCdcDedupAgainst(s,
            spec.getOrElse("text", "text"), ref,
            spec.getOrElse("refText", spec.getOrElse("text", "text")),
            spec.getOrElse("max", "0").toInt)
        }
      val preLine: DataFrame => DataFrame =
        if (c.streamLineRef.isEmpty) identity
        else { s =>
          val spec = parseLineRefSpec(c.streamLineRef)
          val ref = DataStoreIO.read(spark, spec("ref"),
            DataStoreIO.ReadOptions())
          StreamRunner.streamingLineScrubAgainst(s,
            spec.getOrElse("text", "text"), ref,
            spec.getOrElse("refText", spec.getOrElse("text", "text")),
            spec.getOrElse("sep", "\n"))
        }
      val pre: DataFrame => DataFrame =
        preDecontam.andThen(preCdc).andThen(preLine).andThen(preDsir)
      val post: DataFrame => DataFrame =
        if (c.streamSessions.isEmpty) identity
        else { s =>
          val spec = parseSessionSpec(c.streamSessions)
          StreamRunner.streamingSessions(
            s.withColumn(spec("ts"),
              org.apache.spark.sql.functions.col(spec("ts")).cast("timestamp")),
            spec("key"), spec("ts"), spec("gap"), spec("watermark"),
            spec("value"))
        }
      StreamRunner.runOnce(spark, c.inputUri, fmt, c.dfl, c.vars, pre, post)
    } else {
      val df = DataStoreIO.read(spark, c.inputUri, DataStoreIO.ReadOptions(
        format = c.inputFormat, header = c.inputHeader,
        comment = c.inputComment, skipLines = c.inputSkip, limit = c.inputLimit))
      val dsVars: Map[String, Any] = c.datasetVars.map { case (k, spec) =>
        k -> DataStoreIO.readSpec(spark, spec)
      }
      if (c.dfl.trim.nonEmpty) DflFrame.pipeline(df, c.dfl, c.vars ++ dsVars)
      else df
    }
  }

  def main(args: Array[String]): Unit = {
    val c0 = parseArgs(args)
    val c = if (c0.inputUri == "-" || c0.inputUri == "stdin") spoolStdin(c0) else c0
    val spark = Sessions.create("graft-process", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val out = run(spark, c)
      val limited0 = c.outputLimit.fold(out)(out.limit)
      // data-skipping layout: range-cluster on the hot filter columns
      // before the sink (io.Layout) so readers prune files by min/max
      val limited =
        if (c.outputZorderBy.nonEmpty) graft.io.Layout.zOrderBy(limited0,
          c.outputZorderBy.split(',').map(_.trim).toSeq, c.outputFiles)
        else if (c.outputClusterBy.isEmpty) limited0
        else graft.io.Layout.clusterBy(limited0,
          c.outputClusterBy.split(',').map(_.trim).toSeq, c.outputFiles)
      if (c.outputUri == "-" || c.outputUri == "stdout") {
        limited.toJSON.collect().foreach(println)
      } else if (c.outputUri.contains("@")) {
        // record-dependent output URI (reference: cli/process.go:231-235 +
        // examples/geonames.sh:49): the DFL expression becomes a path
        // column and the write fans out distributed via partitionBy
        import org.apache.spark.sql.functions.regexp_replace
        val pathCol = regexp_replace(
          DflFrame.predicate(limited, c.outputUri, c.vars).cast("string"),
          "^/+", "")
        graft.io.DynamicSink.writeByComputedPath(limited, pathCol, "/",
          format = if (c.outputFormat.nonEmpty) c.outputFormat else "jsonl",
          mergeShards = true, compression = c.outputCompression)
      } else {
        DataStoreIO.write(limited, c.outputUri,
          DataStoreIO.WriteOptions(format = c.outputFormat,
            compression = c.outputCompression, mode = c.outputMode))
      }
      // per-record error side channel (reference: cli/process.go:167-189)
      if (c.errorUri.nonEmpty && !c.stream && c.dfl.trim.nonEmpty) {
        val in = DataStoreIO.read(spark, c.inputUri, DataStoreIO.ReadOptions(
          format = c.inputFormat, header = c.inputHeader,
          comment = c.inputComment, skipLines = c.inputSkip, limit = c.inputLimit))
        DataStoreIO.write(DflFrame.droppedRows(in, c.dfl, c.vars), c.errorUri)
      }
    } finally spark.stop()
  }
}
