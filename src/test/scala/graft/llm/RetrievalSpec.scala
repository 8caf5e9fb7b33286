package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.TestSpark

class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  // 3-doc corpus with hand-computable statistics:
  //   doc 1: "cat dog cat"   (dl 3)   doc 2: "dog fish" (dl 2)
  //   doc 3: "bird"          (dl 1)   → N = 3, avgdl = 2.0
  private def tiny = Seq(
    (1L, "cat dog cat"), (2L, "dog fish"), (3L, "bird"),
  ).toDF("doc_id", "text")

  private def scan(df: DataFrame): Retrieval.Source =
    Retrieval.Scan(df, "doc_id", "text")
  private def dir(d: String): Retrieval.Source = Retrieval.Dir(spark, d)
  private def one(src: Retrieval.Source, terms: Seq[String], k: Int,
                  filter: Option[Column] = None): DataFrame =
    Retrieval.probe(src, Retrieval.Probe(Retrieval.One(terms), k, filter))
  private def batch(src: Retrieval.Source, qs: Seq[(Long, Seq[String])],
                    k: Int, filter: Option[Column] = None): DataFrame =
    Retrieval.probe(src, Retrieval.Probe(Retrieval.Batch(qs), k, filter))

  private def bm25Contribution(tf: Double, df: Double, n: Double, dl: Double,
                               avgdl: Double, k1: Double = 1.2,
                               b: Double = 0.75): Double = {
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (dl / avgdl)))
  }

  test("bm25 probe matches the hand-computed formula exactly") {
    val got = one(scan(tiny), Seq("cat", "dog"), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // doc 1: cat tf=2 df=1, dog tf=1 df=2; doc 2: dog tf=1 df=2
    def s(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = s(bm25Contribution(2, 1, 3, 3, 2.0) + bm25Contribution(1, 2, 3, 3, 2.0))
    val d2 = s(bm25Contribution(1, 2, 3, 2, 2.0))
    assert(got.toSeq == Seq((1L, d1, 1L), (2L, d2, 2L)),
      s"got ${got.toSeq}, want hand-computed ($d1, $d2)")
  }

  test("bm25 probe: absent terms score nothing; k caps; matches-only rows") {
    assert(one(scan(tiny), Seq("absent"), 5).collect().isEmpty)
    val capped = one(scan(tiny), Seq("cat", "dog", "fish", "bird"), 2).collect()
    assert(capped.length == 2)
    // doc 3 matches only "bird": still present when k allows
    val all = one(scan(tiny), Seq("cat", "dog", "fish", "bird"), 10).collect()
    assert(all.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("bm25 probe: duplicate query terms do not double-count") {
    val once = one(scan(tiny), Seq("dog"), 3).collect()
    val twice = one(scan(tiny), Seq("dog", "dog"), 3).collect()
    assert(once.map(_.getDouble(1)).toSeq == twice.map(_.getDouble(1)).toSeq)
  }

  test("bm25 parity: every Source × {One, Batch} × {filter, none} cell equals the Scan answer") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25par").toString
    docs.select($"doc_id", $"text", $"lang").write.parquet(s"$root/corpus")
    val corpus = spark.read.parquet(s"$root/corpus")
    val idxDir = s"$root/idx"
    Retrieval.bm25Build(corpus, "doc_id", "text", idxDir, pbands = 16,
      metaCols = Seq("lang"))
    val qs = Seq(1L -> Seq("spark", "window"), 2L -> Seq("merge", "sort"),
      3L -> Seq("stream", "stream", "window"))
    val pred = col("lang") === "en"
    val en = corpus.filter(pred).select("doc_id").as[Long].collect().toSet
    val k = 5
    // the reference: the unfiltered Scan ranking of EVERY matching doc;
    // a filtered cell is filter∘rank over it (corpus-global scores)
    def want(terms: Seq[String], filtered: Boolean): Seq[(Long, Double, Long)] =
      one(scan(corpus), terms, 100000).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .filter(x => !filtered || en(x._1)).take(k).toSeq
        .zipWithIndex.map { case ((id, sc), i) => (id, sc, i + 1L) }
    val sources = Seq("Scan" -> scan(corpus), "Dir" -> dir(idxDir),
      "Cached" -> Retrieval.Cached(corpus, "doc_id", "text",
        s"bm25parity-$root", pbands = 16, metaCols = Seq("lang")))
    for ((name, src) <- sources; filtered <- Seq(false, true)) {
      val f = if (filtered) Some(pred) else None
      val gotB = batch(src, qs, k, f).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .groupBy(_._1)
      qs.foreach { case (qid, terms) =>
        val w = want(terms, filtered)
        assert(w.nonEmpty, s"qid $qid matches nothing")
        val gotOne = one(src, terms, k, f).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        assert(gotOne == w, s"$name One filtered=$filtered qid $qid")
        assert(gotB(qid).sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq == w,
          s"$name Batch filtered=$filtered qid $qid")
      }
    }
  }

  test("rrfFuse matches the hand-computed reciprocal-rank sum") {
    val runA = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rnk")
    val runB = Seq((20L, 1L), (40L, 2L)).toDF("id", "rnk")
    val got = Retrieval.rrfFuse(Seq(runA, runB), k = 4, c = 60)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def s(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Seq(
      (20L, s(1.0 / 62 + 1.0 / 61), 1L), // in both runs → fused to the top
      (10L, s(1.0 / 61), 2L),
      (40L, s(1.0 / 62), 3L),
      (30L, s(1.0 / 63), 4L))
    assert(got.toSeq == want, s"got ${got.toSeq}")
  }

  test("rrfFuse tie order is (score desc, id asc)") {
    val runA = Seq((5L, 1L), (3L, 2L)).toDF("id", "rnk")
    val runB = Seq((9L, 1L), (7L, 2L)).toDF("id", "rnk")
    val got = Retrieval.rrfFuse(Seq(runA, runB), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((5L, 1L), (9L, 2L), (3L, 3L), (7L, 4L)))
  }

  test("bm25 plan: bounded-heap ranking (no row_number), no cartesian") {
    val plan = one(scan(docs), Seq("spark", "window"), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("topk_by_score"), "top-k must be the heap aggregate")
    // the only window is the df count on tf's term exchange — ranking
    // itself never goes through a row_number window
    assert(!plan.contains("row_number"), "ranks come from the heap")
    assert(!plan.contains("CartesianProduct"), "scalar stats must broadcast")
  }

  test("bm25 index: probe equals direct scan; posting reads are partition-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString + "/idx"
    Retrieval.bm25Build(docs, "doc_id", "text", dir, pbands = 16)
    Seq(Seq("spark", "window"), Seq("merge", "sort", "stream")).foreach { terms =>
      val direct = one(scan(docs), terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      val probed = one(this.dir(dir), terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(probed == direct, s"terms $terms: index diverges from scan")
    }
    // the postings scan prunes to the query terms' hash bands
    val plan = one(this.dir(dir), Seq("spark"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pband"),
      s"expected pband partition pruning in:\n$plan")
    // rebuild over a live dir is the staged-commit path: still correct
    Retrieval.bm25Build(docs.limit(100), "doc_id", "text", dir, pbands = 16)
    val small = one(this.dir(dir), Seq("spark"), 5).collect()
    val smallDirect = one(scan(docs.limit(100)), Seq("spark"), 5).collect()
    assert(small.map(_.getLong(0)).toSeq == smallDirect.map(_.getLong(0)).toSeq)
  }

  test("bm25 indexed batch: every slice equals the direct batch scan, one pruned read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25idxb").toString + "/idx"
    Retrieval.bm25Build(docs, "doc_id", "text", dir, pbands = 16)
    val qs = Seq(1L -> Seq("spark", "window"), 2L -> Seq("merge", "stream"))
    val direct = batch(scan(docs), qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val probed = batch(this.dir(dir), qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(probed == direct && probed.nonEmpty)
    // still pruned to the union terms' bands
    val plan = batch(this.dir(dir), qs, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pband"))
    intercept[IllegalArgumentException] {
      batch(this.dir(dir), Seq(1L -> Seq.empty), 5)
    }
  }

  // ---- BM25 index append / compact / GC lifecycle ----

  private def touch(p: String): Unit = {
    new java.io.File(p).getParentFile.mkdirs()
    new java.io.File(p).createNewFile(); ()
  }

  private def statsTriple(dir: String): (Double, Double, Long) = {
    val sdf = spark.read.parquet(s"$dir/stats")
    val r = sdf.head()
    val fi = sdf.schema.fieldIndex _
    (r.getDouble(fi("n")), r.getDouble(fi("avgdl")), r.getLong(fi("sum_dl")))
  }

  test("bm25 append: prefix build + append == full-corpus scan; stats merge additively; replay is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25app").toString
    val dir = s"$root/idx"
    val cut = 300L
    Retrieval.bm25Build(docs.filter($"doc_id" < cut), "doc_id", "text", dir,
      pbands = 16)
    // file-backed increment → deterministic batch id → replay fence
    docs.filter($"doc_id" >= cut).select($"doc_id", $"text")
      .write.parquet(s"$root/inc")
    val inc = spark.read.parquet(s"$root/inc")
    Retrieval.bm25Append(inc, "doc_id", "text", dir)
    // stats now describe the FULL corpus (n, sum_dl additive; avgdl derived)
    val (n, avgdl, sumDl) = statsTriple(dir)
    assert(n == docs.count().toDouble)
    assert(avgdl == sumDl.toDouble / n)
    // probes are value-identical to the full-corpus direct scan
    Seq(Seq("spark", "window"), Seq("merge", "sort", "stream")).foreach { terms =>
      val direct = one(scan(docs), terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      val probed = one(this.dir(dir), terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(probed == direct, s"terms $terms: appended index diverges")
    }
    // the retry shape: the SAME file-backed batch appended again — the
    // durable postings/_append-<id> fence makes it a no-op
    val postingsBefore = spark.read.parquet(s"$dir/postings").count()
    Retrieval.bm25Append(inc, "doc_id", "text", dir)
    assert(spark.read.parquet(s"$dir/postings").count() == postingsBefore)
    assert(statsTriple(dir) == ((n, avgdl, sumDl)))
  }

  test("bm25 append crash windows: stranded staging is healed once; applied marker stops a double stats-merge") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25crash").toString
    val dir = s"$root/idx"
    Retrieval.bm25Build(docs.limit(100), "doc_id", "text", dir, pbands = 8)
    val (n0, _, sum0) = statsTriple(dir)
    // WINDOW 1 — a crashed append that committed its staging
    // (_COMMITTING durable, no fence): nothing moved, stats not merged.
    // The next entry must heal it exactly once.
    val id = "deadbeef00000001"
    Seq((5L, 10L)).toDF("n_delta", "sum_dl_delta")
      .coalesce(1).write.parquet(s"$dir/.append-$id/stats_delta")
    touch(s"$dir/.append-$id/_COMMITTING")
    // an unrelated empty append triggers healStrandedAppends
    val empty = docs.filter($"doc_id" < 0).select($"doc_id", $"text")
    Retrieval.bm25Append(empty, "doc_id", "text", dir, appendId = Some("e1"))
    assert(statsTriple(dir)._1 == n0 + 5 && statsTriple(dir)._3 == sum0 + 10,
      "stranded staged append was not healed")
    assert(new java.io.File(s"$dir/postings/_append-$id").exists(),
      "healed append must leave its replay fence")
    assert(!new java.io.File(s"$dir/.append-$id").exists())
    // a replay of the healed batch is a no-op (fence)
    Seq((5L, 10L)).toDF("n_delta", "sum_dl_delta")
      .coalesce(1).write.parquet(s"$dir/.append-$id/stats_delta")
    touch(s"$dir/.append-$id/_COMMITTING")
    Retrieval.bm25Append(empty, "doc_id", "text", dir, appendId = Some("e2"))
    assert(statsTriple(dir)._1 == n0 + 5, "fenced replay re-merged stats")
    // WINDOW 2 — crash AFTER the stats merge, BEFORE the fence: the
    // in-dir _applied-<id> marker must stop a second merge on resume
    val id2 = "deadbeef00000002"
    Seq((7L, 14L)).toDF("n_delta", "sum_dl_delta")
      .coalesce(1).write.parquet(s"$dir/.append-$id2/stats_delta")
    touch(s"$dir/.append-$id2/_COMMITTING")
    touch(s"$dir/stats/_applied-$id2") // "merge already happened"
    Retrieval.bm25Append(empty, "doc_id", "text", dir, appendId = Some("e3"))
    assert(statsTriple(dir)._1 == n0 + 5,
      "resume after a completed stats merge must not re-apply the delta")
    assert(new java.io.File(s"$dir/postings/_append-$id2").exists())
  }

  test("bm25Compact: fewer df rows, probe-for-probe identical, replay fences survive") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25cmp").toString
    val dir = s"$root/idx"
    Retrieval.bm25Build(docs.filter($"doc_id" < 200), "doc_id", "text", dir,
      pbands = 8)
    docs.filter($"doc_id" >= 200 && $"doc_id" < 400).select($"doc_id", $"text")
      .write.parquet(s"$root/incA")
    docs.filter($"doc_id" >= 400).select($"doc_id", $"text")
      .write.parquet(s"$root/incB")
    val incA = spark.read.parquet(s"$root/incA")
    Retrieval.bm25Append(incA, "doc_id", "text", dir)
    Retrieval.bm25Append(spark.read.parquet(s"$root/incB"), "doc_id", "text", dir)
    assert(Retrieval.bm25CompactionDue(spark, dir))
    val terms = Seq("spark", "merge", "window")
    val before = one(this.dir(dir), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // df carries one delta row per (term, band) per batch before compaction
    val dfRowsBefore = spark.read.parquet(s"$dir/df").count()
    val dfTermsBefore = spark.read.parquet(s"$dir/df")
      .select($"w").distinct().count()
    assert(dfRowsBefore > dfTermsBefore, "appends should land df delta rows")
    val st = Retrieval.bm25Compact(spark, dir)
    assert(st.filesAfter <= st.filesBefore)
    // df merged back to one row per (term, band)
    assert(spark.read.parquet(s"$dir/df").count() == dfTermsBefore)
    val after = one(this.dir(dir), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == before, "compaction changed probe answers")
    // fences carried: a replay of an already-ingested batch is a no-op
    val postingsCount = spark.read.parquet(s"$dir/postings").count()
    Retrieval.bm25Append(incA, "doc_id", "text", dir)
    assert(spark.read.parquet(s"$dir/postings").count() == postingsCount,
      "replayed append double-appended after compaction")
    // and the full direct scan still agrees
    val direct = one(scan(docs), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == direct)
  }

  test("legacy stats (no sum_dl): probes still serve, appends reject loudly") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25leg").toString
    val dir = s"$root/idx"
    Retrieval.bm25Build(docs.limit(200), "doc_id", "text", dir, pbands = 8)
    // rewrite stats into the r14 (n, avgdl, pbands) shape
    val legacy = spark.read.parquet(s"$dir/stats")
      .select($"n", $"avgdl", $"pbands").collect().head
    spark.createDataFrame(
        java.util.Arrays.asList(legacy),
        org.apache.spark.sql.types.StructType(
          spark.read.parquet(s"$dir/stats")
            .select($"n", $"avgdl", $"pbands").schema))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/legstats")
    rmrfLocal(s"$dir/stats")
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/legstats"),
      java.nio.file.Paths.get(s"$dir/stats"))
    val probed = one(this.dir(dir), Seq("spark"), 5)
      .collect().map(_.getLong(0)).toSeq
    val direct = one(scan(docs.limit(200)), Seq("spark"), 5)
      .collect().map(_.getLong(0)).toSeq
    assert(probed == direct, "legacy-format index must still serve")
    val ex = intercept[IllegalArgumentException] {
      Retrieval.bm25Append(docs.limit(10), "doc_id", "text", dir)
    }
    assert(ex.getMessage.contains("sum_dl"))
  }

  private def rmrfLocal(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmrfLocal(c.getPath))
    f.delete(); ()
  }

  test("bm25 Cached source: build-once lifecycle appends on pure file growth and matches the direct scan") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25cache").toString
    docs.filter($"doc_id" < 300).select($"doc_id", $"text")
      .write.parquet(s"$root/corpus")
    val key = s"bm25cache-$root"
    def corpus = spark.read.parquet(s"$root/corpus")
    def cached = Retrieval.Cached(corpus, "doc_id", "text", key, pbands = 8)
    val r1 = one(cached, Seq("spark", "window"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val d1 = one(scan(corpus), Seq("spark", "window"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(r1 == d1)
    // grow the corpus by file addition → the cached lifecycle appends
    docs.filter($"doc_id" >= 300 && $"doc_id" < 330).select($"doc_id", $"text")
      .write.mode("append").parquet(s"$root/corpus")
    val r2 = one(cached, Seq("spark", "window"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val d2 = one(scan(corpus), Seq("spark", "window"), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(r2 == d2, "cached index stale after corpus file growth")
  }

  test("a fresh build is already at build shape (clusteredWrite layout): compaction not due") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25shape")
      .toString + "/idx"
    Retrieval.bm25Build(docs, "doc_id", "text", dir, pbands = 16)
    // shuffle partitions 32 / pbands 16 → saltN 2: the clustered write
    // must land ≤ 2 files per band, so a never-appended index never
    // trips the ingest job's maintenance slot
    assert(!Retrieval.bm25CompactionDue(spark, dir),
      "fresh build must not be compaction-due (tiny-file explosion?)")
    val (_, maxPerPart) = Similarity.indexFileStats(spark, dir, "postings")
    assert(maxPerPart <= 2, s"build shape: worst band has $maxPerPart files")
  }

  test("stats sidecar crash window self-heals: staged merge restored before any read") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25heal").toString
    val dir = s"$root/idx"
    Retrieval.bm25Build(docs.limit(200), "doc_id", "text", dir, pbands = 8)
    val expect = one(this.dir(dir), Seq("spark"), 5)
      .collect().map(_.getLong(0)).toSeq
    // simulate replaceSidecar's loss window: the fully-written merged
    // sidecar sits at .stats.staging, the live dir is gone
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/stats"),
      java.nio.file.Paths.get(s"$dir/.stats.staging"))
    assert(!new java.io.File(s"$dir/stats").exists())
    // a probe heals and serves (fresh session-state: bust the memo by
    // touching the postings listing? — the stamp covers stats, which
    // just vanished, so the memo invalidates on its own)
    val healed = one(this.dir(dir), Seq("spark"), 5)
      .collect().map(_.getLong(0)).toSeq
    assert(healed == expect && new java.io.File(s"$dir/stats").exists(),
      "stats must be restored from the staged copy and serve identically")
    // appends work after the heal too
    docs.filter($"doc_id" >= 200 && $"doc_id" < 210)
      .select($"doc_id", $"text").write.parquet(s"$root/inc")
    Retrieval.bm25Append(spark.read.parquet(s"$root/inc"), "doc_id", "text", dir)
    val (n, _, _) = statsTriple(dir)
    assert(n == 210.0)
  }

  test("filtered indexed BM25: corpus-global scores, predicate-restricted candidates; meta survives append+compact") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25flt").toString
    val dir = s"$root/idx"
    val terms = Seq("spark", "stream", "window")
    Retrieval.bm25Build(docs.filter($"doc_id" < 300), "doc_id", "text", dir,
      pbands = 16, metaCols = Seq("lang"))
    docs.filter($"doc_id" >= 300).select($"doc_id", $"text", $"lang")
      .write.parquet(s"$root/inc")
    // the appended increment carries the index's meta automatically
    Retrieval.bm25Append(spark.read.parquet(s"$root/inc"), "doc_id", "text", dir)
    // expectation = filter ∘ rank over the FULL scored set: every
    // matching doc's unfiltered score, langs joined, 'en' only, top 10
    val full = one(this.dir(dir), terms, 100000)
      .select($"id", $"score")
      .join(docs.select($"doc_id".as("id"), $"lang"), Seq("id"))
      .filter($"lang" === "en")
      .orderBy($"score".desc, $"id".asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def probeF() = one(this.dir(dir), terms, 10, Some(col("lang") === "en"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(probeF() == full && full.nonEmpty,
      "filtered probe must equal filter-then-rank over unfiltered scores")
    // survivors' scores are bit-identical to their unfiltered scores
    val unfiltered = one(this.dir(dir), terms, 1000)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    probeF().foreach { case (id, s) => assert(unfiltered(id) == s) }
    // batch slice ≡ single filtered probe
    val batchF = batch(this.dir(dir), Seq(1L -> terms), 10,
        Some(col("lang") === "en"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batchF == probeF())
    // compaction preserves the metadata columns and the answers
    Retrieval.bm25Compact(spark, dir)
    assert(probeF() == full, "filtered answers changed across compaction")
    // an increment MISSING the index's meta column fails loudly
    docs.filter($"doc_id" < 5).select($"doc_id", $"text")
      .write.parquet(s"$root/bad")
    intercept[org.apache.spark.sql.AnalysisException] {
      Retrieval.bm25Append(spark.read.parquet(s"$root/bad"),
        "doc_id", "text", dir)
    }
    // collisions rejected at build — both the stored layout AND the
    // probe-time plumbing names ('df'/'qid' joins, 'n'/'avgdl' scalars)
    Seq("tf", "df", "qid", "avgdl").foreach { bad =>
      intercept[IllegalArgumentException] {
        Retrieval.bm25Build(docs, "doc_id", "text", s"$root/x-$bad",
          metaCols = Seq(bad))
      }
    }
    // a duplicated qid would double-count scores: rejected, never served
    intercept[IllegalArgumentException] {
      batch(this.dir(dir), Seq(1L -> Seq("spark"), 1L -> Seq("spark")), 5)
    }
    intercept[IllegalArgumentException] {
      batch(scan(docs), Seq(1L -> Seq("spark"), 1L -> Seq("merge")), 5)
    }
  }

  test("bm25 filtered Scan: corpus-global stats, predicate before ranking — equals the filtered index probe") {
    val terms = Seq("spark", "stream", "window")
    val pred = col("lang") === "en"
    val direct = one(scan(docs), terms, 10, Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // the filtered INDEX probe is the already-oracle-checked semantics
    // (corpus-global scores, predicate-restricted candidates) — the
    // direct scan must agree row for row
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-bm25fdir").toString + "/idx"
    Retrieval.bm25Build(docs, "doc_id", "text", idxDir, pbands = 16,
      metaCols = Seq("lang"))
    val indexed = one(dir(idxDir), terms, 10, Some(pred))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(direct == indexed && direct.nonEmpty)
    // scores are the UNFILTERED corpus's (global df/N/avgdl): every
    // served (id, score) appears in the unfiltered ranking's scores
    val unfScores = one(scan(docs), terms, 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(direct.forall { case (id, s, _) => unfScores(id) == s },
      "filtered candidates must keep their corpus-global scores")
    // and only pred rows rank
    val enIds = docs.filter(pred).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(direct.map(_._1).forall(enIds))
  }

  test("rrfFuseBatch: every qid's slice equals the single-query rrfFuse") {
    val runs1 = Seq(
      Seq((1L, 1L), (2L, 2L), (3L, 3L)),
      Seq((2L, 1L), (4L, 2L)))
    val runs2 = Seq(
      Seq((9L, 1L), (2L, 2L)),
      Seq((9L, 1L), (3L, 2L), (1L, 3L)))
    def df(rows: Seq[(Long, Long)]) = rows.toDF("id", "rnk")
    def bdf(qid: Long, rows: Seq[(Long, Long)]) =
      rows.map { case (id, r) => (qid, id, r) }.toDF("qid", "id", "rnk")
    val batch = Retrieval.rrfFuseBatch(
        Seq(bdf(1L, runs1(0)).unionByName(bdf(2L, runs2(0))),
          bdf(1L, runs1(1)).unionByName(bdf(2L, runs2(1)))), 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3, t._4)).toSet).toMap
    val single1 = Retrieval.rrfFuse(Seq(df(runs1(0)), df(runs1(1))), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val single2 = Retrieval.rrfFuse(Seq(df(runs2(0)), df(runs2(1))), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(batch(1L) == single1 && batch(2L) == single2)
  }

  test("driver-side termBand equals the build's pmod(xxhash64) column for arbitrary terms") {
    val terms = Seq("spark", "window", "ȿpecial-ünicode", "", "a b",
      "##marker", "</w>", "x" * 300) ++
      (1 to 50).map(i => s"term$i")
    Seq(8, 16, 64).foreach { pbands =>
      val viaSpark = terms.toDF("w")
        .select(col("w"),
          pmod(xxhash64(col("w")), lit(pbands.toLong)).cast("int").as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      terms.foreach { w =>
        assert(Retrieval.termBand(w, pbands) == viaSpark(w),
          s"termBand('$w', $pbands) diverges from the build hash")
      }
    }
  }

  /** Probes every source must refuse: empty queries and batches, a
    * query without terms, k ≤ 0, duplicate qids, k1 < 0, b outside
    * [0, 1] and NaN knobs. */
  private val badProbes: Seq[Retrieval.Probe] = {
    import Retrieval.{Batch, One, Probe}
    val q = One(Seq("cat"))
    Seq(Probe(One(Nil), 5), Probe(q, 0), Probe(q, -1),
      Probe(Batch(Nil), 5), Probe(Batch(Seq(1L -> Nil)), 5),
      Probe(Batch(Seq(1L -> Seq("cat"), 1L -> Seq("dog"))), 5),
      Probe(q, 5, k1 = -0.1), Probe(q, 5, k1 = Double.NaN),
      Probe(q, 5, b = -0.1), Probe(q, 5, b = 1.5), Probe(q, 5, b = Double.NaN))
  }

  /** `tiny` as a file-backed corpus under a fresh root (the Cached shape). */
  private def tinyOnDisk(tag: String): (String, DataFrame) = {
    val root = java.nio.file.Files.createTempDirectory(tag).toString
    tiny.write.parquet(s"$root/corpus")
    (root, spark.read.parquet(s"$root/corpus"))
  }

  test("bm25 rejects bad arguments") {
    val (root, corpus) = tinyOnDisk("graft-bm25bad")
    Retrieval.bm25Build(tiny, "doc_id", "text", s"$root/idx", pbands = 4)
    val sources = Seq(scan(tiny), dir(s"$root/idx"),
      Retrieval.Cached(corpus, "doc_id", "text", s"bm25bad-$root", pbands = 4))
    for (src <- sources; p <- badProbes)
      intercept[IllegalArgumentException](Retrieval.probe(src, p))
    intercept[IllegalArgumentException] {
      Retrieval.rrfFuse(Seq.empty, 5)
    }
  }

  test("a Cached probe with bad arguments creates no index dir") {
    val (root, corpus) = tinyOnDisk("graft-bm25nobuild")
    val base = new java.io.File(s"$root/base")
    base.mkdirs()
    spark.conf.set("graft.ivf.indexBase", base.toString)
    try {
      val cached = Retrieval.Cached(corpus, "doc_id", "text",
        s"bm25nobuild-$root", pbands = 4)
      badProbes.foreach { p =>
        intercept[IllegalArgumentException](Retrieval.probe(cached, p))
      }
      // so does a predicate over a column no metaCols carry into the
      // postings — it could never be served from the built layout
      intercept[IllegalArgumentException](
        one(cached, Seq("cat"), 5, Some(col("text") === "bird")))
      assert(base.list().isEmpty, s"index dirs built: ${base.list().toSeq}")
      // a good probe builds its one stamp dir there
      assert(one(cached, Seq("cat"), 5).count() == 1)
      assert(base.list().count(_.startsWith("idx-")) == 1)
    } finally spark.conf.unset("graft.ivf.indexBase")
  }

  test("k1 and b out of range are rejected") {
    // b = 2 drives the length norm 1 − b + b·dl/avgdl negative for
    // short docs (dl/avgdl < 1/2), and to zero at dl/avgdl = 1/12 —
    // an infinite score at k1 = 1.2
    Seq((-0.5, 0.75, "k1 must be >= 0, got -0.5"),
      (1.2, 2.0, "b must be in [0, 1], got 2.0"),
      (1.2, -0.25, "b must be in [0, 1], got -0.25")).foreach {
      case (k1, b, msg) =>
        val e = intercept[IllegalArgumentException](Retrieval.probe(scan(tiny),
          Retrieval.Probe(Retrieval.One(Seq("cat", "dog")), 3, k1 = k1, b = b)))
        assert(e.getMessage.contains(msg), e.getMessage)
    }
    // the range ends themselves serve finite scores
    Seq((0.0, 0.0), (0.0, 1.0), (1.2, 1.0), (3.0, 0.0)).foreach { case (k1, b) =>
      val got = Retrieval.probe(scan(tiny),
          Retrieval.Probe(Retrieval.One(Seq("cat", "dog")), 3, k1 = k1, b = b))
        .collect().map(_.getDouble(1))
      assert(got.length == 2 && got.forall(s => s >= 0 && !s.isInfinite),
        s"k1 $k1 b $b: ${got.toSeq}")
    }
  }

  test("the bm25 ensure refuses an ANN dir and leaves it intact") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm25ens").toString
    val lshDir = s"$root/lsh"
    Ann.ensure(spark, lshDir, s"$sf/embeddings.parquet", "vec_id", "embedding",
      Ann.Build("lsh", nBits = 8, partitionBits = 4))
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    def answer() = Ann.probe(Ann.Dir(spark, lshDir),
        Ann.Probe(Ann.One(q), Ann.TopK(5)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val before = answer()
    val e = intercept[IllegalArgumentException](Retrieval.ensure(spark, lshDir,
      s"$sf/documents.parquet", "doc_id", "text"))
    assert(e.getMessage.contains("'lsh'") && e.getMessage.contains("'bm25'"),
      e.getMessage)
    assert(Similarity.indexKind(spark, lshDir) == Some("lsh"))
    assert(answer() == before && before.nonEmpty)
    // probing it as a bm25 dir is Rejected, naming the kind
    val r = intercept[Retrieval.Rejected](one(dir(lshDir), Seq("spark"), 5))
    assert(r.kind == Some("lsh") && r.getMessage.contains("'lsh'"))
    assert(intercept[Retrieval.Rejected](
      one(dir(s"$root/none"), Seq("spark"), 5)).kind.isEmpty)
    // a missing dir bootstraps; a built bm25 dir is served as-is
    val bmDir = s"$root/bm"
    Retrieval.ensure(spark, bmDir, s"$sf/documents.parquet", "doc_id", "text",
      pbands = 8)
    assert(Similarity.indexKind(spark, bmDir) == Some("bm25"))
    val statsFiles = new java.io.File(s"$bmDir/stats").list().toSet
    Retrieval.ensure(spark, bmDir, s"$sf/documents.parquet", "doc_id", "text",
      pbands = 8)
    assert(new java.io.File(s"$bmDir/stats").list().toSet == statsFiles)
  }

  // ---- TREC-style run evaluation ----

  test("evalRun matches hand-computed recall/precision/MRR/nDCG; edge shapes covered") {
    def s6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // qid 1: judged {10:rel3, 20:rel1, 30:rel2}; run ranks 20@1, 99@2, 10@3
    //   hits=2, recall=2/3, precision@4=2/4, rr=1 (first hit at rank 1)
    //   dcg  = (2^1−1)/log2(2) + (2^3−1)/log2(4) = 1 + 3.5 = 4.5
    //   idcg = rel order (3,2,1): 7/1 + 3/log2(3) + 1/2
    // qid 2: judged {40:rel1}; run has only misses → all zeros except n
    // qid 3: judged {50:rel1}; run NEVER answered it → zeros row
    // qid 9 in the run has no judgments → ignored entirely
    val run = Seq(
      (1L, 20L, 1L), (1L, 99L, 2L), (1L, 10L, 3L),
      (2L, 77L, 1L),
      (9L, 10L, 1L)).toDF("qid", "id", "rnk")
    val qrels = Seq(
      (1L, 10L, 3), (1L, 20L, 1), (1L, 30L, 2),
      (1L, 60L, 0), // rel <= 0 is non-relevant: dropped from n_rel/idcg
      (2L, 40L, 1), (3L, 50L, 1)).toDF("qid", "id", "rel")
    val got = Retrieval.evalRun(run, qrels, k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getDouble(7),
          r.getDouble(8))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "judged queries are the spine")
    val idcg1 = 7.0 + 3.0 / (math.log(3.0) / math.log(2.0)) + 1.0 / 2.0
    val dcg1 = 1.0 + 3.5
    // AP: hits at ranks 1 and 3 → (P@1 + P@3)/n_rel = (1 + 2/3)/3
    val ap1 = s6((1.0 + 2.0 / 3.0) / 3.0)
    assert(got(1L) ==
      ((3L, 3L, 2L, s6(2.0 / 3), 0.5, 1.0, ap1, s6(dcg1 / idcg1))))
    assert(got(2L) == ((1L, 1L, 0L, 0.0, 0.0, 0.0, 0.0, 0.0)))
    assert(got(3L) == ((1L, 0L, 0L, 0.0, 0.0, 0.0, 0.0, 0.0)))
    // binary default when the rel column is absent
    val binQ = Seq((1L, 10L), (1L, 30L)).toDF("qid", "id")
    val bin = Retrieval.evalRun(run, binQ, k = 4).collect().head
    assert(bin.getDouble(4) == 0.5 && bin.getDouble(6) == s6(1.0 / 3.0),
      "absent rel column = binary judgments; rr from first binary hit")
    // its AP: one hit at rank 3 → (1/3)/2
    assert(bin.getDouble(7) == s6(1.0 / 6.0))
    // k truncates the run BEFORE anything is measured
    val k1 = Retrieval.evalRun(run, qrels, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(k1(1L) == 1L && k1(2L) == 0L)
    intercept[IllegalArgumentException](Retrieval.evalRun(run, qrels, 0))
    // the macro row is the mean of the per-query metrics, zeros included
    val macroRow = Retrieval.evalRunMacro(run, qrels, k = 4).collect().head
    assert(macroRow.getLong(0) == 3L)
    assert(macroRow.getDouble(3) == s6(1.0 / 3.0), "MRR = mean of rr")
    assert(macroRow.getDouble(4) == s6(ap1 / 3.0), "MAP = mean of ap")
    assert(macroRow.getDouble(5) == s6(s6(dcg1 / idcg1) / 3.0),
      "mean nDCG averages the per-query (rounded) values")
    // duplicates never inflate metrics past 1.0 (the trec_eval posture):
    // a repeated judgment counts once at its highest grade, a doc
    // retrieved at two ranks counts once at its best rank
    val dupRun = run.unionByName(Seq((1L, 10L, 4L)).toDF("qid", "id", "rnk"))
    val dupQ = qrels.unionByName(Seq((1L, 10L, 1)).toDF("qid", "id", "rel"))
    val dd = Retrieval.evalRun(dupRun, dupQ, k = 4)
      .filter($"qid" === 1L).collect().head
    assert(dd.getLong(1) == 3L && dd.getLong(3) == 2L,
      s"dedup: n_rel=${dd.getLong(1)}, hits=${dd.getLong(3)}")
    assert(dd.getDouble(4) <= 1.0 && dd.getDouble(8) <= 1.0)
    assert(dd.getDouble(8) == got(1L)._8 && dd.getDouble(7) == got(1L)._7,
      "dedup'd duplicates must reproduce the clean metrics")
    // DFL stage == API on the same frames; fenced; arity rejected
    val dfl = graft.dfl.DflFrame.pipeline(run,
        "rankEval(@, '@qid', '@id', '@rnk', $qrels, 4)",
        Map[String, Any]("qrels" -> qrels))
      .collect().map(r => r.getLong(0) -> r.getDouble(8)).toMap
    assert(dfl(1L) == s6(dcg1 / idcg1))
    intercept[graft.dfl.DflParseException](graft.dfl.DflFrame.pipeline(run,
      "rankEval(@, '@qid', '@id', '@rnk', $qrels)",
      Map[String, Any]("qrels" -> qrels)))
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        "rankEval(@, '@qid', '@id', '@rnk', $q, 4)"))
  }

  // ---- MMR diversified re-ranking ----

  // candidates: 1 and 2 are near-duplicates (same direction), 3 is
  // orthogonal with lower relevance. cos(1,2)=1.0, cos(1,3)=cos(2,3)=0.
  private def mmrCands = Seq(
    (1L, 0.9, Seq(1.0, 0.0)), (2L, 0.8, Seq(2.0, 0.0)),
    (3L, 0.5, Seq(0.0, 1.0)),
  ).toDF("id", "score", "vec")

  test("MMR trades relevance for diversity: the orthogonal doc outranks the near-duplicate") {
    val out = Retrieval.mmrRerank(mmrCands, "id", "score", "vec",
      k = 3, lambda = 0.7)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    // pick 1: id 1 (mmr 0.7·0.9 = 0.63)
    // pick 2: id 2 mmr = 0.56 − 0.3·1.0 = 0.26; id 3 mmr = 0.35 − 0 = 0.35 → 3
    // pick 3: id 2 (penalty max(cos to 1, cos to 3) = 1.0) mmr 0.26
    assert(out.toSeq == Seq((1L, 0.63, 1L), (3L, 0.35, 2L), (2L, 0.26, 3L)))
  }

  test("lambda = 1 is pure relevance order; fewer candidates than k returns all") {
    val out = Retrieval.mmrRerank(mmrCands, "id", "score", "vec",
      k = 10, lambda = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("batch MMR: each qid's greedy pass is independent; null vec rows are skipped") {
    val cands = Seq(
      (10L, 1L, 0.9, Seq(1.0, 0.0)), (10L, 2L, 0.8, Seq(1.0, 0.0)),
      (10L, 3L, 0.5, Seq(0.0, 1.0)),
      (20L, 7L, 0.4, Seq(1.0, 1.0)), (20L, 8L, 0.3, null),
    ).toDF("qid", "id", "score", "vec")
    val out = Retrieval.mmrRerankBatch(cands, "qid", "id", "score", "vec",
      k = 2, lambda = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(out == Set((10L, 1L, 1L), (10L, 3L, 2L), (20L, 7L, 1L)))
  }

  test("maxCandidates hard-caps the buffer by (score desc, id asc) before the greedy") {
    val many = (1L to 50L).map(i => (i, 1.0 - i * 0.01,
      Seq(i.toDouble, 1.0))).toDF("id", "score", "vec")
    // cap 5 → only ids 1-5 survive the cut; k=5 picks among them
    val out = Retrieval.mmrRerank(many, "id", "score", "vec",
      k = 5, lambda = 0.9, maxCandidates = 5)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L, 3L, 4L, 5L))
    intercept[IllegalArgumentException] {
      graft.functions.MmrSelectAgg(null, null, null, k = 10, lambda = 0.5,
        maxCandidates = 5)
    }
  }

  test("MMR buffer survives serialization mid-aggregation (partials merge)") {
    val buf = new graft.functions.MmrBuffer(8)
    buf.offer(1L, 0.9, Array(1.0, 0.0))
    val back = graft.functions.MmrBuffer.deserialize(buf.serialized)
    back.offer(3L, 0.5, Array(0.0, 1.0))
    back.offer(2L, 0.8, Array(2.0, 0.0))
    val picks = back.select(3, 0.7)
    assert(picks.map(_._1) == Seq(1L, 3L, 2L))
  }
}
