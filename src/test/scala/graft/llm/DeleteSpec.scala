package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The id-DELETE lifecycle verb across the ANN + BM25 families:
  * tombstone sidecar via the staged-append discipline, probe-time
  * anti-join at the meta chokepoints, additive subtraction of the
  * BM25 statistics, physical drop + tombstone clear at compaction and
  * retrain, and the crash/replay windows. */
class DeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select($"vec_id", $"embedding")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString + "/idx"

  private def qVec(qid: Long): Seq[Double] =
    emb.filter($"vec_id" === qid).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("ivf delete: tombstoned ids vanish from every probe shape; double-delete is a counted no-op") {
    val dir = tmp("ivfdel")
    val corpus = emb.filter($"vec_id" < 400)
    Similarity.ivfBuild(corpus, "vec_id", "embedding", dir, kLists = 4)
    val q = qVec(0)
    val before = ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(4))))
    assert(before.contains(0L), "query-self must be its own nearest")
    val victims = (before - 0L).take(3).toSeq
    assert(Similarity.annDelete(spark, dir, victims) == victims.size)
    // every probe shape reads through ivfMeta — all must exclude them
    val topk = ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(4))))
    assert(victims.forall(v => !topk.contains(v)), s"leaked into topk: $topk")
    val rng = ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.Range(-0.9), tuning = Some(4))))
    assert(victims.forall(v => !rng.contains(v)), "leaked into range")
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(Seq((7L, q))), Ann.TopK(10), tuning = Some(4)))
    assert(victims.forall(v => !batch.collect().map(_.getLong(1)).contains(v)),
      "leaked into batch")
    val filtered = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), filter = Some(col("id") >= 0L), tuning = Some(4)))
    assert(victims.forall(v =>
      !filtered.collect().map(_.getLong(0)).contains(v)), "leaked into filtered")
    // the top-k equals brute force over the SURVIVING corpus at full width
    val surv = corpus.filter(!$"vec_id".isin(victims: _*))
    val brute = Similarity.bruteForceTopK(surv, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(4)))) == brute)
    // repeated and overlapping deletes never double-apply
    assert(Similarity.annDelete(spark, dir, victims) == 0L)
    assert(Similarity.annDelete(spark, dir, victims :+ 399L) == 1L)
    // absent ids tombstone harmlessly
    assert(Similarity.annDelete(spark, dir, Seq(999999L)) == 1L)
    assert(ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(4)))) == brute)
  }

  test("lsh delete: occupancy histogram subtracts exactly (the additive sidecar's negative leg)") {
    val dir = tmp("lshdel")
    val corpus = emb.filter($"vec_id" < 300)
    Similarity.lshBuild(corpus, "vec_id", "embedding", dir,
      nBits = 8, dim = 64, partitionBits = 4)
    def occTotal(): Long = spark.read.parquet(s"$dir/occupancy")
      .agg(sum("count")).head().getLong(0)
    val n0 = occTotal()
    assert(n0 == 300L)
    assert(Similarity.annDelete(spark, dir, Seq(5L, 6L, 7L)) == 3L)
    assert(occTotal() == 297L, "occupancy must subtract the deleted rows")
    // and the probe no longer returns them
    val got = ids(Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(qVec(5)), Ann.TopK(10))))
    assert(!got.contains(5L) && !got.contains(6L) && !got.contains(7L))
    // a delete of ids NOT in the index subtracts nothing
    assert(Similarity.annDelete(spark, dir, Seq(888888L)) == 1L)
    assert(occTotal() == 297L)
  }

  test("compactIndex physically drops tombstoned rows, clears the sidecar, keeps probes identical") {
    val dir = tmp("compdel")
    val corpus = emb.filter($"vec_id" < 300)
    Similarity.lshBuild(corpus, "vec_id", "embedding", dir,
      nBits = 8, dim = 64, partitionBits = 4)
    Similarity.annDelete(spark, dir, Seq(3L, 4L, 5L))
    val q = qVec(0)
    val before = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val st = Ann.compact(spark, dir)
    assert(st.tombstonesCleared == 3L)
    assert(!new java.io.File(s"$dir/tombstones").exists(),
      "compaction must clear the tombstone sidecar")
    val raw = spark.read.parquet(s"$dir/vectors")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(raw.size == 297 && !raw.contains(3L) && !raw.contains(4L),
      "tombstoned rows must be physically gone after compaction")
    assert(Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == before,
      "probe answers changed across the physical drop")
    // occupancy recount over the survivors agrees with the live rows
    assert(spark.read.parquet(s"$dir/occupancy")
      .agg(sum("count")).head().getLong(0) == 297L)
    // a compaction with no tombstones reports zero cleared
    assert(Ann.compact(spark, dir).tombstonesCleared == 0L)
  }

  test("re-issued delete after compact+re-append takes effect (del fences do not outlive their tombstones)") {
    // the round-20 ADVICE-high repro: delete → compact (clears
    // tombstones) → legitimately re-append the ids → re-issue the SAME
    // id set. The identical order-insensitive fence id used to hit the
    // carried _append-del-* marker, turning the second delete into a
    // silent no-op that still reported its ids newly tombstoned — the
    // re-appended victims kept serving. carryAppendFences now drops del
    // fences at every tombstone-clearing rewrite.
    val dir = tmp("redel")
    val corpus = emb.filter($"vec_id" < 300)
    Similarity.lshBuild(corpus, "vec_id", "embedding", dir,
      nBits = 8, dim = 64, partitionBits = 4)
    val victims = Seq(5L, 6L, 7L)
    assert(Similarity.annDelete(spark, dir, victims) == 3L)
    Ann.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // the documented supported sequence: re-append after the clear
    Ann.append(corpus.filter($"vec_id".isin(victims: _*)),
      "vec_id", "embedding", dir)
    assert(ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(qVec(5)), Ann.TopK(10)))).contains(5L),
      "re-appended row must serve again")
    // the same takedown re-issued (idempotent GDPR pipeline shape)
    assert(Similarity.annDelete(spark, dir, victims) == 3L)
    val got = ids(Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(qVec(5)), Ann.TopK(10))))
    assert(victims.forall(v => !got.contains(v)),
      s"re-issued delete must tombstone the re-appended ids, got $got")
  }

  test("ivf retrain drops tombstoned rows and clears the sidecar") {
    val dir = tmp("retraindel")
    Similarity.ivfBuild(emb.filter($"vec_id" < 300), "vec_id", "embedding",
      dir, kLists = 4)
    Similarity.annDelete(spark, dir, Seq(10L, 11L))
    Ann.retrain(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val raw = spark.read.parquet(s"$dir/vectors")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(raw.size == 298 && !raw.contains(10L) && !raw.contains(11L))
  }

  test("ivfpq delete: codes can't nominate deleted ids; refined rerank and compaction agree") {
    val dir = tmp("pqdel")
    // planted clique (the oracle rows' construction): 10 copies of
    // query-0's embedding at ids 1000…1009 — identical codes share the
    // query's rank-0 list and top the ADC nomination, so the refined
    // top-k over the survivors is closed-form (approximate ADC recall
    // on a NATURAL corpus is not, which is why this test plants)
    val base = emb.filter($"vec_id" < 400)
    val planted = base.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select(($"r" + 1000L).as("vec_id"), $"embedding")
    val corpus = base.unionByName(planted)
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", dir,
      kLists = 4, m = 8, k = 16, keepVectors = true)
    val q = qVec(0)
    val victims = Seq(1001L, 1003L, 1005L, 1007L, 1009L, 17L)
    assert(Similarity.annDelete(spark, dir, victims) == victims.size)
    val expected = Set(0L, 1002L, 1004L, 1006L, 1008L, 1010L)
    val refined = ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(4), refine = Some(4))))
    assert(refined == expected,
      s"refined top-6 over survivors must be the clique remnant: $refined")
    val plain = ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(4))))
    assert(victims.forall(v => !plain.contains(v)), "leaked into ADC topk")
    // compaction drops the rows from BOTH the codes and the float sidecar
    val st = Ann.compact(spark, dir)
    assert(st.tombstonesCleared == victims.size.toLong)
    val rawCodes = spark.read.parquet(s"$dir/vectors")
      .select("id").collect().map(_.getLong(0)).toSet
    val rawF32 = spark.read.parquet(s"$dir/${Pq.vectorSidecarDir}")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !rawCodes.contains(v) && !rawF32.contains(v)),
      "compaction left tombstoned rows in codes or sidecar")
    assert(ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(4), refine = Some(4)))) == expected,
      "refined answers changed across the physical drop")
  }

  test("stranded delete staging heals through the shared append walk") {
    val dir = tmp("healdel")
    Similarity.ivfBuild(emb.filter($"vec_id" < 200), "vec_id", "embedding",
      dir, kLists = 4)
    // simulate a delete that crashed AFTER its staging committed
    // (_COMMITTING present, no vectors/_append marker): the next verb's
    // heal must finish it — tombstones applied, marker written
    val staging = s"$dir/.append-del-crashed"
    Seq(5L).toDF("id").coalesce(1).write.parquet(s"$staging/tombstones")
    new java.io.File(staging, "_COMMITTING").createNewFile()
    assert(Similarity.annDelete(spark, dir, Seq(9L)) == 1L)
    assert(!new java.io.File(staging).exists(), "stranded staging not swept")
    assert(new java.io.File(s"$dir/vectors/_append-del-crashed").exists(),
      "healed delete must leave its replay fence")
    val got = ids(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(qVec(5)), Ann.TopK(10), tuning = Some(4))))
    assert(!got.contains(5L) && !got.contains(9L),
      s"both the healed and the live delete must filter: $got")
  }

  test("bm25 delete: scores bit-identical to a fresh build over the survivors") {
    val dir = tmp("bmdel")
    val freshDir = tmp("bmfresh")
    // plant postings-INVISIBLE docs (empty and null text): they count
    // in the stats n at build but emit zero postings rows, so only the
    // empty-docs sidecar lets a delete subtract them — without it every
    // post-delete idf/avgdl would read a stale n (the corner a
    // postings-derived subtraction alone cannot see)
    val planted = Seq((9001L, ""), (9002L, null.asInstanceOf[String]),
      (9003L, "   ")).toDF("doc_id", "text")
    val corpus = docs.select($"doc_id", $"text").filter($"doc_id" < 400)
      .unionByName(planted)
    // victims include one empty doc and one null doc alongside real ones
    val victims = corpus
      .filter($"doc_id" % 7 === 2 || $"doc_id" === 9001L || $"doc_id" === 9002L)
      .select("doc_id")
    Retrieval.bm25Build(corpus, "doc_id", "text", dir)
    val nVictims = victims.count()
    assert(nVictims > 0)
    assert(Retrieval.bm25Delete(victims, "doc_id", dir) == nVictims)
    Retrieval.bm25Build(
      corpus.filter($"doc_id" % 7 =!= 2 &&
        $"doc_id" =!= 9001L && $"doc_id" =!= 9002L),
      "doc_id", "text", freshDir)
    val terms = Seq("spark", "stream", "window")
    def run(d: String) = Retrieval.probe(Retrieval.Dir(spark, d),
      Retrieval.Probe(Retrieval.One(terms), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(run(dir) == run(freshDir),
      "post-delete scores must equal a fresh build over the survivors")
    // stats subtracted integer-exactly
    val st = spark.read.parquet(s"$dir/stats").head()
    val fr = spark.read.parquet(s"$freshDir/stats").head()
    val fi = spark.read.parquet(s"$dir/stats").schema.fieldIndex _
    assert(st.getDouble(fi("n")) == fr.getDouble(fi("n")))
    assert(st.getLong(fi("sum_dl")) == fr.getLong(fi("sum_dl")))
    assert(st.getDouble(fi("avgdl")) == fr.getDouble(fi("avgdl")))
    // a REPEATED delete of the same set subtracts nothing
    assert(Retrieval.bm25Delete(victims, "doc_id", dir) == 0L)
    assert(spark.read.parquet(s"$dir/stats").head()
      .getLong(fi("sum_dl")) == fr.getLong(fi("sum_dl")),
      "double delete double-subtracted the stats")
    assert(run(dir) == run(freshDir))
  }

  test("bm25 delete on a pre-sidecar (legacy) index degrades gracefully") {
    val dir = tmp("bmlegacy")
    val corpus = docs.select($"doc_id", $"text").filter($"doc_id" < 200)
    Retrieval.bm25Build(corpus, "doc_id", "text", dir)
    // simulate an index built before the empty_docs sidecar existed
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$dir/empty_docs"))
    assert(!new java.io.File(s"$dir/empty_docs").exists)
    // deleting docs WITH postings stays exact (this corpus has no
    // postings-invisible docs, so nothing is lost by the missing sidecar)
    val victims = corpus.filter($"doc_id" % 11 === 4).select("doc_id")
    val n = victims.count()
    assert(Retrieval.bm25Delete(victims, "doc_id", dir) == n)
    val freshDir = tmp("bmlegacyfresh")
    Retrieval.bm25Build(corpus.filter($"doc_id" % 11 =!= 4),
      "doc_id", "text", freshDir)
    val terms = Seq("spark", "stream", "window")
    def run(d: String) = Retrieval.probe(Retrieval.Dir(spark, d),
      Retrieval.Probe(Retrieval.One(terms), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(run(dir) == run(freshDir))
  }

  test("delete composes with a metadata-carrying (filtered) index") {
    val dir = tmp("ivfmetadel")
    val corpus = emb.filter($"vec_id" < 300)
      .withColumn("flag", ($"vec_id" % 2).cast("int"))
    Similarity.ivfBuild(corpus, "vec_id", "embedding", dir,
      kLists = 4, metaCols = Seq("flag"))
    val q = qVec(0)
    assert(Similarity.annDelete(spark, dir, Seq(2L, 4L, 6L)) == 3L)
    // the filtered probe's predicate AND the tombstone anti-join both
    // apply — equals filtered brute force over the surviving corpus
    val got = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(8), filter = Some(col("flag") === 0), tuning = Some(4)))
      .collect().map(_.getLong(0)).toSet
    val surv = corpus.filter(!$"vec_id".isin(2L, 4L, 6L) && $"flag" === 0)
    val brute = Similarity.bruteForceTopK(surv, "vec_id", "embedding", q, 8)
      .collect().map(_.getLong(0)).toSet
    assert(got == brute, s"$got != $brute")
    // compaction keeps the metadata columns AND drops the tombstones
    Ann.compact(spark, dir)
    val cols = spark.read.parquet(s"$dir/vectors").columns.toSet
    assert(cols.contains("flag"))
    assert(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(8), filter = Some(col("flag") === 0), tuning = Some(4)))
      .collect().map(_.getLong(0)).toSet == brute)
  }

  test("bm25 compaction after delete: physical drop, netted df, cleared tombstones, same answers") {
    val dir = tmp("bmcompdel")
    val corpus = docs.select($"doc_id", $"text").filter($"doc_id" < 400)
    Retrieval.bm25Build(corpus, "doc_id", "text", dir)
    val victims = corpus.filter($"doc_id" % 5 === 1).select("doc_id")
    val nVictims = victims.count()
    Retrieval.bm25Delete(victims, "doc_id", dir)
    val terms = Seq("spark", "stream", "window")
    def run() = Retrieval.probe(Retrieval.Dir(spark, dir),
      Retrieval.Probe(Retrieval.One(terms), 10))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val before = run()
    val st = Retrieval.bm25Compact(spark, dir)
    assert(st.tombstonesCleared == nVictims)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val rawIds = spark.read.parquet(s"$dir/postings")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(rawIds.forall(_ % 5 != 1L),
      "compaction left tombstoned postings rows")
    // the df table netted its negative deltas away — one positive row
    // per (term, band), none zero (a fresh build's shape)
    val dfRows = spark.read.parquet(s"$dir/df")
    assert(dfRows.filter($"df" <= 0.0).count() == 0L,
      "netted-to-zero or negative df rows survived compaction")
    assert(dfRows.groupBy("w", "pband").count().filter($"count" > 1)
      .count() == 0L, "df deltas not merged to one row per (term, band)")
    assert(run() == before, "probe answers changed across bm25 compaction")
  }
}
