package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The ANN index lifecycle verbs of [[Ann]] (ensure, append, compact,
  * compactionDue) read the family from the index layout: a configured
  * method is checked against a built dir, never dispatched on. */
class AnnLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select($"vec_id", $"embedding")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$name").toString

  private def qVec(qid: Long): Seq[Double] =
    emb.filter($"vec_id" === qid).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)

  private def answers(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  test("Ann.ensure never rebuilds a live index of another family") {
    val root = tmp("ensure")
    val corpusUri = s"$root/corpus"
    emb.filter($"vec_id" < 200).write.parquet(corpusUri)
    val dir = s"$root/idx"
    val build = Ann.Build("lsh", nBits = 8, partitionBits = 4)
    Ann.ensure(spark, dir, corpusUri, "vec_id", "embedding", build)
    // an lsh bootstrap takes its dim from the corpus
    assert(Similarity.indexKind(spark, dir).contains("lsh"))
    assert(Ann.dim(spark, dir) == 64)
    val probe = Ann.Probe(Ann.Batch(Seq(1L -> qVec(3), 2L -> qVec(17))), Ann.TopK(5))
    val before = answers(Ann.probe(Ann.Dir(spark, dir), probe))
    val vectorsBefore = spark.read.parquet(s"$dir/vectors").inputFiles.toSet
    // another family over the live dir fails, naming both
    val e = intercept[IllegalArgumentException](
      Ann.ensure(spark, dir, corpusUri, "vec_id", "embedding", Ann.Build("ivf")))
    assert(e.getMessage.contains("'lsh'") && e.getMessage.contains("'ivf'"),
      e.getMessage)
    // the same family is a no-op: the live index is never rebuilt
    Ann.ensure(spark, dir, corpusUri, "vec_id", "embedding", build)
    assert(Similarity.indexKind(spark, dir).contains("lsh"))
    assert(spark.read.parquet(s"$dir/vectors").inputFiles.toSet == vectorsBefore)
    assert(answers(Ann.probe(Ann.Dir(spark, dir), probe)) == before)
  }

  test("IndexCompact on a keepVectors ivfpq index keeps its codebooks and float sidecar") {
    val root = tmp("compactpq")
    val dir = s"$root/idx"
    Pq.ivfPqBuild(emb.filter($"vec_id" < 300), "vec_id", "embedding", dir,
      kLists = 8, m = 8, k = 16, keepVectors = true)
    Seq((300L, 400L), (400L, 500L)).foreach { case (lo, hi) =>
      Ann.append(emb.filter($"vec_id" >= lo && $"vec_id" < hi),
        "vec_id", "embedding", dir, appendId = Some(s"a$lo"))
    }
    val qs = Seq(1L -> qVec(3), 2L -> qVec(350), 3L -> qVec(450))
    def probe(refine: Option[Int]) = answers(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(qs), Ann.TopK(5), tuning = Some(3), refine = refine)))
    val (adc, refined) = (probe(None), probe(Some(4)))
    val booksBefore = spark.read.parquet(s"$dir/codebooks")
    val (bookRows, bookSchema) = (booksBefore.collect().toSet, booksBefore.schema)
    // no --method: the family comes from the layout
    val out = graft.tools.IndexCompact.run(spark, Array("--index-dir", dir))
    assert(out.startsWith("compacted"), out)
    val books = spark.read.parquet(s"$dir/codebooks")
    assert(books.schema == bookSchema && books.schema.fieldNames.contains("enc"))
    assert(books.collect().toSet == bookRows)
    assert(Pq.hasVectorSidecar(spark, dir), "the float sidecar must survive")
    assert(spark.read.parquet(s"$dir/${Pq.vectorSidecarDir}").count() == 500L)
    assert(spark.read.parquet(s"$dir/vectors").count() == 500L)
    assert(probe(None) == adc)
    assert(probe(Some(4)) == refined)
    // the removed flag is rejected, not ignored
    intercept[IllegalArgumentException](graft.tools.IndexCompact.run(spark,
      Array("--index-dir", dir, "--method", "ivf")))
  }

  test("annIngestJob with a method the built layout contradicts fails at construction") {
    val root = tmp("ingestkind")
    val dir = s"$root/idx"
    Similarity.lshBuild(emb.filter($"vec_id" < 200), "vec_id", "embedding", dir,
      nBits = 8, dim = 64, partitionBits = 4)
    val corpusDir = s"$root/corpus"
    emb.filter($"vec_id" >= 200 && $"vec_id" < 220).write.parquet(corpusDir)
    val e = intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.annIngestJob(spark, corpusDir, "parquet",
        "vec_id", "embedding", dir, "ivf", s"$root/ckpt", once = true))
    assert(e.getMessage.contains("'ivf'") && e.getMessage.contains("'lsh'"),
      e.getMessage)
    assert(spark.read.parquet(s"$dir/vectors").count() == 200L,
      "nothing may be appended")
  }

  test("warm Ann.compactionDue on ivf runs zero Spark jobs") {
    val dir = tmp("duewarm") + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", dir, kLists = 8,
      trainSample = 256)
    assert(!Ann.compactionDue(spark, dir), "a fresh build is at build shape")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(!Ann.compactionDue(spark, dir))
      Thread.sleep(1000) // listener bus is async
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"warm compactionDue launched ${jobs.get()} Spark jobs; expected 0")
  }
}
