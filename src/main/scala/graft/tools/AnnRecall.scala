package graft.tools

import graft.llm.Ann
import org.apache.spark.sql.functions._
import graft.util.Sessions

/** Measured recall@k of the approximate ANN paths against brute force,
  * over a sample of NATURAL corpus queries (no planted constructions —
  * those prove correctness contracts; this quantifies approximation
  * quality). For each sampled query vector: brute-force top-k is ground
  * truth; ad-hoc lsh and ivf probes and the built-index lsh/ivf
  * probes report |approx ∩ truth| / k.
  *
  * Usage: runMain graft.tools.AnnRecall [sfDir] [nQueries] [k]
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(20)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.create("graft-ann-recall", Sessions.master(32))
    spark.sparkContext.setLogLevel("ERROR")
    import graft.llm.Similarity
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < nQueries)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)

    // one build per index family, shared across all queries
    val lshDir = java.nio.file.Files
      .createTempDirectory("graft-recall-lsh").toString + "/idx"
    Similarity.lshBuild(emb, "vec_id", "embedding", lshDir)
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft-recall-ivf").toString + "/idx"
    Similarity.ivfBuild(emb, "vec_id", "embedding", ivfDir)

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val sums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    queries.foreach { case (_, q) =>
      val truth = ids(Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, k))
      def recall(approx: Set[Long]): Double = truth.count(approx).toDouble / truth.size
      sums("lsh_adhoc") += recall(ids(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding",
          Ann.Build("lsh")),
        Ann.Probe(Ann.One(q), Ann.TopK(k)))))
      sums("ivf_adhoc") += recall(ids(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding",
          Ann.Build("ivf")),
        Ann.Probe(Ann.One(q), Ann.TopK(k)))))
      sums("lsh_index") += recall(ids(Ann.probe(Ann.Dir(spark, lshDir),
        Ann.Probe(Ann.One(q), Ann.TopK(k)))))
      sums("ivf_index") += recall(ids(Ann.probe(Ann.Dir(spark, ivfDir),
        Ann.Probe(Ann.One(q), Ann.TopK(k)))))
      // nprobe is the recall/read-fraction knob. The default is 8 (kLists/2,
      // measured ≈0.8 recall@10 here and gated in LlmSpec); the np4 row
      // records what halving the probed fraction would give back
      sums("ivf_index_np4") += recall(ids(Ann.probe(Ann.Dir(spark, ivfDir),
        Ann.Probe(Ann.One(q), Ann.TopK(k), tuning = Some(4)))))
    }
    sums.toSeq.sortBy(_._1).foreach { case (name, s) =>
      println(f"[recall] $name%-10s recall@$k = ${s / queries.length}%.3f  (n=${queries.length}, $dir)")
    }
    spark.stop()
  }
}
