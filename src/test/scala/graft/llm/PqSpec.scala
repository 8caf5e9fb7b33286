package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding")

  test("identical vectors share codes; planted clique ties at the ADC top") {
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select(($"r" + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.unionByName(planted)
    val model = Pq.pqTrain(corpus, "vec_id", "embedding", m = 8, k = 16)
    val codes = Pq.pqEncode(corpus, "vec_id", "embedding", model)
    val cliqueCodes = codes.filter($"id" === 0L || $"id" > 100000L)
      .select("codes").collect().map(_.getSeq[Byte](0))
    assert(cliqueCodes.length == 6)
    assert(cliqueCodes.distinct.length == 1, "identical vectors must share codes")
    // every code addresses a real codeword
    codes.select(explode($"codes")).as[Byte].collect()
      .foreach(c => assert(c >= 0 && c < 16))
    // ADC for vec 0's own query: the 6 clique members tie at the top
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val top = Pq.pqTopK(codes, model, q, 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(top.map(_._1).toSet == (Set(0L) ++ (1 to 5).map(_ + 100000L)))
    assert(top.map(_._2).distinct.length == 1, "clique ADC scores must tie")
  }

  test("ADC recall vs exact top-k on natural queries; deterministic at any parallelism") {
    // k=64 codewords/subspace (6 bits) — the usual accuracy knob; these
    // synthetic embeddings have weakly-separated neighbors, so recall
    // here is a conservative floor for real embedding geometry
    val model = Pq.pqTrain(emb, "vec_id", "embedding", m = 8, k = 64)
    val codes = Pq.pqEncode(emb, "vec_id", "embedding", model)
    val recalls = (1 to 5).map { qid =>
      val q = emb.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val pq = Pq.pqTopK(codes, model, q, 10).collect().map(_.getLong(0)).toSet
      (exact & pq).size / 10.0
    }
    assert(recalls.sum / recalls.size >= 0.5,
      s"mean ADC recall@10 too low: $recalls")
    // codes and scores are identical at any input partitioning
    val q0 = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val a = Pq.pqTopK(Pq.pqEncode(emb.repartition(1), "vec_id", "embedding", model),
      model, q0, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Pq.pqTopK(Pq.pqEncode(emb.repartition(7), "vec_id", "embedding", model),
      model, q0, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
    // memory shape: 8 bytes/vector vs 64 floats = 32x
    assert(model.compression() == 32.0)
    // dimension guards
    intercept[IllegalArgumentException] { Pq.pqTopK(codes, model, q0.take(3), 5) }
    intercept[IllegalArgumentException] {
      Pq.pqTrain(emb, "vec_id", "embedding", m = 7, k = 16) // 64 % 7 != 0
    }
  }

  test("IVF+PQ: planted clique served from pruned lists; probe prunes partitions") {
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select(($"r" + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", dir, kLists = 8, m = 8, k = 16)
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // identical vectors co-assign (same nearest centroid) and share
    // codes, so nprobe=1 already covers the whole clique
    val top = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(1)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(top.map(_._1).toSet == (Set(0L) ++ (1 to 5).map(_ + 100000L)))
    assert(top.map(_._2).distinct.length == 1)
    // the probe read is partition-pruned to the probed lists
    val probe = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(1)))
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("list"),
      s"probe must prune list partitions:\n$scan")
    // a wider probe still serves the clique; results identical
    val wide = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(8)))
      .collect().map(_.getLong(0)).toSet
    assert(wide == top.map(_._1).toSet)
  }

  test("IVF+PQ filtered: predicate pushes into the pruned ADC read, widens until k eligible, append carries metadata") {
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select(($"r" + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.unionByName(planted)
      .withColumn("flag", (col("vec_id") % 2).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqf").toString
    Pq.ivfPqBuild(corpus.filter($"vec_id" =!= 100010L), "vec_id", "embedding",
      dir, kLists = 8, m = 8, k = 16, metaCols = Seq("flag"))
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // append the last clique copy WITH its metadata (re-derived from the
    // live index) — it must serve through the filtered probe
    Ann.append(corpus.filter($"vec_id" === 100010L),
      "vec_id", "embedding", dir)
    // the probe collects per widening round (one scoring pass per round)
    // and returns a local frame — observe the executed pruned plan via a
    // QueryExecutionListener capture instead of the returned frame
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
    val probe =
      try Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(6), filter = Some(col("flag") === 0), tuning = Some(1)))
      finally spark.listenerManager.unregister(ql)
    val deadline = System.currentTimeMillis() + 10000
    import scala.jdk.CollectionConverters._
    def planOk = plans.asScala.exists(p =>
      p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(flag,0\\).*") &&
        p.contains("PartitionFilters") && p.contains("list"))
    while (!planOk && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(planOk,
      "no captured probe plan showed the pushed predicate and list pruning")
    val top = probe.collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(top.map(_._1).toSet ==
      (Set(0L) ++ (1 to 5).map(r => 100000L + 2L * r)), top.mkString(","))
    assert(top.map(_._2).distinct.length == 1, "even clique ADC must tie")
    // a selective predicate widens to the full probe and still answers:
    // the only eligible rows are served even though list 0's slice is dry
    val selective = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(3), filter = Some(col("id") % 100 === 37L), tuning = Some(1)))
      .collect().map(_.getLong(0))
    assert(selective.length == 3 && selective.forall(_ % 100 == 37L))
    // reserved-name guard
    intercept[IllegalArgumentException](Pq.ivfPqBuild(corpus, "vec_id",
      "embedding", s"$dir-bad", metaCols = Seq("codes")))
  }

  test("codeword ids >= 128 store as negative bytes and decode unsigned in ADC") {
    // synthetic codebook where codeword ki of each 1-dim subspace IS the
    // value ki — encoding picks the id equal to the (integer) input, so
    // ids above 127 are forced and wrap negative in the byte storage
    val books = Array.tabulate(2, 256)((_, ki) => Array(ki.toDouble))
    val model = Pq.PqModel(m = 2, k = 256, subDim = 1, codebooks = books)
    val df = Seq((1L, Seq(200.0, 37.0)), (2L, Seq(129.0, 255.0))).toDF("id", "v")
    val codes = Pq.pqEncode(df, "id", "v", model)
    val stored = codes.orderBy("id").collect().map(_.getSeq[Byte](1))
    assert(stored(0) == Seq((-56).toByte, 37.toByte), "200 must wrap negative")
    assert(stored(1) == Seq((-127).toByte, (-1).toByte), "129/255 must wrap")
    // ADC must decode the wrapped bytes unsigned: a signed read would
    // index the table from the END and score silently wrong
    val got = Pq.pqTopK(codes, model, Seq(2.0, 3.0), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 2.0 * 200 + 3.0 * 37)
    assert(got(2L) == 2.0 * 129 + 3.0 * 255)
  }

  test("duplicated training data still yields k distinct codewords") {
    val base = Seq(Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(5.0, 5.0))
    val rows = (0 until 200).map(i => (i.toLong, base(i % 4))).toDF("id", "v")
    val model = Pq.pqTrain(rows, "id", "v", m = 1, k = 4)
    val words = model.codebooks(0).map(_.toSeq)
    assert(words.distinct.length == 4,
      s"50x-duplicated 4-value data must not collapse codewords: ${words.toSeq}")
    assert(words.toSet == base.toSet, "perfectly clusterable data recovers the values")
  }

  // ---- residual encoding (Jégou PAMI'11 §III-C) ----

  /** Read an index's sidecars + decode every stored code row driver-side:
    * (id → (reconstructed vector, list)). The independent decode path the
    * range/fidelity tests verify ADC table algebra against. */
  private def decodeAll(dir: String): (Map[Long, (Array[Double], Int)], Boolean) = {
    val cents = Similarity.readCentroids(spark, dir)
    val cbDf = spark.read.parquet(s"$dir/codebooks")
    val enc =
      if (cbDf.schema.fieldNames.contains("enc"))
        cbDf.select("enc").head().getString(0)
      else "raw"
    val all = cbDf.select("m", "k", "vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val (rotRows, cb) = all.partition(_._1 < 0)
    // OPQ: v̂ = c_list + Rᵀ·ẑ — the rotation rows ride at m = -1
    val rot = if (enc == "opq") Some(rotRows.sortBy(_._2).map(_._3)) else None
    val m = cb.map(_._1).max + 1; val k = cb.map(_._2).max + 1
    val books = Array.ofDim[Array[Double]](m, k)
    cb.foreach { case (mi, ki, v) => books(mi)(ki) = v }
    val res = enc == "res" || enc == "opq"
    val rows = spark.read.parquet(s"$dir/vectors")
      .select("id", "list", "codes").collect()
      .map { r =>
        val list = r.getInt(1)
        val codes = r.getSeq[Byte](2)
        val zhat = codes.zipWithIndex.flatMap { case (c, mi) =>
          books(mi)(c & 0xFF)
        }.toArray
        val recon = rot match {
          case Some(rm) => // Rᵀ·ẑ: column i of R dotted with ẑ
            Array.tabulate(zhat.length)(i =>
              rm.indices.map(a => rm(a)(i) * zhat(a)).sum)
          case None => zhat
        }
        if (res) (0 until recon.length).foreach(j => recon(j) += cents(list)(j))
        r.getLong(0) -> (recon, list)
      }.toMap
    (rows, res)
  }

  test("residual IVFPQ reconstructs tighter than raw and recall@10 does not regress") {
    val dirRes = java.nio.file.Files.createTempDirectory("graft-pqres").toString
    val dirRaw = java.nio.file.Files.createTempDirectory("graft-pqraw").toString
    Pq.ivfPqBuild(emb, "vec_id", "embedding", dirRes, kLists = 8, m = 8, k = 16)
    Pq.ivfPqBuild(emb, "vec_id", "embedding", dirRaw, kLists = 8, m = 8, k = 16,
      residual = false)
    val orig = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def mse(dir: String): Double = {
      val (recon, _) = decodeAll(dir)
      val errs = orig.toSeq.map { case (id, v) =>
        val r = recon(id)._1
        v.zip(r).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      errs.sum / errs.size
    }
    val (mseRes, mseRaw) = (mse(dirRes), mse(dirRaw))
    assert(mseRes < mseRaw,
      s"residual reconstruction must be tighter: res=$mseRes raw=$mseRaw")
    // the enc marker self-describes each index
    assert(decodeAll(dirRes)._2 && !decodeAll(dirRaw)._2)

    // recall@10 in the regime residual encoding TARGETS (Jégou §III-C:
    // "clustered data — the regime IVF lists create by construction"):
    // 8 well-separated clusters, deterministically derived by offsetting
    // component (id % 8) far beyond the natural scale. A raw global
    // codebook must spend its k codewords re-describing the between-
    // cluster offsets; the residual codebook models only the within-
    // cluster geometry the lists already factored out.
    val clustered = emb.select($"vec_id",
      transform($"embedding", (x, j) =>
        x.cast("double") + when(j === ($"vec_id" % 8).cast("int"), 25.0)
          .otherwise(0.0)).as("embedding"))
      .localCheckpoint()
    val cRes = java.nio.file.Files.createTempDirectory("graft-pqcres").toString
    val cRaw = java.nio.file.Files.createTempDirectory("graft-pqcraw").toString
    Pq.ivfPqBuild(clustered, "vec_id", "embedding", cRes, kLists = 8, m = 8, k = 16)
    Pq.ivfPqBuild(clustered, "vec_id", "embedding", cRaw, kLists = 8, m = 8, k = 16,
      residual = false)
    def recall(dir: String): Double = {
      val rs = (1 to 10).map { qid =>
        val q = clustered.filter($"vec_id" === qid).select("embedding")
          .head().getSeq[Double](0)
        val exact = Similarity.bruteForceTopK(clustered, "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        val got = Ann.probe(Ann.Dir(spark, dir),
          Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(8)))
          .collect().map(_.getLong(0)).toSet
        (exact & got).size / 10.0
      }
      rs.sum / rs.size
    }
    val (recRes, recRaw) = (recall(cRes), recall(cRaw))
    assert(recRes >= recRaw,
      s"residual recall@10 must not regress on clustered data: " +
        s"res=$recRes raw=$recRaw")
  }

  test("OPQ: learned rotation is orthogonal, tightens reconstruction, and recall@10 does not regress") {
    val dirRes = java.nio.file.Files.createTempDirectory("graft-opqres").toString
    val dirOpq = java.nio.file.Files.createTempDirectory("graft-opq").toString
    Pq.ivfPqBuild(emb, "vec_id", "embedding", dirRes, kLists = 8, m = 8, k = 16)
    Pq.ivfPqBuild(emb, "vec_id", "embedding", dirOpq, kLists = 8, m = 8, k = 16,
      opq = true)
    // the rotation is ORTHOGONAL by construction (Procrustes closed
    // form): RᵀR = I to numerical precision
    val cents = Similarity.readCentroids(spark, dirOpq)
    val (mdl, r) = Pq.pqTrainOpq(emb, "vec_id", "embedding", cents, 8, 16)
    val dim = r.length
    for (i <- 0 until dim; j <- 0 until dim) {
      val dot = (0 until dim).map(a => r(a)(i) * r(a)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"RᵀR[$i][$j] = $dot is not ${if (i == j) 1 else 0}")
    }
    // the sidecar self-describes: enc=opq, rotation rows at m = -1
    assert(spark.read.parquet(s"$dirOpq/codebooks")
      .select("enc").head().getString(0) == "opq")
    // INDEPENDENT decode (c_list + Rᵀ·ẑ, no ADC algebra): the learned
    // rotation must reconstruct at least as tight as the axis-aligned
    // residual split it starts from (R = I is in the feasible set and
    // the alternation never increases the objective; the sf0.001 sample
    // covers the whole corpus, so train MSE IS corpus MSE here)
    val orig = emb.collect()
      .map(r2 => r2.getLong(0) -> r2.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def mse(dir: String): Double = {
      val (recon, _) = decodeAll(dir)
      val errs = orig.toSeq.map { case (id, v) =>
        val rv = recon(id)._1
        v.zip(rv).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      errs.sum / errs.size
    }
    val (mseRes, mseOpq) = (mse(dirRes), mse(dirOpq))
    assert(mseOpq <= mseRes,
      s"OPQ reconstruction must not be looser: opq=$mseOpq res=$mseRes")
    // recall@10 vs exact top-k on NATURAL queries must not regress
    def recall(dir: String): Double = {
      val rs = (1 to 10).map { qid =>
        val q = emb.filter($"vec_id" === qid).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        val got = Ann.probe(Ann.Dir(spark, dir),
          Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(8)))
          .collect().map(_.getLong(0)).toSet
        (exact & got).size / 10.0
      }
      rs.sum / rs.size
    }
    val (recRes, recOpq) = (recall(dirRes), recall(dirOpq))
    assert(recOpq >= recRes,
      s"OPQ recall@10 must not regress on natural vectors: " +
        s"opq=$recOpq res=$recRes")
    // planted-clique exactness through the full probe matrix: identical
    // vectors share rotated codes, so the clique ties at the ADC top
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select(($"r" + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.unionByName(planted)
    val dirP = java.nio.file.Files.createTempDirectory("graft-opqp").toString
    Pq.ivfPqBuild(corpus.filter($"vec_id" =!= 100005L), "vec_id", "embedding",
      dirP, kLists = 8, m = 8, k = 16, opq = true)
    // the APPEND path is enc-fenced: the appended clone encodes through
    // the STORED rotation, so it lands on the same codes as its original
    Ann.append(corpus.filter($"vec_id" === 100005L),
      "vec_id", "embedding", dirP)
    val codesOf = spark.read.parquet(s"$dirP/vectors")
      .filter(col("id") === 0L || col("id") === 100005L)
      .select("codes").collect().map(_.getSeq[Byte](0))
    assert(codesOf.length == 2 && codesOf.distinct.length == 1,
      "an appended identical vector must share the original's OPQ codes")
    val q0 = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val top = Ann.probe(Ann.Dir(spark, dirP),
      Ann.Probe(Ann.One(q0), Ann.TopK(6), tuning = Some(1)))
      .collect().map(_.getLong(0)).toSet
    assert(top == (Set(0L) ++ (1 to 5).map(_ + 100000L)), s"clique: $top")
    // batch ≡ single over the opq index (tables rotate identically)
    val batch = Ann.probe(Ann.Dir(spark, dirP),
      Ann.Probe(Ann.Batch(Seq(7L -> q0)), Ann.TopK(6), tuning = Some(1)))
      .collect().map(r2 => (r2.getLong(1), r2.getDouble(2))).toSet
    val single = Ann.probe(Ann.Dir(spark, dirP),
      Ann.Probe(Ann.One(q0), Ann.TopK(6), tuning = Some(1)))
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSet
    assert(batch == single)
    // the ADC ALGEBRA IDENTITY under rotation: every probe-reported
    // cosine equals cos(q, v̂) computed by the INDEPENDENT decode
    // (v̂ = c_list + Rᵀ·ẑ, no ADC tables anywhere) — this pins the
    // rotated crossTable/query-table bookkeeping, not just recall
    val (reconP, _) = decodeAll(dirOpq)
    val probed = Ann.probe(Ann.Dir(spark, dirOpq),
      Ann.Probe(Ann.One(emb.filter($"vec_id" === 5).select("embedding") .head().getSeq[Float](0).map(_.toDouble)),
        Ann.TopK(20), tuning = Some(8)))
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1)))
    val q5 = emb.filter($"vec_id" === 5).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val q5n = math.sqrt(q5.map(x => x * x).sum)
    probed.foreach { case (id, cosGot) =>
      val vhat = reconP(id)._1
      val dot = q5.zip(vhat).map { case (a, b) => a * b }.sum
      val vn = math.sqrt(vhat.map(x => x * x).sum)
      val want = math.rint(dot / (vn * q5n) * 1e6) / 1e6
      assert(math.abs(cosGot - want) <= 1e-6,
        s"OPQ ADC cosine for $id: probe $cosGot != decode $want")
    }
  }

  test("refined probes: exact rerank from the sidecar never lowers recall; codes-only refuses") {
    val root = java.nio.file.Files.createTempDirectory("graft-refine").toString
    val dir = s"$root/idx"
    Pq.ivfPqBuild(emb, "vec_id", "embedding", dir, kLists = 8, m = 8, k = 16,
      keepVectors = true)
    // recall@10 vs the exact brute force: the refined probe (ADC
    // nominates k×factor, TRUE cosines rerank) must dominate the plain
    // ADC probe at the same nprobe — that is the whole point of paying
    // the answer-sized sidecar join
    def recall(probe: Seq[Double] => Set[Long]): Double = {
      val rs = (1 to 10).map { qid =>
        val q = emb.filter($"vec_id" === qid).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        (exact & probe(q)).size / 10.0
      }
      rs.sum / rs.size
    }
    val recAdc = recall(q => Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(8)))
      .collect().map(_.getLong(0)).toSet)
    val recRef = recall(q => Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(8), refine = Some(4)))
      .collect().map(_.getLong(0)).toSet)
    assert(recRef >= recAdc,
      s"refined recall must not regress: refined=$recRef adc=$recAdc")
    // the reranked scores are TRUE cosines: a query's own vector must
    // come back at exactly 1.0 (ADC would return its reconstruction's
    // cosine instead)
    val q3 = emb.filter($"vec_id" === 3).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val self = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q3), Ann.TopK(1), tuning = Some(8), refine = Some(4)))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(self.toSeq == Seq((3L, 1.0)), s"self-probe: ${self.toSeq}")
    // batch ≡ per-query
    val queries = (1L to 3L).map(qid => qid ->
      emb.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq)
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), tuning = Some(8), refine = Some(4)))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(8), refine = Some(4)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch.getOrElse(qid, Set.empty) == single, s"refined batch $qid")
    }
    // a codes-only index cannot refine — loud, with the build advice
    val bare = s"$root/bare"
    Pq.ivfPqBuild(emb, "vec_id", "embedding", bare, kLists = 8, m = 8, k = 16)
    val e = intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, bare), Ann.Probe(Ann.One(q3), Ann.TopK(5), refine = Some(4))))
    assert(e.getMessage.contains("keepVectors"))
    // param guards
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q3), Ann.TopK(5), refine = Some(0))))
  }

  test("filtered refined probes: exact cosines over eligible rows; widening; batch parity") {
    val root = java.nio.file.Files.createTempDirectory("graft-frefine").toString
    val dir = s"$root/idx"
    val flagged = emb.withColumn("flag", ($"vec_id" % 2).cast("int"))
    Pq.ivfPqBuild(flagged, "vec_id", "embedding", dir, kLists = 8, m = 8,
      k = 16, keepVectors = true, metaCols = Seq("flag"))
    val pred = col("flag") === 0
    val eligible = emb.filter($"vec_id" % 2 === 0)
    // full-width nomination (nprobe = kLists) at a generous factor ≡
    // the exact FILTERED brute force — scores are TRUE cosines, so the
    // comparison is value-for-value, not id-set-only
    val q0 = emb.filter($"vec_id" === 4).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val want = Similarity.bruteForceTopK(eligible, "vec_id", "embedding",
        q0, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q0), Ann.TopK(5), filter = Some(pred), tuning = Some(8),
        refine = Some(64)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      .sortBy { case (id, c) => (-c, id) }
    assert(got == want, s"filtered refined $got != filtered brute $want")
    // an eligible self-query comes back at exactly 1.0 (true cosines,
    // not reconstructions — the refined contract under a predicate)
    val self = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q0), Ann.TopK(1), filter = Some(pred), tuning = Some(8), refine = Some(4))).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(self.toSeq == Seq((4L, 1.0)), s"self-probe: ${self.toSeq}")
    // refined recall (vs the eligible brute force) must not regress the
    // plain filtered probe's at the same nprobe
    def recall(probe: Seq[Double] => Set[Long]): Double = {
      val rs = (1 to 8).map { qid =>
        val q = emb.filter($"vec_id" === qid).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val exact = Similarity.bruteForceTopK(eligible, "vec_id",
            "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        (exact & probe(q)).size / 10.0
      }
      rs.sum / rs.size
    }
    val recPlain = recall(q =>
      Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(10), filter = Some(pred), tuning = Some(4)))
        .collect().map(_.getLong(0)).toSet)
    val recRef = recall(q =>
      Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(10), filter = Some(pred), tuning = Some(4),
          refine = Some(4)))
        .collect().map(_.getLong(0)).toSet)
    assert(recRef >= recPlain,
      s"filtered refined recall must not regress: $recRef < $recPlain")
    // WIDENING: a selective predicate (one id) at nprobe=1 must widen to
    // the full probe and still find its single eligible row at 1.0
    val gotSel = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q0), Ann.TopK(5), filter = Some(col("id") === 4L), tuning = Some(1),
        refine = Some(4)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotSel == Seq((4L, 1.0)), s"widened: $gotSel")
    // batch ≡ per-query
    val queries = (1L to 3L).map(qid => qid ->
      emb.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq)
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), filter = Some(pred), tuning = Some(4),
        refine = Some(4)))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(pred), tuning = Some(4),
          refine = Some(4)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch.getOrElse(qid, Set.empty) == single,
        s"filtered refined batch $qid")
    }
    // codes-only refuses with the build advice; duplicate qids refuse
    val bare = s"$root/bare"
    Pq.ivfPqBuild(flagged, "vec_id", "embedding", bare, kLists = 8, m = 8,
      k = 16, metaCols = Seq("flag"))
    assert(intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, bare),
        Ann.Probe(Ann.One(q0), Ann.TopK(5), filter = Some(pred), refine = Some(4))))
      .getMessage.contains("keepVectors"))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.Batch(Seq(1L -> q0.toSeq, 1L -> q0.toSeq)), Ann.TopK(5),
          filter = Some(pred), refine = Some(4))))
  }

  test("refined range probes: exact threshold from the sidecar; batch parity; codes-only refuses") {
    val root = java.nio.file.Files.createTempDirectory("graft-rrefine").toString
    val dir = s"$root/idx"
    Pq.ivfPqBuild(emb, "vec_id", "embedding", dir, kLists = 8, m = 8,
      k = 16, keepVectors = true)
    val kLists = 8
    val q = emb.filter($"vec_id" === 7).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // full-width nomination with a net wider than any reconstruction
    // error (slack = 2 keeps every probed row) ≡ the exact brute-force
    // range, value-for-value — this pins the verify threshold exactly
    val t = 0.55
    val want = Similarity.bruteForceRange(emb, "vec_id", "embedding", q, t)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val got = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.Range(t), tuning = Some(kLists), refine = Some(40)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == want && want.nonEmpty,
      s"refined range (full net) $got != brute $want")
    // PRECISION at the default slack: every answer is a TRUE cosine
    // clearing the threshold (⊆ exact range; the unrefined probe's
    // reconstruction cosines can violate both directions)
    val gotDef = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.Range(t), tuning = Some(kLists), refine = Some(1)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(gotDef.subsetOf(want), s"precision: ${gotDef -- want} not in exact")
    assert(gotDef.contains((7L, 1.0)), "self id at exactly 1.0")
    // batch ≡ per-query
    val queries = (5L to 7L).map(qid => qid ->
      emb.filter($"vec_id" === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq)
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.Range(t), tuning = Some(4), refine = Some(1)))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    queries.foreach { case (qid, qv) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(qv), Ann.Range(t), tuning = Some(4), refine = Some(1)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch.getOrElse(qid, Set.empty) == single,
        s"refined range batch $qid")
    }
    // codes-only refuses; param guards
    val bare = s"$root/bare"
    Pq.ivfPqBuild(emb, "vec_id", "embedding", bare, kLists = 8, m = 8, k = 16)
    assert(intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, bare),
        Ann.Probe(Ann.One(q), Ann.Range(t), refine = Some(1)))).getMessage
      .contains("keepVectors"))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.Range(t), refine = Some(-2))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.Range(1.5), refine = Some(1))))
  }

  test("a raw-encoded index (no enc marker) still probes correctly — backward compat") {
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select(($"r" + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqcompat").toString
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", dir, kLists = 8, m = 8, k = 16,
      residual = false)
    // simulate a pre-residual index: strip the enc column in place (the
    // old sidecar format) — the reader must default to raw scoring
    val legacy = spark.read.parquet(s"$dir/codebooks")
      .select("m", "k", "vec").collect()
    import spark.implicits._
    legacy.map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toSeq.toDF("m", "k", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val top = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(1)))
      .collect().map(_.getLong(0)).toSet
    assert(top == (Set(0L) ++ (1 to 5).map(_ + 100000L)))
  }

  // ---- the batched / range probe matrix ----

  private def plantedDir(): (String, Seq[(Long, Seq[Double])]) = {
    // per-query planted cliques: 5 copies of each of vec 0-2's embeddings
    val planted = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("s"),
        explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select((lit(100000L) + $"s" * 100L + $"r").as("vec_id"), $"embedding")
    val corpus = emb.unionByName(planted)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqbatch").toString
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", dir, kLists = 8, m = 8, k = 16)
    val queries = emb.filter($"vec_id" < 3).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    (dir, queries)
  }

  test("ivfPqQueryBatch: one pruned pass, per-query ≡ single probes, chunking preserves answers") {
    val (dir, queries) = plantedDir()
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(6), tuning = Some(2)))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    assert(batch.keySet == queries.map(_._1).toSet)
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(2)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"batch ≡ single for qid $qid")
      // each query's clique (query row + 5 identical copies) is served
      val clique = Set(qid) ++ (1L to 5L).map(100000L + qid * 100L + _)
      assert(batch(qid).map(_._1) == clique, s"clique for qid $qid: ${batch(qid)}")
    }
    // chunked plans answer identically
    val chunked = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(6), tuning = Some(2), chunkSize = 1))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    assert(chunked == batch)
    // guards
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.Batch(Nil), Ann.TopK(5))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.Batch(Seq((0L, Seq(1.0, 2.0)))), Ann.TopK(5))))
  }

  test("ivfPqQueryBatchFiltered: pred-filtered widening, per-query ≡ single filtered probes") {
    val planted = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("s"),
        explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select((lit(100000L) + $"s" * 100L + $"r").as("vec_id"), $"embedding")
    val corpus = emb.unionByName(planted)
      .withColumn("flag", ($"vec_id" % 2).cast("int"))
    val dir = java.nio.file.Files.createTempDirectory("graft-pqbatchf").toString
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", dir, kLists = 8, m = 8, k = 16,
      metaCols = Seq("flag"))
    val queries = emb.filter($"vec_id" < 2).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), filter = Some(col("flag") === 0),
        tuning = Some(1)))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(1)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"filtered batch ≡ single for qid $qid")
      assert(batch(qid).forall(_._1 % 2 == 0), s"flag==0 violated: ${batch(qid)}")
    }
  }

  test("ivfPqRange: exactly the ids whose RECONSTRUCTED cosine clears the threshold; map-only pruned plan") {
    val (dir, queries) = plantedDir()
    val (recon, _) = decodeAll(dir)
    val (qid0, q) = queries.head
    val nprobe = 4
    val lists = Similarity.nearestLists(
      Similarity.readCentroids(spark, dir), q.toArray, nprobe).toSet
    val qn = math.sqrt(q.map(x => x * x).sum)
    // independent verify: true cosine of q against every probed-list
    // reconstruction (full decode + dot — not the ADC table algebra)
    def expect(t: Double): Map[Long, Double] = recon.collect {
      case (id, (v, list)) if lists(list) =>
        val vn = math.sqrt(v.map(x => x * x).sum)
        val cos = if (vn == 0) Double.NaN
          else q.zip(v).map { case (a, b) => a * b }.sum / (qn * vn)
        id -> math.rint(cos * 1e6) / 1e6
    }.filter { case (_, c) => !c.isNaN && c >= t }.toMap
    val t = 0.5
    val probe = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.Range(t), tuning = Some(nprobe)))
    val got = probe.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = expect(t)
    assert(got.keySet == exp.keySet,
      s"range set mismatch: extra=${got.keySet -- exp.keySet} " +
        s"missing=${exp.keySet -- got.keySet}")
    got.foreach { case (id, c) =>
      assert(math.abs(c - exp(id)) <= 1e-6, s"cos mismatch at $id: $c vs ${exp(id)}")
    }
    // the clique reconstructs to the query's own v̂ — always in range at
    // a threshold below the quantization cosine
    val clique = Set(qid0) ++ (1L to 5L).map(100000L + qid0 * 100L + _)
    assert(clique.subsetOf(got.keySet), s"clique missing from range: $got")
    // plan shape: partition-pruned scan, NO shuffle at all (map-only)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(!plan.contains("Exchange"), s"range probe must be map-only:\n$plan")
    // batch ≡ per-query
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.Range(t), tuning = Some(nprobe)))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getDouble(2))).toSet).toMap
    queries.foreach { case (qid, qv) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(qv), Ann.Range(t), tuning = Some(nprobe)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch.getOrElse(qid, Set.empty) == single, s"range batch qid $qid")
    }
    // threshold guard
    intercept[IllegalArgumentException](Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.Range(-1.5))))
  }

  test("keepVectors sidecar: build/append stay aligned, compaction carries it, retrain re-encodes from it") {
    val root = java.nio.file.Files.createTempDirectory("graft-pqkv").toString
    val dir = s"$root/idx"
    val base = emb.filter($"vec_id" < 300).select($"vec_id", $"embedding")
    Pq.ivfPqBuild(base, "vec_id", "embedding", dir,
      kLists = 16, m = 8, k = 16, keepVectors = true)
    assert(Pq.hasVectorSidecar(spark, dir))
    // the sidecar mirrors the codes partition-for-partition: same ids,
    // same list assignment, floats preserved (double-cast of the source)
    def codes() = spark.read.parquet(s"$dir/vectors")
    def f32() = spark.read.parquet(s"$dir/${Pq.vectorSidecarDir}")
    assert(codes().count() == 300L && f32().count() == 300L)
    val codePairs = codes().select("id", "list")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val f32Pairs = f32().select("id", "list")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(codePairs == f32Pairs, "sidecar list assignment must equal codes")
    val srcV = base.filter($"vec_id" === 7L).select("embedding")
      .head().getSeq[Float](0)
    val sideV = f32().filter($"id" === 7L).select("v")
      .head().getSeq[Float](0)
    assert(sideV == srcV.toSeq, "sidecar floats must be the source vectors")
    assert(f32().schema("v").dataType.sql == "ARRAY<FLOAT>",
      "the sidecar stores FLOAT32 — what its name promises")
    // APPEND a drifted cluster: floats land in the sidecar in the SAME
    // staged commit (replay-fenced together with the codes)
    val drifted = spark.createDataFrame(
      (0 until 100).map { i =>
        (1000L + i, Array.tabulate(64)(d =>
          if (d == 0) 10.0f else (((i * 31 + d) % 7) - 3) * 0.1f).toSeq)
      }).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    Ann.append(drifted, "vec_id", "embedding", dir,
      appendId = Some("drift1"))
    assert(codes().count() == 400L && f32().count() == 400L)
    // replayed append = no-op for BOTH layouts
    Ann.append(drifted, "vec_id", "embedding", dir,
      appendId = Some("drift1"))
    assert(codes().count() == 400L && f32().count() == 400L)
    // COMPACTION carries the sidecar (losing it would silently strip the
    // index of its retrain/MMR capability)
    val st = Ann.compact(spark, dir)
    assert(st.filesAfter <= st.filesBefore)
    assert(Pq.hasVectorSidecar(spark, dir))
    assert(codes().count() == 400L && f32().count() == 400L)
    // RETRAIN from the sidecar: skew from the drifted appends drops, the
    // residual encoding survives (enc marker), rows re-encode exactly
    val skewBefore = Similarity.ivfSkew(spark, dir)
    assert(skewBefore > 2.0,
      s"drifted appends should concentrate in few lists, skew $skewBefore")
    Ann.retrain(spark, dir)
    val skewAfter = Similarity.ivfSkew(spark, dir)
    assert(skewAfter < skewBefore,
      s"retrain did not reduce skew: $skewBefore -> $skewAfter")
    assert(codes().count() == 400L && f32().count() == 400L)
    assert(spark.read.parquet(s"$dir/codebooks")
      .select("enc").head().getString(0) == "res",
      "retrain must keep the index's declared encoding")
    // drifted rows serve exactly through the retrained quantizer: rows
    // 1007/1000/1014 are bit-identical to the query (period-7 pattern),
    // so the cos-1.0 tie set tops the ADC ranking
    val q = Array.tabulate(64)(d =>
      if (d == 0) 10.0 else (((7 * 31 + d) % 7) - 3) * 0.1).toSeq
    val top = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(3), tuning = Some(2)))
      .collect().map(_.getLong(0)).toSet
    assert(top == Set(1000L, 1007L, 1014L),
      s"retrained index must serve the drifted clique, got $top")
    // replay fence survives the retrain rewrite
    Ann.append(drifted, "vec_id", "embedding", dir,
      appendId = Some("drift1"))
    assert(codes().count() == 400L && f32().count() == 400L)
    // a sidecar-less index refuses the retrain with the rebuild advice
    val bare = s"$root/bare"
    Pq.ivfPqBuild(base, "vec_id", "embedding", bare, kLists = 8, m = 8, k = 16)
    val e = intercept[IllegalArgumentException](Ann.retrain(spark, bare))
    assert(e.getMessage.contains("keepVectors"))
    // an OPQ index retrains under its OWN encoding: enc stays "opq",
    // the rotation RE-LEARNS against the new centroids (re-clustering
    // changes every residual, so a frozen R would mis-model them), and
    // the re-encoded index still serves the drifted clique exactly
    val opqDir = s"$root/opq"
    Pq.ivfPqBuild(base, "vec_id", "embedding", opqDir,
      kLists = 16, m = 8, k = 16, keepVectors = true, opq = true)
    Ann.append(drifted, "vec_id", "embedding", opqDir,
      appendId = Some("drift-opq"))
    def rotRows(dir: String) = spark.read.parquet(s"$dir/codebooks")
      .filter(col("m") === -1).orderBy("k")
      .collect().map(_.getSeq[Double](2)).toSeq
    val rotBefore = rotRows(opqDir)
    assert(rotBefore.nonEmpty, "opq index must carry rotation rows")
    Ann.retrain(spark, opqDir)
    assert(spark.read.parquet(s"$opqDir/codebooks")
      .select("enc").head().getString(0) == "opq",
      "retrain must keep the opq encoding")
    assert(rotRows(opqDir) != rotBefore,
      "an opq retrain must re-learn the rotation, not freeze it")
    val topOpq = Ann.probe(Ann.Dir(spark, opqDir),
      Ann.Probe(Ann.One(q), Ann.TopK(3), tuning = Some(2)))
      .collect().map(_.getLong(0)).toSet
    assert(topOpq == Set(1000L, 1007L, 1014L),
      s"retrained opq index must serve the drifted clique, got $topOpq")
  }

  test("ADC score equals the hand-computed query·reconstruction dot") {
    val model = Pq.pqTrain(emb, "vec_id", "embedding", m = 4, k = 8)
    val codes = Pq.pqEncode(emb, "vec_id", "embedding", model)
    val q = emb.filter($"vec_id" === 3).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val row = codes.filter($"id" === 5L).select("codes")
      .head().getSeq[Byte](0)
    val recon = row.zipWithIndex.flatMap { case (c, mi) =>
      model.codebooks(mi)(c.toInt)
    }
    val expect = math.rint(q.zip(recon).map { case (a, b) => a * b }.sum * 1e6) / 1e6
    val got = Pq.pqTopK(codes, model, q, 10000)
      .filter($"id" === 5L).select("adc").head().getDouble(0)
    assert(math.abs(got - expect) < 1e-9)
  }

  // ---------- sidecar backfill: codes-only -> refined-capable ----------

  test("ivfPqAddSidecar: backfilled index answers refined probes byte-equal to a keepVectors build") {
    val root = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    val codesOnly = s"$root/codes"
    val kept = s"$root/kept"
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select(($"r" + 1000L).as("vec_id"), $"embedding")
    val corpus = emb.filter($"vec_id" < 300).unionByName(planted)
    // deterministic training (lowest-id sample + deterministic k-means)
    // makes the two builds identical except for the sidecar
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", codesOnly,
      kLists = 4, m = 8, k = 16, keepVectors = false)
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", kept,
      kLists = 4, m = 8, k = 16, keepVectors = true)
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // codes-only refuses refined probes with the build advice
    val e = intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, codesOnly),
        Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(4), refine = Some(4))).collect())
    assert(e.getMessage.contains("keepVectors"))
    val n = Pq.ivfPqAddSidecar(corpus, "vec_id", "embedding", codesOnly)
    assert(n == corpus.count())
    assert(Pq.hasVectorSidecar(spark, codesOnly))
    def refined(d: String) = Ann.probe(Ann.Dir(spark, d),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(4), refine = Some(4)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined(codesOnly) == refined(kept),
      "backfilled sidecar must serve refined probes exactly as a keepVectors build")
    // the sort contract: every sidecar file id-sorted (the id-In
    // pushdown's row-group stats depend on it)
    val listDirs = new java.io.File(s"$codesOnly/${Pq.vectorSidecarDir}")
      .listFiles().filter(f => f.isDirectory && f.getName.startsWith("list="))
    assert(listDirs.nonEmpty)
    listDirs.foreach { ld =>
      ld.listFiles().filter(_.getName.endsWith(".parquet")).foreach { pf =>
        val ids = spark.read.parquet(pf.getAbsolutePath)
          .select($"id").collect().map(_.getLong(0)).toSeq
        assert(ids == ids.sorted,
          s"backfilled sidecar file ${pf.getName} must be id-sorted")
      }
    }
    // the upgrade is COMPLETE: append maintains the sidecar, retrain is
    // unlocked (both were keepVectors-only before the backfill)
    Ann.append(emb.filter($"vec_id" >= 300 && $"vec_id" < 320),
      "vec_id", "embedding", codesOnly, appendId = Some("post-backfill"))
    val f32Ids = spark.read.parquet(s"$codesOnly/${Pq.vectorSidecarDir}")
      .select("id").collect().map(_.getLong(0)).toSet
    assert((300L until 320L).forall(f32Ids.contains),
      "append after backfill must land floats in the sidecar")
    Ann.retrain(spark, codesOnly)
    assert(refined(codesOnly).map(_._1).toSet.contains(0L))
    // a second backfill refuses (the sidecar is live)
    val e2 = intercept[IllegalArgumentException](
      Pq.ivfPqAddSidecar(corpus, "vec_id", "embedding", codesOnly))
    assert(e2.getMessage.contains("already carries"))
  }

  test("ivfPqAddSidecar fails loudly on id mismatch and leaves the index codes-only servable") {
    val root = java.nio.file.Files.createTempDirectory("graft-backfillbad").toString
    val dir = s"$root/idx"
    val corpus = emb.filter($"vec_id" < 200)
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", dir,
      kLists = 4, m = 8, k = 16, keepVectors = false)
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // source lost ids since build -> loud failure naming samples
    val eMissing = intercept[IllegalArgumentException](
      Pq.ivfPqAddSidecar(corpus.filter($"vec_id" =!= 7L),
        "vec_id", "embedding", dir))
    assert(eMissing.getMessage.contains("missing from source"), eMissing.getMessage)
    assert(eMissing.getMessage.contains("7"))
    // duplicated source ids -> loud failure too
    val eDup = intercept[IllegalArgumentException](
      Pq.ivfPqAddSidecar(corpus.unionByName(corpus.filter($"vec_id" === 3L)),
        "vec_id", "embedding", dir))
    assert(eDup.getMessage.contains("duplicated source ids"), eDup.getMessage)
    // wrong dim fails before any distributed work
    val eDim = intercept[IllegalArgumentException](
      Pq.ivfPqAddSidecar(corpus.select($"vec_id", slice($"embedding", 1, 8).as("embedding")),
        "vec_id", "embedding", dir))
    assert(eDim.getMessage.contains("dim"))
    // no staging residue, no sidecar, plain probes still serve
    assert(!Pq.hasVectorSidecar(spark, dir))
    assert(!new java.io.File(s"$dir/.${Pq.vectorSidecarDir}.staging").exists())
    assert(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(4))).count() == 5)
  }
}
