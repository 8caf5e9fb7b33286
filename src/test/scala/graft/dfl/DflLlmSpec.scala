package graft.dfl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.llm.{Ann, Dedup, Retrieval, Similarity}

/** The LLM dataset operators THROUGH the DFL surface (parser → DflFrame
  * dataset-op dispatch): each stage must produce exactly what the backing
  * Scala API produces — one implementation, two entry points.
  */
class DflLlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  test("dedup(@) keeps the smallest-id row per exact fingerprint") {
    val out = DflFrame.pipeline(docs,
      "dedup(@, '@doc_id', '@text') | map(@, '{doc_id: @doc_id}')")
    val expected = ids(Dedup.exact(docs, "doc_id", "text").select("keep_id"))
    assert(ids(out) == expected)
    // surviving rows keep their ORIGINAL columns (no temp-column residue)
    val full = DflFrame.pipeline(docs, "dedup(@, '@doc_id', '@text')")
    assert(full.columns.toSet == docs.columns.toSet)
  }

  test("nearDedup/nearDupPairs(@) match the minhash Scala API") {
    val pairsDfl = DflFrame.pipeline(docs, "nearDupPairs(@, '@doc_id', '@text', 0.8)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairsApi = Dedup.minhashPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsApi.nonEmpty && pairsDfl == pairsApi)
    val survDfl = ids(DflFrame.pipeline(docs,
      "nearDedup(@, '@doc_id', '@text', 0.8) | map(@, '{doc_id: @doc_id}')"))
    val survApi = ids(Dedup.survivors(docs, "doc_id",
      Dedup.minhashPairs(docs, "doc_id", "text", 0.8)).select("doc_id"))
    assert(survDfl == survApi)
  }

  test("nearDupClusters/nearDedupClusters(@) match the cluster Scala API") {
    val ccDfl = DflFrame.pipeline(docs,
      "nearDupClusters(@, '@doc_id', '@text', 0.8)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ccApi = Dedup.duplicateClusters(
      Dedup.minhashPairs(docs, "doc_id", "text", 0.8))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ccApi.nonEmpty && ccDfl == ccApi)
    val survDfl = ids(DflFrame.pipeline(docs,
      "nearDedupClusters(@, '@doc_id', '@text', 0.8) | map(@, '{doc_id: @doc_id}')"))
    val survApi = ids(Dedup.clusterSurvivors(docs, "doc_id",
      Dedup.minhashPairs(docs, "doc_id", "text", 0.8)).select("doc_id"))
    assert(survDfl == survApi)
  }

  test("nearDupPairs method variants dispatch to the right operator") {
    val jac = DflFrame.pipeline(docs,
      "nearDupPairs(@, '@doc_id', '@text', 0.8, 'jaccard')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val jacApi = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac == jacApi)
    val sim = DflFrame.pipeline(docs,
      "nearDupPairs(@, '@doc_id', '@text', 3, 'simhash')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val simApi = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim == simApi)
    val cosDfl = DflFrame.pipeline(emb,
      "nearDupPairs(@, '@vec_id', '@embedding', 0.99, 'cosine')")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cosApi = Dedup.cosinePairsBucketed(emb, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cosDfl == cosApi)
  }

  test("join(@, $right, lkey, rkey[, type]) joins, prefixes collisions, rejects bad args") {
    import spark.implicits._
    val left = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "tag", "v")
    val right = Seq((10L, "x", 1.5), (20L, "y", 2.5), (40L, "z", 9.9))
      .toDF("rid", "tag", "w")
    val vars = Map[String, Any]("r" -> right)
    val inner = DflFrame.pipeline(left,
      "join(@, $r, '@v', '@rid')", vars)
    // collision: right's `tag` comes back r_-prefixed, nothing dropped
    assert(inner.columns.toSet == Set("id", "tag", "v", "rid", "r_tag", "w"))
    assert(inner.select("id").as[Long].collect().toSet == Set(1L, 2L))
    val leftJ = DflFrame.pipeline(left,
      "join(@, $r, '@v', '@rid', 'left')", vars)
    assert(leftJ.count() == 3 &&
      leftJ.filter($"id" === 3L).select("w").head().isNullAt(0))
    val semi = DflFrame.pipeline(left, "join(@, $r, '@v', '@rid', 'semi')", vars)
    assert(semi.columns.toSet == Set("id", "tag", "v"))
    assert(semi.select("id").as[Long].collect().toSet == Set(1L, 2L))
    val anti = DflFrame.pipeline(left, "join(@, $r, '@v', '@rid', 'anti')", vars)
    assert(anti.select("id").as[Long].collect().toSet == Set(3L))
    intercept[DflParseException] { DflFrame.pipeline(left,
      "join(@, $r, '@v')", vars) }
    intercept[DflParseException] { DflFrame.pipeline(left,
      "join(@, $r, '@v', '@rid', 'outer')", vars) }
    // the broadcast hint forces a BroadcastHashJoin on the bound side
    // (the explicit dim-table lever when AQE can't see the var is small)
    val hinted = DflFrame.pipeline(left,
      "join(@, $r, '@v', '@rid', 'inner', 'broadcast')", vars)
    assert(hinted.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    assert(hinted.select("id").as[Long].collect().toSet == Set(1L, 2L))
    intercept[DflParseException] { DflFrame.pipeline(left,
      "join(@, $r, '@v', '@rid', 'inner', 'nested')", vars) }
  }

  test("dedupAgainst/dupPairsAgainst(@) match the cross-corpus Scala API") {
    val newDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val refDocs = docs.filter(col("doc_id") % 3 === 0)
    val vars = Map[String, Any]("ref" -> refDocs)
    val pairsDfl = DflFrame.pipeline(newDocs,
        "dupPairsAgainst(@, '@doc_id', '@text', $ref, 0.8)", vars)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairsApi = Dedup.minhashPairsAgainst(newDocs, refDocs, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsApi.nonEmpty && pairsDfl == pairsApi)
    // jaccard method dispatch reaches the PPJoin variant (same set here)
    val pairsJac = DflFrame.pipeline(newDocs,
        "dupPairsAgainst(@, '@doc_id', '@text', $ref, 0.8, 'jaccard')", vars)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsJac == pairsApi)
    val survDfl = ids(DflFrame.pipeline(newDocs,
      "dedupAgainst(@, '@doc_id', '@text', $ref) | map(@, '{doc_id: @doc_id}')", vars))
    val survApi = ids(Dedup.survivorsAgainst(newDocs, "doc_id",
      Dedup.minhashPairsAgainst(newDocs, refDocs, "doc_id", "text", 0.8))
      .select("doc_id"))
    assert(survDfl == survApi)
    // exact method = fingerprint anti-join; original columns preserved
    val exDfl = DflFrame.pipeline(newDocs,
      "dedupAgainst(@, '@doc_id', '@text', $ref, 0.8, 'exact')", vars)
    assert(exDfl.columns.toSet == docs.columns.toSet)
    assert(ids(exDfl.select("doc_id")) ==
      ids(Dedup.exactSurvivorsAgainst(newDocs, refDocs, "doc_id", "text")
        .select("doc_id")))
    // rejections: arity, unknown method, exact pairs, unbound $var
    intercept[DflParseException] { DflFrame.pipeline(newDocs,
      "dedupAgainst(@, '@doc_id', '@text')", vars) }
    intercept[DflParseException] { DflFrame.pipeline(newDocs,
      "dedupAgainst(@, '@doc_id', '@text', $ref, 0.8, 'bogus')", vars) }
    intercept[DflParseException] { DflFrame.pipeline(newDocs,
      "dupPairsAgainst(@, '@doc_id', '@text', $ref, 0.8, 'exact')", vars) }
    intercept[DflParseException] { DflFrame.pipeline(newDocs,
      "dedupAgainst(@, '@doc_id', '@text', $nope)", vars) }
  }

  test("decontam/contamHits(@) match the Scala API; $bench binds in-pipeline too") {
    import spark.implicits._
    val bench = docs.filter($"doc_id" % 23 === 0)
    val corpus = docs.filter($"doc_id" % 23 =!= 0)
    // benchmark seeded as a caller var (the catalog-service shape)
    val survDfl = ids(DflFrame.pipeline(corpus,
      "decontam(@, '@doc_id', '@text', $bench, 8) | map(@, '{doc_id: @doc_id}')",
      Map("bench" -> bench)))
    val survApi = ids(graft.llm.TextAnalysis.decontaminate(
      corpus, "doc_id", "text", bench, "text", 8).select("doc_id"))
    assert(survDfl == survApi && survDfl.size < corpus.count())
    // survivors keep their original columns (no temp-column residue)
    val full = DflFrame.pipeline(corpus,
      "decontam(@, '@doc_id', '@text', $bench, 8)", Map("bench" -> bench))
    assert(full.columns.toSet == docs.columns.toSet)
    // hits report matches the API
    val hitsDfl = DflFrame.pipeline(corpus,
      "contamHits(@, '@doc_id', '@text', $bench, 8)", Map("bench" -> bench))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hitsApi = graft.llm.TextAnalysis.contaminationHits(
      corpus, "doc_id", "text", bench, "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hitsDfl.nonEmpty && hitsDfl == hitsApi)
    // $bench bound by an earlier `:=` stage works the same: the binding
    // leaves the CURRENT dataset as the bound one, so re-enter via a var
    // seeded pipeline is the canonical shape; a non-dataset arg errors
    val e = intercept[DflParseException](DflFrame.pipeline(corpus,
      "decontam(@, '@doc_id', '@text', 'oops', 8)", Map.empty))
    assert(e.getMessage.contains("expected dataset var arg"))
    // unbound benchmark var errors clearly
    val e2 = intercept[DflParseException](DflFrame.pipeline(corpus,
      "decontam(@, '@doc_id', '@text', $nosuch, 8)"))
    assert(e2.getMessage.contains("unbound dataset"))
  }

  test("decontamBloom(@) matches the exact decontam stage") {
    import spark.implicits._
    val bench = docs.filter($"doc_id" % 23 === 0)
    val corpus = docs.filter($"doc_id" % 23 =!= 0)
    val bloom = ids(DflFrame.pipeline(corpus,
      "decontamBloom(@, '@doc_id', '@text', $bench, 8) | map(@, '{doc_id: @doc_id}')",
      Map("bench" -> bench)))
    val exact = ids(DflFrame.pipeline(corpus,
      "decontam(@, '@doc_id', '@text', $bench, 8) | map(@, '{doc_id: @doc_id}')",
      Map("bench" -> bench)))
    assert(bloom == exact && bloom.nonEmpty)
  }

  test("annRange(@) matches the Scala API, dispatches methods, rejects bad args") {
    import spark.implicits._
    val q = emb.filter($"vec_id" === 0)
      .select($"embedding").head().getSeq[Float](0).map(_.toDouble)
    val dfl = DflFrame.pipeline(emb, "annRange(@, '@vec_id', '@embedding', $q, 0.5)",
        Map("q" -> q))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val api = graft.llm.Similarity.bruteForceRange(emb, "vec_id", "embedding",
        q, 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(dfl == api && dfl.nonEmpty)
    // the query vector itself is in range at cos 1.0
    assert(dfl.exists(_._1 == 0L))
    // explicit 'exact' is the same path
    val dflExplicit = DflFrame.pipeline(emb,
        "annRange(@, '@vec_id', '@embedding', $q, 0.5, 'exact')", Map("q" -> q))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(dflExplicit == api)
    // indexed methods: precision is EXACT (results ⊆ brute force) and
    // the query's own row (Hamming 0 / rank-0 list) is always recalled
    Seq("lsh", "ivf").foreach { m =>
      val got = DflFrame.pipeline(emb,
          s"annRange(@, '@vec_id', '@embedding', $$q, 0.5, '$m')", Map("q" -> q))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got.subsetOf(api) && got.exists(_._1 == 0L), s"method $m")
    }
    // a tuning arg the exact method would ignore is a loud error
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annRange(@, '@vec_id', '@embedding', $q, 0.5, 'exact', 4)", Map("q" -> q)))
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annRange(@, '@vec_id', '@embedding', $q, 0.5, 'bogus')", Map("q" -> q)))
  }

  test("annRangeBatch(@) matches the Scala API and dispatches methods") {
    import spark.implicits._
    val queries = emb.filter($"vec_id" < 2)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qs: Seq[Seq[Any]] = queries.map { case (id, v) => Seq[Any](id, v) }
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val dfl = toMap(DflFrame.pipeline(emb,
      "annRangeBatch(@, '@vec_id', '@embedding', $qs, 0.5)", Map("qs" -> qs)))
    val api = toMap(graft.llm.Similarity.bruteForceRangeBatch(
      emb, "vec_id", "embedding", queries, 0.5))
    assert(dfl == api && dfl.nonEmpty)
    // indexed methods: exact precision, guaranteed self-recall per query
    Seq("lsh", "ivf").foreach { m =>
      val got = toMap(DflFrame.pipeline(emb,
        s"annRangeBatch(@, '@vec_id', '@embedding', $$qs, 0.5, '$m')",
        Map("qs" -> qs)))
      queries.foreach { case (qid, _) =>
        val g = got.getOrElse(qid, Set.empty)
        assert(g.subsetOf(api(qid)) && g.exists(_._1 == qid), s"$m qid $qid")
      }
    }
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annRangeBatch(@, '@vec_id', '@embedding', $qs, 0.5, 'exact', 4)",
      Map("qs" -> qs)))
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annRangeBatch(@, '@vec_id', '@embedding', $qs, 0.5, 'bogus')",
      Map("qs" -> qs)))
  }

  test("mix(@) matches the Scala API") {
    import spark.implicits._
    val dfl = ids(DflFrame.pipeline(docs,
      "mix(@, '@doc_id', '@lang', 0.5, 11) | map(@, '{doc_id: @doc_id}')"))
    val api = ids(graft.llm.Sampling.temperatureMix(docs, "doc_id", "lang",
      0.5, 11).select("doc_id"))
    assert(dfl == api && dfl.nonEmpty && dfl.size < docs.count())
  }

  test("decontamScrub(@) matches the Scala API") {
    import spark.implicits._
    val bench = docs.filter($"doc_id" % 23 === 0)
    val corpus = docs.filter($"doc_id" % 23 =!= 0)
    val dfl = DflFrame.pipeline(corpus,
      "decontamScrub(@, '@doc_id', '@text', $bench, 8)", Map("bench" -> bench))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val api = graft.llm.TextAnalysis.scrubContamSpans(corpus, "doc_id", "text",
        bench, "text", 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(dfl == api && dfl.size == corpus.count())
  }

  test("dedupSpans(@) matches the Scala API") {
    import spark.implicits._
    val dfl = DflFrame.pipeline(docs, "dedupSpans(@, '@doc_id', '@text', 16)")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val api = graft.llm.TextAnalysis.removeDupSpans(docs, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(dfl == api && dfl.size == docs.count())
  }

  test("vocab(@) and tfidf(@) match the Scala API") {
    import spark.implicits._
    val v = DflFrame.pipeline(docs, "vocab(@, '@text', 50)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val vApi = graft.llm.TextAnalysis.vocabulary(docs, "text", 50)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // the synthetic corpus has a small closed vocabulary — topV caps, not pads
    assert(v == vApi && v.nonEmpty && v.size <= 50)
    val tf = DflFrame.pipeline(docs, "tfidf(@, '@doc_id', '@text', 3)")
    assert(tf.columns.toSeq == Seq("id", "term", "tf", "score", "rnk"))
    val tfApi = graft.llm.TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3)
    assert(tf.count() == tfApi.count())
    val one = tf.filter($"id" === 1L).collect().map(r =>
      (r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    val oneApi = tfApi.filter($"doc_id" === 1L).collect().map(r =>
      (r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
    assert(one == oneApi)
  }

  test("sample(@) matches the Scala API and stays streamable") {
    import spark.implicits._
    val dfl = ids(DflFrame.pipeline(docs,
      "sample(@, '@doc_id', 0.2, 9) | map(@, '{doc_id: @doc_id}')"))
    val api = ids(graft.llm.Sampling.sampleByHash(docs, "doc_id", 0.2, seed = 9)
      .select("doc_id"))
    assert(dfl == api && dfl.nonEmpty && dfl.size < docs.count())
    // survivors keep their original columns
    assert(DflFrame.pipeline(docs, "sample(@, '@doc_id', 0.2, 9)")
      .columns.toSet == docs.columns.toSet)
    // a pure row-local filter: valid in stream mode, unlike the
    // whole-dataset LLM stages
    graft.streaming.StreamRunner.validateStreamable("jsonl",
      "sample(@, '@doc_id', 0.2, 9) | map(@, '{doc_id: @doc_id}')")
  }

  test("annTopK(@) exact equals brute force; $query comes from exec vars") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val dfl = DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10)", Map("q" -> q))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val api = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dfl == api)
    assert(dfl.head._1 == 0L && dfl.head._2 == 1.0) // the query is its own 1-NN
  }

  test("annTopK(@) ivf and lsh methods run the indexed lifecycles") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    // both approximate paths are deterministic (fixed seeds, deterministic
    // training), so the DFL indexed probe equals the ad-hoc Scala form
    val ivfDfl = ids(DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf')", Map("q" -> q)))
    val ivfApi = ids(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("ivf")),
      Ann.Probe(Ann.One(q), Ann.TopK(10))))
    assert(ivfDfl == ivfApi)
    val lshDfl = ids(DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'lsh')", Map("q" -> q)))
    val lshApi = ids(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.One(q), Ann.TopK(10))))
    assert(lshDfl == lshApi)
    assert(ivfDfl.contains(0L) && lshDfl.contains(0L))
    // the optional tuning arg is the Scala API's query-time knob: ivf →
    // nprobe, lsh → minCandidates — passthrough proven by equality at a
    // NON-default value
    val ivfT = ids(DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf', 2)", Map("q" -> q)))
    assert(ivfT == ids(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("ivf")),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(2)))))
    val lshT = ids(DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'lsh', 5)", Map("q" -> q)))
    assert(lshT == ids(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(5)))))
  }

  test("annTopKBatch(@) equals per-query answers; ivf shares annTopK's cached index") {
    // the batch var carries [id, vector] pairs — the shape a JSON request
    // variable parses to on the HTTP surface
    val queries = emb.filter(col("vec_id") < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qsVar: Seq[Seq[Any]] = queries.map { case (id, v) => Seq(id, v) }
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val batch = grouped(DflFrame.pipeline(emb,
      "annTopKBatch(@, '@vec_id', '@embedding', $qs, 5)", Map("qs" -> qsVar)))
    queries.foreach { case (qid, q) =>
      val single = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"query $qid")
    }
    // ivf and lsh batches probe the same plan-keyed cached indexes the
    // single-query stages build — per-query equality with the single path
    Seq("ivf", "lsh").foreach { method =>
      val batchM = grouped(DflFrame.pipeline(emb,
        s"annTopKBatch(@, '@vec_id', '@embedding', $$qs, 5, '$method')",
        Map("qs" -> qsVar)))
      queries.foreach { case (qid, q) =>
        val single = DflFrame.pipeline(emb,
          s"annTopK(@, '@vec_id', '@embedding', $$q, 5, '$method')", Map("q" -> q))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
        assert(batchM(qid) == single, s"$method query $qid")
      }
    }
  }

  test("hybridProbe(@) fuses two persistent indexes; layout dispatch, ivfpq RRF-only, bad dirs loud") {
    import spark.implicits._
    val qtext = "spark stream window merge"
    val hEmb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val qvec = graft.llm.TextAnalysis.hashEmbed(
      Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
      dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
    val root = java.nio.file.Files.createTempDirectory("graft-hprobe").toString
    val bmDir = s"$root/bm"
    graft.llm.Retrieval.bm25Build(docs, "doc_id", "text", bmDir, pbands = 16)
    val vecs = hEmb.select(col("doc_id"), col("vec"))
    val ivfDir = s"$root/ivf"
    graft.llm.Similarity.ivfBuild(vecs, "doc_id", "vec", ivfDir, kLists = 4,
      trainSample = 64)
    val vars = Map[String, Any]("bm" -> bmDir, "ann" -> ivfDir, "q" -> qvec)
    // RRF form ≡ the API composition over the SAME indexes
    val got = DflFrame.pipeline(docs,
        s"hybridProbe(@, $$bm, $$ann, '$qtext', $$q, 5)", vars)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val lex = Retrieval.probe(Retrieval.Dir(spark, bmDir),
        Retrieval.Probe(Retrieval.One(qtext.split(" ").toSeq), 10))
      .select("id", "rnk")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("id").asc)
    val sem = Ann.probe(Ann.Dir(spark, ivfDir), Ann.Probe(Ann.One(qvec), Ann.TopK(10)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select("id", "rnk")
    val want = graft.llm.Retrieval.rrfFuse(Seq(lex, sem), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == want && got.nonEmpty)
    // MMR form runs over the float layout
    val gotM = DflFrame.pipeline(docs,
        s"hybridProbe(@, $$bm, $$ann, '$qtext', $$q, 5, 0.7)", vars)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(gotM.nonEmpty && gotM.map(_._2) == (1L to gotM.size.toLong))
    // ivfpq leg: RRF form serves; MMR is rejected for a CODES-ONLY
    // index (no floats for the penalty cosines) but serves from the
    // float sidecar of a keepVectors build
    val pqDir = s"$root/pq"
    graft.llm.Pq.ivfPqBuild(vecs, "doc_id", "vec", pqDir, kLists = 4,
      m = 8, k = 16)
    val pqVars = vars + ("ann" -> pqDir)
    assert(DflFrame.pipeline(docs,
      s"hybridProbe(@, $$bm, $$ann, '$qtext', $$q, 5)", pqVars)
      .count() == 5)
    val pqErr = intercept[DflParseException](DflFrame.pipeline(docs,
      s"hybridProbe(@, $$bm, $$ann, '$qtext', $$q, 5, 0.7)", pqVars))
    assert(pqErr.getMessage.contains("vectors_f32"))
    val pqKvDir = s"$root/pqkv"
    graft.llm.Pq.ivfPqBuild(vecs, "doc_id", "vec", pqKvDir, kLists = 4,
      m = 8, k = 16, keepVectors = true)
    val kvFrame = DflFrame.pipeline(docs,
        s"hybridProbe(@, $$bm, $$ann, '$qtext', $$q, 5, 0.7)",
        vars + ("ann" -> pqKvDir))
    // the MMR candidate fetch must PRUNE the sidecar scan: the fused
    // pool's ids push into the parquet read (In(id, …) in PushedFilters)
    // — a broadcast join alone reads the whole corpus-sized sidecar
    val kvPlan = kvFrame.queryExecution.executedPlan.toString
    assert(kvPlan.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(id.*"),
      s"MMR candidate fetch plan lacks the pushed id In filter:\n$kvPlan")
    val gotKvM = kvFrame
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(gotKvM.nonEmpty && gotKvM.map(_._2) == (1L to gotKvM.size.toLong))
    // wrong-family dirs fail with self-describing errors
    assert(intercept[DflParseException](DflFrame.pipeline(docs,
      s"hybridProbe(@, $$ann, $$ann, '$qtext', $$q, 5)",
      vars)).getMessage.contains("not a bm25 index"))
    assert(intercept[DflParseException](DflFrame.pipeline(docs,
      s"hybridProbe(@, $$bm, $$bm, '$qtext', $$q, 5)",
      vars)).getMessage.contains("not an ANN index"))
    // stream fence
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        s"hybridProbe(@, $$bm, $$ann, 'spark', $$q, 5)"))
  }

  test("annRangeProbe(@): range probe of persistent indexes equals the library probes; refined form; fences") {
    val root = java.nio.file.Files.createTempDirectory("graft-rprobe").toString
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // float layouts: stage ≡ library, true cosines (self id at 1.0)
    val ivfDir = s"$root/ivf"
    graft.llm.Similarity.ivfBuild(vecs, "vec_id", "embedding", ivfDir,
      kLists = 4, trainSample = 64)
    val gotIvf = rows(DflFrame.pipeline(emb,
      "annRangeProbe(@, $idx, $q, 0.8, 2)",
      Map[String, Any]("idx" -> ivfDir, "q" -> q)))
    assert(gotIvf == rows(Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.One(q), Ann.Range(0.8), tuning = Some(2)))) && gotIvf.contains((3L, 1.0)), gotIvf.toString)
    val lshDir = s"$root/lsh"
    graft.llm.Similarity.lshBuild(vecs, "vec_id", "embedding", lshDir,
      nBits = 8, dim = 64)
    assert(rows(DflFrame.pipeline(emb, "annRangeProbe(@, $idx, $q, 0.8)",
      Map[String, Any]("idx" -> lshDir, "q" -> q)))
      == rows(Ann.probe(Ann.Dir(spark, lshDir), Ann.Probe(Ann.One(q), Ann.Range(0.8)))))
    // ivfpq: unrefined thresholds the reconstruction contract; refined
    // (keepVectors) verifies TRUE cosines at the 0.05·N loosened net
    val pqDir = s"$root/pq"
    graft.llm.Pq.ivfPqBuild(vecs, "vec_id", "embedding", pqDir,
      kLists = 4, m = 8, k = 16, keepVectors = true)
    assert(rows(DflFrame.pipeline(emb, "annRangeProbe(@, $idx, $q, 0.8, 2)",
      Map[String, Any]("idx" -> pqDir, "q" -> q)))
      == rows(Ann.probe(Ann.Dir(spark, pqDir),
        Ann.Probe(Ann.One(q), Ann.Range(0.8), tuning = Some(2)))))
    val gotRef = rows(DflFrame.pipeline(emb,
      "annRangeProbe(@, $idx, $q, 0.8, 2, 4)",
      Map[String, Any]("idx" -> pqDir, "q" -> q)))
    assert(gotRef == rows(Ann.probe(Ann.Dir(spark, pqDir),
      Ann.Probe(Ann.One(q), Ann.Range(0.8), tuning = Some(2), refine = Some(4)))), gotRef.toString)
    assert(gotRef.contains((3L, 1.0)),
      "refined range scores are TRUE cosines — the self id verifies at 1.0")
    // fences: refine on a float layout, refine without the sidecar,
    // wrong-family and non-index dirs, the stream fence
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annRangeProbe(@, $idx, $q, 0.8, 2, 4)",
      Map[String, Any]("idx" -> ivfDir, "q" -> q)))
      .getMessage.contains("only to an ivfpq"))
    val bare = s"$root/bare"
    graft.llm.Pq.ivfPqBuild(vecs, "vec_id", "embedding", bare,
      kLists = 4, m = 8, k = 16)
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annRangeProbe(@, $idx, $q, 0.8, 2, 4)",
      Map[String, Any]("idx" -> bare, "q" -> q)))
      .getMessage.contains("sidecar"))
    val bmDir2 = s"$root/bm2"
    graft.llm.Retrieval.bm25Build(docs, "doc_id", "text", bmDir2, pbands = 16)
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annRangeProbe(@, $idx, $q, 0.8)",
      Map[String, Any]("idx" -> bmDir2, "q" -> q)))
      .getMessage.contains("bm25"))
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annRangeProbe(@, $idx, $q, 0.8)",
      Map[String, Any]("idx" -> s"$root/nothere", "q" -> q)))
      .getMessage.contains("not a built index"))
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        "annRangeProbe(@, $idx, $q, 0.8)"))
  }

  test("annProbeFiltered(@): filtered probe of persistent indexes equals the library probes; refined form; fences") {
    val root = java.nio.file.Files.createTempDirectory("graft-fprobe").toString
    val vecs = emb.select(col("vec_id"), col("embedding"),
      (col("vec_id") % 2).cast("int").as("flag"))
    val q = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val ivfDir = s"$root/ivf"
    graft.llm.Similarity.ivfBuild(vecs, "vec_id", "embedding", ivfDir,
      kLists = 4, trainSample = 64, metaCols = Seq("flag"))
    val gotIvf = rows(DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1', 2)",
      Map[String, Any]("idx" -> ivfDir, "q" -> q)))
    assert(gotIvf == rows(Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 1), tuning = Some(2)))), gotIvf.toString)
    assert(gotIvf.contains((3L, 1.0)) && gotIvf.forall(_._1 % 2 == 1),
      s"every hit must satisfy the predicate: $gotIvf")
    val lshDir = s"$root/lsh"
    graft.llm.Similarity.lshBuild(vecs, "vec_id", "embedding", lshDir,
      nBits = 8, dim = 64, metaCols = Seq("flag"))
    assert(rows(DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1')",
      Map[String, Any]("idx" -> lshDir, "q" -> q)))
      == rows(Ann.probe(Ann.Dir(spark, lshDir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 1)))))
    // ivfpq: plain thresholds the reconstruction contract; refined
    // (keepVectors) reranks TRUE cosines over eligible rows — the
    // round-19 --filter --refine serving shape as a stage
    val pqDir = s"$root/pq"
    graft.llm.Pq.ivfPqBuild(vecs, "vec_id", "embedding", pqDir,
      kLists = 4, m = 8, k = 16, keepVectors = true, metaCols = Seq("flag"))
    assert(rows(DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1', 2)",
      Map[String, Any]("idx" -> pqDir, "q" -> q)))
      == rows(Ann.probe(Ann.Dir(spark, pqDir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 1), tuning = Some(2)))))
    val gotRef = rows(DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1', 2, 4)",
      Map[String, Any]("idx" -> pqDir, "q" -> q)))
    assert(gotRef == rows(Ann.probe(Ann.Dir(spark, pqDir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 1), tuning = Some(2),
        refine = Some(4)))),
      gotRef.toString)
    assert(gotRef.contains((3L, 1.0)),
      "refined scores are TRUE cosines — the eligible self id reranks at 1.0")
    // fences: refine on a float layout, refine without the sidecar,
    // wrong family, non-index, arity, the stream fence
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1', 2, 4)",
      Map[String, Any]("idx" -> ivfDir, "q" -> q)))
      .getMessage.contains("only to an ivfpq"))
    val bare = s"$root/bare"
    graft.llm.Pq.ivfPqBuild(vecs, "vec_id", "embedding", bare,
      kLists = 4, m = 8, k = 16, metaCols = Seq("flag"))
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1', 2, 4)",
      Map[String, Any]("idx" -> bare, "q" -> q)))
      .getMessage.contains("sidecar"))
    val bmDir = s"$root/bm"
    graft.llm.Retrieval.bm25Build(docs, "doc_id", "text", bmDir, pbands = 16)
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1')",
      Map[String, Any]("idx" -> bmDir, "q" -> q)))
      .getMessage.contains("bm25"))
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5, '@flag == 1')",
      Map[String, Any]("idx" -> s"$root/nothere", "q" -> q)))
      .getMessage.contains("not a built index"))
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbeFiltered(@, $idx, $q, 5)",
      Map[String, Any]("idx" -> ivfDir, "q" -> q)))
      .getMessage.contains("annProbeFiltered takes"))
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        "annProbeFiltered(@, $idx, $q, 5, '@flag == 1')"))
  }

  test("annProbeBatch/bm25ProbeBatch: every slice equals the single probe; pair shapes and families enforced") {
    val root = java.nio.file.Files.createTempDirectory("graft-probeb").toString
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val ivfDir = s"$root/ivf"
    graft.llm.Similarity.ivfBuild(vecs, "vec_id", "embedding", ivfDir,
      kLists = 4, trainSample = 64)
    val bmDir = s"$root/bm"
    graft.llm.Retrieval.bm25Build(docs, "doc_id", "text", bmDir, pbands = 16)
    val queries = emb.filter(col("vec_id") < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val qsVar: Seq[Seq[Any]] = queries.map { case (id, v) => Seq(id, v) }
    val batch = DflFrame.pipeline(emb, "annProbeBatch(@, $idx, $qs, 5)",
        Map[String, Any]("idx" -> ivfDir, "qs" -> qsVar))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = DflFrame.pipeline(emb, "annProbe(@, $idx, $q, 5)",
          Map[String, Any]("idx" -> ivfDir, "q" -> q))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"ann qid $qid")
    }
    val tQs: Seq[Seq[Any]] = Seq(Seq(1L, "spark stream window"),
      Seq(2L, "merge sort"))
    val bmBatch = DflFrame.pipeline(docs, "bm25ProbeBatch(@, $idx, $qs, 5)",
        Map[String, Any]("idx" -> bmDir, "qs" -> tQs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3, t._4)).toSet).toMap
    Seq(1L -> "spark stream window", 2L -> "merge sort").foreach {
      case (qid, terms) =>
        val single = DflFrame.pipeline(docs,
            s"bm25Probe(@, $$idx, '$terms', 5)",
            Map[String, Any]("idx" -> bmDir))
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
        assert(bmBatch(qid) == single, s"bm25 qid $qid")
    }
    // wrong families, malformed pairs, and the fence all fail loudly
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbeBatch(@, $idx, $qs, 5)",
      Map[String, Any]("idx" -> bmDir, "qs" -> qsVar)))
      .getMessage.contains("use bm25ProbeBatch"))
    assert(intercept[DflParseException](DflFrame.pipeline(docs,
      "bm25ProbeBatch(@, $idx, $qs, 5)",
      Map[String, Any]("idx" -> ivfDir, "qs" -> tQs)))
      .getMessage.contains("use annProbeBatch"))
    intercept[DflParseException](DflFrame.pipeline(docs,
      "bm25ProbeBatch(@, $idx, $qs, 5)",
      Map[String, Any]("idx" -> bmDir,
        "qs" -> (Seq(Seq(1L, "  ")): Any))))
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        "annProbeBatch(@, $idx, $qs, 5)"))
    // the refine arg: ivfpq+keepVectors serves TRUE cosines (the probe's
    // own vector tops at exactly 1.0); a float layout or a codes-only
    // ivfpq index rejects with the respective advice
    val pqKv = s"$root/pqkv"
    graft.llm.Pq.ivfPqBuild(vecs, "vec_id", "embedding", pqKv,
      kLists = 4, m = 8, k = 16, keepVectors = true)
    val q0 = queries.head._2
    val refined = DflFrame.pipeline(emb, "annProbe(@, $idx, $q, 1, 4, 4)",
        Map[String, Any]("idx" -> pqKv, "q" -> q0))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refined == Seq((queries.head._1, 1.0)), s"refined self: $refined")
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbe(@, $idx, $q, 5, 8, 4)",
      Map[String, Any]("idx" -> ivfDir, "q" -> q0)))
      .getMessage.contains("only to an ivfpq index"))
    val pqBare = s"$root/pqbare"
    graft.llm.Pq.ivfPqBuild(vecs, "vec_id", "embedding", pqBare,
      kLists = 4, m = 8, k = 16)
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbe(@, $idx, $q, 5, 8, 4)",
      Map[String, Any]("idx" -> pqBare, "q" -> q0)))
      .getMessage.contains("keepVectors"))
    // refined batch ≡ per-query refined probes, same contract as the
    // unrefined pair
    val refBatch = DflFrame.pipeline(emb, "annProbeBatch(@, $idx, $qs, 5, 4, 4)",
        Map[String, Any]("idx" -> pqKv, "qs" -> qsVar))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = DflFrame.pipeline(emb, "annProbe(@, $idx, $q, 5, 4, 4)",
          Map[String, Any]("idx" -> pqKv, "q" -> q))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(refBatch(qid) == single, s"refined ann qid $qid")
    }
    assert(intercept[DflParseException](DflFrame.pipeline(emb,
      "annProbeBatch(@, $idx, $qs, 5, 8, 4)",
      Map[String, Any]("idx" -> ivfDir, "qs" -> qsVar)))
      .getMessage.contains("only to an ivfpq index"))
  }

  test("DFL llm stages pay the index-build side effect only past graft.dfl.index.minBytes") {
    val idxBase = java.nio.file.Files.createTempDirectory("graft-dflmin").toString
    def idxDirs() = Option(new java.io.File(idxBase).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("idx-"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    spark.conf.set("graft.ivf.indexBase", idxBase)
    try {
      // under the DEFAULT threshold (32 MiB) a sub-MB file-backed corpus
      // takes the direct path: a one-off pipeline pays no build and
      // leaves no stamp dir for IndexGc to reclaim
      val direct = ids(DflFrame.pipeline(emb,
        "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf')", Map("q" -> q)))
      DflFrame.pipeline(docs,
        "bm25(@, '@doc_id', '@text', 'spark stream', 5)").collect()
      assert(idxDirs() == 0,
        "below graft.dfl.index.minBytes no index side effect is allowed")
      // forcing index-always (minBytes=0) engages the cached lifecycle —
      // stamp dir lands, answers value-identical (the index contract)
      spark.conf.set("graft.dfl.index.minBytes", "0")
      val indexed = ids(DflFrame.pipeline(emb,
        "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf')", Map("q" -> q)))
      assert(idxDirs() >= 1, "minBytes=0 must restore index-always")
      assert(indexed == direct,
        "direct and indexed paths must be value-identical")
    } finally {
      spark.conf.unset("graft.ivf.indexBase")
      spark.conf.unset("graft.dfl.index.minBytes")
    }
  }

  test("bm25 stage: k <= 0 is a parse error and bad knobs fail before any index build") {
    val idxBase = java.nio.file.Files.createTempDirectory("graft-dflbm25bad").toString
    spark.conf.set("graft.ivf.indexBase", idxBase)
    spark.conf.set("graft.dfl.index.minBytes", "0")
    try {
      assert(intercept[DflParseException](DflFrame.pipeline(docs,
        "bm25(@, '@doc_id', '@text', 'spark stream', 0)"))
        .getMessage == "bm25: k must be positive")
      assert(intercept[IllegalArgumentException](DflFrame.pipeline(docs,
        "bm25(@, '@doc_id', '@text', 'spark stream', 5, 1.2, 2)"))
        .getMessage.contains("b must be in [0, 1]"))
      assert(new java.io.File(idxBase).list().isEmpty,
        "a rejected bm25 stage must not build an index")
    } finally {
      spark.conf.unset("graft.ivf.indexBase")
      spark.conf.unset("graft.dfl.index.minBytes")
    }
  }

  test("in-memory corpora run the ad-hoc ANN paths — no schema-keyed cache collision") {
    import spark.implicits._
    // two DISTINCT in-memory corpora with IDENTICAL schemas: before the
    // ad-hoc fallback these canonicalized to the same cache key (a
    // LocalRelation's rows are invisible to the plan string) and the
    // second would silently probe the first's index
    def mk(ids: Seq[Long], shift: Double) = ids.map { i =>
      (i, (0 until 8).map(d => shift + i * 0.01 + d * 0.1))
    }.toDF("id", "v")
    val c1 = mk(1L to 20L, 0.0)
    val c2 = mk(101L to 120L, 5.0)
    val q1 = (0 until 8).map(d => 0.01 + d * 0.1)
    val q2 = (0 until 8).map(d => 5.0 + 1.01 + d * 0.1)
    Seq("ivf", "lsh").foreach { m =>
      val r1 = DflFrame.pipeline(c1,
        s"annTopK(@, '@id', '@v', $$q, 3, '$m')", Map("q" -> q1))
        .collect().map(_.getLong(0)).toSet
      assert(r1.nonEmpty && r1.forall(_ <= 20L), s"$m corpus1: $r1")
      val r2 = DflFrame.pipeline(c2,
        s"annTopK(@, '@id', '@v', $$q, 3, '$m')", Map("q" -> q2))
        .collect().map(_.getLong(0)).toSet
      assert(r2.nonEmpty && r2.forall(_ >= 101L),
        s"$m corpus2 served another corpus's rows: $r2")
    }
    // the batched stages take the same fallback
    val qs1: Seq[Seq[Any]] = Seq(Seq(1L, q1))
    val qs2: Seq[Seq[Any]] = Seq(Seq(1L, q2))
    Seq("ivf", "lsh").foreach { m =>
      val b1 = DflFrame.pipeline(c1,
        s"annTopKBatch(@, '@id', '@v', $$qs, 3, '$m')", Map("qs" -> qs1))
        .collect().map(_.getLong(1)).toSet
      assert(b1.nonEmpty && b1.forall(_ <= 20L), s"$m batch corpus1: $b1")
      val b2 = DflFrame.pipeline(c2,
        s"annTopKBatch(@, '@id', '@v', $$qs, 3, '$m')", Map("qs" -> qs2))
        .collect().map(_.getLong(1)).toSet
      assert(b2.nonEmpty && b2.forall(_ >= 101L),
        s"$m batch corpus2 served another corpus's rows: $b2")
    }
  }

  test("LLM stages compose with the rest of the pipeline and with := vars") {
    // dedup output feeds a filter + hist like any dataset stage
    val out = DflFrame.pipeline(docs,
      "dedup(@, '@doc_id', '@text') | hist(@, '@lang')")
    assert(out.columns.toSeq == Seq("key", "count") && out.count() > 0)
    // dataset-valued binding of a dedup result
    val (res, dsVars) = DflFrame.pipelineWithVars(docs,
      "$clean := nearDedup(@, '@doc_id', '@text', 0.8) | len(@)")
    assert(dsVars.contains("clean"))
    assert(res.head().getLong(0) ==
      Dedup.survivors(docs, "doc_id",
        Dedup.minhashPairs(docs, "doc_id", "text", 0.8)).count())
  }

  test("annTopK inline query vectors accept negative components") {
    // '-0.5' parses as Unary("-", 0.5) — the lexer has no negative
    // literals — and real embeddings are full of negative components
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0, -0.5, 0.25)),
      (2L, Seq(-1.0, 0.5, -0.25)),
      (3L, Seq(0.0, 1.0, 0.0)),
    ).toDF("id", "v")
    val out = DflFrame.pipeline(df, "annTopK(@, '@id', '@v', [1.0, -0.5, 0.25], 2)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.head == ((1L, 1.0)))  // exact match ranks first
    assert(out.map(_._1) == Seq(1L, 3L)) // the negation (id 2, cos −1) ranks last
    // negative numeric scalar args flow through the same fix
    val surv = DflFrame.pipeline(docs,
      "nearDupPairs(@, '@doc_id', '@text', -1.0, 'jaccard')")
    assert(surv.count() >= 0) // threshold −1 admits every verified pair
  }

  test("a filtered corpus never serves the unfiltered corpus's ANN index") {
    // same datastore, two services: the cache key must hash the PLAN, not
    // just the input files — otherwise whichever service runs first
    // builds the index and the other silently probes the wrong corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-dflkey").toString
    emb.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    // service A: unfiltered — builds and probes the full-corpus index
    val full = ids(DflFrame.pipeline(corpus,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf')", Map("q" -> q)))
    assert(full.contains(0L))
    // service B: upstream filter excludes the query's own vector and all
    // small ids; its results must come from the FILTERED corpus only
    val filtered = ids(DflFrame.pipeline(corpus,
      "filter(@, '@vec_id >= 20') | annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf')",
      Map("q" -> q)))
    assert(filtered.nonEmpty && filtered.forall(_ >= 20L),
      s"filtered ANN served unfiltered ids: ${filtered.mkString(",")}")
  }

  test("annTopK/annTopKBatch reject args beyond the tuning slot for EVERY method") {
    // 'exact' with a stray tuning arg was already rejected; ivf/lsh with
    // args past the tuning slot must be too — silently ignoring a config
    // arg is the mistake class this guard exists for
    val q = Seq(1.0, 2.0, 3.0)
    val qs: Seq[Seq[Any]] = Seq(Seq(1L, q))
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'exact', 5)", Map("q" -> q)))
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf', 2, 99)", Map("q" -> q)))
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annTopK(@, '@vec_id', '@embedding', $q, 10, 'lsh', 5, 99)", Map("q" -> q)))
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annTopKBatch(@, '@vec_id', '@embedding', $qs, 5, 'ivf', 2, 99)",
      Map("qs" -> qs)))
    intercept[DflParseException](DflFrame.pipeline(emb,
      "annTopKBatch(@, '@vec_id', '@embedding', $qs, 5, 'lsh', 50, 99)",
      Map("qs" -> qs)))
  }

  test("corpus cache keys survive debug-string truncation of the plan") {
    // LogicalPlan.toString truncates expression lists past
    // spark.sql.debug.maxToStringFields — with the key derived from the
    // truncating render, two pipelines whose only difference falls in the
    // truncated region (here: the projected EMBEDDING column, with the
    // limit squeezed to 1 so the 2-column Project truncates past 'id')
    // collided on one key and silently served each other's index
    val dir = java.nio.file.Files.createTempDirectory("graft-dflkey-trunc").toString
    emb.select(col("vec_id"), col("embedding"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => -x).as("embedding_neg"))
      .write.mode("overwrite").parquet(s"$dir/corpus")
    val corpus = spark.read.parquet(s"$dir/corpus")
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val prev = spark.conf.get("spark.sql.debug.maxToStringFields")
    spark.conf.set("spark.sql.debug.maxToStringFields", 1)
    try {
      // service A indexes the true embeddings: the query is its own 1-NN
      val a = DflFrame.pipeline(corpus,
        "annTopK(@, '@vec_id', '@embedding', $q, 1, 'ivf')", Map("q" -> q))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a == Seq((0L, 1.0)))
      // service B indexes the NEGATED embeddings — same files, same schema
      // (array<float>), plan differing only in the truncated slot. Its
      // answer must equal the ad-hoc Scala ANN over ITS corpus (both
      // paths are deterministic), never A's answer served from A's index
      val b = DflFrame.pipeline(corpus,
        "annTopK(@, '@vec_id', '@embedding_neg', $q, 1, 'ivf')", Map("q" -> q))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val bApi = Ann.probe(Ann.Adhoc(corpus.select(col("vec_id").as("id"), col("embedding_neg").as("v")),
          "id", "v", Ann.Build("ivf")),
        Ann.Probe(Ann.One(q), Ann.TopK(1))).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(b == bApi && b != a,
        s"negated-corpus ANN answered from the wrong index: $b vs $bApi")
    } finally spark.conf.set("spark.sql.debug.maxToStringFields", prev)
  }

  test("registry lists the LLM stages; stream mode rejects them") {
    val reg = Functions.registry
    Seq("dedup", "nearDedup", "nearDupPairs", "annTopK", "decontam",
      "contamHits").foreach(n => assert(reg.contains(n), n))
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        "nearDedup(@, '@doc_id', '@text')"))
    // every whole-dataset LLM stage is fenced out of stream mode,
    // including the cluster variants and decontamination
    Seq("nearDupClusters(@, '@doc_id', '@text')",
        "nearDedupClusters(@, '@doc_id', '@text')",
        "decontam(@, '@doc_id', '@text', $bench, 8)",
        "decontamBloom(@, '@doc_id', '@text', $bench, 8)",
        "pack(@, '@doc_id', '@text', 256)",
        "lmScore(@, '@doc_id', '@text')",
        "windowDups(@, '@doc_id', '@text')",
        "vocab(@, '@text', 100)",
        "tfidf(@, '@doc_id', '@text', 5)",
        "mix(@, '@doc_id', '@lang', 0.5)",
        "sessionize(@, '@u', '@ts', 1000, '@v')",
        "cap(@, '@id', '@dom', '@w', 100)",
        "asof(@, $r, '@k', '@ts')",
        "dedupSpans(@, '@doc_id', '@text')").foreach { src =>
      intercept[IllegalArgumentException](
        graft.streaming.StreamRunner.validateStreamable("jsonl", src))
    }
  }

  test("pack/lmScore/windowDups(@) match their Scala APIs") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val packDfl = DflFrame.pipeline(docs, "pack(@, '@doc_id', '@text', 256)")
    assert(packDfl.columns.head == "id")
    assert(rows(packDfl) == rows(
      graft.llm.Packing.packSequential(docs, "doc_id", "text", 256)
        .withColumnRenamed("doc_id", "id")))
    val greedyDfl = DflFrame.pipeline(docs,
      "pack(@, '@doc_id', '@text', 256, 'greedy')")
    assert(rows(greedyDfl) == rows(
      graft.llm.Packing.packGreedy(docs, "doc_id", "text", 256)
        .withColumnRenamed("doc_id", "id")))
    assert(rows(DflFrame.pipeline(docs, "lmScore(@, '@doc_id', '@text')")) ==
      rows(graft.llm.TextAnalysis.lmUnigramScore(docs, "doc_id", "text")
        .withColumnRenamed("doc_id", "id")))
    assert(rows(DflFrame.pipeline(docs, "windowDups(@, '@doc_id', '@text', 8)")) ==
      rows(graft.llm.TextAnalysis.windowDupStats(docs, "doc_id", "text", 8)
        .withColumnRenamed("doc_id", "id")))
    // config mistakes are rejected loudly, not silently discarded
    intercept[DflParseException](
      DflFrame.pipeline(docs, "pack(@, '@doc_id', '@text', 256, 'bogus')"))
    intercept[DflParseException](
      DflFrame.pipeline(docs, "lmScore(@, '@doc_id', '@text', 3)"))
  }

  test("temporal stages: sessionize/cap/asof match their Scala APIs") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val ev = Seq((1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 100L, 4.0), (2L, 3L, 8.0))
      .toDF("u", "ts", "v")
    assert(rows(DflFrame.pipeline(ev, "sessionize(@, '@u', '@ts', 10, '@v')")) ==
      rows(graft.temporal.Temporal.sessionStats(ev, "u", "ts", 10L, "v")
        .withColumnRenamed("u", "key")))
    val weighted = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 10L))
      .toDF("id", "dom", "w")
    assert(rows(DflFrame.pipeline(weighted, "cap(@, '@id', '@dom', '@w', 20, 3)")) ==
      rows(graft.llm.Sampling.budgetCap(weighted, "id", "dom", "w", 20L, 3L)))
    val left = Seq((1L, 10L, 100L), (1L, 25L, 101L)).toDF("k", "ts", "lid")
    val right = Seq((1L, 10L, "a"), (1L, 20L, "b")).toDF("k", "ts", "tag")
    val dfl = DflFrame.pipeline(left, "asof(@, $r, '@k', '@ts')",
      Map("r" -> right))
    assert(rows(dfl) == rows(graft.temporal.Temporal.asofJoin(
      left, right, Seq("k"), "ts", "ts")))
    // plain '@col' args use raw columns: no asof_k duplicate, no temp leak
    assert(dfl.columns.toSeq == Seq("k", "ts", "lid", "asof_ts_us", "asof_tag"))
    // topk: per-key top rows by order value, deterministic tiebreak
    val topkDfl = DflFrame.pipeline(ev, "topk(@, '@u', '@v', 1, '@ts')")
      .select("u", "ts", "v", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(topkDfl.toSet == Set((1L, 100L, 4.0, 1L), (2L, 3L, 8.0, 1L)))
    // rolling: trailing RANGE frame per key
    val rollDfl = DflFrame.pipeline(ev, "rolling(@, '@u', '@ts', '@v', 5)")
      .select("u", "ts", "roll_sum", "roll_n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(rollDfl == Set((1L, 0L, 1.0, 1L), (1L, 5L, 3.0, 2L),
      (1L, 100L, 4.0, 1L), (2L, 3L, 8.0, 1L)))
    // arity/config mistakes are loud
    intercept[DflParseException](
      DflFrame.pipeline(ev, "topk(@, '@u', '@v', 0)"))
    intercept[DflParseException](
      DflFrame.pipeline(ev, "rolling(@, '@u', '@ts', '@v')"))
    intercept[DflParseException](
      DflFrame.pipeline(ev, "sessionize(@, '@u', '@ts', 10)"))
    intercept[DflParseException](
      DflFrame.pipeline(weighted, "cap(@, '@id', '@dom', '@w')"))
    intercept[DflParseException](
      DflFrame.pipeline(left, "asof(@, $nope, '@k', '@ts')"))
  }

  test("round-12 stages match the Scala API and reject bad arity") {
    import spark.implicits._
    val target = docs.filter(col("doc_id") % 23 === 0)
    val corpus = docs.filter(col("doc_id") % 23 =!= 0)
    val vars = Map[String, Any]("t" -> target)
    // dsir through DFL == Dsir.dsirScores
    val dflScores = DflFrame.pipeline(corpus,
        "dsir(@, '@doc_id', '@text', $t)", vars)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val apiScores = graft.llm.Dsir.dsirScores(corpus, target, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(apiScores.nonEmpty && dflScores == apiScores)
    // dsirScore with a frozen model == scoreWith
    val model = graft.llm.Dsir.fit(corpus, target, "text")
    val dflServe = DflFrame.pipeline(corpus,
        "dsirScore(@, '@doc_id', '@text', $m)", Map[String, Any]("m" -> model))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(dflServe == apiScores)
    // containment survivors through nearDedup == the API arbitration
    val dflCont = DflFrame.pipeline(docs,
        "nearDedup(@, '@doc_id', '@text', 0.9, 'containment') | map(@, '@doc_id')")
      .collect().map(_.getLong(0)).toSet
    val apiCont = Dedup.containmentSurvivors(docs, "doc_id",
        Dedup.containmentPairs(docs, "doc_id", "text", 0.9))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dflCont == apiCont)
    // rejections: cluster variants on the directed relation; arity
    intercept[DflParseException](DflFrame.pipeline(docs,
      "nearDupClusters(@, '@doc_id', '@text', 0.9, 'containment')"))
    intercept[DflParseException](DflFrame.pipeline(corpus,
      "dsir(@, '@doc_id', '@text')", vars))
    intercept[DflParseException](DflFrame.pipeline(corpus,
      "dsirScore(@, '@doc_id', '@text')", vars))
    intercept[DflParseException](DflFrame.pipeline(corpus,
      "classify(@, '@doc_id', '@text', $w)", Map[String, Any]("w" -> Seq(1.0))))
    intercept[DflParseException](DflFrame.pipeline(corpus,
      "bpeSegment(@, '@doc_id', '@text')"))
  }

  test("round-14 stages: quantiles/mmr/wordpieceSegment match their Scala APIs; arity rejected") {
    import spark.implicits._
    // quantiles(@) == Sketches.qsBuild projection
    val dflQ = DflFrame.pipeline(docs, "quantiles(@, '@lang', '@n_chars')")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3))).toSet
    val per = graft.util.Sketches.qsBuild(docs, "lang", "n_chars", k = 8192)
    val apiQ = per.select(col("lang"),
        graft.util.Sketches.qsCount(col("sketch")),
        graft.util.Sketches.qsQuantile(col("sketch"), 0.5))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(apiQ.nonEmpty && dflQ == apiQ)
    // mmr(@) == Retrieval.mmrRerank on the same candidate frame
    val cands = Seq((1L, 0.9, Seq(1.0, 0.0)), (2L, 0.8, Seq(2.0, 0.0)),
      (3L, 0.5, Seq(0.0, 1.0))).toDF("id", "score", "vec")
    val dflM = DflFrame.pipeline(cands, "mmr(@, '@id', '@score', '@vec', 3, 0.7)")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val apiM = graft.llm.Retrieval.mmrRerank(cands, "id", "score", "vec", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(dflM == apiM && dflM.nonEmpty)
    // wordpieceSegment(@) == WordPiece.segment with the same vocab
    val vocab = Seq("l", "##o", "##w", "##e", "##s", "##t", "lo", "##st")
    val vdf = vocab.toDF("piece")
    val probe = Seq((1L, "lowest")).toDF("doc_id", "text")
    val dflW = DflFrame.pipeline(probe,
        "wordpieceSegment(@, '@doc_id', '@text', $v)", Map[String, Any]("v" -> vdf))
      .head().getString(2)
    val apiW = graft.llm.WordPiece.segment(probe, "doc_id", "text", vocab)
      .head().getString(2)
    assert(dflW == apiW && dflW == "lo ##w ##e ##st")
    // arity / empty-vocab rejections
    intercept[DflParseException](DflFrame.pipeline(docs, "quantiles(@, '@lang')"))
    intercept[DflParseException](DflFrame.pipeline(cands, "mmr(@, '@id', '@score', '@vec')"))
    intercept[DflParseException](DflFrame.pipeline(probe,
      "wordpieceSegment(@, '@doc_id', '@text', $v)",
      Map[String, Any]("v" -> vdf.filter(col("piece") === "zz"))))
  }

  test("tokSegment(@) dispatches by the artifact's recorded kind; bad args rejected; streamable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-tokseg").toString
    val probe = Seq((1L, "lowest low")).toDF("doc_id", "text")
    def dfl(uri: String, extra: String = ""): String =
      DflFrame.pipeline(probe,
        s"tokSegment(@, '@doc_id', '@text', 'artifact:$uri'$extra)")
        .head().getString(2)
    // wordpiece artifact → greedy longest-match (+ unk arg accepted)
    val wpVocab = Seq("l", "##o", "##w", "##e", "##s", "##t", "lo", "##st")
    graft.llm.TokenizerStore.saveWordPiece(spark, wpVocab, s"$root/wp")
    assert(dfl(s"$root/wp") ==
      graft.llm.WordPiece.segment(probe, "doc_id", "text", wpVocab)
        .head().getString(2))
    assert(dfl(s"$root/wp", ", '<unk>'") ==
      graft.llm.WordPiece.segment(probe, "doc_id", "text", wpVocab, "<unk>")
        .head().getString(2))
    // unigram artifact → Viterbi with the RECORDED max_piece_len
    val uni = Seq(graft.llm.Unigram.Piece("lowest", -1.0),
      graft.llm.Unigram.Piece("low", -1.5), graft.llm.Unigram.Piece("l", -3.0),
      graft.llm.Unigram.Piece("o", -3.0), graft.llm.Unigram.Piece("w", -3.0),
      graft.llm.Unigram.Piece("e", -3.0), graft.llm.Unigram.Piece("s", -3.0),
      graft.llm.Unigram.Piece("t", -3.0), graft.llm.Unigram.Piece("</w>", -0.5))
    graft.llm.TokenizerStore.saveUnigram(spark, uni, s"$root/uni",
      maxPieceLen = 6)
    assert(dfl(s"$root/uni") ==
      graft.llm.Unigram.segment(probe, "doc_id", "text", uni, 6)
        .head().getString(2))
    // char and byte BPE artifacts route to their distinct alphabets
    val docs3 = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val merges = graft.llm.Bpe.learnMerges(docs3, "text", numMerges = 4)
    graft.llm.TokenizerStore.saveBpe(spark, merges, s"$root/bpe")
    val byteMerges = graft.llm.Bpe.learnMerges(docs3, "text", numMerges = 4,
      byteLevel = true)
    graft.llm.TokenizerStore.saveByteBpe(spark, byteMerges, s"$root/bbpe")
    assert(dfl(s"$root/bpe") ==
      graft.llm.Bpe.segment(probe, "doc_id", "text", merges).head().getString(2))
    assert(dfl(s"$root/bbpe") ==
      graft.llm.Bpe.segmentByte(probe, "doc_id", "text", byteMerges)
        .head().getString(2))
    // unk on a non-wordpiece artifact is rejected (never silently ignored)
    intercept[DflParseException](DflFrame.pipeline(probe,
      s"tokSegment(@, '@doc_id', '@text', 'artifact:$root/uni', 'x')"))
    // a non-artifact dir is rejected loudly at plan time
    intercept[DflParseException](DflFrame.pipeline(probe,
      s"tokSegment(@, '@doc_id', '@text', 'artifact:$root/nope')"))
    // frozen-model row-local serving → NOT stream-fenced
    graft.streaming.StreamRunner.validateStreamable("jsonl",
      s"tokSegment(@, '@doc_id', '@text', 'artifact:$root/wp')")
  }

  test("hybrid(@) composes indexed BM25 ⊕ cosine ⊕ RRF (⊕ MMR) exactly like the API stack; arity/fence rejected") {
    import spark.implicits._
    val qtext = "spark stream window merge"
    val hEmb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val qvec = graft.llm.TextAnalysis.hashEmbed(
      Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
      dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
    val corpus = docs.select(col("doc_id"), col("text"))
      .join(hEmb.select(col("doc_id"), col("vec")), Seq("doc_id"))
    // API composition at the stage's own pools (2k = 20 per run)
    def apiStack(k: Int): org.apache.spark.sql.DataFrame = {
      val lex = Retrieval.probe(Retrieval.Scan(corpus, "doc_id", "text"),
          Retrieval.Probe(Retrieval.One(qtext.split(" ").toSeq), 2 * k))
        .select("id", "rnk")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cos").desc, col("id").asc)
      val sem = Similarity.bruteForceTopK(
          corpus.select(col("doc_id"), col("vec")), "doc_id", "vec",
          qvec, 2 * k)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select("id", "rnk")
      graft.llm.Retrieval.rrfFuse(Seq(lex, sem), 2 * k)
    }
    // no-lambda form: RRF top-k
    val dflF = DflFrame.pipeline(corpus,
        s"hybrid(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 5)",
        Map[String, Any]("q" -> qvec))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val apiF = apiStack(5).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(dflF == apiF && dflF.nonEmpty,
      "hybrid without lambda must be the RRF top-k of the two runs")
    // lambda form: MMR over the fused 2k pool
    val dflM = DflFrame.pipeline(corpus,
        s"hybrid(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 5, 0.7)",
        Map[String, Any]("q" -> qvec))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val fused = apiStack(5).select("id", "score")
    val cands = corpus.select(col("doc_id").as("id"), col("vec"))
      .join(broadcast(fused), Seq("id"))
    val apiM = graft.llm.Retrieval.mmrRerank(cands, "id", "score", "vec",
        5, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(dflM == apiM && dflM.nonEmpty,
      "hybrid with lambda must be the MMR re-rank of the fused pool")
    // arity / argument rejections
    intercept[DflParseException](DflFrame.pipeline(corpus,
      s"hybrid(@, '@doc_id', '@text', '@vec', '$qtext', $$q)",
      Map[String, Any]("q" -> qvec)))
    intercept[DflParseException](DflFrame.pipeline(corpus,
      s"hybrid(@, '@doc_id', '@text', '@vec', '  ', $$q, 5)",
      Map[String, Any]("q" -> qvec)))
    intercept[DflParseException](DflFrame.pipeline(corpus,
      s"hybrid(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 5, 1.5)",
      Map[String, Any]("q" -> qvec)))
    // whole-corpus statistics + index lifecycle → stream-fenced
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        s"hybrid(@, '@doc_id', '@text', '@vec', 'spark', $$q, 5)"))
  }

  test("hybridFiltered(@) restricts both legs to the predicate with corpus-global BM25 stats") {
    import spark.implicits._
    val qtext = "spark stream window merge"
    val hEmb = graft.llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
      dim = 16, seed = 7L)
    val qvec = graft.llm.TextAnalysis.hashEmbed(
      Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
      dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
    val corpus = docs.select(col("doc_id"), col("text"), col("lang"))
      .join(hEmb.select(col("doc_id"), col("vec")), Seq("doc_id"))
    val pred = col("lang") === "en"
    // API composition: filtered lexical leg (corpus-global stats,
    // predicate before ranking), pre-filtered semantic leg, RRF, MMR
    def apiStack(k: Int): org.apache.spark.sql.DataFrame = {
      val lex = Retrieval.probe(Retrieval.Scan(corpus, "doc_id", "text"),
          Retrieval.Probe(Retrieval.One(qtext.split(" ").toSeq), 2 * k,
            Some(pred)))
        .select("id", "rnk")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cos").desc, col("id").asc)
      val sem = Similarity.bruteForceTopK(
          corpus.filter(pred).select(col("doc_id"), col("vec")),
          "doc_id", "vec", qvec, 2 * k)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select("id", "rnk")
      graft.llm.Retrieval.rrfFuse(Seq(lex, sem), 2 * k)
    }
    val dflF = DflFrame.pipeline(corpus,
        s"""hybridFiltered(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 5, "@lang == 'en'")""",
        Map[String, Any]("q" -> qvec))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val apiF = apiStack(5).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(dflF == apiF && dflF.nonEmpty,
      "hybridFiltered without lambda must be the filtered RRF top-k")
    // every served id satisfies the predicate
    val enIds = corpus.filter(pred).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(dflF.map(_._1).forall(enIds), "a non-en id leaked through the filter")
    // the filter changes the answer vs the unfiltered stage (observable fixture)
    val unf = DflFrame.pipeline(corpus,
        s"hybrid(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 5)",
        Map[String, Any]("q" -> qvec))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(unf != dflF, "fixture must make the filter observable")
    // lambda form: MMR over the fused filtered pool
    val dflM = DflFrame.pipeline(corpus,
        s"""hybridFiltered(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 5, "@lang == 'en'", 0.7)""",
        Map[String, Any]("q" -> qvec))
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val fused = apiStack(5).select("id", "score")
    val cands = corpus.select(col("doc_id").as("id"), col("vec"))
      .join(broadcast(fused), Seq("id"))
    val apiM = graft.llm.Retrieval.mmrRerank(cands, "id", "score", "vec",
        5, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(dflM == apiM && dflM.nonEmpty,
      "hybridFiltered with lambda must be the MMR re-rank of the filtered pool")
    // arity rejection + stream fence
    intercept[DflParseException](DflFrame.pipeline(corpus,
      s"hybridFiltered(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 5)",
      Map[String, Any]("q" -> qvec)))
    intercept[IllegalArgumentException](
      graft.streaming.StreamRunner.validateStreamable("jsonl",
        s"""hybridFiltered(@, '@doc_id', '@text', '@vec', 'spark', $$q, 5, "@lang == 'en'")"""))
  }
}
