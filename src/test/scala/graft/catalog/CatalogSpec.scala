package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.llm.{Ann, Retrieval}
import java.nio.file.{Files, Paths}

class CatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixtureCatalog(dir: String): Catalog = {
    Files.writeString(Paths.get(s"$dir/places.jsonl"),
      """{"amenity":"bar","name":"A","qty":5}
        |{"amenity":"bar","name":"B","qty":50}
        |{"amenity":"cafe","name":"C","qty":7}""".stripMargin)
    val c = new Catalog
    c.add(Workspace("ws"))
    c.add(DataStore("ws", "places", s"'$dir/places.jsonl'"))
    c.add(DataStore("ws", "outstore", s"'$dir/out.jsonl'"))
    c.add(Process("filter_amenity",
      "filter(@, '@amenity == $kind') | map(@, '{name: @name, qty: @qty}')"))
    c.add(Service("svc", "places", "filter_amenity", defaults = Map("kind" -> "bar")))
    c.add(Job("job1", "svc", variables = Map("kind" -> "cafe"), output = Some("outstore")))
    c.add(Workflow("wf", Seq("job1"), variables = Map("kind" -> "bar")))
    c
  }

  test("service exec uses cache ← defaults ← request precedence") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val exec = new Exec(spark, fixtureCatalog(dir))
    // defaults: kind=bar
    assert(exec.serviceExec("svc").count() == 2)
    // request overrides defaults
    assert(exec.serviceExec("svc", Map("kind" -> "cafe")).count() == 1)
    // merged vars persisted: kind=cafe now cached, but defaults re-apply
    // on the next exec (defaults win over cache — reference order)
    assert(exec.serviceExec("svc").count() == 2)
  }

  test("datastore: var refs bind a second table for two-dataset stages") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val c = fixtureCatalog(dir)
    Files.writeString(Paths.get(s"$dir/retained.jsonl"),
      """{"id":90,"text":"same body of text here"}""".stripMargin)
    Files.writeString(Paths.get(s"$dir/fresh.jsonl"),
      """{"id":1,"text":"same body of text here"}
        |{"id":2,"text":"entirely different new content"}""".stripMargin)
    c.add(DataStore("ws", "fresh", s"'$dir/fresh.jsonl'"))
    c.add(DataStore("ws", "retained", s"'$dir/retained.jsonl'"))
    c.add(Process("xdedup",
      "dedupAgainst(@, '@id', '@text', $ref, 0.8, 'exact') | map(@, '@id')"))
    c.add(Service("xsvc", "fresh", "xdedup",
      defaults = Map("ref" -> "datastore:retained")))
    val exec = new Exec(spark, c)
    val out = exec.serviceExec("xsvc").collect().map(_.getLong(0)).toSet
    assert(out == Set(2L)) // id 1 matches the retained store's fingerprint
    // an unknown datastore ref fails loudly, not as an unbound-$var error
    c.add(Service("xbad", "fresh", "xdedup",
      defaults = Map("ref" -> "datastore:nope")))
    val err = intercept[NoSuchElementException] { exec.serviceExec("xbad") }
    assert(err.getMessage.contains("nope"))
  }

  test("datastore: refs re-resolve each exec — never served stale from the var cache") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val c = fixtureCatalog(dir)
    Files.writeString(Paths.get(s"$dir/retained.jsonl"),
      """{"id":90,"text":"same body of text here"}""".stripMargin)
    Files.writeString(Paths.get(s"$dir/fresh.jsonl"),
      """{"id":1,"text":"same body of text here"}
        |{"id":2,"text":"entirely different new content"}""".stripMargin)
    c.add(DataStore("ws", "fresh", s"'$dir/fresh.jsonl'"))
    c.add(DataStore("ws", "retained", s"'$dir/retained.jsonl'"))
    c.add(Process("xdedup",
      "dedupAgainst(@, '@id', '@text', $ref, 0.8, 'exact') | map(@, '@id')"))
    c.add(Service("xsvc", "fresh", "xdedup"))
    val exec = new Exec(spark, c)
    // ref bound via REQUEST var: the resolved DataFrame must not persist
    // into the service var cache (which is keyed on the PRIMARY store's
    // mtime and cannot see the referenced store change)
    val refVar = Map[String, Any]("ref" -> "datastore:retained")
    assert(exec.serviceExec("xsvc", refVar).collect()
      .map(_.getLong(0)).toSet == Set(2L))
    Thread.sleep(1100) // mtime granularity
    Files.writeString(Paths.get(s"$dir/retained.jsonl"),
      """{"id":91,"text":"entirely different new content"}""".stripMargin)
    // primary store unchanged, referenced store changed, and this exec
    // relies on the CACHED var (no request var): the ref must re-resolve
    // through the mtime-keyed datastore cache — id 2 now matches, id 1 no
    // longer does. A persisted DataFrame var would answer Set(2L), stale.
    assert(exec.serviceExec("xsvc").collect()
      .map(_.getLong(0)).toSet == Set(1L))
  }

  test("tokenizer: var refs bind stored artifacts — two in one exec; kind pin fails loudly on mismatch") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val c = fixtureCatalog(dir)
    Files.writeString(Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"lowest low"}""")
    c.add(DataStore("ws", "docs", s"'$dir/docs.jsonl'"))
    val wpVocab = Seq("l", "##o", "##w", "##e", "##s", "##t", "lo", "##st")
    val uniVocab = Seq("lo", "#", "w", "e", "st", "##w", "##e", "##st")
      .map(p => graft.llm.Unigram.Piece(p, -1.0))
    val wpDir = s"$dir/wp-art"; val uniDir = s"$dir/uni-art"
    graft.llm.TokenizerStore.saveWordPiece(spark, wpVocab, wpDir)
    graft.llm.TokenizerStore.saveUnigram(spark, uniVocab, uniDir)
    // TWO artifacts in ONE exec: wordpiece-segment the text, then
    // unigram-segment the rendered pieces — both models arrive as
    // tokenizer: refs, no vocab ships in the service definition
    c.add(Process("twotok",
      "wordpieceSegment(@, '@id', '@text', $wp) | " +
        "unigramSegment(@, '@id', '@pieces', $uni)"))
    c.add(Service("toksvc", "docs", "twotok", defaults = Map(
      "wp" -> s"tokenizer:wordpiece:$wpDir",
      "uni" -> s"tokenizer:unigram:$uniDir")))
    val exec = new Exec(spark, c)
    val got = exec.serviceExec("toksvc").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    // equivalence with the Scala API chain on the same artifacts
    val docs = spark.read.json(s"$dir/docs.jsonl")
    val api = graft.llm.Unigram.segment(
        graft.llm.WordPiece.segment(docs, "id", "text", wpVocab),
        "id", "pieces", uniVocab, 8)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(got == api && got.nonEmpty)
    // datastore-NAME indirection resolves through the catalog entry
    c.add(DataStore("ws", "wpstore", s"'$wpDir'"))
    c.add(Process("wponly", "wordpieceSegment(@, '@id', '@text', $wp)"))
    c.add(Service("wpsvc", "docs", "wponly",
      defaults = Map("wp" -> "tokenizer:wordpiece:wpstore")))
    assert(exec.serviceExec("wpsvc").head().getString(2)
      == "lo ##w ##e ##st lo ##w")
    // a kind-pinned ref bound to the WRONG artifact fails loudly
    c.add(Service("wpbad", "docs", "wponly",
      defaults = Map("wp" -> s"tokenizer:wordpiece:$uniDir")))
    val mism = intercept[IllegalArgumentException] { exec.serviceExec("wpbad") }
    assert(mism.getMessage.contains("'unigram'") &&
      mism.getMessage.contains("'wordpiece'"), mism.getMessage)
    // a ref to a non-artifact dir fails loudly, not as a read error
    c.add(Service("wpnone", "docs", "wponly",
      defaults = Map("wp" -> s"tokenizer:$dir")))
    val none = intercept[IllegalArgumentException] { exec.serviceExec("wpnone") }
    assert(none.getMessage.contains("not a tokenizer artifact"))
    // a unigram ref carries its RECORDED max_piece_len: a 9-char piece
    // trained under bound 12 must match through the ref — the stage
    // default of 8 would silently never match it
    Files.writeString(Paths.get(s"$dir/docs2.jsonl"),
      """{"id":1,"text":"lowestlow"}""")
    c.add(DataStore("ws", "docs2", s"'$dir/docs2.jsonl'"))
    val longVocab = Seq(graft.llm.Unigram.Piece("lowestlow", -0.5)) ++
      "lowest".distinct.map(ch => graft.llm.Unigram.Piece(ch.toString, -4.0))
    val longDir = s"$dir/uni-long"
    graft.llm.TokenizerStore.saveUnigram(spark, longVocab, longDir,
      maxPieceLen = 12)
    c.add(Process("unionly", "unigramSegment(@, '@id', '@text', $uni)"))
    c.add(Service("unisvc", "docs2", "unionly",
      defaults = Map("uni" -> s"tokenizer:unigram:$longDir")))
    val uniGot = exec.serviceExec("unisvc").head().getString(2)
    val docs2 = spark.read.json(s"$dir/docs2.jsonl")
    val want12 = graft.llm.Unigram.segment(docs2, "id", "text", longVocab, 12)
      .head().getString(2)
    val want8 = graft.llm.Unigram.segment(docs2, "id", "text", longVocab, 8)
      .head().getString(2)
    assert(want12 != want8, "fixture must make the bound observable")
    assert(uniGot == want12,
      s"recorded bound must reach serving through the ref: got '$uniGot', " +
        s"bound-12 want '$want12', default-8 would give '$want8'")
  }

  test("tokenizer: refs read artifact meta by FIELD NAME — a reordered meta sidecar still resolves") {
    val dir = Files.createTempDirectory("graft-cat-meta").toString
    val c = fixtureCatalog(dir)
    Files.writeString(Paths.get(s"$dir/docs.jsonl"),
      """{"id":1,"text":"lowest low"}""")
    c.add(DataStore("ws", "docs", s"'$dir/docs.jsonl'"))
    val wpVocab = Seq("l", "##o", "##w", "##e", "##s", "##t", "lo", "##st")
    val wpDir = s"$dir/wp-art"
    graft.llm.TokenizerStore.saveWordPiece(spark, wpVocab, wpDir)
    // rewrite the meta sidecar with its columns REVERSED — a legal
    // producer-side change an ordinal getString(0) would silently
    // misread as the artifact kind
    val meta = spark.read.parquet(s"$wpDir/meta")
    assert(meta.columns.length > 1 && meta.columns.head == "kind",
      "fixture must make the reorder observable")
    val reordered = meta.select(meta.columns.reverse
      .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val tmp = s"$dir/meta-reordered"
    reordered.coalesce(1).write.parquet(tmp)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete(); ()
    }
    rmrf(new java.io.File(s"$wpDir/meta"))
    Files.move(Paths.get(tmp), Paths.get(s"$wpDir/meta"))
    c.add(Process("wponly", "wordpieceSegment(@, '@id', '@text', $wp)"))
    c.add(Service("wpsvc", "docs", "wponly",
      defaults = Map("wp" -> s"tokenizer:wordpiece:$wpDir")))
    assert(new Exec(spark, c).serviceExec("wpsvc").head().getString(2)
      == "lo ##w ##e ##st lo ##w")
  }

  test("index: var refs bind prebuilt index dirs — service exec probes at zero build cost; kind pin fails loudly") {
    val dir = Files.createTempDirectory("graft-cat-idx").toString
    val c = fixtureCatalog(dir)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // build the persistent indexes OUT OF BAND (the ingest-ann /
    // ingest-bm25 shape) — the exec must only probe them
    val annDir = s"$dir/ann-idx"
    graft.llm.Similarity.ivfBuild(emb, "vec_id", "embedding", annDir,
      kLists = 4, trainSample = 64)
    val bmDir = s"$dir/bm25-idx"
    graft.llm.Retrieval.bm25Build(docs, "doc_id", "text", bmDir, pbands = 16)
    // the service's datastore is vestigial for a probe (the index IS
    // the corpus) — any registered table carries the pipeline
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
    c.add(Process("annprobe", "annProbe(@, $idx, $q, 5)"))
    c.add(Service("annsvc", "places", "annprobe",
      defaults = Map("idx" -> s"index:ivf:$annDir")))
    val exec = new Exec(spark, c)
    val got = exec.serviceExec("annsvc", Map("q" -> q)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Ann.probe(Ann.Dir(spark, annDir), Ann.Probe(Ann.One(q), Ann.TopK(5))).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want && got.head._1 == 0L)
    // bm25 probe through a datastore-NAME indirection
    c.add(DataStore("ws", "bmstore", s"'$bmDir'"))
    c.add(Process("bmprobe", "bm25Probe(@, $idx, 'spark stream window', 5)"))
    c.add(Service("bmsvc", "places", "bmprobe",
      defaults = Map("idx" -> "index:bm25:bmstore")))
    val bmGot = exec.serviceExec("bmsvc").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val bmWant = Retrieval.probe(Retrieval.Dir(spark, bmDir), Retrieval.Probe(
        Retrieval.One(Seq("spark", "stream", "window")), 5)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(bmGot == bmWant && bmGot.nonEmpty)
    // kind-pinned ref bound to the WRONG index kind fails loudly
    c.add(Service("annbad", "places", "annprobe",
      defaults = Map("idx" -> s"index:lsh:$annDir")))
    val mism = intercept[IllegalArgumentException] {
      exec.serviceExec("annbad", Map("q" -> q)) }
    assert(mism.getMessage.contains("'ivf'") &&
      mism.getMessage.contains("'lsh'"), mism.getMessage)
    // a ref to a non-index dir fails loudly at resolution
    c.add(Service("annnone", "places", "annprobe",
      defaults = Map("idx" -> s"index:$dir")))
    val none = intercept[IllegalArgumentException] {
      exec.serviceExec("annnone", Map("q" -> q)) }
    assert(none.getMessage.contains("not a built index dir"))
    // unpinned form self-detects the kind; a bm25 dir handed to
    // annProbe is rejected BY THE STAGE (self-describing layouts)
    c.add(Service("annauto", "places", "annprobe",
      defaults = Map("idx" -> s"index:$annDir")))
    assert(exec.serviceExec("annauto", Map("q" -> q)).collect()
      .map(_.getLong(0)).toSeq == want.map(_._1))
    c.add(Service("annwrong", "places", "annprobe",
      defaults = Map("idx" -> s"index:$bmDir")))
    val wrong = intercept[graft.dfl.DflParseException] {
      exec.serviceExec("annwrong", Map("q" -> q)) }
    assert(wrong.getMessage.contains("use bm25Probe"))
    // index: refs resolve on the JOB exec path too (job vars can even
    // re-point the service's default to another index)
    c.add(Service("bmsvc2", "places", "bmprobe",
      defaults = Map("idx" -> s"index:$dir")))
    c.add(Job("bmjob", "bmsvc2",
      variables = Map("idx" -> s"index:bm25:$bmDir")))
    assert(exec.jobExec("bmjob").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq == bmWant)
  }

  test("dsir service: target bound via datastore:, resample served over HTTP-exec path") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val c = fixtureCatalog(dir)
    Files.writeString(Paths.get(s"$dir/target.jsonl"),
      """{"id":101,"text":"clinical trial patient dosage treatment outcome"}
        |{"id":102,"text":"patient symptoms diagnosis clinical treatment"}""".stripMargin)
    Files.writeString(Paths.get(s"$dir/source.jsonl"),
      """{"id":1,"text":"clinical patient treatment dosage outcome trial"}
        |{"id":2,"text":"patient diagnosis clinical symptoms treatment"}
        |{"id":3,"text":"football match score goal referee stadium"}
        |{"id":4,"text":"stock market trading shares dividend portfolio"}""".stripMargin)
    c.add(DataStore("ws", "srcstore", s"'$dir/source.jsonl'"))
    c.add(DataStore("ws", "tgtstore", s"'$dir/target.jsonl'"))
    c.add(Process("curate", "dsir(@, '@id', '@text', $tgt, 2) | map(@, '@id')"))
    c.add(Service("cursvc", "srcstore", "curate",
      defaults = Map("tgt" -> "datastore:tgtstore")))
    val exec = new Exec(spark, c)
    val picked = exec.serviceExec("cursvc").collect().map(_.getLong(0)).toSet
    assert(picked == Set(1L, 2L), s"target-like source docs must win: $picked")
  }

  test("cdc scrub service: duplicated chunks removed through the catalog exec path") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val c = fixtureCatalog(dir)
    val shared = "the fast key order sort table scan merge part " +
      "window small hash scan join order batch batch batch stream"
    Files.writeString(Paths.get(s"$dir/corpus.jsonl"),
      s"""{"id":1,"text":"$shared"}
         |{"id":2,"text":"zz yy xx $shared"}
         |{"id":3,"text":"completely different unrelated words with zero overlap at all"}""".stripMargin)
    c.add(DataStore("ws", "corpstore", s"'$dir/corpus.jsonl'"))
    c.add(Process("cdcclean", "cdcScrub(@, '@id', '@text')"))
    c.add(Service("cdcsvc", "corpstore", "cdcclean"))
    val exec = new Exec(spark, c)
    val out = exec.serviceExec("cdcsvc").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // docs 1 and 2 share all realigned chunks -> scrubbed to (almost)
    // nothing; doc 3 keeps every token
    assert(out(3L) == 9L, s"unique doc must keep all tokens: $out")
    assert(out(1L) == 0L && out(2L) <= 3L,
      s"shared chunks must scrub from both copies: $out")
  }

  test("job exec: job variables beat service defaults; output written") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val exec = new Exec(spark, fixtureCatalog(dir))
    val out = exec.jobExec("job1") // kind=cafe via job vars
    assert(out.count() == 1)
    assert(spark.read.json(s"$dir/out.jsonl").count() == 1)
  }

  test("workflow exec: workflow vars win; continue on error") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val cat = fixtureCatalog(dir)
    cat.add(Job("badjob", "svc", variables = Map("kind" -> "bar")))
    // sabotage: point a datastore at a missing file via a second service
    cat.add(DataStore("ws", "missing", s"'$dir/nope.jsonl'"))
    cat.add(Service("svc_missing", "missing", "filter_amenity", defaults = Map("kind" -> "bar")))
    cat.add(Job("job_missing", "svc_missing"))
    cat.add(Workflow("wf2", Seq("job_missing", "job1"), variables = Map("kind" -> "bar")))
    val exec = new Exec(spark, cat)
    val results = exec.workflowExec("wf2")
    assert(results.map(_.exitCode) == Seq(1, 0))
    // workflow var kind=bar overrode job1's cafe → 2 rows
    assert(results(1).rows == 2L)
  }

  test("serving jobs resolve index: refs and kind fences at start; stop ends the stream") {
    val dir = Files.createTempDirectory("graft-cat-sj").toString
    val c = fixtureCatalog(dir)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val annDir = s"$dir/sj-idx"
    graft.llm.Similarity.lshBuild(emb, "vec_id", "embedding", annDir,
      nBits = 8, dim = 64)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    Files.createDirectories(Paths.get(s"$dir/sjq"))
    Files.writeString(Paths.get(s"$dir/sjq/q.jsonl"),
      s"""{"qid":1,"vec":[${q.mkString(",")}]}""")
    // the index binds through a CATALOG ref (datastore-name indirection
    // with a kind pin), like every batch probe var
    c.add(DataStore("ws", "sjidx", s"'$annDir'"))
    c.add(ServingJob("sj", "ann", variables = Map(
      "index" -> "index:lsh:sjidx", "queries" -> s"$dir/sjq",
      "output" -> s"$dir/sjo", "checkpoint" -> s"$dir/sjc", "k" -> "5")))
    val exec = new Exec(spark, c)
    // a WRONG kind pin fails at start, before any stream launches
    c.add(ServingJob("sjbad", "ann", variables = Map(
      "index" -> "index:ivf:sjidx", "queries" -> s"$dir/sjq",
      "output" -> s"$dir/sjo2", "checkpoint" -> s"$dir/sjc2")))
    val e = intercept[IllegalArgumentException](exec.servingStart("sjbad"))
    assert(e.getMessage.contains("'lsh'"), e.getMessage)
    // kind=bm25 over an ANN index is fenced too
    c.add(ServingJob("sjwrong", "bm25", variables = Map(
      "index" -> s"$annDir", "queries" -> s"$dir/sjq",
      "output" -> s"$dir/sjo3", "checkpoint" -> s"$dir/sjc3")))
    assert(intercept[IllegalArgumentException](
      exec.servingStart("sjwrong")).getMessage.contains("kind=bm25"))
    // the good job starts, serves the query, and stops
    val st = exec.servingStart("sj")
    assert(st("running") == true)
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      def served() = {
        val d = new java.io.File(s"$dir/sjo")
        d.exists && d.listFiles != null &&
          d.listFiles.exists(_.getName.startsWith("batch-"))
      }
      while (!served() && System.nanoTime() < deadline) Thread.sleep(250)
      assert(served(), "no answers landed")
      assert(exec.servingStatus("sj")("running") == true)
    } finally { exec.servingStop("sj"); () }
    assert(exec.servingStatus("sj")("running") == false)
  }

  test("uri templates resolve with variables") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val exec = new Exec(spark, fixtureCatalog(dir))
    val uri = exec.resolveUri("'/data/tiles/' + $z + '-' + $x + '.jsonl'",
      Map("z" -> 4L, "x" -> 7L))
    assert(uri == "/data/tiles/4-7.jsonl")
  }

  test("datastore cache invalidates on mtime change") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val exec = new Exec(spark, fixtureCatalog(dir))
    assert(exec.serviceExec("svc").count() == 2)
    Thread.sleep(1100) // mtime granularity
    Files.writeString(Paths.get(s"$dir/places.jsonl"),
      """{"amenity":"bar","name":"A","qty":5}""")
    assert(exec.serviceExec("svc").count() == 1)
  }

  test("catalog persists to json and yaml and round-trips") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val c = fixtureCatalog(dir)
    for (ext <- Seq("json", "yaml")) {
      val p = s"$dir/catalog.$ext"
      c.save(p)
      val back = Catalog.load(p)
      assert(back.workspaces.keySet == c.workspaces.keySet)
      assert(back.datastores.keySet == c.datastores.keySet)
      assert(back.services("svc").defaults == Map("kind" -> "bar"))
      assert(back.workflows("wf").jobs == Seq("job1"))
      // loaded catalog still executes
      val exec = new Exec(spark, back)
      assert(exec.serviceExec("svc").count() == 2)
    }
  }

  test("referential integrity enforced on add") {
    val c = new Catalog
    intercept[IllegalArgumentException] {
      c.add(DataStore("nope", "d", "'x'"))
    }
    c.add(Workspace("ws"))
    c.add(DataStore("ws", "d", "'x'"))
    intercept[IllegalArgumentException] {
      c.add(Service("s", "d", "missing_process"))
    }
  }
}
