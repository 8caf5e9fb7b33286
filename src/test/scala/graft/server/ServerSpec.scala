package graft.server

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog._
import graft.cli.ClientCli.Client
import graft.geo.TileMath
import java.nio.file.{Files, Paths}

class ServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def startServer(catalogUri: Option[String] = None): (Server, Client, String) = {
    val dir = Files.createTempDirectory("graft-srv").toString
    Files.writeString(Paths.get(s"$dir/features.jsonl"), Seq(
      """{"type":"Feature","properties":{"name":"dc1","amenity":"bar"},"geometry":{"type":"Point","coordinates":[-77.01,38.9]}}""",
      """{"type":"Feature","properties":{"name":"dc2","amenity":"cafe"},"geometry":{"type":"Point","coordinates":[-77.02,38.91]}}""",
    ).mkString("\n"))
    val c = new Catalog
    c.add(Workspace("ws"))
    c.add(DataStore("ws", "feat", s"$dir/features.jsonl",
      extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    c.add(Process("by_amenity", "filter(@, '@properties?.amenity == $kind')"))
    c.add(Service("svc", "feat", "by_amenity", defaults = Map("kind" -> "bar")))
    c.add(Layer("all", "feat", "", extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    // workflow fixture with one sabotaged job (missing datastore file):
    // exercises the reference's per-job exitCodes/stderr response shape
    c.add(Job("job_ok", "svc"))
    c.add(DataStore("ws", "missing", s"'$dir/nope.jsonl'"))
    c.add(Service("svc_missing", "missing", "by_amenity",
      defaults = Map("kind" -> "bar")))
    c.add(Job("job_bad", "svc_missing"))
    c.add(Workflow("wf", Seq("job_bad", "job_ok")))
    val srv = new Server(spark, new Exec(spark, c), 0, rootPassword = "pw",
      catalogUri = catalogUri)
    srv.start()
    (srv, new Client(s"http://localhost:${srv.boundPort}"), dir)
  }

  private def get(srv: Server, path: String,
                  http: java.net.http.HttpClient = java.net.http.HttpClient.newHttpClient()) =
    http.send(java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"http://localhost:${srv.boundPort}$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofByteArray())

  test("health, introspection, list, get, content negotiation") {
    val (srv, client, _) = startServer()
    try {
      assert(client.list("services")._2.contains("\"svc\""))
      val (gc, gb) = client.get("processes", "by_amenity")
      assert(gc == 200 && gb.contains("by_amenity"))
      // yaml negotiation
      val http = java.net.http.HttpClient.newHttpClient()
      val y = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:${srv.boundPort}/services.yaml")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(y.body().contains("name: svc"))
      val f = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:${srv.boundPort}/dfl/functions.json")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(f.body().contains("tileX"))
      val sw = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:${srv.boundPort}/swagger.json")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(sw.statusCode() == 200 && sw.body().contains("openapi") &&
        sw.body().contains("/services/{name}/exec.{ext}"))
      // routes carry real parameter/response schemas, not bare summaries:
      // the tile route documents its z/x/y path params (z with the
      // reference's 0-18 zoom bounds) and its buffer/dfl/limit query
      // params; the exec route documents its variables request body
      val sb = sw.body()
      assert(sb.contains("\"name\":\"z\"") && sb.contains("\"maximum\":18"), sb.take(500))
      assert(sb.contains("\"name\":\"buffer\"") && sb.contains("\"in\":\"query\""))
      assert(sb.contains("\"name\":\"dfl\"") && sb.contains("\"name\":\"limit\""))
      assert(sb.contains("\"requestBody\"") && sb.contains("\"variables\""))
      assert(sb.contains("\"responses\"") && sb.contains("\"image/png\""))
      assert(sb.contains("\"enum\"")) // ext + kind enumerations
    } finally srv.stop()
  }

  test("mutations require JWT; authenticate issues one") {
    val (srv, client, _) = startServer()
    try {
      val (c1, _) = client.add("workspaces", """{"name":"ws2"}""")
      assert(c1 == 400) // no token
      val (c2, _) = client.authenticate("root", "wrong")
      assert(c2 == 401)
      val (c3, body) = client.authenticate("root", "pw")
      assert(c3 == 200)
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      val (c4, _) = authed.add("workspaces", """{"name":"ws2"}""")
      assert(c4 == 200)
      assert(authed.list("workspaces")._2.contains("ws2"))
      val (c5, _) = authed.delete("workspaces", "ws2")
      assert(c5 == 200)
    } finally srv.stop()
  }

  test("service exec with request variables over HTTP") {
    val (srv, client, _) = startServer()
    try {
      val (c1, b1) = client.exec("services", "svc")
      assert(c1 == 200 && b1.contains("dc1") && !b1.contains("dc2"))
      val (c2, b2) = client.exec("services", "svc", """{"variables":{"kind":"cafe"}}""")
      assert(c2 == 200 && b2.contains("dc2") && !b2.contains("dc1"))
    } finally srv.stop()
  }

  test("temporal stages run as catalog services over HTTP") {
    // the temporal extension surface through /services/{name}/exec:
    // sessionize + topk behave exactly like any other DFL stage
    val (srv, client, dir) = startServer()
    try {
      Files.writeString(Paths.get(s"$dir/ev.jsonl"), Seq(
        """{"u": 1, "ts": 1000, "v": 1.5}""",
        """{"u": 1, "ts": 1005, "v": 2.0}""",
        """{"u": 1, "ts": 9000, "v": 4.0}""",
        """{"u": 2, "ts": 1003, "v": 7.0}""",
      ).mkString("\n"))
      val (_, tb) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(tb).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      assert(authed.add("datastores",
        s"""{"workspace":"ws","name":"ev","uri":"$dir/ev.jsonl"}""")._1 == 200)
      assert(authed.add("processes",
        """{"name":"sess","expression":"sessionize(@, '@u', '@ts', 10, '@v')"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"sess_svc","datastore":"ev","process":"sess"}""")._1 == 200)
      val (c1, b1) = client.exec("services", "sess_svc")
      // user 1 splits into sessions at ts 1000 and 9000; user 2 has one
      assert(c1 == 200 && b1.contains("\"session_start_us\":1000") &&
        b1.contains("\"session_start_us\":9000") &&
        b1.contains("\"sum_value\":3.5"), b1)
      assert(authed.add("processes",
        """{"name":"tk","expression":"topk(@, '@u', '@v', 1)"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"tk_svc","datastore":"ev","process":"tk"}""")._1 == 200)
      val (c2, b2) = client.exec("services", "tk_svc")
      // per-user max by v: (1, 9000, 4.0) and (2, 1003, 7.0)
      assert(c2 == 200 && b2.contains("\"v\":4.0") && b2.contains("\"v\":7.0")
        && !b2.contains("\"v\":1.5"), b2)
    } finally srv.stop()
  }

  test("tokenizer artifacts serve through HTTP exec via tokenizer: refs") {
    val (srv, client, dir) = startServer()
    try {
      Files.writeString(Paths.get(s"$dir/docs.jsonl"),
        """{"id":1,"text":"lowest low"}""")
      val wpDir = s"$dir/wp-art"
      graft.llm.TokenizerStore.saveWordPiece(spark,
        Seq("l", "##o", "##w", "##e", "##s", "##t", "lo", "##st"), wpDir)
      val (_, tb) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(tb).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      assert(authed.add("datastores",
        s"""{"workspace":"ws","name":"docs","uri":"$dir/docs.jsonl"}""")._1 == 200)
      assert(authed.add("processes",
        """{"name":"wpseg","expression":"wordpieceSegment(@, '@id', '@text', $wp)"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"wpseg_svc","datastore":"docs","process":"wpseg"}""")._1 == 200)
      // the artifact binds as a REQUEST variable — a ref, not the vocab
      val (c1, b1) = client.exec("services", "wpseg_svc",
        s"""{"variables":{"wp":"tokenizer:wordpiece:$wpDir"}}""")
      assert(c1 == 200 && b1.contains("lo ##w ##e ##st"), b1)
      // a kind-mismatched ref fails the exec loudly over HTTP too
      val uniDir = s"$dir/uni-art"
      graft.llm.TokenizerStore.saveUnigram(spark,
        Seq(graft.llm.Unigram.Piece("lo", -1.0)), uniDir)
      val (c2, b2) = client.exec("services", "wpseg_svc",
        s"""{"variables":{"wp":"tokenizer:wordpiece:$uniDir"}}""")
      assert(c2 != 200 && b2.contains("unigram"), s"$c2 $b2")
    } finally srv.stop()
  }

  test("prebuilt indexes serve through HTTP exec via index: refs") {
    val (srv, client, dir) = startServer()
    try {
      Files.writeString(Paths.get(s"$dir/one.jsonl"), """{"id":1}""")
      // a PERSISTENT index built out of band (the ingest-ann shape)
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val annDir = s"$dir/ann-idx"
      graft.llm.Similarity.ivfBuild(emb, "vec_id", "embedding", annDir,
        kLists = 4, trainSample = 64)
      val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble).toSeq
      val (_, tb) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(tb).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      assert(authed.add("datastores",
        s"""{"workspace":"ws","name":"one","uri":"$dir/one.jsonl"}""")._1 == 200)
      assert(authed.add("processes",
        """{"name":"probe","expression":"annProbe(@, $idx, $q, 3)"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"probe_svc","datastore":"one","process":"probe"}""")._1 == 200)
      val (c1, b1) = client.exec("services", "probe_svc",
        s"""{"variables":{"idx":"index:ivf:$annDir","q":[${q.mkString(",")}]}}""")
      assert(c1 == 200 && b1.contains("\"cos\":1.0"), s"$c1 $b1")
      assert("\"id\":(\\d+)".r.findFirstMatchIn(b1).get.group(1) == "0", b1)
      // a kind-pinned mismatch fails the exec loudly over HTTP too
      val (c2, b2) = client.exec("services", "probe_svc",
        s"""{"variables":{"idx":"index:lsh:$annDir","q":[${q.mkString(",")}]}}""")
      assert(c2 != 200 && b2.contains("ivf"), s"$c2 $b2")
      // the FULL hybrid stack from two persistent indexes over HTTP:
      // bm25 leg + ANN leg + RRF, both dirs bound as index: refs
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val bmDir = s"$dir/bm-idx"
      graft.llm.Retrieval.bm25Build(docs, "doc_id", "text", bmDir, pbands = 16)
      assert(authed.add("processes",
        """{"name":"hyb","expression":"hybridProbe(@, $bm, $ann, 'spark stream window', $q, 5)"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"hyb_svc","datastore":"one","process":"hyb"}""")._1 == 200)
      val (c3, b3) = client.exec("services", "hyb_svc",
        s"""{"variables":{"bm":"index:bm25:$bmDir","ann":"index:ivf:$annDir","q":[${q.mkString(",")}]}}""")
      assert(c3 == 200 && b3.contains("\"rnk\":1"), s"$c3 $b3")
      // handing the ANN dir to the bm25 slot fails with the stage's
      // self-describing-layout error
      val (c4, b4) = client.exec("services", "hyb_svc",
        s"""{"variables":{"bm":"index:$annDir","ann":"index:ivf:$annDir","q":[${q.mkString(",")}]}}""")
      assert(c4 != 200 && b4.contains("not a bm25 index"), s"$c4 $b4")
    } finally srv.stop()
  }

  test("LLM dedup and ANN run as catalog services over HTTP") {
    // the round-7 product-surface contract: a catalog Process can run the
    // LLM dataset stages (dedup / nearDedup / annTopK) through
    // /services/{name}/exec exactly like filter/map/hist
    val (srv, client, dir) = startServer()
    try {
      Files.writeString(Paths.get(s"$dir/corpus.jsonl"), Seq(
        """{"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta"}""",
        """{"doc_id": 2, "text": "alpha beta gamma delta epsilon zeta"}""",
        """{"doc_id": 3, "text": "totally different content about sparks"}""",
      ).mkString("\n"))
      val (_, tb) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(tb).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      assert(authed.add("datastores",
        s"""{"workspace":"ws","name":"corpus","uri":"$dir/corpus.jsonl"}""")._1 == 200)
      assert(authed.add("processes",
        """{"name":"near_dedup","expression":"nearDedup(@, '@doc_id', '@text', 0.8) | map(@, '{doc_id: @doc_id}')"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"dedup_svc","datastore":"corpus","process":"near_dedup"}""")._1 == 200)
      val (c1, b1) = client.exec("services", "dedup_svc")
      // docs 1 and 2 are near-dups (jaccard 1.0): the smaller id survives
      assert(c1 == 200 && b1.contains("\"doc_id\":1") &&
        !b1.contains("\"doc_id\":2") && b1.contains("\"doc_id\":3"), b1)

      // ANN through a service: the query vector arrives as a request var
      Files.writeString(Paths.get(s"$dir/vecs.jsonl"), (0 until 8).map(i =>
        s"""{"vec_id": $i, "embedding": [${Seq(i * 1.0, 1.0, 0.5 * i).mkString(", ")}]}""")
        .mkString("\n"))
      assert(authed.add("datastores",
        s"""{"workspace":"ws","name":"vecs","uri":"$dir/vecs.jsonl"}""")._1 == 200)
      assert(authed.add("processes",
        """{"name":"ann","expression":"annTopK(@, '@vec_id', '@embedding', $q, 3)"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"ann_svc","datastore":"vecs","process":"ann"}""")._1 == 200)
      val (c2, b2) = client.exec("services", "ann_svc",
        """{"variables":{"q":[2.0, 1.0, 1.0]}}""")
      // vec_id 2 IS [2,1,1]: its cosine is exactly 1.0 and ranks first
      assert(c2 == 200 && b2.contains("\"cos\":1.0"), b2)
      assert("\"id\":(\\d+)".r.findFirstMatchIn(b2).get.group(1) == "2", b2)

      // the INDEXED lifecycle through the same surface: an 'ivf' service
      // builds on its first exec and probes the cached partition-pruned
      // index on every later exec (the dflCorpusKey hashes the pipeline's
      // canonicalized plan, so repeated execs of one service share the
      // build). Results must be identical across execs.
      assert(authed.add("processes",
        """{"name":"ann_ivf","expression":"annTopK(@, '@vec_id', '@embedding', $q, 3, 'ivf')"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"ann_ivf_svc","datastore":"vecs","process":"ann_ivf"}""")._1 == 200)
      val (c3, b3) = client.exec("services", "ann_ivf_svc",
        """{"variables":{"q":[2.0, 1.0, 1.0]}}""")
      assert(c3 == 200 && b3.contains("\"cos\":1.0"), b3)
      val (c4, b4) = client.exec("services", "ann_ivf_svc",
        """{"variables":{"q":[2.0, 1.0, 1.0]}}""") // warm: cached index probe
      assert(c4 == 200 && b4 == b3, s"warm exec diverged: $b4 vs $b3")

      // BATCHED ANN through a service exec: the query batch arrives as a
      // JSON list of [id, vector] pairs in the request variables — the
      // one-pass serving shape at the HTTP surface
      assert(authed.add("processes",
        """{"name":"ann_batch","expression":"annTopKBatch(@, '@vec_id', '@embedding', $qs, 2)"}""")._1 == 200)
      assert(authed.add("services",
        """{"name":"ann_batch_svc","datastore":"vecs","process":"ann_batch"}""")._1 == 200)
      val (c5, b5) = client.exec("services", "ann_batch_svc",
        """{"variables":{"qs":[[100, [2.0, 1.0, 1.0]], [200, [7.0, 1.0, 3.5]]]}}""")
      // qid 100's best hit is vec 2 = [2,1,1] (cos exactly 1.0), qid
      // 200's is vec 7 = [7,1,3.5] — both queries answered in one exec
      assert(c5 == 200 && b5.contains("\"qid\":100") && b5.contains("\"qid\":200"), b5)
      assert("\"qid\":100,\"id\":2,\"cos\":1.0".r.findFirstIn(b5).isDefined, b5)
      assert("\"qid\":200,\"id\":7,\"cos\":1.0".r.findFirstIn(b5).isDefined, b5)
    } finally srv.stop()
  }

  test("vector tile and mask endpoints") {
    val (srv, client, _) = startServer()
    try {
      val z = 8
      val x = TileMath.lonToTile(-77.0, z)
      val y = TileMath.latToTile(38.9, z)
      val (c1, gj) = client.tile("all", z, x, y, "?buffer=0")
      assert(c1 == 200 && gj.contains("\"numberOfFeatures\":2"))
      val (c2, gj2) = client.tile("all", z, x, y, "?buffer=0&dfl=" +
        java.net.URLEncoder.encode("filter(@, '@properties?.amenity == bar')", "UTF-8"))
      assert(c2 == 200 && gj2.contains("\"numberOfFeatures\":1"))
      val (c3, png) = client.maskBytes("all", 0, 0, 0)
      assert(c3 == 200)
      assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
      // mask parity with the reference (LayerMaskHandler.go:120-137,
      // RespondWithGrid.go:32-39): a user `dfl` filter narrows the grid,
      // and gif/jpeg render by path extension
      val http = java.net.http.HttpClient.newHttpClient()
      def fetch(path: String) = {
        val r = http.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:${srv.boundPort}$path")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        (r.statusCode(), r.body())
      }
      val dflQ = java.net.URLEncoder.encode(
        "filter(@, '@properties?.amenity == bar')", "UTF-8")
      // at the z=8 tile the mask's sub-grid (z=16) separates the two
      // features into distinct cells; the bar filter keeps exactly one
      def onPixels(bytes: Array[Byte]): Int = {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        (0 until img.getHeight).map(r => (0 until img.getWidth)
          .count(c => (img.getRGB(c, r) >>> 24) != 0)).sum
      }
      val (cb, both) = fetch(s"/layers/all/tiles/mask/8/$x/$y.png")
      val (cf, filtered) = fetch(s"/layers/all/tiles/mask/8/$x/$y.png?dfl=$dflQ")
      assert(cb == 200 && cf == 200)
      assert(!java.util.Arrays.equals(filtered, both),
        "a dfl-filtered mask must differ from the unfiltered one")
      assert(onPixels(both) == 2 && onPixels(filtered) == 1)
      val (cg, gif) = fetch("/layers/all/tiles/mask/0/0/0.gif")
      assert(cg == 200 && gif.take(3).map(_.toChar).mkString == "GIF")
      val (cj, jpg) = fetch("/layers/all/tiles/mask/0/0/0.jpeg")
      assert(cj == 200 &&
        jpg.take(3).map(_ & 0xff).toSeq == Seq(0xff, 0xd8, 0xff))
      val (cu, _) = fetch("/layers/all/tiles/mask/0/0/0.bmp")
      assert(cu == 400, "unknown image extension must 400 like the reference")
    } finally srv.stop()
  }

  test("workflow exec response carries per-job exit codes, stderr, and continue-on-error results") {
    val (srv, client, _) = startServer()
    try {
      val (code, body) = client.exec("workflows", "wf")
      assert(code == 200, body)
      // reference shape (WorkflowExecHandler.go:200-206): top-level
      // success plus per-job exitCodes and stderr maps
      assert(body.contains("\"success\":false"), body)
      assert("\"exitCodes\":\\{[^}]*\"job_bad\":1".r.findFirstIn(body).isDefined ||
        "\"exitCodes\":\\{[^}]*\"job_ok\":0".r.findFirstIn(body).isDefined, body)
      assert("\"stderr\":\\{[^}]*\"job_bad\":\"[^\"]+".r.findFirstIn(body).isDefined, body)
      // the failing job carries its error detail; the later job still ran
      assert("\"job\":\"job_bad\",\"exitCode\":1,\"error\":\"[^\"]+".r
        .findFirstIn(body).isDefined, body)
      assert("\"job\":\"job_ok\",\"exitCode\":0".r.findFirstIn(body).isDefined, body)
    } finally srv.stop()
  }

  test("concurrent service execs are consistent") {
    val (srv, client, _) = startServer()
    try {
      import scala.concurrent._
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = (1 to 12).map { i =>
        Future(client.exec("services", "svc",
          if (i % 2 == 0) "" else """{"variables":{"kind":"bar"}}"""))
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      assert(results.forall(_._1 == 200))
      assert(results.forall(_._2.contains("\"amenity\":\"bar\"")))
    } finally srv.stop()
  }

  test("update edits an entity in place and takes effect on the next exec") {
    val (srv, client, _) = startServer()
    try {
      val (_, body) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))

      // unauthenticated update rejected; unknown entity 404s; name mismatch 400s
      assert(client.update("processes", "by_amenity",
        """{"expression":"filter(@, '@properties?.amenity == cafe')"}""")._1 == 400)
      assert(authed.update("processes", "nope", """{"expression":"@"}""")._1 == 404)
      assert(authed.update("processes", "by_amenity",
        """{"name":"other","expression":"@"}""")._1 == 400)

      // exec against the original definition (caches a dataset var), then
      // update the process expression — the cached plan must not survive
      val (_, before) = client.exec("services", "svc")
      assert(before.contains("dc1") && !before.contains("dc2"))
      val (uc, ub) = authed.update("processes", "by_amenity",
        """{"expression":"filter(@, '@properties?.amenity == cafe')"}""")
      assert(uc == 200 && ub.contains("updated"))
      val (_, after) = client.exec("services", "svc")
      assert(after.contains("dc2") && !after.contains("dc1"))
      // the stored entity reflects the edit
      val (_, got) = authed.get("processes", "by_amenity")
      assert(got.contains("cafe"))
    } finally srv.stop()
  }

  test("re-POST of an existing entity (add-overwrite) invalidates cached exec state") {
    val (srv, client, _) = startServer()
    try {
      val (_, body) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      // prime the service-var cache against the original definition
      val (_, before) = client.exec("services", "svc")
      assert(before.contains("dc1") && !before.contains("dc2"))
      // Catalog.add overwrites in place — the group POST route, not the
      // item update route — and must invalidate just the same
      val (ac, _) = authed.add("processes",
        """{"name":"by_amenity","expression":"filter(@, '@properties?.amenity == cafe')"}""")
      assert(ac == 200)
      val (_, after) = client.exec("services", "svc")
      assert(after.contains("dc2") && !after.contains("dc1"))
    } finally srv.stop()
  }

  test("a catalog mutation drops only the caches it can make stale") {
    val (srv, client, dir) = startServer()
    try {
      val (_, body) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      def feat = srv.exec.readDataStore(srv.exec.catalog.datastores("feat"), Map.empty)
      val cached = feat
      assert(cached.count() == 2)
      // a service edit cannot stale a table: the cached read survives it
      assert(authed.update("services", "svc",
        """{"datastore":"feat","process":"by_amenity","defaults":{"kind":"cafe"}}""")._1 == 200)
      assert(feat eq cached)
      val (_, after) = client.exec("services", "svc")
      assert(after.contains("dc2") && !after.contains("dc1"))
      // the same file redefined in place as a whole-document json store
      // (same uri and mtime, other read options) is read again
      assert(authed.update("datastores", "feat",
        s"""{"workspace":"ws","uri":"$dir/features.jsonl","format":"json"}""")._1 == 200)
      assert(!(feat eq cached))
      assert(feat.count() == 1)
    } finally srv.stop()
  }

  test("mutations persist to the catalog uri and survive a restart") {
    val dir = Files.createTempDirectory("graft-cat").toString
    val catPath = s"$dir/catalog.json"
    val (srv, client, _) = startServer(catalogUri = Some(catPath))
    try {
      val (_, body) = client.authenticate("root", "pw")
      val token = """"token":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
      val authed = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      assert(authed.add("workspaces", """{"name":"ws2"}""")._1 == 200)
      assert(authed.update("processes", "by_amenity",
        """{"expression":"filter(@, '@properties?.amenity == cafe')"}""")._1 == 200)
      assert(authed.delete("layers", "all")._1 == 200)
    } finally srv.stop()
    // "restart": load the persisted catalog as Main --catalog would
    val reloaded = Catalog.load(catPath)
    assert(reloaded.get("workspaces", "ws2").isDefined)
    assert(reloaded.get("processes", "by_amenity").collect {
      case p: Process => p.expression }.exists(_.contains("cafe")))
    assert(reloaded.get("layers", "all").isEmpty)
  }

  test("toml and bson negotiation round-trip a catalog GET; html and home render") {
    val (srv, _, _) = startServer()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def get(path: String) = http.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://localhost:${srv.boundPort}$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofByteArray())

      // toml: parse the body back with the TOML codec and recover the entity
      val t = get("/processes/by_amenity.toml")
      assert(t.statusCode() == 200)
      assert(t.headers().firstValue("Content-Type").get == "application/toml")
      val tDoc = graft.io.TextFormats.parseToml(new String(t.body(), "UTF-8"))
      assert(tDoc("name") == "by_amenity")
      assert(tDoc("expression").toString.contains("@properties?.amenity"))
      // toml list response: nested entity maps survive as inline tables
      val tl = get("/services.toml")
      val tlDoc = graft.io.TextFormats.parseToml(new String(tl.body(), "UTF-8"))
      val svc = tlDoc("services").asInstanceOf[List[Any]]
        .collectFirst { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }.get
      assert(svc("name") == "svc")

      // bson: parse the binary body back and recover the entity
      val b = get("/processes/by_amenity.bson")
      assert(b.statusCode() == 200)
      assert(b.headers().firstValue("Content-Type").get == "application/ubjson")
      val bDoc = graft.io.Bson.parseAll(b.body()).head
      assert(bDoc("name") == "by_amenity")
      assert(bDoc("expression").toString.contains("@properties?.amenity"))

      // html: pretty-JSON preview page with escaped content
      val h = get("/processes/by_amenity.html")
      assert(h.statusCode() == 200)
      assert(h.headers().firstValue("Content-Type").get == "text/html")
      val hBody = new String(h.body(), "UTF-8")
      assert(hBody.contains("<pre>") && hBody.contains("by_amenity"))
      assert(!hBody.contains("<script"))

      // home page lists layers with tile links
      val home = get("/")
      assert(home.statusCode() == 200)
      assert(home.headers().firstValue("Content-Type").get == "text/html")
      val homeBody = new String(home.body(), "UTF-8")
      assert(homeBody.contains("/layers/all/tiles/data/"))
      // the self-contained demo map: canvas + DFL input wired to the live
      // mask and data tile endpoints (no external assets — offline build)
      assert(homeBody.contains("<canvas id=\"map\"") &&
        homeBody.contains("id=\"dfl\"") &&
        homeBody.contains("/tiles/") && homeBody.contains("urlFor"))
      assert(homeBody.contains("<option value=\"all\">"))
      assert(homeBody.contains("/workspaces.json"))

      // error bodies honor the extension too
      val e = get("/processes/nope.toml")
      assert(e.statusCode() == 404)
      assert(e.headers().firstValue("Content-Type").get == "application/toml")
      assert(new String(e.body(), "UTF-8").contains("error"))
    } finally srv.stop()
  }

  test("CORS headers, OPTIONS preflight, and gzip response encoding") {
    val (srv, _, _) = startServer()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def req(b: java.net.http.HttpRequest.Builder) =
        http.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      def uri(p: String) = java.net.URI.create(s"http://localhost:${srv.boundPort}$p")

      // every response carries the CORS origin header
      val g = req(java.net.http.HttpRequest.newBuilder(uri("/health.json")).GET())
      assert(g.headers().firstValue("Access-Control-Allow-Origin").get == "*")
      assert(g.headers().firstValue("Content-Encoding").isEmpty) // no Accept-Encoding sent

      // OPTIONS preflight answers 200 with the allowed method set
      val o = req(java.net.http.HttpRequest.newBuilder(uri("/workspaces.json"))
        .method("OPTIONS", java.net.http.HttpRequest.BodyPublishers.noBody()))
      assert(o.statusCode() == 200)
      assert(o.headers().firstValue("Access-Control-Allow-Methods").get.contains("PUT"))

      // Accept-Encoding: gzip → gzipped body that decodes to the plain one
      val z = req(java.net.http.HttpRequest.newBuilder(uri("/services.json"))
        .header("Accept-Encoding", "gzip").GET())
      assert(z.headers().firstValue("Content-Encoding").get == "gzip")
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(z.body()))
      val plain = new String(try in.readAllBytes() finally in.close(), "UTF-8")
      assert(plain.contains("\"svc\""))

      // an image body is compressed already: a mask is never gzipped
      val m = req(java.net.http.HttpRequest.newBuilder(uri("/layers/all/tiles/mask/0/0/0.png"))
        .header("Accept-Encoding", "gzip").GET())
      assert(m.statusCode() == 200)
      assert(m.headers().firstValue("Content-Encoding").isEmpty)
      assert(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.body())) != null)
    } finally srv.stop()
  }

  test("keep-alive requests answer without waiting for the client's delayed ACK") {
    val (srv, _, _) = startServer()
    try {
      // one HTTP/1.1 connection, reused: with Nagle on, every response's
      // body segment waited ~40 ms for the ACK of its header segment
      val http = java.net.http.HttpClient.newBuilder()
        .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
      (1 to 5).foreach(_ => assert(get(srv, "/health.json", http).statusCode() == 200))
      val ms = (1 to 21).map { _ =>
        val t0 = System.nanoTime()
        assert(get(srv, "/health.json", http).statusCode() == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"median ${ms(10)} ms over ${ms.mkString(", ")}")
    } finally srv.stop()
  }

  test("stop shuts the handler pool down") {
    // graft-http-N, or the JDK's default pool-N-thread-M for an unnamed pool
    def handlerThreads(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.toSet
        .filter(t => t.getName.matches("graft-http-\\d+|pool-\\d+-thread-\\d+"))
    }
    val before = handlerThreads()
    val (srv, client, _) = startServer()
    (1 to 3).foreach(_ => assert(client.list("services")._1 == 200))
    srv.stop()
    val left = handlerThreads() -- before
    left.foreach(_.join(2000))
    assert(!left.exists(_.isAlive), left.map(_.getName))
  }

  test("names with '/' and ' ' are reachable through the home page links and the client") {
    val (srv, client, _) = startServer()
    try {
      srv.exec.catalog.add(Layer("a/b c", "feat", "", extent = Seq(-180.0, -85.0, 180.0, 85.0)))
      srv.exec.catalog.add(Service("x y", "feat", "by_amenity", defaults = Map("kind" -> "bar")))
      val home = new String(get(srv, "/").body(), "UTF-8")
      val hrefs = "href=\"(/layers/a%2Fb%20c[^\"]*)\"".r.findAllMatchIn(home).map(_.group(1)).toList
      assert(hrefs.size == 3, home)
      hrefs.foreach { h =>
        val r = get(srv, h)
        assert(r.statusCode() == 200, s"$h -> ${r.statusCode()} ${new String(r.body(), "UTF-8")}")
      }
      val (tc, tb) = client.tile("a/b c", 0, 0, 0)
      assert(tc == 200 && tb.contains("\"numberOfFeatures\":2"), tb)
      assert(client.maskBytes("a/b c", 0, 0, 0)._1 == 200)
      val (gc, gb) = client.get("layers", "a/b c")
      assert(gc == 200 && gb.contains("a/b c"), gb)
      val (ec, eb) = client.exec("services", "x y")
      assert(ec == 200 && eb.contains("dc1") && !eb.contains("dc2"), eb)
    } finally srv.stop()
  }

  test("serve rejects a dangling or non-integer --port, naming the flag") {
    assert(Main.parseArgs(Array("--port", "9090", "--demo")) ==
      Main.Config(port = 9090, demo = true))
    val dangling = intercept[IllegalArgumentException](Main.parseArgs(Array("--port")))
    assert(dangling.getMessage.contains("--port requires a value"), dangling.getMessage)
    val nonInt = intercept[IllegalArgumentException](Main.parseArgs(Array("--port", "abc")))
    assert(nonInt.getMessage.contains("--port") && nonInt.getMessage.contains("abc"),
      nonInt.getMessage)
  }

  test("serving jobs: catalog CRUD + HTTP start/status/stop lifecycle, answers land, conflicts 409") {
    val dir = Files.createTempDirectory("graft-srvjob").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    graft.llm.Similarity.lshBuild(emb, "vec_id", "embedding", s"$dir/idx",
      nBits = 8, dim = 64)
    val q = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    Files.createDirectories(Paths.get(s"$dir/queries"))
    Files.writeString(Paths.get(s"$dir/queries/q0.jsonl"),
      s"""{"qid":7,"vec":[${q.mkString(",")}]}""")
    val (srv, client, _) = startServer()
    try {
      val token = {
        val (_, b) = client.authenticate("root", "pw")
        val m = """"token"\s*:\s*"([^"]+)"""".r
        m.findFirstMatchIn(b).get.group(1)
      }
      val auth = new Client(s"http://localhost:${srv.boundPort}", Some(token))
      // CRUD: the entity is declarative and lists like any other kind
      val (ac, _) = auth.add("servingjobs",
        s"""{"name":"sj","kind":"ann","variables":{
           |"index":"$dir/idx","queries":"$dir/queries",
           |"output":"$dir/answers","checkpoint":"$dir/ckpt","k":"5"}}"""
          .stripMargin.replace("\n", ""))
      assert(ac == 200)
      assert(client.list("servingjobs")._2.contains("\"sj\""))
      // a bad kind is rejected at add time
      assert(auth.add("servingjobs",
        """{"name":"bad","kind":"nope","variables":{}}""")._1 == 400)
      // never-started job reports running=false
      val (sc0, sb0) = client.servingStatus("sj")
      assert(sc0 == 200 && sb0.contains("\"running\":false"), sb0)
      // start requires auth (missing JWT = 400, the server's convention);
      // then answers land in batch dirs
      assert(client.servingStart("sj")._1 == 400)
      val (stc, stb) = auth.servingStart("sj")
      assert(stc == 200 && stb.contains("\"running\":true"), stb)
      val deadline = System.nanoTime() + 120L * 1000000000L
      def served(): Boolean = {
        val d = new java.io.File(s"$dir/answers")
        d.exists && d.listFiles != null &&
          d.listFiles.exists(f => f.getName.startsWith("batch-") &&
            new java.io.File(f, "_metrics.json").exists)
      }
      while (!served() && System.nanoTime() < deadline) Thread.sleep(250)
      assert(served(), "no answer batch landed within the deadline")
      val (ssc, ssb) = client.servingStatus("sj")
      assert(ssc == 200 && ssb.contains("\"running\":true"), ssb)
      // ServeStats reads the answers the catalog-run job produced
      val rows = graft.tools.ServeStats.readServe(s"$dir/answers")
      assert(rows.nonEmpty && rows.head.served == 1, rows.toString)
      // answers are the real probe: qid 7, 5 hits, self id at cos 1.0
      val ans = spark.read.json(
        new java.io.File(s"$dir/answers").listFiles
          .filter(_.getName.startsWith("batch-")).head.getAbsolutePath)
      assert(ans.count() == 5)
      // a second start while running is a 409 conflict, not a crash
      assert(auth.servingStart("sj")._1 == 409)
      // deleting a RUNNING job's entity is refused — it is the only
      // addressable handle to the live stream
      assert(auth.delete("servingjobs", "sj")._1 == 409)
      // stop ends the stream; a second stop conflicts; status flips
      assert(auth.servingStop("sj")._1 == 200)
      assert(client.servingStatus("sj")._2.contains("\"running\":false"))
      assert(auth.servingStop("sj")._1 == 409)
      // unknown job 404s on every verb
      assert(client.servingStatus("nope")._1 == 404)
      assert(auth.servingStart("nope")._1 == 404)
    } finally srv.stop()
  }

  test("serving jobs round-trip catalog persistence") {
    val c = new Catalog
    c.add(ServingJob("sj2", "hybrid", title = "t",
      variables = Map("bmIndex" -> "/b", "annIndex" -> "/a",
        "queries" -> "/q", "output" -> "/o", "checkpoint" -> "/c")))
    val path = Files.createTempDirectory("graft-sjcat").toString + "/cat.json"
    c.save(path)
    val back = Catalog.load(path)
    val sj = back.servingjobs("sj2")
    assert(sj.kind == "hybrid" && sj.variables("bmIndex") == "/b")
    // bad kind rejected on load/add too
    intercept[IllegalArgumentException](c.add(ServingJob("x", "wrong")))
  }

  test("unknown routes and entities 404") {
    val (srv, client, _) = startServer()
    try {
      assert(client.get("services", "nope")._1 == 404)
      assert(client.list("nonsense")._1 == 404)
    } finally srv.stop()
  }
}
