package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.catalog._
import graft.geo.TileService
import graft.io.TextFormats

import java.net.{InetSocketAddress, URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Catalog-driven HTTP query server — the Spark-native mirror of
  * `railgun serve` (reference: router/RailgunRouter.go:50-135). Pure-JDK
  * `com.sun.net.httpserver` (no external deps available offline); each
  * request runs a Spark job in the exchange's thread, like the
  * reference's request-goroutine model (cli/serve.go:191-366).
  *
  * Routes (content negotiated by `.{ext}` — json/yaml/toml/bson/html,
  * reference: handlers/BaseHandler.go:146-229):
  *   GET /                             home page (layer listing + endpoints)
  *   GET/POST /{kind}.{ext}            list / add (POST requires JWT)
  *   GET/DELETE /{kind}/{name}.{ext}   item / delete (DELETE requires JWT)
  *   POST /services/{name}/exec.{ext}  exec with request variables
  *   POST /jobs/{name}/exec.{ext}
  *   POST /workflows/{name}/exec.{ext}
  *   GET /layers/{name}/tiles/data/{z}/{x}/{y}.{ext}
  *   GET /layers/{name}/tiles/mask/{z}/{x}/{y}.png
  *   GET /dfl/functions.{ext}          scalar registry introspection
  *   GET /gss/formats.{ext}            supported format list
  *   POST /authenticate.{ext}          {username, password} → JWT
  *   GET /health.{ext}
  */
final class Server(spark: SparkSession, val exec: Exec, port: Int,
                   rootPassword: String = "secret",
                   catalogUri: Option[String] = None,
                   corsOrigin: String = "*",
                   gzipResponses: Boolean = true) {

  private val jwt = Jwt.generate()
  private val tiles = new TileService(spark, exec)
  private var http: HttpServer = _
  private var pool: ExecutorService = _

  val formats: Seq[String] =
    Seq("csv", "tsv", "json", "jsonl", "yaml", "toml", "properties", "hcl",
      "bson", "parquet")

  def start(): Unit = {
    http = Server.newHttpServer(new InetSocketAddress(port))
    http.createContext("/", (x: HttpExchange) => handle(x))
    val ids = new AtomicInteger
    pool = Executors.newFixedThreadPool(8,
      (r: Runnable) => new Thread(r, s"graft-http-${ids.incrementAndGet()}"))
    http.setExecutor(pool)
    http.start()
  }

  /** Stop listening, then shut the handler pool down: `HttpServer.stop`
    * never shuts down an executor its caller supplied, so without this
    * each stopped server would keep its idle, non-daemon handler threads. */
  def stop(): Unit = if (http != null) {
    http.stop(0)
    pool.shutdown()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }

  def boundPort: Int = http.getAddress.getPort

  // ---------- dispatch ----------

  private val kinds = Set("servingjobs", "workspaces", "datastores", "layers", "processes",
    "services", "jobs", "workflows")

  private def handle(x: HttpExchange): Unit = {
    try route(x)
    catch {
      case e: NoSuchElementException => respondErr(x, 404, e.getMessage)
      case e: IllegalArgumentException => respondErr(x, 400, e.getMessage)
      case e: Exception => respondErr(x, 500, String.valueOf(e.getMessage))
    } finally x.close()
  }

  private def respondErr(x: HttpExchange, code: Int, msg: String): Unit =
    respondDoc(x, code, extOf(x.getRequestURI.getRawPath), Map("error" -> msg))

  private def route(x: HttpExchange): Unit = {
    // split the RAW path on '/' then decode each segment once: getPath
    // pre-decodes, which turns a name's %2F into a path separator
    val path = x.getRequestURI.getRawPath
    val ext = extOf(path)
    val parts = stripExt(path).split('/').filter(_.nonEmpty)
      .map(Server.decodeSegment).toList
    val method = x.getRequestMethod

    // CORS preflight: the reference registers OPTIONS on its entity and
    // group routes (router/RailgunRouter.go:166,173) with headers set by
    // CorsMiddleware (router/CorsMiddleware.go:10-11)
    if (method == "OPTIONS") {
      x.getResponseHeaders.set("Allow", "GET, POST, PUT, DELETE, OPTIONS")
      x.getResponseHeaders.set("Access-Control-Allow-Methods",
        "GET, POST, PUT, DELETE, OPTIONS")
      x.getResponseHeaders.set("Access-Control-Allow-Headers",
        "Authorization, Content-Type")
      respondBytes(x, 200, Array.emptyByteArray, "text/plain")
      return
    }

    (method, parts) match {
      // home page — the reference's front door (handlers/HomeHandler.go:
      // 46-238) is an OpenLayers demo map built from CDN assets; this
      // offline build serves a self-contained catalog/endpoint listing
      // with a tile-preview link per layer instead
      case ("GET", Nil) =>
        val layers = exec.catalog.toMaps("layers")
          .asInstanceOf[List[Map[String, Any]]]
        val layerItems = layers.map { l =>
          val raw = l.getOrElse("name", "").toString
          // names are unrestricted strings: escape for the text position,
          // URL-encode for the href (a quote or slash must neither break
          // out of the attribute nor produce a dead link)
          val n = htmlEscape(raw)
          val u = Server.encodeSegment(raw)
          s"""<li><b>$n</b> — <a href="/layers/$u/tiles/data/0/0/0.json">tile data</a>
             | · <a href="/layers/$u/tiles/mask/0/0/0.png">tile mask</a>
             | · <a href="/layers/$u.json">definition</a></li>""".stripMargin
        }.mkString("\n")
        val kindItems = kinds.toSeq.sorted
          .map(k => s"""<li><a href="/$k.json">$k</a></li>""").mkString("\n")
        // interactive demo map, the reference's front door experience
        // (handlers/HomeHandler.go:46-238: OpenLayers map + a DFL input
        // driving the mask and vector layers) — rebuilt self-contained
        // for this offline environment: an inline-JS canvas slippy map
        // over the SAME two endpoints (mask PNG underlay + GeoJSON data
        // tile overlay), with per-keystroke-free DFL re-query on Enter
        val layerOptions = layers.map { l =>
          val n = htmlEscape(l.getOrElse("name", "").toString)
          s"""<option value="$n">$n</option>"""
        }.mkString
        val mapSection = if (layers.isEmpty) "" else
          s"""<h2>Map</h2><div>
             |<select id="layer">$layerOptions</select>
             |<input id="dfl" type="text" style="width:45%"
             | placeholder="DFL, e.g. filter(@, '@properties?.amenity == bar')">
             |<button id="apply">apply</button>
             |<button id="zin">+</button><button id="zout">&minus;</button>
             |<button id="west">&larr;</button><button id="east">&rarr;</button>
             |<button id="north">&uarr;</button><button id="south">&darr;</button>
             |<span id="info"></span></div>
             |<canvas id="map" width="512" height="512" style="border:1px solid #000"></canvas>
             |""".stripMargin + mapScript
        val page =
          s"""<html><head><title>graft</title>
             |<style>body { font-family: sans-serif; margin: 2em; } h2 { border-bottom: 1px solid #000; }</style>
             |</head><body>
             |<h1>graft</h1>
             |$mapSection
             |<h2>Layers</h2><ul>$layerItems</ul>
             |<h2>Catalog</h2><ul>$kindItems</ul>
             |<h2>Introspection</h2><ul>
             |<li><a href="/dfl/functions.json">DFL functions</a></li>
             |<li><a href="/gss/formats.json">formats</a></li>
             |<li><a href="/swagger.json">swagger</a></li>
             |<li><a href="/health.json">health</a></li>
             |</ul></body></html>""".stripMargin
        respondBytes(x, 200, page.getBytes(UTF_8), "text/html")

      case ("GET", "health" :: Nil) =>
        respondDoc(x, 200, ext, Map("status" -> "ok"))

      case ("POST", "authenticate" :: Nil) =>
        val body = Catalog.parseJsonDoc(readBody(x))
        val (u, p) = (body.getOrElse("username", ""), body.getOrElse("password", ""))
        // constant-time comparison: a == on secrets leaks length/prefix timing
        def ctEq(a: Any, b: String): Boolean = java.security.MessageDigest.isEqual(
          String.valueOf(a).getBytes(UTF_8), b.getBytes(UTF_8))
        if (ctEq(u, "root") && ctEq(p, rootPassword))
          respondDoc(x, 200, ext, Map("token" -> jwt.sign("root")))
        else respondErr(x, 401, "invalid credentials")

      case ("GET", "dfl" :: "functions" :: Nil) =>
        respondDoc(x, 200, ext, Map("functions" ->
          graft.dfl.Functions.registry.toSeq.sortBy(_._1)
            .map { case (n, sig) => Map("name" -> n, "signature" -> sig) }.toList))

      case ("GET", "gss" :: "formats" :: Nil) =>
        respondDoc(x, 200, ext, Map("formats" -> formats.toList))

      case ("GET", "swagger" :: Nil) =>
        // OpenAPI 3 document with per-route parameter and response
        // schemas, so binding generators get real signatures (reference:
        // handlers/SwaggerHandler.go:226-290 documents the ext/name/z/x/y
        // path params with types, enums, and zoom bounds; this emits the
        // OpenAPI-3 equivalent, plus query params and request bodies the
        // dispatch table actually reads)
        def param(name: String, typ: String, desc: String,
                  in: String = "path", required: Boolean = true,
                  schemaExtra: Map[String, Any] = Map.empty): Map[String, Any] =
          Map("name" -> name, "in" -> in, "required" -> required,
            "description" -> desc, "schema" -> (Map[String, Any]("type" -> typ) ++ schemaExtra))
        val extP = param("ext", "string", "response format",
          schemaExtra = Map("enum" -> List("json", "yaml", "toml", "bson", "html")))
        val nameP = param("name", "string", "entity name")
        val kindP = param("kind", "string", "catalog collection",
          schemaExtra = Map("enum" -> kinds.toList.sorted))
        val zP = param("z", "integer", "tile zoom level",
          schemaExtra = Map("minimum" -> 0, "maximum" -> 18))
        val xP = param("x", "integer", "tile X column")
        val yP = param("y", "integer", "tile Y row (XYZ scheme)")
        val tileQuery = List(
          param("buffer", "integer", "bbox buffer in tile units (default 1)",
            in = "query", required = false),
          param("dfl", "string", "extra DFL pipeline applied to the tile's features",
            in = "query", required = false),
          param("limit", "integer", "max features returned",
            in = "query", required = false))
        val maskQuery = List(
          param("zoom", "integer", "mask grid zoom (default 8)",
            in = "query", required = false),
          param("threshold", "integer", "min count for an opaque cell (default 1)",
            in = "query", required = false),
          param("alpha", "integer", "opaque-cell alpha 0-255 (default 255)",
            in = "query", required = false),
          param("dfl", "string", "extra DFL filter applied before the grid aggregation",
            in = "query", required = false))
        val okJson: Map[String, Any] = Map("200" -> Map(
          "description" -> "success", "content" -> Map("application/json" ->
            Map("schema" -> Map("type" -> "object")))))
        val okRows: Map[String, Any] = Map("200" -> Map(
          "description" -> "result rows", "content" -> Map("application/json" ->
            Map("schema" -> Map("type" -> "array", "items" -> Map("type" -> "object"))))))
        val okPng: Map[String, Any] = Map("200" -> Map(
          "description" -> "PNG raster mask", "content" -> Map("image/png" ->
            Map("schema" -> Map("type" -> "string", "format" -> "binary")))))
        val execBody: Map[String, Any] = Map("required" -> false,
          "content" -> Map("application/json" -> Map("schema" -> Map(
            "type" -> "object", "properties" -> Map("variables" -> Map(
              "type" -> "object",
              "description" -> "per-request DFL variable overrides"))))))
        val authBody: Map[String, Any] = Map("required" -> true,
          "content" -> Map("application/json" -> Map("schema" -> Map(
            "type" -> "object", "required" -> List("username", "password"),
            "properties" -> Map("username" -> Map("type" -> "string"),
              "password" -> Map("type" -> "string"))))))
        def op(summary: String, params: List[Map[String, Any]],
               responses: Map[String, Any],
               body: Option[Map[String, Any]] = None): Map[String, Any] =
          Map("summary" -> summary, "parameters" -> params,
            "responses" -> responses) ++ body.map("requestBody" -> _)
        val paths: Map[String, Any] = Map(
          "/health.{ext}" -> Map("get" -> op("service health", List(extP), okJson)),
          "/authenticate.{ext}" -> Map("post" ->
            op("issue a root JWT", List(extP), okJson, Some(authBody))),
          "/swagger.{ext}" -> Map("get" -> op("this document", List(extP), okJson)),
          "/dfl/functions.{ext}" -> Map("get" ->
            op("DFL function registry", List(extP), okJson)),
          "/gss/formats.{ext}" -> Map("get" ->
            op("supported formats", List(extP), okJson)),
          "/{kind}.{ext}" -> Map(
            "get" -> op("list a catalog collection", List(kindP, extP), okJson),
            "post" -> op("add an entity (JWT required)", List(kindP, extP), okJson)),
          "/{kind}/{name}.{ext}" -> Map(
            "get" -> op("fetch an entity", List(kindP, nameP, extP), okJson),
            "post" -> op("update an entity (JWT required)", List(kindP, nameP, extP), okJson),
            "put" -> op("update an entity (JWT required)", List(kindP, nameP, extP), okJson),
            "delete" -> op("delete an entity (JWT required)", List(kindP, nameP, extP), okJson)),
          "/services/{name}/exec.{ext}" -> Map("post" ->
            op("execute a service with request variables", List(nameP, extP),
              okRows, Some(execBody))),
          "/jobs/{name}/exec.{ext}" -> Map("post" ->
            op("execute a job", List(nameP, extP), okRows)),
          "/workflows/{name}/exec.{ext}" -> Map("post" ->
            op("execute a workflow's jobs in order", List(nameP, extP), okJson)),
          "/servingjobs/{name}/start.{ext}" -> Map("post" ->
            op("launch a streaming serving job (JWT required)",
              List(nameP, extP), okJson)),
          "/servingjobs/{name}/status.{ext}" -> Map("get" ->
            op("live status of a streaming serving job",
              List(nameP, extP), okJson)),
          "/servingjobs/{name}/stop.{ext}" -> Map("post" ->
            op("stop a streaming serving job (JWT required)",
              List(nameP, extP), okJson)),
          "/layers/{name}/tiles/data/{z}/{x}/{y}.{ext}" -> Map("get" ->
            op("vector tile as GeoJSON FeatureCollection",
              List(nameP, zP, xP, yP, extP) ++ tileQuery, okJson)),
          "/layers/{name}/tiles/mask/{z}/{x}/{y}.png" -> Map("get" ->
            op("raster mask tile", List(nameP, zP, xP, yP) ++ maskQuery, okPng)),
        )
        respondDoc(x, 200, ext, Map(
          "openapi" -> "3.0.0",
          "info" -> Map("title" -> "graft", "version" -> "0.1.0"),
          "paths" -> paths))

      case ("GET", kind :: Nil) if kinds(kind) =>
        respondDoc(x, 200, ext, Map(kind -> exec.catalog.toMaps(kind)))

      case ("POST", kind :: Nil) if kinds(kind) =>
        requireAuth(x)
        val doc = Catalog.parseJsonDoc(readBody(x))
        val tmp = Catalog.fromMaps(Map(kind -> List(doc)) ++ referenced(kind))
        val added = tmp.list(kind).head
        exec.catalog.add(added)
        // add overwrites an existing entity of the same name, so the same
        // staleness rules as update apply
        exec.catalogChanged(kind)
        persist()
        respondDoc(x, 200, ext, Map("added" -> nameOf(added)))

      case ("GET", kind :: name :: Nil) if kinds(kind) =>
        exec.catalog.get(kind, name) match {
          case Some(e) => respondDoc(x, 200, ext, entityMap(kind, name))
          case None    => respondErr(x, 404, s"$kind/$name not found")
        }

      // update an existing entity in place — the reference registers both
      // POST and PUT on the item route (router/RailgunRouter.go:166,173;
      // handlers/ItemHandler.go:173-196 "updated")
      case ("PUT" | "POST", kind :: name :: Nil) if kinds(kind) =>
        requireAuth(x)
        val doc0 = Catalog.parseJsonDoc(readBody(x))
        doc0.get("name").foreach { n =>
          if (n != name) throw new IllegalArgumentException(
            s"body name '$n' does not match path name '$name'")
        }
        val doc = doc0 + ("name" -> name)
        val tmp = Catalog.fromMaps(Map(kind -> List(doc)) ++ referenced(kind))
        val updated = tmp.list(kind).head
        exec.catalog.update(updated)
        // cached dataset vars may be planned over the old definition
        exec.catalogChanged(kind)
        persist()
        respondDoc(x, 200, ext, Map("updated" -> name))

      case ("DELETE", kind :: name :: Nil) if kinds(kind) =>
        requireAuth(x)
        // a running serving job's entity is its only addressable handle
        // (stop looks the entity up first) — deleting it would orphan
        // the live stream behind 404s until a process restart
        if (kind == "servingjobs" && exec.servingRunning(name)) {
          respondErr(x, 409,
            s"servingjob $name is running — stop it before deleting")
          return
        }
        if (exec.catalog.delete(kind, name)) {
          exec.catalogChanged(kind)
          persist()
          respondDoc(x, 200, ext, Map("deleted" -> name))
        } else respondErr(x, 404, s"$kind/$name not found")

      case ("POST", "services" :: name :: "exec" :: Nil) =>
        val body = readBody(x)
        val vars = if (body.trim.isEmpty) Map.empty[String, Any]
          else Catalog.parseJsonDoc(body)
            .getOrElse("variables", Map.empty).asInstanceOf[Map[String, Any]]
        val rows = exec.serviceExec(name, vars).toJSON.collect()
        respondJsonRows(x, ext, rows)

      case ("POST", "jobs" :: name :: "exec" :: Nil) =>
        respondJsonRows(x, ext, exec.jobExec(name).toJSON.collect())

      // streaming serving-job lifecycle — the reference routes every
      // entity's verbs through the catalog (router/RailgunRouter.go:
      // 50-135); the serving streams get the same treatment: the entity
      // is declarative, these are its exec verbs. start/stop mutate the
      // process's stream registry (auth'd like every mutation); status
      // is a read.
      // lifecycle conflicts (start while running / stop while stopped)
      // map to 409 HERE, scoped to these routes only — a global
      // IllegalStateException -> 409 would dress unrelated server
      // faults (Spark internals throw ISE freely, e.g. on a stopped
      // SparkContext) as caller-caused, retryable-looking conflicts
      case ("POST", "servingjobs" :: name :: "start" :: Nil) =>
        requireAuth(x)
        try respondDoc(x, 200, ext, exec.servingStart(name))
        catch { case e: IllegalStateException =>
          respondErr(x, 409, e.getMessage) }

      case ("GET", "servingjobs" :: name :: "status" :: Nil) =>
        respondDoc(x, 200, ext, exec.servingStatus(name))

      case ("POST", "servingjobs" :: name :: "stop" :: Nil) =>
        requireAuth(x)
        try respondDoc(x, 200, ext, exec.servingStop(name))
        catch { case e: IllegalStateException =>
          respondErr(x, 409, e.getMessage) }

      case ("POST", "workflows" :: name :: "exec" :: Nil) =>
        // response mirrors the reference's workflow-exec document
        // (WorkflowExecHandler.go:200-206): top-level success, per-job
        // exitCodes and stderr maps, plus the per-job results array
        val results = exec.workflowExec(name)
        respondDoc(x, 200, ext, Map(
          "success" -> results.forall(_.exitCode == 0),
          "message" -> s"workflow with name $name completed.",
          "exitCodes" -> results.map(r => r.job -> r.exitCode.toLong).toMap,
          "stderr" -> results.collect {
            case r if r.error.nonEmpty => r.job -> r.error.get }.toMap,
          "results" -> results.map(r => Map(
            "job" -> r.job, "exitCode" -> r.exitCode.toLong,
            "error" -> r.error.orNull, "rows" -> r.rows)).toList))

      case ("GET", "layers" :: name :: "tiles" :: "data" :: z :: xs :: ys :: Nil) =>
        val qs = queryParams(x)
        val gj = tiles.tileQueryGeoJson(name, z.toInt, xs.toLong, ys.toLong,
          buffer = qs.get("buffer").map(_.toLong).getOrElse(1L),
          userDfl = qs.get("dfl"),
          limit = qs.get("limit").map(_.toInt))
        respond(x, 200, gj, "application/json")

      case ("GET", "layers" :: name :: "tiles" :: "mask" :: z :: xs :: ys :: Nil) =>
        val qs = queryParams(x)
        // extension-selected encoding like the reference
        // (img/RespondWithGrid.go:32-39); a bare path (ext defaults to
        // "json") serves png, anything else unknown is a 400
        val fmt = ext match {
          case "json" | "png" => "png"
          case "gif" => "gif"
          case "jpeg" | "jpg" => "jpeg"
          case other =>
            respondErr(x, 400, s"unknown image extension: $other"); return
        }
        val grid = tiles.maskGrid(name, z.toInt, xs.toLong, ys.toLong,
          maskZoom = qs.get("zoom").map(_.toInt).getOrElse(8),
          threshold = qs.get("threshold").map(_.toLong).getOrElse(1L),
          userDfl = qs.get("dfl"))
        val img = tiles.maskImage(grid,
          qs.get("alpha").map(_.toInt).getOrElse(255), fmt)
        respondBytes(x, 200, img, s"image/$fmt")

      case _ => respondErr(x, 404, s"no route: $method $path")
    }
  }

  /** Save the catalog back to its URI after every successful mutation
    * (reference: catalog/Catalog.go:42-146 saves on each handler mutation;
    * without this a server restart silently loses HTTP-made changes). */
  private def persist(): Unit = catalogUri.foreach(exec.catalog.save)

  // include referenced entities so fromMaps integrity checks pass
  private def referenced(kind: String): Map[String, Any] = {
    val m = exec.catalog.toMaps
    kind match {
      case "datastores" => Map("workspaces" -> m("workspaces"))
      case "layers"     => Map("workspaces" -> m("workspaces"), "datastores" -> m("datastores"))
      case "services"   => m - "services" - "jobs" - "workflows"
      case "jobs"       => m - "jobs" - "workflows"
      case "workflows"  => m - "workflows"
      case _            => Map.empty
    }
  }

  private def entityMap(kind: String, name: String): Map[String, Any] =
    exec.catalog.toMaps(kind).asInstanceOf[List[Map[String, Any]]]
      .find(_.get("name").contains(name))
      .getOrElse(throw new NoSuchElementException(s"$kind/$name not found"))

  private def nameOf(e: Any): String = e match {
    case w: Workspace => w.name; case d: DataStore => d.name
    case l: Layer => l.name; case p: Process => p.name
    case s: Service => s.name; case j: Job => j.name
    case w: Workflow => w.name; case sj: ServingJob => sj.name
    case _ => ""
  }

  // ---------- content negotiation ----------

  private def extOf(path: String): String = {
    val last = path.split('/').lastOption.getOrElse("")
    val dot = last.lastIndexOf('.')
    if (dot >= 0) last.substring(dot + 1) else "json"
  }

  private def stripExt(path: String): String = {
    val dot = path.lastIndexOf('.')
    val slash = path.lastIndexOf('/')
    if (dot > slash) path.substring(0, dot) else path
  }

  /** Serialize a response document per the path extension. Content types
    * match the reference (handlers/BaseHandler.go:208-220, including its
    * `application/ubjson` for bson); html is the reference's
    * pretty-printed-JSON preview page (BaseHandler.go:148-203) without the
    * CDN assets (offline environment). */
  private def negotiate(ext: String, value: Map[String, Any]): (Array[Byte], String) =
    ext match {
      case "yaml" | "yml" => (TextFormats.renderYaml(value).getBytes(UTF_8), "text/yaml")
      case "toml"         => (TextFormats.renderToml(value).getBytes(UTF_8), "application/toml")
      case "bson"         => (graft.io.Bson.renderDoc(value), "application/ubjson")
      case "html"         => (renderHtml(value).getBytes(UTF_8), "text/html")
      case _              => (TextFormats.toJson(value).getBytes(UTF_8), "application/json")
    }

  private def respondDoc(x: HttpExchange, code: Int, ext: String,
                         value: Map[String, Any]): Unit = {
    val (bytes, ct) = negotiate(ext, value)
    respondBytes(x, code, bytes, ct)
  }

  private def htmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&#39;")

  // Inline slippy-map driver for the home page. One tile fills the canvas;
  // zoom/pan change (z, x, y); every render draws the raster mask tile
  // under the GeoJSON data tile, both fetched live with the current DFL.
  // The lon/lat → tile-pixel projection is the same Web-Mercator math as
  // graft.geo.TileMath. Deliberately dependency-free (offline build).
  private val mapScript: String =
    """<script>
      |var z=0,x=0,y=0,S=512;
      |var cv=document.getElementById('map'),cx=cv.getContext('2d');
      |function q(n){return document.getElementById(n);}
      |function urlFor(kind){
      |  var name=encodeURIComponent(q('layer').value);
      |  var dfl=q('dfl').value;
      |  var u='/layers/'+name+'/tiles/'+(kind==='mask'
      |    ?'mask/'+z+'/'+x+'/'+y+'.png?alpha=120&zoom='+Math.min(z+4,18)
      |    :'data/'+z+'/'+x+'/'+y+'.json?buffer=0');
      |  if(dfl){u+='&dfl='+encodeURIComponent(dfl);}
      |  return u;
      |}
      |function proj(lon,lat){
      |  var n=Math.pow(2,z);
      |  var tx=(lon+180)/360*n;
      |  var lr=lat*Math.PI/180;
      |  var ty=(1-Math.log(Math.tan(lr)+1/Math.cos(lr))/Math.PI)/2*n;
      |  return [(tx-x)*S,(ty-y)*S];
      |}
      |function dot(c){var p=proj(c[0],c[1]);cx.beginPath();
      |  cx.arc(p[0],p[1],4,0,2*Math.PI);cx.fillStyle='rgba(200,30,30,0.8)';cx.fill();}
      |function line(cs){cx.beginPath();cs.forEach(function(c,i){var p=proj(c[0],c[1]);
      |  if(i){cx.lineTo(p[0],p[1]);}else{cx.moveTo(p[0],p[1]);}});
      |  cx.strokeStyle='rgba(30,30,200,0.8)';cx.stroke();}
      |function poly(rings){cx.beginPath();rings.forEach(function(cs){
      |  cs.forEach(function(c,i){var p=proj(c[0],c[1]);
      |    if(i){cx.lineTo(p[0],p[1]);}else{cx.moveTo(p[0],p[1]);}});cx.closePath();});
      |  cx.fillStyle='rgba(30,160,60,0.35)';cx.fill('evenodd');
      |  cx.strokeStyle='rgba(30,120,40,0.9)';cx.stroke();}
      |function walk(g){
      |  if(g.type==='Point'){dot(g.coordinates);}
      |  else if(g.type==='MultiPoint'){g.coordinates.forEach(dot);}
      |  else if(g.type==='LineString'){line(g.coordinates);}
      |  else if(g.type==='MultiLineString'){g.coordinates.forEach(line);}
      |  else if(g.type==='Polygon'){poly(g.coordinates);}
      |  else if(g.type==='MultiPolygon'){g.coordinates.forEach(poly);}
      |  else if(g.type==='GeometryCollection'){g.geometries.forEach(walk);}
      |}
      |function drawData(){
      |  fetch(urlFor('data')).then(function(r){return r.json();}).then(function(fc){
      |    (fc.features||[]).forEach(function(f){if(f.geometry){walk(f.geometry);}});
      |    q('info').textContent='z='+z+' x='+x+' y='+y+' features='
      |      +(fc.numberOfFeatures!=null?fc.numberOfFeatures:(fc.features||[]).length);
      |  }).catch(function(e){q('info').textContent='error: '+e;});
      |}
      |function render(){
      |  cx.clearRect(0,0,S,S);cx.fillStyle='#eef';cx.fillRect(0,0,S,S);
      |  var img=new Image();
      |  img.onload=function(){cx.globalAlpha=0.5;cx.drawImage(img,0,0,S,S);
      |    cx.globalAlpha=1;drawData();};
      |  img.onerror=drawData;
      |  img.src=urlFor('mask');
      |}
      |function move(dx,dy){var n=Math.pow(2,z);
      |  x=Math.min(Math.max(x+dx,0),n-1);y=Math.min(Math.max(y+dy,0),n-1);render();}
      |q('zin').onclick=function(){if(z<18){z++;x*=2;y*=2;render();}};
      |q('zout').onclick=function(){if(z>0){z--;x=Math.floor(x/2);y=Math.floor(y/2);render();}};
      |q('west').onclick=function(){move(-1,0);};
      |q('east').onclick=function(){move(1,0);};
      |q('north').onclick=function(){move(0,-1);};
      |q('south').onclick=function(){move(0,1);};
      |q('apply').onclick=render;
      |q('layer').onchange=render;
      |q('dfl').addEventListener('keyup',function(e){if(e.key==='Enter'){render();}});
      |render();
      |</script>""".stripMargin

  private def renderHtml(value: Map[String, Any]): String =
    s"""<html><head><title>graft</title>
       |<style>pre { border: 2px solid black; padding: 20px; font-family: monospace; }</style>
       |</head><body><h2>Items</h2>
       |<pre>${htmlEscape(TextFormats.toJsonPretty(value))}</pre>
       |</body></html>""".stripMargin

  private def respondJsonRows(x: HttpExchange, ext: String, rows: Array[String]): Unit =
    respond(x, 200, rows.mkString("[", ",", "]"), "application/json")

  private def requireAuth(x: HttpExchange): Unit = {
    val header = Option(x.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    val token = header.stripPrefix("Bearer ").trim
    if (jwt.verify(token).isEmpty)
      throw new IllegalArgumentException("authorization required (root JWT)")
  }

  // split the RAW query on '&' then decode each component exactly once
  // (getQuery pre-decodes, which would corrupt %-escapes and embedded '&')
  private def queryParams(x: HttpExchange): Map[String, String] =
    Option(x.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains("="))
      .map { kv => val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8") }
      .toMap

  private def readBody(x: HttpExchange): String =
    new String(x.getRequestBody.readAllBytes(), UTF_8)

  private def respond(x: HttpExchange, code: Int, body: String,
                      contentType: String = "application/json"): Unit =
    respondBytes(x, code, body.getBytes(UTF_8), contentType)

  private def acceptsGzip(x: HttpExchange): Boolean =
    Option(x.getRequestHeaders.getFirst("Accept-Encoding"))
      .exists(_.split(',').map(_.trim.takeWhile(_ != ';')).contains("gzip"))

  private def respondBytes(x: HttpExchange, code: Int, body0: Array[Byte],
                           contentType: String): Unit = {
    x.getResponseHeaders.set("Content-Type", contentType)
    // reference middleware stack: CORS headers on every response
    // (router/CorsMiddleware.go:10-11) + optional gzip encoding
    // (router/RailgunRouter.go:44-45)
    x.getResponseHeaders.set("Access-Control-Allow-Origin", corsOrigin)
    // image bodies (the mask route's png/gif/jpeg) are compressed already
    val body =
      if (gzipResponses && body0.nonEmpty && !contentType.startsWith("image/") &&
          acceptsGzip(x)) {
        x.getResponseHeaders.set("Content-Encoding", "gzip")
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        try gz.write(body0) finally gz.close()
        bos.toByteArray
      } else body0
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    val os = x.getResponseBody
    try { if (body.nonEmpty) os.write(body) } finally os.close()
  }
}

object Server {
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** A JDK `HttpServer` on `addr` whose connections have Nagle's algorithm
    * off. Every `com.sun.net.httpserver.HttpServer` in graft is created
    * here.
    *
    * `sendResponseHeaders` flushes the status line and headers as a TCP
    * segment of their own, before the handler writes the body. With Nagle
    * on (the JDK's default) the body segment then waits until the client
    * ACKs the headers, and on a keep-alive connection Linux delays that
    * ACK by at least 40 ms: each request after a connection's first
    * would wait that long. Go's net/http, which railgun serves through,
    * turns Nagle off by default too.
    *
    * The JDK reads `sun.net.httpserver.nodelay` once per JVM, when the
    * first `HttpServer` is created; a server created earlier elsewhere
    * fixes the setting for all later ones. A value the operator set with
    * `-Dsun.net.httpserver.nodelay=...` is left as it is. */
  def newHttpServer(addr: InetSocketAddress): HttpServer = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    HttpServer.create(addr, 0)
  }

  /** A name as one URL path segment: `/` and spaces are escaped, so any
    * catalog name round-trips through [[decodeSegment]]. */
  def encodeSegment(name: String): String =
    URLEncoder.encode(name, UTF_8).replace("+", "%20")

  /** One raw path segment, %-decoded once; a `+` in a path is a literal
    * plus, not the form encoding's space. */
  def decodeSegment(raw: String): String =
    URLDecoder.decode(raw.replace("+", "%2B"), UTF_8)
}
