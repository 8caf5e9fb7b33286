package perfbench

import graft.catalog._
import graft.server.Server
import org.apache.spark.sql.SparkSession

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.collection.mutable

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cum = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s)).scanLeft(0.0)(_ + _).tail
    w.map(_ / w.last).toArray
  }
  def next(rnd: java.util.SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cum, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** `serve_http`: graft's catalog HTTP server in-process, driven over real
  * HTTP by two closed-loop clients (each waits for its reply, like the
  * map page and `ClientCli`). */
final class ServeHttp extends Workload {
  val name = "serve_http"
  val points = 20000
  val centres = 50
  val kinds = 20
  val clients = 2
  val extent: Seq[Double] = Seq(-175.0, -70.0, 175.0, 70.0)
  val minRank = 50L

  // ground truth: the generated features
  private var lon: Array[Double] = _
  private var lat: Array[Double] = _
  private var kind: Array[Int] = _
  private var cluster: Array[Int] = _
  private var rank: Array[Int] = _
  private var data: File = _
  private var seed = 0L
  private val tilesByZoom = mutable.Map.empty[Int, IndexedSeq[(Long, Long)]]

  private var spark: SparkSession = _
  private var exec: Exec = _
  private var server: Server = _
  private var base = ""
  // the datastore as the server loaded it at set-up: the traced run
  // times each request kind's DFL over it after the window
  private var cachedDf: org.apache.spark.sql.DataFrame = _
  private var token = ""
  private val opsBuf = mutable.ArrayBuffer.empty[OpRec]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val nextOp = new java.util.concurrent.atomic.AtomicInteger(0)
  private val putRev = new java.util.concurrent.atomic.AtomicInteger(0)

  def sizes: Seq[(String, Long)] = Seq("points" -> points.toLong,
    "centres" -> centres.toLong, "kinds" -> kinds.toLong, "clients" -> clients.toLong)

  def generate(dir: File, seed: Long): Unit = {
    this.seed = seed
    val rnd = new java.util.SplittableRandom(seed * 104729 + 2)
    val cs = Array.fill(centres)((rnd.nextDouble(-165, 165), rnd.nextDouble(-60, 60)))
    val kz = new Zipf(kinds, 1.0)
    lon = new Array(points); lat = new Array(points); kind = new Array(points)
    cluster = new Array(points); rank = new Array(points)
    data = new File(dir, "points.jsonl")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(data), "UTF-8"), 1 << 20)
    try {
      for (i <- 0 until points) {
        val c = rnd.nextInt(centres)
        val (x, y) = Geo.safePoint(rnd, cs(c)._1, cs(c)._2, 1.5)
        lon(i) = x; lat(i) = y; kind(i) = kz.next(rnd); cluster(i) = c
        rank(i) = rnd.nextInt(100)
        w.write(f"""{"type":"Feature","properties":{"pid":$i,"name":"p$i","amenity":"k${kind(i)}%02d",""" +
          f""""cluster":$c,"rank":${rank(i)}},"geometry":{"type":"Point","coordinates":[$x%.6f,$y%.6f]}}""")
        w.write('\n')
      }
    } finally w.close()
    // read the coordinates back as the program will: from their text
    for (i <- 0 until points) {
      lon(i) = f"${lon(i)}%.6f".toDouble; lat(i) = f"${lat(i)}%.6f".toDouble
    }
    for (z <- 6 to 12) {
      val ts = (0 until points).map(i => (Geo.lonToTile(lon(i), z), Geo.latToTile(lat(i), z))).distinct
      val r = new java.util.Random(seed + z)
      tilesByZoom(z) = scala.util.Random.javaRandomToRandom(r).shuffle(ts).toIndexedSeq
    }
  }

  private def catalog(): Catalog = {
    val c = new Catalog
    c.add(Workspace("bench"))
    c.add(DataStore("bench", "points", data.getAbsolutePath,
      extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    c.add(Process("by_kind", "filter(@, '(@properties.amenity == $kind) and " +
      "(@properties.cluster == $cl)') | map(@, '{pid: @properties.pid}')"))
    c.add(Process("ranked", rankedExpr))
    c.add(Service("by_kind", "points", "by_kind", defaults = Map("kind" -> "k00", "cl" -> 0L)))
    c.add(Service("ranked", "points", "ranked", defaults = Map("minRank" -> minRank, "cl" -> 0L)))
    c.add(Layer("points", "points", "", extent = extent))
    c
  }

  // binds a cached dataset var: later execs reuse `$c` until a catalog
  // mutation invalidates Exec's caches
  val rankedExpr: String =
    """($c := ($c ?: filter(@, "@properties.rank >= $minRank"))) | $c | """ +
      """filter(@, "@properties.cluster == $cl") | {numberOfFeatures: len(@)}"""

  def setUp(spark: SparkSession, rec: Option[Recorder], rep: Int): Unit = {
    this.spark = spark
    exec = new Exec(spark, catalog())
    server = new Server(spark, exec, 0, rootPassword = "bench")
    server.start()
    base = s"http://localhost:${server.boundPort}"
    val http = client()
    val auth = send(http, "POST", "/authenticate.json", """{"username":"root","password":"bench"}""")
    token = Main.json.readTree(auth._2).get("token").asText
    // the cold op: a service exec, which loads and caches the datastore
    request(http, new java.util.SplittableRandom(seed), timed = false, slot = 3)
    cachedDf = exec.readDataStore(exec.catalog.datastores("points"), Map.empty)
  }

  def tearDown(): Unit = {
    if (server != null) server.stop()
    if (exec != null) exec.invalidateDataFrames()
  }

  private def client(): HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).connectTimeout(Duration.ofSeconds(10)).build()

  private def send(http: HttpClient, method: String, path: String, body: String = "",
                   auth: Boolean = false): (Int, Array[Byte]) = {
    val b = HttpRequest.newBuilder(URI.create(base + path)).timeout(Duration.ofSeconds(60))
    if (auth) b.header("Authorization", s"Bearer $token")
    val req = method match {
      case "GET" => b.GET().build()
      case m => b.header("Content-Type", "application/json")
        .method(m, HttpRequest.BodyPublishers.ofString(body)).build()
    }
    val r = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  private def fileBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** The request mix in blocks of 20 (45% tiles, 15% masks, 40% service
    * execs), so every run sees the same proportions; the parameters of
    * each request are drawn from the seed. */
  private val mix = "TMTKTRTKTRMTKTRTMTKR"

  /** One request of the mix; returns (ok, response bytes). */
  private def request(http: HttpClient, rnd: java.util.SplittableRandom,
                      timed: Boolean, slot: Int,
                      put: Boolean = false): (Boolean, Long) = {
    val id = nextOp.incrementAndGet()
    val read0 = fileBytesRead()
    val (kindName, path, method, body, auth, check) =
      if (put) putReq()
      else mix(slot % mix.length) match {
        case 'T' => tileReq(rnd, mask = false)
        case 'M' => tileReq(rnd, mask = true)
        case 'K' => execKind(rnd)
        case _   => execRanked(rnd)
      }
    val s = Clock.nowMs
    val res = try Right(send(http, method, path, body, auth)) catch { case e: Exception => Left(e.toString) }
    val e = Clock.nowMs
    val read = fileBytesRead() > read0
    val (ok, bytes, rows, why) = res match {
      case Left(err) => (false, 0L, 0L, err)
      case Right((code, b)) if code != 200 => (false, b.length.toLong, 0L, s"HTTP $code ${new String(b, "UTF-8").take(200)}")
      case Right((_, b)) =>
        val (good, rows, why) = try check(b) catch { case ex: Exception => (false, 0L, ex.toString) }
        (good, b.length.toLong, rows, why)
    }
    if (!ok) println(s"[perfbench] $kindName $path failed: $why")
    if (!ok && !timed) failures.synchronized { failures += s"untimed $kindName $path: $why" }
    if (timed) opsBuf.synchronized {
      opsBuf += OpRec(id, kindName, Iv(s, e), ok, rowsOut = rows, respBytes = bytes, fileRead = read)
    }
    (ok, bytes)
  }

  type Check = Array[Byte] => (Boolean, Long, String)
  type Req = (String, String, String, String, Boolean, Check)

  private def inExtent(w: Double, s: Double, e: Double, n: Double): Boolean =
    !(extent(2) < w || extent(0) > e || extent(3) < s || extent(1) > n)

  private def tileReq(rnd: java.util.SplittableRandom, mask: Boolean): Req = {
    val z = 6 + rnd.nextInt(7)
    val (x, y) =
      if (rnd.nextInt(10) == 0) {
        // outside the layer extent: north of it, so no data is read
        var yy = 0L
        while (Geo.tileLat(yy + 1, z) > extent(3) + 0.5) yy += 1
        (rnd.nextLong(1L << z), rnd.nextLong(math.max(1L, yy)))
      } else {
        val ts = tilesByZoom(z)
        ts(new Zipf(math.min(ts.size, 2000), 1.0).next(rnd))
      }
    val (w, e) = (Geo.tileLon(x, z), Geo.tileLon(x + 1, z))
    val (s, n) = (Geo.tileLat(y + 1, z), Geo.tileLat(y, z))
    val hit = if (!inExtent(w, s, e, n)) Array.empty[Int]
      else (0 until points).filter(i => lon(i) >= w && lon(i) <= e && lat(i) >= s && lat(i) <= n).toArray
    if (!mask) {
      val check: Check = b => {
        val fc = Main.json.readTree(b)
        val feats = fc.get("features")
        val got = (0 until feats.size).map(i => feats.get(i).get("properties").get("pid").asLong).sorted
        val ok = got == hit.map(_.toLong).toSeq.sorted && fc.get("numberOfFeatures").asLong == hit.length
        (ok, got.size.toLong, s"tile $z/$x/$y: ${got.size} features, expected ${hit.length}")
      }
      ("tile", s"/layers/points/tiles/data/$z/$x/$y.json?buffer=0", "GET", "", false, check)
    } else {
      val g = 256
      val want = hit.map(i => ((Geo.latToTile(lat(i), z + 8) - y * g).toInt,
        (Geo.lonToTile(lon(i), z + 8) - x * g).toInt))
        .filter { case (r, c) => r >= 0 && r < g && c >= 0 && c < g }.toSet
      val check: Check = b => {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
        val got = (for (r <- 0 until img.getHeight; c <- 0 until img.getWidth
          if (img.getRGB(c, r) >>> 24) != 0) yield (r, c)).toSet
        (got == want, got.size.toLong, s"mask $z/$x/$y: ${got.size} cells, expected ${want.size}")
      }
      ("mask", s"/layers/points/tiles/mask/$z/$x/$y.png", "GET", "", false, check)
    }
  }

  private def execKind(rnd: java.util.SplittableRandom): Req = {
    val k = new Zipf(kinds, 1.0).next(rnd); val cl = rnd.nextInt(centres)
    val want = (0 until points).filter(i => kind(i) == k && cluster(i) == cl).map(_.toLong)
    val check: Check = b => {
      val arr = Main.json.readTree(b)
      val got = (0 until arr.size).map(i => arr.get(i).get("pid").asLong).sorted
      (got == want, got.size.toLong, s"by_kind k$k cl$cl: ${got.size} rows, expected ${want.size}")
    }
    ("exec_kind", "/services/by_kind/exec.json", "POST",
      f"""{"variables":{"kind":"k$k%02d","cl":$cl}}""", false, check)
  }

  private def execRanked(rnd: java.util.SplittableRandom): Req = {
    val cl = rnd.nextInt(centres)
    val want = (0 until points).count(i => cluster(i) == cl && rank(i) >= minRank)
    val check: Check = b => {
      val arr = Main.json.readTree(b)
      val got = arr.get(0).get("numberOfFeatures").asLong
      (arr.size == 1 && got == want, 1L, s"ranked cl$cl: $got, expected $want")
    }
    ("exec_ranked", "/services/ranked/exec.json", "POST",
      s"""{"variables":{"cl":$cl}}""", false, check)
  }

  /** An authenticated update that changes a default no request relies
    * on; it still invalidates Exec's var and DataFrame caches. */
  private def putReq(): Req = {
    val rev = putRev.incrementAndGet()
    val body = s"""{"name":"ranked","datastore":"points","process":"ranked",""" +
      s""""defaults":{"minRank":$minRank,"cl":0,"rev":$rev}}"""
    val check: Check = b => {
      val ok = Main.json.readTree(b).get("updated").asText == "ranked"
      (ok, 0L, "update not acknowledged")
    }
    ("put", "/services/ranked.json", "PUT", body, true, check)
  }

  /** The JIT and Spark's codegen cache are still cold for most request
    * kinds after set-up (one exec each): run the mix untimed first. */
  override def warmUp(rec: Option[Recorder]): Unit = loop(warmUpS, timed = false, salt = 100)
  val warmUpS = 6.0

  def measure(seconds: Double, rec: Option[Recorder]): Unit = loop(seconds, timed = true, salt = 1)

  private def loop(seconds: Double, timed: Boolean, salt: Int): Unit = {
    val deadline = Clock.nowMs + seconds * 1000
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val http = client()
        val rnd = new java.util.SplittableRandom(seed * 31 + c + salt)
        var slot = 0
        while (Clock.nowMs < deadline) {
          // one authenticated update early in each window (then every
          // 100th request): it invalidates Exec's caches
          request(http, rnd, timed, slot, put = timed && c == 0 && slot % 100 == 10)
          slot += 1
        }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  def ops: Seq[OpRec] = opsBuf.synchronized(opsBuf.toSeq)
  /** The rare updates have too few samples for a median of their own. */
  override def latencyOps: Seq[OpRec] = ops.filter(_.kind != "put")
  override def extraFailures: Seq[String] = failures.synchronized(failures.toSeq)
  def diskBytes: Long = 0L

  def e2e(windowS: Double): Seq[(String, Double, String)] = {
    val ok = ops.filter(_.ok)
    val ex = ok.filter(_.kind.startsWith("exec")).map(_.ms)
    val tl = ok.filter(o => o.kind == "tile" || o.kind == "mask").map(_.ms)
    Seq(("req_per_s", ok.size / windowS, "req/s"),
      ("exec_ms_p50", Main.median(ex), "ms"), ("exec_ms_p95", Main.pct(ex, 0.95), "ms"),
      ("tile_ms_p50", Main.median(tl), "ms"), ("tile_ms_p95", Main.pct(tl, 0.95), "ms"),
      ("exec_samples", ex.size.toDouble, "count"), ("tile_samples", tl.size.toDouble, "count"))
  }

  /** The DFL each request kind runs; tile and mask requests run the
    * layer's geometry filter. */
  private def dflOf(kindName: String): Option[String] = kindName match {
    case "exec_kind"   => Some(exec.catalog.processes("by_kind").expression)
    case "exec_ranked" => Some(rankedExpr)
    case "put"         => None
    case _             => Some(graft.dfl.Named.geometryFilter)
  }

  /** Runs after the window, so this timing neither shares the CPU with a
    * request nor touches `Exec`'s caches: parse and `DflFrame.pipeline`
    * (lazy) of each request kind over the DataFrame captured at set-up,
    * five times each, medians weighted by the window's mix. */
  override def layers(rec: Recorder, window: Iv): Map[String, Double] = {
    val o = ops
    val n = math.max(1, o.size).toDouble
    val vars: Map[String, Any] = Map("kind" -> "k00", "cl" -> 0L, "minRank" -> minRank,
      "bbox" -> Seq(-1.0, -1.0, 1.0, 1.0))
    def ms(body: => Any): Double = { val s = Clock.nowMs; body; Clock.nowMs - s }
    val perKind = o.groupBy(_.kind).toSeq.flatMap { case (k, ks) =>
      dflOf(k).map { expr =>
        val t = (1 to 5).map { _ =>
          (ms(rec.span("dfl.parse")(graft.dfl.Parser.parse(expr))),
            ms(rec.span("dfl.pipeline")(graft.dfl.DflFrame.pipeline(cachedDf, expr, vars))))
        }
        (ks.size * Main.median(t.map(_._1)), ks.size * Main.median(t.map(_._2)))
      }
    }
    Map("catalog.scan_share" -> o.count(_.fileRead).toDouble / n,
      "server.resp_kb" -> o.map(_.respBytes).sum / 1000.0 / n,
      "dfl.parse_ms" -> perKind.map(_._1).sum / n,
      "dfl.pipeline_ms" -> perKind.map(_._2).sum / n)
  }
}
