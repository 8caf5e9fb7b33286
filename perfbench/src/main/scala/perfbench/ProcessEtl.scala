package perfbench

import graft.cli.ProcessCli
import graft.dfl.{DflFrame, Parser}
import graft.io.{DataStoreIO, DynamicSink}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.regexp_replace

import java.io.File
import scala.collection.mutable

/** Shared loop of the batch workloads: passes back to back, one at a
  * time, until `seconds` of pass time have been measured. Each pass's
  * output is checked (outside its timing) and then deleted. */
abstract class BatchWorkload extends Workload {
  protected val opsBuf = mutable.ArrayBuffer.empty[OpRec]
  protected val failures = mutable.ArrayBuffer.empty[String]
  protected var work: File = _
  protected var spark: SparkSession = _
  private var passNo = 0

  /** Run one pass writing under `out`. */
  protected def pass(out: File, rec: Option[Recorder], opId: Int): Unit
  /** Check a pass's output; return failure descriptions and the rows out. */
  protected def check(out: File): (Seq[String], Long)
  protected def inputRows: Long
  protected def lastOutput: File = new File(work, s"out-$passNo")

  private def runPass(rec: Option[Recorder], timed: Boolean): Unit = {
    passNo += 1
    val out = new File(work, s"out-$passNo")
    val prev = new File(work, s"out-${passNo - 1}")
    val s = Clock.nowMs
    val thrown = try { pass(out, rec, passNo); None }
      catch { case e: Exception => Some(s"pass $passNo threw: $e") }
    val e = Clock.nowMs
    val (bad, rows) = thrown.map(t => (Seq(t), 0L)).getOrElse(check(out))
    if (timed) opsBuf += OpRec(passNo, "pass", Iv(s, e), bad.isEmpty, rowsOut = rows)
    else failures ++= bad.map(b => s"untimed pass: $b")
    if (timed) bad.foreach(b => println(s"[perfbench] pass $passNo: $b"))
    deleteOld(prev)
  }

  private def deleteOld(f: File): Unit = if (f.exists()) Main.deleteRec(f)

  override def setUp(spark: SparkSession, rec: Option[Recorder], rep: Int): Unit = {
    this.spark = spark
    runPass(rec, timed = false)
  }

  override def tearDown(): Unit = ()

  /** The first passes after a set-up still run slower while the JIT
    * compiles the hot paths: run two untimed before the window. */
  override def warmUp(rec: Option[Recorder]): Unit = (1 to 2).foreach(_ => runPass(rec, timed = false))

  override def measure(seconds: Double, rec: Option[Recorder]): Unit = {
    var acc = 0.0
    while (acc < seconds * 1000) {
      runPass(rec, timed = true)
      acc += opsBuf.last.ms
    }
  }

  override def ops: Seq[OpRec] = opsBuf.toSeq
  override def extraFailures: Seq[String] = failures.toSeq
  override def diskBytes: Long = Main.dirBytes(lastOutput)

  protected def span[T](rec: Option[Recorder], name: String)(body: => T): T =
    rec.fold(body)(_.span(name)(body))

  override def e2e(windowS: Double): Seq[(String, Double, String)] = {
    val busyS = opsBuf.map(_.ms).sum / 1000
    Seq(("rows_per_s", inputRows * opsBuf.size / math.max(busyS, 1e-9), "rows/s"),
      ("disk_bytes_per_row", diskBytes.toDouble / inputRows, "B/row"))
  }
}

/** `process_etl`: a geonames-style TSV through the geonames DFL and the
  * dynamic-partition jsonl sink, exactly as `ProcessCli.main` drives it. */
final class ProcessEtl extends BatchWorkload {
  val name = "process_etl"
  val rows = 20000
  val zoom = 2
  private var tsv: File = _
  // ground truth, by construction
  private var expectedCount = 0L
  private var expectedHash = 0L
  private val expectedTiles = mutable.Set.empty[String]

  def sizes: Seq[(String, Long)] = Seq("rows" -> rows.toLong, "zoom" -> zoom.toLong)
  protected def inputRows: Long = rows.toLong

  val dfl: String =
    """((@longitude == null) or (len(@longitude) == 0)) ? null :
      |{
      |  type: "Feature",
      |  id: int64(@geonameid),
      |  properties: (@ + {id: int64(@geonameid), population: int64(@population)}) - {longitude, latitude},
      |  geometry: {type: "Point", coordinates: [float64(@longitude), float64(@latitude)]}
      |} |
      |($c := @geometry?.coordinates) |
      |(@properties += {_tile_z: $z, _tile_x: tileX($c[0], $z), _tile_y: tileY($c[1], $z)}) |
      |(not (($c[0] between -180.0 and 180.0) and ($c[1] between -85.0 and 85.0))) ? null : @
      |""".stripMargin

  // the record-dependent output URI; `$dir` is bound to "" so the
  // computed path is relative to each pass's output directory
  val outputUri: String = "$dir + \"/tiles/\" + @properties._tile_z + \"-\" + " +
    "@properties._tile_x + \"-\" + @properties._tile_y + \".geojsonl\""

  private def cfg: ProcessCli.Config = ProcessCli.Config(
    inputUri = tsv.getAbsolutePath, inputFormat = "tsv", dfl = dfl,
    vars = Map("z" -> zoom.toLong, "dir" -> ""), outputUri = outputUri)

  def generate(dir: File, seed: Long): Unit = {
    work = dir.getParentFile
    tsv = new File(dir, "places.tsv")
    val rnd = new java.util.SplittableRandom(seed * 7919 + 1)
    val centres = Array.fill(200)((rnd.nextDouble(-170, 170), rnd.nextDouble(-60, 60)))
    val header = Seq("geonameid", "name", "asciiname", "alternatenames", "latitude",
      "longitude", "feature_class", "feature_code", "country_code", "cc2",
      "admin1_code", "admin2_code", "admin3_code", "admin4_code", "population",
      "elevation", "dem", "timezone", "modification_date")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(tsv), "UTF-8"), 1 << 20)
    try {
      w.write(header.mkString("\t")); w.write('\n')
      var i = 1
      while (i <= rows) {
        val kind = rnd.nextInt(100)
        val name = s"place$i"
        val pop = rnd.nextInt(5000000)
        val (lat, lon) =
          if (kind < 2) (f"${rnd.nextDouble(-60, 60)}%.6f", "")            // null-dropped
          else if (kind < 4) (f"${rnd.nextDouble(-60, 60)}%.6f",
            f"${rnd.nextDouble(180.5, 200)}%.6f")                          // bbox-dropped
          else {
            val c = centres(rnd.nextInt(centres.length))
            val (x, y) = Geo.safePoint(rnd, c._1, c._2, 1.0)
            val (ls, as) = (f"$x%.6f", f"$y%.6f")
            val (lo, la) = (ls.toDouble, as.toDouble)
            val tx = Geo.lonToTile(lo, zoom); val ty = Geo.latToTile(la, zoom)
            expectedCount += 1
            expectedHash += Geo.h(s"$i|$name|$tx|$ty|$lo|$la")
            expectedTiles += s"$zoom-$tx-$ty.geojsonl"
            (as, ls)
          }
        w.write(s"$i\t$name\t$name\t\t$lat\t$lon\tP\tPPL\tUS\t\t\t\t\t\t$pop\t10\t10\tUTC\t2020-01-01\n")
        i += 1
      }
    } finally w.close()
  }

  protected def pass(out: File, rec: Option[Recorder], opId: Int): Unit = {
    val c = cfg
    rec match {
      case None =>
        val df = ProcessCli.run(spark, c)
        sink(df, out, c)
      case Some(r) =>
        r.span("dfl.parse")(Parser.parse(c.dfl))
        r.op(opId, "op.pass") {
          // ProcessCli.run's batch branch, unrolled so each call gets a span
          val in = r.span("io.read")(DataStoreIO.read(spark, c.inputUri,
            DataStoreIO.ReadOptions(format = c.inputFormat)))
          val df = r.span("dfl.pipeline")(DflFrame.pipeline(in, c.dfl, c.vars))
          r.span("io.write")(sink(df, out, c))
        }
    }
  }

  /** The sink calls `ProcessCli.main` makes for a record-dependent URI. */
  private def sink(df: org.apache.spark.sql.DataFrame, out: File, c: ProcessCli.Config): Unit = {
    val pathCol = regexp_replace(
      DflFrame.predicate(df, c.outputUri, c.vars).cast("string"), "^/+", "")
    DynamicSink.writeByComputedPath(df, pathCol, out.getAbsolutePath,
      format = "jsonl", mergeShards = true, compression = c.outputCompression)
  }

  protected def check(out: File): (Seq[String], Long) = {
    val tiles = new File(out, "tiles")
    val files = Option(tiles.listFiles()).map(_.toSeq).getOrElse(Nil)
    val names = files.map(_.getName).toSet
    val bad = mutable.ArrayBuffer.empty[String]
    if (names != expectedTiles)
      bad += s"partition paths differ: ${(names -- expectedTiles).size} unexpected, " +
        s"${(expectedTiles -- names).size} missing"
    var count = 0L; var hash = 0L; var misplaced = 0L
    files.foreach { f =>
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.io.FileInputStream(f), "UTF-8"), 1 << 16)
      try {
        var line = r.readLine()
        while (line != null) {
          if (line.nonEmpty) {
            val n = Main.json.readTree(line)
            val p = n.get("properties"); val co = n.get("geometry").get("coordinates")
            val (tx, ty) = (p.get("_tile_x").asLong, p.get("_tile_y").asLong)
            if (f.getName != s"$zoom-$tx-$ty.geojsonl") misplaced += 1
            count += 1
            hash += Geo.h(s"${n.get("id").asLong}|${p.get("name").asText}|$tx|$ty|" +
              s"${co.get(0).asDouble}|${co.get(1).asDouble}")
          }
          line = r.readLine()
        }
      } finally r.close()
    }
    if (count != expectedCount) bad += s"record count $count != $expectedCount"
    if (hash != expectedHash) bad += "content hash differs"
    if (misplaced > 0) bad += s"$misplaced records in the wrong tile file"
    (bad.toSeq, count)
  }
}

/** Web-Mercator tile math written out independently of graft, for the
  * ground truth, plus the generators' boundary guard. */
object Geo {
  def lonToTile(lon: Double, z: Int): Long = math.floor((lon + 180.0) / 360.0 * (1L << z)).toLong
  def latToTile(lat: Double, z: Int): Long = {
    val r = math.toRadians(lat)
    math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * (1L << z)).toLong
  }
  def tileLon(x: Long, z: Int): Double = x.toDouble / (1L << z) * 360.0 - 180.0
  def tileLat(y: Long, z: Int): Double =
    math.toDegrees(math.atan(math.sinh(math.Pi - 2.0 * math.Pi * y.toDouble / (1L << z))))

  /** Fractional tile position at z=20; the tile edges of every coarser
    * zoom are edges at z=20 too. */
  private def nearEdge(lon: Double, lat: Double): Boolean = {
    val n = (1L << 20).toDouble
    val fx = (lon + 180.0) / 360.0 * n
    val r = math.toRadians(lat)
    val fy = (1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * n
    def near(f: Double) = math.abs(f - math.rint(f)) < 1e-4
    near(fx) || near(fy)
  }

  /** A point near (cx, cy), rounded to 6 decimals, never on a tile edge
    * (so floating-point order cannot move it between tiles). */
  def safePoint(rnd: java.util.SplittableRandom, cx: Double, cy: Double,
                sigma: Double): (Double, Double) = {
    var p = (0.0, 0.0)
    do {
      val lon = math.max(-179.9, math.min(179.9, cx + gauss(rnd) * sigma))
      val lat = math.max(-80.0, math.min(80.0, cy + gauss(rnd) * sigma))
      p = (math.rint(lon * 1e6) / 1e6, math.rint(lat * 1e6) / 1e6)
    } while (nearEdge(p._1, p._2))
    p
  }

  def gauss(rnd: java.util.SplittableRandom): Double = {
    var u = 0.0
    while (u == 0.0) u = rnd.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  /** 64-bit hash of a string (order-insensitive content hashes sum these). */
  def h(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0xbeef)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }
}
