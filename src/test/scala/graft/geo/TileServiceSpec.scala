package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog._
import graft.io.DataStoreIO
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}

class TileServiceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 3 features: two in the DC area, one in Europe
  private def fixture(dir: String): (Exec, TileService) = {
    val features = Seq(
      """{"type":"Feature","properties":{"name":"dc1","amenity":"bar"},"geometry":{"type":"Point","coordinates":[-77.01,38.9]}}""",
      """{"type":"Feature","properties":{"name":"dc2","amenity":"cafe"},"geometry":{"type":"Point","coordinates":[-77.02,38.91]}}""",
      """{"type":"Feature","properties":{"name":"eu1","amenity":"bar"},"geometry":{"type":"Point","coordinates":[2.35,48.85]}}""",
    )
    Files.writeString(Paths.get(s"$dir/features.jsonl"), features.mkString("\n"))
    val c = new Catalog
    c.add(Workspace("ws"))
    c.add(DataStore("ws", "feat", s"$dir/features.jsonl",
      extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    c.add(Layer("all", "feat", "", extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    c.add(Layer("dc_only", "feat", "", extent = Seq(-78.0, 38.0, -76.0, 40.0)))
    val exec = new Exec(spark, c)
    (exec, new TileService(spark, exec))
  }

  test("tile query returns only features inside the tile bbox") {
    val dir = Files.createTempDirectory("graft-tile").toString
    val (_, svc) = fixture(dir)
    val z = 8
    val x = TileMath.lonToTile(-77.0, z)
    val y = TileMath.latToTile(38.9, z)
    val out = svc.tileQuery("all", z, x, y, buffer = 0).get
    val names = out.select("properties.name").collect().map(_.getString(0)).toSet
    assert(names == Set("dc1", "dc2"))
  }

  test("extent short-circuit fires without reading data") {
    val dir = Files.createTempDirectory("graft-tile").toString
    val (_, svc) = fixture(dir)
    // a tile in Europe vs the dc_only layer extent → None, zero IO
    val z = 8
    val x = TileMath.lonToTile(2.35, z)
    val y = TileMath.latToTile(48.85, z)
    assert(svc.tileQuery("dc_only", z, x, y).isEmpty)
    val gj = svc.tileQueryGeoJson("dc_only", z, x, y)
    assert(gj.contains("\"numberOfFeatures\":0"))
  }

  test("user dfl filter composes with the bbox filter") {
    val dir = Files.createTempDirectory("graft-tile").toString
    val (_, svc) = fixture(dir)
    val z = 8
    val x = TileMath.lonToTile(-77.0, z)
    val y = TileMath.latToTile(38.9, z)
    val out = svc.tileQuery("all", z, x, y,
      userDfl = Some("filter(@, '@properties?.amenity == bar')")).get
    assert(out.select("properties.name").collect().map(_.getString(0)).toSet == Set("dc1"))
  }

  test("geojson wrap has count and features") {
    val dir = Files.createTempDirectory("graft-tile").toString
    val (_, svc) = fixture(dir)
    val z = 8
    val x = TileMath.lonToTile(-77.0, z)
    val y = TileMath.latToTile(38.9, z)
    val gj = svc.tileQueryGeoJson("all", z, x, y, buffer = 0)
    assert(gj.startsWith("""{"type":"FeatureCollection""""))
    assert(gj.contains("\"numberOfFeatures\":2"))
  }

  test("mask grid counts sub-tiles and renders a png") {
    val dir = Files.createTempDirectory("graft-tile").toString
    val (_, svc) = fixture(dir)
    // zoom-0 world tile, 256x256 mask → DC features land in one cell,
    // Paris in another
    val grid = svc.maskGrid("all", 0, 0, 0, maskZoom = 8)
    assert(grid._1 == 256)
    assert(grid._2.size == 2)
    val expectedDc = (TileMath.latToTile(38.9, 8).toInt, TileMath.lonToTile(-77.01, 8).toInt)
    assert(grid._2.contains(expectedDc))
    val png = svc.maskPng(grid)
    assert(png.take(8).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
  }

  test("a small datastore serves a tile and a by_kind exec without a Spark job") {
    val dir = Files.createTempDirectory("graft-tile").toString
    val (exec, svc) = fixture(dir)
    exec.catalog.add(Process("by_kind",
      "filter(@, '@properties.amenity == $kind') | map(@, '{name: @properties.name}')"))
    exec.catalog.add(Service("by_kind", "feat", "by_kind", defaults = Map("kind" -> "bar")))
    val z = 8
    val (x, y) = (TileMath.lonToTile(-77.0, z), TileMath.latToTile(38.9, z))
    val cold = svc.tileQueryGeoJson("all", z, x, y, buffer = 0) // loads the datastore
    var tile = ""
    var kinds = Seq.empty[String]
    val jobs = TestSpark.jobsStartedBy {
      tile = svc.tileQueryGeoJson("all", z, x, y, buffer = 0)
      kinds = DataStoreIO.jsonRows(exec.serviceExec("by_kind", Map("kind" -> "cafe"))).toSeq
    }
    assert(jobs == 0, s"$jobs Spark jobs for a tile and a by_kind exec")
    assert(tile == cold && tile.contains("\"numberOfFeatures\":2"))
    assert(kinds == Seq("""{"name":"dc2"}"""))
  }

  test("a compressed datastore stays persisted and answers like a driver-held one") {
    val dir = Files.createTempDirectory("graft-tile").toString
    val (exec, svc) = fixture(dir)
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(Paths.get(s"$dir/features.jsonl.gz")))
    try gz.write(Files.readAllBytes(Paths.get(s"$dir/features.jsonl"))) finally gz.close()
    val world = Seq(-180.0, -85.0, 180.0, 85.0)
    exec.catalog.add(DataStore("ws", "feat_gz", s"$dir/features.jsonl.gz", extent = world))
    exec.catalog.add(Layer("all_gz", "feat_gz", "", extent = world))
    val held = exec.readDataStore(exec.catalog.datastores("feat"), Map.empty)
    val persisted = exec.readDataStore(exec.catalog.datastores("feat_gz"), Map.empty)
    assert(held.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(held.storageLevel == StorageLevel.NONE)
    assert(persisted.storageLevel != StorageLevel.NONE)
    assert(DataStoreIO.jsonRows(persisted).toSeq == DataStoreIO.jsonRows(held).toSeq)
    for ((lon, lat) <- Seq((-77.0, 38.9), (2.35, 48.85)); z <- Seq(0, 8)) {
      val (x, y) = (TileMath.lonToTile(lon, z), TileMath.latToTile(lat, z))
      assert(svc.tileQueryGeoJson("all_gz", z, x, y, buffer = 0) ==
        svc.tileQueryGeoJson("all", z, x, y, buffer = 0))
    }
    assert(svc.maskGrid("all_gz", 0, 0, 0) == svc.maskGrid("all", 0, 0, 0))
  }
}
