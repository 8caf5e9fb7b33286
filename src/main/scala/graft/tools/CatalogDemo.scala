package graft.tools

import graft.catalog._
import graft.geo.{TileMath, TileService}
import java.nio.file.{Files, Paths}
import graft.util.Sessions

/** Runtime demo of the catalog → exec → tile-service path: builds a
  * catalog over a GeoJSONL fixture, runs a service exec with variable
  * precedence, persists/reloads the catalog, and serves a vector tile +
  * mask. Run: `sbt "runMain graft.tools.CatalogDemo"`. */
object CatalogDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.create("graft-catalog-demo", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")

    val dir = Files.createTempDirectory("graft-demo").toString
    Files.writeString(Paths.get(s"$dir/features.jsonl"), Seq(
      """{"type":"Feature","properties":{"name":"dc1","amenity":"bar"},"geometry":{"type":"Point","coordinates":[-77.01,38.9]}}""",
      """{"type":"Feature","properties":{"name":"dc2","amenity":"cafe"},"geometry":{"type":"Point","coordinates":[-77.02,38.91]}}""",
      """{"type":"Feature","properties":{"name":"eu1","amenity":"bar"},"geometry":{"type":"Point","coordinates":[2.35,48.85]}}""",
    ).mkString("\n"))

    val c = new Catalog
    c.add(Workspace("demo"))
    c.add(DataStore("demo", "features", s"$dir/features.jsonl",
      extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    c.add(Process("by_amenity",
      "filter(@, '@properties?.amenity == $kind') | map(@, '@properties?.name')"))
    c.add(Service("amenities", "features", "by_amenity", defaults = Map("kind" -> "bar")))
    c.add(Layer("all", "features", "", extent = Seq(-180.0, -85.0, 180.0, 85.0)))

    println("== service exec (defaults kind=bar) ==")
    val exec = new Exec(spark, c)
    exec.serviceExec("amenities").show()
    println("== service exec (request kind=cafe overrides) ==")
    exec.serviceExec("amenities", Map("kind" -> "cafe")).show()

    println("== catalog persists and reloads ==")
    c.save(s"$dir/catalog.json")
    val exec2 = new Exec(spark, Catalog.load(s"$dir/catalog.json"))
    println(s"reloaded services: ${exec2.catalog.services.keySet}")

    println("== vector tile over DC ==")
    val svc = new TileService(spark, exec2)
    val z = 8
    val x = TileMath.lonToTile(-77.0, z); val y = TileMath.latToTile(38.9, z)
    println(svc.tileQueryGeoJson("all", z, x, y, buffer = 0))

    println("== extent short-circuit (tile in the Pacific) ==")
    println(svc.tileQueryGeoJson("all", 8, 10, 100))

    println("== mask grid (world tile) ==")
    val grid = svc.maskGrid("all", 0, 0, 0, maskZoom = 8)
    println(s"grid ${grid._1}x${grid._1}, on-cells: ${grid._2.toSeq.sorted}")
    println(s"png bytes: ${svc.maskPng(grid).length}")
    spark.stop()
  }
}
