package graft.server

import graft.catalog._
import graft.cli.Argv
import graft.util.Sessions

/** `serve` entry point: load (or demo-build) a catalog and serve it.
  * Usage: runMain graft.server.Main [--port N] [--catalog path.json]
  *        [--root-password pw] [--demo]
  */
object Main {
  final case class Config(port: Int = 8080, catalogPath: String = "",
                          rootPassword: String = "secret", demo: Boolean = false)

  def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) a.flag() match {
      case "--port"          => c = c.copy(port = a.int())
      case "--catalog"       => c = c.copy(catalogPath = a.value())
      case "--root-password" => c = c.copy(rootPassword = a.value())
      case "--demo"          => c = c.copy(demo = true)
      case other             => throw new IllegalArgumentException(s"unknown flag: $other")
    }
    c
  }

  def main(args: Array[String]): Unit = {
    val Config(port, catalogPath, rootPassword, demo) = parseArgs(args)
    val spark = Sessions.create("graft-serve", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")

    val catalog =
      if (catalogPath.nonEmpty) Catalog.load(catalogPath)
      else if (demo) demoCatalog()
      else new Catalog
    // when serving a loaded catalog, persist mutations back to the same uri
    // (reference: cli/serve.go loads catalog-uri at boot; handlers save it
    // after every mutation — catalog/Catalog.go:42-146)
    val server = new Server(spark, new Exec(spark, catalog), port, rootPassword,
      catalogUri = Option(catalogPath).filter(_.nonEmpty))
    server.start()
    println(s"graft server listening on :${server.boundPort}")
    Thread.currentThread().join()
  }

  private def demoCatalog(): Catalog = {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-demo").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/features.jsonl"), Seq(
      """{"type":"Feature","properties":{"name":"dc1","amenity":"bar"},"geometry":{"type":"Point","coordinates":[-77.01,38.9]}}""",
      """{"type":"Feature","properties":{"name":"dc2","amenity":"cafe"},"geometry":{"type":"Point","coordinates":[-77.02,38.91]}}""",
    ).mkString("\n"))
    val c = new Catalog
    c.add(Workspace("demo"))
    c.add(DataStore("demo", "features", s"$dir/features.jsonl",
      extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    c.add(Process("by_amenity", "filter(@, '@properties?.amenity == $kind')"))
    c.add(Service("amenities", "features", "by_amenity", defaults = Map("kind" -> "bar")))
    c.add(Layer("all", "features", "", extent = Seq(-180.0, -85.0, 180.0, 85.0)))
    c
  }
}
