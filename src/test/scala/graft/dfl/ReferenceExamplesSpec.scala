package graft.dfl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import java.nio.file.{Files, Paths}

/** Verbatim-source fidelity: the reference's example DFL files (read from
  * the read-only checkout at test time, never copied into this repo)
  * must parse, render/re-parse to the same tree, and — for the ingest
  * transforms — run end-to-end with the reference's documented behavior. */
class ReferenceExamplesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val exampleDir = "/root/reference/examples"
  private def example(name: String): String =
    Files.readString(Paths.get(s"$exampleDir/$name"))

  test("all example .dfl files parse and round-trip through render") {
    assume(Files.isDirectory(Paths.get(exampleDir)))
    for (f <- Seq("bars.dfl", "mexican.dfl", "geonames.dfl", "athena.dfl")) {
      val ast = Parser.parse(example(f))
      assert(Parser.parse(Node.render(ast)) == ast, s"round-trip failed for $f")
    }
    // the verbatim geonames.dfl is a four-stage pipe
    Parser.parse(example("geonames.dfl")) match {
      case Node.Pipe(stages) => assert(stages.size == 4)
      case other             => fail(s"expected pipe, got $other")
    }
  }

  test("verbatim geonames.dfl ingest: chained null-drops, dict ops, tile stamp") {
    assume(Files.isRegularFile(Paths.get(s"$exampleDir/geonames.dfl")))
    val df = Seq(
      // (geonameid, name, longitude, latitude, feature_class, elevation, population)
      ("1", "Spot A", "-77.0", "38.9", "P", 12L, "100"),
      ("2", "No coords", "", "38.9", "P", 0L, "5"),     // len 0 → dropped
      ("3", "Wrong class", "-77.0", "38.9", "X", 0L, "5"), // not in [A,P] → dropped
      ("4", "No pop", "-10.0", "10.0", "A", 3L, null),  // coalesce population → 0
    ).toDF("geonameid", "name", "longitude", "latitude",
           "feature_class", "elevation", "population")
    val out = DflFrame.pipeline(df, example("geonames.dfl"), Map("z" -> 10L))
    val rows = out.collect()
    assert(rows.map(_.getAs[Long]("id")).toSet == Set(1L, 4L))
    val r1 = rows.find(_.getAs[Long]("id") == 1L).get
    assert(r1.getAs[String]("type") == "Feature")
    assert(r1.getAs[String]("geometry_name") == "the_geom")
    val props = r1.getAs[org.apache.spark.sql.Row]("properties")
    assert(props.getAs[Long]("population") == 100L)
    assert(props.getAs[Long]("_tile_z") == 10L)
    // z=10, lon=-77 → tile 293 (floor((−77+180)/360·1024))
    assert(props.getAs[Long]("_tile_x") == 292L ||
           props.getAs[Long]("_tile_x") == 293L)
    assert(!props.schema.fieldNames.contains("longitude"))
    val r4 = rows.find(_.getAs[Long]("id") == 4L).get
    assert(r4.getAs[org.apache.spark.sql.Row]("properties")
      .getAs[Long]("population") == 0L)
  }

  test("geonames.sh ingest end-to-end: tsv + header -> verbatim dfl -> dynamic gzip tile shards") {
    assume(Files.isRegularFile(Paths.get(s"$exampleDir/geonames.dfl")))
    // the reference run (examples/geonames.sh:21-49): tsv with supplied
    // header, geonames.dfl with $z, per-record output URI
    val dir = Files.createTempDirectory("graft-gsh").toString
    val header = "geonameid\tname\tasciiname\talternatenames\tlatitude\tlongitude\t" +
      "feature_class\tfeature_code\tcountry_code\tcc2\tadmin1_code\tadmin2_code\t" +
      "admin3_code\tadmin4_code\tpopulation\televation\tdem\ttimezone\tmodification_date"
    def row(id: Int, name: String, lat: String, lon: String, fc: String) =
      s"$id\t$name\t$name\t\t$lat\t$lon\t$fc\tPPL\tUS\t\t\t\t\t\t1000\t10\t10\tUTC\t2020-01-01"
    Files.writeString(Paths.get(s"$dir/cities.txt"), Seq(
      row(1, "DC", "38.9", "-77.0", "P"),
      row(2, "London", "51.5", "-0.1", "P"),
      row(3, "BadClass", "40.7", "-74.0", "X"), // dropped by feature_class filter
    ).mkString("\n"))
    val cfg = graft.cli.ProcessCli.Config(
      inputUri = s"$dir/cities.txt",
      inputFormat = "tsv",
      inputHeader = Some(header.split('\t').toSeq),
      dfl = example("geonames.dfl"),
      vars = Map("dir" -> s"$dir/out", "z" -> 6L),
      outputUri = "$dir + \"/tiles/\" + @properties._tile_z + \"-\" + " +
        "@properties._tile_x + \"-\" + @properties._tile_y + \".geojsonl.gz\"",
      outputCompression = "gzip")
    val out = graft.cli.ProcessCli.run(spark, cfg)
    // drive the CLI's dynamic-sink branch exactly as main() does
    import org.apache.spark.sql.functions.regexp_replace
    val pathCol = regexp_replace(
      DflFrame.predicate(out, cfg.outputUri, cfg.vars).cast("string"), "^/+", "")
    val written = graft.io.DynamicSink.writeByComputedPath(out, pathCol, "/",
      mergeShards = true, compression = "gzip")
    assert(written.size == 2) // DC and London land in distinct z=6 tiles
    assert(written.forall(_.matches(s".*/tiles/6-\\d+-\\d+\\.geojsonl\\.gz")))
    // shards re-read (gzip jsonl) equal the transformed dataset
    val back = spark.read.json(s"$dir/out/tiles/*.geojsonl.gz")
    assert(back.count() == 2)
    assert(back.select("properties.name").collect().map(_.getString(0)).toSet ==
      Set("DC", "London"))
  }

  test("verbatim athena.dfl transform over GeoJSON-shaped rows") {
    assume(Files.isRegularFile(Paths.get(s"$exampleDir/athena.dfl")))
    val dir = Files.createTempDirectory("graft-ath").toString
    Files.writeString(Paths.get(s"$dir/f.jsonl"), Seq(
      """{"id":"7","properties":{"name":"x"},"geometry":{"type":"Point","coordinates":[-77.0,38.9]}}""",
      """{"id":"8","properties":{"name":"y"},"geometry":{"type":"Point","coordinates":[-200.0,38.9]}}""",
    ).mkString("\n"))
    val df = spark.read.json(s"$dir/f.jsonl")
    val out = DflFrame.pipeline(df, example("athena.dfl"), Map("z" -> 8L))
    val rows = out.collect()
    // out-of-range longitude dropped by the final bbox ternary
    assert(rows.map(_.getAs[Long]("id")).toSet == Set(7L))
    val props = rows.head.getAs[org.apache.spark.sql.Row]("properties")
    assert(props.getAs[Long]("_tile_z") == 8L)
  }

  test("hostosm.sh expressions: row-level set/hist minus a variable set") {
    // reference: examples/hostosm.sh:40,46 over a single task-API document
    val dir = Files.createTempDirectory("graft-hot").toString
    Files.writeString(Paths.get(s"$dir/p.jsonl"),
      """{"projectInfo":{"description":"map the water wells and the roads"}}""")
    val df = spark.read.json(s"$dir/p.jsonl")
    val vars = Map("irrelevant" -> Seq("the", "and"))
    val words = DflFrame.pipeline(df,
      "map(@, '(@projectInfo?.description == null) ? [] : " +
        "(set(split(@projectInfo.description, ` `)) - $irrelevant)')", vars)
      .head().getSeq[String](0).toSet
    assert(words == Set("map", "water", "wells", "roads"))
    val hist = DflFrame.pipeline(df,
      "map(@, '(hist(split(@projectInfo.description, ` `)) - $irrelevant)')", vars)
      .head().getMap[String, Int](0)
    assert(hist.get("the").isEmpty && hist.get("and").isEmpty)
    assert(hist("map") == 1 && hist("wells") == 1)
  }

  test("verbatim mexican.dfl pipeline over a feature fixture") {
    assume(Files.isRegularFile(Paths.get(s"$exampleDir/mexican.dfl")))
    val dir = Files.createTempDirectory("graft-mex").toString
    Files.writeString(Paths.get(s"$dir/f.jsonl"), Seq(
      """{"properties":{"name":"Taco Town","cusine":"mexican"}}""",
      """{"properties":{"name":"Burrito Palace","cusine":"tex-mex"}}""",
      """{"properties":{"name":"Noodle Bar","cusine":"asian"}}""",
      """{"properties":{"name":"Taco Town","cusine":"mexican"}}""",
    ).mkString("\n"))
    val df = spark.read.json(s"$dir/f.jsonl")
    val out = DflFrame.pipeline(df, example("mexican.dfl"))
      .as[String].collect().toSeq
    assert(out == Seq("Burrito Palace", "Taco Town")) // distinct + sorted
  }
}
