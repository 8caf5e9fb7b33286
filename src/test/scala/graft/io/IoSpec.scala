package graft.io

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import java.nio.file.{Files, Paths}

class IoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-io").toString

  test("format inference matches the reference mapping") {
    import FormatInfer.{split, Inferred}
    assert(split("a.json") == Inferred("a", "json", ""))
    assert(split("a.json.gz") == Inferred("a", "json", "gzip"))
    assert(split("a.jsonl.bz2") == Inferred("a", "jsonl", "bzip2"))
    assert(split("a.geojsonl.gz") == Inferred("a", "jsonl", "gzip"))
    assert(split("a.geojson") == Inferred("a", "json", ""))
    assert(split("b.yml") == Inferred("b", "yaml", ""))
    assert(split("b.props") == Inferred("b", "properties", ""))
    assert(split("b.tf") == Inferred("b", "hcl", ""))
    assert(split("c.csv.zip") == Inferred("c", "csv", "zip"))
    assert(split("c.json.enc") == Inferred("c", "json", ""))
    assert(split("c.json.gz.enc") == Inferred("c", "json", "gzip"))
    assert(split("noext") == Inferred("noext", "", ""))
    assert(split("d.sz") == Inferred("d", "", "snappy"))
    // beyond the reference table: the engine's own primary format
    assert(split("e.parquet") == Inferred("e", "parquet", ""))
  }

  test("csv with header, comment, skip, and limit") {
    val dir = tmpDir()
    val f = s"$dir/data.csv"
    Files.writeString(Paths.get(f),
      """junk line to skip
        |name,qty
        |# a comment
        |alpha,1
        |beta,2
        |gamma,3
        |""".stripMargin)
    val df = DataStoreIO.read(spark, f, DataStoreIO.ReadOptions(
      comment = Some('#'), skipLines = 1, limit = Some(2)))
    val rows = df.orderBy("name").collect()
    assert(df.columns.toSeq == Seq("name", "qty"))
    assert(rows.length == 2)
  }

  test("tsv with explicit header names") {
    val dir = tmpDir()
    val f = s"$dir/geonames.tsv"
    Files.writeString(Paths.get(f), "1\tSpot\t-77.0\t38.9\n2\tOther\t10.0\t20.0\n")
    val df = DataStoreIO.read(spark, f, DataStoreIO.ReadOptions(
      header = Some(Seq("id", "name", "longitude", "latitude"))))
    assert(df.columns.toSeq == Seq("id", "name", "longitude", "latitude"))
    assert(df.count() == 2)
  }

  test("orc round trip with extension inference and pushdown") {
    val dir = tmpDir()
    val df = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "v", "n")
    DataStoreIO.write(df, s"$dir/out.orc")
    val back = DataStoreIO.read(spark, s"$dir/out.orc")
    assert(back.orderBy("id").select("v").as[String].collect().toSeq ==
      Seq("a", "b", "c"))
    // columnar pushdown reaches the ORC scan like the parquet path
    val plan = back.filter($"n" > 15).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n"), plan)
    // explicit ::format works for an extension-less dir too
    spark.read.orc(s"$dir/out.orc").write.orc(s"$dir/plaindir")
    assert(DataStoreIO.readSpec(spark, s"$dir/plaindir::orc").count() == 3)
    // columnar codec option: zstd parquet round-trips and names the codec
    DataStoreIO.write(df, s"$dir/z.parquet",
      DataStoreIO.WriteOptions(compression = "zstd"))
    assert(DataStoreIO.read(spark, s"$dir/z.parquet").count() == 3)
    assert(new java.io.File(s"$dir/z.parquet").listFiles()
      .exists(_.getName.contains("zstd")))
  }

  test("jsonl round trip with gzip") {
    val dir = tmpDir()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    DataStoreIO.write(df, s"$dir/out.jsonl", DataStoreIO.WriteOptions(compression = "gzip"))
    val back = DataStoreIO.read(spark, s"$dir/out.jsonl")
    assert(back.count() == 2)
    assert(back.orderBy("id").select("v").as[String].collect().toSeq == Seq("a", "b"))
  }

  test("whole-document json write + read") {
    val dir = tmpDir()
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    DataStoreIO.write(df, s"$dir/doc.json")
    val back = DataStoreIO.read(spark, s"$dir/doc.json")
    assert(back.count() == 2)
  }

  test("zip input unwraps") {
    val dir = tmpDir()
    val zipPath = s"$dir/data.csv.zip"
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("data.csv"))
    zos.write("a,b\n1,2\n3,4\n".getBytes)
    zos.closeEntry(); zos.close()
    val df = DataStoreIO.read(spark, zipPath)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.count() == 2)
  }

  test("multi-entry zip without trailing newlines keeps records separate") {
    val dir = tmpDir()
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(Paths.get(s"$dir/two.jsonl.zip")))
    zos.putNextEntry(new java.util.zip.ZipEntry("a.jsonl"))
    zos.write("""{"v":1}""".getBytes) // no trailing newline
    zos.putNextEntry(new java.util.zip.ZipEntry("b.jsonl"))
    zos.write("""{"v":2}""".getBytes)
    zos.close()
    val df = DataStoreIO.read(spark, s"$dir/two.jsonl.zip")
    assert(df.count() == 2)
    assert(df.select("v").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("driver-side writes honor bzip2 compression") {
    val dir = tmpDir()
    val df = Seq((1L, "x")).toDF("id", "v")
    DataStoreIO.write(df, s"$dir/out.yaml.bz2")
    val back = DataStoreIO.read(spark, s"$dir/out.yaml.bz2")
    assert(back.count() == 1)
  }

  test("properties / yaml / toml parse and read") {
    val dir = tmpDir()
    Files.writeString(Paths.get(s"$dir/conf.properties"),
      "# comment\nname=svc\nport=8080\nenabled=true\n")
    val p = DataStoreIO.read(spark, s"$dir/conf.properties")
    val row = p.collect().head
    assert(row.getAs[Long]("port") == 8080L)
    assert(row.getAs[Boolean]("enabled"))

    Files.writeString(Paths.get(s"$dir/conf.yaml"),
      """- name: a
        |  value: 1
        |- name: b
        |  value: 2
        |""".stripMargin)
    val y = DataStoreIO.read(spark, s"$dir/conf.yaml")
    assert(y.count() == 2)
    assert(y.orderBy("name").select("value").as[Long].collect().toSeq == Seq(1L, 2L))

    Files.writeString(Paths.get(s"$dir/conf.toml"),
      "title = \"x\"\n[owner]\nname = \"y\"\nage = 3\n")
    val t = DataStoreIO.read(spark, s"$dir/conf.toml")
    val tr = t.collect().head
    assert(tr.getAs[String]("title") == "x")
  }

  test("yaml nested parse round-trips through render") {
    val src = Map("a" -> 1L, "b" -> Map("c" -> "x", "d" -> List(1L, 2L)))
    val rendered = TextFormats.renderYaml(src)
    val parsed = TextFormats.parseYaml(rendered)
    assert(parsed == src)
  }

  test("bson write + read round-trips records") {
    val dir = tmpDir()
    val recs = List(
      Map[String, Any]("name" -> "alpha", "qty" -> 3L, "score" -> 1.5, "ok" -> true),
      Map[String, Any]("name" -> "beta", "qty" -> 7L, "score" -> 2.25, "ok" -> false),
    )
    val bytes = Bson.renderAll(recs)
    assert(Bson.parseAll(bytes) == recs)
    // nested doc + array + null survive
    val nested = Map[String, Any]("a" -> Map[String, Any]("b" -> 1L),
      "xs" -> List(1L, "two", 3.0), "z" -> null)
    assert(Bson.parseAll(Bson.renderDoc(nested)) == List(nested))
    // long arrays keep element ORDER (regression: Map-keyed encode
    // scrambled >4 elements)
    val long = Map[String, Any]("xs" -> (1L to 9L).toList)
    assert(Bson.parseAll(Bson.renderDoc(long)) == List(long))
    // through DataStoreIO: df -> .bson file -> df
    Files.write(Paths.get(s"$dir/r.bson"), bytes)
    val df = DataStoreIO.read(spark, s"$dir/r.bson")
    assert(df.count() == 2)
    assert(df.filter(col("name") === "alpha").select("qty").head().getLong(0) == 3L)
    DataStoreIO.write(df, s"$dir/w.bson")
    assert(DataStoreIO.read(spark, s"$dir/w.bson").count() == 2)
  }

  test("hcl parses assignments, blocks, labeled blocks, and lists") {
    val src =
      """# comment
        |region = "us-west-2"   // trailing comment
        |count = 3
        |ratio = 1.5
        |tags = ["a", "b"]
        |server "web" {
        |  port = 8080
        |  tls = true
        |}
        |server "db" {
        |  port = 5432
        |}
        |limits {
        |  cpu = 2
        |}
        |""".stripMargin
    val m = Hcl.parse(src)
    assert(m("region") == "us-west-2")
    assert(m("count") == 3L)
    assert(m("ratio") == 1.5)
    assert(m("tags") == List("a", "b"))
    val servers = m("server").asInstanceOf[Map[String, Any]]
    assert(servers("web").asInstanceOf[Map[String, Any]]("port") == 8080L)
    assert(servers("db").asInstanceOf[Map[String, Any]]("port") == 5432L)
    assert(m("limits").asInstanceOf[Map[String, Any]]("cpu") == 2L)
    // render -> parse round-trip
    assert(Hcl.parse(Hcl.render(m)) == m)
    // escapes: backslashes, quotes, newlines survive a round-trip
    val tricky = Map[String, Any]("path" -> "C:\\new\\dir",
      "msg" -> "say \"hi\"\nline2\t.")
    assert(Hcl.parse(Hcl.render(tricky)) == tricky)
    // through DataStoreIO
    val dir = tmpDir()
    Files.writeString(Paths.get(s"$dir/conf.hcl"), src)
    val df = DataStoreIO.read(spark, s"$dir/conf.hcl")
    assert(df.select("region").head().getString(0) == "us-west-2")
  }

  test("sql: uri runs a federated query against the session catalog") {
    val dir = tmpDir()
    Seq(("a", 1), ("b", 2), ("b", 3)).toDF("k", "v")
      .write.parquet(s"$dir/t.parquet")
    spark.read.parquet(s"$dir/t.parquet").createOrReplaceTempView("fed_t")
    val df = DataStoreIO.read(spark,
      "sql:SELECT k, sum(v) AS s FROM fed_t GROUP BY k")
    assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 1L, "b" -> 5L))
  }

  test("dynamic-partition sink fans out by computed path and re-reads equal") {
    val dir = tmpDir()
    val df = Seq(
      (0L, 1L, 2L, "x"), (0L, 1L, 2L, "y"), (1L, 3L, 4L, "z"),
    ).toDF("z", "x", "y", "v")
    val path = concat(lit("tiles/"), col("z"), lit("-"), col("x"), lit("-"),
      col("y"), lit(".geojsonl"))
    val written = DynamicSink.writeByComputedPath(df, path, dir, "jsonl", mergeShards = true)
    assert(written.toSet == Set("tiles/0-1-2.geojsonl", "tiles/1-3-4.geojsonl"))
    val back = spark.read.json(s"$dir/tiles/*.geojsonl")
    assert(back.count() == 3)
    assert(back.select("v").as[String].collect().toSet == Set("x", "y", "z"))
  }

  test("dynamic sink: concurrent writes to one root each stage apart and complete") {
    val dir = tmpDir()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def write(prefix: String) = Future {
      val df = spark.range(0, 2000, 1, 4).select(col("id"), (col("id") % 4).as("k"))
      DynamicSink.writeByComputedPath(df,
        concat(lit(s"$prefix/"), col("k"), lit(".jsonl")), dir, "jsonl", mergeShards = true)
    }
    val written = Await.result(Future.sequence(Seq(write("a"), write("b"))), 2.minutes)
    assert(written.map(_.toSet) == Seq(
      (0 to 3).map(k => s"a/$k.jsonl").toSet, (0 to 3).map(k => s"b/$k.jsonl").toSet))
    Seq("a", "b").foreach { p =>
      val back = spark.read.json(s"$dir/$p/*.jsonl")
      assert(back.count() == 2000, p)
      assert(back.select("id").distinct().count() == 2000, p)
    }
    // both staging dirs are gone: only the two outputs remain
    assert(new java.io.File(dir).list().toSet == Set("a", "b"))
  }

  test("dynamic sink: merged shards concatenate in part order, the same on every run") {
    val dir = tmpDir()
    // 3 partitions of 3 rows each, all routed to one computed path
    val df = spark.range(0, 9, 1, 3).toDF("id")
    def merged(): Seq[String] = {
      DynamicSink.writeByComputedPath(df, lit("all.jsonl"), dir, "jsonl", mergeShards = true)
      Files.readAllLines(java.nio.file.Paths.get(dir, "all.jsonl")).toArray.toSeq.map(_.toString)
    }
    val first = merged()
    val ids = first.map(_.replaceAll("\\D", "").toLong)
    // part-00000 first, then part-00001, then part-00002
    assert(ids.grouped(3).map(_.toSet).toSeq == Seq(Set(0L, 1L, 2L), Set(3L, 4L, 5L), Set(6L, 7L, 8L)))
    assert((1 to 3).forall(_ => merged() == first))
  }

  test("tile-sharded write prunes partitions on tile predicates") {
    val dir = tmpDir()
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), (col("value") % 360.0 - 180.0).as("lon"),
        (col("value") % 170.0 - 85.0).as("lat"))
    DynamicSink.writeTileSharded(df, s"$dir/tiles", "parquet",
      lit(4), graft.geo.TileMath.tileX(col("lon"), lit(4)),
      graft.geo.TileMath.tileY(col("lat"), lit(4)))
    val back = spark.read.parquet(s"$dir/tiles")
    val first = back.select("_tile_x", "_tile_y").head()
    val one = back.filter(col("_tile_x") === first.get(0) && col("_tile_y") === first.get(1))
    val plan = one.queryExecution.executedPlan.toString
    assert(one.count() > 0)
    // partition filters must hit the scan, not a post-filter
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("_tile_x#") || plan.contains("_tile_x =")), plan.take(2000))
  }

  test("tile-sharded layout still prunes on bound $z/$x/$y like a lit build") {
    import graft.dfl.{DflFrame, LitBuild}
    val dir = tmpDir()
    val df = spark.range(0, 500).select(col("id").as("event_id"),
      (col("id") * 7.3 % 360.0 - 180.0).as("lon"), (col("id") * 3.1 % 170.0 - 85.0).as("lat"))
    DynamicSink.writeTileSharded(df, s"$dir/tiles", "parquet",
      lit(4), graft.geo.TileMath.tileX(col("lon"), lit(4)),
      graft.geo.TileMath.tileY(col("lat"), lit(4)))
    val back = spark.read.parquet(s"$dir/tiles")
    val first = back.select("_tile_x", "_tile_y").head()
    val src = "filter(@, '(@_tile_z == $z) and (@_tile_x == $x) and (@_tile_y == $y)')"
    val vars = Map[String, Any]("z" -> 4L,
      "x" -> first.getInt(0).toLong, "y" -> first.getInt(1).toLong)
    val bound = DflFrame.pipeline(back, src, vars)
    val viaLit = DflFrame.pipeline(back, LitBuild.inline(src, vars))
    assert(LitBuild.bindsByReference(bound) && !LitBuild.bindsByReference(viaLit))
    val scans = LitBuild.scanFilters(bound)
    assert(scans == LitBuild.scanFilters(viaLit))
    assert(scans.exists(_._1.contains(s"(_tile_x = ${first.getInt(0)})")), scans)
    val got = bound.collect().toSet
    assert(got.nonEmpty && got == viaLit.collect().toSet)
  }
}
