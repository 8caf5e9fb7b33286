package graft.dfl

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.TestSpark

class CompilerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def features = {
    // GeoJSON-feature-shaped fixture (reference data model, SURVEY.md §1.2)
    val rows = Seq(
      ("""{"type":"Feature","properties":{"amenity":"bar","name":"Zig"},"geometry":{"type":"Point","coordinates":[-77.01,38.9]}}"""),
      ("""{"type":"Feature","properties":{"amenity":"bar","name":"Alpha"},"geometry":{"type":"Point","coordinates":[-77.02,38.91]}}"""),
      ("""{"type":"Feature","properties":{"amenity":"bar","name":"Alpha"},"geometry":{"type":"Point","coordinates":[-77.03,38.92]}}"""),
      ("""{"type":"Feature","properties":{"amenity":"cafe","name":"Beta"},"geometry":{"type":"Point","coordinates":[-77.04,38.93]}}"""),
      ("""{"type":"Feature","properties":{"amenity":"bar","name":null},"geometry":{"type":"Point","coordinates":[-77.05,38.94]}}""")
    )
    spark.read.json(rows.toDS)
  }

  test("bars.dfl pipeline end-to-end") {
    // reference: examples/bars.dfl:8-12
    val src =
      """filter(@, "(@properties?.amenity == bar) and (@properties?.name != null)") |
        |map(@, "@properties?.name") |
        |array(set(@)) |
        |sort(@) |
        |limit(@, 5)""".stripMargin
    val out = DflFrame.pipeline(features, src).as[String].collect().toSeq
    assert(out == Seq("Alpha", "Zig"))
  }

  test("predicates: in, iin, like, ilike, between, within") {
    val df = Seq(
      ("clinic", "Taco Town", 10.0),
      ("DOCTORS", "Burrito Bar", 20.0),
      ("school", "Cafe", 30.0),
    ).toDF("amenity", "name", "v")
    def names(src: String) =
      DflFrame.pipeline(df, s"""filter(@, "$src") | map(@, "@name")""")
        .as[String].collect().toSet
    assert(names("@amenity in [clinic, doctors]") == Set("Taco Town"))
    assert(names("@amenity iin [clinic, doctors]") == Set("Taco Town", "Burrito Bar"))
    assert(names("@name ilike %taco%") == Set("Taco Town"))
    assert(names("@name like %Bar%") == Set("Burrito Bar"))
    assert(names("@v between 10.0 and 20.0") == Set("Taco Town", "Burrito Bar"))
    assert(names("@v within 15.0 and 35.0") == Set("Burrito Bar", "Cafe"))
  }

  test("elvis and ternary null drop") {
    val df = Seq(("a", Some(1L)), ("b", None), ("c", Some(3L))).toDF("k", "v")
    val out = DflFrame.pipeline(df, "map(@, '@v ?: 0')").as[Long].collect().toSeq
    assert(out == Seq(1L, 0L, 3L))
    // `? null : @` drops records (reference: cli/process.go:184-189)
    val kept = DflFrame.pipeline(df, "(@v == null) ? null : @")
    assert(kept.select("k").as[String].collect().toSeq == Seq("a", "c"))
  }

  private def geonamesRows = Seq(
    ("1", "Spot A", "-77.0", "38.9"),
    ("2", "Spot B", "", "38.9"),       // len 0 → dropped
    ("3", "Spot C", "-200.0", "38.9"), // out of bbox → dropped
  ).toDF("geonameid", "name", "longitude", "latitude")

  private val geonamesSrc =
    """((@longitude == null) or (len(@longitude) == 0)) ? null :
      |{
      |  type: "Feature",
      |  id: int64(@geonameid),
      |  properties: (@ + {id: int64(@geonameid)}) - {longitude, latitude},
      |  geometry: {type: "Point", coordinates: [float64(@longitude), float64(@latitude)]}
      |} |
      |($c := @geometry?.coordinates) |
      |(@properties += {_tile_z: $z, _tile_x: tileX($c[0], $z), _tile_y: tileY($c[1], $z)}) |
      |(not (($c[0] between -180.0 and 180.0) and ($c[1] between -85.0 and 85.0))) ? null : @
      |""".stripMargin

  test("geonames-style transform: dict build, tile stamp, bbox drop") {
    val out = DflFrame.pipeline(geonamesRows, geonamesSrc, vars = Map("z" -> 10L))
    val rows = out.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("id") == 1L)
    val props = r.getAs[Row]("properties")
    assert(props.schema.fieldNames.contains("_tile_x"))
    assert(!props.schema.fieldNames.contains("longitude"))
    assert(props.getAs[Long]("_tile_x") == graft.geo.TileMath.lonToTile(-77.0, 10))
    assert(props.getAs[Long]("_tile_y") == graft.geo.TileMath.latToTile(38.9, 10))
  }

  test("geonames null-drops plan as filters over the base columns, never over a record") {
    // written to parquet so the optimizer keeps the plan (a local
    // relation would be folded to its result)
    val dir = java.nio.file.Files.createTempDirectory("graft-geonames-").toString
    geonamesRows.write.mode("overwrite").parquet(dir)
    val out = DflFrame.pipeline(spark.read.parquet(dir), geonamesSrc, vars = Map("z" -> 10L))
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, CreateNamedStruct}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val filters = out.queryExecution.optimizedPlan.collect { case f: Filter => f.condition }
    assert(filters.nonEmpty)
    filters.foreach { c =>
      assert(!c.exists(e => e.isInstanceOf[CaseWhen] || e.isInstanceOf[CreateNamedStruct]),
        s"a null-drop filter rebuilds the record: $c")
    }
    assert(out.count() == 1)
  }

  test("a dropped record stays dropped when a later stage stops reading @") {
    val df = Seq(1L, 2L, 3L).toDF("v")
    val constant = "((@v > 1) ? null : @) | {b: 1}"
    assert(DflFrame.pipeline(df, constant).toJSON.collect().toSeq == Seq("""{"b":1}"""))
    val reads = "((@v > 1) ? null : @) | {b: @v}"
    assert(DflFrame.pipeline(df, reads).toJSON.collect().toSeq == Seq("""{"b":1}"""))
    // the error side channel agrees: both pipelines drop v = 2 and 3
    Seq(constant, reads).foreach { src =>
      assert(DflFrame.droppedRows(df, src).as[Long].collect().sorted.toSeq == Seq(2L, 3L), src)
    }
  }

  test("droppedRows + kept rows = input for a mid-chain drop") {
    val df = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L)).toDF("k", "v")
    val src = "{k: @k, w: @v * 2} | ((@w > 4) ? null : @) | {k: @k, w: @w + 1}"
    val kept = DflFrame.pipeline(df, src)
    val dropped = DflFrame.droppedRows(df, src)
    assert(kept.select("k").as[String].collect().sorted.toSeq == Seq("a", "b"))
    assert(kept.select("w").as[Long].collect().sorted.toSeq == Seq(3L, 5L))
    assert(dropped.select("k").as[String].collect().sorted.toSeq == Seq("c", "d"))
    assert(kept.count() + dropped.count() == df.count())
  }

  test("a null drop condition takes the else branch, as when() does") {
    val df = Seq(Some(1L), None, Some(3L)).toDF("v")
    // `c ? null : x` keeps the record whose condition is null …
    val keptNull = DflFrame.pipeline(df, "((@v > 1) ? null : @) | {b: @v}")
    assert(keptNull.count() == 2)
    assert(keptNull.filter("b is null").count() == 1)
    assert(DflFrame.droppedRows(df, "(@v > 1) ? null : @").count() == 1)
    // … and `c ? x : null` drops it
    val dropNull = DflFrame.pipeline(df, "(@v > 1) ? @ : null")
    assert(dropNull.as[Long].collect().toSeq == Seq(3L))
    assert(DflFrame.droppedRows(df, "(@v > 1) ? @ : null").count() == 2)
  }

  test("bbox filter with $bbox variable (named GeometryFilter)") {
    // reference: named/named.go:14
    val src = "filter(@, '(@geometry?.coordinates != null) and (@geometry.coordinates[0] within $bbox[0] and $bbox[2]) and (@geometry.coordinates[1] within $bbox[1] and $bbox[3])')"
    val out = DflFrame.pipeline(features, src,
      vars = Map("bbox" -> Seq(-77.025, 38.0, -77.0, 39.0)))
    assert(out.count() == 2) // -77.01 and -77.02 are inside
  }

  test("hist and nested hist") {
    val df = Seq(
      ("bar", "cold beer"), ("bar", "warm beer"), ("cafe", "hot tea"),
    ).toDF("amenity", "tags")
    val h = DflFrame.pipeline(df, "hist(@, '@amenity')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(h == Map("bar" -> 2L, "cafe" -> 1L))
    val h2 = DflFrame.pipeline(df, "hist(@, '@amenity', 'split(@tags, \\' \\')')")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(h2(("bar", "beer")) == 2L)
    assert(h2(("cafe", "tea")) == 1L)
  }

  test("group by composite tile key") {
    // reference: named/named.go:22 GroupByTile
    val out = DflFrame.pipeline(features,
      "group(@, '[tileY(@geometry.coordinates[1], $z), tileX(@geometry.coordinates[0], $z)]')",
      vars = Map("z" -> 10L))
    assert(out.columns.toSeq == Seq("key0", "key1", "items"))
    assert(out.count() >= 1)
  }

  test("dataset len and FeatureCollection assembly") {
    val out = DflFrame.pipeline(features, "len(@)")
    assert(out.as[Long].collect().toSeq == Seq(5L))
    val fc = DflFrame.pipeline(features,
      "{type: FeatureCollection, features: @, numberOfFeatures: len(@)}")
    val row = fc.collect().head
    assert(row.getAs[String]("type") == "FeatureCollection")
    assert(row.getAs[Long]("numberOfFeatures") == 5L)
    assert(row.getSeq[Row](fc.columns.indexOf("features")).size == 5)
  }

  test("dataset bbox over mapped coordinates") {
    // reference: examples/osm.sh:106
    val out = DflFrame.pipeline(features,
      "map(@, '@geometry.coordinates') | bbox(@)").collect().head
    assert(out.getAs[Double]("w") == -77.05)
    assert(out.getAs[Double]("e") == -77.01)
    assert(out.getAs[Double]("s") == 38.9)
    assert(out.getAs[Double]("n") == 38.94)
  }

  test("string concat, casts, arithmetic, split, lookup") {
    val df = Seq(("5", "a;b;c", 2.0)).toDF("n", "tags", "x")
    def one(src: String) = DflFrame.pipeline(df, "map(@, \"" + src + "\")").collect().head.get(0)
    assert(one("'p/' + @n + '.json'") == "p/5.json")
    assert(one("int64(@n) * 3") == 15L)
    assert(one("pow(@x, 3.0)") == 8.0)
    assert(one("len(split(@tags, ';'))") == 3)
    assert(one("mean([1.0, 2.0, 6.0])") == 3.0)
  }

  test("set algebra: union, difference, intersects") {
    val df = Seq((Seq("a", "b"), Seq("b", "c"))).toDF("s1", "s2")
    def one(src: String) = DflFrame.pipeline(df, s"map(@, '$src')").collect().head.getSeq[String](0).toSet
    assert(one("@s1 + {c}") == Set("a", "b", "c"))
    assert(DflFrame.pipeline(df, "filter(@, 'intersects(@s1, @s2)')").count() == 1)
  }

  test("hist minus a stop-word set drops those keys (dataset set algebra)") {
    val df = Seq("the", "cafe", "the", "bar", "of").toDF("w")
    val out = DflFrame.pipeline(df, "hist(@, '@w') - $stop",
      Map("stop" -> Seq("the", "of")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("cafe" -> 1L, "bar" -> 1L))
    // inline set literal form
    val out2 = DflFrame.pipeline(df, "hist(@, '@w') - {the, of, bar}")
      .collect().map(r => r.getString(0)).toSet
    assert(out2 == Set("cafe"))
  }

  test("dataset minus: negative and $var elements count; := / ternary forms evaluate") {
    val df = Seq(-1L, 2L, 3L, -1L).toDF("delta")
    // -1 parses as Unary("-", 1): it must JOIN the drop set, not be
    // silently discarded (rows with key -1 survived before)
    val out = DflFrame.pipeline(df, "hist(@, '@delta') - {-1, 2}")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(3L))
    // a $var element inside the literal set resolves
    val out2 = DflFrame.pipeline(df, "hist(@, '@delta') - {$x, 2}",
      Map("x" -> 3L)).collect().map(_.getLong(0)).toSet
    assert(out2 == Set(-1L))
    // the dataset-minus form works UNDER := (it classified as a dataset
    // expression but evalDatasetExpr had no case for it)
    val words = Seq("the", "cafe", "the", "bar", "of").toDF("w")
    val bound = DflFrame.pipeline(words,
      "$top := (hist(@, '@w') - $stop) | $top",
      Map("stop" -> Seq("the", "of")))
      .collect().map(r => r.getString(0)).toSet
    assert(bound == Set("cafe", "bar"))
    // an unresolvable set element fails loudly, never silently no-ops
    intercept[DflParseException] {
      DflFrame.pipeline(df, "hist(@, '@delta') - {len(@)}").collect()
    }
    // a Seq-valued $var INSIDE the set literal flattens into the drop
    // set — the raw Seq in isin never matches a scalar column, so its
    // rows silently stayed (the silent-drop class this form eliminates)
    val words2 = Seq("the", "cafe", "the", "bar", "of").toDF("w")
    val out3 = DflFrame.pipeline(words2, "hist(@, '@w') - {bar, $stop}",
      Map("stop" -> Seq("the", "of")))
      .collect().map(r => r.getString(0)).toSet
    assert(out3 == Set("cafe"))
  }

  test("sort rejects an unknown direction; wrong stage arity is a parse error, not an index error") {
    val df = Seq(3L, 1L, 2L).toDF("v")
    // 'desc' is NOT the spelling (true|false) — silently sorting
    // ascending inverted the user's intent with no error
    intercept[DflParseException] {
      DflFrame.pipeline(df, "sort(@, '@v', 'desc')").collect()
    }
    assert(DflFrame.pipeline(df, "sort(@, '@v', true)")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    // missing args surface as the DflParseException contract the HTTP
    // exec surface relies on, not a raw IndexOutOfBoundsException
    val docs = Seq((1L, "a")).toDF("doc_id", "text")
    val e = intercept[DflParseException] {
      DflFrame.pipeline(docs, "dedup(@, '@doc_id')").collect()
    }
    assert(e.getMessage.contains("dedup"))
  }

  test("join: r_ collision rename never duplicates a column name") {
    val left = Seq((1L, "x", "lx")).toDF("k", "v", "r_v")
    val right = Seq((1L, "rv")).toDF("rk", "v")
    val out = DflFrame.pipeline(left, "join(@, $r, '@k', '@rk')",
      Map[String, Any]("r" -> right))
    // right's v collides with left's v; r_v ALSO collides with left's
    // r_v — the rename must keep prefixing until free
    assert(out.columns.toSeq.distinct.size == out.columns.length,
      s"duplicate column names in ${out.columns.mkString(",")}")
    assert(out.columns.contains("r_r_v"))
  }

  test("extension registry: custom function lowers into a DFL pipeline") {
    Functions.registerExtension("plusOne", "(x)") { as => as.head + 1 }
    val df = Seq(41L).toDF("v")
    assert(DflFrame.pipeline(df, "map(@, 'plusOne(@v)')").head().getLong(0) == 42L)
    assert(Functions.registry.contains("plusOne"))
    // default native-vector extensions are registered and codegen-backed
    val emb = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    val cos = DflFrame.pipeline(emb, "map(@, 'vecCosine(@a, @b)')").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9)
    // unicode normalization entry points (functions.UnicodeNorm)
    val txt = Seq("café naïve").toDF("t") // decomposed accents
    assert(DflFrame.pipeline(txt, "map(@, 'unicodeNorm(@t)')")
      .head().getString(0) == "café naïve") // composed
    assert(DflFrame.pipeline(txt, "map(@, 'stripAccents(@t)')")
      .head().getString(0) == "cafe naive")
  }

  test("modulo without spaces lexes as an operator, patterns keep %") {
    val df = Seq(4L, 5L).toDF("qty")
    assert(DflFrame.pipeline(df, "filter(@, '@qty%2 == 0')").count() == 1)
    // ilike patterns still carry % mid-word
    val names = Seq("taco town").toDF("name")
    assert(DflFrame.pipeline(names, "filter(@, '@name ilike ta%wn')").count() == 1)
  }

  test("row-level array(set(@col)) dedupes per row, not the dataset") {
    val df = Seq((1L, Seq("a", "b", "a")), (2L, Seq("a", "b", "a"))).toDF("id", "tags")
    val out = DflFrame.pipeline(df, "map(@, '{id: @id, t: array(set(@tags))}')")
    assert(out.count() == 2) // both rows survive — no dataset distinct
    assert(out.filter("id = 1").head().getSeq[String](1) == Seq("a", "b"))
  }

  test("dynamic split separator and json key are evaluated per row") {
    val df = Seq(("a;b;c", ";", """{"k1":7}""", "k1")).toDF("s", "sep", "j", "key")
    val out = DflFrame.pipeline(df,
      "map(@, '{n: len(split(@s, @sep)), v: int64(jsonGet(@j, @key))}')")
      .head()
    assert(out.getAs[Int]("n") == 3)
    assert(out.getAs[Long]("v") == 7L)
  }

  test("deflateRatio DFL function scores and filters rows") {
    val df = Seq((1L, "spark data " * 300), (2L, "x y z")).toDF("id", "text")
    val out = DflFrame.pipeline(df,
      "map(@, '{id: @id, r: deflateRatio(@text)}') | filter(@, '@r < 0.1')")
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L)) // repetitive doc only
    assert(out.head.getDouble(1) > 0.0 && out.head.getDouble(1) < 0.1)
  }

  test("variable-only ternary over a row chain stays row-level") {
    val df = Seq("bob").toDF("name")
    val out = DflFrame.pipeline(df,
      "@name | (($flag > 0) ? upper(@) : @)", Map("flag" -> 1L))
    assert(out.head().getString(0) == "BOB")
  }

  test("dataset ternary: null condition falls to the else branch") {
    val df = Seq(1L, 2L, 3L).toDF("v")
    val out = DflFrame.pipeline(df,
      "($limit > 0) ? limit(@, $limit) : @", Map("limit" -> null))
    assert(out.count() == 3)
  }

  test("dataset elvis chains fall back through every unbound arm") {
    val df = Seq(1L, 2L, 3L).toDF("v")
    val out = DflFrame.pipeline(df,
      "($a ?: ($b ?: filter(@, '@v > 1')))")
    assert(out.count() == 2)
  }

  test("droppedRows is the complement of the null-drop: good + dropped = input") {
    val df = Seq(("a", 10L), ("b", -1L), ("c", 5L)).toDF("name", "v")
    // ternary with null else-branch drops non-matching records
    val src = "@v > 0 ? {name: @name, v: @v} : null"
    val good = DflFrame.pipeline(df, src)
    val dropped = DflFrame.droppedRows(df, src)
    assert(good.count() == 2)
    assert(dropped.count() == 1)
    assert(dropped.select("name").head().getString(0) == "b")
    // pipelines with a leading dataset stage have no row-level prefix
    assert(DflFrame.droppedRows(df, "filter(@, '@v > 0')").count() == 0)
  }

  test("bound vars keep partition pruning and parquet pushdown of a lit build") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bound").toString + "/t"
    spark.range(0, 400).selectExpr("id % 5 AS p", "CAST(id AS DOUBLE) / 100 AS v", "id")
      .write.partitionBy("p").parquet(dir)
    val df = spark.read.parquet(dir)
    val src = "filter(@, '(@p == $pv) and (@v > $lo)')"
    val vars = Map[String, Any]("pv" -> 3L, "lo" -> 2.5)
    val bound = DflFrame.pipeline(df, src, vars)
    val viaLit = DflFrame.pipeline(df, LitBuild.inline(src, vars))
    assert(LitBuild.bindsByReference(bound) && !LitBuild.bindsByReference(viaLit))
    val scans = LitBuild.scanFilters(bound)
    assert(scans == LitBuild.scanFilters(viaLit))
    assert(scans.exists { case (part, pushed) =>
      part.contains("(p = 3)") && pushed.contains("GreaterThan(v,2.5)") }, scans)
    val got = bound.collect().toSet
    assert(got.nonEmpty && got == viaLit.collect().toSet)
  }

  test("an 11-item bound list still plans as InSet and pushes down like a lit build") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bound").toString + "/t"
    spark.range(0, 200).selectExpr("id", "id * 2 AS w").write.parquet(dir)
    val df = spark.read.parquet(dir)
    val src = "filter(@, '@id in $list')"
    val vars = Map[String, Any]("list" -> (1L to 21L by 2).toSeq)
    val bound = DflFrame.pipeline(df, src, vars)
    val viaLit = DflFrame.pipeline(df, LitBuild.inline(src, vars))
    assert(LitBuild.bindsByReference(bound) && !LitBuild.bindsByReference(viaLit))
    def inSet(d: org.apache.spark.sql.DataFrame) = d.queryExecution.optimizedPlan
      .exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet])))
    assert(inSet(bound) && inSet(viaLit))
    val scans = LitBuild.scanFilters(bound)
    assert(scans == LitBuild.scanFilters(viaLit))
    assert(scans.exists(_._2.contains("In(id,")), scans)
    assert(bound.collect().toSet == viaLit.collect().toSet)
    assert(bound.count() == 11)
  }
}
