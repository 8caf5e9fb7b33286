package graft.dfl

import org.scalatest.funsuite.AnyFunSuite
import Node._

class ParserSpec extends AnyFunSuite {

  test("bars.dfl pipeline parses to 5 stages") {
    // reference: examples/bars.dfl:8-12
    val src =
      """filter(@, "(@properties?.amenity == bar) and (@properties?.name != null)") |
        |map(@, "@properties?.name") |
        |array(set(@)) |
        |sort(@) |
        |limit(@, 5)""".stripMargin
    val Pipe(stages) = Parser.parse(src): @unchecked
    assert(stages.size == 5)
    assert(stages.head == FunCall("filter", List(Attr(""),
      Lit("(@properties?.amenity == bar) and (@properties?.name != null)"))))
    assert(stages(4) == FunCall("limit", List(Attr(""), Lit(5L))))
  }

  test("bare words are string literals, keywords are not") {
    assert(Parser.parse("@amenity == bar") ==
      Binary("==", Attr("amenity"), Lit("bar")))
    assert(Parser.parse("@feature_class in [A, P]") ==
      Binary("in", Attr("feature_class"), ArrayLit(List(Lit("A"), Lit("P")))))
    assert(Parser.parse("true and false") == Binary("and", Lit(true), Lit(false)))
  }

  test("null-safe access and indexing") {
    assert(Parser.parse("@geometry?.coordinates[0]") ==
      Index(Prop(Attr("geometry"), "coordinates", nullSafe = true), Lit(0L)))
    assert(Parser.parse("$bbox[2]") == Index(Var("bbox"), Lit(2L)))
  }

  test("within / between ranges") {
    // reference: pipeline/Pipeline.go:7
    val n = Parser.parse("@geometry.coordinates[0] within $bbox[0] and $bbox[2]")
    assert(n == Between(
      Index(Prop(Attr("geometry"), "coordinates", nullSafe = false), Lit(0L)),
      Index(Var("bbox"), Lit(0L)), Index(Var("bbox"), Lit(2L)), within = true))
    val b = Parser.parse("@lat between -85.0 and 85.0")
    assert(b == Between(Attr("lat"), Unary("-", Lit(85.0)), Lit(85.0), within = false))
  }

  test("ternary chains with null drop") {
    // reference: examples/geonames.dfl:1-9
    val n = Parser.parse("(@longitude == null) ? null : (@x in [A]) ? null : @")
    n match {
      case Ternary(_, NullLit, Ternary(_, NullLit, Attr(""))) => ()
      case other => fail(s"unexpected: $other")
    }
  }

  test("elvis and ternary do not collide") {
    assert(Parser.parse("@place ?: ''") == Elvis(Attr("place"), Lit("")))
    assert(Parser.parse("@a ? @b : @c") == Ternary(Attr("a"), Attr("b"), Attr("c")))
  }

  test("dict literal, set literal, merge and remove") {
    // reference: examples/geonames.dfl:10-26
    val d = Parser.parse("{type: 'Feature', id: int64(@geonameid)}")
    assert(d == DictLit(List(
      (Lit("type"), Lit("Feature")),
      (Lit("id"), FunCall("int64", List(Attr("geonameid")))))))
    val m = Parser.parse("(@ + {id: 1}) - {longitude, latitude}")
    assert(m == Binary("-",
      Binary("+", Attr(""), DictLit(List((Lit("id"), Lit(1L))))),
      SetLit(List(Lit("longitude"), Lit("latitude")))))
  }

  test("backtick-quoted set members") {
    // reference: named/named.go:20
    val n = Parser.parse("@properties -= {`_tile_x`, `_tile_y`, `_tile_z`}")
    assert(n == AugAssign(Attr("properties"), "-=",
      SetLit(List(Lit("_tile_x"), Lit("_tile_y"), Lit("_tile_z")))))
  }

  test("assignment binds a pipeline variable") {
    // reference: examples/geonames.dfl:28
    assert(Parser.parse("$c := @geometry?.coordinates") ==
      Assign("c", Prop(Attr("geometry"), "coordinates", nullSafe = true)))
  }

  test("ilike wildcard bare words lex") {
    // reference: examples/mexican.dfl:8
    assert(Parser.parse("@name ilike %taco%") ==
      Binary("ilike", Attr("name"), Lit("%taco%")))
  }

  test("comments are stripped") {
    val src = "# header comment\n@a == 1 # trailing\n"
    assert(Parser.parse(src) == Binary("==", Attr("a"), Lit(1L)))
  }

  test("geonames.dfl full source parses") {
    // the repo's own geonames-style fixture (src/test/resources/dfl):
    // comments, a chained null-drop ternary, dict build/merge/removal,
    // a variable binding and a tile-stamp augmented assignment
    val src = scala.io.Source.fromResource("dfl/geonames.dfl").mkString
    Parser.parse(src) match {
      case Pipe(stages) =>
        assert(stages.size == 4)
        assert(stages(0).isInstanceOf[Ternary], stages(0))
        assert(stages(1).isInstanceOf[DictLit], stages(1))
        assert(stages(2) == Assign("c", Prop(Attr("geometry"), "coordinates",
          nullSafe = true)))
        assert(stages(3).isInstanceOf[AugAssign], stages(3))
      case other => fail(s"expected pipe, got $other")
    }
  }

  test("render round-trips reparse to the same AST") {
    val sources = Seq(
      "filter(@, '(@a == bar) and (@b != null)') | map(@, '@a') | sort(@) | limit(@, 5)",
      "@geometry?.coordinates[0] within $bbox[0] and $bbox[2]",
      "{type: 'Feature', geometry: {type: 'Point', coordinates: [float64(@lon), float64(@lat)]}}",
      "(@a == null) ? null : (@ + {id: int64(@gid)}) - {lon, lat}",
      "@name ilike '%taco%' or @cuisine iin [mexican, 'tex-mex']",
      "hist(@, '@event_type') | sort(@, '@count', true)",
      "$c := @geometry?.coordinates",
      "@properties += {_tile_z: $z, _tile_x: tileX($c[0], $z)}",
      "len(split(@tags, ';')) > 2 and not (@x between 1 and 2)",
    )
    for (s <- sources) {
      val once = Parser.parse(s)
      val again = Parser.parse(Node.render(once))
      assert(again == once, s"round-trip failed for: $s\nrendered: ${Node.render(once)}")
    }
  }
}
