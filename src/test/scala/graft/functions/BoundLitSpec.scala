package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.catalog._
import graft.dfl.{DflFrame, LitBuild, Named}
import graft.geo.{TileMath, TileService}
import java.nio.file.{Files, Paths}

/** Request variables bind by reference: two requests of one shape that
  * differ only in their values generate byte-identical code (one class
  * compile serves both), and return the rows a `lit`-bound build of the
  * same DFL returns. */
class BoundLitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // 240 points in 4 clusters of 60, around two cities
  private lazy val fixture: (Exec, TileService) = {
    val dir = Files.createTempDirectory("graft-boundlit").toString
    val centres = Seq((-77.0, 38.9), (-76.6, 39.3), (2.35, 48.85), (2.6, 48.6))
    val rnd = new java.util.Random(7)
    val lines = (0 until 240).map { i =>
      val c = i % centres.size
      val lon = centres(c)._1 + rnd.nextDouble() * 0.2
      val lat = centres(c)._2 + rnd.nextDouble() * 0.2
      f"""{"type":"Feature","properties":{"pid":$i,"amenity":"k${i % 3}","cluster":$c,""" +
        f""""rank":${i % 100}},"geometry":{"type":"Point","coordinates":[$lon%.6f,$lat%.6f]}}"""
    }
    Files.writeString(Paths.get(s"$dir/points.jsonl"), lines.mkString("\n"))
    val c = new Catalog
    c.add(Workspace("ws"))
    c.add(DataStore("ws", "points", s"$dir/points.jsonl"))
    c.add(Layer("points", "points", ""))
    c.add(Process("by_kind", "filter(@, '(@properties.amenity == $kind) and " +
      "(@properties.cluster == $cl)') | map(@, '{pid: @properties.pid}')"))
    c.add(Process("ranked", rankedExpr))
    c.add(Service("by_kind", "points", "by_kind", defaults = Map("kind" -> "k0", "cl" -> 0L)))
    c.add(Service("ranked", "points", "ranked", defaults = Map("minRank" -> 40L, "cl" -> 0L)))
    val exec = new Exec(spark, c)
    (exec, new TileService(spark, exec))
  }

  private val rankedExpr =
    """($c := ($c ?: filter(@, "@properties.rank >= $minRank"))) | $c | """ +
      """filter(@, "@properties.cluster == $cl") | {numberOfFeatures: len(@)}"""

  private def points: DataFrame =
    fixture._1.readDataStore(fixture._1.catalog.datastores("points"), Map.empty)

  private def rows(df: DataFrame): Set[String] = df.toJSON.collect().toSet

  /** Runs `df`, then returns its generated code. */
  private def codegenOf(df: DataFrame): Seq[String] = {
    df.collect()
    LitBuild.codegen(df.queryExecution)
  }

  private def assertSameCode(a: Seq[String], b: Seq[String]): Unit = {
    assert(a.nonEmpty, "no whole-stage code generated")
    val firstDiff = a.zipAll(b, "", "").iterator.flatMap { case (x, y) =>
      x.linesIterator.zipAll(y.linesIterator, "", "").find(l => l._1 != l._2) }.nextOption()
    assert(firstDiff.isEmpty, s"request values changed the generated code: $firstDiff")
  }

  test("tile requests share generated code and match a lit build") {
    val (_, svc) = fixture
    val tiles = Seq((8, -76.95, 38.95), (9, 2.45, 48.9))
    val built = tiles.map { case (z, lon, lat) =>
      val (x, y) = (TileMath.lonToTile(lon, z), TileMath.latToTile(lat, z))
      val df = svc.tileQuery("points", z, x, y, buffer = 0).get
      val b = TileMath.bufferedTileBoundingBox(z, x, y, 0)
      val vars = Map[String, Any]("bbox" -> Seq(b._1, b._2, b._3, b._4))
      val viaLit = DflFrame.pipeline(points, LitBuild.inline(Named.geometryFilter, vars))
      assert(rows(df).nonEmpty)
      assert(rows(df) == rows(viaLit))
      codegenOf(df)
    }
    assertSameCode(built(0), built(1))
  }

  test("mask requests share generated code and match a lit build") {
    val (_, svc) = fixture
    val captured = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.executedPlan.toString.contains("count")) captured.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    val z = 9
    val grids = try Seq((-76.95, 38.95), (2.45, 48.9)).map { case (lon, lat) =>
      val (x, y) = (TileMath.lonToTile(lon, z), TileMath.latToTile(lat, z))
      val grid = svc.maskGrid("points", z, x, y, maskZoom = 6)
      val qe = captured.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      assert(qe != null, "mask query not captured")
      (x, y, grid._2, LitBuild.codegen(qe))
    } finally spark.listenerManager.unregister(ql)
    grids.foreach { case (x, y, cells, _) =>
      // the same grid with every request value a plain lit
      val df = svc.tileQuery("points", z, x, y, buffer = 0).get
      val latC = col("geometry").getField("coordinates").getItem(1)
      val lonC = col("geometry").getField("coordinates").getItem(0)
      val viaLit = df.groupBy(
          (TileMath.tileY(latC, lit(z + 6)) - lit(y * 64)).as("row"),
          (TileMath.tileX(lonC, lit(z + 6)) - lit(x * 64)).as("col"))
        .count().filter(col("count") >= lit(1L))
        .filter(col("row").between(lit(0L), lit(63L)) && col("col").between(lit(0L), lit(63L)))
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt)).toSet
      assert(cells.nonEmpty)
      assert(cells == viaLit)
    }
    assertSameCode(grids(0)._4, grids(1)._4)
  }

  test("a by_kind service with a long $cl shares generated code across requests") {
    val (exec, _) = fixture
    val expr = exec.catalog.processes("by_kind").expression
    val built = Seq(("k1", 2L), ("k2", 3L)).map { case (kind, cl) =>
      val vars = Map[String, Any]("kind" -> kind, "cl" -> cl)
      val df = exec.serviceExec("by_kind", vars)
      val viaLit = DflFrame.pipeline(points, LitBuild.inline(expr, vars), vars)
      assert(rows(df).nonEmpty)
      assert(rows(df) == rows(viaLit))
      codegenOf(df)
    }
    assertSameCode(built(0), built(1))
  }

  test("a cached `$c := ($c ?: filter(...))` service shares generated code across requests") {
    val (exec, _) = fixture
    val built = Seq(1L, 2L).map { cl =>
      val df = exec.serviceExec("ranked", Map("cl" -> cl))
      val viaLit = DflFrame.pipeline(points,
        LitBuild.inline(rankedExpr, Map("minRank" -> 40L, "cl" -> cl)))
      assert(rows(df) == rows(viaLit))
      assert(!rows(df).head.contains("\"numberOfFeatures\":0"))
      codegenOf(df)
    }
    assertSameCode(built(0), built(1))
  }
}
