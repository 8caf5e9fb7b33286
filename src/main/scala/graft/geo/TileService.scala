package graft.geo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog.{Catalog, Exec, Layer}
import graft.dfl.DflFrame
import graft.functions.BoundLit
import graft.io.DataStoreIO

/** Vector-tile and raster-mask query paths (reference:
  * handlers/LayerTileHandler.go:85-264, handlers/LayerMaskHandler.go:44-218).
  *
  * Execution shape per request:
  *  1. extent PRE-FILTER: if the requested tile is outside the layer's or
  *     datastore's declared extent, return empty WITHOUT reading data
  *     (reference: LayerTileHandler.go:117-140) — the metadata analogue of
  *     partition pruning;
  *  2. resolve + read the datastore (cached, mtime-keyed; a small one is
  *     held as driver-side rows, see [[graft.catalog.Exec.readDataStore]]);
  *  3. bbox filter (always) + layer filter + optional user DFL + limit —
  *     all compiled into ONE Catalyst plan. Over driver-held rows the
  *     optimizer evaluates it and a tile, rendered through
  *     [[graft.io.DataStoreIO.jsonRows]], starts no Spark job; over a
  *     persisted or file-backed read the bbox predicate reaches the scan,
  *     and on a tile-sharded parquet layout (`_tile_z/_tile_x/_tile_y`,
  *     see [[graft.io.DynamicSink.writeTileSharded]]) it partition-prunes;
  *  4. tiles: GeoJSON-style wrap; masks: `groupBy` sub-tile indexes →
  *     count ≥ threshold → binary grid (two-phase partial agg for free;
  *     an aggregate does not fold on the driver, so a mask runs jobs).
  */
final class TileService(spark: SparkSession, exec: Exec) {

  private def catalog: Catalog = exec.catalog

  /** [w, s, e, n] intersection test used by the extent short-circuit. */
  private def intersectsExtent(extent: Seq[Double], bbox: (Double, Double, Double, Double)): Boolean =
    extent.size < 4 ||
      !(extent(2) < bbox._1 || extent(0) > bbox._3 ||
        extent(3) < bbox._2 || extent(1) > bbox._4)

  /** The named bbox-containment filter over feature-shaped rows — one
    * audited constant shared with the named-pipeline registry so the two
    * can't drift (reference: pipeline/Pipeline.go:7, named/named.go:14). */
  val geometryFilter: String = graft.dfl.Named.geometryFilter

  /** Vector-tile query: features of `layer` within tile (z, x, y).
    * Returns None when the extent short-circuit fires (no data read). */
  def tileQuery(layerName: String, z: Int, x: Long, y: Long,
                buffer: Long = 1, userDfl: Option[String] = None,
                limit: Option[Int] = None): Option[DataFrame] = {
    val layer = catalog.layers(layerName)
    val ds = catalog.datastores(layer.datastore)
    val bbox = TileMath.bufferedTileBoundingBox(z, x, y, buffer)
    if (!intersectsExtent(layer.extent, bbox) || !intersectsExtent(ds.extent, bbox))
      return None // extent short-circuit: zero IO

    val vars = layer.defaults ++ Map(
      "bbox" -> Seq(bbox._1, bbox._2, bbox._3, bbox._4),
      "z" -> z.toLong, "x" -> x, "y" -> y)
    val df = exec.readDataStore(ds, vars)
    var out = DflFrame.pipeline(df, geometryFilter, vars)
    if (layer.expression.trim.nonEmpty)
      out = DflFrame.pipeline(out, layer.expression, vars)
    userDfl.foreach(u => out = DflFrame.pipeline(out, u, vars))
    limit.foreach(n => out = out.limit(n))
    Some(out)
  }

  /** FeatureCollection wrap of a tile query (driver-side assembly at CLI
    * result sizes, reference: named/named.go:20). */
  def tileQueryGeoJson(layerName: String, z: Int, x: Long, y: Long,
                       buffer: Long = 1, userDfl: Option[String] = None,
                       limit: Option[Int] = None): String = {
    tileQuery(layerName, z, x, y, buffer, userDfl, limit) match {
      case None => """{"type":"FeatureCollection","features":[],"numberOfFeatures":0}"""
      case Some(df) =>
        val feats = DataStoreIO.jsonRows(df)
        s"""{"type":"FeatureCollection","features":[${feats.mkString(",")}],"numberOfFeatures":${feats.length}}"""
    }
  }

  /** Raster mask: counts per sub-tile of (z,x,y) at `maskZoom` levels
    * deeper, thresholded to a binary grid (reference:
    * handlers/LayerMaskHandler.go:143-216, named/named.go:22 GroupByTile).
    * Returns (gridSize, Set of (row, col) cells that are on). */
  def maskGrid(layerName: String, z: Int, x: Long, y: Long,
               maskZoom: Int = 8, threshold: Long = 1,
               userDfl: Option[String] = None): (Int, Set[(Int, Int)]) = {
    val n = 1 << maskZoom
    val subZ = z + maskZoom
    // the user DFL composes between the geometry/layer filters and the
    // grid aggregation, exactly as the reference appends a filter stage
    // to the mask pipeline (handlers/LayerMaskHandler.go:120-137)
    tileQuery(layerName, z, x, y, buffer = 0, userDfl = userDfl) match {
      case None => (n, Set.empty)
      case Some(df) =>
        val lonC = col("geometry").getField("coordinates").getItem(0)
        val latC = col("geometry").getField("coordinates").getItem(1)
        // global sub-tile index minus the tile's origin → local grid cell
        // request values bind by reference: one generated class serves
        // every tile of a zoom level
        val last = BoundLit(n - 1L)
        val cells = df
          .groupBy(
            (TileMath.tileY(latC, BoundLit(subZ)) - BoundLit(y * n)).as("row"),
            (TileMath.tileX(lonC, BoundLit(subZ)) - BoundLit(x * n)).as("col"))
          .count()
          .filter(col("count") >= BoundLit(threshold))
          .filter(col("row").between(0L, last) && col("col").between(0L, last))
          .collect()
          .map(r => (r.getLong(0).toInt, r.getLong(1).toInt))
          .toSet
        (n, cells)
    }
  }

  /** Render a mask grid as a PNG — see [[maskImage]]. */
  def maskPng(grid: (Int, Set[(Int, Int)]), alpha: Int = 255): Array[Byte] =
    maskImage(grid, alpha, "png")

  /** Render a mask grid as png/gif/jpeg (pure-JDK javax.imageio),
    * extension-selected like the reference (img/RespondWithGrid.go:32-39):
    * on-cells navy at `alpha` (reference fg RGBA(0,0,128,alpha),
    * LayerMaskHandler.go:216), off-cells transparent black. JPEG has no
    * alpha channel, so it renders on an opaque RGB raster (the same
    * degradation jpeg.Encode applies to the reference's RGBA image). An
    * unknown format is an IllegalArgumentException — the reference's
    * ErrUnknownImageExtension. */
  def maskImage(grid: (Int, Set[(Int, Int)]), alpha: Int = 255,
                format: String = "png"): Array[Byte] = {
    val fmt = if (format == "jpg") "jpeg" else format
    require(fmt == "png" || fmt == "gif" || fmt == "jpeg",
      s"unknown image extension: $format")
    val (n, cells) = grid
    val imgType =
      if (fmt == "jpeg") java.awt.image.BufferedImage.TYPE_INT_RGB
      else java.awt.image.BufferedImage.TYPE_INT_ARGB
    val img = new java.awt.image.BufferedImage(n, n, imgType)
    cells.foreach { case (r, c) =>
      img.setRGB(c, r, (alpha << 24) | 0x000080)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }
}
