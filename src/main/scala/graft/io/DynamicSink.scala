package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Dynamic-partition sink: the output path is a FUNCTION OF THE RECORD.
  *
  * The reference evaluates a DFL expression per record and routes each
  * object to its computed URI through per-path goroutines + fd semaphores
  * (reference: cli/process.go:231-235, 368-403, 242-362). That driver-side
  * fan-out is exactly the pattern NOT to port: at scale it serializes all
  * data through one process.
  *
  * Spark-native shape: the path expression becomes a COLUMN, the write is
  * `partitionBy` on it — a single distributed shuffle-free write where
  * each task routes its own rows; file-handle parallelism is the task
  * model, not a semaphore. The `__path=` partition directories are then
  * renamed (a driver-side METADATA-ONLY move, no data pass) to the exact
  * computed paths for CLI parity.
  */
object DynamicSink {

  /** Tile-sharded layout (reference: examples/geonames.sh:49 writes
    * `tiles/{z}-{x}-{y}.geojsonl.gz`; our canonical layout is
    * `_tile_z=…/_tile_x=…/_tile_y=…` hive partitioning so tile queries
    * partition-prune instead of addressing one shard file by name). */
  def writeTileSharded(df: DataFrame, outDir: String, format: String = "parquet",
                       z: Column, x: Column, y: Column): Unit = {
    val withTiles = df
      .withColumn("_tile_z", z)
      .withColumn("_tile_x", x)
      .withColumn("_tile_y", y)
    val w = withTiles.write.mode("overwrite")
      .options(NioLocalFileSystem.writerOptions(df.sparkSession))
      .partitionBy("_tile_z", "_tile_x", "_tile_y")
    format match {
      case "parquet" => w.parquet(outDir)
      case "jsonl"   => w.json(outDir)
      case "csv"     => w.option("header", true).csv(outDir)
      case other     => throw new UnsupportedOperationException(s"tile shard format: $other")
    }
  }

  /** Write with a per-record RELATIVE path expression (e.g.
    * `concat(lit("tiles/"), col("z"), lit("-"), col("x"), …)`).
    * Records fan out in one distributed pass; partition dirs are then
    * renamed to the exact computed paths. Each computed path becomes a
    * DIRECTORY of part files (the scale-correct shape — a computed path
    * receiving 1 TB must not be a single file); `mergeShards=true`
    * additionally concatenates parts, in part-name order, into the exact
    * file path for CLI parity at small scale.
    *
    * Every call stages in its own fresh directory under `outDir`, so
    * concurrent writes to one root never share (and delete) each other's
    * staging. A root the caller cannot write to — `ProcessCli` resolves
    * absolute computed paths against `/` — stages under the JVM temp dir
    * instead; merged shards are copied, so that crosses file systems. */
  def writeByComputedPath(df: DataFrame, pathCol: Column, outDir: String,
                          format: String = "jsonl",
                          mergeShards: Boolean = false,
                          compression: String = ""): Seq[String] = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    val root = Paths.get(outDir)
    if (Files.notExists(root)) Files.createDirectories(root)
    val staging =
      if (Files.isWritable(root)) Files.createTempDirectory(root, "__staging-")
      else Files.createTempDirectory("graft-sink-")
    try {
      val tmp = staging.toString
      val w0 = df.withColumn("__path", pathCol).write
        .options(NioLocalFileSystem.writerOptions(df.sparkSession))
        .mode("overwrite").partitionBy("__path")
      // concatenated gzip members are a valid gzip stream, so merged shards
      // stay decompressible
      val w = if (compression.nonEmpty) w0.option("compression", compression) else w0
      format match {
        case "jsonl"   => w.json(tmp)
        case "csv"     => w.option("header", true).csv(tmp)
        case "parquet" => w.parquet(tmp)
        case other     => throw new UnsupportedOperationException(s"dynamic sink format: $other")
      }

      // directory listings come back in no specified order: sort, so a
      // merged file's record order is the same on every run
      def list(dir: Path): Seq[Path] = {
        val s = Files.list(dir)
        try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
        finally s.close()
      }
      // metadata-only: move each __path=<escaped> dir to its real path
      list(staging).flatMap { p =>
        val name = p.getFileName.toString
        if (!name.startsWith("__path=")) None
        else {
          val rel = java.net.URLDecoder.decode(name.stripPrefix("__path="), "UTF-8")
          val target = root.resolve(rel)
          Files.createDirectories(target.getParent)
          if (mergeShards) {
            val out = Files.newOutputStream(target)
            try list(p).filter(_.getFileName.toString.startsWith("part-"))
              .foreach(Files.copy(_, out))
            finally out.close()
          } else {
            Files.move(p, target, StandardCopyOption.REPLACE_EXISTING)
          }
          Some(rel)
        }
      }.sorted
    } finally {
      // drop staging leftovers (merge mode leaves the original dirs
      // behind, and Spark leaves _SUCCESS (+ .crc) markers at the
      // staging root) — always delete recursively, on failure too
      deleteRecursively(staging.toFile)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
