package graft.io

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.util.ProcessStarts
import scala.jdk.CollectionConverters._

/** The sink writers set `file:` permissions through java.nio: the same
  * files (`.crc` included) and the same modes as Hadoop's stock
  * `LocalFileSystem`, without a `chmod` child process. Driven on a
  * session graft did not build, so the writer options alone select it. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private val stockConf = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Runs `body` as in an application that built its own session: the
    * context's Hadoop conf, which every session's Hadoop conf starts from
    * and where `Sessions` put its `spark.hadoop.*` keys, names no `file:`
    * implementation meanwhile. (Suites run one at a time in the test JVM.) */
  private def unmanaged[A](body: => A): A = {
    val hc = TestSpark.spark.sparkContext.hadoopConfiguration
    val saved = NioLocalFileSystem.conf.keys.map(k => k -> hc.get(k))
    saved.foreach { case (k, _) => hc.unset(k) }
    try body finally saved.foreach { case (k, v) => if (v != null) hc.set(k, v) }
  }

  private def session(conf: Map[String, String]): SparkSession = {
    val s = TestSpark.spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def umask(mode: Option[String]): Map[String, String] =
    mode.map("fs.permissions.umask-mode" -> _).toMap

  /** A partitioned `DynamicSink` write and a `DataStoreIO` parquet write
    * under `root`. */
  private def writeBoth(s: SparkSession, root: JPath): Unit = {
    val df = s.range(0, 60, 1, 3).select(col("id"), (col("id") % 4).as("k"))
    DynamicSink.writeByComputedPath(df,
      concat(lit("tiles/"), col("k"), lit(".jsonl")), root.resolve("sink").toString)
    DataStoreIO.write(df, root.resolve("ds").toString,
      DataStoreIO.WriteOptions(format = "parquet"))
  }

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r

  /** Every file and directory under `root`, by relative path (write ids
    * masked), with its POSIX mode. */
  private def tree(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map { p =>
      Uuid.replaceAllIn(root.relativize(p).toString, "<id>") ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
    finally s.close()
  }

  private def chmods(starts: Seq[String]): Seq[String] = starts.filter(_.contains("chmod"))

  test("the sink writers select it on a session graft did not build, and keep a caller's choice") {
    // graft's own sessions already carry it
    assert(NioLocalFileSystem.writerOptions(TestSpark.spark).isEmpty)
    unmanaged {
      val plain = session(Map.empty)
      assert(Option(plain.sessionState.newHadoopConf().get("fs.file.impl")).isEmpty)
      assert(NioLocalFileSystem.writerOptions(plain) == NioLocalFileSystem.conf)
      assert(NioLocalFileSystem.writerOptions(session(stockConf)).isEmpty)
    }
  }

  Seq(None, Some("077")).foreach { mask =>
    val label = mask.fold("umask 022")(m => s"fs.permissions.umask-mode=$m")
    test(s"same file tree and POSIX modes as the stock FS, no chmod forked ($label)") {
      val graftDir = Files.createTempDirectory("graft-niofs")
      val stockDir = Files.createTempDirectory("graft-stockfs")
      val (graftStarts, stockStarts) = unmanaged {
        (ProcessStarts.during(writeBoth(session(umask(mask)), graftDir))._2,
          ProcessStarts.during(writeBoth(session(umask(mask) ++ stockConf), stockDir))._2)
      }
      val (g, st) = (tree(graftDir), tree(stockDir))
      assert(g == st)
      assert(g.keys.exists(_.endsWith(".crc")), g.keys)
      assert(g.keys.count(k => k.startsWith("sink/tiles/") && k.contains("/part-")) == 12,
        g.keys)
      val file = mask.fold("rw-r--r--")(_ => "rw-------")
      assert(g.collect { case (k, m) if k.endsWith(".parquet") => m }.toSet == Set(file))
      // the probe works: the stock FS forks one chmod per file and dir
      assert(chmods(stockStarts).nonEmpty)
      assert(chmods(graftStarts).isEmpty, chmods(graftStarts).take(3))
    }
  }

  test("a sticky bit still lands, through Hadoop's own path") {
    val dir = Files.createTempDirectory("graft-niofs-sticky")
    val fs = new Path(dir.toUri).getFileSystem(TestSpark.spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    val (sticky, plainDir) = (new Path(dir.resolve("t").toUri), new Path(dir.resolve("p").toUri))
    fs.mkdirs(sticky); fs.mkdirs(plainDir)
    def mode(p: Path): Int =
      Files.getAttribute(dir.resolve(p.getName), "unix:mode").asInstanceOf[Int] & 0xfff
    val (_, starts) = ProcessStarts.during {
      fs.setPermission(sticky, new FsPermission(0x3ff.toShort))   // 01777
      fs.setPermission(plainDir, new FsPermission(0x1e8.toShort)) // 0750
    }
    assert(mode(sticky) == 0x3ff)
    assert(mode(plainDir) == 0x1e8)
    assert(chmods(starts).size == 1, starts)
  }
}
