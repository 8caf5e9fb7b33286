package graft.util

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SessionsSpec extends AnyFunSuite {

  test("every session carries the shared conf set") {
    val spark = TestSpark.spark
    Sessions.conf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold") == "262144")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.hadoop.fs.file.impl") == "graft.io.NioLocalFileSystem")
    assert(spark.conf.get("spark.hadoop.fs.file.impl.disable.cache") == "true")
  }

  test("file: resolves to the fork-free local file system, uncached") {
    val hc = TestSpark.spark.sessionState.newHadoopConf()
    assert(hc.get("fs.file.impl") == classOf[graft.io.NioLocalFileSystem].getName)
    assert(hc.getBoolean("fs.file.impl.disable.cache", false))
    val p = new org.apache.hadoop.fs.Path("file:///tmp")
    val fs = p.getFileSystem(hc)
    assert(fs.isInstanceOf[graft.io.NioLocalFileSystem], fs.getClass)
    // not cached: a stock instance cached by anyone else can never shadow it
    assert(!(p.getFileSystem(hc) eq fs))
  }

  test("SPARK_GRAFT_CPUS parses once to a positive Int; a bad value names the variable") {
    assert(Sessions.parseCpus(None).isEmpty)
    assert(Sessions.parseCpus(Some(" 8 ")).contains(8))
    Seq("eight", "0", "-2", "4.5", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](Sessions.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("shuffle partitions follow the local core count") {
    assert(Sessions.shufflePartitions("local[6]") == 6)
    assert(Sessions.shufflePartitions("local") == 1)
    assert(Sessions.shufflePartitions("spark://host:7077") == 4)
  }
}
