package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.util.Sessions.create("graft-test", "local[4]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
