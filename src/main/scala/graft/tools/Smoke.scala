package graft.tools

import graft.dfl.DflFrame
import graft.util.Sessions

/** Runtime smoke driver: exercises the public DFL API against the real
  * testdata parquet, printing results and the physical plan so pushdown
  * behavior is observable. Run: `sbt "runMain graft.tools.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = Sessions.create("graft-smoke", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val orders = spark.read.parquet(s"$sf/orders.parquet")

    println("== DFL filter+map+sort+limit over documents ==")
    val q1 = DflFrame.pipeline(docs,
      "filter(@, \"(@lang == en) and (@n_chars > 200)\") | map(@, \"@doc_id\") | sort(@) | limit(@, 5)")
    q1.show()

    println("== DFL hist over orders status ==")
    val q2 = DflFrame.pipeline(orders, "hist(@, '@o_orderstatus')")
    q2.orderBy("key").show()

    println("== physical plan of the filter (expect PushedFilters) ==")
    DflFrame.pipeline(docs, "filter(@, \"(@lang == en) and (@n_chars > 200)\") | map(@, \"@doc_id\")")
      .explain("formatted")

    println("== tile stamp over documents-derived coords ==")
    val q3 = DflFrame.pipeline(docs,
      "map(@, '{id: @doc_id, tx: tileX(float64(@doc_id % 360) - 180.0, 4), ty: tileY(float64(@doc_id % 170) - 85.0, 4)}') | limit(@, 3)")
    q3.show()

    args.drop(1).headOption.foreach { bad =>
      println(s"== error-path probe: $bad ==")
      try DflFrame.pipeline(docs, bad).show()
      catch { case e: Exception => println(s"error surfaced: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    spark.stop()
  }
}
