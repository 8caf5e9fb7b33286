package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** One shared local SparkSession for the whole test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.util.Sessions.create("graft-test", "local[4]")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The Spark jobs `body` starts on the calling thread: a listener counts
    * job starts tagged with a job group set on this thread only. */
  def jobsStartedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(`fence`) => fenced.countDown()
          case _             => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once the fence job's start
      // arrives, every job `body` started has been counted
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
