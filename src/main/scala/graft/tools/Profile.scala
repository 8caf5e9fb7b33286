package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.util.{ProcessStarts, Sessions}

/** Per-query WORK profile — the measurement harness behind the round-21
  * optimization pass (guide §1: measure first). Wall-clock on a loaded
  * shared box swings ±25%, so per-change attribution uses the listener
  * counters instead: jobs / stages / tasks launched, summed executor
  * task time (CPU-proportional), and shuffle bytes written. Each query
  * runs twice; the SECOND run is reported (warm JIT/codegen, the bench's
  * warm-pass posture). `compiles`/`compile_ms` are the whole-stage and
  * expression classes Janino compiled during that warm run: Spark caches
  * generated classes by their source text, so a nonzero warm count flags
  * a plan whose generated code depends on values (a literal inlined per
  * run instead of bound by reference). `forks` counts the child processes
  * the JVM started during that run (`ProcessStarts`, an in-process JFR
  * probe): a per-file `chmod` or other per-file fork shows up there.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Sessions.create("graft-profile", Sessions.master(32))
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shufWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskTimeMs.addAndGet(t.taskMetrics.executorRunTime)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    println(f"${"query"}%-30s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"tasktime_s"}%10s ${"shufW_MB"}%8s ${"compiles"}%8s ${"compile_ms"}%10s ${"forks"}%5s")
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def compileNs = CodeGenerator.compileTime
    // a query that throws must not pollute the attribution data: its row
    // is marked FAILED (partial counters suppressed) and the process
    // exits nonzero so a broken query can't be mistaken for a measurement
    var anyFailed = false
    names.foreach { n =>
      (1 to 2).foreach { round =>
        jobs.set(0); stages.set(0); tasks.set(0)
        taskTimeMs.set(0); shufWrite.set(0); shufRead.set(0)
        var failed = false
        val (c0, cNs0) = (compiles, compileNs)
        val (wall, forks) = ProcessStarts.during {
          val t0 = System.nanoTime()
          try graft.SparkEntry.queries(n)(spark, dir).count()
          catch { case e: Throwable =>
            failed = true; anyFailed = true
            System.err.println(s"[profile] $n failed: ${e.getMessage}") }
          (System.nanoTime() - t0) / 1e9
        }
        // listener events drain asynchronously — settle before reading
        Thread.sleep(300)
        if (round == 2) {
          if (failed) println(f"$n%-30s  FAILED (counters suppressed)")
          else println(f"$n%-30s $wall%7.2f ${jobs.get}%5d ${stages.get}%6d " +
            f"${tasks.get}%6d ${taskTimeMs.get / 1e3}%10.2f " +
            f"${shufWrite.get / 1e6}%8.1f ${compiles - c0}%8d ${(compileNs - cNs0) / 1e6}%10.1f " +
            f"${forks.size}%5d")
        }
      }
    }
    spark.stop()
    if (anyFailed) sys.exit(1)
  }
}
