package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark spans line up with the epoch-ms timestamps Spark puts on
  * its listener events. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A closed interval in epoch ms. */
final case class Iv(start: Double, end: Double) {
  def dur: Double = end - start
  def contains(o: Iv): Boolean = start <= o.start && o.end <= end
}

object Iv {
  /** Total length covered by a set of intervals (overlaps counted once). */
  def unionLen(ivs: Iterable[Iv]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    ivs.toSeq.filter(_.dur > 0).sortBy(_.start).foreach { iv =>
      if (curS.isNaN || iv.start > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = iv.start; curE = iv.end
      } else curE = math.max(curE, iv.end)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Clip every interval to the union of `within`, then take the union. */
  def unionWithin(ivs: Iterable[Iv], within: Iterable[Iv]): Double = {
    val w = merge(within)
    Iv.unionLen(ivs.flatMap(iv => w.flatMap { o =>
      val s = math.max(iv.start, o.start); val e = math.min(iv.end, o.end)
      if (e > s) Some(Iv(s, e)) else None
    }))
  }

  def merge(ivs: Iterable[Iv]): Seq[Iv] = {
    val out = mutable.ArrayBuffer.empty[Iv]
    ivs.toSeq.filter(_.dur > 0).sortBy(_.start).foreach { iv =>
      if (out.isEmpty || iv.start > out.last.end) out += iv
      else out(out.size - 1) = Iv(out.last.start, math.max(out.last.end, iv.end))
    }
    out.toSeq
  }
}

/** One finished task as the scheduler reported it. */
final case class TaskRec(iv: Iv, ok: Boolean, runMs: Long, cpuNs: Long,
                         gcMs: Long, schedDelayMs: Double,
                         shuffleWrite: Long, shuffleRead: Long,
                         fetchWaitMs: Long, spill: Long,
                         inBytes: Long, inRows: Long,
                         outBytes: Long, outRows: Long)

/** One planned-and-executed query with its planning phases. */
final case class PlanRec(analysis: Iv, optimization: Iv, planning: Iv) {
  def all: Seq[Iv] = Seq(analysis, optimization, planning)
}

/** A span the benchmark records around a call into the program, or one
  * derived from a listener event (`src` = "spark"). */
final case class Span(id: Int, name: String, iv: Iv, parent: Int, op: Int,
                      src: String)

/** The traced run's recorder: a SparkListener and a QueryExecutionListener
  * registered by the benchmark, plus spans the benchmark opens around its
  * own calls into graft. Everything stays in memory until the run ends. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, (Double, Double, Int)] // id -> start, end, stages
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private var stagesSubmitted = 0
  private val benchSpans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[Int] { override def initialValue() = 0 }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobs(e.jobId) = (e.time.toDouble, Double.NaN, e.stageInfos.size)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobs.get(e.jobId).foreach { case (s, _, n) => jobs(e.jobId) = (s, e.time.toDouble, n) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized { stagesSubmitted += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    val rec = if (m == null) TaskRec(Iv(i.launchTime.toDouble, i.finishTime.toDouble),
        ok, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      else {
        val dur = (i.finishTime - i.launchTime).toDouble
        // Spark's own definition: what is left of the task's life once
        // the executor ran, serialized and shipped its result
        val delay = math.max(0.0, dur - m.executorRunTime -
          m.resultSerializationTime - i.gettingResultTime)
        val sr = m.shuffleReadMetrics
        TaskRec(Iv(i.launchTime.toDouble, i.finishTime.toDouble), ok,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime, delay,
          m.shuffleWriteMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    lock.synchronized { tasks += rec }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPlan(qe)
  private def recordPlan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def iv(k: String) = ph.get(k).map(p => Iv(p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      .getOrElse(Iv(0, 0))
    lock.synchronized { plans += PlanRec(iv("analysis"), iv("optimization"), iv("planning")) }
  }

  /** Time `body` as a named span under the calling thread's open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get().headOption.getOrElse(0)
    stack.set(id :: stack.get())
    val s = Clock.nowMs
    try body finally {
      val e = Clock.nowMs
      stack.set(stack.get().tail)
      lock.synchronized { benchSpans += Span(id, name, Iv(s, e), parent, opOf.get(), "bench") }
    }
  }

  /** An op root span: every span opened inside carries its op id. */
  def op[T](opId: Int, name: String)(body: => T): T = {
    opOf.set(opId)
    try span(name)(body) finally opOf.set(0)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def reset(): Unit = lock.synchronized {
    jobs.clear(); tasks.clear(); plans.clear(); stagesSubmitted = 0
  }

  def snapshot: (Seq[(Double, Double, Int)], Seq[TaskRec], Seq[PlanRec], Int, Seq[Span]) =
    lock.synchronized {
      (jobs.values.toSeq, tasks.toSeq, plans.toSeq, stagesSubmitted, benchSpans.toSeq)
    }

  /** Listener events arrive on Spark's bus thread; wait until every
    * started job has ended (or a timeout) before reading the counters. */
  def drain(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = lock.synchronized(jobs.values.count(_._2.isNaN))
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // task-end and query-listener events trail the job end
  }

  /** All spans — the benchmark's own plus Spark jobs and planning phases —
    * with each listener span attached to the innermost benchmark span
    * whose interval contains it. Spans that fall in more than one op
    * (concurrent requests) attach to the workload root (parent 0). */
  def allSpans(window: Iv): Seq[Span] = {
    val (js, _, ps, _, bs) = snapshot
    val byId = bs.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent == 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)
    var id = 1000000
    def attach(name: String, iv: Iv): Option[Span] = {
      if (iv.dur < 0 || !window.contains(iv)) return None
      val holders = bs.filter(_.iv.contains(iv))
      val ops = holders.map(_.op).filter(_ != 0).distinct
      val (parent, op) =
        if (ops.size == 1) {
          val inner = holders.filter(_.op == ops.head).maxBy(depth)
          (inner.id, ops.head)
        } else (0, 0)
      id += 1
      Some(Span(id, name, iv, parent, op, "spark"))
    }
    val jobSpans = js.filterNot(_._2.isNaN).flatMap { case (s, e, _) => attach("spark.job", Iv(s, e)) }
    val planSpans = ps.flatMap { p =>
      Seq("plan.analysis" -> p.analysis, "plan.optimization" -> p.optimization,
        "plan.planning" -> p.planning).flatMap { case (n, iv) => attach(n, iv) }
    }
    bs.filter(s => window.contains(s.iv)) ++ jobSpans ++ planSpans
  }
}

object Spans {
  /** Self time per span = duration − the part its children cover. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Iv.unionWithin(kids.getOrElse(s.id, Nil).map(_.iv), Seq(s.iv))
      s -> (s.iv.dur - covered)
    }
  }
}

/** Host noise: CPU steal and load, read from /proc. */
object Host {
  final case class Cpu(steal: Long, total: Long)
  def cpu(): Cpu = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Cpu(if (xs.length > 7) xs(7) else 0L, xs.take(8).sum)
    } finally f.close()
  } catch { case _: Exception => Cpu(0, 0) }
  def load(): Double = try {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.getLines().next().split(' ')(0).toDouble finally f.close()
  } catch { case _: Exception => 0.0 }
  def stealPct(a: Cpu, b: Cpu): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

/** Polls the bytes held by persisted Spark blocks (memory + disk) and
  * keeps the peak, so memory-for-speed trades show in `storage_mb`. */
final class StoragePoller(spark: SparkSession) {
  @volatile private var peak = 0L
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      try {
        val b = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        if (b > peak) peak = b
      } catch { case _: Exception => () }
      Thread.sleep(100)
    }
  }, "perfbench-storage")
  t.setDaemon(true); t.start()
  def stop(): Long = { running = false; t.join(1000); peak }
}
