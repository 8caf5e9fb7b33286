package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}

/** One timed operation: a pass, a request, or a query file. */
final case class OpRec(id: Int, kind: String, iv: Iv, ok: Boolean,
                       rowsOut: Long = 0, respBytes: Long = 0,
                       fileRead: Boolean = false) {
  def ms: Double = iv.dur
}

/** A workload drives one of graft's product paths on inputs it generates
  * from the seed, and checks every output against ground truth it knows
  * by construction. */
trait Workload {
  def name: String
  /** Input sizes, printed with the metrics. */
  def sizes: Seq[(String, Long)]
  /** Write the program's inputs under `dir` (plain Scala, before Spark). */
  def generate(dir: File, seed: Long): Unit
  /** Bring the program up on a fresh session and run the first, cold op. */
  def setUp(spark: SparkSession, rec: Option[Recorder], rep: Int): Unit
  /** Undo a set-up that is not the last one. */
  def tearDown(): Unit
  /** Untimed ops between the last set-up and the measured window. */
  def warmUp(rec: Option[Recorder]): Unit = ()
  /** Run timed ops for `seconds`. */
  def measure(seconds: Double, rec: Option[Recorder]): Unit
  /** Stop background work once the window has ended. */
  def finish(): Unit = ()
  def ops: Seq[OpRec]
  /** Failures found by the output checks beyond the per-op ones. */
  def extraFailures: Seq[String] = Nil
  /** Ops that count toward `op_ms_*` (all of them by default). */
  def latencyOps: Seq[OpRec] = ops
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def e2e(windowS: Double): Seq[(String, Double, String)]
  /** Bytes of output or index this workload holds on disk. */
  def diskBytes: Long
  /** Workload-specific per-layer figures (traced run). */
  def layers(rec: Recorder, window: Iv): Map[String, Double] = Map.empty
}

object Main {

  val perLayer: Seq[(String, String)] = Seq(
    "dfl.parse_ms" -> "ms", "dfl.pipeline_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.delay_ms" -> "ms",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_ms" -> "ms",
    "exec.retry_ratio" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_ms" -> "ms", "exec.spill_mb" -> "MB",
    "driver.job_wall_ms" -> "ms", "driver.residual_ms" -> "ms",
    "io.read_call_ms" -> "ms", "io.write_call_ms" -> "ms",
    "io.input_mb" -> "MB", "io.input_rows" -> "rows",
    "io.output_mb" -> "MB", "io.output_rows" -> "rows",
    "io.rows_read_per_row_out" -> "ratio",
    "catalog.scan_share" -> "ratio", "server.resp_kb" -> "kB",
    "streaming.batch_ms" -> "ms", "streaming.queries_per_batch" -> "count",
    "streaming.queue_ms" -> "ms", "llm.probe_input_mb" -> "MB",
    "llm.index_files" -> "count", "llm.compact_ms" -> "ms",
    "llm.widen_rounds" -> "count",
    "jvm.gc_ms" -> "ms", "host.steal_pct" -> "%", "host.load" -> "load",
    "trace.op_ms_p50" -> "ms", "trace.spans_per_op" -> "count",
  )

  /** Layers only `ann_stream` (run by hand) measures. */
  val unregistered: Seq[String] = Seq("streaming.", "llm.")

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, work: String = "", result: String = "",
                        spans: String = "")

  def parse(args: Array[String]): Args = {
    var a = Args()
    args.grouped(2).foreach {
      case Array("--workload", v) => a = a.copy(workload = v)
      case Array("--seed", v)     => a = a.copy(seed = v.toLong)
      case Array("--seconds", v)  => a = a.copy(seconds = v.toDouble)
      case Array("--trace", v)    => a = a.copy(trace = v == "1")
      case Array("--work", v)     => a = a.copy(work = v)
      case Array("--result", v)   => a = a.copy(result = v)
      case Array("--spans", v)    => a = a.copy(spans = v)
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    require(a.workload.nonEmpty && a.work.nonEmpty, "--workload and --work are required")
    a
  }

  /** Set-ups per run; `setup_s` is their median. */
  val setupReps = 3

  def workload(name: String): Workload = name match {
    case "process_etl"  => new ProcessEtl
    case "serve_http"   => new ServeHttp
    case "ann_stream"   => new AnnStream
    case "curate_dedup" => new CurateDedup
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  def master: String = s"local[$nproc]"

  /** A fresh session configured like graft's own CLIs, with every
    * scratch directory inside the benchmark's work dir. */
  def session(work: File): SparkSession = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val local = new File(work, "spark-local"); local.mkdirs()
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** `op_ms_p50`: the median latency of each op kind, combined over the
    * kinds by their geometric mean. A workload with one kind (a batch
    * pass) gets its plain median; a request mix gets a figure that does
    * not jump when the overall median falls between two kinds whose
    * latencies differ, and in which a change to any kind shows. */
  def kindMedian(ops: Seq[OpRec]): Double = {
    val meds = ops.groupBy(_.kind).values.map(k => median(k.map(_.ms))).toSeq
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val work = new File(a.work); work.mkdirs()
    val wl = workload(a.workload)
    val input = new File(work, "input"); input.mkdirs()
    val g0 = System.nanoTime()
    wl.generate(input, a.seed)
    val genS = (System.nanoTime() - g0) / 1e9
    println(f"[perfbench] workload=${wl.name} seed=${a.seed} seconds=${a.seconds}%.0f " +
      s"trace=${if (a.trace) 1 else 0} " +
      wl.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ") + f" generate_s=$genS%.2f")

    val cpu0 = Host.cpu(); val load0 = Host.load()
    val rec = if (a.trace) Some(new Recorder) else None
    var spark: SparkSession = null
    val setups = (0 until setupReps).map { rep =>
      if (rep > 0) {
        wl.tearDown()
        rec.foreach(_.unregister(spark))
        spark.stop()
      }
      val t0 = System.nanoTime()
      spark = session(work)
      rec.foreach(_.register(spark))
      wl.setUp(spark, rec, rep)
      (System.nanoTime() - t0) / 1e9
    }
    val cpuSet = Host.cpu()
    println("[perfbench] setup_s per set-up: " + setups.map(s => f"$s%.3f").mkString(" "))

    wl.warmUp(rec)
    val poller = new StoragePoller(spark)
    rec.foreach { r => r.drain(); r.reset() }
    val gc0 = Host.gcMs()
    val w0 = Clock.nowMs
    wl.measure(a.seconds, rec)
    val w1 = Clock.nowMs
    val gc1 = Host.gcMs()
    wl.finish()
    rec.foreach(_.drain())
    val peakBlocks = poller.stop()
    val cpu1 = Host.cpu(); val load1 = Host.load()
    val window = Iv(w0, w1)

    val ops = wl.ops
    val opFails = ops.count(!_.ok)
    val extra = wl.extraFailures
    val attempted = math.max(1, ops.size + extra.size)
    val failed = opFails + extra.size
    extra.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    val latOps = wl.latencyOps.filter(_.ok)
    val lat = latOps.map(_.ms)
    val disk = wl.diskBytes
    val storageMb = (peakBlocks + disk) / 1e6
    val busyS = Iv.unionLen(wl.latencyOps.map(_.iv)) / 1000
    val e2eVals: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(setups), "s"),
      ("op_ms_p50", kindMedian(latOps), "ms"),
      ("ops_per_s", lat.size / math.max(busyS, 1e-9), "1/s"))
    val extraE2e = Seq(("op_ms_p95", pct(lat, 0.95), "ms"), ("op_samples", lat.size.toDouble, "count"),
      ("storage_mb", storageMb, "MB")) ++
      wl.e2e((w1 - w0) / 1000.0) :+ (("error_rate", failed.toDouble / attempted, "ratio"))

    val noise = Seq(
      "nproc" -> nproc.toString, "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "master" -> master,
      "steal_pct_setup" -> f"${Host.stealPct(cpu0, cpuSet)}%.2f",
      "steal_pct_window" -> f"${Host.stealPct(cpuSet, cpu1)}%.2f",
      "load_start" -> f"$load0%.2f", "load_end" -> f"$load1%.2f")
    println("[perfbench] noise " + noise.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(f"[perfbench] ops=${ops.size} failed=$failed latency_samples=${lat.size} " +
      f"window_s=${(w1 - w0) / 1000}%.2f storage: blocks_mb=${peakBlocks / 1e6}%.2f disk_mb=${disk / 1e6}%.2f")
    (e2eVals ++ extraE2e).foreach { case (n, v, u) => println(f"[perfbench] metric $n = $v%.4f $u") }

    val layerVals: Seq[(String, Double, String)] = rec match {
      case None => Nil
      case Some(r) =>
        val m = layerMetrics(r, window, ops, wl, gc1 - gc0,
          Host.stealPct(cpu0, cpu1), (load0 + load1) / 2)
        val spans = r.allSpans(Iv(window.start - 1, Clock.nowMs))
        val selfs = Spans.selfTimes(spans)
        if (a.spans.nonEmpty) writeSpans(a.spans, selfs)
        println("[perfbench] span self time (ms, whole window):")
        selfs.groupBy(_._1.name).toSeq.sortBy(-_._2.map(_._2).sum).foreach { case (n, xs) =>
          println(f"[perfbench]   $n%-22s n=${xs.size}%6d self_ms=${xs.map(_._2).sum}%10.1f")
        }
        val all = m + ("trace.spans_per_op" -> spans.size.toDouble / attempted) +
          ("trace.op_ms_p50" -> kindMedian(latOps))
        perLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
    }
    layerVals.foreach { case (n, v, u) => println(f"[perfbench] layer $n = $v%.4f $u") }

    // the registered per-layer metrics: those the registered workloads produce
    val metrics = if (a.trace) layerVals.filterNot(m => unregistered.exists(m._1.startsWith)) else e2eVals
    val metricsJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    val line = s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricsJson}"""
    if (a.result.nonEmpty) {
      val all = (e2eVals ++ extraE2e ++ layerVals).map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
      val doc = s"""{"workload": "${wl.name}", "seed": ${a.seed}, "seconds": ${a.seconds}, """ +
        s""""trace": ${a.trace}, "sizes": ${wl.sizes.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")}, """ +
        s""""noise": ${noise.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")}, """ +
        s""""setup_s_each": ${setups.map(num).mkString("[", ", ", "]")}, """ +
        s""""correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""check_failures": ${extra.map(json.writeValueAsString).mkString("[", ", ", "]")}, """ +
        s""""metrics": $all, "ops_each": ${wl.latencyOps.map(o =>
          s"[${json.writeValueAsString(o.kind)}, ${num(o.ms)}, ${o.ok}]").mkString("[", ", ", "]")}}"""
      Files.write(Paths.get(a.result), doc.getBytes("UTF-8"))
    }
    wl.tearDown()
    spark.stop()
    println(line)
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeSpans(path: String, selfs: Seq[(Span, Double)]): Unit = {
    val lines = selfs.sortBy(_._1.iv.start).map { case (s, self) =>
      f"""{"id": ${s.id}, "name": "${s.name}", "start_ms": ${s.iv.start}%.3f, "end_ms": ${s.iv.end}%.3f, """ +
        f""""parent": ${s.parent}, "op": ${s.op}, "src": "${s.src}", "self_ms": $self%.3f}"""
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Per-layer counters over the measured window, normalised per op. */
  def layerMetrics(r: Recorder, window: Iv, ops: Seq[OpRec], wl: Workload,
                   gcMs: Long, steal: Double, load: Double): Map[String, Double] = {
    val (jobs0, tasks0, plans0, stages, spans) = r.snapshot
    val n = math.max(1, ops.size).toDouble
    val inWin = (iv: Iv) => iv.start >= window.start && iv.start <= window.end
    val jobs = jobs0.filterNot(_._2.isNaN).filter(j => inWin(Iv(j._1, j._2)))
    val tasks = tasks0.filter(t => inWin(t.iv))
    val plans = plans0.filter(p => inWin(p.planning))
    val opIvs = ops.map(_.iv)
    val jobIvs = jobs.map(j => Iv(j._1, j._2))
    val planIvs = plans.flatMap(_.all)
    val busy = Iv.unionLen(opIvs)
    val covered = Iv.unionWithin(jobIvs ++ planIvs, opIvs)
    def spanMs(name: String) = spans.filter(s => s.name == name && inWin(s.iv)).map(_.iv.dur).sum / n
    val inRows = tasks.map(_.inRows).sum.toDouble
    val rowsOut = ops.map(_.rowsOut).sum.toDouble
    Map(
      "dfl.parse_ms" -> spanMs("dfl.parse"),
      "dfl.pipeline_ms" -> spanMs("dfl.pipeline"),
      "plan.analysis_ms" -> plans.map(_.analysis.dur).sum / n,
      "plan.optimization_ms" -> plans.map(_.optimization.dur).sum / n,
      "plan.planning_ms" -> plans.map(_.planning.dur).sum / n,
      "sched.jobs" -> jobs.size / n,
      "sched.stages" -> stages / n,
      "sched.tasks" -> tasks.size / n,
      "sched.delay_ms" -> tasks.map(_.schedDelayMs).sum / n,
      "exec.task_s" -> tasks.map(_.runMs).sum / 1000.0 / n,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "exec.retry_ratio" -> (if (tasks.isEmpty) 0.0 else tasks.count(!_.ok).toDouble / tasks.size),
      "shuffle.write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6 / n,
      "shuffle.read_mb" -> tasks.map(_.shuffleRead).sum / 1e6 / n,
      "shuffle.fetch_wait_ms" -> tasks.map(_.fetchWaitMs).sum / n,
      "exec.spill_mb" -> tasks.map(_.spill).sum / 1e6 / n,
      "driver.job_wall_ms" -> Iv.unionWithin(jobIvs, opIvs) / n,
      "driver.residual_ms" -> (busy - covered) / n,
      "io.read_call_ms" -> spanMs("io.read"),
      "io.write_call_ms" -> spanMs("io.write"),
      "io.input_mb" -> tasks.map(_.inBytes).sum / 1e6 / n,
      "io.input_rows" -> inRows / n,
      "io.output_mb" -> tasks.map(_.outBytes).sum / 1e6 / n,
      "io.output_rows" -> tasks.map(_.outRows).sum / n,
      "io.rows_read_per_row_out" -> (if (rowsOut > 0) inRows / rowsOut else 0.0),
      "jvm.gc_ms" -> gcMs / n,
      "host.steal_pct" -> steal,
      "host.load" -> load,
    ) ++ wl.layers(r, window)
  }

  // ---- small shared helpers ----

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  def writeAtomically(dir: File, name: String, body: String): Unit = {
    val tmp = new File(dir.getParentFile, s".${dir.getName}-$name.tmp")
    Files.write(tmp.toPath, body.getBytes("UTF-8"))
    Files.move(tmp.toPath, new File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  val json = new com.fasterxml.jackson.databind.ObjectMapper()
}
