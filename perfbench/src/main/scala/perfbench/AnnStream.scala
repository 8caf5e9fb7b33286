package perfbench

import graft.io.DataStoreIO
import graft.streaming.StreamRunner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import scala.collection.mutable

/** `ann_stream`: `serve-ann` and `ingest-ann` running concurrently on one
  * IVF index. An open-loop generator drops query files and corpus files
  * on a fixed schedule; latency runs from when a file was due to when
  * its answer batch (or its ingest maintenance record) is committed. */
final class AnnStream extends Workload {
  val name = "ann_stream"
  val baseN = 30000
  val dim = 64
  val comps = 32
  val k = 10
  val nprobe = 8
  val queriesPerFile = 32
  val queryPeriodMs = 250
  val appendRows = 2000
  val appendPeriodMs = 2500
  val compactEvery = 2
  val recallFloor = 0.8
  val recallSample = 4 // query files checked against brute force

  private var seed = 0L
  private var input: File = _
  private var base: Array[Array[Double]] = _
  private var appendCentres: Array[Array[Double]] = _
  private var baseCentres: Array[Array[Double]] = _

  private var spark: SparkSession = _
  private var dir: File = _
  private var serveQ: StreamingQuery = _
  private var ingestQ: StreamingQuery = _
  private val opsBuf = mutable.ArrayBuffer.empty[OpRec]
  private val failures = mutable.ArrayBuffer.empty[String]
  // qid -> batch ids that answered it, and the answers
  private val answeredIn = mutable.Map.empty[Long, mutable.Set[Long]]
  private val answers = mutable.Map.empty[Long, Seq[(Long, Double)]]
  private val batchDone = mutable.Map.empty[Long, Double] // batch id -> seen at
  private val batchStats = mutable.ArrayBuffer.empty[(Double, Long, Long, Long)] // seen, wall, queries, widen
  private val ingestDone = mutable.Map.empty[Long, (Double, Seq[String], String, Long)]
  private val queryFiles = mutable.ArrayBuffer.empty[(Int, Double, Seq[Long])] // file no, due, qids
  private val appendFiles = mutable.ArrayBuffer.empty[(Int, Double, String)]
  private val selfQueries = mutable.ArrayBuffer.empty[(Long, Long, Double)] // qid, planted id, due
  private val queryVecs = mutable.Map.empty[Long, Array[Double]]
  private var appended = 0L
  private var lateMax = 0.0
  private val lock = new Object

  def sizes: Seq[(String, Long)] = Seq("vectors" -> baseN.toLong, "dim" -> dim.toLong,
    "queries_per_file" -> queriesPerFile.toLong, "query_period_ms" -> queryPeriodMs.toLong,
    "append_rows" -> appendRows.toLong, "append_period_ms" -> appendPeriodMs.toLong)

  private def unit(rnd: java.util.SplittableRandom): Array[Double] = {
    val v = Array.fill(dim)(Geo.gauss(rnd)); val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def near(rnd: java.util.SplittableRandom, c: Array[Double]): Array[Double] =
    c.map(x => math.rint((x + 0.6 * Geo.gauss(rnd) / math.sqrt(dim)) * 1e6) / 1e6)

  private def vecJson(v: Array[Double]): String = v.map(x => f"$x%.6f").mkString("[", ",", "]")

  def generate(dir: File, seed: Long): Unit = {
    this.seed = seed; input = dir
    val rnd = new java.util.SplittableRandom(seed * 15485863 + 3)
    baseCentres = Array.fill(comps)(unit(rnd))
    appendCentres = Array.fill(8)(unit(rnd))
    base = Array.fill(baseN)(near(rnd, baseCentres(rnd.nextInt(comps))))
    val w = new java.io.BufferedWriter(new java.io.FileWriter(new File(dir, "base.jsonl")), 1 << 20)
    try base.zipWithIndex.foreach { case (v, i) => w.write(s"""{"id":$i,"vec":${vecJson(v)}}\n""") }
    finally w.close()
  }

  private def rnd(salt: Long) = new java.util.SplittableRandom(seed * 7 + salt)

  def setUp(spark: SparkSession, rec: Option[Recorder], rep: Int): Unit = {
    this.spark = spark
    lock.synchronized {
      Seq(answeredIn, answers, batchDone, ingestDone, queryVecs).foreach(_.clear())
      Seq(batchStats, queryFiles, appendFiles, selfQueries).foreach(_.clear())
    }
    dir = new File(input.getParentFile, s"ann-$rep")
    Seq("queries", "corpus", "answers").foreach(d => new File(dir, d).mkdirs())
    val index = new File(dir, "index").getAbsolutePath
    val df = DataStoreIO.read(spark, new File(input, "base.jsonl").getAbsolutePath)
    graft.llm.Similarity.ivfBuild(df, "id", "vec", index, kLists = 16)
    ingestQ = StreamRunner.annIngestJob(spark, path("corpus"), "jsonl", "id", "vec",
      index, "ivf", path("ingest-ckpt"), once = false, compactEvery = compactEvery)
    serveQ = StreamRunner.annServeJob(spark, path("queries"), "jsonl", "qid", "vec",
      index, "ivf", k, Some(nprobe), path("answers"), "jsonl", path("serve-ckpt"), once = false)
    // the cold op: one query file answered
    val r = rnd(rep + 1000)
    val qid = 90000000L + rep
    Main.writeAtomically(new File(dir, "queries"), "warm.jsonl",
      s"""{"qid":$qid,"vec":${vecJson(near(r, baseCentres(0)))}}\n""")
    val deadline = System.currentTimeMillis() + 60000
    while (!lock.synchronized(answeredIn.contains(qid)) && System.currentTimeMillis() < deadline) {
      poll(); Thread.sleep(5)
    }
    if (!lock.synchronized(answeredIn.contains(qid))) failures += "cold query never answered"
  }

  private def path(d: String) = new File(dir, d).getAbsolutePath

  def tearDown(): Unit = {
    Seq(serveQ, ingestQ).filter(_ != null).foreach(q => try q.stop() catch { case _: Exception => () })
    serveQ = null; ingestQ = null
  }

  /** Pick up newly committed answer batches and ingest records. */
  private def poll(): Unit = {
    val now = Clock.nowMs
    val out = new File(dir, "answers")
    Option(out.listFiles()).getOrElse(Array.empty).foreach { b =>
      val id = b.getName.stripPrefix("batch-").toLongOption.getOrElse(-1L)
      if (id >= 0 && !lock.synchronized(batchDone.contains(id)) &&
          new File(b, "_SUCCESS").exists() && new File(b, "_metrics.json").exists() &&
          // the sidecar is written in place: skip it until it is complete
          Main.json.readTree(new File(b, "_metrics.json")).has("legs")) {
        val rows = mutable.ArrayBuffer.empty[(Long, Long, Double)]
        b.listFiles().filter(f => f.getName.startsWith("part-")).foreach { f =>
          val src = scala.io.Source.fromFile(f)
          try src.getLines().filter(_.nonEmpty).foreach { l =>
            val n = Main.json.readTree(l)
            rows += ((n.get("qid").asLong, n.get("id").asLong, n.get("cos").asDouble))
          } finally src.close()
        }
        val m = Main.json.readTree(new File(b, "_metrics.json"))
        var widen = 0L
        Option(m.get("legs")).foreach(legs => for (i <- 0 until legs.size) widen += legs.get(i).path("widened_rounds").asLong)
        lock.synchronized {
          batchDone(id) = now
          batchStats += ((now, m.get("wall_ms").asLong, m.get("queries_served").asLong, widen))
          rows.groupBy(_._1).foreach { case (q, rs) =>
            answeredIn.getOrElseUpdate(q, mutable.Set.empty) += id
            answers(q) = rs.map(r => (r._2, r._3)).toSeq
          }
        }
      }
    }
    val maint = new File(dir, "ingest-ckpt/maintenance")
    Option(maint.listFiles()).getOrElse(Array.empty).foreach { f =>
      val id = f.getName.stripPrefix("batch-").stripSuffix(".json").toLongOption.getOrElse(-1L)
      if (id >= 0 && !lock.synchronized(ingestDone.contains(id))) {
        val m = Main.json.readTree(f)
        val src = new File(dir, s"ingest-ckpt/sources/0/$id")
        val files = if (!src.exists()) Nil else {
          val s = scala.io.Source.fromFile(src)
          try s.getLines().filter(_.startsWith("{")).map(l =>
            new File(new java.net.URI(Main.json.readTree(l).get("path").asText)).getName).toList
          finally s.close()
        }
        val action = Option(m.get("action")).map(_.asText).getOrElse("none")
        val actionMs = Option(m.get("action_ms")).map(_.asLong).getOrElse(0L)
        lock.synchronized { ingestDone(id) = (now, files, action, actionMs) }
        files.foreach(fn => plantSelfQuery(fn))
      }
    }
  }

  /** Once an append is acknowledged, query one of its vectors: it must
    * come back as its own nearest neighbour (acknowledged writes are
    * readable). */
  private def plantSelfQuery(fileName: String): Unit = {
    val n = fileName.stripPrefix("c").stripSuffix(".jsonl").toIntOption.getOrElse(return)
    val r = rnd(500000 + n)
    val v = appendVec(r, n, 0)
    val qid = 10000000L + n
    val pid = appendId(n, 0)
    val due = Clock.nowMs
    Main.writeAtomically(new File(dir, "queries"), s"self$n.jsonl", s"""{"qid":$qid,"vec":${vecJson(v)}}\n""")
    lock.synchronized { selfQueries += ((qid, pid, due)); queryVecs(qid) = v }
  }

  private def appendId(file: Int, j: Int): Long = 1000000000L + file.toLong * 100000 + j
  private def appendVec(r: java.util.SplittableRandom, file: Int, j: Int): Array[Double] =
    near(r, appendCentres((file + j) % appendCentres.length))

  def measure(seconds: Double, rec: Option[Recorder]): Unit = {
    val t0 = Clock.nowMs
    val end = t0 + seconds * 1000
    var nq = 0; var na = 0
    while (Clock.nowMs < end) {
      val dueQ = t0 + nq * queryPeriodMs
      val dueA = t0 + (na + 1) * appendPeriodMs
      val due = math.min(dueQ, dueA)
      while (Clock.nowMs < due) { poll(); Thread.sleep(2) }
      if (due < end) {
        lateMax = math.max(lateMax, Clock.nowMs - due)
        if (dueQ <= dueA) {
          val r = rnd(nq + 1)
          val qs = (0 until queriesPerFile).map { j =>
            val qid = (nq + 1).toLong * 1000 + j
            val v = near(r, baseCentres(r.nextInt(comps)))
            if (nq < recallSample) queryVecs(qid) = v
            qid -> v
          }
          Main.writeAtomically(new File(dir, "queries"), s"q$nq.jsonl",
            qs.map { case (q, v) => s"""{"qid":$q,"vec":${vecJson(v)}}""" }.mkString("", "\n", "\n"))
          lock.synchronized { queryFiles += ((nq, dueQ, qs.map(_._1))) }
          nq += 1
        } else {
          val r = rnd(500000 + na)
          val body = (0 until appendRows).map { j =>
            s"""{"id":${appendId(na, j)},"vec":${vecJson(appendVec(r, na, j))}}"""
          }.mkString("", "\n", "\n")
          Main.writeAtomically(new File(dir, "corpus"), s"c$na.jsonl", body)
          lock.synchronized { appendFiles += ((na, dueA, s"c$na.jsonl")) }
          appended += appendRows
          na += 1
        }
      }
    }
  }

  override def finish(): Unit = {
    // drain: wait for every issued query file, append and self-query
    val deadline = System.currentTimeMillis() + 20000
    def pending = lock.synchronized {
      queryFiles.exists(_._3.exists(q => !answeredIn.contains(q))) ||
        appendFiles.exists(a => !ingestDone.values.exists(_._2.contains(a._3))) ||
        selfQueries.exists(s => !answeredIn.contains(s._1))
    }
    while (pending && System.currentTimeMillis() < deadline) { poll(); Thread.sleep(5) }
    tearDown()
    checkAll()
  }

  private def checkAll(): Unit = lock.synchronized {
    opsBuf.clear()
    var id = 0
    queryFiles.foreach { case (n, due, qids) =>
      id += 1
      val seen = qids.flatMap(q => answeredIn.get(q).map(_.toSeq).getOrElse(Nil))
      val once = qids.forall(q => answeredIn.get(q).exists(_.size == 1) &&
        answers(q).size == k)
      val doneAt = if (!once) Double.NaN else seen.map(batchDone).max
      if (!once) println(s"[perfbench] query file q$n: not every qid answered exactly once with k rows")
      opsBuf += OpRec(id, "query", Iv(due, if (once) doneAt else due), once, rowsOut = qids.size.toLong * k)
    }
    appendFiles.foreach { case (n, due, fn) =>
      id += 1
      val hit = ingestDone.values.filter(_._2.contains(fn)).map(_._1)
      if (hit.isEmpty) println(s"[perfbench] corpus file $fn: append never acknowledged")
      opsBuf += OpRec(id, "append", Iv(due, hit.headOption.getOrElse(due)), hit.nonEmpty)
    }
    selfQueries.foreach { case (qid, pid, due) =>
      id += 1
      val ans = answers.getOrElse(qid, Nil)
      val ok = ans.exists { case (i, c) => i == pid && c >= 0.9999 }
      if (!ok) println(s"[perfbench] self-query $qid: planted id $pid not returned at cos 1")
      opsBuf += OpRec(id, "selfq", Iv(due, answeredIn.get(qid).flatMap(_.headOption).map(batchDone).getOrElse(due)), ok)
    }
    // recall@k of the sampled query files against brute force over the base
    val sampled = queryFiles.take(recallSample).flatMap(_._3).filter(answers.contains)
    val recall = if (sampled.isEmpty) 0.0 else sampled.map { q =>
      val v = queryVecs(q)
      val truth = topK(v)
      answers(q).map(_._1).count(truth.contains).toDouble / k
    }.sum / sampled.size
    recallSeen = recall
    if (recall < recallFloor) failures += f"recall@$k $recall%.3f below floor $recallFloor"
  }

  private var recallSeen = 0.0

  private def topK(q: Array[Double]): Set[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    base.indices.map { i =>
      val v = base(i); var d = 0.0; var n = 0.0; var j = 0
      while (j < dim) { d += v(j) * q(j); n += v(j) * v(j); j += 1 }
      (i.toLong, d / (math.sqrt(n) * qn))
    }.sortBy(-_._2).take(k).map(_._1).toSet
  }

  def ops: Seq[OpRec] = opsBuf.toSeq
  override def latencyOps: Seq[OpRec] = opsBuf.filter(_.kind == "query").toSeq
  override def extraFailures: Seq[String] = failures.toSeq
  def diskBytes: Long = Main.dirBytes(new File(dir, "index"))

  def e2e(windowS: Double): Seq[(String, Double, String)] = {
    val q = ops.filter(o => o.kind == "query" && o.ok).map(_.ms)
    val a = ops.filter(o => o.kind == "append" && o.ok).map(_.ms)
    Seq(("query_ms_p50", Main.median(q), "ms"), ("query_ms_p95", Main.pct(q, 0.95), "ms"),
      ("append_ms_p50", Main.median(a), "ms"),
      ("disk_bytes_per_row", diskBytes.toDouble / (baseN + appended), "B/row"),
      (s"recall_at_$k", recallSeen, "ratio"), ("generator_late_ms_max", lateMax, "ms"),
      ("query_files", q.size.toDouble, "count"), ("appends", a.size.toDouble, "count"))
  }

  override def layers(rec: Recorder, window: Iv): Map[String, Double] = lock.synchronized {
    val bs = batchStats.filter(b => b._1 >= window.start)
    val qLat = ops.filter(o => o.kind == "query" && o.ok).map(_.ms)
    val batchMs = if (bs.isEmpty) 0.0 else bs.map(_._2).sum.toDouble / bs.size
    val (_, tasks, _, _, _) = rec.snapshot
    val inBytes = tasks.filter(t => t.iv.start >= window.start && t.iv.start <= window.end).map(_.inBytes).sum
    val nQueries = math.max(1, queryFiles.size * queriesPerFile)
    val compacts = ingestDone.values.filter(_._3 == "compact")
    val idx = new File(dir, "index")
    def files(f: File): Int = if (f.isFile) 1 else Option(f.listFiles()).map(_.map(files).sum).getOrElse(0)
    Map("streaming.batch_ms" -> batchMs,
      "streaming.queries_per_batch" -> (if (bs.isEmpty) 0.0 else bs.map(_._3).sum.toDouble / bs.size),
      "streaming.queue_ms" -> (if (qLat.isEmpty) 0.0 else qLat.sum / qLat.size - batchMs),
      "llm.probe_input_mb" -> inBytes / 1e6 / nQueries,
      "llm.index_files" -> files(idx).toDouble,
      "llm.compact_ms" -> (if (compacts.isEmpty) 0.0 else compacts.map(_._4).sum.toDouble / compacts.size),
      "llm.widen_rounds" -> (if (bs.isEmpty) 0.0 else bs.map(_._4).sum.toDouble / bs.size))
  }
}
