package graft
import graft.util.Sessions
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional args = query names to bench (local iteration); the driver
    // runs with no args = the full board
    val only = args.toSet
    val cpus = Sessions.cpus(32)
    val spark = Sessions.create("graft-bench", Sessions.master(32))
    spark.sparkContext.setLogLevel("WARN")
    // warmup: JIT + codegen + parquet footer/schema caches for every
    // table, so per-query numbers aren't dominated by first-read costs
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $t failed: ${e.getMessage}") }
    }
    // two passes per query: the cold pass includes DFL parse + plan
    // compile + codegen (the methodology of earlier rounds — `value`
    // stays that number for round-over-round comparability); the warm
    // pass re-plans the same query with JIT/codegen caches hot, isolating
    // execution cost from one-time compile overhead
    def pass(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.isEmpty || only(name) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      } // stays a name-sorted Seq so the emitted JSON is deterministic
    val cold = pass()
    // warm = per-query MEDIAN of three back-to-back passes: single-pass
    // warm numbers swung ±15-25% with machine load, making round-over-
    // round deltas unattributable; the median is robust to one loaded
    // pass. Cold stays the single first pass for round comparability.
    val warmPasses = Seq.fill(3)(pass())
    val warm = warmPasses.head.map(_._1).map { name =>
      val ts = warmPasses.map(_.toMap.apply(name)).sorted
      name -> ts(ts.length / 2)
    }
    // per-query MIN across the warm passes too: machine load only ever
    // ADDS time, so the min is the stable statistic for round-over-round
    // regression attribution when whole runs land on differently-loaded
    // machines; the median stays the honest "typical pass" number
    val warmMin = warmPasses.head.map(_._1).map { name =>
      name -> warmPasses.map(_.toMap.apply(name)).min
    }
    def js(results: Seq[(String, Double)]): String =
      results.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val coldTotal = cold.map(_._2).sum
    val warmTotal = warm.map(_._2).sum
    val warmMinTotal = warmMin.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$coldTotal,"unit":"sec","queries":${js(cold)},"sf":"$sfDir","warm_total":$warmTotal,"warm_queries":${js(warm)},"warm_passes":3,"warm_min_total":$warmMinTotal,"warm_min_queries":${js(warmMin)}}"""
    // stop Spark BEFORE emitting the record so its shutdown logging can't
    // land after (and a tail capture never truncates) the JSON line; also
    // persist to a file so the record survives any stdout clipping
    spark.stop()
    try java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/bench.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] /tmp/bench.json write failed: ${e.getMessage}") }
    // the driver's artifact capture keeps only the output TAIL, which has
    // truncated away cold totals in past rounds — persist the UNTRUNCATED
    // record into the repo as BENCH_SUMMARY_r{N}_c{cpus}.json (N = current
    // round, inferred from the committed per-round boards — `round`; the
    // core count qualifies the name so a low-core scaling run can never
    // clobber the round's full-core board — in round 21 the driver's
    // 8-core run overwrote the 32-core board under one name) so every
    // round's full board is recoverable. Full-board runs only: a filtered
    // local iteration must not overwrite the round's artifact.
    var detail = "/tmp/bench.json"
    if (only.isEmpty) {
      try {
        val repo = new java.io.File(
          sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"))
        val round = Bench.round(
          Option(repo.list()).getOrElse(Array.empty[String]).toSeq)
        val name = s"BENCH_SUMMARY_r${round}_c$cpus.json"
        java.nio.file.Files.write(
          repo.toPath.resolve(name),
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        detail = name
      } catch { case e: Throwable =>
        System.err.println(s"[bench] summary write failed: ${e.getMessage}") }
    }
    println(line)
    // the driver's tail capture keeps only the LAST ~2000 characters of
    // stdout, so the full record above (≈15 KB at 279 queries) has parsed
    // as null since round 20 — its FRONT (metric/value) is what gets cut.
    // Emit a compact totals-only record as the FINAL line so the captured
    // tail always holds one complete, parseable JSON line; the per-query
    // detail lives untruncated in `detail`. Same values, same methodology
    // — this is a measurement-REPORTING fix only (round-21 verdict #2).
    println(s"""{"metric":"total","value":$coldTotal,"unit":"sec","sf":"$sfDir","cpus":$cpus,"warm_total":$warmTotal,"warm_min_total":$warmMinTotal,"n":${cold.size},"detail":"$detail"}""")
  }

  /** The round a full board belongs to, from a repo listing: one past the
    * last committed board `BENCH_rNN.json`. Only boards count — a round's
    * CORRECTNESS/VERDICT files can land before its board runs (round 22's
    * CORRECTNESS_r22.json did, and its board was named r23). */
  def round(fileNames: Seq[String]): Int = {
    val board = "^BENCH_r(\\d+)\\.json$".r
    val rounds = fileNames.flatMap(board.findFirstMatchIn(_).map(_.group(1).toInt))
    if (rounds.isEmpty) 0 else rounds.max + 1
  }
}
