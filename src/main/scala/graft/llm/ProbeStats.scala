package graft.llm

/** Per-batch probe telemetry for the serving jobs — the observability a
  * 100-TB operator tunes `nprobe` / `minCandidates` / `minCos` from.
  *
  * The probes ([[Ann.probe]] for ivf | lsh | ivfpq,
  * [[Retrieval.probe]] for bm25)
  * RECORD one [[ProbeStats.Leg]] per probe PASS — a batch larger than
  * the probe's `chunkSize` (256) chunk-recurses and records one leg
  * per chunk, so sum `queries` across legs (never count legs) to
  * recover the query volume. Each leg carries the width the pass
  * started at, the width they actually reached, and how many widening
  * rounds the filtered probes burned getting there (a persistently
  * high `widenedRounds` under a selective filter is the signal to
  * raise the starting `nprobe`; a `widthReached` pinned at kLists says
  * the filter is too selective for pruned serving at all).
  *
  * Collection is OPT-IN and thread-local: probes record only between a
  * [[begin]]/[[end]] pair on the SAME thread (the foreachBatch body of
  * a serving job — micro-batches execute their driver-side probe calls
  * synchronously on one thread), so ad-hoc probe calls pay a null
  * check and nothing else, and two serving jobs on different threads
  * never interleave legs. Row-scan counts are deliberately NOT here:
  * Spark's own task metrics (input records per stage, visible in the
  * UI and the metrics system) already report them with executor-grade
  * accuracy, and double-counting them driver-side would mislead.
  *
  * The serving jobs render the legs plus their query-extraction
  * counters into a `_metrics.json` sidecar next to each answer batch
  * ([[graft.streaming.StreamRunner.writeBatchMetrics]]) — underscore-
  * prefixed, so parquet/json readers of the answer dir skip it. */
object ProbeStats {

  /** One probe call's telemetry: `op` names the probe family
    * (ivf | lsh | ivfpq | bm25, suffixed `_filtered` / `_range` where
    * applicable), widths are in the family's own unit (nprobe lists for
    * ivf/ivfpq, Hamming radius for lsh, pbands touched for bm25). */
  final case class Leg(op: String, queries: Int, widthStart: Int,
                       widthReached: Int, widenedRounds: Int)

  private val tl = new ThreadLocal[scala.collection.mutable.ArrayBuffer[Leg]]()

  /** Start collecting on this thread (resets any prior legs). */
  def begin(): Unit =
    tl.set(scala.collection.mutable.ArrayBuffer.empty[Leg])

  /** Record one probe leg — a no-op unless [[begin]] is active on this
    * thread, so library probe calls outside a serving job cost nothing. */
  def record(op: String, queries: Int, widthStart: Int, widthReached: Int,
             widenedRounds: Int): Unit = {
    val buf = tl.get()
    if (buf != null) {
      buf += Leg(op, queries, widthStart, widthReached, widenedRounds)
      ()
    }
  }

  /** Stop collecting and return the recorded legs (empty if none). */
  def end(): Seq[Leg] = {
    val buf = tl.get()
    tl.remove()
    if (buf == null) Nil else buf.toSeq
  }
}
