package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, row_number}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType,
  StringType, StructField, StructType}
import graft.dfl.DflFrame
import graft.llm.{Ann, Retrieval}

/** Batch/stream parity on ONE logical plan.
  *
  * The reference's `--stream` flag switches the SAME DFL pipeline from
  * whole-dataset evaluation to record-at-a-time evaluation over a line
  * channel (reference: cli/process.go:656-851, shared processObject at
  * 114-127). The Spark-native analogue: the DFL source compiles once and
  * applies identically to a batch `DataFrame` or a Structured Streaming
  * `DataFrame` — parity holds by construction because both run the same
  * compiled Column plan.
  *
  * Streamable formats are csv/tsv/jsonl only, enforced like the reference
  * (config/Input.go:30-32). Dataset-level DFL stages that need global
  * state (sort, limit, set, len, bbox) are rejected in stream mode —
  * record-at-a-time semantics, same as the reference; hist/group become
  * windowless streaming aggregations in update mode if needed later.
  */
object StreamRunner {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  val streamableFormats: Set[String] = Set("csv", "tsv", "jsonl")

  private val unstreamableFns = Set("sort", "limit", "set", "len", "bbox",
    // the DFL LLM dataset stages need whole-dataset context (self-joins /
    // index builds); their streaming analogues are the explicit
    // streamingDedup/streamingNearDedup/streamingEmbeddingDedup operators
    "dedup", "nearDedup", "nearDupPairs", "nearDupClusters",
    "nearDedupClusters", "dedupAgainst", "dupPairsAgainst", "diff", "pool",
    "freqItems", "join", "scale",
    "annTopK", "annTopKBatch", "annRange",
    "annRangeBatch", "annTopKFiltered", "mmr", "quantiles", "decontam",
    "decontamBloom", "decontamScrub", "contamHits",
    // packing needs per-bucket windows over the whole corpus; lmScore,
    // windowDups, vocab, and tfidf train/count over the whole corpus
    // (streamingContamFilter is decontamBloom's explicit streaming
    // analogue, like streamingDedup for dedup)
    // mix derives per-domain thresholds from whole-dataset counts
    // dsir estimates source-LM bucket counts over the whole corpus
    "pack", "shard", "lmScore", "windowDups", "dedupSpans", "vocab", "tfidf", "mix",
    "dsir", "dsirScore",
    // cdcPairs self-joins the corpus' chunk table; sourceFilter derives
    // its blocklist from whole-corpus per-source stats (cdcChunks is
    // row-local and therefore deliberately NOT fenced)
    // imageDedup self-joins the banded perceptual-hash table
    "cdcPairs", "cdcScrub", "sourceFilter", "imageDedup", "imageDedupAgainst",
    // bm25 trains corpus df/avgdl statistics; hybrid builds/probes a
    // corpus index and fuses whole-corpus runs (serve-bm25/serve-ann
    // are the streaming serving surfaces); lineDedup's keep decision
    // is whole-corpus
    "bm25", "hybrid", "hybridFiltered", "rankEval", "lineDedup",
    // the index-probe stages answer one frozen query against a
    // persistent index — the streaming analogue is the serve-ann /
    // serve-bm25 / serve-hybrid query-stream jobs
    "annProbe", "bm25Probe", "hybridProbe", "annProbeBatch",
    "bm25ProbeBatch", "annRangeProbe", "annProbeFiltered",
    // temporal stages need whole-dataset windows (sessionize's explicit
    // streaming analogue is streamingSessions; asof's interval-set
    // analogue is streamingIntervalJoin)
    "sessionize", "cap", "asof", "topk", "rolling", "tokenize", "profile")

  def validateStreamable(format: String, dflSrc: String): Unit = {
    require(streamableFormats(format),
      s"format '$format' is not streamable (streamable: ${streamableFormats.mkString(", ")})")
    // an empty pipeline is a pure pass-through (e.g. `--stream
    // --stream-sessions` with no DFL stages): nothing to inspect
    if (dflSrc.trim.isEmpty) return
    // inspect the parsed stages: only DATASET-level uses of the global
    // operators are unstreamable — row-level len(@name)/set(@tags) inside
    // a map expression are fine
    import graft.dfl.Node
    val stages = graft.dfl.Parser.parse(dflSrc) match {
      case Node.Pipe(ss) => ss
      case single        => List(single)
    }
    def datasetUse(n: Node): Option[String] = n match {
      case Node.FunCall(name, Node.Attr("") :: _) if unstreamableFns(name) => Some(name)
      // the DICT-ASSEMBLY stage ({rows: @} / {n: len(@)}) compiles to a
      // whole-dataset collect_list aggregation (DflFrame.assembleDict) —
      // unbounded state on a stream, fenced like the named operators
      case d: Node.DictLit if d.entries.exists {
          case (_, Node.Attr(""))                            => true
          case (_, Node.FunCall("len", List(Node.Attr("")))) => true
          case _                                             => false
        } => Some("dataset-assembly dict literal")
      case other => Node.childrenOf(other).flatMap(datasetUse).headOption
    }
    stages.flatMap(datasetUse).headOption.foreach { f =>
      throw new IllegalArgumentException(
        s"dataset operator $f requires whole-dataset context; not valid with --stream")
    }
  }

  /** Open a streaming DataFrame over a directory of jsonl/csv files.
    * Schema comes from a one-off batch sample read (streams need explicit
    * schemas). */
  def readStream(spark: SparkSession, dir: String, format: String,
                 schema: Option[StructType] = None): DataFrame = {
    val sch = schema.getOrElse {
      format match {
        case "jsonl"       => spark.read.json(dir).schema
        case "parquet"     => spark.read.parquet(dir).schema
        case "csv" | "tsv" => spark.read.option("header", true)
          .option("sep", if (format == "tsv") "\t" else ",")
          .option("inferSchema", true).csv(dir).schema
      }
    }
    format match {
      case "jsonl"   => spark.readStream.schema(sch).json(dir)
      case "parquet" => spark.readStream.schema(sch).parquet(dir)
      case "csv" | "tsv" => spark.readStream.schema(sch)
        .option("header", true)
        .option("sep", if (format == "tsv") "\t" else ",").csv(dir)
    }
  }

  /** Apply a DFL pipeline to a streaming DataFrame (same compile path as
    * batch — DflFrame.pipeline). */
  def transform(stream: DataFrame, dflSrc: String,
                vars: Map[String, Any] = Map.empty): DataFrame =
    DflFrame.pipeline(stream, dflSrc, vars)

  /** Run the stream to completion over currently-available data and
    * return the collected output (test/CLI helper; long-running jobs use
    * writeStream directly). */
  def runOnce(spark: SparkSession, dir: String, format: String,
              dflSrc: String, vars: Map[String, Any] = Map.empty,
              pre: DataFrame => DataFrame = identity,
              post: DataFrame => DataFrame = identity): DataFrame = {
    validateStreamable(format, dflSrc)
    val base = pre(readStream(spark, dir, format))
    val out = post(
      if (dflSrc.trim.isEmpty) base else transform(base, dflSrc, vars))
    // output mode from the PLAN: hist/group are deliberately streamable
    // (they aggregate), but an un-watermarked streaming aggregation is
    // illegal in append mode — run those in complete mode (the whole
    // result per trigger, the batch-parity shape) instead of dying with
    // an AnalysisException after validation passed
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark}
    val analyzed = out.queryExecution.analyzed
    val aggNoWm =
      analyzed.collectFirst { case a: Aggregate => a }.isDefined &&
        analyzed.collectFirst { case w: EventTimeWatermark => w }.isEmpty
    collectStream(out, if (aggNoWm) "complete" else "append")
  }

  /** Event-time windowed histogram — the streaming shape of the batch
    * `hist` dataset stage: a DFL key expression counted per tumbling
    * window, with a watermark bounding state (late rows beyond the
    * watermark are dropped and window state is freed — at 100 TB/day the
    * state store only ever holds the open windows). */
  def windowedHist(stream: DataFrame, timeCol: String, dflKey: String,
                   window: String, watermark: String): DataFrame = {
    val marked = stream.withWatermark(timeCol, watermark)
    val key = DflFrame.predicate(marked, dflKey)
    marked
      .groupBy(org.apache.spark.sql.functions.window(col(timeCol), window), key.as("key"))
      .count()
      .select(col("window.start").as("window_start"), col("key"), col("count"))
  }

  /** Windowed streaming heavy hitters: per event-time window, the
    * Misra–Gries summary of `itemCol` ([[graft.functions.FreqItemsAgg]])
    * unpivoted to (window_start, pos, item, cnt) — the "what's trending
    * this hour" stream without an unbounded per-item state store. The
    * aggregate's buffer is the watermark-bounded window state, ≤
    * capacity counters per open window; partials merge under the
    * mergeable-summaries rule, so micro-batch order never changes the
    * guarantee (and in the ≤capacity-distinct regime the counts are
    * exact, as in batch). Append-mode: a window's summary emits once the
    * watermark passes its end. */
  def streamingTopItems(stream: DataFrame, itemCol: String, timeCol: String,
                        window: String, watermark: String,
                        capacity: Int = 64): DataFrame =
    stream.withWatermark(timeCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(timeCol), window))
      .agg(graft.functions.FreqF.freqItems(col(itemCol), capacity).as("hh"))
      .select(col("window.start").as("window_start"),
        org.apache.spark.sql.functions.posexplode(col("hh")).as(Seq("pos", "e")))
      .select(col("window_start"), col("pos"),
        col("e.item").as("item"), col("e.cnt").as("cnt"))

  /** Windowed streaming QUANTILES: per event-time window, the mergeable
    * quantile sketch of `valueCol` ([[graft.functions.QuantileSketchAgg]])
    * answered as `(window_start, n, p25, p50, p90)` — "what does this
    * hour's latency/length distribution look like" with
    * watermark-bounded state (≤ k·levels doubles per open window).
    * Partials merge weight-preservingly, so micro-batch slicing never
    * changes `n`, and while a window holds under `k` values the
    * quantiles are EXACT order statistics, as in batch — the same
    * regime contract as [[streamingTopItems]]' exactness. Append-mode:
    * a window emits once the watermark passes its end. */
  def streamingQuantiles(stream: DataFrame, valueCol: String,
                         timeCol: String, window: String, watermark: String,
                         k: Int = 512): DataFrame =
    stream.withWatermark(timeCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(timeCol), window))
      .agg(graft.functions.QSketchF.quantileSketch(
        col(valueCol).cast("double"), k).as("sketch"))
      .select(col("window.start").as("window_start"),
        graft.util.Sketches.qsStats(col("sketch"),
          Seq(0.25, 0.5, 0.9)).as("__s"))
      .select(col("window_start"), col("__s.n").as("n"),
        col("__s.q")(0).as("p25"), col("__s.q")(1).as("p50"),
        col("__s.q")(2).as("p90"))

  /** Event-time SESSION windows — the streaming twin of
    * [[graft.temporal.Temporal.sessionStats]]: per-key sessions that
    * break after `gap` of inactivity, emitting the same
    * `(key, session_start_us, session_end_us, n_events, sum_value)`
    * shape. Built on Structured Streaming's native `session_window`
    * (merging-window state store), so state is bounded by the watermark:
    * a session closes — and frees its store entry — once the watermark
    * passes its end. One boundary difference vs the batch twin,
    * inherent to session_window's half-open `[start, last + gap)`
    * windows: an inter-event gap EXACTLY equal to `gap` merges in batch
    * (`diff <= gap`) but splits here (`next < last + gap`); every other
    * gap agrees, which the parity spec pins on boundary-free data. */
  def streamingSessions(stream: DataFrame, keyCol: String, timeCol: String,
                        gap: String, watermark: String,
                        valueCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{session_window, unix_micros,
      count, max, round, sum}
    stream.withWatermark(timeCol, watermark)
      .groupBy(session_window(col(timeCol), gap), col(keyCol))
      .agg(max(unix_micros(col(timeCol))).as("session_end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"))
      .select(col(keyCol),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("session_end_us"), col("n_events"), col("sum_value"))
  }

  /** STREAM-STREAM event-time interval join — the streaming sibling of
    * [[graft.temporal.Temporal.asofJoin]]'s attribution use-case: each
    * left event joins every right event on the same key whose timestamp
    * lies in `[left.ts - windowBack, left.ts]` (inclusive; e.g. "clicks
    * attributed to purchases in the prior 24 h"). A true streaming AS-OF
    * (latest-only) is not expressible with bounded state — "latest so
    * far" can be overturned by a late row until the watermark closes, so
    * the honest streaming contract is the interval SET join; take the
    * max-ts row downstream once the batch lands if latest-only is needed.
    *
    * Built on Spark's stream-stream inner join: BOTH sides carry
    * watermarks and the join condition bounds right.ts relative to
    * left.ts in both directions, which is exactly what lets the state
    * store evict a buffered right row once the watermark passes
    * `right.ts + windowBack` — state is watermark-bounded, the
    * requirement for an unbounded run. Left columns pass through;
    * right's non-key columns come back `prefix`-prefixed. */
  def streamingIntervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                            leftTsCol: String, rightTsCol: String,
                            windowBack: String, watermark: String,
                            prefix: String = "r_"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val rPre = right.withWatermark(rightTsCol, watermark)
    val r = rPre.columns.foldLeft(rPre) { (df, c) =>
      if (c == keyCol) df else df.withColumnRenamed(c, s"$prefix$c")
    }
    val rKey = s"${prefix}__k"
    val joined = l.join(r.withColumnRenamed(keyCol, rKey),
      col(keyCol) === col(rKey) &&
        col(s"$prefix$rightTsCol") <= col(leftTsCol) &&
        col(s"$prefix$rightTsCol") >= org.apache.spark.sql.functions
          .expr(s"$leftTsCol - INTERVAL $windowBack"))
    joined.drop(rKey)
  }

  /** Streaming exact dedup: keep the first record per normalized-text
    * fingerprint within the watermark horizon. `dropDuplicatesWithin
    * Watermark` frees fingerprint state once the watermark passes — the
    * unbounded-stream-safe version of [[graft.llm.Dedup.exact]]. */
  def streamingDedup(stream: DataFrame, textCol: String, timeCol: String,
                     watermark: String): DataFrame =
    stream
      .withColumn("fp", graft.llm.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup dedup: keep the first record per 64-bit SimHash
    * signature within the watermark horizon. Possible only because the
    * signature is a stateless per-row projection
    * ([[graft.functions.SimHashSig]] — no explode/aggregation), so it
    * composes with `dropDuplicatesWithinWatermark` exactly like the
    * exact-fingerprint version: state stays watermark-bounded. Catches
    * near-identical spam the exact fingerprint misses (any permutation or
    * re-spacing of the same token multiset collapses to one signature;
    * small edits usually do too). Null-text records share a null
    * signature and collapse to one, matching [[streamingDedup]]'s
    * null-fingerprint behavior. */
  def streamingNearDedup(stream: DataFrame, textCol: String, timeCol: String,
                         watermark: String): DataFrame =
    stream
      .withColumn("simhash", graft.functions.SketchF.simhashSig(
        graft.llm.TextAnalysis.wsTokens(graft.llm.TextAnalysis.normText(col(textCol)))))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("simhash")

  /** Streaming EMBEDDING near-dedup: keep the first record per `nBits`-bit
    * random-hyperplane sign signature within the watermark horizon — the
    * embedding-family member of the streaming dedup set. Possible for the
    * same reason as [[streamingNearDedup]]: the signature
    * ([[graft.functions.HyperplaneBands]], same fixed-seed family as the
    * batch operators) is a stateless per-row projection, so it composes
    * with `dropDuplicatesWithinWatermark` and state stays
    * watermark-bounded. Semantically the numBands = 1 streaming analog of
    * [[graft.llm.Dedup.cosinePairsBucketed]]'s candidate generation:
    * near-identical embeddings (cosine c) collapse with probability
    * p^nBits, p = 1 − arccos(c)/π (identical vectors always; at 16 bits
    * and c = 0.9999 ≈ 93%) — fewer bits dedup more aggressively.
    * Malformed vectors share a NULL signature and collapse to one,
    * matching the null handling of the text variants. */
  def streamingEmbeddingDedup(stream: DataFrame, vecCol: String, timeCol: String,
                              watermark: String, nBits: Int = 16,
                              dim: Int = 64): DataFrame = {
    val planes = graft.llm.Similarity.hyperplanes(nBits, dim)
    stream
      .withColumn("__vsig", org.apache.spark.sql.functions.element_at(
        graft.functions.HyperplaneF.bands(col(vecCol), 1, nBits, planes), 1))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("__vsig")
      .drop("__vsig")
  }

  /** Streaming MULTI-BAND embedding near-dedup — the OR-of-bands analogue
    * of the batch [[graft.llm.Dedup.cosinePairsBucketed]] candidate
    * generation: the concatenated numBands × bitsPerBand hyperplane
    * signature splits into bands, and a record is dropped iff ANY band
    * matches a previously-kept record inside the watermark horizon — one
    * `dropDuplicatesWithinWatermark` per band, chained (multiple
    * watermark-bounded stateful operators compose in append mode; each
    * band keeps its own watermark-bounded state store). Collapse
    * probability at cosine c is 1−(1−p^bitsPerBand)^numBands with
    * p = 1−arccos(c)/π, vs p^(total bits) for a single band of equal
    * width: at c = 0.99 the 8×24 default collapses ≈ 96% of dup pairs
    * where one 192-bit signature collapses ≈ 0.01% and the single-band
    * 16-bit [[streamingEmbeddingDedup]] ≈ 48% — banding is what extends
    * streaming dedup from the near-identical regime into cosine ≈ 0.99.
    *
    * Unlike the batch path there is NO exact-cosine verify after the
    * band match, so chance collisions FALSE-DROP: against W kept records
    * in the watermark window a random record is dropped with probability
    * ≈ W · numBands / 2^bitsPerBand. Size bitsPerBand ≳ log₂(W) +
    * log₂(numBands) + 8; the 24-bit default is safe to W ≈ 10⁵ kept
    * records per window — widen the bands (not the band count) for
    * bigger windows. (This is also why the batch 16×8 banding must NOT
    * be copied here: 8-bit bands saturate at W > 256 and drop
    * everything.)
    *
    * Dedup semantics sit BETWEEN pure leader clustering and the batch
    * `survivors` (which drops against ALL prior records): a record
    * dropped at band i never registers its REMAINING bands i+1…, but its
    * bands 0…i — processed by the upstream operators before the drop —
    * stay registered, so a later record can be dropped by matching an
    * early band of a non-kept record (a transitive chain the pure
    * leader-clustering reading would keep). All three semantics coincide
    * when dup groups are true cliques — the common case for
    * near-identical embeddings, and what the spec pins. Malformed
    * vectors share NULL bands and collapse to one, like every streaming
    * dedup variant here. */
  def streamingEmbeddingDedupBanded(stream: DataFrame, vecCol: String,
                                    timeCol: String, watermark: String,
                                    numBands: Int = 8, bitsPerBand: Int = 24,
                                    dim: Int = 64): DataFrame = {
    val planes = graft.llm.Similarity.hyperplanes(numBands * bitsPerBand, dim)
    val bandCols = (0 until numBands).map(i => s"__band_$i")
    val sigs = graft.functions.HyperplaneF.bands(
      col(vecCol), numBands, bitsPerBand, planes)
    val withBands = (0 until numBands).foldLeft(
        stream.withColumn("__bands", sigs)) { (df, i) =>
      df.withColumn(bandCols(i),
        org.apache.spark.sql.functions.element_at(col("__bands"), i + 1))
    }.drop("__bands").withWatermark(timeCol, watermark)
    bandCols.foldLeft(withBands)((df, c) => df.dropDuplicatesWithinWatermark(c))
      .drop(bandCols: _*)
  }

  /** Streaming CONSERVATIVE decontamination: drop any streamed document
    * sharing a word `n`-gram with a STATIC benchmark corpus, via a bloom
    * filter built once from the benchmark at plan time (one small batch
    * aggregation before the stream starts) and probed as a stateless
    * per-row projection — no stream state, no watermark, composes with
    * any sink/output mode.
    *
    * CONSERVATIVE: the bloom has no false negatives, so no contaminated
    * document ever passes; a false positive (rate set by `bitsPerItem`,
    * ~2% at 8) may drop a clean document — the safe direction for
    * eval-set hygiene. The batch operators
    * ([[graft.llm.TextAnalysis.decontaminateBloom]]) restore exactness
    * with a verify join; a stream cannot join per-gram without shuffling
    * every gram into stream state, so streaming trades that sliver of
    * recall for statelessness. An EMPTY benchmark keeps every document
    * (the filter lambda's NULL probe is treated as no-match by
    * `array filter`, giving zero surviving grams). */
  def streamingContamFilter(stream: DataFrame, textCol: String,
                            benchmark: DataFrame, benchTextCol: String,
                            n: Int = 8, estBenchGrams: Long = 1L << 20,
                            bitsPerItem: Int = 8): DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.explode
    import graft.llm.TextAnalysis.{normText, wsTokens}
    def grams(c: Column): Column =
      graft.functions.ShingleF.shingleHashes(wsTokens(normText(c)), n)
    val bloomBytes = benchmark
      .select(explode(grams(col(benchTextCol))).as("gram")).distinct()
      .agg(graft.functions.BloomFns.bloomAgg(col("gram"),
        estBenchGrams, estBenchGrams.toLong * bitsPerItem).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bloomBytes == null) stream // empty benchmark: nothing can match
    else {
      // broadcast once before the stream starts; every micro-batch's task
      // plans carry only the handle, not the filter bytes. The probe is
      // one native count call over the gram array — the former
      // size(filter(...)) composition was CodegenFallback per gram on
      // this hot per-row path.
      val bloomBcast = graft.functions.BloomFns.broadcastBloom(
        stream.sparkSession, bloomBytes)
      stream.filter(graft.functions.BloomFns.bloomProbeCount(
        bloomBcast, grams(col(textCol))) === 0)
    }
  }

  /** Streaming CDC ingest filter: drop stream rows sharing more than
    * `maxShared` content-defined CHUNKS with a STATIC reference corpus
    * (the retained training set) — the edit-robust member of the
    * ingest-dedup family: [[streamingDedupAgainst]] catches verbatim and
    * near-token-multiset copies, this catches prefix/insert-edited
    * near-copies whose every whole-document signature changed, because
    * CDC chunk identities re-align one boundary past an edit
    * ([[graft.llm.Cdc]]).
    *
    * STATELESS and CONSERVATIVE, exactly like [[streamingContamFilter]]:
    * the reference corpus's chunk identities build ONE bloom filter at
    * plan time (no false negatives — an edited copy sharing chunks never
    * slips through), probed per row as a single native count over the
    * row's own chunk hashes; a false positive may over-drop at the
    * configured rate. The batch operator
    * ([[graft.llm.Cdc.sharedPairs]]) restores exactness offline. An
    * empty reference keeps everything. */
  def streamingCdcDedupAgainst(stream: DataFrame, textCol: String,
                               ref: DataFrame, refTextCol: String,
                               maxShared: Int = 0, k: Int = 3, d: Int = 8,
                               seed: Long = 7L,
                               estRefChunks: Long = 1L << 20,
                               bitsPerItem: Int = 8): DataFrame = {
    require(maxShared >= 0,
      s"streamingCdcDedupAgainst: maxShared must be >= 0, got $maxShared")
    import org.apache.spark.sql.functions.explode
    import graft.llm.TextAnalysis.{normText, wsTokens}
    def hashes(c: org.apache.spark.sql.Column) =
      graft.functions.CdcF.cdcChunkHashes(wsTokens(normText(c)), k, d, seed)
    val bloomBytes = ref
      .select(explode(hashes(col(refTextCol))).as("h")).distinct()
      .agg(graft.functions.BloomFns.bloomAgg(col("h"),
        estRefChunks, estRefChunks * bitsPerItem).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bloomBytes == null) stream
    else {
      val bloomBcast = graft.functions.BloomFns.broadcastBloom(
        stream.sparkSession, bloomBytes)
      stream.filter(graft.functions.BloomFns.bloomProbeCount(
        bloomBcast, hashes(col(textCol))) <= maxShared)
    }
  }

  /** Streaming LINE scrub against a RETAINED corpus: remove every line
    * of a streamed document whose normalized form exists in the
    * reference's line set — the C4 boilerplate scrub
    * ([[graft.llm.TextAnalysis.dedupLines]]'s decision) applied to a
    * live ingest, where the batch operator's whole-corpus first-
    * occurrence rule cannot run. STATELESS and CONSERVATIVE like its
    * ingest-filter siblings: the reference's 60-bit line identities
    * build ONE bloom at plan time; the scrub itself is a single native
    * row-local [[graft.functions.BloomScrubLines]] pass (no interpreted
    * HOFs). A known boilerplate line never survives; a bloom false
    * positive over-drops a line at the configured rate. Whitespace-only
    * lines pass. An empty reference keeps every line.
    *
    * Returns the stream with `textCol` REPLACED by the scrubbed text
    * plus `(n_lines, n_kept)` audit columns. */
  def streamingLineScrubAgainst(stream: DataFrame, textCol: String,
                                ref: DataFrame, refTextCol: String,
                                sep: String = "\n",
                                estRefLines: Long = 1L << 20,
                                bitsPerItem: Int = 8): DataFrame = {
    require(sep.nonEmpty, "streamingLineScrubAgainst: sep must be non-empty")
    import org.apache.spark.sql.functions.{conv, explode, md5, split, substring}
    import graft.llm.TextAnalysis.normText
    val bloomBytes = ref
      .select(explode(split(col(refTextCol),
        java.util.regex.Pattern.quote(sep))).as("line"))
      .select(normText(col("line")).as("nrm"))
      .filter(col("nrm") =!= "")
      .select(conv(substring(md5(col("nrm")), 1, 15), 16, 10)
        .cast("long").as("h")).distinct()
      .agg(graft.functions.BloomFns.bloomAgg(col("h"),
        estRefLines, estRefLines * bitsPerItem).as("bf"))
      .head().getAs[Array[Byte]](0)
    // a null bloom (empty reference) probes constant-false — kept rows
    // come back verbatim, no special case
    val bloomBcast = graft.functions.BloomFns.broadcastBloom(
      stream.sparkSession, bloomBytes)
    stream
      .withColumn("__scrub", graft.functions.LineScrubF.bloomScrubLines(
        col(textCol), sep, bloomBcast))
      .withColumn(textCol, col("__scrub.clean_text"))
      .withColumn("n_lines", col("__scrub.n_lines"))
      .withColumn("n_kept", col("__scrub.n_kept"))
      .drop("__scrub")
  }

  /** Streaming IMAGE ingest dedup: drop stream rows whose perceptual
    * hash ([[graft.functions.ImageHash64]], dHash default) matches a
    * STATIC reference corpus's — the multimodal member of the ingest
    * family. STATELESS like its siblings: the reference's signatures
    * build ONE bloom at plan time, probed per row by a single native
    * codegen'd hash + bloom call.
    *
    * Contract: HAMMING-0 identity only — which dHash makes broad
    * (byte-identical copies, lossless re-encodes, uniform brightness
    * shifts all hash IDENTICALLY); a mild-JPEG near-dup at hamming 1–3
    * passes the stream and is caught offline by the exact banded
    * operator ([[graft.llm.Dedup.imagePairsAgainst]]). A bloom false
    * positive over-drops at the configured rate; a true copy never
    * slips through. Undecodable payloads have no perceptual identity
    * and PASS (byte-exact dedup covers them); an empty or
    * all-undecodable reference keeps everything. */
  def streamingImageDedupAgainst(stream: DataFrame, payloadCol: String,
                                 ref: DataFrame, refPayloadCol: String,
                                 method: String = "dhash",
                                 estRefImages: Long = 1L << 20,
                                 bitsPerItem: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.array
    import org.apache.spark.sql.types.BinaryType
    def sig(c: Column) = graft.functions.ImageHashF.imageHash64(
      c.cast(BinaryType), method)
    val bloomBytes = ref
      .select(sig(col(refPayloadCol)).as("h"))
      .filter(col("h").isNotNull).distinct()
      .agg(graft.functions.BloomFns.bloomAgg(col("h"),
        estRefImages, estRefImages * bitsPerItem).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bloomBytes == null) stream
    else {
      val bloomBcast = graft.functions.BloomFns.broadcastBloom(
        stream.sparkSession, bloomBytes)
      val s = sig(col(payloadCol))
      stream.filter(s.isNull ||
        graft.functions.BloomFns.bloomProbeCount(bloomBcast, array(s)) === 0)
    }
  }

  /** Streaming DSIR filter: score each row against a FROZEN
    * [[graft.llm.Dsir.fit]] ratio table (train batch-side, serve
    * stream-side — the classify pattern for importance weighting) and
    * keep rows with `dsir ≥ minScore`. STATELESS by construction: the
    * fit table is COMPLETE over all buckets, so it flattens into a
    * dense ≤ buckets-double lookup array and the score is a ROW-LOCAL
    * sum over the row's own grams — no aggregation, which on a stream
    * would accumulate per-doc state across micro-batches forever. Same
    * formula as the batch scorer (Σ over gram OCCURRENCES of the
    * bucket's log-ratio, rounded to 6). Rows with no grams score 0
    * (an empty product of evidence) and pass iff `minScore ≤ 0`. */
  def streamingDsirFilter(stream: DataFrame, idCol: String, textCol: String,
                          ratio: DataFrame, minScore: Double,
                          buckets: Int = 1024, seed: Long = 7L): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.llm.TextAnalysis.{normText, wsTokens}
    val lrByBucket = {
      // the fit table IS the bucket space (Dsir.fit emits one row per
      // bucket off a range spine): serving with a different `buckets`
      // would either crash on out-of-range ids (fit larger) or hash
      // grams into zero-filled slots and SILENTLY mis-score every row
      // (fit smaller) — both fail loudly here instead
      val rows = ratio.select(col("b").cast("int"), col("lr")).collect()
      require(rows.nonEmpty && rows.forall(r =>
        !r.isNullAt(0) && !r.isNullAt(1)),
        "streamingDsirFilter: ratio table has null b/lr cells")
      require(rows.length == buckets,
        s"streamingDsirFilter: the model was fit with ${rows.length} " +
          s"buckets but serving is configured with $buckets — they must " +
          "match (scores hash into the fit's bucket space)")
      val arr = new Array[Double](buckets)
      rows.foreach(r => arr(r.getInt(0)) = r.getDouble(1))
      arr
    }
    // the whole unigram+bigram score is ONE native expression (the lr
    // table rides as a codegen reference object) — the r12 zip_with/
    // aggregate composition was CodegenFallback on this hot per-row path
    val score = graft.functions.DsirF.dsirScore(
      wsTokens(normText(col(textCol))), lrByBucket, seed, buckets)
    stream.filter(score >= minScore)
  }

  /** Streaming CROSS-CORPUS dedup: drop stream rows whose normalized
    * exact fingerprint — or, with `near = true`, 64-bit SimHash
    * signature — already exists in a STATIC reference corpus (the
    * retained training set), the streaming analogue of
    * [[graft.llm.Dedup.exactSurvivorsAgainst]] and the ingest-side
    * companion of the batch `dedupAgainst` stage. A STATELESS
    * stream-static left-anti join: the reference signature set is a
    * static DataFrame (re-read per micro-batch under the stream-static
    * contract; the planner picks broadcast under the threshold and a
    * shuffled join for a data-sized reference), so no state store, no
    * watermark, exactly the semantics of the batch operator.
    * Unlike [[streamingContamFilter]]'s bloom this is EXACT — the join
    * side is the true signature set. Within-stream duplicates are NOT
    * collapsed — compose with [[streamingDedup]] for that. */
  def streamingDedupAgainst(stream: DataFrame, ref: DataFrame,
                            textCol: String, refTextCol: String,
                            near: Boolean = false): DataFrame = {
    def sig(c: Column): Column =
      if (near) graft.functions.SketchF.simhashSig(
        graft.llm.TextAnalysis.wsTokens(graft.llm.TextAnalysis.normText(c)))
      else graft.llm.TextAnalysis.fingerprint(c).cast("string")
    val refSigs = ref.select(sig(col(refTextCol)).as("__rsig")).distinct()
    // NO broadcast hint: a retained corpus's distinct signature set is
    // data-sized — at the 100 TB contract it is tens of GB and a forced
    // broadcast would OOM the driver / hit the broadcast hard limit on
    // every micro-batch. Leave the strategy to the planner: a small
    // reference auto-broadcasts under the threshold, a large one plans
    // the shuffled stream-static equi-join this anti-join supports.
    stream.join(refSigs,
      sig(col(textCol)) === col("__rsig"), "left_anti")
  }

  /** The serving jobs' per-micro-batch query budget: each batch's
    * queries collect to the driver (the small side by design), so a
    * misdelivered FILE — a corpus dropped into the queries dir — must
    * fail loudly after max+1 rows, not OOM the driver. 65 536 queries
    * × a 1 KB vector row ≈ 64 MB: generous for any real query stream,
    * far under driver heap. Override per job when a deployment
    * legitimately batches bigger. */
  val defaultMaxQueriesPerBatch: Int = 65536

  /** The ingest jobs' maintenance cadence counter — APPENDS since the
    * last maintenance slot, persisted as a tiny marker file under the
    * job's checkpoint dir so the cadence survives restarts AND the
    * `--once` cron shape (a fresh job instance per run): an in-closure
    * counter would reset every run and a one-append-per-run deployment
    * would never compact, while the old absolute `batchId % n` never
    * fired before batch n and let EMPTY batches advance the cadence. A
    * replayed batch may increment twice — harmless overcount for a
    * cadence whose slot is itself idempotent. */
  private def readSlotCount(spark: SparkSession, checkpoint: String): Int = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "graft-appends-since-slot")
    val tmp = new org.apache.hadoop.fs.Path(checkpoint,
      "graft-appends-since-slot.tmp")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def readInt(path: org.apache.hadoop.fs.Path): Option[Int] =
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim.toIntOption
        finally in.close()
      }
    // the writer's delete→rename swap has a window where only the tmp
    // file exists (fully written — its close() preceded the delete); a
    // crash there must not reset the cadence, so the reader falls back
    // to the tmp. A torn TMP (crash mid-create) parses to None on
    // whichever path and degrades to 0 — the pre-existing floor.
    readInt(p).orElse(readInt(tmp)).getOrElse(0)
  }

  private def writeSlotCount(spark: SparkSession, checkpoint: String,
                             n: Int): Unit = {
    // temp + rename: a crash mid-`create` would leave a truncated
    // marker that readSlotCount's toIntOption silently resets to 0,
    // stalling the maintenance cadence well past compactEvery. The
    // delete→rename swap itself has a crash window with NO live marker
    // — readSlotCount closes it by falling back to the (fully-written)
    // tmp file, so every crash point resumes at the old or new count.
    val p = new org.apache.hadoop.fs.Path(checkpoint, "graft-appends-since-slot")
    val tmp = new org.apache.hadoop.fs.Path(checkpoint,
      "graft-appends-since-slot.tmp")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(tmp, true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"writeSlotCount: rename $tmp -> $p failed")
  }

  /** Bump the counter after one committed append; true when the cadence
    * reached `compactEvery` (the counter resets — the caller runs its
    * maintenance slot). The read-modify-write is NOT concurrency-safe
    * across jobs: the marker assumes the same single-writer contract the
    * checkpoint dir itself carries (one streaming job per checkpoint) —
    * two jobs sharing one checkpoint already race Spark's own offset
    * log, so the cadence counter inherits that rule rather than adding
    * locking. */
  private def appendOpensSlot(spark: SparkSession, checkpoint: String,
                              compactEvery: Int): Boolean = {
    if (compactEvery <= 0) false
    else {
      val n = readSlotCount(spark, checkpoint) + 1
      val fire = n >= compactEvery
      writeSlotCount(spark, checkpoint, if (fire) 0 else n)
      fire
    }
  }

  /** Query-row field coercions shared by the serving jobs' collect
    * loops — the malformed-row tolerance in one place. */
  private def coerceQidValue(x: Any): Option[Long] = x match {
    // a fractional id would silently merge two queries' answers — skip
    case n: Number if n.doubleValue().isWhole => Some(n.longValue())
    case n: Number                            => None
    case other                                => other.toString.toLongOption
  }

  // shared (readTree is thread-safe); FAIL_ON_TRAILING_TOKENS so a terms
  // string that merely STARTS with a JSON value ("[1] weird query") falls
  // back to the whitespace split instead of silently dropping its tail
  private val termsJson = com.fasterxml.jackson.databind.json.JsonMapper
    .builder()
    .enable(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_TRAILING_TOKENS)
    .build()

  private def coerceTermsValue(x: Any): Option[Seq[String]] = (x match {
    // a jsonl terms field that was a JSON ARRAY arrives as its RAW TEXT
    // under the stream's explicit string schema — parse it back instead
    // of whitespace-splitting raw JSON into garbage tokens. Only a
    // COMPLETE array ('[' … ']', no trailing tokens) takes this path.
    case s: String if s.trim.startsWith("[") && s.trim.endsWith("]") =>
      (try {
        val n = termsJson.readTree(s)
        if (n.isArray)
          // null elements DROP (the parquet path's filter(_ != null)
          // parity) — NullNode.asText would become the bogus term "null"
          Some(Iterator.range(0, n.size).map(n.get)
            .filterNot(_.isNull).map(_.asText).toSeq)
        else None
      } catch { case _: Exception => None })
        .orElse(Some(s.split("\\s+").toSeq))
    case s: String => Some(s.split("\\s+").toSeq)
    case a: scala.collection.Seq[_] =>
      Some(a.iterator.filter(_ != null).map(_.toString).toSeq)
    case _ => None
  }).map(_.filter(_.nonEmpty)).filter(_.nonEmpty)

  private def coerceVecValue(x: Any): Option[Seq[Double]] = x match {
    case a: scala.collection.Seq[_] if !a.contains(null) =>
      // TOTAL coercion: a non-numeric element makes the ROW malformed
      // (skipped with the usual warning) — other.toString.toDouble
      // would throw and kill the serving stream on one bad record
      val parsed = a.iterator.map {
        case n: Number => Some(n.doubleValue())
        case other     => other.toString.toDoubleOption
      }.toSeq
      if (parsed.forall(_.isDefined)) Some(parsed.flatten) else None
    case _ => None
  }

  /** Collect a query micro-batch to the driver, rejecting it when it
    * carries more than `max` rows. The collect is LIMIT-BOUNDED (max+1):
    * a multi-GB file dropped in the queries dir is rejected after reading
    * at most max+1 rows, never scanned end-to-end, and the guard runs no
    * Spark job of its own. */
  private def collectBounded(batch: DataFrame, batchId: Long, max: Int,
                             job: String): Array[Row] = {
    // max+1 would overflow at Int.MaxValue — the natural "disable the
    // guard" override
    val rows =
      (if (max == Int.MaxValue) batch else batch.limit(max + 1)).collect()
    if (rows.length > max) throw new IllegalStateException(
      s"$job: micro-batch $batchId carries more than " +
        s"max-queries-per-batch $max query rows — a query batch collects " +
        "to the driver, so an unbounded file must be rejected, not " +
        "collected; split the input files or raise the limit if intended")
    rows
  }

  /** One serving micro-batch's observability record: how many query
    * rows arrived, how many were actually probed (the rest skipped —
    * malformed, duplicate qid, wrong dim), the wall time of the whole
    * batch (probe + sink), and one [[graft.llm.ProbeStats.Leg]] per
    * probe call (family, width start/reached, widening rounds) — the
    * numbers an operator tunes `nprobe`/`minCandidates`/`minCos` from
    * in production. Row-scan counts are deliberately absent: Spark's
    * task metrics already report them per stage with executor-grade
    * accuracy. */
  final case class ServeBatchMetrics(batchId: Long, queriesSeen: Int,
                                     queriesServed: Int, queriesSkipped: Int,
                                     wallMs: Long,
                                     legs: Seq[graft.llm.ProbeStats.Leg])

  /** Render a [[ServeBatchMetrics]] as the `_metrics.json` sidecar next
    * to an answer batch dir — underscore-prefixed, so parquet/json
    * readers of the answer dir skip it; written AFTER the answer files
    * (an observability sidecar must never gate the answers). */
  private[graft] def writeBatchMetrics(spark: SparkSession, outUri: String,
                                       m: ServeBatchMetrics): Unit = {
    val legsJson = m.legs.map(l =>
      s"""{"op":"${l.op}","queries":${l.queries},""" +
        s""""width_start":${l.widthStart},"width_reached":${l.widthReached},""" +
        s""""widened_rounds":${l.widenedRounds}}""").mkString("[", ",", "]")
    val json =
      s"""{"batch_id":${m.batchId},"queries_seen":${m.queriesSeen},""" +
        s""""queries_served":${m.queriesServed},""" +
        s""""queries_skipped":${m.queriesSkipped},""" +
        s""""wall_ms":${m.wallMs},"legs":$legsJson}"""
    val p = new org.apache.hadoop.fs.Path(
      s"$outUri/batch-${m.batchId}/_metrics.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One ingest micro-batch's maintenance record — the serving jobs'
    * [[ServeBatchMetrics]] counterpart for the APPEND side: how long the
    * append took, whether this batch opened the maintenance slot, the
    * skew the slot measured (ivf/ivfpq with a retrain factor; absent
    * otherwise), which maintenance action ran (`retrain` | `compact` |
    * `none`) and its cost — the numbers an operator tunes
    * `--compact-every` / `--retrain-skew` from in production. */
  final case class IngestBatchMetrics(batchId: Long, appendMs: Long,
                                      slotOpened: Boolean,
                                      skew: Option[Double],
                                      action: String, actionMs: Long,
                                      tombstonesCleared: Long = 0L)

  /** Land an [[IngestBatchMetrics]] as
    * `checkpoint/maintenance/batch-<id>.json` — create-overwrite, so a
    * replayed batch rewrites its own record (idempotent); under the
    * checkpoint (not the index dir) because it describes THIS job's
    * cadence, and an index outlives any one ingest job. Observability
    * only: written after the batch's real work, never gating it. */
  private def writeIngestMetrics(spark: SparkSession, checkpoint: String,
                                 m: IngestBatchMetrics): Unit = {
    // a non-finite skew (NaN/Infinity from a degenerate index) would
    // interpolate as bare NaN — invalid JSON that breaks every
    // downstream parser of the record; emit null for it instead
    val skewJson = m.skew.filter(java.lang.Double.isFinite)
      .map(_.toString).getOrElse("null")
    val json =
      s"""{"batch_id":${m.batchId},"append_ms":${m.appendMs},""" +
        s""""slot_opened":${m.slotOpened},""" +
        s""""skew":$skewJson,""" +
        s""""action":"${m.action}","action_ms":${m.actionMs},""" +
        s""""tombstones_cleared":${m.tombstonesCleared}}"""
    val p = new org.apache.hadoop.fs.Path(
      s"$checkpoint/maintenance/batch-${m.batchId}.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One serving attempt of micro-batch `batchId`, re-run while it fails
    * on a stale read (at most [[staleReadAttempts]] attempts). A
    * maintenance rewrite (compaction / retrain / in-place rebuild)
    * atomically swaps index files UNDER a running serving stream: a
    * probe whose memoized snapshot references the pre-swap files dies
    * mid-scan on FileNotFound, and a re-resolution that lands inside the
    * swap itself finds the index dir momentarily absent (PATH_NOT_FOUND).
    * Both are self-healing — re-resolving the stamp-invalidated snapshot
    * sees the post-swap index — but ONE retry is not enough when
    * maintenance runs as often as a serving attempt takes (a compaction
    * every other ingest batch can land under the retry too), so each
    * re-run backs off a little longer. A serving sink is keyed by
    * batchId, so a re-run sink call overwrites its own output.
    * Everything else, and a stale read on the last attempt (index
    * genuinely gone), propagates — after discarding the begin()'d
    * [[graft.llm.ProbeStats]] buffer, which must not outlive a FAILED
    * batch on the foreachBatch thread. */
  private def serveRetryingStaleRead[T](what: String, batchId: Long,
                                        where: String, metrics: Boolean)
                                       (attempt: => T): T = {
    def staleRead(e: Throwable): Boolean = e match {
      case null => false
      case _: java.io.FileNotFoundException => true
      case a: org.apache.spark.sql.AnalysisException
          if a.getCondition == "PATH_NOT_FOUND" => true
      case _ => staleRead(e.getCause)
    }
    var n = 1
    while (true) {
      try return attempt
      catch {
        case scala.util.control.NonFatal(e) if staleRead(e) && n < staleReadAttempts =>
          log.warn(s"$what: batch $batchId read a mid-rewrite index at " +
            s"$where (attempt $n of $staleReadAttempts); re-resolving", e)
          Thread.sleep(100L * n)
          n += 1
        case t: Throwable =>
          if (metrics) { graft.llm.ProbeStats.end(); () }
          throw t
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private val staleReadAttempts = 3

  /** A `once` job drains the currently-available input and stops (the
    * cron / drive-by shape); any other job is handed back running. */
  private def drain(q: StreamingQuery, once: Boolean): StreamingQuery = {
    if (once) {
      try q.processAllAvailable() finally q.stop()
    }
    q
  }

  /** Field `i` of a collected query row through one of the
    * `coerce*Value` tolerances — a null field is malformed too. */
  private def field[T](r: Row, i: Int)(coerce: Any => Option[T]): Option[T] =
    if (r.isNullAt(i)) None else coerce(r.get(i))

  /** What one serving kind plugs into [[serveBatches]]: its query
    * columns after the qid (typed as a jsonl queries dir reads them),
    * the coercion of a collected row's columns (None = malformed), where
    * its index lives (named by the stale-read warning) and its answer to
    * one micro-batch's queries on the micro-batch's own session — how
    * many it served and their answer frame, None when it served none. */
  private[streaming] final case class ServeKind[Q](
      name: String, where: String, fields: Seq[StructField],
      parse: Row => Option[Q],
      answer: (SparkSession, Long, Seq[(Long, Q)]) => (Int, Option[DataFrame]))

  /** The serving micro-batch loop of every kind. A micro-batch's queries
    * COLLECT to the driver — they are the small side, the corpus never
    * moves — bounded by `maxQueriesPerBatch` ([[collectBounded]]: an
    * unbounded query file fails loudly instead of OOMing the driver). A
    * serving stream must not die on one bad record: a row whose qid or
    * columns do not coerce (null, fractional qid, non-numeric vector
    * element, empty terms) is skipped with a warning, and a qid
    * duplicated within one micro-batch keeps its first occurrence (the
    * rest would duplicate, or silently merge, its answer rows). The kind
    * answers the rest inside [[serveRetryingStaleRead]], and `sink` runs
    * INSIDE that retry: an answer whose lazy read dies on a maintenance
    * rewrite is re-resolved and sunk again, so a sink may be invoked more
    * than once for one batchId and must write keyed by it (the job sinks
    * overwrite `batch-<id>`). Every other failure — missing index,
    * genuine bug, sink error — fails the stream. `metricsSink` receives
    * one [[ServeBatchMetrics]] per micro-batch that sank answers. */
  private[streaming] def serveBatches[Q](queries: DataFrame, qidCol: String,
      kind: ServeKind[Q], options: Map[String, String] = Map.empty,
      trigger: Option[Trigger] = None,
      maxQueriesPerBatch: Int = defaultMaxQueriesPerBatch,
      metricsSink: Option[ServeBatchMetrics => Unit] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    require(maxQueriesPerBatch > 0,
      s"${kind.name}: maxQueriesPerBatch must be positive, got $maxQueriesPerBatch")
    val metrics = metricsSink.isDefined
    val writer0 = queries.writeStream.options(options)
    val writer = trigger.fold(writer0)(writer0.trigger)
    writer.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      val batchT0 = System.nanoTime()
      val queryRows = collectBounded(
        batch.select((qidCol +: kind.fields.map(_.name)).map(col): _*),
        batchId, maxQueriesPerBatch, kind.name)
      val seen = scala.collection.mutable.Set.empty[Long]
      val qs = queryRows.toSeq.flatMap { r =>
        field(r, 0)(coerceQidValue).zip(kind.parse(r)) match {
          case None =>
            log.warn(s"${kind.name}: skipping malformed query row $r")
            None
          case Some((qid, _)) if !seen.add(qid) =>
            log.warn(s"${kind.name}: skipping duplicate qid $qid within one batch")
            None
          case q => q
        }
      }
      var served = 0
      if (qs.nonEmpty)
        serveRetryingStaleRead(kind.name, batchId, kind.where, metrics) {
          // one attempt's count and telemetry: a stale-read retry must
          // not double-record the probe legs
          if (metrics) graft.llm.ProbeStats.begin()
          val (n, answer) = kind.answer(batch.sparkSession, batchId, qs)
          served = n
          answer.foreach(sink(_, batchId))
        }
      // metrics only when answers were actually sunk: the sidecar lands
      // INSIDE the batch dir, so an all-malformed batch must not conjure
      // an answer-less batch-N/ that dir-listing consumers would read as
      // a committed (empty) answer batch
      if (served > 0) metricsSink.foreach { ms =>
        ms(ServeBatchMetrics(batchId, queryRows.length, served,
          queryRows.length - served,
          (System.nanoTime() - batchT0) / 1000000,
          graft.llm.ProbeStats.end()))
      }
      else if (metrics) { graft.llm.ProbeStats.end(); () }
    }.start()
  }

  /** The PRODUCT shell of every serving kind — a watched directory of
    * query files in, answer files out; the shape a catalog serving job
    * ([[graft.catalog.Exec]]) or a `serve-*` CLI verb configures.
    *
    *  - `queriesUri`: a directory Structured Streaming watches; every new
    *    jsonl/parquet file is a micro-batch of queries. jsonl reads under
    *    an explicit schema — qid as STRING (the JSON reader renders both
    *    `123` and `"123"` into it, and the qid coercion accepts either),
    *    the kind's columns at their jsonl types — so a queries dir that
    *    is still EMPTY at job start works (the cron / fresh-host shape).
    *    Parquet keeps file inference (query files define their own
    *    types, which the row coercion normalizes), so it needs a file
    *    present at start. csv/tsv would carry vectors as strings, so
    *    only the two array-typed formats serve.
    *  - `outUri`: each micro-batch's answers land as `batch-<id>/part-*`
    *    (jsonl or parquet) plus its `_metrics.json` sidecar, written
    *    keyed by batch id with `mode("overwrite")`, so a batch REPLAYED
    *    after a crash (or sunk again by a stale-read retry) overwrites
    *    its own output instead of duplicating it: exactly-once answers
    *    end to end. Read the answer stream back with
    *    `spark.read.json(s"$outUri/batch-*")`.
    *  - `checkpoint`: a RESTARTED job (same checkpoint) resumes with the
    *    query files that arrived while it was down and never re-answers
    *    files it already committed.
    *  - `once = true` drains the available queries and stops; `false`
    *    serves until stopped.
    *
    * The kind is built (its index and configuration checked) after the
    * format checks and before the stream is read. The index must outlive
    * the stream: rebuilds under it are the single-writer contract of the
    * index lifecycle. */
  private def serveJob[Q](job: String, spark: SparkSession,
      queriesUri: String, format: String, qidCol: String, outUri: String,
      outFormat: String, checkpoint: String, once: Boolean,
      maxQueriesPerBatch: Int)(kind: => ServeKind[Q]): StreamingQuery = {
    require(outFormat == "jsonl" || outFormat == "parquet",
      s"$job: output format must be jsonl or parquet, got $outFormat")
    require(format == "jsonl" || format == "parquet",
      s"$job: queries format must be jsonl or parquet, got $format")
    val k = kind
    val schema =
      if (format == "jsonl")
        Some(StructType(StructField(qidCol, StringType) +: k.fields))
      else None
    val queries = readStream(spark, queriesUri, format, schema)
    drain(serveBatches(queries, qidCol, k,
      options = Map("checkpointLocation" -> checkpoint),
      maxQueriesPerBatch = maxQueriesPerBatch,
      metricsSink = Some(m => writeBatchMetrics(spark, outUri, m))) {
      (answer, batchId) =>
        val w = answer.write.mode("overwrite")
        if (outFormat == "parquet") w.parquet(s"$outUri/batch-$batchId")
        else w.json(s"$outUri/batch-$batchId")
    }, once)
  }

  /** The queries whose vector matches the ANN index's OWN dim (memoized
    * sidecar meta — zero Spark jobs warm), answered by `probe`; the rest
    * are skipped with a warning, so a wrong-dim query never poisons the
    * well-formed ones. The dim resolves only when a micro-batch has
    * queries to serve: a batch of malformed rows must not fail the
    * stream while the index is still being built or a sidecar swap is
    * in flight. */
  private def dimMatching[Q](job: String, spark: SparkSession,
      annIndexDir: String, qs: Seq[(Long, Q)])(vec: Q => Seq[Double])
      (probe: Seq[(Long, Q)] => DataFrame): (Int, Option[DataFrame]) = {
    val expectDim = Ann.dim(spark, annIndexDir)
    val (good, badDim) = qs.partition(q => vec(q._2).size == expectDim)
    if (badDim.nonEmpty)
      log.warn(s"$job: skipping ${badDim.size} queries with dim != index " +
        s"dim $expectDim (qids ${badDim.take(5).map(_._1).mkString(", ")}" +
        s"${if (badDim.size > 5) ", …" else ""})")
    (good.size, if (good.isEmpty) None else Some(probe(good)))
  }

  /** The ANN serving kind: a micro-batch of (qid, vec) queries is ONE
    * batched [[Ann.probe]] of a built, static index (lsh, ivf or ivfpq —
    * the family read from the layout; `method` is only checked against
    * it, here). Probe selection runs at zero Spark jobs against the
    * memoized sidecars (occupancy histogram / centroids), and the probe
    * is one pruned union read. `tuning` is the method's query-time knob
    * (lsh → minCandidates, ivf → nprobe; under `minCos`, lsh →
    * slackBits), defaulting to the recall-gated defaults.
    *
    *  - `minCos = Some(t)`: RANGE serving — every id at `cos >= t`
    *    instead of the top-k (k is ignored). ivfpq thresholds the
    *    RECONSTRUCTED cosine unless `refine` upgrades it to an exact one.
    *  - `filterDfl`: a DFL boolean over the index's columns (id + the
    *    metadata the build carried), routed to the widening filtered
    *    batch probe. Top-k only: range + filter is rejected rather than
    *    the filter silently ignored. Compiled AND resolved against the
    *    index layout here, so a malformed expression or a column the
    *    index never carried fails job construction, not the first
    *    non-empty micro-batch hours in.
    *  - `refine = Some(n)`: the FAISS refine pattern, ivfpq-only (float
    *    layouts already score true cosines) — compressed ADC nominates,
    *    true cosines from the keepVectors float sidecar rerank (top-k,
    *    filtered) or verify the threshold exactly (range, 0.05·n
    *    loosened nomination). A sidecar-less index rejects loudly. */
  private[streaming] def annKind(spark: SparkSession, vecCol: String,
      indexDir: String, k: Int, method: String, tuning: Option[Int],
      minCos: Option[Double], filterDfl: Option[String],
      refine: Option[Int]): ServeKind[Seq[Double]] = {
    Ann.checkMethod(spark, indexDir, method, "annServe")
    refine.foreach { f =>
      require(f >= 1, s"annServe: refine factor must be >= 1, got $f")
      require(!Ann.storesFloats(method),
        "annServe: --refine applies only to ivfpq (float layouts " +
          "already rank by true cosines)")
      require(graft.llm.Pq.hasVectorSidecar(spark, indexDir),
        s"annServe: --refine needs the float sidecar " +
          s"($indexDir/${graft.llm.Pq.vectorSidecarDir} is missing) — " +
          "build with keepVectors (--keep-vectors)")
    }
    require(filterDfl.isEmpty || minCos.isEmpty,
      "annServe: --filter composes with top-k serving only, not --min-cos range")
    val pred = filterDfl.map(DflFrame.indexPredicate)
    pred.foreach(p => spark.read
      .parquet(s"$indexDir/vectors").filter(p).queryExecution.analyzed)
    minCos.foreach(t => require(t > -1.0 && t <= 1.0,
      s"annServe: minCos must be in (-1, 1], got $t"))
    val bound = minCos.fold[Ann.Bound](Ann.TopK(k))(Ann.Range(_))
    ServeKind[Seq[Double]]("annServe", indexDir,
      Seq(StructField(vecCol, ArrayType(DoubleType))),
      r => field(r, 1)(coerceVecValue),
      (spark, _, qs) => dimMatching("annServe", spark, indexDir, qs)(identity) {
        good => Ann.probe(Ann.Dir(spark, indexDir),
          Ann.Probe(Ann.Batch(good), bound, pred, tuning, refine))
      })
  }

  /** Streaming ANN serving: answer a STREAM of query vectors against a
    * built, static index (the [[annKind]] answer over the
    * [[serveBatches]] loop). `sink` receives each micro-batch's
    * (qid, id, cos) answer frame with the micro-batch id — the hook an
    * idempotent sink needs: a stream restarted from its checkpoint may
    * REPLAY the last uncommitted batch, and a stale-read retry sinks a
    * batch again, so a sink that writes keyed by batchId (e.g.
    * `mode("overwrite")` into a `batch-<id>` dir, as [[annServeJob]]
    * does) turns that at-least-once delivery into exactly-once output.
    * `options` passes writeStream options through — set
    * `checkpointLocation` for a recoverable serving stream (without it a
    * restart re-reads and re-answers every historical query); `trigger`
    * tunes micro-batch cadence. */
  def annServeBatches(queries: DataFrame, qidCol: String, vecCol: String,
               indexDir: String, k: Int, method: String = "lsh",
               tuning: Option[Int] = None,
               options: Map[String, String] = Map.empty,
               trigger: Option[Trigger] = None,
               minCos: Option[Double] = None,
               filterDfl: Option[String] = None,
               maxQueriesPerBatch: Int = defaultMaxQueriesPerBatch,
               metricsSink: Option[ServeBatchMetrics => Unit] = None,
               refine: Option[Int] = None)
              (sink: (DataFrame, Long) => Unit): StreamingQuery =
    serveBatches(queries, qidCol,
      annKind(queries.sparkSession, vecCol, indexDir, k, method, tuning,
        minCos, filterDfl, refine),
      options, trigger, maxQueriesPerBatch, metricsSink)(sink)

  /** The `serve-ann` job ([[graft.cli.ServeCli]]): (qidCol, vecCol)
    * query files in, (qid, id, cos) answer files out — the
    * [[serveJob]] shell over the [[annKind]] answer. */
  def annServeJob(spark: SparkSession, queriesUri: String, format: String,
                  qidCol: String, vecCol: String, indexDir: String,
                  method: String, k: Int, tuning: Option[Int],
                  outUri: String, outFormat: String, checkpoint: String,
                  once: Boolean, minCos: Option[Double] = None,
                  filterDfl: Option[String] = None,
                  maxQueriesPerBatch: Int = defaultMaxQueriesPerBatch,
                  refine: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveJob("annServeJob", spark, queriesUri, format, qidCol, outUri,
      outFormat, checkpoint, once, maxQueriesPerBatch) {
      annKind(spark, vecCol, indexDir, k, method, tuning, minCos, filterDfl,
        refine)
    }

  /** The LEXICAL serving kind: a micro-batch of (qid, terms) queries is
    * ONE [[graft.llm.Retrieval.probe]] of a query batch against a built,
    * static [[graft.llm.Retrieval.bm25Build]] inverted index — one
    * posting read pruned to the union of the batch's term bands; the
    * corpus is never touched. Terms may be a whitespace-separated string
    * or an array of strings (a jsonl JSON array arrives as its raw text
    * and is parsed back). `filterDfl` is a DFL boolean over the index's
    * metadata columns (bm25Build's metaCols), routed to the filtered
    * batch probe with corpus-global statistics; compiled and resolved
    * against the postings schema here. */
  private[streaming] def bm25Kind(spark: SparkSession, termsCol: String,
      indexDir: String, k: Int, k1: Double, b: Double,
      filterDfl: Option[String]): ServeKind[Seq[String]] = {
    require(k > 0, s"bm25Serve: k must be positive, got $k")
    val pred = filterDfl.map(DflFrame.indexPredicate)
    pred.foreach(p => spark.read
      .parquet(s"$indexDir/postings").filter(p).queryExecution.analyzed)
    ServeKind[Seq[String]]("bm25Serve", indexDir,
      Seq(StructField(termsCol, StringType)),
      r => field(r, 1)(coerceTermsValue),
      (spark, _, qs) => (qs.size, Some(Retrieval.probe(
        Retrieval.Dir(spark, indexDir),
        Retrieval.Probe(Retrieval.Batch(qs), k, pred, k1, b)))))
  }

  /** The `serve-bm25` job ([[graft.cli.ServeBm25Cli]]): (qid, terms)
    * query files in, (qid, id, score, rnk) answer files out — the
    * [[serveJob]] shell over the [[bm25Kind]] answer. */
  def bm25ServeJob(spark: SparkSession, queriesUri: String, format: String,
                   qidCol: String, termsCol: String, indexDir: String,
                   k: Int, outUri: String, outFormat: String,
                   checkpoint: String, once: Boolean,
                   k1: Double = 1.2, b: Double = 0.75,
                   filterDfl: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveJob("bm25ServeJob", spark, queriesUri, format, qidCol, outUri,
      outFormat, checkpoint, once, defaultMaxQueriesPerBatch) {
      bm25Kind(spark, termsCol, indexDir, k, k1, b, filterDfl)
    }

  /** The HYBRID serving kind — lexical ⊕ semantic ⊕ RRF [⊕ MMR], the
    * composite a deployment actually runs, as ONE query stream: each
    * micro-batch of (qid, terms, vec) queries probes a BUILT BM25 index
    * AND a BUILT ANN index (lsh | ivf | ivfpq), derives (qid, id, rnk)
    * runs of `pool` candidates per leg, fuses them per qid by
    * reciprocal-rank fusion ([[graft.llm.Retrieval.rrfFuseBatch]] —
    * every qid's slice ≡ the batch DFL `hybrid` stage's single-query
    * fusion), and with `lambda` MMR-re-ranks each qid's fused pool with
    * vectors fetched from the ANN index itself
    * ([[graft.llm.Retrieval.mmrRerankBatch]] — one grouped bounded
    * aggregate, never a per-query job). The MMR penalty cosines need
    * FLOAT vectors: an ivfpq index serves them only from a keepVectors
    * build's vectors_f32 sidecar and rejects `lambda` loudly without one.
    * `refine` is the [[annKind]] contract for the semantic leg (pool×n
    * nomination, exact rerank). `filterDfl` routes BOTH legs to their
    * filtered batch probes; both indexes must carry the predicate's
    * columns, resolved against both layouts here. `annMethod` must match
    * the ANN dir's self-described layout and the BM25 dir must be a bm25
    * layout — a mismatch fails job construction with a sentence instead
    * of every micro-batch with an opaque read error. */
  private[streaming] def hybridKind(spark: SparkSession, termsCol: String,
      vecCol: String, bm25IndexDir: String, annIndexDir: String,
      annMethod: String, k: Int, pool: Int, lambda: Option[Double],
      k1: Double, b: Double, tuning: Option[Int], filterDfl: Option[String],
      refine: Option[Int]): ServeKind[(Seq[String], Seq[Double])] = {
    val annFloats = Ann.storesFloats(annMethod)
    require(k > 0, s"hybridServe: k must be positive, got $k")
    require(pool >= k, s"hybridServe: pool ($pool) must be >= k ($k)")
    lambda.foreach(l => require(l >= 0.0 && l <= 1.0,
      s"hybridServe: lambda must be in [0,1], got $l"))
    require(lambda.isEmpty || annFloats ||
        graft.llm.Pq.hasVectorSidecar(spark, annIndexDir),
      "hybridServe: --lambda (MMR) needs float vectors; this ivfpq " +
        "index carries no vectors_f32 sidecar — build it with " +
        "keepVectors (--keep-vectors), or use a float layout (lsh | ivf)")
    // where the MMR vector fetch reads from: the index's own vectors for
    // float layouts, the sidecar for a keepVectors ivfpq index
    val mmrVectorsDir =
      if (annFloats) s"$annIndexDir/vectors"
      else s"$annIndexDir/${graft.llm.Pq.vectorSidecarDir}"
    refine.foreach { f =>
      require(f >= 1, s"hybridServe: refine factor must be >= 1, got $f")
      require(!annFloats,
        "hybridServe: --refine applies only to ivfpq (float layouts " +
          "already rank by true cosines)")
      require(graft.llm.Pq.hasVectorSidecar(spark, annIndexDir),
        s"hybridServe: --refine needs the float sidecar " +
          s"($annIndexDir/${graft.llm.Pq.vectorSidecarDir} is missing) — " +
          "build with keepVectors (--keep-vectors)")
    }
    Ann.checkMethod(spark, annIndexDir, annMethod, "hybridServe")
    graft.llm.Similarity.indexKind(spark, bm25IndexDir)
      .foreach(kind => require(kind == "bm25",
        s"hybridServe: $bm25IndexDir is a built '$kind' index, not bm25"))
    val pred = filterDfl.map(DflFrame.indexPredicate)
    pred.foreach { p =>
      spark.read
        .parquet(s"$bm25IndexDir/postings").filter(p).queryExecution.analyzed
      spark.read
        .parquet(s"$annIndexDir/vectors").filter(p).queryExecution.analyzed
    }
    def mmr(spark: SparkSession, batchId: Long, fused: DataFrame,
            l: Double): DataFrame = {
      // the fused pool is serving-sized BY CONSTRUCTION (≤ pool×queries
      // rows), so it COLLECTS once — re-deriving it lazily would re-run
      // both index probes for every consumer — and its ids push into the
      // vectors read via Similarity.candidateVectors (id-In pruned — a
      // broadcast join alone would re-read the ENTIRE corpus-sized
      // vectors/sidecar parquet per micro-batch)
      import spark.implicits._
      val poolRows = fused.select("qid", "id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val vecs = graft.llm.Similarity.candidateVectors(spark,
        mmrVectorsDir, poolRows.map(_._2).distinct)
      val candsDf = vecs.join(broadcast(poolRows.toDF("qid", "id", "score")),
        Seq("id"))
      // serving-sized (pool rows that HAVE vectors): collect ONCE so the
      // missing-count and the MMR input share one vectors scan
      val candRows = candsDf.collect()
      // the two indexes are separately-appendable artifacts: a candidate
      // the BM25 index ranked but the ANN index does not yet carry has no
      // vector and cannot be diversified — observable, never silent
      val missing = poolRows.size - candRows.length
      if (missing > 0)
        log.warn(s"hybridServe: batch $batchId dropped $missing fused " +
          s"candidate(s) with no vector in $annIndexDir (BM25/ANN index " +
          "contents diverge — run the ANN ingest to catch up)")
      Retrieval.mmrRerankBatch(
        graft.llm.Similarity.localFrame(spark, candRows, candsDf.schema),
        "qid", "id", "score", "v", k, l)
    }
    ServeKind[(Seq[String], Seq[Double])]("hybridServe",
      s"$bm25IndexDir | $annIndexDir",
      Seq(StructField(termsCol, StringType),
        StructField(vecCol, ArrayType(DoubleType))),
      r => field(r, 1)(coerceTermsValue).zip(field(r, 2)(coerceVecValue)),
      (spark, batchId, qs) =>
        dimMatching("hybridServe", spark, annIndexDir, qs)(_._2) { good =>
          val lex = Retrieval.probe(Retrieval.Dir(spark, bm25IndexDir),
              Retrieval.Probe(Retrieval.Batch(good.map(q => q._1 -> q._2._1)),
                pool, pred, k1, b))
            .select("qid", "id", "rnk")
          val semW = org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
          val sem = Ann.probe(Ann.Dir(spark, annIndexDir),
              Ann.Probe(Ann.Batch(good.map(q => q._1 -> q._2._2)),
                Ann.TopK(pool), pred, tuning, refine))
            .withColumn("rnk", row_number().over(semW).cast("long"))
            .select("qid", "id", "rnk")
          val fused = Retrieval.rrfFuseBatch(Seq(lex, sem),
            if (lambda.isDefined) pool else k)
          lambda.fold(fused)(mmr(spark, batchId, fused, _))
        })
  }

  /** The `serve-hybrid` job ([[graft.cli.ServeHybridCli]]): (qid, terms,
    * vec) query files in, fused (qid, id, score[, mmr], rnk) answer files
    * out — the [[serveJob]] shell over the [[hybridKind]] answer. Both
    * indexes must already exist — bootstrap with
    * [[graft.llm.Retrieval.ensure]] + [[graft.llm.Ann.ensure]] (the CLI's
    * `--build-from` does). */
  def hybridServeJob(spark: SparkSession, queriesUri: String, format: String,
                     qidCol: String, termsCol: String, vecCol: String,
                     bm25IndexDir: String, annIndexDir: String,
                     annMethod: String, k: Int, pool: Int,
                     outUri: String, outFormat: String,
                     checkpoint: String, once: Boolean,
                     lambda: Option[Double] = None,
                     k1: Double = 1.2, b: Double = 0.75,
                     tuning: Option[Int] = None,
                     filterDfl: Option[String] = None,
                     maxQueriesPerBatch: Int = defaultMaxQueriesPerBatch,
                     refine: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    serveJob("hybridServeJob", spark, queriesUri, format, qidCol, outUri,
      outFormat, checkpoint, once, maxQueriesPerBatch) {
      hybridKind(spark, termsCol, vecCol, bm25IndexDir, annIndexDir,
        annMethod, k, pool, lambda, k1, b, tuning, filterDfl, refine)
    }

  /** Continuous corpus ingest — the streaming twin of the batch
    * `ingest-corpus` CLI: watch a directory for incoming corpus files
    * and, per micro-batch, (1) drop rows whose normalized fingerprint
    * exists in the STATIC retained corpus ([[streamingDedupAgainst]],
    * exact), (2) drop rows sharing an n-gram with the benchmark
    * ([[streamingContamFilter]], conservative bloom — no contaminated
    * row passes), (3) collapse within-stream exact duplicates across
    * batches via the watermark-bounded fingerprint store, then append
    * survivors to `outUri` as parquet. Exactly-once via the checkpoint:
    * a replayed batch re-derives the same survivors and the file sink's
    * transaction log dedups the write. Stateless stages + one bounded
    * dedup store — the 100 TB contract is the watermark horizon, not
    * corpus size. Empty `benchmark` disables stage (2); `watermark`
    * empty disables (3). */
  def corpusIngestJob(spark: SparkSession, corpusUri: String, format: String,
                      textCol: String, timeCol: String, watermark: String,
                      retained: Option[DataFrame], benchmark: Option[DataFrame],
                      outUri: String, checkpoint: String, once: Boolean)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(format == "parquet" || format == "jsonl",
      s"corpusIngestJob: corpus format must be parquet or jsonl, got $format")
    val stream0 = readStream(spark, corpusUri, format)
    val deduped = retained match {
      case Some(ref) => streamingDedupAgainst(stream0, ref, textCol, textCol)
      case None      => stream0
    }
    val decontaminated = benchmark match {
      case Some(bench) => streamingContamFilter(deduped, textCol, bench, textCol)
      case None        => deduped
    }
    val unique =
      if (watermark.isEmpty) decontaminated
      else streamingDedup(
        decontaminated.withColumn(timeCol, col(timeCol).cast("timestamp")),
        textCol, timeCol, watermark)
    val w = unique.writeStream
      .format("parquet")
      .option("path", outUri)
      .option("checkpointLocation", checkpoint)
    val q = if (once) w.trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      else w.start()
    q
  }

  /** What a maintenance slot did: the action (`retrain` | `compact` |
    * `none`), the skew it measured (ivf/ivfpq with a retrain factor) and
    * the tombstones a compaction cleared. */
  private final case class Maintenance(action: String = "none",
                                       skew: Option[Double] = None,
                                       tombstonesCleared: Long = 0L)

  private def compacted(indexDir: String, batchId: Long,
                        st: graft.llm.Similarity.CompactStats): Maintenance = {
    log.info(s"compacted $indexDir after batch $batchId: " +
      s"${st.filesBefore} -> ${st.filesAfter} data files" +
      (if (st.tombstonesCleared > 0)
         s", ${st.tombstonesCleared} tombstones cleared"
       else ""))
    Maintenance("compact", tombstonesCleared = st.tombstonesCleared)
  }

  /** The ingest micro-batch loop of every index family. `lend` hands the
    * loop a micro-batch's rows to append for the span of the call (ann:
    * the batch itself; bm25: ids cast to long, uncastable rows dropped,
    * persisted while in use). Non-empty rows are appended once by
    * `append`, under the append id `md5(checkpoint '#' batchId)` — stable across the REPLAY of the last uncommitted batch
    * after a crash, so the family's durable append fence makes the
    * replayed append a no-op (a fresh checkpoint gets fresh ids and can
    * legitimately re-append); the checkpoint stops committed files from
    * being re-read across restarts. `compactEvery = n > 0` opens a
    * MAINTENANCE SLOT after every n APPENDS since the last slot (empty
    * batches don't count, and the count is durable under the checkpoint
    * — [[appendOpensSlot]] — so restarts and `--once` cron runs keep it),
    * where `maintain` runs; maintenance inside `foreachBatch` is
    * serialized with the appends, the single-writer window in-place
    * rewrites require. Each appended batch leaves its
    * [[IngestBatchMetrics]] record under the checkpoint. */
  private def ingestJob(spark: SparkSession, corpus: DataFrame,
      checkpoint: String, once: Boolean, compactEvery: Int)
      (lend: (DataFrame, Long, DataFrame => Unit) => Unit,
       append: (DataFrame, String) => Unit,
       maintain: Long => Maintenance): StreamingQuery =
    drain(corpus.writeStream
      .options(Map("checkpointLocation" -> checkpoint))
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        lend(batch.toDF(), batchId, rows => if (!rows.isEmpty) {
          val t0 = System.nanoTime()
          append(rows, graft.util.Md5.hex(s"$checkpoint#$batchId").take(16))
          val appendMs = (System.nanoTime() - t0) / 1000000
          val slotOpened = appendOpensSlot(spark, checkpoint, compactEvery)
          val mt0 = System.nanoTime()
          val m = if (slotOpened) maintain(batchId) else Maintenance()
          val actionMs =
            if (slotOpened) (System.nanoTime() - mt0) / 1000000 else 0L
          writeIngestMetrics(spark, checkpoint, IngestBatchMetrics(
            batchId, appendMs, slotOpened, m.skew, m.action, actionMs,
            m.tombstonesCleared))
        })
      }.start(), once)

  /** The INGEST counterpart of [[annServeJob]], closing the product
    * loop "bulk build → streaming appends → streaming serving": a
    * watched directory of corpus files (parquet/jsonl rows of
    * (idCol, vecCol)) whose every new file becomes a micro-batch
    * appended to a LIVE index via [[graft.llm.Ann.append]] — one
    * signature/assignment/encode pass over the NEW rows only, never a
    * corpus rescan — through the [[ingestJob]] loop (exactly-once
    * appends, the maintenance slot). The family is read from the index
    * layout; `method` is checked against it at construction. Appends
    * keep the single-writer-per-index contract: run ONE ingest job per
    * index dir, and rebuild/retrain only while it is stopped.
    *
    * The index must already exist — bootstrap with
    * [[graft.llm.Ann.ensure]] (the `ingest-ann` CLI's `--build-from`
    * does) so the stream appends against the bulk-built backfill. LSH
    * appends reproduce a full rebuild exactly; IVF appends assign to
    * frozen centroids (monitor drift via `ivfListStats`, retrain on
    * growth).
    *
    * In the maintenance slot the job normally runs
    * [[graft.llm.Ann.compact]] (each append lands one part file per
    * partition, so a long-running ingest otherwise grows probe read
    * amplification without bound); for an ivf (or keepVectors ivfpq)
    * index with `retrainSkewFactor > 0` it first checks
    * [[graft.llm.Similarity.ivfSkew]] and, past the factor, runs
    * [[graft.llm.Ann.retrain]] INSTEAD (a retrain rewrites everything —
    * compacting the same batch would be redundant), closing the drift
    * loop the frozen-centroid append otherwise leaves to ops. Both
    * rewrites preserve the row multiset and the replay fences, so
    * exactly-once holds across them. */
  def annIngestJob(spark: SparkSession, corpusUri: String, format: String,
                   idCol: String, vecCol: String, indexDir: String,
                   method: String, checkpoint: String,
                   once: Boolean, compactEvery: Int = 0,
                   retrainSkewFactor: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    Ann.checkMethod(spark, indexDir, method, "annIngestJob")
    // csv/tsv carry vectors as strings — there is no lossless cast to an
    // array column, so only the two formats that really append are offered
    require(format == "parquet" || format == "jsonl",
      s"annIngestJob: corpus format must be parquet or jsonl, got $format")
    // the skew check lives inside the maintenance slot; accepting the
    // factor without a cadence would silently never retrain
    require(retrainSkewFactor <= 0 || compactEvery > 0,
      "annIngestJob: retrainSkewFactor requires compactEvery > 0 (the " +
        "maintenance cadence the skew check runs on)")
    // an lsh index never drifts, and an ivfpq retrain re-encodes from the
    // float sidecar — codes cannot re-encode themselves. The index exists
    // at job construction (the CLI bootstraps via --build-from first), so
    // either fails HERE, not hours in at the first skew firing.
    if (retrainSkewFactor > 0)
      Ann.requireRetrainable(spark, indexDir, "annIngestJob")
    // the stream's schema comes from the INDEX, not file inference: the
    // watched dir is legitimately EMPTY on first launch (the backfill was
    // --build-from; increments arrive later), and inference over an empty
    // dir would fail the job before its checkpoint exists. jsonl parses
    // numbers as array<double>; cast to the index's element type so the
    // append fence compares true types, not formats.
    val (idType, vecType) = Ann.streamTypes(spark, indexDir)
    val streamSchema = StructType(Seq(StructField(idCol, idType),
      StructField(vecCol,
        if (format == "jsonl") ArrayType(DoubleType) else vecType)))
    val corpus = readStream(spark, corpusUri, format, Some(streamSchema))
      .withColumn(vecCol, col(vecCol).cast(vecType))
    ingestJob(spark, corpus, checkpoint, once, compactEvery)(
      (batch, _, use) => use(batch),
      (rows, id) => Ann.append(rows, idCol, vecCol, indexDir,
        appendId = Some(id)),
      batchId => {
        // the skew monitor reads the shared `list` column, so one check
        // serves both quantized families (retrainability was verified at
        // job construction)
        val skew =
          if (retrainSkewFactor > 0)
            Some(graft.llm.Similarity.ivfSkew(spark, indexDir))
          else None
        if (skew.exists(_ > retrainSkewFactor)) {
          log.warn(s"$method skew ${skew.get} > $retrainSkewFactor at " +
            s"$indexDir; retraining from index rows")
          Ann.retrain(spark, indexDir)
          Maintenance("retrain", skew)
        }
        // compaction rewrites the WHOLE index (cost ~ index size, not
        // batch size) — skip it while every partition is still at
        // build-shape file count (salt-aware: Ann.compactionDue), so an
        // aggressive cadence over small/empty increments stays
        // listing-only
        else if (Ann.compactionDue(spark, indexDir))
          compacted(indexDir, batchId, Ann.compact(spark, indexDir))
            .copy(skew = skew)
        else Maintenance(skew = skew)
      })
  }

  /** The LEXICAL ingest job — [[annIngestJob]] for the BM25 inverted
    * index ([[bm25ServeJob]] being the serving side): a watched
    * directory of corpus files (parquet/jsonl rows of (idCol, textCol)
    * plus the index's metadata columns) whose every new file becomes a
    * micro-batch appended to a LIVE index via
    * [[graft.llm.Retrieval.bm25Append]] — one tokenize pass over the NEW
    * rows plus banded delta landings and an O(1) additive stats merge,
    * never a corpus rescan — through the [[ingestJob]] loop (the
    * `postings/_append-<id>` fence makes a replayed append a no-op).
    * Single-writer per index dir. The index must already exist —
    * bootstrap with [[graft.llm.Retrieval.ensure]] (the `ingest-bm25`
    * CLI's `--build-from` does). The maintenance slot runs
    * [[graft.llm.Retrieval.bm25Compact]] when
    * [[graft.llm.Retrieval.bm25CompactionDue]] says the postings have
    * grown past build shape (listing-only otherwise). Appends are
    * value-exact (probe ≡ full rebuild), so there is no retrain arm —
    * BM25 has no quantizer to drift. */
  def bm25IngestJob(spark: SparkSession, corpusUri: String, format: String,
                    idCol: String, textCol: String, indexDir: String,
                    checkpoint: String, once: Boolean,
                    compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(format == "parquet" || format == "jsonl",
      s"bm25IngestJob: corpus format must be parquet or jsonl, got $format")
    // explicit schema: the watched dir is legitimately EMPTY on first
    // launch (the backfill was --build-from), and inference would fail
    // the job before its checkpoint exists. The schema is TYPED FROM
    // THE INDEX (the annIngestJob posture): whatever metadata columns
    // the postings carry, the stream must deliver — a filtered index
    // keeps ingesting incrementally, with the columns at the index's
    // own types. jsonl ids read as STRING — the JSON reader renders
    // both `123` and `"123"` into it (a LongType field would silently
    // null-skip quoted ids, the annServeJob qid lesson) — then cast to
    // the index's long ids; rows whose id cannot cast are dropped WITH
    // a warning (a serving-adjacent stream must not die on one bad
    // record, but it must not drop data silently either). Parquet
    // keeps the index's own types: increment files whose types
    // genuinely differ are rejected rather than stranding the index
    // with unmergeable postings.
    val postingsSchema =
      spark.read.parquet(s"$indexDir/postings").schema
    val metaFields = postingsSchema.fields.toSeq
      .filterNot(f => Set("id", "dl", "w", "tf", "pband")(f.name))
    val streamSchema = StructType(
      StructField(idCol, if (format == "jsonl") StringType else LongType) +:
      StructField(textCol, StringType) +: metaFields)
    val corpus = readStream(spark, corpusUri, format, Some(streamSchema))
    ingestJob(spark, corpus, checkpoint, once, compactEvery)(
      (batch0, batchId, use) => {
        val batch = batch0.withColumn(idCol, col(idCol).cast("long")).persist()
        try {
          val dropped = batch.filter(col(idCol).isNull).count()
          if (dropped > 0)
            log.warn(s"bm25Ingest: batch $batchId dropped $dropped rows " +
              s"whose '$idCol' could not cast to long")
          use(batch.filter(col(idCol).isNotNull))
        } finally batch.unpersist()
      },
      (rows, id) => Retrieval.bm25Append(rows, idCol, textCol, indexDir,
        appendId = Some(id)),
      batchId =>
        if (Retrieval.bm25CompactionDue(spark, indexDir))
          compacted(indexDir, batchId, Retrieval.bm25Compact(spark, indexDir))
        else Maintenance())
  }

  /** Custom streaming state via `mapGroupsWithState`: running count per
    * key across micro-batches (the KeyValueGroupedDataset escape hatch
    * for semantics windowed aggs can't express). Emits the updated total
    * for every key touched in the batch. */
  def runningCounts(stream: DataFrame, keyCol: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    stream.select(col(keyCol).cast("string").as("key"))
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout()) {
        (key, rows, state) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          (key, total)
      }
      .toDF("key", "total")
  }

  /** Drain a streaming DataFrame into a memory table and return it. */
  def collectStream(out: DataFrame, mode: String): DataFrame = {
    val spark = out.sparkSession
    val name = s"graft_stream_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }
}
