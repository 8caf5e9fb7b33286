package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lexical retrieval over the corpus — the serving-side complement of the
  * vector-ANN family: BM25 ranked search (Robertson & Zaragoza 2009, the
  * Okapi/Lucene formulation) plus reciprocal-rank fusion (Cormack et al.
  * SIGIR'09) to combine lexical and semantic runs into one hybrid ranking.
  *
  * Scale shape (the part that must survive 100 TB):
  *   - ONE corpus scan: tokens explode and are filtered to the (tiny,
  *     broadcast-literal) query-term set BEFORE any shuffle, so the
  *     aggregation exchange carries only (doc, matched-term) rows — a
  *     vanishing fraction of the corpus for real queries.
  *   - per-term document frequencies ride tf's own term exchange as a
  *     count window (the tfidfTopTerms posture — no second corpus scan,
  *     no self-join), and the corpus scalars (N, avgdl) are a one-row
  *     broadcast — the allowlisted scalar-stat cross-join shape every
  *     LM operator here uses.
  *   - the final top-k is the bounded-heap [[graft.functions.TopKByScore]]
  *     aggregate (map-side partials, shuffle ≤ partitions × k rows), never
  *     a global sort and never a window over all scored docs.
  *
  * Both engines evaluate ONE formula: [[bm25Sql]] renders the exact same
  * arithmetic (same association, same literals, same rounding) in DuckDB
  * SQL, so the expression and its oracle can only drift in this file.
  *
  * Every score is rounded to 6 BEFORE ranking, making the (score desc,
  * id asc) tie order engine-identical.
  */
object Retrieval {

  /** Per-document normalized tokens + document length. `dl` counts the
    * whitespace tokens of [[TextAnalysis.normText]] (0 for an empty doc —
    * `split('', ' ')` yields one empty token which must not count).
    * `metaCols` ride along unchanged (the filtered-index build). */
  private def prepared(df: DataFrame, idCol: String, textCol: String,
                       metaCols: Seq[String] = Nil): DataFrame = {
    val nt = TextAnalysis.normText(col(textCol))
    df.select((col(idCol).cast("long").as("id") +: nt.as("__nt") +:
        metaCols.map(col)): _*)
      .select((col("id") +:
        // NULL text folds to dl = 0, like empty text: the legacy
        // size(null) = -1 (ansi off) would poison sum_dl with -1 per
        // null doc — diverging from the DuckDB oracle (whose NULL dl
        // sums as 0) and from the delete verb's subtraction — while 0
        // matches both and the zero-postings reality of such a doc
        when(col("__nt").isNull || col("__nt") === "", lit(0L))
          .otherwise(size(split(col("__nt"), " ")).cast("long")).as("dl") +:
        split(col("__nt"), " ").as("__toks") +: metaCols.map(col)): _*)
  }

  /** The per-(doc, term) BM25 contribution — shared by the single and
    * batch paths, association mirrored literal-for-literal by
    * [[bm25Sql]]. Inputs: tf/df/n double, dl long, avgdl double. */
  private def contribution(k1: Double, b: Double)
      : org.apache.spark.sql.Column = {
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl") / col("avgdl"))))
  }

  // ── the one BM25 probe ──

  sealed trait Queries
  /** One query's terms; the answer is `(id, score, rnk)`. */
  final case class One(terms: Seq[String]) extends Queries
  /** `(qid, terms)` pairs; the answer is `(qid, id, score, rnk)`, each
    * qid's slice equal to its [[One]] answer. */
  final case class Batch(queries: Seq[(Long, Seq[String])]) extends Queries

  /** What to answer: the k best documents per query, scored
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))` with
    * `idf = ln(1 + (N-df+0.5)/(df+0.5))` (the Lucene variant — always
    * ≥ 0, no negative-idf cliff for terms in >half the corpus). Terms
    * match normalized whitespace tokens; repeated terms count once.
    * Ranks are 1-based over (score desc, id asc); only documents
    * matching at least one term appear (SQL semantics: no zero-score
    * padding). `filter` restricts the CANDIDATES only: N, avgdl and df
    * stay corpus-global, so a survivor's score is bit-identical to its
    * unfiltered score and the answer is exactly filter∘rank — BM25
    * scoring is exact over the matching docs, so unlike filtered ANN
    * there is no widening. */
  final case class Probe(queries: Queries, k: Int,
                         filter: Option[Column] = None,
                         k1: Double = 1.2, b: Double = 0.75)

  sealed trait Source
  /** A direct corpus scan: ONE tf pass term-filtered at the scan, df as
    * a count window over tf's term exchange, (N, avgdl) a broadcast
    * one-row stat. A filter is a boolean over the corpus's own columns,
    * applied as an id-level LEFT SEMI join after scoring (it commutes
    * with the per-id sum and can never leak into the df window). */
  final case class Scan(corpus: DataFrame, idCol: String,
                        textCol: String) extends Source
  /** An index over a file-backed corpus through the fingerprint-fenced
    * [[Similarity.cachedIndex]] lifecycle: the first probe per
    * `cacheKey` pays a [[bm25Build]], unchanged corpora are pure cache
    * hits, a corpus grown by FILE ADDITION appends just the new files
    * ([[bm25Append]]), any other change re-lands a fresh stamp-named dir
    * under `graft.ivf.indexBase` (the [[graft.tools.IndexGc]] retention
    * family). `metaCols` ride into the postings and join the stamp; a
    * filter may reference only them. The cache holds ONE slot per key,
    * so give a metaCols layout its own key. Then it serves as a [[Dir]]. */
  final case class Cached(corpus: DataFrame, idCol: String, textCol: String,
                          cacheKey: String, pbands: Int = 64,
                          metaCols: Seq[String] = Nil) extends Source
  /** A built [[bm25Build]] index dir: band-pruned postings/df reads and
    * memoized (N, avgdl) — the corpus is never touched and warm probes
    * plan at zero Spark jobs. A filter is a boolean over the postings'
    * `id` and the build's metaCols, applied to the postings read. */
  final case class Dir(spark: SparkSession, indexDir: String) extends Source

  /** A [[Dir]] that holds no bm25 index; `kind` is its layout's
    * [[Similarity.indexKind]], None when it holds no built index. */
  final class Rejected(val kind: Option[String], msg: String)
      extends IllegalArgumentException(msg)

  /** BM25 top-k of `p` over `source`. Validation, the cache stamp, the
    * query fan-out, the per-doc score and the bounded-heap
    * [[graft.functions.TopKByScore]] tail are written once; only the
    * (doc, term) row source differs per kind. A [[Batch]] answers in
    * ONE pass for the union of its terms: a broadcast (qid, term) join
    * fans each matched (doc, term) row out to the queries that asked for
    * it, and a per-qid heap keeps the best k. */
  def probe(source: Source, p: Probe): DataFrame = {
    val (qs, single) = p.queries match {
      case One(terms) => (Seq(0L -> terms), true)
      case Batch(b)   => (b, false)
    }
    // validated BEFORE a cache resolves: bad arguments must not pay an
    // index build they could never use
    require(qs.nonEmpty, "Retrieval.probe: empty query batch")
    require(qs.forall(_._2.nonEmpty), "Retrieval.probe: a query has no terms")
    require(p.k > 0, s"Retrieval.probe: k must be positive, got ${p.k}")
    // a duplicated qid would double-join its terms and silently double
    // (or merge) its scores — reject, never corrupt
    require(qs.map(_._1).distinct.size == qs.size,
      "Retrieval.probe: duplicate qid in batch")
    requireKnobs(p.k1, p.b)
    val terms = qs.flatMap(_._2).distinct
    val lex = source match {
      case Scan(df, idCol, textCol) => scanRows(df, idCol, textCol, terms, p.filter)
      case Dir(spark, dir) => dirRows(spark, dir, terms, p.filter, qs.size)
      case c: Cached =>
        dirRows(c.corpus.sparkSession, cachedDir(c, p.filter), terms,
          p.filter, qs.size)
    }
    val keys = if (single) Nil else Seq(col("qid"))
    val fanned = if (single) lex.rows else {
      val spark = lex.rows.sparkSession
      import spark.implicits._
      val qterms = qs.flatMap { case (q, ts) => ts.distinct.map((q, _)) }
        .toDF("qid", "w")
      lex.rows.join(broadcast(qterms), "w")
    }
    val scored = lex.restrict(lex.withStats(fanned)
      .groupBy(keys :+ col("id"): _*)
      .agg(round(sum(contribution(p.k1, p.b)), 6).as("score")))
    import graft.functions.TopKF
    scored.groupBy(keys: _*)
      .agg(TopKF.topKByScore(col("score"), col("id"), p.k).as("topk"))
      .select(keys :+ posexplode(col("topk")).as(Seq("r", "hit")): _*)
      .select(keys ++ Seq(col("hit.id").as("id"), col("hit.score").as("score"),
        (col("r") + 1).cast("long").as("rnk")): _*)
  }

  /** The valid BM25 knobs: `k1 ≥ 0` and `0 ≤ b ≤ 1`. Past b = 1 the
    * length norm `1 − b + b·dl/avgdl` reaches zero (an infinite score)
    * or goes negative for short docs. The names label the knobs in the
    * message (the serving CLIs pass their flags). */
  def requireKnobs(k1: Double, b: Double, k1Name: String = "k1",
                   bName: String = "b"): Unit = {
    require(k1 >= 0, s"$k1Name must be >= 0, got $k1")
    require(b >= 0 && b <= 1, s"$bName must be in [0, 1], got $b")
  }

  /** A source's scoring input for a term set: `rows` are
    * (id, dl, w, tf, df), `withStats` attaches the corpus scalars
    * (n, avgdl) after the query fan-out, and `restrict` is the
    * post-scoring candidate restriction (a [[Scan]] filter). */
  private final case class LexRows(rows: DataFrame,
                                   withStats: DataFrame => DataFrame,
                                   restrict: DataFrame => DataFrame)

  /** The [[Scan]] rows. The document frequency is a COUNT WINDOW over
    * tf's term exchange — the tfidfTopTerms posture: a tf⋈df self-join
    * would make Spark replay the whole corpus explode a second time
    * (exchange reuse does NOT fire across those consumers — verified on
    * the executed plan), while the window derives df on the same
    * partitioning the join would have needed. The corpus is scanned
    * exactly twice: once for tf (term-filtered AT the scan, so only
    * matching docs explode into the exchange), once for (N, avgdl). */
  private def scanRows(df: DataFrame, idCol: String, textCol: String,
                       terms: Seq[String], filter: Option[Column]): LexRows = {
    val base = prepared(df, idCol, textCol)
    val stats = base.agg(count(lit(1)).cast("double").as("n"),
      avg(col("dl")).as("avgdl"))
    val tf = base
      .select(col("id"), col("dl"), explode(col("__toks")).as("w"))
      .filter(col("w").isin(terms: _*))
      .groupBy(col("id"), col("dl"), col("w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    LexRows(tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w")))
        .cast("double")),
      _.crossJoin(broadcast(stats)),
      scored => filter.fold(scored)(f => scored.join(
        df.filter(f).select(col(idCol).cast("long").as("id")),
        Seq("id"), "left_semi")))
  }

  /** The [[Dir]] rows: the band+term-pruned postings (filtered there)
    * joined to the summed df, with (N, avgdl) as literals. Width for a
    * lexical probe = distinct terms (they drive the pband pruning);
    * lexical serving never widens. */
  private def dirRows(spark: SparkSession, indexDir: String,
                      terms: Seq[String], filter: Option[Column],
                      queries: Int): LexRows = {
    healStatsSidecar(spark, indexDir)
    Similarity.indexKind(spark, indexDir) match {
      case Some("bm25") =>
      case kind => throw new Rejected(kind, kind.fold(
        s"'$indexDir' is not a built index dir")(
        k => s"'$indexDir' is a '$k' index, not bm25"))
    }
    ProbeStats.record(if (filter.isDefined) "bm25_filtered" else "bm25",
      queries, terms.size, terms.size, 0)
    val (n, avgdl, postings, dft) = indexProbe(spark, indexDir, terms)
    LexRows(filter.fold(postings)(postings.filter).join(broadcast(dft), "w"),
      _.withColumn("n", lit(n)).withColumn("avgdl", lit(avgdl)),
      identity)
  }

  /** Resolve a [[Cached]] source to its index dir. The filter's
    * attribute set is checked first: a predicate naming a column the
    * metaCols would not carry into the postings must not pay a build. */
  private def cachedDir(c: Cached, filter: Option[Column]): String = {
    filter.foreach { f =>
      val refs = org.apache.spark.sql.graftbridge.Bridge.unresolved(f).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }.toSet
      val carried = c.metaCols.toSet ++ Set("id", "dl", "w", "tf", "pband")
      require(refs.subsetOf(carried),
        s"Retrieval.probe: predicate references " +
          s"${(refs -- carried).mkString(", ")} which metaCols " +
          s"(${c.metaCols.mkString(", ")}) would not carry into the postings")
    }
    Similarity.cachedIndex(c.corpus, c.cacheKey, s"bm25|p=${c.pbands}" +
        (if (c.metaCols.isEmpty) "" else s"|m=${c.metaCols.mkString(",")}"),
      Some((newRows, d) => bm25Append(newRows, c.idCol, c.textCol, d)))(
      bm25Build(c.corpus, c.idCol, c.textCol, _, c.pbands, c.metaCols))
  }

  /** Build a persistent BM25 INVERTED INDEX — the lexical twin of the
    * ANN index lifecycle: pay the corpus scan once at build time, then
    * serve every query from partition-pruned posting reads with NO
    * corpus access at all. Layout under `indexDir`:
    *
    *   - `postings/` — `(id, dl, w, tf[, metaCols…])` parquet
    *     partitioned by `pband = pmod(xxhash64(w), pbands)`: a query
    *     touches only its terms' bands (≤ |terms| of `pbands`
    *     partitions — the LSH pband posture; partitioning by raw term
    *     would explode the partition count at web vocabulary sizes);
    *     `metaCols` carry document metadata the FILTERED probes
    *     ([[probe]] with a filter) prune on,
    *   - `df/` — `(w, df)` under the same banding; appends land DELTA
    *     rows, so probes sum df per term ([[indexProbe]]),
    *   - `stats/` — one row `(n, avgdl, sum_dl, pbands)`; (n, sum_dl)
    *     is the additive pair [[bm25Append]] merges, avgdl the derived
    *     serving value (self-describing).
    *
    * Committed through the shared rename-aside [[Similarity.stagedCommit]]
    * (a crashed build can never leave a half-written dir a reader would
    * trust). Probe answers are value-identical to a [[Scan]] probe of the
    * same corpus — the contract the oracle row checks. */
  def bm25Build(df: DataFrame, idCol: String, textCol: String,
                indexDir: String, pbands: Int = 64,
                metaCols: Seq[String] = Nil): Unit = {
    require(pbands > 0, s"bm25Build: pbands must be positive, got $pbands")
    // the reserved set covers the PROBE plumbing too, not just the
    // stored layout: 'df'/'qid' would collide with the probe-time
    // joins (ambiguous reference — a bricked index), and 'n'/'avgdl'
    // would be silently clobbered by the scalar withColumns
    Similarity.requireValidMetaCols(metaCols, bm25Reserved, "bm25Build")
    val spark = df.sparkSession
    val base = prepared(df, idCol, textCol, metaCols)
    // stats store the ADDITIVE pair (n, sum_dl) — avgdl is derived
    // (exact long sum / count, the same arithmetic an append's merged
    // stats produce), so increments merge without revisiting the corpus
    val stats = base.agg(count(lit(1)).cast("double").as("n"),
      (coalesce(sum(col("dl")), lit(0L)) / count(lit(1))).as("avgdl"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
      .withColumn("pbands", lit(pbands))
    val tf = bandedTf(base, pbands, metaCols)
    Similarity.stagedCommit(spark, indexDir) { staging =>
      writePostings(tf, pbands, staging)
      stats.write.mode("overwrite").parquet(s"$staging/stats")
      // the empty-docs sidecar: ids the stats COUNT but the postings
      // cannot see (empty/null text emits zero postings rows) — without
      // it a delete of such a doc could not subtract it from n, and
      // post-delete scores would silently diverge from a fresh build
      // over the survivors (every idf and avgdl reads n). Usually
      // empty or tiny.
      emptyDocIds(base).coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/$emptyDocsName")
    }
  }

  /** The banded per-(doc, term) tf table both [[bm25Build]] and
    * [[bm25Append]] write — one place to keep the layouts identical.
    * `metaCols` (constant per doc) ride the grouping into the postings
    * rows, where the FILTERED probes prune on them. */
  private def bandedTf(base: DataFrame, pbands: Int,
                       metaCols: Seq[String] = Nil): DataFrame =
    base.select((col("id") +: col("dl") +:
        explode(col("__toks")).as("w") +: metaCols.map(col)): _*)
      .filter(col("w") =!= "")
      .groupBy((col("id") +: col("dl") +: col("w") +:
        metaCols.map(col)): _*)
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("pband",
        pmod(xxhash64(col("w")), lit(pbands.toLong)).cast("int"))

  /** Land a banded tf table as the `postings` + `df` pair under
    * `staging` — the build's layout, and an append's delta of it.
    * clusteredWrite, the ANN builds' layout: a bare partitionBy would
    * land up to tasks×pbands tiny files (the LSH pathology its scaladoc
    * measures); clustering on (pband, bounded salt) keeps file count
    * ≈ max(pbands, shufflePartitions). */
  private def writePostings(tf: DataFrame, pbands: Int,
                            staging: String): Unit = {
    Similarity.clusteredWrite(tf, "pband", pbands)
      .write.mode("overwrite").partitionBy("pband")
      .parquet(s"$staging/postings")
    tf.groupBy(col("w"), col("pband"))
      .agg(count(lit(1)).cast("double").as("df"))
      .repartition(col("pband"))
      .write.mode("overwrite").partitionBy("pband").parquet(s"$staging/df")
  }

  /** The partitioned data subdirs a BM25 index appends into — postings
    * carry the replay-fence markers ([[Similarity.stagedAppend]] fences
    * on the FIRST entry). */
  private val bm25DataDirs = Seq("postings", "df")

  /** The postings-invisible-docs sidecar dir: ids whose normalized text
    * emits ZERO postings rows (empty or null text) yet count in the
    * additive stats `n`. [[bm25Delete]] reads it to subtract such docs;
    * nothing on the probe path touches it. */
  private val emptyDocsName = "empty_docs"

  /** Ids of [[prepared]] rows that emit no postings: dl = 0 (text
    * normalizes to "") or dl null (null text — split/size propagate
    * null, and bandedTf's explode drops the row). */
  private def emptyDocIds(base: DataFrame): DataFrame =
    base.filter(col("dl").isNull || col("dl") === 0L).select("id")

  /** The live empty-docs sidecar frame, or None for an index built
    * before the sidecar existed (such an index keeps the old
    * behavior: deleting a postings-less doc cannot subtract it). */
  private def emptyDocsDf(spark: org.apache.spark.sql.SparkSession,
                          indexDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$emptyDocsName")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).select("id"))
    else None
  }

  /** Column names metadata may not use: the stored layout (id, dl, w,
    * tf, pband) plus every name the PROBES introduce — the df and
    * batch-qid joins, and the (n, avgdl) scalar columns. */
  private val bm25Reserved =
    Set("id", "dl", "w", "tf", "pband", "df", "qid", "n", "avgdl")

  /** Self-heal the stats sidecar's ONE loss window:
    * [[Similarity.replaceSidecar]] deletes the live dir before renaming
    * the fully-written staging into place, so a crash between the two
    * leaves the merged sidecar complete at `.stats.staging` and nothing
    * live — unlike the ANN occupancy (recountable from vectors), a lost
    * stats sidecar would brick the index. Restore the staged copy
    * before any read. A staging ALONGSIDE a live stats dir is a
    * pre-delete crash (the staged content never became authoritative)
    * and is left for the next replace to sweep. */
  private def healStatsSidecar(spark: org.apache.spark.sql.SparkSession,
                               indexDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val target = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$indexDir/stats"))
    val staging =
      new org.apache.hadoop.fs.Path(target.getParent, ".stats.staging")
    if (!fs.exists(target) && fs.exists(staging)) fs.rename(staging, target)
  }

  /** The live stats row. Every stats read goes through this chokepoint
    * (heal, then read). `additiveFor` names a verb (append, delete)
    * whose stats merge needs the additive (n, sum_dl) format. */
  private def statsRow(spark: SparkSession, indexDir: String,
                       additiveFor: String = ""): org.apache.spark.sql.Row = {
    healStatsSidecar(spark, indexDir)
    val r = spark.read.parquet(s"$indexDir/stats").head()
    require(additiveFor.isEmpty || r.schema.fieldNames.contains("sum_dl"),
      s"bm25${additiveFor.capitalize}: $indexDir predates the additive " +
        "stats format (no sum_dl column) — rebuild with bm25Build to " +
        s"enable ${additiveFor}s")
    r
  }

  /** BM25's sidecar phase for [[Similarity.stagedAppend]]: fold the
    * staged `(n_delta, sum_dl_delta)` into the live stats sidecar —
    * additive thanks to the (n, sum_dl) format — guarded against
    * double-apply by an `_applied-<id>` marker written atomically with
    * the replaced sidecar (the occupancy-merge pattern). */
  private val bm25StatsApply: Similarity.SidecarApply =
    (spark, indexDir, staging, id) => {
      // deletes stage a tombstone batch alongside their stats delta —
      // move it first so a stranded delete heals through the same walk;
      // appends stage an empty-docs delta the same way
      Similarity.applyStagedTombstones(spark, indexDir, staging, id)
      Similarity.applyStagedAddition(spark, indexDir, staging, id,
        "empty_delta", emptyDocsName)
      val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
      val delta = new org.apache.hadoop.fs.Path(staging, "stats_delta")
      if (fs.exists(delta)) {
        healStatsSidecar(spark, indexDir)
        val statsPath = new org.apache.hadoop.fs.Path(s"$indexDir/stats")
        if (!fs.exists(new org.apache.hadoop.fs.Path(statsPath, s"_applied-$id"))) {
          val cur = spark.read.parquet(statsPath.toString)
          val c = cur.head()
          val fi = cur.schema.fieldIndex _
          val d = spark.read.parquet(delta.toString).head()
          val n = c.getDouble(fi("n")) + d.getLong(0).toDouble
          val sumDl = c.getLong(fi("sum_dl")) + d.getLong(1)
          val pbands = c.getInt(fi("pbands"))
          import spark.implicits._
          val merged = Seq((n, if (n > 0) sumDl.toDouble / n else 0.0,
            sumDl, pbands)).toDF("n", "avgdl", "sum_dl", "pbands")
          Similarity.replaceSidecar(spark, indexDir, "stats") { p =>
            merged.coalesce(1).write.mode("overwrite").parquet(p)
            fs.create(new org.apache.hadoop.fs.Path(p, s"_applied-$id"), true)
              .close()
          }
        }
      }
    }

  /** APPEND new documents to a [[bm25Build]] index WITHOUT re-scanning
    * the indexed corpus — the lexical twin of [[Ann.append]]:
    * tokenize ONLY the new rows, land their postings and df deltas into
    * the existing hash-band partitions, and fold (count, Σdl) into the
    * additive stats sidecar. Everything in a BM25 index is additive —
    * postings rows are per-(doc, term), df rows merge by summation at
    * probe time ([[indexProbe]] aggregates them), and the stats pair
    * (n, sum_dl) adds — so the append costs one scan OF THE INCREMENT,
    * never of the corpus. Crash/retry-safe through
    * [[Similarity.stagedAppend]] (`postings/_append-<id>` replay fence:
    * a retried or replayed batch is a no-op); same single-writer
    * contract as the ANN appends. Caller must append each document id
    * at most once (the ANN contract — re-appending a doc would double
    * its postings). Probe answers afterwards are value-identical to a
    * fresh full-corpus build — the contract the `bm25_append` oracle
    * row pins. `appendId` overrides the batch identity for IN-MEMORY
    * batches (whose rows a plan-derived fingerprint cannot see) — the
    * streaming-ingest shape, same as [[Ann.append]]. */
  def bm25Append(df: DataFrame, idCol: String, textCol: String,
                 indexDir: String, appendId: Option[String] = None): Unit = {
    val spark = df.sparkSession
    Similarity.healStrandedAppends(spark, indexDir, bm25DataDirs, bm25StatsApply)
    val pbands = statsRow(spark, indexDir, "append").getAs[Int]("pbands")
    val batchId = appendId.getOrElse(Similarity.appendBatchId(df))
    // the index is self-describing about its metadata layout: whatever
    // non-structural columns the postings carry, the increment must
    // supply (a missing column fails the select loudly — an appended
    // batch can never silently strand the filtered probes)
    val postingsSchema = spark.read.parquet(s"$indexDir/postings").schema
    val metaCols = postingsSchema.fieldNames
      .filterNot(Set("id", "dl", "w", "tf", "pband")).toSeq
    val base = prepared(df, idCol, textCol, metaCols)
    val tf = bandedTf(base, pbands, metaCols)
    // schema fence (the Ann.append posture, modulo nullability): a
    // meta column whose TYPE drifted from the index's would strand the
    // postings with unmergeable parquet footers
    metaCols.foreach { c =>
      require(tf.schema(c).dataType.sql == postingsSchema(c).dataType.sql,
        s"bm25Append: column '$c' type ${tf.schema(c).dataType.sql} != " +
          s"index type ${postingsSchema(c).dataType.sql}")
    }
    Similarity.stagedAppend(spark, indexDir, batchId, bm25DataDirs,
        bm25StatsApply) { staging =>
      writePostings(tf, pbands, staging)
      base.agg(count(lit(1)).as("n_delta"),
          coalesce(sum(col("dl")), lit(0L)).as("sum_dl_delta"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/stats_delta")
      // appended postings-less docs join the empty-docs sidecar by
      // FILE ADDITION (the tombstone-move discipline, applied in
      // bm25StatsApply) so a delete can subtract them later
      emptyDocIds(base).coalesce(1)
        .write.mode("overwrite").parquet(s"$staging/empty_delta")
    }
  }

  /** DELETE documents from a [[bm25Build]] index WITHOUT a rebuild —
    * the lexical twin of [[Similarity.annDelete]], and the verb a
    * takedown (copyright / PII / GDPR removal) needs at 100-TB scale.
    * Everything a BM25 score reads is either additive or set-filtered,
    * so a delete is the exact INVERSE of an append:
    *
    *  - postings: a tombstone batch lands in the append-only
    *    `tombstones/` sidecar; probes anti-join it away ([[bm25Meta]])
    *    until [[bm25Compact]] physically drops the rows and clears it
    *  - df: NEGATIVE per-(term, band) delta rows land in the df dir —
    *    [[indexProbe]]'s per-term sum nets them out, so post-delete idf
    *    equals a fresh build's over the survivors
    *  - stats: (−n_del, −Σdl_del) folds through the same additive
    *    (n, sum_dl) sidecar merge an append uses
    *
    * which is what makes post-delete scores BIT-IDENTICAL to a fresh
    * [[bm25Build]] over the surviving corpus (integer-exact stats, the
    * `bm25_delete` oracle row's contract). The deltas are computed from
    * the deleted docs' OWN postings rows (one postings scan — a doc's
    * terms scatter across all bands, so no band pruning applies; deletes
    * are rare, appends stay scan-free), restricted to ids not already
    * tombstoned — a repeated or overlapping delete can never subtract
    * twice. Crash/retry-safe through [[Similarity.stagedAppend]]
    * (`postings/_append-del-<id>` fence; a stranded delete heals through
    * the same [[Similarity.healStrandedAppends]] walk as a stranded
    * append). Returns the number of newly tombstoned ids; ids absent
    * from the index tombstone harmlessly (their deltas are empty —
    * presence is measured, not assumed). Single-writer, like appends;
    * re-appending a tombstoned id is unsupported until a compaction
    * clears the tombstones. */
  def bm25Delete(ids: DataFrame, idCol: String, indexDir: String): Long = {
    val spark = ids.sparkSession
    Similarity.healStrandedAppends(spark, indexDir, bm25DataDirs,
      bm25StatsApply)
    statsRow(spark, indexDir, "delete")
    val wanted = ids.select(col(idCol).cast("long").as("id")).distinct()
    val fresh = Similarity.tombstoneDf(spark, indexDir)
      .fold(wanted)(t => wanted.join(t.distinct(), Seq("id"), "left_anti"))
    val (nFresh, fenceId) = Similarity.deleteBatchInfo(fresh)
    if (nFresh == 0) return 0L
    Similarity.stagedAppend(spark, indexDir,
        s"del-$fenceId", bm25DataDirs,
        bm25StatsApply) { staging =>
      fresh.coalesce(1).write.mode("overwrite")
        .parquet(s"$staging/${Similarity.tombstonesName}")
      // deltas from the staged tombstones (the lsh append read-back
      // idiom) joined against the RAW postings — prior tombstones are
      // already excluded from `fresh`, so nothing double-subtracts
      val tomb = spark.read.schema("id LONG")
        .parquet(s"$staging/${Similarity.tombstonesName}")
      val deleted = spark.read.parquet(s"$indexDir/postings")
        .join(tomb, Seq("id"))
      deleted.groupBy(col("w"), col("pband"))
        .agg((-count(lit(1))).cast("double").as("df"))
        .repartition(col("pband"))
        .write.mode("overwrite").partitionBy("pband")
        .parquet(s"$staging/df")
      // n subtracts BOTH presence shapes: docs seen in the postings AND
      // postings-less docs (empty/null text) recorded in the empty-docs
      // sidecar — the stats counted the latter at build/append, and a
      // delete that missed them would leave every idf/avgdl reading a
      // stale n (sum_dl is unaffected: their dl is 0). Presence is
      // measured against `fresh`, so repeated deletes stay exact.
      val emptyPresent = emptyDocsDf(spark, indexDir)
        .map(e => tomb.join(e.distinct(), Seq("id")).count())
        .getOrElse(0L)
      deleted.select(col("id"), col("dl")).distinct()
        .agg((-count(lit(1)) - lit(emptyPresent)).as("n_delta"),
          (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl_delta"))
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/stats_delta")
    }
    nFresh
  }

  /** Convenience [[bm25Delete]] for a driver-side takedown list. */
  def bm25Delete(spark: org.apache.spark.sql.SparkSession,
                 indexDir: String, ids: Seq[Long]): Long = {
    import spark.implicits._
    bm25Delete(ids.toDF("id"), "id", indexDir)
  }

  /** COMPACT an appended BM25 index back to build-shape file counts —
    * the read-amplification bound that keeps an always-appending
    * postings index servable between full rebuilds: each append lands
    * one part file per touched band, so after N appends a band probe
    * reads N small files. Rewrites postings clustered by band
    * ([[Similarity.clusteredWrite]] — the build's own layout), merges
    * the per-append df delta rows back to one row per (term, band), and
    * carries the stats sidecar and the `postings/_append-<id>` replay
    * fences over verbatim (a streaming replay of an already-ingested
    * batch stays a no-op across the compaction). The row multiset is
    * preserved exactly, so probe answers are unchanged. Lands through
    * [[Similarity.stagedCommit]]; single-writer, like every in-place
    * rewrite. */
  def bm25Compact(spark: org.apache.spark.sql.SparkSession,
                  indexDir: String): Similarity.CompactStats = {
    Similarity.healStrandedAppends(spark, indexDir, bm25DataDirs, bm25StatsApply)
    val restoreFences = Similarity.carryAppendFences(spark, indexDir, "postings")
    val (filesBefore, _) =
      Similarity.indexFileStats(spark, indexDir, "postings")
    // the physical-drop point for deletes, as in the ANN compaction:
    // tombstoned postings rows are dropped here, netted-to-zero df rows
    // (terms whose every doc was deleted) are swept, and the tombstones
    // dir itself is discarded by the stagedCommit swap — after which a
    // previously deleted id may be legitimately re-appended
    val tombstonesCleared = Similarity.tombstoneDf(spark, indexDir)
      .map(_.distinct().count()).getOrElse(0L)
    val postings = Similarity.antiTombstoned(spark, indexDir,
      spark.read.parquet(s"$indexDir/postings"))
    val dfT = spark.read.parquet(s"$indexDir/df")
    // snapshot the frozen sidecar BEFORE the swap so the staged write
    // doesn't read through the dir rename
    val stats = statsRow(spark, indexDir)
    val pbands = stats.getAs[Int]("pbands")
    Similarity.stagedCommit(spark, indexDir) { staging =>
      Similarity.clusteredWrite(postings, "pband", pbands)
        .write.mode("overwrite").partitionBy("pband")
        .parquet(s"$staging/postings")
      dfT.groupBy(col("w"), col("pband")).agg(sum(col("df")).as("df"))
        .filter(col("df") =!= 0.0)
        .repartition(col("pband"))
        .write.mode("overwrite").partitionBy("pband").parquet(s"$staging/df")
      spark.createDataFrame(java.util.Arrays.asList(stats), stats.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/stats")
      // carry the empty-docs sidecar MINUS the cleared tombstones (the
      // physical-drop treatment postings get), merged to one file; a
      // pre-sidecar index stays without one
      emptyDocsDf(spark, indexDir).foreach { e =>
        Similarity.antiTombstoned(spark, indexDir, e.distinct())
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$staging/$emptyDocsName")
      }
      restoreFences(staging)
    }
    Similarity.CompactStats(filesBefore,
      Similarity.indexFileStats(spark, indexDir, "postings")._1,
      tombstonesCleared)
  }

  /** Whether a BM25 index has grown past its build-shape postings layout
    * — the [[Ann.compactionDue]] gate for the lexical family
    * (pure FS listing + one stats read, no Spark job over data). */
  def bm25CompactionDue(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): Boolean = {
    val pbands = statsRow(spark, indexDir).getAs[Int]("pbands")
    val saltN = math.max(1,
      spark.sessionState.conf.numShufflePartitions / math.max(1, pbands))
    Similarity.indexFileStats(spark, indexDir, "postings")._2 > saltN
  }

  /** Driver-memoized BM25 index state — the [[Similarity.lshMeta]]
    * posture for the lexical family: the stats scalars (otherwise a
    * Spark job on EVERY probe) and the resolved postings/df DataFrames
    * (whose re-resolution re-lists partitions per probe). Invalidated
    * by the pure FS-metadata [[Similarity.sidecarStamp]] over `stats`
    * (rewritten by every append's sidecar replace and every
    * build/compaction swap) and the `postings` TOP-LEVEL listing
    * (every append lands an `_append-<id>` fence marker there — a
    * path-SET change that doesn't depend on mtime granularity). Warm
    * probe planning after this touches no Spark job at all. */
  private final case class Bm25Meta(n: Double, avgdl: Double, pbands: Int,
                                    postings: DataFrame, dfTable: DataFrame)

  private val bm25MetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Bm25Meta)]()

  private def bm25Meta(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): Bm25Meta = {
    val key = s"${Similarity.sessionTag(spark)}|$indexDir"
    val stamp = Similarity.sidecarStamp(spark, indexDir,
      Seq("stats", "postings", Similarity.tombstonesName))
    val cached = bm25MetaCache.get(key)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val st = statsRow(spark, indexDir)
      // postings tombstone-filtered at the chokepoint (the ivfMeta
      // posture); the df table needs no filter — deletes append
      // NEGATIVE df delta rows and indexProbe's per-term sum nets them
      // out, the same additive path appends ride
      val meta = Bm25Meta(st.getAs[Double]("n"), st.getAs[Double]("avgdl"),
        st.getAs[Int]("pbands"),
        Similarity.antiTombstoned(spark, indexDir,
          spark.read.parquet(s"$indexDir/postings")),
        spark.read.parquet(s"$indexDir/df"))
      Similarity.capCache(bm25MetaCache)
      bm25MetaCache.put(key, (stamp, meta))
      meta
    }
  }

  /** The band of one term, computed DRIVER-SIDE by evaluating the SAME
    * Catalyst [[org.apache.spark.sql.catalyst.expressions.XxHash64]]
    * expression the build's `xxhash64` column used (never a hash
    * reimplementation — only the trivially-exact positive mod runs in
    * Scala), so warm probes plan at zero Spark jobs. */
  private[llm] def termBand(w: String, pbands: Int): Int = {
    val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        w, org.apache.spark.sql.types.StringType)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long]
    java.lang.Math.floorMod(h, pbands.toLong).toInt
  }

  /** The [[Dir]] probe plumbing: the memoized (n, avgdl) stats and the
    * band+term-pruned `postings`/`df` reads for a term set — bands via
    * [[termBand]]. */
  private def indexProbe(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, termList: Seq[String])
      : (Double, Double, DataFrame, DataFrame) = {
    val meta = bm25Meta(spark, indexDir)
    val bands = termList.map(termBand(_, meta.pbands)).distinct
    def pruned(df: DataFrame) =
      df.filter(col("pband").isin(bands: _*) && col("w").isin(termList: _*))
    // df rows are append-deltas by design — sum them per term (a no-op
    // group for a freshly built or compacted index)
    (meta.n, meta.avgdl, pruned(meta.postings),
      pruned(meta.dfTable).groupBy(col("w")).agg(sum(col("df")).as("df")))
  }

  /** Bootstrap a BM25 index from a parquet corpus when `indexDir` holds
    * no built index yet — the [[Ann.ensure]] twin (the serving and
    * ingest jobs' `--build-from`). An existing bm25 index is served
    * as-is: refreshing a live index belongs to [[bm25Append]] /
    * [[bm25Build]] under the single-writer contract. A dir built as an
    * ANN family fails, naming both kinds — building over it would
    * rename the ANN index aside and delete it. */
  def ensure(spark: SparkSession, indexDir: String, corpusUri: String,
             idCol: String, textCol: String, pbands: Int = 64,
             metaCols: Seq[String] = Nil): Unit = {
    healStatsSidecar(spark, indexDir)
    Similarity.indexKind(spark, indexDir) match {
      case Some(kind) => require(kind == "bm25",
        s"Retrieval.ensure: $indexDir is a built '$kind' index, not the " +
          "requested 'bm25' — an existing index is never rebuilt here")
      case None => bm25Build(spark.read.parquet(corpusUri), idCol, textCol,
        indexDir, pbands, metaCols)
    }
  }

  /** Rank-quality EVALUATION of a retrieval run against relevance
    * judgments — the measurement loop every serving stack needs
    * (standard TREC-style metrics, Järvelin & Kekäläinen TOIS'02 for
    * nDCG): `run` holds `(qid, id, rnk)` (1-based ranks, any k),
    * `qrels` holds `(qid, id[, rel])` graded judgments (missing `rel`
    * column → binary 1; rows with rel ≤ 0 are non-relevant and
    * dropped). Returns ONE ROW PER JUDGED QUERY (qrels is the spine —
    * a query the run never answered scores zeros; run qids without
    * judgments are ignored, the trec_eval convention):
    *
    *   (qid, n_rel, n_ret, hits, recall, precision, rr, ap, ndcg)
    *
    *   - recall@k    = hits / n_rel
    *   - precision@k = hits / k (fixed-k denominator, the standard)
    *   - rr          = 1 / rank of the first relevant hit (0 if none)
    *   - ap@k        = Σ_hits P@rnk / n_rel (trec_eval's AP: the
    *     precision at each hit's rank, averaged over ALL judged
    *     relevants — unretrieved relevants count as zeros; mean over
    *     queries = MAP)
    *   - ndcg@k      = Σ_hits (2^rel − 1)/log2(rnk+1) over the ideal
    *     DCG of the top-k judgments ordered (rel desc, id asc) — the
    *     deterministic tie order that makes the metric replayable.
    *
    * All metrics round to 6. Scale shape: one run⋈qrels equi-join plus
    * per-qid aggregations — judgment sets are tiny next to any corpus,
    * and nothing touches the corpus itself. */
  def evalRun(run: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"evalRun: k must be positive, got $k")
    // duplicates must never inflate metrics past 1.0: a doc retrieved
    // at two ranks counts once at its BEST rank, and a judgment
    // repeated (concatenated qrels files) counts once at its highest
    // grade — the trec_eval posture
    val r = run.select(col("qid").cast("long").as("qid"),
        col("id").cast("long").as("id"), col("rnk").cast("long").as("rnk"))
      .filter(col("rnk") <= k)
      .groupBy(col("qid"), col("id")).agg(min(col("rnk")).as("rnk"))
    val hasRel = qrels.columns.contains("rel")
    val q = qrels.select(col("qid").cast("long").as("qid"),
        col("id").cast("long").as("id"),
        (if (hasRel) col("rel").cast("int") else lit(1)).as("rel"))
      .filter(col("rel") > 0)
      .groupBy(col("qid"), col("id")).agg(max(col("rel")).as("rel"))
    val gain = (rel: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =>
      (pow(lit(2.0), rel) - 1.0) / log(2.0, pos + 1.0)
    // ideal DCG: the top-k judgments by (rel desc, id asc)
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rel").desc, col("id").asc)
    val ideal = q.withColumn("pos", row_number().over(iw).cast("long"))
      .filter(col("pos") <= k)
      .groupBy(col("qid"))
      .agg(sum(gain(col("rel"), col("pos"))).as("idcg"))
    val nrel = q.groupBy(col("qid")).agg(count(lit(1)).as("n_rel"))
    // running hit count over the retrieved list (rank order): at a hit
    // row it IS that hit's index, so P@rnk = runningHits / rnk — the AP
    // numerator summed per query. Window state is run-sized (≤ k rows
    // per query), never corpus-sized.
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("rnk").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val per = r.join(q.select(col("qid"), col("id"), col("rel")),
        Seq("qid", "id"), "left")
      .withColumn("__run_hits",
        sum(when(col("rel").isNotNull, 1L).otherwise(0L)).over(rw))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_ret"),
        sum(when(col("rel").isNotNull, 1L).otherwise(0L)).as("hits"),
        min(when(col("rel").isNotNull, col("rnk"))).as("first_rel"),
        sum(when(col("rel").isNotNull, col("__run_hits") / col("rnk"))
          .otherwise(0.0)).as("ap_num"),
        sum(when(col("rel").isNotNull, gain(col("rel"), col("rnk")))
          .otherwise(0.0)).as("dcg"))
    nrel.join(ideal, Seq("qid"))
      .join(per, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
        coalesce(col("n_ret"), lit(0L)).as("n_ret"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("n_rel"), 6).as("recall"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6)
          .as("precision"),
        round(coalesce(lit(1.0) / col("first_rel"), lit(0.0)), 6).as("rr"),
        round(coalesce(col("ap_num"), lit(0.0)) / col("n_rel"), 6).as("ap"),
        round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
  }

  /** The MACRO summary of [[evalRun]] — one row of query-averaged
    * metrics, the numbers a leaderboard quotes: `(n_queries,
    * mean_recall, mean_precision, mrr, map, mean_ndcg)`. Means are over
    * ALL judged queries (zeros included — a query the run never
    * answered drags the mean, as it should). Averages the per-query
    * metrics (already rounded to 6) and rounds the mean — the oracle
    * replays the identical chain, so the two engines can only agree. */
  def evalRunMacro(run: DataFrame, qrels: DataFrame, k: Int): DataFrame =
    evalRun(run, qrels, k).agg(
      count(lit(1)).as("n_queries"),
      round(avg(col("recall")), 6).as("mean_recall"),
      round(avg(col("precision")), 6).as("mean_precision"),
      round(avg(col("rr")), 6).as("mrr"),
      round(avg(col("ap")), 6).as("map"),
      round(avg(col("ndcg")), 6).as("mean_ndcg"))

  /** DuckDB rendering of [[evalRunMacro]]. */
  def evalRunMacroSql(runSql: String, qrelsSql: String, k: Int): String =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_queries,
       |       round(avg(recall), 6) AS mean_recall,
       |       round(avg(precision), 6) AS mean_precision,
       |       round(avg(rr), 6) AS mrr,
       |       round(avg(ap), 6) AS map,
       |       round(avg(ndcg), 6) AS mean_ndcg
       |  FROM (${evalRunSql(runSql, qrelsSql, k)})""".stripMargin

  /** DuckDB rendering of [[evalRun]] over `(runSql, qrelsSql)`
    * subqueries (`runSql` selects (qid, id, rnk); `qrelsSql` selects
    * (qid, id, rel)) — same gains, same tie order, same rounding. */
  def evalRunSql(runSql: String, qrelsSql: String, k: Int): String =
    s"""WITH run AS MATERIALIZED (
       |  SELECT qid, id, min(rnk) AS rnk FROM ($runSql)
       |   WHERE rnk <= $k GROUP BY 1, 2),
       |q AS MATERIALIZED (
       |  SELECT qid, id, max(rel) AS rel FROM ($qrelsSql)
       |   WHERE rel > 0 GROUP BY 1, 2),
       |ideal AS (
       |  SELECT qid, sum((pow(2.0, rel) - 1.0) / log2(pos + 1.0)) AS idcg
       |    FROM (SELECT qid, rel,
       |            row_number() OVER (PARTITION BY qid
       |                               ORDER BY rel DESC, id ASC) AS pos
       |            FROM q)
       |   WHERE pos <= $k GROUP BY 1),
       |nrel AS (SELECT qid, count(*) AS n_rel FROM q GROUP BY 1),
       |joined AS (
       |  SELECT run.qid, run.rnk, q.rel,
       |         sum(CASE WHEN q.rel IS NOT NULL THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY run.qid ORDER BY run.rnk
       |                 ROWS UNBOUNDED PRECEDING) AS run_hits
       |    FROM run LEFT JOIN q ON run.qid = q.qid AND run.id = q.id),
       |per AS (
       |  SELECT qid, count(*) AS n_ret,
       |         sum(CASE WHEN rel IS NOT NULL THEN 1 ELSE 0 END) AS hits,
       |         min(CASE WHEN rel IS NOT NULL THEN rnk END) AS first_rel,
       |         sum(CASE WHEN rel IS NOT NULL
       |                  THEN run_hits * 1.0 / rnk ELSE 0.0 END) AS ap_num,
       |         sum(CASE WHEN rel IS NOT NULL
       |                  THEN (pow(2.0, rel) - 1.0) / log2(rnk + 1.0)
       |                  ELSE 0.0 END) AS dcg
       |    FROM joined GROUP BY 1)
       |SELECT nrel.qid, n_rel,
       |       CAST(coalesce(n_ret, 0) AS BIGINT) AS n_ret,
       |       CAST(coalesce(hits, 0) AS BIGINT) AS hits,
       |       round(coalesce(hits, 0) * 1.0 / n_rel, 6) AS recall,
       |       round(coalesce(hits, 0) * 1.0 / $k, 6) AS precision,
       |       round(coalesce(1.0 / first_rel, 0.0), 6) AS rr,
       |       round(coalesce(ap_num, 0.0) / n_rel, 6) AS ap,
       |       round(coalesce(dcg, 0.0) / idcg, 6) AS ndcg
       |  FROM nrel JOIN ideal USING (qid) LEFT JOIN per ON nrel.qid = per.qid""".stripMargin

  /** Reciprocal-rank fusion of ranked runs (Cormack et al. SIGIR'09):
    * each input frame holds one run's `(id, rnk)` (1-based); the fused
    * score is `Σ_runs 1/(c + rnk)` over the runs where the id appears,
    * and the k best ids by (score desc, id asc) come back as
    * `(id, score, rnk)`. Rank-only fusion — score scales never mix, the
    * standard way to combine a lexical and a semantic run. Each run is
    * already ≤ its own top-k, so the union is tiny; the heap keeps the
    * plan shape uniform with every other top-k here. */
  def rrfFuse(runs: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse: no runs")
    require(k > 0, s"rrfFuse: k must be positive, got $k")
    require(c >= 0, s"rrfFuse: c must be >= 0, got $c")
    // the single-query path IS the batch path under one constant qid —
    // the "every qid's slice fuses exactly as the single path" contract
    // holds by construction instead of by a spec racing two copies of
    // the fusion arithmetic
    rrfFuseBatch(runs.map(_.withColumn("qid", lit(0L))), k, c).drop("qid")
  }

  /** [[rrfFuse]] for a BATCH of queries: each run holds `(qid, id, rnk)`
    * and every qid's slice fuses exactly as the single path — one
    * grouped aggregation + one per-qid bounded heap, never a per-query
    * job. The serving-side fusion of [[graft.streaming.StreamRunner]]'s
    * hybrid job. */
  def rrfFuseBatch(runs: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuseBatch: no runs")
    require(k > 0, s"rrfFuseBatch: k must be positive, got $k")
    require(c >= 0, s"rrfFuseBatch: c must be >= 0, got $c")
    val union = runs
      .map(_.select(col("qid").cast("long").as("qid"),
        col("id").cast("long").as("id"),
        col("rnk").cast("long").as("rnk")))
      .reduce(_ unionByName _)
    val fused = union.groupBy(col("qid"), col("id"))
      .agg(round(sum(lit(1.0) / (lit(c.toDouble) + col("rnk"))), 6).as("score"))
    import graft.functions.TopKF
    fused.groupBy(col("qid"))
      .agg(TopKF.topKByScore(col("score"), col("id"), k).as("topk"))
      .select(col("qid"), posexplode(col("topk")).as(Seq("r", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.score").as("score"), (col("r") + 1).cast("long").as("rnk"))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein SIGIR'98) of a
    * candidate frame `(id, score, vec)` — the post-retrieval pass that
    * trades relevance against redundancy: pick `k` greedily, each pick
    * maximizing `λ·score − (1−λ)·max cos(·, selected)`. One bounded
    * [[graft.functions.MmrSelectAgg]] aggregate — candidates are
    * already a first-stage top-k, so the aggregate state is
    * serving-sized; the greedy runs executor-side. Cosines and marginal
    * scores round to 6 before any comparison, ties break id asc —
    * engine-identical to [[mmrSql]]'s unrolled greedy. Returns
    * `(id, score, mmr, rnk)` in pick order. */
  def mmrRerank(candidates: DataFrame, idCol: String, scoreCol: String,
                vecCol: String, k: Int, lambda: Double = 0.7,
                maxCandidates: Int = 1024): DataFrame = {
    import graft.functions.MmrF
    candidates
      .agg(MmrF.mmrSelect(col(idCol).cast("long"),
        col(scoreCol).cast("double"), col(vecCol), k, lambda,
        maxCandidates).as("picks"))
      .select(posexplode(col("picks")).as(Seq("r", "p")))
      .select(col("p.id").as("id"), col("p.score").as("score"),
        col("p.mmr").as("mmr"), (col("r") + 1).cast("long").as("rnk"))
  }

  /** [[mmrRerank]] for a BATCH of queries: `(qid, id, score, vec)` in,
    * `(qid, id, score, mmr, rnk)` out — one groupBy runs every query's
    * greedy pass in parallel executor-side; the shuffle carries at most
    * `maxCandidates` candidate rows per query. */
  def mmrRerankBatch(candidates: DataFrame, qidCol: String, idCol: String,
                     scoreCol: String, vecCol: String, k: Int,
                     lambda: Double = 0.7,
                     maxCandidates: Int = 1024): DataFrame = {
    import graft.functions.MmrF
    candidates.groupBy(col(qidCol).as("qid"))
      .agg(MmrF.mmrSelect(col(idCol).cast("long"),
        col(scoreCol).cast("double"), col(vecCol), k, lambda,
        maxCandidates).as("picks"))
      .select(col("qid"), posexplode(col("picks")).as(Seq("r", "p")))
      .select(col("qid"), col("p.id").as("id"), col("p.score").as("score"),
        col("p.mmr").as("mmr"), (col("r") + 1).cast("long").as("rnk"))
  }

  /** DuckDB rendering of [[mmrRerank]]: the greedy selection unrolled
    * pick-by-pick over `candSql` (which must select
    * `(id BIGINT, score DOUBLE, embedding DOUBLE[])`) — each step
    * excludes the already-selected ids, penalizes by the max ROUNDED
    * cosine to any selected embedding, rounds the marginal score to 6,
    * and takes the (mmr desc, id asc) winner; same arithmetic, same tie
    * order as the aggregate. */
  def mmrSql(candSql: String, k: Int, lambda: Double = 0.7): String = {
    require(k > 0, s"mmrSql: k must be positive, got $k")
    val sb = new StringBuilder
    sb.append(s"WITH cand AS MATERIALIZED (\n$candSql),\n")
    sb.append(s"""p1 AS MATERIALIZED (
       |  SELECT id, score, embedding, round($lambda * score, 6) AS mmr
       |    FROM cand
       |  QUALIFY row_number() OVER (ORDER BY round($lambda * score, 6) DESC,
       |                             id ASC) = 1),
       |sel1 AS MATERIALIZED (SELECT id, score, embedding, mmr, 1 AS rnk FROM p1)""".stripMargin)
    for (i <- 2 to k) {
      val prev = s"sel${i - 1}"
      sb.append(s""",
       |p$i AS MATERIALIZED (
       |  SELECT c.id, c.score, c.embedding,
       |         round($lambda * c.score - ${1.0 - lambda} *
       |           (SELECT max(round(list_cosine_similarity(c.embedding,
       |                                                    s.embedding), 6))
       |              FROM $prev s), 6) AS mmr
       |    FROM cand c
       |   WHERE c.id NOT IN (SELECT id FROM $prev)
       |  QUALIFY row_number() OVER (ORDER BY mmr DESC, c.id ASC) = 1),
       |sel$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL
       |          SELECT id, score, embedding, mmr, $i AS rnk FROM p$i)""".stripMargin)
    }
    sb.append(s"""
       |SELECT id, score, mmr, CAST(rnk AS BIGINT) AS rnk
       |  FROM sel$k ORDER BY rnk""".stripMargin)
    sb.toString
  }

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** DuckDB rendering of a [[One]] [[probe]] — same tokens, same arithmetic
    * association, same literals, same rounding, same tie order. Renders
    * as a self-contained SELECT; `idAs` renames the output id column.
    * `filterSql` renders the FILTERED contract
    * (a filtered [[probe]]): scores over the FULL corpus
    * (corpus-global statistics), the predicate — a boolean over
    * `$table`'s columns — applied before ranking. */
  def bm25Sql(table: String, idCol: String, textCol: String,
              terms: Seq[String], k: Int, k1: Double = 1.2,
              b: Double = 0.75, idAs: String = "id",
              filterSql: Option[String] = None): String = {
    val inList = terms.distinct.map(sqlQuote).mkString(", ")
    val ranked = filterSql match {
      case None =>
        s"""SELECT id AS $idAs, score,
           |       CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS BIGINT) AS rnk
           |  FROM sc
           |QUALIFY row_number() OVER (ORDER BY score DESC, id ASC) <= $k""".stripMargin
      case Some(f) =>
        s"""SELECT sc.id AS $idAs, score,
           |       CAST(row_number() OVER (ORDER BY score DESC, sc.id ASC) AS BIGINT) AS rnk
           |  FROM sc JOIN $table fm ON sc.id = fm.$idCol
           | WHERE $f
           |QUALIFY row_number() OVER (ORDER BY score DESC, sc.id ASC) <= $k""".stripMargin
    }
    s"""WITH nt AS (
       |  SELECT $idCol AS id,
       |         lower(trim(regexp_replace($textCol, '\\s+', ' ', 'g'))) AS nt
       |    FROM $table),
       |base AS (
       |  SELECT id,
       |         CASE WHEN nt = '' THEN 0
       |              ELSE len(string_split(nt, ' ')) END AS dl, nt
       |    FROM nt),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM base),
       |t AS (SELECT id, dl, unnest(string_split(nt, ' ')) AS w FROM base),
       |tf AS (SELECT id, dl, w, CAST(count(*) AS DOUBLE) AS tf
       |         FROM t WHERE w IN ($inList) GROUP BY 1, 2, 3),
       |d AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT id,
       |         round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |           * (tf * ${k1 + 1.0})
       |           / (tf + $k1 * (${1.0 - b} + $b * (dl / avgdl)))), 6) AS score
       |         FROM tf tt JOIN d USING (w) CROSS JOIN s GROUP BY 1)
       |$ranked""".stripMargin
  }

  /** DuckDB rendering of a [[Batch]] [[probe]]: one [[bm25Sql]] block per
    * query, unioned under its qid literal — value-identical to the
    * single path by construction, which is exactly the batch contract. */
  def bm25BatchSql(table: String, idCol: String, textCol: String,
                   queries: Seq[(Long, Seq[String])], k: Int,
                   k1: Double = 1.2, b: Double = 0.75,
                   filterSql: Option[String] = None): String =
    queries.map { case (qid, ts) =>
      s"""SELECT CAST($qid AS BIGINT) AS qid, id, score, rnk
         |  FROM (${bm25Sql(table, idCol, textCol, ts, k, k1, b,
                            filterSql = filterSql)})""".stripMargin
    }.mkString("\nUNION ALL\n")

  /** DuckDB rendering of [[rrfFuse]] over named run subqueries: each
    * element of `runSqls` must select `(id, rnk)`. */
  def rrfSql(runSqls: Seq[String], k: Int, c: Int = 60): String = {
    val union = runSqls.map(r => s"SELECT id, rnk FROM ($r)")
      .mkString("\nUNION ALL\n")
    s"""WITH runs AS (
       |$union),
       |f AS (SELECT id, round(sum(1.0 / (${c.toDouble} + rnk)), 6) AS score
       |        FROM runs GROUP BY 1)
       |SELECT id, score,
       |       CAST(row_number() OVER (ORDER BY score DESC, id ASC) AS BIGINT) AS rnk
       |  FROM f
       |QUALIFY row_number() OVER (ORDER BY score DESC, id ASC) <= $k""".stripMargin
  }
}
