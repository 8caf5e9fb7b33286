package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** ONE probe path and ONE index lifecycle for the three persistent ANN
  * index families — IVF (coarse lists over float vectors), LSH (Hamming
  * balls over sign signatures) and IVFPQ (coarse lists over
  * product-quantized codes).
  *
  * A [[Probe]] spec says WHAT to answer — the queries, the bound (top-k
  * or a cosine range), an optional predicate over the index's columns,
  * the family's query-time knob (`tuning`: nprobe for ivf/ivfpq,
  * minCandidates for lsh top-k, slackBits for lsh range) and an optional
  * refine factor (ivfpq + keepVectors only). A [[Source]] says WHERE
  * from — a built index dir (the family is read from its layout), a
  * fingerprint-cached index over a file-backed corpus (built on first
  * use, appended/rebuilt as the corpus changes), or an ad-hoc in-memory
  * corpus (trained and assigned in-plan, nothing persisted).
  *
  * Everything a probe does beyond the family's own geometry is written
  * once here: validation, chunking at `chunkSize` (the plan-literal
  * bound of the query matrix), the filtered widening loop, the refine
  * gate, [[ProbeStats]] legs and the two result tails. A [[One]] query
  * answers (id, cos) — float families through the orderBy/limit rerank;
  * a [[Batch]] answers (qid, id, cos) through the native
  * [[graft.functions.MatVecDots]] scoring and the bounded-heap
  * [[graft.functions.TopKF]] tail, so batch ≡ per-query by construction.
  *
  * The family hooks ([[IndexFamily]]) are few: `meta` (the memoized,
  * stamp-invalidated index snapshot), `candidates` (the pruned read plus
  * each query's list or Hamming-ball membership), `widen` (double
  * nprobe or the radius) and `score` (exact cosine, or ADC with an
  * optional float-sidecar refine).
  *
  * The lifecycle verbs — [[ensure]], [[append]], [[compact]] /
  * [[compactionDue]], [[retrain]], [[dim]] and [[streamTypes]] — read
  * the family from the dir's layout too, and write the shared steps
  * once: metadata-column derivation and the type fence, crash healing,
  * the staged append and commit, replay-fence carry and tombstone drop.
  * The families contribute their layout (`reserved` columns, partition
  * column and count, data dirs), how new rows are assigned, encoded or
  * signed, which sidecars a compaction carries, and how they retrain
  * and build. A caller's `method` string is only checked against a built
  * layout ([[checkMethod]]), never dispatched on. */
object Ann {

  sealed trait Bound
  /** The k best cosines per query (ties: cos desc, id asc). */
  final case class TopK(k: Int) extends Bound
  /** Every id with `cos >= minCos` (rounded to 6, as every probe). */
  final case class Range(minCos: Double) extends Bound

  sealed trait Queries
  /** One query vector; the answer is (id, cos). */
  final case class One(vec: Seq[Double]) extends Queries
  /** (qid, vector) pairs; the answer is (qid, id, cos). */
  final case class Batch(queries: Seq[(Long, Seq[Double])]) extends Queries

  /** What to answer. `filter` is a predicate over the index's stored
    * columns (id + the build's metaCols); a filtered top-k widens its
    * probe until k eligible candidates survive. `refine` = N: ivfpq
    * ADC nominates k×N candidates (top-k) or loosens the threshold by
    * 0.05·N (range), and true cosines from the float sidecar decide.
    * `chunkSize` bounds the query matrix per plan; `maxEnumBuckets`
    * caps an lsh prefix ball before the probe falls back to a scan. */
  final case class Probe(queries: Queries, bound: Bound,
                         filter: Option[Column] = None,
                         tuning: Option[Int] = None,
                         refine: Option[Int] = None,
                         chunkSize: Int = 256,
                         maxEnumBuckets: Int = 4096)

  /** Build parameters of a [[Cached]] or [[Adhoc]] source (`method`:
    * ivf | lsh) and of an [[ensure]] bootstrap (any family; a built index
    * dir carries its own). `trainSample` sizes the ivf coarse-quantizer
    * sample (ivfpq trains on its own 4096-row sample); `pqM`, `pqK`,
    * `keepVectors` and `opq` shape an ivfpq build. An lsh build takes
    * its dim from the corpus. */
  final case class Build(method: String, kLists: Int = 16,
                         trainSample: Int = 2048, nBits: Int = 16,
                         partitionBits: Int = 8,
                         metaCols: Seq[String] = Nil,
                         pqM: Int = 8, pqK: Int = 64,
                         keepVectors: Boolean = false,
                         opq: Boolean = false)

  sealed trait Source
  /** A built index dir; the family comes from its layout. */
  final case class Dir(spark: SparkSession, indexDir: String) extends Source
  /** An index over a file-backed corpus, built once per `cacheKey` and
    * rebuilt (or appended) when the corpus files or build params change. */
  final case class Cached(corpus: DataFrame, idCol: String, vecCol: String,
                          cacheKey: String, build: Build) extends Source
  /** An in-memory corpus, trained/signed in-plan per call. A filter
    * applies to the corpus before the probe (no widening needed). */
  final case class Adhoc(corpus: DataFrame, idCol: String, vecCol: String,
                         build: Build) extends Source

  /** A probe the source cannot serve as asked (refine on a float
    * family, a missing float sidecar, an unknown method or layout). */
  final class Rejected(msg: String) extends IllegalArgumentException(msg)

  /** Families a [[Cached]] or [[Adhoc]] source can build from a corpus. */
  val corpusMethods: Seq[String] = Seq("ivf", "lsh")

  private[llm] type Q = (Long, Seq[Double])

  /** One pruned read of a probe round: `members` index the round's
    * queries it serves, `keep` is the per-(row, pos) membership
    * predicate of the batch tail (pos = position within `members`). */
  private[llm] final case class Group(rows: DataFrame, members: Seq[Int],
                                      keep: Column)

  def probe(source: Source, p: Probe): DataFrame = {
    val (qs, single) = p.queries match {
      case One(v)   => (Seq(0L -> v), true)
      case Batch(b) => (b, false)
    }
    require(qs.nonEmpty, "Ann.probe: empty query batch")
    val dims = qs.map(_._2.size).distinct
    require(dims.size == 1, s"Ann.probe: ragged query dims $dims")
    require(p.chunkSize > 0, "Ann.probe: chunkSize must be positive")
    p.bound match {
      case TopK(k)  => require(k > 0, s"Ann.probe: k must be positive, got $k")
      case Range(t) => require(t > -1.0 && t <= 1.0,
        s"Ann.probe: minCos must be in (-1, 1], got $t")
    }
    p.tuning.foreach(t => require(t >= 0, s"Ann.probe: tuning must be >= 0, got $t"))
    p.refine.foreach(f => require(f >= 1,
      s"Ann.probe: refine factor must be >= 1 (range slack is 0.05·refine), got $f"))
    // the widening loop and the refine rerank key answers by QID: a
    // duplicate would merge two queries' candidate pools
    if (p.filter.isDefined || p.refine.isDefined)
      require(qs.map(_._1).distinct.size == qs.size,
        "Ann.probe: duplicate qids in one batch")
    source match {
      case Dir(spark, dir) =>
        val f = dirFamily(spark, dir)
        gateRefine(f, p, Some((spark, dir)))
        serve(f)(f.meta(spark, dir), p, qs, single, Some(dir))
      case Cached(df, idCol, vecCol, key, b) =>
        val f = corpusFamily(b.method)
        gateRefine(f, p, None)
        // metaCols join the stamp: an index without them cannot serve a
        // predicate over them
        val dir = Similarity.cachedIndex(df, key, f.cacheParams(b, dims.head) +
            (if (b.metaCols.isEmpty) "" else s"|m=${b.metaCols.mkString(",")}"),
          Some((newRows, d) => append(newRows, idCol, vecCol, d)))(
          f.build(df, idCol, vecCol, _, b))
        serve(f)(f.meta(df.sparkSession, dir), p, qs, single, Some(dir))
      case Adhoc(df, idCol, vecCol, b) =>
        val f = corpusFamily(b.method)
        gateRefine(f, p, None)
        val corpus = p.filter.fold(df)(df.filter)
        serve(f)(f.adhoc(corpus, idCol, vecCol, b, dims.head),
          p.copy(filter = None), qs, single, None)
    }
  }

  private val families: Seq[IndexFamily] = Seq(IvfFamily, LshFamily, IvfPqFamily)

  /** The ANN family names, as [[Similarity.indexKind]] reports them. */
  val methods: Seq[String] = families.map(_.name)

  private def familyOf(kind: String): Option[IndexFamily] =
    families.find(_.name == kind)

  private def methodFamily(method: String, who: String): IndexFamily =
    familyOf(method).getOrElse(throw new IllegalArgumentException(
      s"$who: unknown ANN method '$method' (${methods.mkString(" | ")})"))

  /** The family of a built index dir, read from its layout. */
  private[llm] def dirFamily(spark: SparkSession, indexDir: String): IndexFamily =
    Similarity.indexKind(spark, indexDir).flatMap(familyOf)
      .getOrElse(throw new Rejected(s"'$indexDir' is not a built ANN index dir"))

  private def corpusFamily(method: String): IndexFamily =
    familyOf(method).filter(f => corpusMethods.contains(f.name))
      .getOrElse(throw new Rejected(
        s"unknown ANN method '$method' (${corpusMethods.mkString(" | ")})"))

  /** Refine is for the code family (ivfpq), and only over a keepVectors
    * index: float layouts already score true cosines, and a codes-only
    * index has no true vectors to rerank with. */
  private def gateRefine(f: IndexFamily, p: Probe,
                         dir: Option[(SparkSession, String)]): Unit =
    if (p.refine.isDefined) {
      if (f.floatVectors) throw new Rejected(
        "refine applies only to an ivfpq index (float layouts already " +
          (p.bound match {
            case _: Range => "threshold true cosines)"
            case _        => "rank by true cosines)"
          }))
      dir.foreach { case (spark, d) =>
        if (!Pq.hasVectorSidecar(spark, d)) throw new Rejected(
          s"refine needs the float sidecar ($d/${Pq.vectorSidecarDir} is " +
            "missing) — the index was built without keepVectors; probe " +
            "unrefined or rebuild with keepVectors")
      }
    }

  // ── the index lifecycle: each verb written once over the family hooks,
  // the family read from the dir's layout ──

  /** Fail fast when a job's configured `method` names no ANN family or
    * disagrees with the layout of an already-built `indexDir`. A dir not
    * built yet passes: a bootstrap may still build it, and a missing
    * index fails the job's first probe instead. */
  def checkMethod(spark: SparkSession, indexDir: String, method: String,
                  who: String): Unit = {
    methodFamily(method, who)
    Similarity.indexKind(spark, indexDir).foreach(kind => require(kind == method,
      s"$who: method '$method' but $indexDir is a built '$kind' index"))
  }

  /** Whether `method`'s layout stores float vectors (ivf, lsh) rather
    * than codes (ivfpq, whose floats live in the optional sidecar). */
  def storesFloats(method: String): Boolean =
    methodFamily(method, "Ann").floatVectors

  /** The embedding dim a built index expects, from the memoized sidecar
    * meta: zero Spark jobs warm, so a serving layer checks query dims
    * before probing. */
  def dim(spark: SparkSession, indexDir: String): Int = {
    val f = dirFamily(spark, indexDir)
    f.dim(f.meta(spark, indexDir))
  }

  /** The (id, vector) column types an appended batch must carry, modulo
    * nullability. A code layout (ivfpq) takes array<double> vectors and
    * encodes them, so a stream types its vector column that way (jsonl's
    * natural shape; parquet type widening accepts narrower float files). */
  def streamTypes(spark: SparkSession, indexDir: String): (DataType, DataType) = {
    val f = dirFamily(spark, indexDir)
    val rows = f.rows(f.meta(spark, indexDir))
    (rows.schema("id").dataType,
      if (f.floatVectors) rows.schema("v").dataType else ArrayType(DoubleType))
  }

  /** Bootstrap an index from a parquet corpus when `indexDir` holds no
    * built index yet (the build commits atomically through
    * [[Similarity.stagedCommit]]). An existing index is never rebuilt
    * here — refreshing belongs to [[append]] or an explicit rebuild — and
    * a dir built as another family than `b.method` fails, naming both. */
  def ensure(spark: SparkSession, indexDir: String, corpusUri: String,
             idCol: String, vecCol: String, b: Build): Unit = {
    val f = methodFamily(b.method, "Ann.ensure")
    Similarity.indexKind(spark, indexDir) match {
      case Some(kind) => require(kind == f.name,
        s"Ann.ensure: $indexDir is a built '$kind' index, not the requested " +
          s"'${f.name}' — an existing index is never rebuilt here")
      case None => f.build(spark.read.parquet(corpusUri), idCol, vecCol, indexDir, b)
    }
  }

  /** APPEND rows to a built index without a rebuild: the family assigns
    * them to its frozen lists (ivf), encodes them with its frozen
    * codebooks too (ivfpq, floats to the sidecar when the index keeps
    * one), or signs them with its recorded hyperplanes (lsh — exact: the
    * grown index equals a full rebuild as a row multiset, and the
    * occupancy histogram takes the batch's delta). One pass over the NEW
    * rows only. The index's metadata columns are re-derived from its
    * layout, so a batch missing one fails loudly, and a column whose type
    * drifted (float vs double) fails before any write: it would strand
    * the index with unmergeable parquet footers.
    *
    * The rows land through [[Similarity.stagedAppend]]: a retried or
    * replayed append of the same batch is a no-op, readers are safe
    * throughout, and a crashed earlier append is healed first. `appendId`
    * overrides the batch identity (a fingerprint of a file-backed batch,
    * else a fresh UUID) — pass a stable caller-side id, such as a
    * streaming `checkpoint#batchId`, when the frame cannot prove two
    * calls are the same batch.
    *
    * Drift: appended rows are probed exactly, but the frozen centroids
    * (and codebooks) quantize a drifted distribution worse — monitor
    * [[Similarity.ivfSkew]] and [[retrain]] on growth. */
  def append(df: DataFrame, idCol: String, vecCol: String, indexDir: String,
             appendId: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val f = dirFamily(spark, indexDir)
    val m = f.meta(spark, indexDir)
    val live = f.rows(m)
    val metaCols = live.columns.toSeq.filterNot(f.reserved)
    val rows = f.assign(m, df, idCol, vecCol, metaCols)
    // `.sql` compares modulo nullability: an in-memory batch's non-null
    // array<float> appends safely into the index's nullable one
    (Seq("id", "v").filter(live.columns.contains) ++ metaCols).foreach { c =>
      require(rows.schema(c).dataType.sql == live.schema(c).dataType.sql,
        s"Ann.append: column '$c' type ${rows.schema(c).dataType.sql} != " +
          s"index type ${live.schema(c).dataType.sql}")
    }
    val dirs = f.dataDirs(spark, indexDir)
    Similarity.healStrandedAppends(spark, indexDir, dirs)
    Similarity.stagedAppend(spark, indexDir,
        appendId.getOrElse(Similarity.appendBatchId(df)), dirs) { staging =>
      f.stageAppend(m, rows, metaCols, staging, dirs)
    }
  }

  /** The partition count of a built index (lists, or 2^pBits bands),
    * from the memoized meta. */
  private[llm] def partitions(spark: SparkSession, indexDir: String): Int = {
    val f = dirFamily(spark, indexDir)
    f.partitions(f.meta(spark, indexDir))
  }

  /** Whether an index has grown past its BUILD-SHAPE layout, so that a
    * [[compact]] would merge something. Build shape is not one file per
    * partition: [[Similarity.clusteredWrite]] salts each partition across
    * up to numShufflePartitions/partitions writer tasks, so a fresh (or
    * just-compacted) index legitimately holds that many files per
    * partition. One FS listing plus the memoized meta: no Spark job warm. */
  def compactionDue(spark: SparkSession, indexDir: String): Boolean = {
    val saltN = math.max(1, spark.sessionState.conf.numShufflePartitions /
      math.max(1, partitions(spark, indexDir)))
    Similarity.indexFileStats(spark, indexDir)._2 > saltN
  }

  /** COMPACT an appended index: rewrite its data dirs back to the file
    * shape a fresh build produces, recomputing nothing — no retrain, no
    * signature pass, one clustered read-rewrite of the index's own files.
    * Each append lands one part file per partition, so compaction bounds
    * the probes' read amplification between (much rarer) retrains.
    *
    * The row multiset is preserved, so probes answer identically: the
    * family carries its frozen sidecars over verbatim (centroids; the
    * codebooks with their `enc` marker and, on a keepVectors ivfpq index,
    * the float sidecar beside the codes; the lsh meta row, with the
    * occupancy recounted from the rewritten rows). Tombstoned rows are
    * dropped physically here and the tombstones cleared (the staged
    * index never carries them). Crashed appends are healed first, and
    * the `_append-<id>` replay fences are carried over, so a replay of
    * an already-ingested batch stays a no-op. The rewrite lands through
    * [[Similarity.stagedCommit]]: a crash leaves the previous index.
    *
    * Single-writer, like an in-place rebuild (run it from the index's
    * ingest job, as [[graft.streaming.StreamRunner.annIngestJob]]'s
    * `compactEvery` does). A reader racing the dir swap can see files
    * vanish; the serving streams re-resolve and retry such a read. */
  def compact(spark: SparkSession, indexDir: String): Similarity.CompactStats = {
    val f = dirFamily(spark, indexDir)
    val dirs = f.dataDirs(spark, indexDir)
    Similarity.healStrandedAppends(spark, indexDir, dirs)
    val restoreFences = Similarity.carryAppendFences(spark, indexDir)
    val (filesBefore, _) = Similarity.indexFileStats(spark, indexDir)
    val tombstonesCleared = Similarity.tombstoneDf(spark, indexDir)
      .map(_.distinct().count()).getOrElse(0L)
    val m = f.meta(spark, indexDir)
    val n = f.partitions(m)
    val carry = f.carrySidecars(spark, indexDir, m)
    Similarity.stagedCommit(spark, indexDir) { staging =>
      dirs.foreach { d =>
        // a float sidecar is read through id-In pushdowns: it keeps the
        // (partition, id) sort its build gave it
        writeParts(Similarity.antiTombstoned(spark, indexDir,
            spark.read.parquet(s"$indexDir/$d")),
          f.partCol, n, s"$staging/$d", sortById = d != dirs.head)
      }
      carry(staging)
      restoreFences(staging)
    }
    Similarity.CompactStats(filesBefore,
      Similarity.indexFileStats(spark, indexDir)._1, tombstonesCleared)
  }

  /** Fail unless `indexDir` can [[retrain]] in place: lsh appends are
    * exact and never drift, and an ivfpq index needs its float sidecar. */
  def requireRetrainable(spark: SparkSession, indexDir: String,
                         who: String): Unit = {
    retrainSource(spark, indexDir, who); ()
  }

  private def retrainSource(spark: SparkSession, indexDir: String,
                            who: String): (IndexFamily, String) = {
    val f = dirFamily(spark, indexDir)
    f.retrainFrom(spark, indexDir).fold(
      why => throw new IllegalArgumentException(
        s"$who: $indexDir cannot retrain in place — $why"),
      source => (f, source))
  }

  /** RETRAIN a drifted index FROM ITS OWN ROWS (ivf: its vectors; ivfpq:
    * its float sidecar — codes cannot re-encode themselves), never from
    * the source corpus, which a long-running ingest job no longer has.
    * New centroids train on a deterministic hash-spread sample (the
    * build's lowest-id sample would miss the appended, usually highest-id,
    * rows a retrain exists to absorb); an ivfpq index re-trains its
    * codebooks (and OPQ rotation) under its declared encoding too. Every
    * row re-assigns and the whole layout rewrites through
    * [[Similarity.stagedCommit]], tombstoned rows dropped, replay fences
    * carried. Keeps the list count. Single-writer, reader-quiesced, like
    * every in-place rewrite. Returns the new centroids. */
  def retrain(spark: SparkSession, indexDir: String): Array[Array[Double]] = {
    val (f, source) = retrainSource(spark, indexDir, "Ann.retrain")
    Similarity.healStrandedAppends(spark, indexDir, f.dataDirs(spark, indexDir))
    val restoreFences = Similarity.carryAppendFences(spark, indexDir)
    val m = f.meta(spark, indexDir)
    val all = Similarity.antiTombstoned(spark, indexDir,
      spark.read.parquet(s"$indexDir/$source"))
    val metaCols = all.columns.toSeq.filterNot(f.reserved)
    val rows = all.select("id" +: "v" +: metaCols map col: _*)
    val (centroids, write) = f.retrain(m, rows, metaCols, f.partitions(m))
    Similarity.stagedCommit(spark, indexDir) { staging =>
      write(staging)
      Similarity.writeCentroids(spark, s"$staging/centroids", centroids)
      restoreFences(staging)
    }
    centroids
  }

  /** The clustered, partitioned write every layout lands through. */
  private def writeParts(rows: DataFrame, partCol: String, n: Int,
                         path: String, sortById: Boolean = false): Unit = {
    val clustered = Similarity.clusteredWrite(rows, partCol, n)
    (if (sortById) clustered.sortWithinPartitions(partCol, "id") else clustered)
      .write.mode("overwrite").partitionBy(partCol).parquet(path)
  }

  private def serve(f: IndexFamily)(m: f.Meta, p: Probe, qs: Seq[Q],
                                    single: Boolean,
                                    dir: Option[String]): DataFrame = {
    val dim = f.dim(m)
    require(qs.head._2.size == dim,
      s"Ann.probe: query dim ${qs.head._2.size} != index dim $dim")
    if (qs.size > p.chunkSize)
      return qs.grouped(p.chunkSize)
        .map(c => serve(f)(m, p, c, single, dir))
        .reduce(_ unionByName _)
    val spark = f.rows(m).sparkSession
    val eligible = p.filter.fold(f.rows(m))(f.rows(m).filter(_))
    val starts = f.start(m, p, qs, eligible)
    val op = f.name + (if (p.filter.isDefined) "_filtered" else "") +
      (p.bound match { case _: Range => "_range"; case _ => "" }) +
      (if (p.refine.isDefined) "_refined" else "")
    // each group's (pos, id, cos) scores and its queries' qids; `members`
    // index the round's own query list
    def scored(groups: Seq[Group], round: Seq[Q]): Seq[(DataFrame, Seq[Long])] =
      groups.map { g =>
        val sub = g.members.map(round)
        f.score(m, g, sub) -> sub.map(_._1)
      }
    // a single float query keeps the exact orderBy/limit rerank over
    // its (exactly membership-filtered) candidates; everything else goes
    // through the family's batch scoring and the shared tails
    val exactSingle = single && f.floatVectors
    p.bound match {
      case Range(t) =>
        ProbeStats.record(op, qs.size, starts.min, starts.max, 0)
        val groups = f.candidates(m, eligible, qs, starts, p, single)
        if (exactSingle && p.refine.isEmpty)
          return exactRange(groups.head.rows, qs.head._2, t)
        val net = t - 0.05 * p.refine.getOrElse(0)
        val out = scored(groups, qs).map { case (s, ids) => rangeTail(s, ids, net) }
          .reduce(_ unionByName _)
        val answer = p.refine.fold(out)(_ =>
          f.refineRange(m, dir.get, qs, out.select("qid", "id"), starts, t))
        if (single) answer.select("id", "cos") else answer
      case TopK(k) if p.filter.isEmpty && p.refine.isEmpty =>
        ProbeStats.record(op, qs.size, starts.min, starts.max, 0)
        val groups = f.candidates(m, eligible, qs, starts, p, single)
        if (exactSingle) rerank(groups.head.rows, qs.head._2, k)
        else {
          val out = scored(groups, qs).map { case (s, ids) => topKTail(s, ids, k) }
            .reduce(_ unionByName _)
          if (single) out.select("id", "cos") else out
        }
      case TopK(k) =>
        // the widening loop: each round answers every still-unsatisfied
        // query in ONE pruned pass and collects (≤ target rows per
        // query); a query finalizes once `target` eligible candidates
        // survive or its probe is full-width (unfiltered: round one).
        // Refined rounds target the whole k×N nomination budget, so the
        // rerank never sees a truncated candidate set.
        val target = k * p.refine.getOrElse(1)
        val done = scala.collection.mutable.LinkedHashMap.empty[Int, (Int, Seq[Row])]
        var pending = qs.indices.zip(starts)
        var schema: org.apache.spark.sql.types.StructType = null
        var reached = starts.max
        var rounds = 0
        while (pending.nonEmpty) {
          reached = math.max(reached, pending.map(_._2).max)
          rounds += 1
          val live = pending.map(_._1)
          val sub = live.map(qs)
          val groups = f.candidates(m, eligible, sub, pending.map(_._2), p, single)
          val res =
            if (exactSingle) rerank(groups.head.rows, sub.head._2, target)
            else {
              val out = scored(groups, sub)
                .map { case (s, ids) => topKTail(s, ids, target) }
                .reduce(_ unionByName _)
              if (single) out.select("id", "cos") else out
            }
          val rows = res.collect().toSeq
          schema = res.schema
          val byQ: Map[Long, Seq[Row]] =
            if (single) Map(sub.head._1 -> rows) else rows.groupBy(_.getLong(0))
          val (fin, todo) = pending.partition { case (i, w) =>
            p.filter.isEmpty || w >= f.maxWidth(m) ||
              byQ.getOrElse(qs(i)._1, Nil).size >= target
          }
          fin.foreach { case (i, w) => done(i) = (w, byQ.getOrElse(qs(i)._1, Nil)) }
          pending = todo.map { case (i, w) => (i, f.widen(m, w)) }
        }
        ProbeStats.record(op, qs.size, starts.min, reached, rounds - 1)
        import spark.implicits._
        p.refine match {
          case Some(_) =>
            val idAt = if (single) 0 else 1
            val nominees = done.toSeq.flatMap { case (i, (_, rows)) =>
              rows.map(r => (qs(i)._1, r.getLong(idAt))) }
            val answer =
              if (nominees.isEmpty) Seq.empty[(Long, Long, Double)].toDF("qid", "id", "cos")
              else f.refineTopK(m, dir.get, qs, nominees,
                qs.indices.map(i => done(i)._1), k)
            if (single) answer.select("id", "cos") else answer
          case None if single =>
            Similarity.localFrame(spark, done(0)._2.toArray, schema)
          case None =>
            done.valuesIterator.flatMap(_._2)
              .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
              .sortBy { case (qid, id, cos) => (qid, -cos, id) }
              .toDF("qid", "id", "cos")
        }
    }
  }

  /** Exact cosine top-k of one query over float candidates (id, v):
    * the single-query rerank. Unscorable rows (null or NaN cosine) are
    * excluded exactly as in [[Similarity.bruteForceTopK]]. */
  private def rerank(cands: DataFrame, query: Seq[Double], k: Int): DataFrame = {
    val qLit = array(query.map(lit): _*)
    cands
      .select(col("id"), round(Similarity.cosine(col("v"), qLit), 6).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Exact cosine range of one query over float candidates: map-only. */
  private def exactRange(cands: DataFrame, query: Seq[Double],
                         minCos: Double): DataFrame = {
    val qLit = array(query.map(lit): _*)
    cands.select(col("id"), round(Similarity.cosine(col("v"), qLit), 6).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")) &&
        col("cos") >= minCos)
  }

  /** The batch top-k tail: bounded-heap top-k per query position over
    * (pos, id, cos) rows — the only shuffle carries ≤ partitions ×
    * queries × k rows. Returns (qid, id, cos). */
  private def topKTail(scored: DataFrame, qids: Seq[Long], k: Int): DataFrame =
    scored
      .groupBy("pos")
      .agg(graft.functions.TopKF.topKByScore(col("cos"), col("id"), k).as("topk"))
      .select(element_at(array(qids.map(lit): _*), col("pos") + 1).as("qid"),
        explode(col("topk")).as("hit"))
      .select(col("qid"), col("hit.id").as("id"), col("hit.score").as("cos"))

  /** The batch range tail: a map-only threshold, no aggregation at all.
    * Returns (qid, id, cos). */
  private def rangeTail(scored: DataFrame, qids: Seq[Long],
                        minCos: Double): DataFrame =
    scored.filter(col("cos") >= minCos)
      .select(element_at(array(qids.map(lit): _*), col("pos") + 1).as("qid"),
        col("id"), col("cos"))

  /** Exact cosine of every candidate row (id, v, `keepCol`) against each
    * query of its group in ONE native [[graft.functions.MatVecDots]]
    * pass, the group's membership predicate keeping each query to its
    * own candidates. Corpus rows that cannot be scored (null/NaN/zero
    * norm) drop before scoring; degenerate queries after. Returns
    * (pos, cos, id). */
  private[llm] def exactScored(rows: DataFrame, keepCol: String, keep: Column,
                               queries: Seq[Q]): DataFrame = {
    import graft.functions.{MatVecF, VectorF}
    val qNorms = queries.map { case (_, q) => math.sqrt(q.map(x => x * x).sum) }
    rows
      .withColumn("vnorm", VectorF.norm(col("v")))
      .filter(col("vnorm").isNotNull && !isnan(col("vnorm")) && col("vnorm") > 0)
      .select(col("id"), col(keepCol), col("vnorm"),
        posexplode(MatVecF.dots(col("v"), queries.map(_._2))))
      .filter(keep)
      .select(col("pos"),
        round(col("col") / (col("vnorm") *
          element_at(array(qNorms.map(lit): _*), col("pos") + 1)), 6).as("cos"),
        col("id"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
  }

  /** One index family: its snapshot type, the hooks [[probe]] drives
    * and the lifecycle hooks [[append]], [[compact]], [[retrain]] and
    * [[ensure]] drive. */
  private[llm] trait IndexFamily {
    type Meta
    /** The layout name [[Similarity.indexKind]] reports; also the
      * [[ProbeStats]] op prefix. */
    def name: String
    /** Candidates carry float vectors `v` (exact cosine) — not codes. */
    def floatVectors: Boolean
    /** The memoized, stamp-invalidated snapshot of a built index. */
    def meta(spark: SparkSession, indexDir: String): Meta
    def adhoc(df: DataFrame, idCol: String, vecCol: String, b: Build,
              dim: Int): Meta =
      throw new Rejected(s"$name has no ad-hoc form")
    /** The build-parameter stamp of a [[Cached]] index. */
    def cacheParams(b: Build, dim: Int): String =
      throw new Rejected(s"$name has no cached form")
    def dim(m: Meta): Int
    /** The (tombstone-filtered) index rows. */
    def rows(m: Meta): DataFrame
    def maxWidth(m: Meta): Int
    /** Each query's starting width (lists, or Hamming radius). */
    def start(m: Meta, p: Probe, qs: Seq[Q], eligible: DataFrame): Seq[Int]
    def widen(m: Meta, width: Int): Int = math.min(width * 2, maxWidth(m))
    /** The pruned read(s) serving `qs` at `widths`; a single query's
      * read is EXACTLY its candidate set (the rerank input). */
    def candidates(m: Meta, eligible: DataFrame, qs: Seq[Q], widths: Seq[Int],
                   p: Probe, single: Boolean): Seq[Group]
    /** (pos, id, cos) rows of one group against its queries. */
    def score(m: Meta, g: Group, queries: Seq[Q]): DataFrame
    def refineTopK(m: Meta, dir: String, qs: Seq[Q], nominees: Seq[(Long, Long)],
                   widths: Seq[Int], k: Int): DataFrame =
      throw new Rejected(s"$name cannot refine")
    def refineRange(m: Meta, dir: String, qs: Seq[Q], nominated: DataFrame,
                    widths: Seq[Int], minCos: Double): DataFrame =
      throw new Rejected(s"$name cannot refine")

    /** Structural layout columns; every other index column is build
      * metadata (what a filtered probe predicates on). */
    def reserved: Set[String]
    /** The layout's partition column and how many values it takes. */
    def partCol: String
    def partitions(m: Meta): Int
    /** The partitioned data dirs appends, heals and compactions move in
      * lockstep; the first carries the `_append-<id>` replay fences. */
    def dataDirs(spark: SparkSession, indexDir: String): Seq[String] =
      Seq("vectors")
    /** A fresh index over `df` at `indexDir`, committed atomically. */
    def build(df: DataFrame, idCol: String, vecCol: String, indexDir: String,
              b: Build): Unit
    /** New (id, v, metaCols…) rows in the layout's form: assigned to the
      * frozen lists, encoded, or signed. */
    def assign(m: Meta, df: DataFrame, idCol: String, vecCol: String,
               metaCols: Seq[String]): DataFrame
    /** Stage assigned rows, and any sidecar delta, under an append's
      * staging dir. */
    def stageAppend(m: Meta, rows: DataFrame, metaCols: Seq[String],
                    staging: String, dataDirs: Seq[String]): Unit =
      writeParts(rows, partCol, partitions(m), s"$staging/vectors")
    /** Stage a delete batch's sidecar delta; the ids sit in
      * `staging/tombstones`. */
    def stageDelete(spark: SparkSession, indexDir: String,
                    staging: String): Unit = ()
    /** Snapshot the sidecars a compaction keeps; the result writes them
      * into the staged index (after its data dirs). */
    def carrySidecars(spark: SparkSession, indexDir: String,
                      m: Meta): String => Unit
    /** The data dir holding the float rows an in-place retrain trains
      * on, or why the index cannot retrain. */
    def retrainFrom(spark: SparkSession, indexDir: String): Either[String, String]
    /** Train `k` lists (and codebooks) on `rows`: the new centroids and
      * the writer of the re-assigned layout under a staging dir. */
    def retrain(m: Meta, rows: DataFrame, metaCols: Seq[String],
                k: Int): (Array[Array[Double]], String => Unit) =
      throw new Rejected(s"$name cannot retrain")
  }

  /** The coarse-list families (ivf, ivfpq): a query's width is its
    * nprobe nearest lists, read as ONE partition-pruned union with a
    * per-row list-membership predicate. */
  private trait ListFamily extends IndexFamily {
    def centroids(m: Meta): Array[Array[Double]]
    def maxWidth(m: Meta): Int = centroids(m).length
    val partCol = "list"
    def partitions(m: Meta): Int = centroids(m).length
    def carrySidecars(spark: SparkSession, indexDir: String,
                      m: Meta): String => Unit = {
      val cs = centroids(m)
      staging => Similarity.writeCentroids(spark, s"$staging/centroids", cs)
    }
    /** `nprobe`, clamped to the list count when a filter's widening
      * loop will double it. */
    def start(m: Meta, p: Probe, qs: Seq[Q], eligible: DataFrame): Seq[Int] = {
      val nprobe = p.tuning.getOrElse(8)
      Seq.fill(qs.size)(
        if (p.filter.isDefined) math.min(math.max(1, nprobe), maxWidth(m))
        else nprobe)
    }
    /** A filtered round whose union covers every list reads the eligible
      * rows unpruned. */
    def candidates(m: Meta, eligible: DataFrame, qs: Seq[Q], widths: Seq[Int],
                   p: Probe, single: Boolean): Seq[Group] = {
      val lists = probed(m, qs, widths)
      val all = lists.flatten.distinct
      val rows =
        if (p.filter.isDefined && all.size >= maxWidth(m)) eligible
        else eligible.filter(col("list").isin(all: _*))
      val probeLit = array(lists.map(ls => array(ls.map(lit): _*)): _*)
      Seq(Group(rows, qs.indices,
        array_contains(element_at(probeLit, col("pos") + 1), col("list"))))
    }
    def probed(m: Meta, qs: Seq[Q], widths: Seq[Int]): Seq[Seq[Int]] =
      qs.zip(widths).map { case ((_, q), w) =>
        Similarity.nearestLists(centroids(m), q.toArray, w) }
  }

  private object IvfFamily extends ListFamily {
    type Meta = Similarity.IvfMeta
    val name = "ivf"
    val floatVectors = true
    val reserved = Set("id", "v", "list")
    def meta(spark: SparkSession, indexDir: String): Meta =
      Similarity.ivfMeta(spark, indexDir)
    override def adhoc(df: DataFrame, idCol: String, vecCol: String, b: Build,
                       dim: Int): Meta = {
      val centroids = Similarity.trainCentroids(df, idCol, vecCol, b.kLists,
        b.trainSample)
      Similarity.IvfMeta(centroids,
        Similarity.ivfAssign(df, idCol, vecCol, centroids))
    }
    override def cacheParams(b: Build, dim: Int): String =
      s"ivf|k=${b.kLists}|t=${b.trainSample}"
    def build(df: DataFrame, idCol: String, vecCol: String, indexDir: String,
              b: Build): Unit = {
      Similarity.ivfBuild(df, idCol, vecCol, indexDir, b.kLists, b.trainSample,
        b.metaCols)
      ()
    }
    def assign(m: Meta, df: DataFrame, idCol: String, vecCol: String,
               metaCols: Seq[String]): DataFrame =
      Similarity.ivfAssign(df, idCol, vecCol, m.centroids, metaCols)
    def retrainFrom(spark: SparkSession, indexDir: String): Either[String, String] =
      Right("vectors")
    override def retrain(m: Meta, rows: DataFrame, metaCols: Seq[String],
                         k: Int): (Array[Array[Double]], String => Unit) = {
      val cs = Similarity.retrainCentroids(rows, k, trainSample = 2048)
      (cs, staging => writeParts(Similarity.ivfAssign(rows, "id", "v", cs, metaCols),
        "list", k, s"$staging/vectors"))
    }
    def centroids(m: Meta): Array[Array[Double]] = m.centroids
    def dim(m: Meta): Int = m.centroids.head.length
    def rows(m: Meta): DataFrame = m.vectors
    def score(m: Meta, g: Group, queries: Seq[Q]): DataFrame =
      exactScored(g.rows, "list", g.keep, queries)
  }

  private object LshFamily extends IndexFamily {
    type Meta = Similarity.LshMeta
    val name = "lsh"
    val floatVectors = true
    val reserved = Set("id", "v", "bucket", "pband")
    val partCol = "pband"
    def partitions(m: Meta): Int = 1 << m.pBits
    def meta(spark: SparkSession, indexDir: String): Meta =
      Similarity.lshMeta(spark, indexDir)
    override def adhoc(df: DataFrame, idCol: String, vecCol: String, b: Build,
                       dim: Int): Meta = {
      val bucketed = Similarity.lshBuckets(df, idCol, vecCol, b.nBits, dim)
      // radius planning replays a ONE-job bucket histogram locally (a
      // range probe never plans, so never pays it)
      new Similarity.LshMeta(b.nBits, dim, 0, {
        val hist = bucketed.filter(col("bucket").isNotNull)
          .groupBy("bucket").count()
          .limit(Similarity.maxHistogramBuckets + 1).collect()
        if (hist.length <= Similarity.maxHistogramBuckets)
          Some((hist.map(_.getLong(0)), hist.map(_.getLong(1))))
        else None
      }, bucketed, partitioned = false)
    }
    override def cacheParams(b: Build, dim: Int): String =
      s"lsh|b=${b.nBits}|d=$dim|p=${b.partitionBits}"
    def build(df: DataFrame, idCol: String, vecCol: String, indexDir: String,
              b: Build): Unit =
      Similarity.lshBuild(df, idCol, vecCol, indexDir, b.nBits,
        Similarity.firstVectorDim(df, vecCol, "lshBuild"), b.partitionBits,
        b.metaCols)
    def assign(m: Meta, df: DataFrame, idCol: String, vecCol: String,
               metaCols: Seq[String]): DataFrame =
      Similarity.lshBuckets(df, idCol, vecCol, m.nBits, m.dim, metaCols)
        .withColumn("pband", shiftrightunsigned(col("bucket"), m.nBits - m.pBits))
    /** The batch's per-bucket occupancy delta stages beside its rows, so
      * the histogram merge survives a crash after the part-file moves.
      * It is read back from the staged write under an explicit schema: an
      * all-filtered-out batch stages no part file to infer one from. */
    override def stageAppend(m: Meta, rows: DataFrame, metaCols: Seq[String],
                             staging: String, dataDirs: Seq[String]): Unit = {
      super.stageAppend(m, rows, metaCols, staging, dataDirs)
      rows.sparkSession.read.schema(rows.schema).parquet(s"$staging/vectors")
        .filter(col("bucket").isNotNull).groupBy("bucket").count()
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/delta")
    }
    /** The deleted rows' negative per-bucket counts, when the index keeps
      * an occupancy histogram (one without it counts probes exactly). */
    override def stageDelete(spark: SparkSession, indexDir: String,
                             staging: String): Unit = {
      val occupancy = new org.apache.hadoop.fs.Path(s"$indexDir/occupancy")
      if (occupancy.getFileSystem(spark.sessionState.newHadoopConf())
          .exists(occupancy)) {
        val tomb = spark.read.schema("id LONG")
          .parquet(s"$staging/${Similarity.tombstonesName}")
        spark.read.parquet(s"$indexDir/vectors")
          .join(tomb, Seq("id"))
          .filter(col("bucket").isNotNull)
          .groupBy("bucket").agg((-count(lit(1))).as("count"))
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/delta")
      }
    }
    /** The meta row verbatim; the occupancy recounted from the rewritten
      * rows (which also repairs a histogram lost to an earlier crash). */
    def carrySidecars(spark: SparkSession, indexDir: String,
                      m: Meta): String => Unit = staging => {
      import spark.implicits._
      Seq((m.nBits, m.dim, m.pBits)).toDF("n_bits", "dim", "partition_bits")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/meta")
      spark.read.parquet(s"$staging/vectors")
        .filter(col("bucket").isNotNull)
        .groupBy("bucket").count()
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/occupancy")
    }
    def retrainFrom(spark: SparkSession, indexDir: String): Either[String, String] =
      Left("lsh appends are exact and never drift, so there is no " +
        "quantizer to retrain")
    def dim(m: Meta): Int = m.dim
    def rows(m: Meta): DataFrame = m.vectors
    def maxWidth(m: Meta): Int = m.nBits
    private def sig(m: Meta, q: Seq[Double]): Long =
      Similarity.querySignature(q, Similarity.hyperplanes(m.nBits, m.dim))
    def start(m: Meta, p: Probe, qs: Seq[Q], eligible: DataFrame): Seq[Int] =
      p.bound match {
        case Range(t) =>
          Seq.fill(qs.size)(Similarity.rangeRadius(m.nBits, t,
            p.tuning.getOrElse(4)))
        case _ =>
          val minCands = p.tuning.getOrElse(100)
          qs.map { case (_, q) =>
            val s = sig(m, q)
            // the counting fallback (no occupancy histogram) probes
            // through the same pruned read as the answer
            Similarity.chooseRadius(m.histogram, s, m.nBits, minCands)(r =>
              Similarity.prunedCandidates(eligible, m, s, r, p.maxEnumBuckets)
                .limit(minCands).count())
          }
      }
    def candidates(m: Meta, eligible: DataFrame, qs: Seq[Q], widths: Seq[Int],
                   p: Probe, single: Boolean): Seq[Group] = {
      val sigs = qs.map { case (_, q) => sig(m, q) }
      if (single)
        return Seq(Group(Similarity.prunedCandidates(eligible, m, sigs.head,
          widths.head, p.maxEnumBuckets), Seq(0), lit(true)))
      // PER-GROUP pruning: queries whose prefix ball enumerates share
      // ONE union-pruned read; overflow queries share one scan — one
      // wide-ball query never costs the others their pruning, and each
      // query's own Hamming predicate makes the split answer-neutral
      val balls = sigs.zip(widths).map { case (s, r) =>
        if (m.partitioned)
          Similarity.prefixBall(s, m.nBits, m.pBits, r, p.maxEnumBuckets)
        else None
      }
      val (enumIx, scanIx) = qs.indices.partition(i => balls(i).isDefined)
      def keep(ix: Seq[Int]): Column =
        bit_count(col("bucket").bitwiseXOR(
            element_at(array(ix.map(i => lit(sigs(i))): _*), col("pos") + 1))) <=
          element_at(array(ix.map(i => lit(widths(i))): _*), col("pos") + 1)
      Seq(
        if (enumIx.isEmpty) None else Some(Group(
          eligible.filter(col("pband").isin(Similarity.pbandLiterals(m,
            enumIx.flatMap(i => balls(i).get).distinct): _*)),
          enumIx, keep(enumIx))),
        if (scanIx.isEmpty) None else Some(Group(eligible, scanIx, keep(scanIx)))
      ).flatten
    }
    def score(m: Meta, g: Group, queries: Seq[Q]): DataFrame =
      exactScored(g.rows, "bucket", g.keep, queries)
  }

  private object IvfPqFamily extends ListFamily {
    type Meta = Pq.IvfPqIndex
    val name = "ivfpq"
    val floatVectors = false
    val reserved = Set("id", "v", "list", "codes")
    def meta(spark: SparkSession, indexDir: String): Meta =
      Pq.ivfPqMeta(spark, indexDir)
    /** A keepVectors index appends, heals and compacts its float sidecar
      * in lockstep with the codes. */
    override def dataDirs(spark: SparkSession, indexDir: String): Seq[String] =
      if (Pq.hasVectorSidecar(spark, indexDir)) Seq("vectors", Pq.vectorSidecarDir)
      else Seq("vectors")
    def build(df: DataFrame, idCol: String, vecCol: String, indexDir: String,
              b: Build): Unit =
      Pq.ivfPqBuild(df, idCol, vecCol, indexDir, b.kLists, b.pqM, b.pqK,
        metaCols = b.metaCols, keepVectors = b.keepVectors, opq = b.opq)
    /** Frozen lists AND frozen codebooks, encoded under the index's own
      * formulation (its `enc`: raw, residual or rotated residual). */
    def assign(m: Meta, df: DataFrame, idCol: String, vecCol: String,
               metaCols: Seq[String]): DataFrame =
      Similarity.ivfAssign(df, idCol, vecCol, m.centroids, metaCols)
        .withColumn("codes", Pq.codesFor(m.residual, m.model, m.centroids, m.rot))
    override def stageAppend(m: Meta, rows: DataFrame, metaCols: Seq[String],
                             staging: String, dataDirs: Seq[String]): Unit =
      if (dataDirs.contains(Pq.vectorSidecarDir))
        Pq.writeCodesAndFloats(rows, metaCols, m.centroids.length,
          s"$staging/vectors", s"$staging/${Pq.vectorSidecarDir}")
      else
        writeParts(rows.select("id" +: "list" +: "codes" +: metaCols map col: _*),
          "list", m.centroids.length, s"$staging/vectors")
    /** The centroids, and the codebooks snapshotted rows AND schema: the
      * `enc` marker must survive, or residual codes would re-read as raw. */
    override def carrySidecars(spark: SparkSession, indexDir: String,
                               m: Meta): String => Unit = {
      val writeCentroids = super.carrySidecars(spark, indexDir, m)
      val books = spark.read.parquet(s"$indexDir/codebooks")
      val (rows, schema) = (books.collect(), books.schema)
      staging => {
        writeCentroids(staging)
        Similarity.localFrame(spark, rows, schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$staging/codebooks")
      }
    }
    def retrainFrom(spark: SparkSession, indexDir: String): Either[String, String] =
      if (Pq.hasVectorSidecar(spark, indexDir)) Right(Pq.vectorSidecarDir)
      else Left(s"it carries no ${Pq.vectorSidecarDir} float sidecar (built " +
        "without keepVectors, --keep-vectors) and codes cannot re-encode " +
        "themselves; rebuild from the source corpus instead")
    override def retrain(m: Meta, rows: DataFrame, metaCols: Seq[String],
                         k: Int): (Array[Array[Double]], String => Unit) =
      Pq.retrainLayout(m, rows, metaCols, k)
    def centroids(m: Meta): Array[Array[Double]] = m.centroids
    def dim(m: Meta): Int = m.model.m * m.model.subDim
    def rows(m: Meta): DataFrame = m.vectors
    def score(m: Meta, g: Group, queries: Seq[Q]): DataFrame =
      Pq.adcCosScored(g.rows, m, queries, g.keep)
    // every nominee came from one of its query's probed lists, so the
    // sidecar read prunes to their union losslessly
    private def probedLists(m: Meta, qs: Seq[Q], widths: Seq[Int]): Seq[Int] =
      probed(m, qs, widths).flatten.distinct
    override def refineTopK(m: Meta, dir: String, qs: Seq[Q],
                            nominees: Seq[(Long, Long)], widths: Seq[Int],
                            k: Int): DataFrame =
      Pq.topKPerQid(Pq.nomineeTrueCosines(m.vectors.sparkSession, dir, qs,
        nominees, probedLists(m, qs, widths)), k)
    override def refineRange(m: Meta, dir: String, qs: Seq[Q],
                             nominated: DataFrame, widths: Seq[Int],
                             minCos: Double): DataFrame =
      Pq.trueCosinesOf(m.vectors.sparkSession, dir, qs, nominated,
        probedLists(m, qs, widths)).filter(col("cos") >= minCos)
  }
}
