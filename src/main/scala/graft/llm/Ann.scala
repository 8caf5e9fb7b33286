package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** ONE probe path for the three persistent ANN index families — IVF
  * (coarse lists over float vectors), LSH (Hamming balls over sign
  * signatures) and IVFPQ (coarse lists over product-quantized codes).
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
  * optional float-sidecar refine). */
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

  /** Build parameters of a [[Cached]] or [[Adhoc]] source (a built
    * index dir carries its own). `method`: ivf | lsh. */
  final case class Build(method: String, kLists: Int = 16,
                         trainSample: Int = 2048, nBits: Int = 16,
                         partitionBits: Int = 8,
                         metaCols: Seq[String] = Nil)

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
        val f = Similarity.indexKind(spark, dir).flatMap(familyOf)
          .getOrElse(throw new Rejected(s"'$dir' is not a built ANN index dir"))
        gateRefine(f, p, Some((spark, dir)))
        serve(f)(f.meta(spark, dir), p, qs, single, Some(dir))
      case Cached(df, idCol, vecCol, key, b) =>
        val f = corpusFamily(b.method)
        gateRefine(f, p, None)
        val dir = f.cached(df, idCol, vecCol, key, b, dims.head)
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

  private def familyOf(kind: String): Option[IndexFamily] =
    families.find(_.name == kind)

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

  /** One index family: its snapshot type and the hooks [[probe]] drives. */
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
    def cached(df: DataFrame, idCol: String, vecCol: String, key: String,
               b: Build, dim: Int): String =
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
  }

  /** The coarse-list families (ivf, ivfpq): a query's width is its
    * nprobe nearest lists, read as ONE partition-pruned union with a
    * per-row list-membership predicate. */
  private trait ListFamily extends IndexFamily {
    def centroids(m: Meta): Array[Array[Double]]
    def maxWidth(m: Meta): Int = centroids(m).length
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
    def meta(spark: SparkSession, indexDir: String): Meta =
      Similarity.ivfMeta(spark, indexDir)
    override def adhoc(df: DataFrame, idCol: String, vecCol: String, b: Build,
                       dim: Int): Meta = {
      val centroids = Similarity.trainCentroids(df, idCol, vecCol, b.kLists,
        b.trainSample)
      Similarity.IvfMeta(centroids,
        Similarity.ivfAssign(df, idCol, vecCol, centroids))
    }
    override def cached(df: DataFrame, idCol: String, vecCol: String,
                        key: String, b: Build, dim: Int): String =
      Similarity.cachedIndex(df, key,
        s"ivf|k=${b.kLists}|t=${b.trainSample}" + metaStamp(b),
        Some((newRows, d) => Similarity.ivfAppend(newRows, idCol, vecCol, d))) { d =>
        Similarity.ivfBuild(df, idCol, vecCol, d, b.kLists, b.trainSample,
          b.metaCols); ()
      }
    def centroids(m: Meta): Array[Array[Double]] = m.centroids
    def dim(m: Meta): Int = m.centroids.head.length
    def rows(m: Meta): DataFrame = m.vectors
    def score(m: Meta, g: Group, queries: Seq[Q]): DataFrame =
      exactScored(g.rows, "list", g.keep, queries)
  }

  /** metaCols join the cache stamp: an index without them cannot serve
    * a predicate over them. */
  private def metaStamp(b: Build): String =
    if (b.metaCols.isEmpty) "" else s"|m=${b.metaCols.mkString(",")}"

  private object LshFamily extends IndexFamily {
    type Meta = Similarity.LshMeta
    val name = "lsh"
    val floatVectors = true
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
    override def cached(df: DataFrame, idCol: String, vecCol: String,
                        key: String, b: Build, dim: Int): String =
      Similarity.cachedIndex(df, key,
        s"lsh|b=${b.nBits}|d=$dim|p=${b.partitionBits}" + metaStamp(b),
        Some((newRows, d) => Similarity.lshAppend(newRows, idCol, vecCol, d))) { d =>
        Similarity.lshBuild(df, idCol, vecCol, d, b.nBits, dim, b.partitionBits,
          b.metaCols)
      }
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
    def meta(spark: SparkSession, indexDir: String): Meta =
      Pq.ivfPqMeta(spark, indexDir)
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
