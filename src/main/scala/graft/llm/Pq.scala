package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., PAMI'11 — the FAISS-standard
  * ANN memory shape): split each vector into `m` subvectors, k-means
  * each subspace to `k` codewords, store one byte per subvector. A
  * 64-dim float vector becomes `m` bytes — 32× smaller at m=8 — and
  * query scoring never decodes: ADC (asymmetric distance computation)
  * precomputes the query's dot product against every codeword
  * (an m×k table, driver-side, microseconds) and scores a row as `m`
  * table lookups.
  *
  * The hot paths are two native codegen'd loops: encoding is the whole
  * m×k argmin as one primitive pass per row
  * ([[graft.functions.PqEncode]]), and probe scoring is one
  * [[graft.functions.PqAdcDots]] pass that resolves a code row against
  * EVERY query of a batch (and the reconstruction-norm tables) in a
  * single loop. Training mirrors the [[Embeddings.pcaFit]] posture:
  * deterministic bounded sample, seeded driver k-means per subspace, so
  * the codebook is reproducible at any parallelism. IVFPQ indexes
  * default to RESIDUAL encoding ([[pqTrainResidual]] — Jégou §III-C),
  * recorded in the self-describing `enc` sidecar column.
  *
  * Accuracy contract: ADC is an approximation (quantization error per
  * subspace); probes rank by the EXACT cosine of the query against the
  * PQ reconstruction (closed-form from the codes — see adcCosScored),
  * the spec pins recall vs exact top-k on natural queries, residual-vs-
  * raw fidelity, and exactness on planted duplicate cliques (identical
  * vectors share codes, so their scores tie at the top by
  * construction). */
object Pq {

  /** codebooks(m)(k) = the k-th codeword of subspace m (subDim doubles). */
  final case class PqModel(m: Int, k: Int, subDim: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    def compression(bytesPerFloat: Int = 4): Double =
      (subDim.toLong * m * bytesPerFloat).toDouble / m
  }

  /** Deterministic bounded training sample: the first `trainSample` rows
    * by id, as double arrays (the [[Embeddings.pcaFit]] posture — same
    * sample at any parallelism). */
  private def sampleVecs(df: DataFrame, idCol: String, vecCol: String,
                         trainSample: Int): Array[Array[Double]] =
    // EXCLUDE malformed rows (null vectors / null elements) exactly as
    // trainCentroids and the probe paths do — one bad row in the sample
    // otherwise kills the whole build AFTER the centroid-training pass
    df.select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(trainSample)
      .collect().flatMap { r =>
        val xs = r.getSeq[Any](1)
        if (xs == null || xs.contains(null)) None
        else Some(xs.map {
          case f: Float => f.toDouble; case d: Double => d
          case n: Number => n.doubleValue()
        }.toArray)
      }

  /** Train an (m × k) codebook on a deterministic bounded sample. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
              m: Int, k: Int, trainSample: Int = 4096): PqModel =
    trainBooks("pqTrain",
      sampleAndValidate("pqTrain", df, idCol, vecCol, m, k, trainSample),
      m, k)

  /** The shared trainer body: deterministic sample + dim/param guards
    * (ONE implementation, so the raw and residual trainers can never
    * diverge on sampling, seeding, or validation). */
  private def sampleAndValidate(who: String, df: DataFrame, idCol: String,
                                vecCol: String, m: Int, k: Int,
                                trainSample: Int): Array[Array[Double]] = {
    require(m > 0 && k > 1 && k <= 256, s"$who: need m > 0, 1 < k <= 256")
    val sample = sampleVecs(df, idCol, vecCol, trainSample)
    require(sample.nonEmpty, s"$who: empty training sample")
    val dims = sample.map(_.length).distinct
    require(dims.length == 1,
      s"$who: ragged vector dims ${dims.toSeq.sorted} in the training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"$who: dim $dim not divisible by m=$m")
    sample
  }

  /** Per-subspace seeded k-means over an already-validated sample.
    * Subspaces are independent — k-means them concurrently (driver-side
    * CPU work, ~m × iters × n × k × subDim flops; serial it dominated
    * at the default m=8). Seeds are 42+mi in BOTH trainers. */
  private def trainBooks(who: String, sample: Array[Array[Double]],
                         m: Int, k: Int): PqModel = {
    val subDim = sample.head.length / m
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val books = Await.result(Future.sequence((0 until m).map { mi =>
      Future {
        val subs = sample.map(v => v.slice(mi * subDim, (mi + 1) * subDim))
        kmeansLocal(subs, k, seed = 42L + mi)
      }
    }), Duration.Inf).toArray
    PqModel(m, k, subDim, books)
  }

  /** Train an (m × k) codebook on RESIDUALS `v − centroid[list]` — the
    * standard IVFPQ formulation (Jégou et al. PAMI'11 §III-C, the FAISS
    * IVFADC default): subtracting each vector's coarse centroid
    * concentrates the quantizer's input range around the origin, so the
    * same k codewords spend their capacity on the WITHIN-list geometry
    * instead of re-describing the between-list offsets the IVF lists
    * already encode — materially better ADC fidelity on clustered data,
    * which IVF lists create by construction. Same deterministic sample
    * and seeded per-subspace k-means as [[pqTrain]]; list assignment of
    * the sample replays [[Similarity.ivfAssign]]'s argmin driver-side. */
  def pqTrainResidual(df: DataFrame, idCol: String, vecCol: String,
                      centroids: Array[Array[Double]], m: Int, k: Int,
                      trainSample: Int = 4096): PqModel = {
    val sample = sampleAndValidate("pqTrainResidual", df, idCol, vecCol,
      m, k, trainSample)
    val dim = sample.head.length
    require(centroids.nonEmpty && centroids.head.length == dim,
      s"pqTrainResidual: centroid dim ${centroids.headOption.map(_.length)} != $dim")
    val residuals = sample.map { v =>
      val c = centroids(nearestIdx(centroids, v))
      Array.tabulate(dim)(j => v(j) - c(j))
    }
    trainBooks("pqTrainResidual", residuals, m, k)
  }

  /** Train an OPTIMIZED-PQ model on residuals — codebooks PLUS a learned
    * orthogonal rotation R (Ge et al., CVPR'13 "Optimized Product
    * Quantization", the non-parametric alternation): codes quantize
    * z = R·(v − c_list), so the rotation re-mixes correlated dimensions
    * across subspaces before the per-subspace k-means, recovering the
    * accuracy a fixed axis-aligned split leaves on the table. Each round
    * (a) trains codebooks on the rotated residuals and (b) updates R by
    * the orthogonal-Procrustes closed form — SVD(Ẑ·Xᵀ) = U·S·Vᵀ,
    * R ← U·Vᵀ — which is the exact minimizer of ‖R·X − Ẑ‖_F over
    * orthogonal R; a final codebook pass trains against the settled
    * rotation. Deterministic end to end (seeded k-means, closed-form
    * SVD, fixed iteration count); all driver-side over the bounded
    * sample, like every trainer here. Returns (model, R). */
  def pqTrainOpq(df: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Double]], m: Int, k: Int,
                 trainSample: Int = 4096, iters: Int = 6)
      : (PqModel, Array[Array[Double]]) = {
    require(iters > 0, s"pqTrainOpq: iters must be positive, got $iters")
    val sample = sampleAndValidate("pqTrainOpq", df, idCol, vecCol,
      m, k, trainSample)
    val dim = sample.head.length
    require(centroids.nonEmpty && centroids.head.length == dim,
      s"pqTrainOpq: centroid dim ${centroids.headOption.map(_.length)} != $dim")
    val subDim = dim / m
    val residuals = sample.map { v =>
      val c = centroids(nearestIdx(centroids, v))
      Array.tabulate(dim)(j => v(j) - c(j))
    }
    var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until iters) {
      val z = residuals.map(x => matVec(r, x))
      val model = trainBooks("pqTrainOpq", z, m, k)
      val zhat = z.map(encodeDecode(model, _, subDim))
      // Procrustes update: M = Ẑ·Xᵀ (dim×dim, accumulated over the
      // sample), R = U·Vᵀ of its SVD
      val mm = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      residuals.indices.foreach { i =>
        val x = residuals(i); val zh = zhat(i)
        var a = 0
        while (a < dim) {
          val za = zh(a); var b = 0
          while (b < dim) { mm(a, b) += za * x(b); b += 1 }
          a += 1
        }
      }
      val s = breeze.linalg.svd(mm)
      val ru = s.U * s.Vt
      r = Array.tabulate(dim, dim)((i, j) => ru(i, j))
    }
    val model = trainBooks("pqTrainOpq",
      residuals.map(x => matVec(r, x)), m, k)
    (model, r)
  }

  /** Driver-side PQ round trip z → codes → ẑ (per-subspace argmin then
    * codeword concat) — the trainer's reconstruction step. */
  private def encodeDecode(model: PqModel, z: Array[Double],
                           subDim: Int): Array[Double] = {
    val out = new Array[Double](z.length)
    var mi = 0
    while (mi < model.m) {
      var best = 0; var bestD = Double.MaxValue; var ki = 0
      while (ki < model.k) {
        val cw = model.codebooks(mi)(ki)
        var d = 0.0; var j = 0
        while (j < subDim) {
          val t = z(mi * subDim + j) - cw(j); d += t * t; j += 1
        }
        if (d < bestD) { bestD = d; best = ki }
        ki += 1
      }
      System.arraycopy(model.codebooks(mi)(best), 0, out, mi * subDim, subDim)
      mi += 1
    }
    out
  }

  /** argmin ‖x − c‖² over centroids, ties to the smaller index — the
    * driver-side replay of [[graft.functions.NearestCentroid]]'s
    * assignment (same tie-break), used to residualize the training
    * sample consistently with the in-plan list assignment. */
  private def nearestIdx(centroids: Array[Array[Double]],
                         x: Array[Double]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < centroids.length) {
      var s = 0.0; var j = 0
      while (j < x.length) { val t = x(j) - centroids(c)(j); s += t * t; j += 1 }
      if (s < bd) { bd = s; best = c }
      c += 1
    }
    best
  }

  /** Seeded Lloyd k-means on driver-resident subvectors (≤ trainSample ×
    * subDim doubles — bytes, not gigabytes). Init strides over VALUE-
    * distinct points and empty clusters re-seed from successive distinct
    * farthest points, so codewords stay distinct whenever the data has
    * ≥ k distinct values — duplicated training data (the common corpus
    * case) cannot collapse codebook capacity. */
  private def kmeansLocal(xs: Array[Array[Double]], k: Int,
                          seed: Long, iters: Int = 20): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val n = xs.length
    // stride over the first occurrence of each distinct value (input
    // order, deterministic); duplicates in the sample would otherwise
    // seed identical centers that Lloyd can never separate
    var centers: Array[Array[Double]] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
      xs.foreach(x => seen += x.toSeq)
      val distinct = seen.toArray
      val dn = distinct.length
      Array.tabulate(k)(i =>
        if (dn >= k) distinct((i.toLong * dn / k).toInt).toArray
        else if (i < dn) distinct(i).toArray
        else xs(rnd.nextInt(n)).clone())
    }
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    var it = 0
    while (it < iters) {
      val assign = xs.map { x =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) { val dd = d2(x, centers(c)); if (dd < bd) { bd = dd; best = c }; c += 1 }
        best
      }
      val byCluster = Array.fill(k)(scala.collection.mutable.ArrayBuffer.empty[Int])
      assign.zipWithIndex.foreach { case (c, i) => byCluster(c) += i }
      val next = new Array[Array[Double]](k)
      (0 until k).foreach { c =>
        val members = byCluster(c)
        if (members.nonEmpty) {
          val acc = new Array[Double](xs.head.length)
          members.foreach { i =>
            var j = 0; while (j < acc.length) { acc(j) += xs(i)(j); j += 1 }
          }
          next(c) = acc.map(_ / members.size)
        }
      }
      val empties = (0 until k).filter(next(_) == null)
      if (empties.nonEmpty) {
        // the i-th empty cluster takes the i-th farthest VALUE-distinct
        // point — re-seeding every empty from the same single farthest
        // point would just recreate the duplicate-codeword problem
        val ranked = xs.indices.sortBy(i => -d2(xs(i), centers(assign(i))))
        val used = scala.collection.mutable.Set.empty[Seq[Double]]
        val picks = ranked.iterator.filter(i => used.add(xs(i).toSeq))
        empties.foreach { c =>
          next(c) = if (picks.hasNext) xs(picks.next()).clone()
                    else xs(rnd.nextInt(n)).clone()
        }
      }
      centers = next
      it += 1
    }
    centers
  }

  /** The (row-local, codegen'd) PQ-codes expression for `vecCol`: the
    * whole m×k argmin runs as ONE native primitive loop per row
    * ([[graft.functions.PqEncode]]) — the previous composed form
    * (slice + dot + array_min over (dist, k) structs) allocated m·k
    * struct rows per vector and was the dominant cost of every PQ
    * query. Ties still break to the smaller codeword id. */
  def codesCol(vecCol: String, model: PqModel): Column =
    graft.functions.PqF.pqEncode(col(vecCol), flatCodebook(model),
      model.m, model.k, model.subDim)

  /** The (mi·k + ki)·subDim flattened codebook layout both encoders
    * ship to [[graft.functions.PqEncode]] — ONE copy of the indexing
    * so the raw and residual paths can never drift. */
  private def flatCodebook(model: PqModel): Array[Double] = {
    val flat = new Array[Double](model.m * model.k * model.subDim)
    for (mi <- 0 until model.m; ki <- 0 until model.k) {
      System.arraycopy(model.codebooks(mi)(ki), 0, flat,
        (mi * model.k + ki) * model.subDim, model.subDim)
    }
    flat
  }

  /** (id, codes array<tinyint>): per-subspace nearest codeword. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               model: PqModel): DataFrame =
    df.select(col(idCol).as("id"), codesCol(vecCol, model).as("codes"))

  /** RESIDUAL PQ-codes expression: encode `v − centroid[list]` with a
    * residual-trained codebook ([[pqTrainResidual]]). The subtraction is
    * a codegen'd `zip_with` against the centroid-matrix literal (one
    * nested-array literal in the plan, kLists×dim doubles — shipped
    * once, not per row); the m×k argmin stays the native
    * [[graft.functions.PqEncode]] loop. Runs only at build/append time —
    * probes never decode. */
  def codesColRes(vecCol: String, listCol: String, model: PqModel,
                  centroids: Array[Array[Double]],
                  rot: Option[Array[Array[Double]]] = None): Column = {
    val centsLit = typedLit(centroids.map(_.toSeq).toSeq)
    val residual = zip_with(
      col(vecCol).cast("array<double>"),
      element_at(centsLit, col(listCol) + 1),
      (x, c) => x - c)
    // OPQ: rotate the residual into codeword space before the argmin —
    // R·r via the native MatVecDots loop (R's rows as the query matrix)
    val encoded = rot match {
      case Some(r) =>
        graft.functions.MatVecF.dots(residual, r.map(_.toSeq).toSeq)
      case None => residual
    }
    graft.functions.PqF.pqEncode(encoded, flatCodebook(model),
      model.m, model.k, model.subDim)
  }

  /** IVF+PQ index build — the compressed, pruned ANN shape (the FAISS
    * IVFPQ default at corpus scale): vectors assign to their nearest
    * coarse centroid's LIST ([[Similarity.ivfAssign]], the same coarse
    * quantizer the float IVF lifecycle uses), each list stores only the
    * m-byte PQ codes, and a probe reads `nprobe` lists PARTITION-PRUNED
    * and ADC-scores them — at 10⁹×64-dim that is ~8 GB of codes against
    * 256 GB of floats, probed at nprobe/kLists read amplification.
    * Codebooks/centroids persist as parquet sidecars, so the index is
    * self-describing.
    *
    * Same lifecycle contract as the float indexes: the whole layout
    * (vectors + both sidecars) lands through [[Similarity.stagedCommit]]
    * — a crash anywhere leaves the previous index untouched, and a
    * reader never sees a half-written dir — and the list partitions are
    * salt-clustered ([[Similarity.clusteredWrite]]) so [[Ann.compact]] /
    * [[Ann.compactionDue]] bound the append-path read amplification.
    * Grow it with [[Ann.append]]; retrain in place via [[Ann.retrain]]
    * when built with `keepVectors = true`, else via a fresh build on
    * drift cadence (monitor [[Similarity.ivfListStats]]).
    *
    * `keepVectors` (opt-in) additionally persists a `vectors_f32` FLOAT
    * sidecar — (id, list, v, meta…) partitioned by the same list
    * assignment as the codes. It is never read on the probe path (ADC
    * stays code-only), but it is what makes two lifecycle verbs possible
    * on a compressed index: a skew-triggered [[Ann.retrain]] (codes
    * cannot re-encode themselves) and exact MMR diversification over
    * served candidates (answer-sized id-joins against the sidecar). The
    * cost is storing the floats the compression otherwise discards —
    * the operator chooses compressed-only (cheapest, rebuild from source
    * on drift) or sidecar-carrying (self-contained lifecycle). */
  def ivfPqBuild(df: DataFrame, idCol: String, vecCol: String,
                 indexDir: String, kLists: Int = 64, m: Int = 8,
                 k: Int = 64, trainSample: Int = 4096,
                 metaCols: Seq[String] = Nil,
                 residual: Boolean = true,
                 keepVectors: Boolean = false,
                 opq: Boolean = false): Unit = {
    Similarity.requireValidMetaCols(metaCols,
      Set("id", "v", "list", "codes"), "ivfPqBuild")
    require(!opq || residual,
      "ivfPqBuild: opq is a refinement of the residual formulation " +
        "(codes quantize R·(v − centroid)); residual=false excludes it")
    val spark = df.sparkSession
    val centroids = Similarity.trainCentroids(df, idCol, vecCol, kLists, trainSample)
    // residual (default): codebooks trained on v − centroid[list] — the
    // Jégou §III-C / FAISS-default formulation (see pqTrainResidual);
    // `opq = true` additionally learns the Ge et al. orthogonal rotation
    // ([[pqTrainOpq]]); `residual = false` keeps the plain
    // global-codebook encoding for A/B comparison and as the documented
    // shape of pre-residual indexes
    val (model, rot) =
      if (opq) {
        val (mdl, r) = pqTrainOpq(df, idCol, vecCol, centroids, m, k, trainSample)
        (mdl, Some(r))
      }
      else if (residual)
        (pqTrainResidual(df, idCol, vecCol, centroids, m, k, trainSample), None)
      else (pqTrain(df, idCol, vecCol, m, k, trainSample), None)
    Similarity.stagedCommit(spark, indexDir) { staging =>
      val codes = codesFor(residual, model, centroids, rot)
      val assigned = Similarity.ivfAssign(df, idCol, vecCol, centroids, metaCols)
      if (!keepVectors)
        Similarity.clusteredWrite(
            assigned.select(col("id") +: col("list") +:
                codes.as("codes") +: metaCols.map(col): _*),
            "list", kLists)
          .write.mode("overwrite").partitionBy("list").parquet(s"$staging/vectors")
      else
        writeCodesAndFloats(assigned.withColumn("codes", codes), metaCols,
          kLists, s"$staging/vectors", s"$staging/$vectorSidecarDir")
      Similarity.writeCentroids(spark, s"$staging/centroids", centroids)
      writeCodebooks(spark, s"$staging/codebooks", model,
        if (opq) "opq" else if (residual) "res" else "raw", rot)
    }
  }

  /** The PQ-codes expression of column `v` under an index's formulation:
    * residual (optionally rotated, OPQ) against `centroids`, or raw. */
  private[llm] def codesFor(residual: Boolean, model: PqModel,
                            centroids: Array[Array[Double]],
                            rot: Option[Array[Array[Double]]]): Column =
    if (residual) codesColRes("v", "list", model, centroids, rot)
    else codesCol("v", model)

  /** The two-layout write of a sidecar-carrying index, from assigned and
    * encoded (id, list, codes, v, metaCols…) rows: materialize them ONCE
    * (persist, spill-tolerant) and land the codes and float layouts from
    * the cached pass — without it, each layout's write re-executed the
    * full corpus scan, nearest-centroid assignment, and PQ encode,
    * doubling the dominant cost of every keepVectors build/append/retrain. */
  private[llm] def writeCodesAndFloats(encoded: DataFrame,
                                       metaCols: Seq[String], kLists: Int,
                                       codesDir: String, floatsDir: String): Unit = {
    // the sidecar stores FLOAT32 — what the name promises, and half the
    // bytes of double at sidecar scale. Lossless for float32 sources
    // (every embedding table here); a double-valued corpus quantizes to
    // float32 once at build, and every sidecar consumer (retrain
    // training, MMR cosines, refined rerank) reads that same
    // representation, so they stay mutually consistent.
    val combined = encoded.select(col("id") +: col("list") +: col("codes") +:
        col("v").cast("array<float>").as("v") +: metaCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      Similarity.clusteredWrite(
          combined.select("id" +: "list" +: "codes" +: metaCols map col: _*),
          "list", kLists)
        .write.mode("overwrite").partitionBy("list").parquet(codesDir)
      // the sidecar lands SORTED BY id within each file: its consumers
      // (MMR candidate fetch, refined rerank) read it through an
      // `id IN (…)` pushdown, and sorted files give every parquet
      // row-group a tight id min/max — the pruning that keeps a
      // candidate fetch answer-sized instead of corpus-sized. `list`
      // leads the sort so the dynamic-partition writer's required
      // ordering (partition cols) is already satisfied and no second,
      // id-order-destroying sort is planned.
      Similarity.clusteredWrite(
          combined.select("id" +: "list" +: "v" +: metaCols map col: _*),
          "list", kLists)
        .sortWithinPartitions("list", "id")
        .write.mode("overwrite").partitionBy("list").parquet(floatsDir)
    } finally { combined.unpersist(); () }
  }

  /** The float-sidecar subdir name an opt-in `keepVectors` build/append
    * maintains next to the code partitions. */
  val vectorSidecarDir = "vectors_f32"

  /** Whether `indexDir` carries the opt-in float sidecar — the gate for
    * [[Ann.retrain]] and for exact MMR over a compressed serving leg.
    * Pure FS existence check, no Spark job. */
  def hasVectorSidecar(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$vectorSidecarDir")
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** BACKFILL the float sidecar onto a CODES-ONLY index — the upgrade
    * path that turns "rebuild with keepVectors" (a multi-day job at
    * 100 TB: retrain + re-encode + rewrite) into ONE aligned write:
    * re-read the source corpus, join it against the index's EXISTING
    * (id, list) assignment — NEVER re-assign: centroids may have
    * drifted since build (appends, or simply a different training
    * sample on rebuild), and a re-assigned sidecar would put floats in
    * lists their codes don't live in, silently corrupting every
    * list-pruned rerank — and land the (list, id)-sorted float32
    * layout the `keepVectors` builds write ([[writeCodesAndFloats]]'
    * sort contract, byte-compatible consumers). The index's metadata
    * columns ride along from the CODES side (a later [[Ann.retrain]]
    * reconstructs the whole index from this sidecar — backfilling
    * without them would strip the filtered probes).
    *
    * Alignment is VALIDATED before the sidecar goes live: the staged
    * write must cover exactly the index's (non-tombstoned) rows — a
    * source missing index ids (or carrying duplicate ids) fails loudly
    * with id samples, and the staging is discarded. The swap is a
    * single dir rename; a crash before it leaves the index codes-only
    * and fully servable, a retry re-stages from scratch. After the
    * backfill, refined/MMR/retrain all serve as if the index had been
    * built with `keepVectors`, and [[Ann.append]] maintains the
    * sidecar from the next batch on.
    *
    * Cost honesty at scale: one co-shuffle of (source ⋈ assignment) on
    * id plus one clustered write — the source and the codes are both
    * corpus-sized, so this is a full-shuffle job, but it replaces a
    * rebuild that pays the same join-scale I/O PLUS k-means PLUS PQ
    * encode, and it never touches the live layout until the rename.
    * Returns the number of sidecar rows written. */
  def ivfPqAddSidecar(src: DataFrame, idCol: String, vecCol: String,
                      indexDir: String): Long = {
    val spark = src.sparkSession
    require(!hasVectorSidecar(spark, indexDir),
      s"ivfPqAddSidecar: $indexDir already carries a $vectorSidecarDir " +
        "sidecar — appends maintain it; a corrupted one should be " +
        "deleted first, explicitly")
    Similarity.healStrandedAppends(spark, indexDir)
    val idx = ivfPqMeta(spark, indexDir)
    val kLists = idx.centroids.length
    val dim = idx.model.m * idx.model.subDim
    val metaCols = idx.vectors.schema.fieldNames
      .filterNot(Set("id", "list", "codes")).toSeq
    val vecs = src.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<float>").as("v"))
    // dim fence before any distributed work (one row's worth of source);
    // an EMPTY source fails here with its own message, not head()'s bare
    // NoSuchElementException. Rows 2..n are fenced distributedly below.
    val sampleRow = vecs.select(size(col("v"))).limit(1).collect()
    require(sampleRow.nonEmpty, "ivfPqAddSidecar: empty source frame")
    val sampleDim = sampleRow.head.getInt(0)
    require(sampleDim == dim,
      s"ivfPqAddSidecar: source vector dim $sampleDim != index dim $dim")
    val assignment =
      idx.vectors.select("id" +: "list" +: metaCols map col: _*)
    val joined = assignment.join(vecs, Seq("id"))
      .select("id" +: "list" +: "v" +: metaCols map col: _*)
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val target = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$indexDir/$vectorSidecarDir"))
    val staging = new org.apache.hadoop.fs.Path(
      target.getParent, s".$vectorSidecarDir.staging")
    fs.delete(staging, true)
    Similarity.clusteredWrite(joined, "list", kLists)
      .sortWithinPartitions("list", "id")
      .write.mode("overwrite").partitionBy("list")
      .parquet(staging.toString)
    // alignment check against the STAGED rows (parquet-footer counts):
    // every index row must have exactly one float — fewer means the
    // source lost ids since build, more means duplicate source ids;
    // both corrupt reranks silently if let through
    // ONE aggregate pass over the staged write covers all three
    // invariants (the distinct count catches the pathological shape a
    // bare row-count compare misses: k duplicated source ids cancelling
    // k missing ones; the misdim count fences ragged vectors beyond the
    // sampled first row, which would otherwise corrupt every refined
    // rerank dot product) — at backfill scale a second corpus-sized
    // validation scan would roughly double the check's cost
    val vRow = spark.read.parquet(staging.toString)
      .agg(count(lit(1)), count_distinct(col("id")),
        count(when(size(col("v")) =!= dim || col("v").isNull, 1)))
      .head()
    val (written, writtenDistinct, misdim) =
      (vRow.getLong(0), vRow.getLong(1), vRow.getLong(2))
    if (misdim > 0) {
      val bad = spark.read.parquet(staging.toString)
        .filter(size(col("v")) =!= dim || col("v").isNull)
        .select("id").limit(5).collect().map(_.getLong(0))
      fs.delete(staging, true)
      throw new IllegalArgumentException(
        s"ivfPqAddSidecar: $misdim source vectors are null or not dim " +
          s"$dim (sample ids: ${bad.mkString(",")}) — a ragged sidecar " +
          "would corrupt every refined rerank")
    }
    val nCodes = idx.vectors.count()
    if (written != nCodes || writtenDistinct != nCodes) {
      val stagedIds = spark.read.parquet(staging.toString).select("id")
      val missing = assignment.select("id")
        .join(stagedIds.distinct(), Seq("id"), "left_anti")
        .limit(5).collect().map(_.getLong(0))
      val dups = stagedIds.groupBy("id").count().filter(col("count") > 1)
        .limit(5).collect().map(_.getLong(0))
      fs.delete(staging, true)
      throw new IllegalArgumentException(
        s"ivfPqAddSidecar: staged sidecar has $written rows for $nCodes " +
          s"index rows — source/index id mismatch" +
          (if (missing.nonEmpty)
             s"; index ids missing from source (sample): ${missing.mkString(",")}"
           else "") +
          (if (dups.nonEmpty)
             s"; duplicated source ids (sample): ${dups.mkString(",")}"
           else ""))
    }
    if (!fs.rename(staging, target))
      throw new java.io.IOException(
        s"ivfPqAddSidecar: rename $staging -> $target failed")
    written
  }

  /** The codebook sidecar, self-describing: `enc` records whether codes
    * quantize residuals ("res"), rotated residuals ("opq"), or raw
    * vectors ("raw") — a reader never guesses, and an index built before
    * the residual formulation landed (no `enc` column) reads as "raw".
    * An OPQ rotation rides in the SAME sidecar as rows at m = -1 (k =
    * row index, vec = R's k-th row): one atomic artifact, so codes and
    * their rotation can never commit separately. */
  private def writeCodebooks(spark: org.apache.spark.sql.SparkSession,
                             dir: String, model: PqModel, enc: String,
                             rot: Option[Array[Array[Double]]] = None): Unit = {
    import spark.implicits._
    require((enc == "opq") == rot.isDefined,
      s"writeCodebooks: enc=$enc with rotation=${rot.isDefined}")
    val bookRows = for { mi <- 0 until model.m; ki <- 0 until model.k }
      yield (mi, ki, model.codebooks(mi)(ki).toSeq, enc)
    val rotRows = rot.toSeq.flatMap(_.zipWithIndex.map { case (row, i) =>
      (-1, i, row.toSeq, enc)
    })
    (bookRows ++ rotRows)
      .toDF("m", "k", "vec", "enc")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** The ivfpq half of [[Ann.retrain]], from the float sidecar's rows:
    * new coarse centroids on the hash-spread sample, NEW codebooks on the
    * new residuals (re-clustering changes every residual, so frozen
    * codebooks would mis-model the re-assigned lists) under the encoding
    * the index declares (residual, OPQ with a re-learned rotation, or
    * raw), and the writer of the re-encoded codes + sidecar layout. */
  private[llm] def retrainLayout(idx: IvfPqIndex, rows: DataFrame,
                                 metaCols: Seq[String], k: Int)
      : (Array[Array[Double]], String => Unit) = {
    val trainSample = 4096
    val centroids = Similarity.retrainCentroids(rows, k, trainSample)
    val (model, rot) =
      if (idx.rot.isDefined) {
        val (mdl, r) = pqTrainOpq(rows, "id", "v", centroids,
          idx.model.m, idx.model.k, trainSample)
        (mdl, Some(r))
      }
      else if (idx.residual)
        (pqTrainResidual(rows, "id", "v", centroids,
          idx.model.m, idx.model.k, trainSample), None)
      else (pqTrain(rows, "id", "v", idx.model.m, idx.model.k, trainSample),
        None)
    (centroids, staging => {
      writeCodesAndFloats(
        Similarity.ivfAssign(rows, "id", "v", centroids, metaCols)
          .withColumn("codes", codesFor(idx.residual, model, centroids, rot)),
        metaCols, k, s"$staging/vectors", s"$staging/$vectorSidecarDir")
      writeCodebooks(rows.sparkSession, s"$staging/codebooks", model,
        if (rot.isDefined) "opq" else if (idx.residual) "res" else "raw", rot)
    })
  }

  /** Driver-memoized IVFPQ index state (centroids + codebooks + resolved
    * vectors DataFrame) — the [[Similarity]] ivfMeta pattern: warm probe
    * planning touches no Spark job; the pure FS-metadata stamp over the
    * sidecars AND the vectors dir's top-level listing invalidates on any
    * rebuild, append (`_append-<id>` marker changes the path set), or
    * compaction. */
  /** A resolved IVFPQ index snapshot: coarse centroids, PQ codebooks,
    * the vectors frame, and whether the codes quantize residuals. The
    * query-INDEPENDENT ADC tables (codeword norms, per-list residual
    * cross terms, centroid norms) are lazy members: ivfPqMeta memoizes
    * the snapshot, so they compute ONCE per resolved index instead of
    * rebuilding kLists·m·k doubles driver-side on EVERY probe call —
    * at kLists=1024/m=8/k=64 that was ~4M multiply-adds and a fresh
    * 4 MB literal per query. */
  final case class IvfPqIndex(centroids: Array[Array[Double]],
                              model: PqModel, vectors: DataFrame,
                              residual: Boolean,
                              rot: Option[Array[Array[Double]]] = None) {
    /** Centroids as the CODEWORDS see them: under an OPQ rotation the
      * codes quantize z = R·(v − c_L), so every table pairing a
      * centroid with a codeword must pair the ROTATED centroid (R is
      * orthogonal, so norms and q·c dots are rotation-free). */
    private def cwSpaceCentroid(li: Int): Array[Double] = rot match {
      case Some(r) => matVec(r, centroids(li))
      case None    => centroids(li)
    }
    lazy val cwNorm2: Array[Double] = {
      val a = new Array[Double](model.m * model.k)
      for (mi <- 0 until model.m; ki <- 0 until model.k) {
        val cw = model.codebooks(mi)(ki)
        var sm = 0.0; var j = 0
        while (j < model.subDim) { sm += cw(j) * cw(j); j += 1 }
        a(mi * model.k + ki) = sm
      }
      a
    }
    lazy val crossTable: Array[Double] = {
      val kLists = centroids.length
      val a = new Array[Double](kLists * model.m * model.k)
      for (li <- 0 until kLists; mi <- 0 until model.m; ki <- 0 until model.k) {
        val c = cwSpaceCentroid(li); val cw = model.codebooks(mi)(ki)
        var sm = 0.0; var j = 0
        while (j < model.subDim) { sm += c(mi * model.subDim + j) * cw(j); j += 1 }
        a((li * model.m + mi) * model.k + ki) = 2.0 * sm
      }
      a
    }
    lazy val centNorm2: Seq[Double] =
      centroids.toSeq.map(c => c.map(x => x * x).sum)
  }

  /** Dense driver-side R·x (dim² multiply-adds — training/meta-time
    * only; the in-plan rotation is [[graft.functions.MatVecF.dots]]). */
  private def matVec(r: Array[Array[Double]],
                     x: Array[Double]): Array[Double] =
    Array.tabulate(r.length) { i =>
      val row = r(i); var s = 0.0; var j = 0
      while (j < x.length) { s += row(j) * x(j); j += 1 }
      s
    }

  private val ivfPqMetaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, IvfPqIndex)]()

  private[graft] def ivfPqMeta(spark: org.apache.spark.sql.SparkSession,
                               indexDir: String): IvfPqIndex = {
    val key = s"${Similarity.sessionTag(spark)}|$indexDir"
    val stamp = Similarity.sidecarStamp(spark, indexDir,
      Seq("centroids", "codebooks", "vectors", Similarity.tombstonesName))
    val cached = ivfPqMetaCache.get(key)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val cents = Similarity.readCentroids(spark, indexDir)
      val cbDf = spark.read.parquet(s"$indexDir/codebooks")
      // indexes written before the residual formulation carry no `enc`
      // column — their codes quantize raw vectors. "opq" is the third
      // state: residual codes under a learned orthogonal rotation whose
      // rows ride in the same sidecar at m = -1 (see writeCodebooks).
      val enc =
        if (cbDf.schema.fieldNames.contains("enc"))
          cbDf.select("enc").head().getString(0)
        else "raw"
      val all = cbDf.select("m", "k", "vec")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val (rotRows, cb) = all.partition(_._1 < 0)
      val rot =
        if (enc == "opq") Some(rotRows.sortBy(_._2).map(_._3))
        else None
      require(enc != "opq" || rot.exists(_.nonEmpty),
        s"ivfPqMeta: $indexDir declares enc=opq but carries no rotation rows")
      val m = cb.map(_._1).max + 1
      val k = cb.map(_._2).max + 1
      val books = Array.ofDim[Array[Double]](m, k)
      cb.foreach { case (mi, ki, v) => books(mi)(ki) = v }
      // tombstone-filtered at the chokepoint, like ivfMeta: every ADC
      // probe reads codes through this frame, so deleted ids can never
      // be NOMINATED — which is also why the refined paths' direct
      // float-sidecar reads need no filter of their own (their id sets
      // come from nominees/pools that this frame already excludes)
      val meta = IvfPqIndex(cents, PqModel(m, k, books(0)(0).length, books),
        Similarity.antiTombstoned(spark, indexDir,
          spark.read.parquet(s"$indexDir/vectors")),
        residual = enc == "res" || enc == "opq", rot = rot)
      Similarity.capCache(ivfPqMetaCache)
      ivfPqMetaCache.put(key, (stamp, meta))
      meta
    }
  }

  /** Per-query ADC tables, flat (queries × m × k): entry (qi, mi, ki) =
    * query_qi's mi-th subvector · codeword (mi, ki). With RESIDUAL codes
    * the same tables apply — dot(q, ĉ+r̂) = dot(q, c_list) + dot(q, r̂),
    * so the list-dependent part is one additive constant per (query,
    * list), not a per-list table (the dot-metric privilege; L2 would
    * need per-list tables). */
  private def adcTables(model: PqModel,
                        queries: Seq[Seq[Double]]): Array[Double] = {
    val out = new Array[Double](queries.size * model.m * model.k)
    queries.zipWithIndex.foreach { case (q, qi) =>
      val qa = q.toArray
      for (mi <- 0 until model.m; ki <- 0 until model.k) {
        val cw = model.codebooks(mi)(ki)
        var s = 0.0; var j = 0
        while (j < model.subDim) { s += qa(mi * model.subDim + j) * cw(j); j += 1 }
        out((qi * model.m + mi) * model.k + ki) = s
      }
    }
    out
  }

  /** query · centroid matrix as a nested literal (queries × kLists) —
    * the residual ADC's per-(query, list) additive constant. */
  private def qcMatrix(centroids: Array[Array[Double]],
                       queries: Seq[Seq[Double]]): Seq[Seq[Double]] =
    queries.map { q =>
      val qa = q.toArray
      centroids.toSeq.map { c =>
        var s = 0.0; var j = 0
        while (j < qa.length) { s += qa(j) * c(j); j += 1 }
        s
      }
    }

  /** The ivfpq family's score hook ([[Ann]]): per-row
    * [[graft.functions.PqAdcDots]] against the group's ADC tables (ONE
    * native loop scores a code row for every query), the group's
    * probe-list membership predicate `keep` (pure column math over pos
    * and list), the residual additive constant when the index quantizes
    * residuals, and the closed-form reconstructed norm as denominator.
    * The score is the EXACT cosine of the query against the PQ
    * reconstruction v̂ — the metric every other graft ANN family ranks
    * by (cos(q, v̂) → cos(q, v) as quantization error → 0; a raw ADC dot
    * would rank large-norm reconstructions above true cosine
    * neighbors). Returns (pos, id, cos) rows. */
  private[llm] def adcCosScored(vecs: DataFrame, idx: IvfPqIndex,
                                queries: Seq[(Long, Seq[Double])],
                                keep: Column): DataFrame = {
    import graft.functions.PqF
    val model = idx.model
    // OPQ: codes live in rotated space, so the query-side tables pair
    // R·q with the codewords (dot(q, Rᵀẑ) = dot(Rq, ẑ)); ‖q‖ and the
    // q·c_list constant are rotation-free (R orthogonal)
    val tableQs = idx.rot match {
      case Some(r) => queries.map { case (_, q) => matVec(r, q.toArray).toSeq }
      case None    => queries.map(_._2)
    }
    val tables = adcTables(model, tableQs)
    val qNorms = queries.map { case (_, q) => math.sqrt(q.map(x => x * x).sum) }
    val qcTerm =
      if (idx.residual)
        element_at(element_at(
          typedLit(qcMatrix(idx.centroids, queries.map(_._2))),
          col("pos") + 1), col("list") + 1)
      else lit(0.0)
    vecs
      .withColumn("rnorm", reconNormCol(idx))
      .filter(col("rnorm").isNotNull && !isnan(col("rnorm")) && col("rnorm") > 0)
      .select(col("id"), col("list"), col("rnorm"),
        posexplode(PqF.adcDots(col("codes"), tables,
          queries.size, model.m, model.k)))
      .filter(keep)
      .select(col("pos"), col("id"),
        round((qcTerm + col("col")) / (col("rnorm") *
          element_at(array(qNorms.map(lit): _*), col("pos") + 1)), 6).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
  }

  /** TRUE-cosine scores for a driver-collected nominee set against the
    * float sidecar — the rerank read of a refined top-k probe: ONE
    * sidecar pass LIST-PRUNED to the union of the nominees' probed lists
    * (lossless — every nominee came from one of them) AND id-In-pruned
    * to the nominee ids, broadcast nominee join, ONE native dot per
    * (query, candidate). Returns (qid, id, cos) with cos EXACT
    * (rounded 6).
    *
    * The nominee id set can reach chunkSize(256)×k×refine — far above
    * parquet's default in-filter pushdown threshold (10), past which
    * Spark pushes only the id min/max RANGE. Sessions built by
    * [[graft.util.Sessions]] raise that threshold once at startup so the
    * id set is pushed verbatim; elsewhere the (list, id) sort order of
    * the sidecar files keeps the min/max fallback useful. */
  private[llm] def nomineeTrueCosines(spark: org.apache.spark.sql.SparkSession,
                                      indexDir: String,
                                      queries: Seq[(Long, Seq[Double])],
                                      nominees: Seq[(Long, Long)],
                                      lists: Seq[Int]): DataFrame = {
    import spark.implicits._
    val nomDf = nominees.toDF("qid", "id")
    val nomIds = nominees.map(_._2).distinct
    sidecarCosines(spark, indexDir, queries,
      Some(col("id").isin(nomIds: _*)), broadcast(nomDf), lists)
  }

  /** TRUE cosines of a (qid, id) nominee FRAME — the verify read of a
    * refined range probe. Range answers are output-bound, not k-bound,
    * so the nominee set is never collected: the verify is a distributed
    * id-join against the list-pruned sidecar, which AQE demotes to a
    * broadcast when the loosened nomination lands small (a static
    * broadcast would have to hold a loose threshold's whole output). */
  private[llm] def trueCosinesOf(spark: org.apache.spark.sql.SparkSession,
                                 indexDir: String,
                                 queries: Seq[(Long, Seq[Double])],
                                 nominated: DataFrame,
                                 lists: Seq[Int]): DataFrame =
    sidecarCosines(spark, indexDir, queries, None, nominated, lists)

  private def sidecarCosines(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String,
                             queries: Seq[(Long, Seq[Double])],
                             idFilter: Option[Column], nominated: DataFrame,
                             lists: Seq[Int]): DataFrame = {
    val sidecar = spark.read.parquet(s"$indexDir/$vectorSidecarDir")
      .filter(col("list").isin(lists.map(Integer.valueOf): _*))
    val floats = idFilter.fold(sidecar)(sidecar.filter)
      .select(col("id"), col("v"))
      .join(nominated, Seq("id"))
    exactCosAgainst(queries, floats)
  }

  /** Exact-cosine scoring of (qid, id, v) candidate rows against a
    * chunk-bounded query batch: qid→pos map + query matrix as plan
    * literals, one native [[graft.functions.MatVecF]] loop per row.
    * Returns (qid, id, cos) rounded to 6 (the engine-wide contract). */
  private def exactCosAgainst(queries: Seq[(Long, Seq[Double])],
                              withVec: DataFrame): DataFrame = {
    val qNorms = queries.map { case (_, q) => math.sqrt(q.map(x => x * x).sum) }
    val qIds = queries.map(_._1)
    import graft.functions.{MatVecF, VectorF}
    withVec
      .withColumn("pos",
        element_at(typedLit(qIds.zipWithIndex.map { case (q, i) => q -> i }
          .toMap), col("qid")))
      .withColumn("dots", MatVecF.dots(col("v"), queries.map(_._2)))
      .select(col("qid"), col("id"),
        round(element_at(col("dots"), col("pos") + 1) /
          (VectorF.norm(col("v")) *
            element_at(array(qNorms.map(lit): _*), col("pos") + 1)),
          6).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
  }

  /** Bounded-heap top-k per qid over (qid, id, cos) rows — the finalize
    * of a refined top-k probe. */
  private[llm] def topKPerQid(scored: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKF
    scored.groupBy("qid")
      .agg(TopKF.topKByScore(col("cos"), col("id"), k).as("topk"))
      .select(col("qid"), explode(col("topk")).as("hit"))
      .select(col("qid"), col("hit.id").as("id"), col("hit.score").as("cos"))
  }

  /** Per-row reconstructed-norm column ‖v̂‖ from codes alone — the range
    * probes' denominator. For residual codes, ‖ĉ+r̂‖² = ‖c_L‖² +
    * 2·Σ_m c_{L,m}·cw_{m,code} + Σ_m ‖cw_{m,code}‖²: the middle term is
    * a per-LIST ADC table (kLists groups, query-independent), the last a
    * 1-group table; both resolve through the same native
    * [[graft.functions.PqAdcDots]] loop. Raw codes keep only the last
    * term (subspaces are orthogonal in concatenation). */
  private def reconNormCol(idx: IvfPqIndex): Column = {
    import graft.functions.PqF
    val model = idx.model
    // all three tables are memoized on the snapshot (IvfPqIndex lazy
    // members) — this builds COLUMNS only, no per-call table math
    val rNorm2 = element_at(
      PqF.adcDots(col("codes"), idx.cwNorm2, 1, model.m, model.k), 1)
    if (!idx.residual) sqrt(rNorm2)
    else {
      val kLists = idx.centroids.length
      sqrt(element_at(typedLit(idx.centNorm2), col("list") + 1) +
        element_at(
          PqF.adcDots(col("codes"), idx.crossTable, kLists, model.m, model.k),
          col("list") + 1) +
        rNorm2)
    }
  }

  /** ADC top-k: score = Σ_m table[m][codes[m]] where table[m][k] =
    * query_m · codeword_{m,k} (computed once, driver-side). The scan is
    * a map-only projection of m `element_at` lookups into the flattened
    * table literal + the bounded-heap top-k aggregate — no decode, no
    * shuffle beyond the k-row result. */
  def pqTopK(codesDf: DataFrame, model: PqModel, query: Seq[Double],
             k: Int): DataFrame = {
    require(query.size == model.m * model.subDim,
      s"pqTopK: query dim ${query.size} != ${model.m * model.subDim}")
    val flat: Seq[Double] = for {
      mi <- 0 until model.m
      ki <- 0 until model.k
    } yield {
      val q = query.slice(mi * model.subDim, (mi + 1) * model.subDim)
      val cw = model.codebooks(mi)(ki)
      q.zip(cw).map { case (a, b) => a * b }.sum
    }
    val table = typedLit(flat)
    val score = (0 until model.m).map { mi =>
      // codes are stored as signed bytes, so codeword ids >= 128 (legal at
      // k in 129..256) wrap negative on read — decode unsigned, else the
      // negative index would silently resolve from the END of the table.
      // A decoded id >= k is CORRUPTION: null the row out (the PqAdcDots
      // contract) instead of silently reading a NEIGHBORING subspace's
      // table region as a competing score
      val code = pmod(element_at(col("codes"), mi + 1).cast("int"), lit(256))
      when(code < lit(model.k),
        element_at(table, code + mi * model.k + 1))
    }.reduce(_ + _)
    codesDf
      .select(graft.functions.TopKF.topKByScore(
        round(score, 6), col("id"), k).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.id").as("id"), col("e.score").as("adc"))
  }
}
