package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — one scan, one
  *    `TakeOrderedAndProject`; the correctness baseline and fine whenever
  *    k·queries is small relative to the corpus.
  *  - random-hyperplane LSH ([[Ann]] over an `lsh` index) — a deterministic 16-bit signature
  *    per vector (fixed seed), candidates restricted to the query's bucket
  *    and all buckets at Hamming distance ≤ 1. At 100 TB the signature is
  *    computed once at ingest and the bucket id becomes a partition
  *    column, so a query touches ~17/65536 of the data via partition
  *    pruning instead of a full scan.
  *
  * All math goes through [[graft.functions.VectorDot]], a native Catalyst
  * expression with codegen — Spark's higher-order array functions are
  * interpreted (CodegenFallback) and were ~50× slower on the hot paths.
  */
object Similarity {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** dot(a, b) over array columns, accumulated in double. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorF.dot(a, b)

  def norm(a: Column): Column = graft.functions.VectorF.norm(a)

  def cosine(a: Column, b: Column): Column = graft.functions.VectorF.cosine(a, b)

  /** Exact cosine top-k for one query vector. Rows that cannot be scored
    * are excluded from the candidates, same as [[bruteForceTopKBatch]]:
    * wrong dimension / null element / zero norm give a NULL cosine
    * (Spark's Divide returns NULL for a zero divisor in non-ANSI mode),
    * caught by isNotNull; a NaN ELEMENT gives a NaN cosine (a NaN divisor
    * bypasses the zero check), and NaN ranks ABOVE every real value in
    * Spark's ordering, so without the explicit isnan guard a NaN-element
    * embedding would top every query. */
  /** Column-pruned, id-In-pruned read of a `(id, v, …)` vectors/sidecar
    * parquet dir for a DRIVER-COLLECTED candidate id set — the shared
    * fetch of every serving path that re-joins a pooled answer with its
    * float vectors (MMR diversification in DFL hybridProbe and
    * serve-hybrid). The In filter BEFORE any join is the load-bearing
    * part: a broadcast hash join does not prune the probe-side scan, so
    * without it the fetch reads the whole corpus-sized dir for ≤pool
    * rows; with it, parquet row-group min/max stats skip everything else
    * (the ivfpq `vectors_f32` sidecar lands sorted by (list, id) to keep
    * those stats tight). Callers join the result against their pool
    * frame (broadcast — the pool is serving-sized by construction). */
  def candidateVectors(spark: org.apache.spark.sql.SparkSession,
                       vecDir: String, ids: Seq[Long]): DataFrame =
    spark.read.parquet(vecDir)
      .select(col("id"), col("v"))
      .filter(col("id").isin(ids: _*))

  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame = {
    val q = array(query.map(lit): _*)
    df.select(col(idCol).as("id"),
        round(cosine(col(vecCol), q), 6).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(k)
  }

  /** Exact cosine RANGE search: every id with `cos(v, query) >= minCos` —
    * the retrieval-filter sibling of [[bruteForceTopK]] (same native
    * scoring scan, same null/NaN exclusions), but threshold-bound
    * instead of count-bound, so the result needs NO ordering, no limit,
    * and therefore no driver merge at all: one map-only scan whose
    * output is the (rare) matching rows. The threshold compares against
    * the ROUNDED cosine, keeping the boundary identical to the SQL
    * oracle's. */
  def bruteForceRange(df: DataFrame, idCol: String, vecCol: String,
                      query: Seq[Double], minCos: Double): DataFrame = {
    val q = array(query.map(lit): _*)
    df.select(col(idCol).as("id"),
        round(cosine(col(vecCol), q), 6).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")) &&
        col("cos") >= minCos)
  }

  /** Exact cosine top-k for a BATCH of query vectors in ONE corpus pass —
    * the serving shape: each corpus row scores against the whole query
    * matrix via the native [[graft.functions.MatVecDots]] (one expression,
    * vector read once), explodes to (qid, id, cos), and a bounded-heap
    * [[graft.functions.TopKByScore]] aggregate keeps the best k per query.
    * Map-side partial aggregation means the only shuffle carries at most
    * partitions × |queries| × k rows — a window `row_number() <= k` would
    * shuffle and sort all N·Q scored rows instead. Rounding to 6 happens
    * BEFORE ranking so tie-breaking (cos desc, id asc) matches the SQL
    * `QUALIFY` oracle formulation exactly. Corpus rows that cannot be
    * scored are excluded from every query's candidates BEFORE scoring
    * (the vnorm filter below), matching [[bruteForceTopK]]: wrong
    * dimension / null element → null norm, zero vector → vnorm 0 (its
    * cosine would be NULL — Divide by zero is NULL in non-ANSI mode —
    * so the `> 0` filter is what keeps the semantics aligned), NaN
    * element → NaN norm (NaN > 0 is TRUE in Spark comparisons, hence the
    * explicit isnan guard).
    *
    * `queries` carries each query's OWN id — results are keyed by it, so
    * the mapping stays robust however the caller selected the batch.
    * Returns (qid, id, cos).
    *
    * The query matrix lives in the PLAN as literals (that is what lets one
    * codegen'd expression score a row against every query with the vector
    * read once), so plan size grows with |queries|·dim. Batches beyond
    * `chunkSize` are transparently split into independent chunk plans and
    * unioned — results identical (each query's top-k depends only on its
    * own scores), compile time bounded. 256 queries × 64 dims ≈ 16 k
    * literals per chunk, comfortably inside Catalyst/Janino limits; a
    * 10⁴-query batch becomes ~40 chunk plans instead of one
    * 640 k-literal plan that would dominate wall-clock with compilation. */
  def bruteForceTopKBatch(df: DataFrame, idCol: String, vecCol: String,
                          queries: Seq[(Long, Seq[Double])], k: Int,
                          chunkSize: Int = 256): DataFrame = {
    import graft.functions.{MatVecF, TopKF, VectorF}
    require(chunkSize > 0, "bruteForceTopKBatch: chunkSize must be positive")
    if (queries.size > chunkSize)
      return queries.grouped(chunkSize)
        .map(c => bruteForceTopKBatch(df, idCol, vecCol, c, k, chunkSize))
        .reduce(_ unionByName _)
    val qNorms = queries.map { case (_, q) => math.sqrt(q.map(x => x * x).sum) }
    val qIds = queries.map(_._1)
    val scored = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("vnorm", VectorF.norm(col("v")))
      .filter(col("vnorm").isNotNull && !isnan(col("vnorm")) && col("vnorm") > 0)
      .select(col("id"), col("vnorm"),
        posexplode(MatVecF.dots(col("v"), queries.map(_._2))))
      .select(col("pos"),
        round(col("col") / (col("vnorm") *
          element_at(array(qNorms.map(lit): _*), col("pos") + 1)), 6).as("cos"),
        col("id"))
      // degenerate QUERY vectors (zero norm → NULL cos via divide-by-zero,
      // NaN element → NaN cos): drop before the top-k heap, which would
      // otherwise rank NaN first — keeps batch row-for-row identical to
      // the per-query paths' isNotNull/!isnan exclusion
      .filter(col("cos").isNotNull && !isnan(col("cos")))
    scored
      .groupBy("pos")
      .agg(TopKF.topKByScore(col("cos"), col("id"), k).as("topk"))
      .select(element_at(array(qIds.map(lit): _*), col("pos") + 1).as("qid"),
        explode(col("topk")).as("hit"))
      .select(col("qid"), col("hit.id").as("id"), col("hit.score").as("cos"))
  }

  /** Exact cosine RANGE search for a BATCH of queries in ONE corpus
    * pass: [[bruteForceTopKBatch]]'s scoring scan (native
    * [[graft.functions.MatVecDots]], vector read once per row, query
    * matrix as plan literals with the same `chunkSize` compile bound)
    * but threshold-bound like [[bruteForceRange]] — so after the
    * map-only filter there is NO aggregation at all: no heap, no
    * shuffle, the matching (qid, id, cos) rows stream straight out.
    * Returns (qid, id, cos), thresholded on the ROUNDED cosine. */
  def bruteForceRangeBatch(df: DataFrame, idCol: String, vecCol: String,
                           queries: Seq[(Long, Seq[Double])], minCos: Double,
                           chunkSize: Int = 256): DataFrame = {
    import graft.functions.{MatVecF, VectorF}
    require(chunkSize > 0, "bruteForceRangeBatch: chunkSize must be positive")
    require(queries.nonEmpty, "bruteForceRangeBatch: empty query batch")
    require(queries.map(_._2.size).distinct.size == 1,
      s"bruteForceRangeBatch: ragged query dims ${queries.map(_._2.size).distinct}")
    if (queries.size > chunkSize)
      return queries.grouped(chunkSize)
        .map(c => bruteForceRangeBatch(df, idCol, vecCol, c, minCos, chunkSize))
        .reduce(_ unionByName _)
    val qNorms = queries.map { case (_, q) => math.sqrt(q.map(x => x * x).sum) }
    val qIds = queries.map(_._1)
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("vnorm", VectorF.norm(col("v")))
      .filter(col("vnorm").isNotNull && !isnan(col("vnorm")) && col("vnorm") > 0)
      .select(col("id"), col("vnorm"),
        posexplode(MatVecF.dots(col("v"), queries.map(_._2))))
      .select(element_at(array(qIds.map(lit): _*), col("pos") + 1).as("qid"),
        col("id"),
        round(col("col") / (col("vnorm") *
          element_at(array(qNorms.map(lit): _*), col("pos") + 1)), 6).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")) &&
        col("cos") >= minCos)
  }

  // Deterministic hyperplanes (fixed seed): nBits × dim sign projections.
  // private[graft]: the streaming embedding dedup signs with the same family.
  private[graft] def hyperplanes(nBits: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(1234)
    Seq.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane signature: bit i = sign(v · plane_i). */
  def signature(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, array(p.map(lit): _*)) > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Assign each vector its LSH bucket (materialize this at ingest and
    * `partitionBy` on it for pruned reads at scale). Uses the one-pass
    * native [[graft.functions.HyperplaneBands]] signature — bit-identical
    * to [[signature]] for well-formed vectors, without the
    * nBits·dim-literal expression tree. Malformed vectors (dimension
    * mismatch, null element) get a NULL bucket and fall out of probe
    * scope, where the composed form lumped them into bucket 0; a vector
    * that can't be dotted can't be searched, so exclusion is the honest
    * semantic. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 nBits: Int = 16, dim: Int = 64,
                 metaCols: Seq[String] = Nil): DataFrame = {
    val planes = hyperplanes(nBits, dim)
    df.select(col(idCol).as("id") +: col(vecCol).as("v") +:
        metaCols.map(col): _*)
      .withColumn("bucket",
        element_at(graft.functions.HyperplaneF.bands(col("v"), 1, nBits, planes), 1))
  }

  private[llm] def requireValidMetaCols(metaCols: Seq[String],
                                   reserved: Set[String], what: String): Unit =
    metaCols.foreach(c => require(!reserved(c),
      s"$what: metadata column '$c' collides with a structural index column"))

  // ---------- IVF (inverted-file index) ----------

  /** Deterministic driver-side k-means (kmeans++-less simple init by
    * striding the sample) — the REFERENCE implementation that
    * [[kmeansDistributed]] is spec-pinned against; also handy for tests
    * and tiny corpora. */
  private[llm] def kmeans(sample: Array[Array[Double]], k: Int,
                          iters: Int = 8): Array[Array[Double]] = {
    require(sample.nonEmpty, "ivf: empty training sample")
    val dim = sample.head.length
    var centroids = Array.tabulate(math.min(k, sample.length))(i =>
      sample(i * sample.length / math.min(k, sample.length)).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var d = 0
        while (d < dim) { sums(c)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** DISTRIBUTED k-means for the IVF coarse quantizer: per iteration, ONE
    * `mapPartitions` pass over the (cached) training set computes partial
    * per-centroid sums/counts; only k×dim doubles per partition come back,
    * merged on the driver in partition order (deterministic), with the
    * centroids riding out as a broadcast. The training vectors themselves
    * NEVER collect to the driver — at 100 TB the sample can be billions of
    * rows and this is the one-pass-per-iteration shape that trains at
    * ingest. Init is the same strided selection as [[kmeans]]; the spec
    * pins the two implementations to matching centroids on one sample
    * (equal up to float summation order). */
  private[llm] def kmeansDistributed(sample: org.apache.spark.rdd.RDD[Array[Double]],
                                     k: Int, iters: Int = 8): Array[Array[Double]] = {
    sample.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sample.count()
      require(n > 0, "ivf: empty training sample")
      val kk = math.min(k.toLong, n).toInt
      // same init as kmeans(): element i*n/kk of the sample in order
      val initIdx = (0 until kk).map(i => i.toLong * n / kk).toSet
      var centroids = sample.zipWithIndex()
        .filter { case (_, i) => initIdx(i) }
        .collect().sortBy(_._2).map(_._1)
      val dim = centroids.head.length
      val sc = sample.sparkContext
      (0 until iters).foreach { _ =>
        val bc = sc.broadcast(centroids)
        val partials = sample.mapPartitionsWithIndex { (pid, it) =>
          val cs = bc.value
          val sums = Array.fill(cs.length)(new Array[Double](dim))
          val counts = new Array[Long](cs.length)
          it.foreach { v =>
            val c = nearestCentroid(v, cs)
            counts(c) += 1
            var d = 0
            while (d < dim) { sums(c)(d) += v(d); d += 1 }
          }
          Iterator.single((pid, sums, counts))
        }.collect().sortBy(_._1) // merge in partition order: deterministic
        val sums = Array.fill(centroids.length)(new Array[Double](dim))
        val counts = new Array[Long](centroids.length)
        partials.foreach { case (_, s, c) =>
          var ci = 0
          while (ci < centroids.length) {
            counts(ci) += c(ci)
            var d = 0
            while (d < dim) { sums(ci)(d) += s(ci)(d); d += 1 }
            ci += 1
          }
        }
        centroids = centroids.indices.map { c =>
          if (counts(c) == 0) centroids(c) else sums(c).map(_ / counts(c))
        }.toArray
        bc.destroy()
      }
      centroids
    } finally sample.unpersist(blocking = false)
  }

  private[llm] def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Assign each vector its IVF list (= nearest coarse centroid), as pure
    * column math: argmin over ‖v−c‖² = argmin(−2·v·c + ‖c‖²) via an
    * array-of-structs min (struct comparison is lexicographic). At scale
    * the list id is the partition column, exactly like the LSH bucket. */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Double]],
                metaCols: Seq[String] = Nil): DataFrame = {
    // one native argmin loop per row (graft.functions.NearestCentroid) —
    // the composed array_min-over-structs form allocated k struct rows
    // per vector; semantics identical (ties to the smaller list id).
    // `metaCols` ride along into the index layout so a filtered probe
    // can push its predicate into the pruned read.
    df.select(col(idCol).as("id") +: col(vecCol).as("v") +:
      metaCols.map(col) :+
      graft.functions.PqF.nearestCentroid(col(vecCol), centroids).as("list"): _*)
  }

  /** Train the IVF coarse quantizer over a DETERMINISTIC bounded sample:
    * `orderBy(id).limit(n)` — a bare `limit` is nondeterministic, and a
    * recomputed partition mid-training could feed DIFFERENT rows to later
    * k-means iterations, yielding inconsistent centroids. Training itself
    * is distributed ([[kmeansDistributed]] — vectors never collect). */
  /** The collision-geometry probe radius of the LSH RANGE family: two
    * vectors at cosine c disagree on each hyperplane bit with
    * probability acos(c)/π, so the expected Hamming distance at the
    * threshold is nBits·acos(minCos)/π; `slackBits` widens past the
    * expectation and the radius caps at nBits. ONE implementation — the
    * rule used to be copy-pasted at five probe sites. */
  private[llm] def rangeRadius(nBits: Int, minCos: Double, slackBits: Int): Int = {
    val expected = nBits * math.acos(math.max(-1.0, math.min(1.0, minCos))) / math.Pi
    math.min(nBits, math.ceil(expected).toInt + slackBits)
  }

  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
                     kLists: Int, trainSample: Int): Array[Array[Double]] = {
    // EXCLUDE malformed rows from training exactly as the assign/probe
    // paths exclude them from serving (null vectors, null elements,
    // ragged dims): one bad row in the sample otherwise kills the whole
    // build with an opaque executor NPE/AIOOBE
    val sampleRdd = df.select(col(idCol), col(vecCol))
      .filter(col(vecCol).isNotNull)
      .orderBy(col(idCol)).limit(trainSample)
      .select(col(vecCol)).rdd
      .flatMap { r =>
        val xs = r.getSeq[Any](0)
        if (xs == null || xs.contains(null)) None
        else Some(xs.map(_.asInstanceOf[Number].doubleValue()).toArray)
      }
    val dims = sampleRdd.map(_.length).distinct().collect()
    require(dims.nonEmpty,
      "trainCentroids: no well-formed vectors in the training sample")
    require(dims.length == 1,
      s"trainCentroids: ragged vector dims ${dims.toSeq.sorted} in the " +
        "training sample")
    kmeansDistributed(sampleRdd, kLists)
  }

  /** The `nprobe` lists whose centroids are nearest the query. */
  private[graft] def nearestLists(centroids: Array[Array[Double]],
                                q: Array[Double], nprobe: Int): Seq[Int] =
    centroids.indices
      .sortBy { c =>
        var d = 0.0; var i = 0
        while (i < q.length) { val x = q(i) - centroids(c)(i); d += x * x; i += 1 }
        d
      }
      .take(nprobe)

  /** BUILD an IVF index once, at ingest: train the coarse quantizer
    * distributed, write the corpus `partitionBy("list")` so a probe reads
    * only its lists (partition pruning, spec-pinned), and persist the
    * centroids as a small sidecar table under the same directory. At
    * 100 TB this is the one full pass; every [[Ann.probe]] after it touches
    * `nprobe`/`kLists` of the data. Returns the trained centroids.
    *
    * The build COMMITS ATOMICALLY: vectors and centroids are written to a
    * sibling staging directory, then renamed into place (rename is atomic
    * on HDFS and local FS). A failure mid-build leaves any previous index
    * at `indexDir` untouched — never a half-built index where a probe
    * would pair new vectors with old centroids. `indexDir` should be a
    * qualified URI on the cluster's shared filesystem in any non-local
    * deployment. */
  /** Cluster an index frame on its partition column BEFORE the
    * `partitionBy` write. Without this, every shuffle task holds a
    * slice of every partition value and writes its own tiny parquet
    * file per value — up to `tasks × values` files per build (measured:
    * thousands of ~10-row files for a 2^8-band LSH index, dominating
    * build AND probe time with open/footer overhead). Repartitioning on
    * (value, bounded salt) lands each partition value in as few tasks
    * as parallelism allows: `salt = shufflePartitions / numValues`
    * spreads a hot value across enough tasks to keep a large cluster
    * busy (at 32 local tasks over 256 bands the salt is 1 → exactly one
    * file per populated band; at 2000 shuffle partitions over 16 IVF
    * lists it is 125 → 125-way parallel write per list), while file
    * count stays `≈ max(values, shufflePartitions)` instead of their
    * product. The salt hashes the stable `id` column, keeping the write
    * deterministic under task retries. */
  private[llm] def clusteredWrite(df: DataFrame, partCol: String,
                             numValues: Int): DataFrame = {
    val tasks = df.sparkSession.sessionState.conf.numShufflePartitions
    val saltN = math.max(1, tasks / math.max(1, numValues))
    df.repartition(col(partCol), pmod(hash(col("id")), lit(saltN)))
  }

  /** Atomic index commit shared by [[ivfBuild]] and [[lshBuild]]: run
    * `write` against a sibling staging directory, then swap it into place
    * via renames (atomic on HDFS and local FS). The previous index is
    * RENAMED ASIDE (`.<name>.old`) before the staging rename and deleted
    * only after a successful swap — a failure anywhere during the write
    * phase leaves the previous index untouched at `indexDir`, and a
    * failure of the swap rename itself restores the previous index from
    * the aside copy. The unrecoverable window is the instant between the
    * two renames (previous index at `.old`, new one not yet in place) —
    * a crash there leaves the data recoverable by hand but no live dir.
    * Swapping a LIVE index also races in-flight readers (they can see
    * files vanish mid-swap); the `*TopKIndexed` cache avoids this
    * entirely by landing each rebuild in a fingerprint-stamped NEW
    * directory ([[newIndexDir]]) — explicit same-dir rebuilds via
    * [[ivfBuild]]/[[lshBuild]] are single-writer, reader-quiesced
    * operations by contract. */
  private[llm] def stagedCommit(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String)(write: String => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val target = fs.makeQualified(new org.apache.hadoop.fs.Path(indexDir))
    val staging = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.staging")
    val aside = new org.apache.hadoop.fs.Path(
      target.getParent, s".${target.getName}.old")
    // self-heal first: a crash between the two swap renames of an earlier
    // commit leaves the only index copy at `aside` and nothing at
    // `target` — restore it before the delete below could destroy it
    if (!fs.exists(target) && fs.exists(aside)) fs.rename(aside, target)
    fs.delete(staging, true)
    write(staging.toString)
    fs.delete(aside, true)
    val hadPrevious = fs.exists(target)
    if (hadPrevious && !fs.rename(target, aside))
      throw new java.io.IOException(
        s"index commit rename-aside $target -> $aside failed")
    if (!fs.rename(staging, target)) {
      // restore the previous index; a failed restore must not pass
      // silently — the only live copy is then stranded at `aside`
      val restored = hadPrevious && fs.rename(aside, target)
      throw new java.io.IOException(
        s"index commit rename $staging -> $target failed" +
          (if (hadPrevious && !restored)
             s"; previous index stranded at $aside" else ""))
    }
    fs.delete(aside, true)
  }

  def ivfBuild(df: DataFrame, idCol: String, vecCol: String, indexDir: String,
               kLists: Int = 16, trainSample: Int = 2048,
               metaCols: Seq[String] = Nil): Array[Array[Double]] = {
    requireValidMetaCols(metaCols, Set("id", "v", "list"), "ivfBuild")
    val centroids = trainCentroids(df, idCol, vecCol, kLists, trainSample)
    val sess = df.sparkSession
    stagedCommit(sess, indexDir) { staging =>
      clusteredWrite(ivfAssign(df, idCol, vecCol, centroids, metaCols),
          "list", kLists)
        .write.mode("overwrite").partitionBy("list").parquet(s"$staging/vectors")
      writeCentroids(sess, s"$staging/centroids", centroids)
    }
    centroids
  }

  /** Replace ONE sidecar subdir of a live index (occupancy after an
    * append): write to a sibling staging dir, then delete + rename into
    * place. The unrecoverable window (between delete and rename) loses
    * only the sidecar — [[lshMeta]] falls back to the counting loop when
    * occupancy is missing, and the next append or rebuild restores it. */
  private[llm] def replaceSidecar(spark: org.apache.spark.sql.SparkSession,
                             indexDir: String, name: String)
                            (write: String => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val target = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$indexDir/$name"))
    val staging = new org.apache.hadoop.fs.Path(
      target.getParent, s".$name.staging")
    fs.delete(staging, true)
    write(staging.toString)
    fs.delete(target, true)
    if (!fs.rename(staging, target))
      throw new java.io.IOException(
        s"sidecar replace rename $staging -> $target failed")
  }

  /** All leaves of `df`'s plan are file-backed scans — the shape where
    * the plan string + input-file metadata identify the ROWS. An
    * in-memory leaf (LocalRelation / LogicalRDD) renders only its schema
    * in the plan string, so its data is invisible to any plan-derived
    * fingerprint. */
  private[graft] def fileBackedCorpus(df: DataFrame): Boolean = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    leaves.nonEmpty && leaves.forall {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileTable]
      case _ => false
    }
  }

  /** Deterministic id for one append batch: the canonicalized plan plus
    * every input file's (path, length, mtime). Two calls appending the
    * SAME rows from the SAME file state get the same id — which is what
    * makes a crashed-then-retried append idempotent ([[stagedAppend]])
    * — while a new or regenerated file, or a different filter/projection,
    * changes it. A batch with any non-file leaf (in-memory data, whose
    * ROWS the plan string cannot see) gets a RANDOM id instead: retry
    * idempotency honestly surrendered rather than risking two different
    * in-memory batches colliding on one id and the second silently
    * skipped. The cached lifecycle's appends are always file-backed
    * filters, so they always get the deterministic form. */
  private[llm] def appendBatchId(df: DataFrame): String =
    if (fileBackedCorpus(df))
      graft.util.Md5.hex(Iterator.single(
        df.queryExecution.analyzed.canonicalized.treeString(
          verbose = false, addSuffix = false,
          maxFields = Int.MaxValue, printOperatorId = false)) ++
        corpusFileMeta(df).iterator.map {
          case (f, (len, mtime)) => s"$f:$len:$mtime;"
        }).take(16)
    else java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** The sidecar phase of a staged-append commit: given (spark, indexDir,
    * stagingPath, id), apply any staged sidecar delta to the live index.
    * MUST be idempotent across crashes — guard the apply with an
    * `_applied-<id>` marker written atomically WITH the merged sidecar
    * (the [[occupancyDeltaApply]] pattern). */
  private[llm] type SidecarApply =
    (org.apache.spark.sql.SparkSession, String,
      org.apache.hadoop.fs.Path, String) => Unit

  /** Crash/retry-safe append commit shared by [[Ann.append]], [[annDelete]]
    * and [[graft.llm.Retrieval.bm25Append]] — the append-path counterpart
    * of [[stagedCommit]]. A bare `mode("append")` into the live dir was
    * NOT retry-safe: the cached lifecycle retries a failed append (lazy
    * slot), and a retry after the vectors write had committed would append
    * every row TWICE (duplicate ids in the index, duplicate ids in top-k
    * answers). Here the new rows stage under `.append-<id>`, a
    * `_COMMITTING` flag marks the staging complete, and the commit phase
    * ([[commitStagedAppend]]) is a sequence of idempotent, resumable steps
    * fenced by a durable `<dataDirs.head>/_append-<id>` marker:
    *
    *  - marker exists → the append is fully applied; a retried append is
    *    a no-op (stale staging swept)
    *  - no `_COMMITTING` → staging may be partial; rewrite it from scratch
    *  - `_COMMITTING`, no marker → resume the commit where the crash
    *    stopped: part files already moved are gone from staging, and the
    *    sidecar merge is guarded by its own in-dir applied marker
    *
    * `dataDirs` names the partitioned data subdirs whose staged part
    * files move into the live layout (ANN: `vectors`; BM25: `postings`
    * and `df`); `applySidecar` runs the family's sidecar delta merge.
    * Appends remain single-writer operations per index dir (the same
    * contract as in-place rebuilds); readers stay safe throughout —
    * no existing file is removed or rewritten. */
  private[llm] def stagedAppend(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, id: String,
                           dataDirs: Seq[String] = Seq("vectors"),
                           applySidecar: SidecarApply = occupancyDeltaApply)
                          (stageWrite: String => Unit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(indexDir))
    val staging = new org.apache.hadoop.fs.Path(root, s".append-$id")
    val applied =
      new org.apache.hadoop.fs.Path(root, s"${dataDirs.head}/_append-$id")
    if (fs.exists(applied)) { fs.delete(staging, true); return }
    val committing = new org.apache.hadoop.fs.Path(staging, "_COMMITTING")
    if (!fs.exists(committing)) {
      fs.delete(staging, true)
      stageWrite(staging.toString)
      fs.create(committing, true).close()
    }
    commitStagedAppend(spark, indexDir, staging, id, dataDirs, applySidecar)
  }

  /** The COMMIT phase of a staged append: move the staged part files into
    * the live partition directories (each rename atomic; files already
    * moved by an earlier crashed attempt are absent from staging, so the
    * walk resumes where it stopped), apply the staged occupancy delta if
    * one exists (guarded by an `_applied-<id>` marker written INSIDE the
    * swapped occupancy dir, so the merged histogram and its applied
    * record commit atomically with the sidecar rename and can never
    * double-apply), then durably mark the whole append done with a
    * `vectors/_append-<id>` marker. That marker is ALSO the nonce that
    * changes the vectors dir's top-level path LISTING — the memoized
    * index snapshots ([[ivfMeta]]/[[lshMeta]]) invalidate on the path
    * set, not on directory-mtime granularity (two appends inside one
    * mtime tick are still told apart). */
  private def commitStagedAppend(spark: org.apache.spark.sql.SparkSession,
                                 indexDir: String,
                                 staging: org.apache.hadoop.fs.Path,
                                 id: String,
                                 dataDirs: Seq[String] = Seq("vectors"),
                                 applySidecar: SidecarApply =
                                   occupancyDeltaApply): Unit = {
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/${dataDirs.head}")
    dataDirs.foreach { d =>
      val liveD = new org.apache.hadoop.fs.Path(s"$indexDir/$d")
      val stagedD = new org.apache.hadoop.fs.Path(staging, d)
      if (fs.exists(stagedD)) {
        fs.listStatus(stagedD).foreach { part =>
          if (part.isDirectory && part.getPath.getName.contains("=")) {
            val dst = new org.apache.hadoop.fs.Path(liveD, part.getPath.getName)
            fs.mkdirs(dst)
            fs.listStatus(part.getPath).foreach { f =>
              val n = f.getPath.getName
              if (!n.startsWith("_") && !n.startsWith(".") &&
                  !fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dst, n)))
                throw new java.io.IOException(
                  s"append move ${f.getPath} -> $dst failed")
            }
          }
        }
      }
    }
    applySidecar(spark, indexDir, staging, id)
    fs.create(new org.apache.hadoop.fs.Path(live, s"_append-$id"), true).close()
    // bound the marker population: a long-running ingest stream lands one
    // marker per micro-batch, and an unbounded pile would inflate every
    // probe's sidecar-stamp listing forever. Normally only the most
    // RECENT appends can replay (streaming replays the last uncommitted
    // batch; the cached lifecycle retries immediately) — but an operator
    // rolling a checkpoint back from backup replays every batch since
    // that backup, so the bound is sized generously: a rollback deeper
    // than [[appendMarkerKeep]] committed batches is the one shape whose
    // replays would re-append (rebuild the index after such a restore).
    // Older markers are spent and deleted here, oldest first.
    val markers = fs.listStatus(live)
      .filter(_.getPath.getName.startsWith("_append-"))
    if (markers.length > appendMarkerKeep)
      markers.sortBy(m => (m.getModificationTime, m.getPath.getName))
        .dropRight(appendMarkerKeep)
        .foreach(m => fs.delete(m.getPath, false))
    fs.delete(staging, true)
  }

  /** How many `_append-<id>` replay-fence markers each index retains —
    * see the pruning note in [[commitStagedAppend]]. 512 zero-byte files
    * cost nothing in the stamp listing while covering checkpoint
    * rollbacks of up to 512 committed batches. */
  private val appendMarkerKeep = 512

  // ── id-DELETE: the tombstone sidecar ─────────────────────────────
  //
  // The lifecycle verb a training-data operator needs most often after
  // build: a takedown (copyright / PII / GDPR removal) without a full
  // index rebuild. Deletes land as an APPEND-ONLY parquet dir of (id)
  // rows under `<indexDir>/tombstones/`; probes honor it through one
  // broadcast LEFT-ANTI join applied at the memoized meta chokepoints
  // (ivfMeta / lshMeta / ivfPqMeta / bm25Meta — every probe of every
  // family reads its vectors/postings through one of them), and the
  // next compaction or retrain physically drops the rows and clears
  // the tombstones (stagedCommit swaps in a staging dir that never
  // carried them). An index with NO tombstones pays exactly nothing —
  // the anti-join is only planned when the dir exists.

  /** The tombstone sidecar's dir name under an index root. */
  private[llm] val tombstonesName = "tombstones"

  /** The live tombstoned-id frame of an index, or None when the index
    * carries no tombstones (the overwhelmingly common case — the read
    * is one FS existence probe). */
  private[llm] def tombstoneDf(spark: org.apache.spark.sql.SparkSession,
                               indexDir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/$tombstonesName")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).select("id"))
    else None
  }

  /** Restrict an index data frame (carrying an `id` column) to rows NOT
    * tombstoned: a broadcast LEFT-ANTI join — map-side, no shuffle of
    * the index scan, and partition/row-group pruning of the scan stays
    * intact underneath (Catalyst pushes list/pband/predicate filters
    * below the join). Identity when the index has no tombstones. */
  private[llm] def antiTombstoned(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String,
                                  df: DataFrame): DataFrame =
    tombstoneDf(spark, indexDir).fold(df)(t =>
      df.join(broadcast(t.distinct()), Seq("id"), "left_anti"))

  /** (size, replay-fence id) of a delete batch in ONE aggregation pass:
    * the fence id hashes (count, order-insensitive hash sum) over the
    * distinct ids, computed distributedly (no driver collect, so a
    * takedown list the size of a shard is fine) — and since the count is
    * already in that aggregate, the callers' empty-batch check and
    * returned tally ride along instead of re-executing the
    * wanted-minus-tombstones join a second time. A RETRIED delete of
    * the same id set fences to the same identity and is a no-op. */
  private[llm] def deleteBatchInfo(ids: DataFrame): (Long, String) = {
    val r = ids.agg(count(lit(1)), sum(xxhash64(col("id")))).head()
    (r.getLong(0),
      graft.util.Md5.hex(s"del:${r.getLong(0)}:${r.get(1)}").take(16))
  }

  /** DELETE ids from a built ANN index (lsh | ivf | ivfpq — the layout
    * is self-describing, no method argument needed): stage a tombstone
    * batch through the [[stagedAppend]] crash/retry discipline
    * (`vectors/_append-del-<id>` fence: a replayed delete is a no-op),
    * move it into the append-only `tombstones/` sidecar, and — for
    * occupancy-carrying indexes (LSH) — fold the deleted rows' negative
    * per-bucket counts into the histogram the same way an append folds
    * positive ones. Probes honor the tombstones immediately (the meta
    * stamps include the tombstones listing); the rows are physically
    * dropped, and the tombstones cleared, by the next [[Ann.compact]] or
    * [[Ann.retrain]].
    *
    * Returns the number of NEWLY tombstoned ids (ids already tombstoned
    * are excluded up front — which is also what makes the LSH occupancy
    * subtraction immune to double-deletes). Ids absent from the index
    * tombstone harmlessly (the anti-join is a set filter). IVF list
    * stats ([[ivfListStats]]/[[ivfSkew]]) intentionally keep counting
    * tombstoned rows until a compaction/retrain drops them — the skew
    * trigger stays conservative. Same single-writer contract as appends.
    * Re-APPENDING a tombstoned id is unsupported while its tombstone
    * lives (the anti-join would hide the new row): compact first. */
  def annDelete(ids: DataFrame, idCol: String, indexDir: String): Long = {
    val spark = ids.sparkSession
    val family = Ann.dirFamily(spark, indexDir)
    val dataDirs = family.dataDirs(spark, indexDir)
    healStrandedAppends(spark, indexDir, dataDirs)
    val wanted = ids.select(col(idCol).cast("long").as("id")).distinct()
    val fresh = tombstoneDf(spark, indexDir)
      .fold(wanted)(t => wanted.join(t.distinct(), Seq("id"), "left_anti"))
    val (nFresh, fenceId) = deleteBatchInfo(fresh)
    if (nFresh == 0) return 0L
    stagedAppend(spark, indexDir, s"del-$fenceId", dataDirs) { staging =>
      fresh.coalesce(1).write.mode("overwrite")
        .parquet(s"$staging/$tombstonesName")
      // the family's delta (lsh: negative occupancy counts) is read back
      // from the staged write, so it survives a crash after the move
      family.stageDelete(spark, indexDir, staging)
    }
    nFresh
  }

  /** Convenience [[annDelete]] for a driver-side takedown list. */
  def annDelete(spark: org.apache.spark.sql.SparkSession,
                indexDir: String, ids: Seq[Long]): Long = {
    import spark.implicits._
    annDelete(ids.toDF("id"), "id", indexDir)
  }

  /** Move a staged tombstone batch (`staging/tombstones`, written by the
    * delete verbs) into the live append-only tombstones dir — the
    * sidecar-phase counterpart of the dataDirs part-file walk, for the
    * one sidecar that accumulates by FILE ADDITION rather than merge.
    * Idempotent across crash/retry: files land under batch-id-derived
    * names and a name already present is skipped (a duplicate tombstone
    * id would be harmless anyway — the anti-join is a set filter).
    * Folded into BOTH families' default [[SidecarApply]] so a stranded
    * delete staging heals through the same [[healStrandedAppends]] walk
    * as a stranded append. */
  private[llm] def applyStagedTombstones(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      staging: org.apache.hadoop.fs.Path, id: String): Unit =
    applyStagedAddition(spark, indexDir, staging, id,
      tombstonesName, tombstonesName)

  /** The generic FILE-ADDITION sidecar apply behind
    * [[applyStagedTombstones]] (and BM25's empty-docs delta): move a
    * staged dir's part files into a live append-only sidecar under
    * batch-id-derived names. Idempotent across crash/retry — a name
    * already present is skipped (these sidecars are SET-valued, so a
    * duplicate row would be harmless anyway). */
  private[llm] def applyStagedAddition(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      staging: org.apache.hadoop.fs.Path, id: String,
      stagedName: String, liveName: String): Unit = {
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = new org.apache.hadoop.fs.Path(staging, stagedName)
    if (fs.exists(staged)) {
      val live = new org.apache.hadoop.fs.Path(s"$indexDir/$liveName")
      fs.mkdirs(live)
      fs.listStatus(staged).foreach { f =>
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          val dst = new org.apache.hadoop.fs.Path(live, s"$id-$n")
          if (!fs.exists(dst) && !fs.rename(f.getPath, dst))
            throw new java.io.IOException(
              s"sidecar-addition move ${f.getPath} -> $dst failed")
        }
      }
    }
  }

  /** The ANN families' sidecar phase: merge a staged occupancy delta
    * (`staging/delta`, written by an lsh [[Ann.append]] — positive — and
    * [[annDelete]] — negative) into the live occupancy histogram,
    * guarded against double-apply by an `_applied-<id>` marker written
    * atomically with the merged sidecar; move any staged tombstone
    * batch first. The default [[SidecarApply]] of
    * [[stagedAppend]]/[[healStrandedAppends]]. */
  private val occupancyDeltaApply: SidecarApply =
    (spark, indexDir, staging, id) => {
      applyStagedTombstones(spark, indexDir, staging, id)
      val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
      val delta = new org.apache.hadoop.fs.Path(staging, "delta")
      if (fs.exists(delta)) {
        val occ = new org.apache.hadoop.fs.Path(s"$indexDir/occupancy")
        if (!fs.exists(new org.apache.hadoop.fs.Path(occ, s"_applied-$id"))) {
          val merged =
            if (fs.exists(occ))
              spark.read.parquet(occ.toString)
                .unionByName(spark.read.parquet(delta.toString))
                .groupBy("bucket").agg(sum("count").as("count"))
            else // legacy index, or occupancy lost to a crash mid-swap:
                 // recount from the index's bucket column (the moved rows
                 // are live already, so the recount includes this batch)
              spark.read.parquet(s"$indexDir/vectors")
                .filter(col("bucket").isNotNull).groupBy("bucket").count()
          replaceSidecar(spark, indexDir, "occupancy") { p =>
            merged.coalesce(1).write.mode("overwrite").parquet(p)
            fs.create(new org.apache.hadoop.fs.Path(p, s"_applied-$id"), true)
              .close()
          }
        }
      }
    }

  /** Snapshot a live data dir's `_append-<id>` replay fences and return
    * the action that recreates them inside a STAGED index root —
    * shared by the in-place rewrites ([[Ann.compact]], [[Ann.retrain]]),
    * whose rewritten index must keep fencing replays of batches it
    * already contains. Original mtimes are restored ([[commitStagedAppend]]
    * prunes oldest-first by mtime; recreating every fence at "now" would
    * make future pruning order arbitrary).
    *
    * DELETE fences (`_append-del-*`) are deliberately NOT carried: every
    * caller of this helper is a tombstone-CLEARING rewrite (compaction /
    * retrain — the point after which a deleted id may legitimately
    * re-appear), and a surviving del fence would silently no-op a
    * RE-ISSUED delete of the same id set (same order-insensitive fence
    * id) while annDelete/bm25Delete still report its ids as newly
    * tombstoned — a re-appended victim keeps serving. Post-commit
    * idempotence of a delete never needed the marker (the
    * wanted-minus-tombstones anti-join is a set filter); it only fences
    * one crash/retry window, which cannot span a compaction (both are
    * single-writer maintenance verbs). */
  private[llm] def carryAppendFences(spark: org.apache.spark.sql.SparkSession,
                                     indexDir: String,
                                     dataDir: String = "vectors")
      : String => Unit = {
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/$dataDir")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val fences = fs.listStatus(live)
      .filter(_.getPath.getName.startsWith("_append-"))
      .filterNot(_.getPath.getName.startsWith("_append-del-"))
      .map(st => (st.getPath.getName, st.getModificationTime))
    staging => fences.foreach { case (n, mtime) =>
      val p = new org.apache.hadoop.fs.Path(s"$staging/$dataDir/$n")
      fs.create(p, true).close()
      fs.setTimes(p, mtime, -1)
    }
  }

  /** The centroid sidecar write shared by [[ivfBuild]], [[Ann.retrain]],
    * and [[Ann.compact]] — one place to evolve the format. */
  private[llm] def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                             dir: String,
                             centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Finish any earlier append that crashed after its staging committed
    * (`_COMMITTING` present, `vectors/_append-<id>` marker absent) —
    * called by both append entry points before their own work, so an
    * ABANDONED crashed append (its caller never retried) cannot leave
    * the occupancy permanently missing that batch's delta once later
    * appends land. A staging without `_COMMITTING` wrote nothing live
    * and is left alone — its owner either retries (overwriting it) or a
    * retention sweep collects it with the index dir. */
  private[llm] def healStrandedAppends(spark: org.apache.spark.sql.SparkSession,
                                  indexDir: String,
                                  dataDirs: Seq[String] = Seq("vectors"),
                                  applySidecar: SidecarApply =
                                    occupancyDeltaApply): Unit = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(indexDir))
    val entries =
      try fs.listStatus(root)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    entries.foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith(".append-")) {
        val id = n.stripPrefix(".append-")
        if (fs.exists(new org.apache.hadoop.fs.Path(root,
            s"${dataDirs.head}/_append-$id")))
          fs.delete(st.getPath, true) // applied; only the cleanup was lost
        else if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_COMMITTING"))) {
          log.warn(s"healing stranded append $id at $indexDir")
          commitStagedAppend(spark, indexDir, st.getPath, id, dataDirs,
            applySidecar)
        }
      }
    }
  }

  /** Rows per IVF list — the skew monitor for the append lifecycle: one
    * column-pruned aggregation over the list partition column. */
  def ivfListStats(spark: org.apache.spark.sql.SparkSession,
                   indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/vectors").groupBy("list").count()

  /** [[ivfListStats]] reduced to one number: max(list rows) / mean(list
    * rows), the mean over ALL trained lists (an empty list counts — a
    * drifted corpus that starves lists is exactly what this flags). 1.0
    * is perfectly balanced; [[graft.streaming.StreamRunner.annIngestJob]]
    * compares it against `retrainSkewFactor` to decide when the frozen
    * centroids have drifted enough to be worth retraining. */
  def ivfSkew(spark: org.apache.spark.sql.SparkSession,
              indexDir: String): Double = {
    val counts = ivfListStats(spark, indexDir)
      .collect().map(_.getAs[Long]("count"))
    // the list count from the memoized meta: no sidecar read per check
    val k = Ann.partitions(spark, indexDir)
    if (counts.isEmpty || k == 0) 1.0
    else counts.max.toDouble * k / counts.sum.toDouble
  }

  /** The retrain-time coarse-centroid trainer of [[Ann.retrain]] (ivf,
    * and ivfpq from its float sidecar): a deterministic HASH-SPREAD
    * sample (ties under the hash broken by id, so a recomputed partition
    * mid-training feeds identical rows — the same property
    * [[trainCentroids]] gets from its id ordering) fed to the
    * distributed k-means. The spread matters at retrain time: the
    * build's lowest-id sample would systematically exclude appended rows
    * (appends usually carry the highest ids) — exactly the drifted data
    * a retrain exists to absorb. */
  private[llm] def retrainCentroids(rows: DataFrame, k: Int,
                                    trainSample: Int): Array[Array[Double]] = {
    val sampleRdd = rows
      .orderBy(pmod(hash(col("id")), lit(1 << 30)), col("id"))
      .limit(trainSample).select(col("v")).rdd
      .map(_.getSeq[Any](0).map(x => x.asInstanceOf[Number].doubleValue()).toArray)
    kmeansDistributed(sampleRdd, k)
  }

  /** Materialize already-collected rows as a LOCAL frame (one
    * LocalTableScan, zero jobs at consumption) — the shared idiom of
    * every collect-per-round probe and serving answer localization. */
  private[graft] def localFrame(spark: org.apache.spark.sql.SparkSession,
                                rows: Array[org.apache.spark.sql.Row],
                                schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.toIndexedSeq: _*), schema)

  /** Centroid sidecar read-back: kLists × dim doubles — always tiny. */
  def readCentroids(spark: org.apache.spark.sql.SparkSession,
                    indexDir: String): Array[Array[Double]] =
    spark.read.parquet(s"$indexDir/centroids")
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** Data-file count and per-partition max of an index's vectors dir —
    * the read-amplification monitor that decides when [[Ann.compact]]
    * is worth running. Pure FS listing, no Spark job. */
  def indexFileStats(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String,
                     dataDir: String = "vectors"): (Long, Long) = {
    val vec = new org.apache.hadoop.fs.Path(s"$indexDir/$dataDir")
    val fs = vec.getFileSystem(spark.sessionState.newHadoopConf())
    val perPart = fs.listStatus(vec).iterator
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(d => fs.listStatus(d.getPath)
        .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .toLong)
      .toArray
    (perPart.sum, if (perPart.isEmpty) 0L else perPart.max)
  }

  /** File counts before and after an [[Ann.compact]] run. */
  final case class CompactStats(filesBefore: Long, filesAfter: Long,
                                tombstonesCleared: Long = 0L)

  /** Driver-memoized IVF index state — the exact counterpart of
    * [[lshMeta]]: the centroid sidecar (whose read is otherwise a Spark
    * job on EVERY probe) and the resolved vectors DataFrame (whose
    * re-resolution re-lists partitions and re-reads the footer schema per
    * probe). Invalidated by the same pure FS-metadata stamp idea, over
    * the centroids dir (every rebuild rewrites it). Warm [[Ann.probe]]
    * planning after this touches no Spark job at all —
    * serving latency is the pruned read itself. */
  private[llm] final case class IvfMeta(centroids: Array[Array[Double]],
                                   vectors: DataFrame)

  private val ivfMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, IvfMeta)]()

  private[llm] def ivfMeta(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): IvfMeta = {
    val key = s"${sessionTag(spark)}|$indexDir"
    // "vectors" is in the stamp so an APPEND invalidates the memoized
    // vectors DataFrame, whose file listing is a snapshot: every append
    // adds a `_append-<id>` marker at the vectors dir's TOP level
    // (commitStagedAppend), so the stamp changes on the path SET — two
    // appends inside one mtime tick are still told apart. Rebuilds
    // already changed the centroids listing. The dirs' listStatus is one
    // RPC over ≤ kLists entries. "tombstones" joins the stamp so a
    // delete invalidates the memoized (tombstone-filtered) frame.
    val stamp = sidecarStamp(spark, indexDir,
      Seq("centroids", "vectors", tombstonesName))
    val cached = ivfMetaCache.get(key)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val m = IvfMeta(readCentroids(spark, indexDir),
        antiTombstoned(spark, indexDir,
          spark.read.parquet(s"$indexDir/vectors")))
      capCache(ivfMetaCache)
      ivfMetaCache.put(key, (stamp, m))
      m
    }
  }

  /** One-per-process index registry for [[Ann.Cached]] sources: the first call
    * for a corpus key pays the [[ivfBuild]]; every later call (warm bench
    * passes, repeated serving queries) is a pruned probe.
    * Entries carry a (corpus fingerprint, build params) stamp — a stamp
    * mismatch on a later call triggers a rebuild, so a corpus regenerated
    * under the same path/key can never silently serve a stale index.
    * This is the train-once-at-ingest lifecycle inside one process. */
  /** One cache slot: the (fingerprint | params) stamp plus a LAZY index
    * dir — the heavy Spark build runs on first `.dir` access, OUTSIDE the
    * ConcurrentHashMap bin lock (running it inside `compute` would block
    * unrelated keys hashing to the same bin for the build's duration and
    * deadlock any reentrant map access). The lazy val's own monitor still
    * serializes concurrent first probes of the SAME key, and a build that
    * throws is retried on the next access (Scala lazy vals don't cache
    * failures). */
  private final class IndexSlot(val stamp: String,
                                val files: Map[String, (Long, Long)],
                                val baseFileCount: Int,
                                mk0: () => String) {
    // once-memo that RELEASES the thunk after forcing: a plain
    // `lazy val dir = mk()` keeps `mk` as a field forever, and each
    // append-path slot's thunk captures the PREVIOUS slot plus the
    // call's DataFrame — a long-running serving process appending daily
    // would otherwise retain an unbounded slot/plan chain per cacheKey
    // until the rebuild-factor retrain
    private[this] var thunk: () => String = mk0
    private[this] var computed: String = _
    def dir: String = synchronized {
      if (thunk != null) { computed = thunk(); thunk = null }
      computed
    }
  }

  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, IndexSlot]()

  // Temp-dir indexes created for Ann.Cached sources, deleted at JVM exit —
  // without this, one directory leaked per corpus key per process.
  private val tempIndexDirs = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempIndexDirs.forEach { d =>
        try {
          val root = java.nio.file.Paths.get(d)
          if (java.nio.file.Files.exists(root))
            java.nio.file.Files.walk(root)
              .sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }))
  }

  /** Corpus fingerprint from the plan's input files: (path, length, mtime)
    * per file, hashed — driver-side FS metadata only, no data read. A
    * regenerated file (new name, new size, or new mtime) changes the
    * fingerprint. Statuses come from ONE `listStatus` RPC per PARENT
    * DIRECTORY, not one `getFileStatus` per file — a 10⁵-file corpus under
    * a handful of partition dirs costs a handful of RPCs instead of
    * minutes of sequential per-file round-trips on every indexed call.
    * (Files the listing somehow misses — e.g. a path qualified differently
    * than its directory listing renders it — fall back to a per-file
    * stat.) A corpus with no file-backed scan (pure in-memory data)
    * fingerprints empty — callers there must vary `cacheKey` on data
    * change. */
  private[llm] def corpusFileMeta(df: DataFrame): Seq[(String, (Long, Long))] = {
    val hconf = df.sparkSession.sessionState.newHadoopConf()
    val files = df.inputFiles.sorted
    val byParent = files.groupBy(f => new org.apache.hadoop.fs.Path(f).getParent)
    val listed: Map[String, (Long, Long)] = byParent.keysIterator.flatMap { parent =>
      val fs = parent.getFileSystem(hconf)
      try fs.listStatus(parent).iterator.map(st =>
        st.getPath.toString -> (st.getLen, st.getModificationTime))
      catch { case _: java.io.FileNotFoundException => Iterator.empty }
    }.toMap
    files.iterator.map { f =>
      f -> listed.getOrElse(f, {
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(hconf).getFileStatus(p)
        (st.getLen, st.getModificationTime)
      })
    }.toSeq
  }

  /** Total bytes of the file-backed corpus's input files — the size a
    * caller gates an index-build side effect on (one listing per input
    * dir, no data read). */
  private[graft] def corpusInputBytes(df: DataFrame): Long =
    corpusFileMeta(df).iterator.map(_._2._1).sum

  private[llm] def corpusFingerprint(df: DataFrame): String =
    graft.util.Md5.hex(corpusFileMeta(df).iterator.map {
      case (f, (len, mtime)) => s"$f:$len:$mtime;"
    })

  /** Where the `*TopKIndexed` entry points materialize an index (IVF and
    * LSH alike): under the configured `graft.ivf.indexBase` (a qualified
    * URI on the shared filesystem — REQUIRED for any non-local
    * deployment, where a driver-local temp dir would resolve against a
    * different filesystem than the executors' parquet IO), else a local
    * temp dir registered for cleanup at exit — a local-mode convenience
    * only. The shared-base dir name hashes the cacheKey AND the full
    * (corpus fingerprint | params) stamp: a rebuild after a corpus or
    * param change lands in a NEW directory instead of swapping the one
    * in-flight readers are probing, and two processes sharing the base
    * only ever write the same dir when key, corpus, and params all agree
    * — in which case their staged commits produce identical content.
    * Superseded stamp dirs are not garbage-collected here (ops can list
    * the base by mtime); serving deployments should still prefer the
    * explicit build + query pairs with a durable indexDir. */
  private def newIndexDir(spark: org.apache.spark.sql.SparkSession,
                          cacheKey: String, stamp: String): String =
    spark.conf.getOption("graft.ivf.indexBase") match {
      case Some(base) =>
        def h(s: String): String = graft.util.Md5.hex(s).take(16)
        s"$base/idx-${h(cacheKey)}-${h(stamp)}"
      case None =>
        val d = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
        tempIndexDirs.add(d)
        s"$d/index"
    }

  /** An appended corpus may grow this much (in FILES, the granularity the
    * fingerprint sees) past its last FULL build before the cache retrains
    * from scratch instead of appending again: for IVF the centroids drift
    * away from the grown distribution (recall degrades once a large
    * fraction of the data post-dates training); for LSH appends are exact
    * forever but each one adds part files, so the rebuild is a compaction.
    * 1.5 ≈ "retrain once a third of the corpus post-dates the quantizer". */
  private val appendRebuildFactor = 1.5

  /** True when `df`'s plan is a chain of deterministic Project/Filter over
    * ONE file-backed relation — the shape where "rows from new input
    * files" is exactly "new output rows", so an index append over just
    * those files equals a full rebuild. Joins, aggregates, limits, or
    * nondeterministic expressions disqualify (appended files could change
    * or reorder OLD output rows there). */
  private def appendSafePlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, SubqueryAlias}
    def ok(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      // parquet resolves through DSv2 on deployments that exclude it from
      // spark.sql.sources.useV1SourceList — same file-scan semantics,
      // same append safety
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileTable]
      case p: Project       => p.projectList.forall(_.deterministic) && ok(p.child)
      case f: Filter        => f.condition.deterministic && ok(f.child)
      case s: SubqueryAlias => ok(s.child)
      case _                => false
    }
    ok(df.queryExecution.analyzed)
  }

  // input_file_name() renders local paths as file:///p while
  // FileIndex-derived inputFiles render file:/p — normalize both sides
  // before comparing (hdfs:// and s3a:// render identically already)
  private def normFileUri(s: String): String = s.replaceFirst("^file:/+", "file:/")

  /** Build-once/probe-many resolution against [[indexCache]]: returns the
    * index dir for `cacheKey`, running `build` only when the key is new or
    * its (corpus fingerprint | build params) stamp changed. The map
    * `compute` only INSTALLS the slot (cheap); the build itself runs via
    * the slot's lazy dir, outside the map's bin lock.
    *
    * APPEND fencing: when the fingerprint changed because files were ADDED
    * to the corpus — every previously-indexed file still present with the
    * same (length, mtime) — and the plan is append-safe
    * ([[appendSafePlan]]), the slot runs `append` over JUST the new files
    * against the EXISTING index dir instead of a full retrain + rewrite:
    * the dominant ingest pattern (daily appends) updates the index in
    * place. Readers are safe (append never removes a file a resolved
    * DataFrame references), and the slot's stamp advances to the new
    * fingerprint, so the next unchanged call is a pure cache hit. Past
    * [[appendRebuildFactor]] growth since the last FULL build the cache
    * retrains from scratch (IVF centroid drift / LSH part-file
    * compaction). Cross-process note: an appended dir keeps its
    * original stamp-hashed NAME, so a second process computing the new
    * fingerprint builds its own fresh dir rather than sharing — correct,
    * just unshared; long-lived serving deployments should prefer the
    * explicit build/append/query lifecycle on a durable indexDir. */
  private[llm] def cachedIndex(df: DataFrame, cacheKey: String, paramStamp: String,
                          append: Option[(DataFrame, String) => Unit] = None)
                         (build: String => Unit): String = {
    val fileMeta = corpusFileMeta(df)
    val fileMap = fileMeta.toMap
    val stamp = graft.util.Md5.hex(fileMeta.iterator.map {
      case (f, (len, mtime)) => s"$f:$len:$mtime;"
    }) + s"|$paramStamp"
    val spark = df.sparkSession
    indexCache.compute(cacheKey, (_, prev) =>
      if (prev != null && prev.stamp == stamp) prev
      else {
        val grownInPlace = prev != null && append.isDefined &&
          prev.stamp.endsWith(s"|$paramStamp") &&
          prev.files.nonEmpty && fileMap.size > prev.files.size &&
          prev.files.forall { case (f, m) => fileMap.get(f).contains(m) }
        val canAppend = grownInPlace &&
          fileMap.size <= prev.baseFileCount * appendRebuildFactor &&
          appendSafePlan(df)
        if (canAppend) {
          val newFiles = (fileMap.keySet -- prev.files.keySet).toSeq
            .map(normFileUri)
          val prevSlot = prev
          new IndexSlot(stamp, fileMap, prev.baseFileCount, () => {
            val d = prevSlot.dir // force the previous build first
            val newRows = df.filter(
              regexp_replace(input_file_name(), "^file:/+", "file:/")
                .isin(newFiles: _*))
            append.get(newRows, d)
            d
          })
        } else {
          // make the append path's ABSENCE diagnosable: a corpus that
          // grew by pure file addition but still retrains should say why
          if (grownInPlace)
            log.debug(s"cachedIndex[$cacheKey]: grown corpus NOT appended (" +
              (if (fileMap.size > prev.baseFileCount * appendRebuildFactor)
                 s"file growth ${fileMap.size}/${prev.baseFileCount} past " +
                   s"rebuild factor $appendRebuildFactor"
               else "plan not append-safe") + "); retraining from scratch")
          new IndexSlot(stamp, fileMap, fileMap.size, () => {
            val d = newIndexDir(spark, cacheKey, stamp)
            build(d)
            // optional retention sweep after a successful rebuild: every
            // corpus/param change — and every threshold retrain — strands
            // the previous stamp dir otherwise. Scoped to THIS key's hash;
            // `graft.ivf.gcKeep` generations survive (>= 2 keeps the dir
            // in-flight readers of the superseded index may still probe).
            spark.conf.getOption("graft.ivf.gcKeep").foreach { keep =>
              spark.conf.getOption("graft.ivf.indexBase").foreach { base =>
                // default the hidden-dir age guard to the CLI's hour:
                // a 0 guard would let this sweep race ANOTHER session's
                // in-flight staged build under the shared indexBase
                val minAge = spark.conf.getOption("graft.ivf.gcMinAgeMs")
                  .map(_.toLong).getOrElse(3600000L)
                graft.tools.IndexGc.sweep(spark, base, keep.toInt, minAge,
                  Some(graft.util.Md5.hex(cacheKey).take(16)))
              }
            }
            d
          })
        }
      }).dir
  }

  /** Driver-side signature of one query vector under the same fixed-seed
    * plane family as [[lshBuckets]]/[[signature]]. */
  private[llm] def querySignature(query: Seq[Double],
                                  planes: Seq[Seq[Double]]): Long =
    planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(query).map { case (a, b) => a * b }.sum
      if (d > 0) 1L << i else 0L
    }.reduce(_ | _)

  // ---------- LSH index lifecycle (mirrors the IVF one) ----------

  /** BUILD an LSH bucket index at ingest: ONE signature pass over the
    * corpus, written `partitionBy("bucket")` so probes are partition-
    * pruned reads, plus a one-row sidecar recording (n_bits, dim) so a
    * query can never probe with a mismatched plane family. No training —
    * the hyperplanes are a fixed seeded function of (nBits, dim). Commits
    * atomically via the same staged rename as [[ivfBuild]].
    *
    * Signature width and layout granularity are SEPARATE knobs: the
    * partition column is the top `partitionBits` of the signature (up to
    * 2^partitionBits directories — pick it ≈ log₂(corpus / desired
    * rows-per-partition); finer layouts waste the write on tiny files and
    * every probe on directory listings), while the FULL `nBits` signature
    * rides along as a data column for exact Hamming candidate filtering.
    * Prefix pruning is LOSSLESS over the Hamming ball: a signature within
    * Hamming r of the query has ≤ r flips in its prefix too, so the
    * prefix ball is a superset of the probe's partitions. */
  def lshBuild(df: DataFrame, idCol: String, vecCol: String, indexDir: String,
               nBits: Int = 16, dim: Int = 64,
               partitionBits: Int = 8, metaCols: Seq[String] = Nil): Unit = {
    requireValidMetaCols(metaCols, Set("id", "v", "bucket", "pband"), "lshBuild")
    // the hyperplane family is a function of (nBits, dim): a `dim` that
    // doesn't match the corpus would sign EVERY vector as malformed
    // (NULL bucket) and commit a silently-useless index whose probes
    // return zero rows forever — fail the build loudly instead (one
    // first-non-null-row peek; the IVF family's centroid-dim require)
    val got = firstVectorDim(df, vecCol, "lshBuild")
    require(got == dim,
      s"lshBuild: corpus vector dim $got != configured dim $dim — " +
        "probes over a mismatched hyperplane family would silently " +
        "return nothing")
    val pBits = math.min(partitionBits, nBits)
    val sess = df.sparkSession
    stagedCommit(sess, indexDir) { staging =>
      clusteredWrite(
        lshBuckets(df, idCol, vecCol, nBits, dim, metaCols)
          .withColumn("pband", shiftrightunsigned(col("bucket"), nBits - pBits)),
        "pband", 1 << pBits)
        .write.mode("overwrite").partitionBy("pband").parquet(s"$staging/vectors")
      import sess.implicits._
      Seq((nBits, dim, pBits)).toDF("n_bits", "dim", "partition_bits")
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/meta")
      // bucket-OCCUPANCY sidecar: rows-per-populated-bucket, read back
      // from the just-staged index (a column-pruned scan of the bucket
      // column only — not a second signature pass over the corpus).
      // an lsh probe replays its radius-expansion loop against this histogram
      // DRIVER-SIDE, so a warm probe costs zero candidate-count Spark
      // jobs. Size is bounded by min(2^nBits, distinct signatures) —
      // 65536 rows at the default width; a query facing an oversized
      // histogram falls back to the counting loop rather than collecting
      // it. NULL buckets (malformed vectors) are excluded exactly as the
      // probe's Hamming filter excludes them.
      sess.read.parquet(s"$staging/vectors")
        .filter(col("bucket").isNotNull)
        .groupBy("bucket").count()
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/occupancy")
    }
  }

  /** The dim of the corpus's first non-null vector (one-row peek). An
    * empty corpus fails here: it would commit an index whose vectors dir
    * has no files, and every later read would die on parquet schema
    * inference with an unrelated-looking error. */
  private[llm] def firstVectorDim(df: DataFrame, vecCol: String,
                                  who: String): Int = {
    val sample = df.select(col(vecCol)).filter(col(vecCol).isNotNull).head(1)
    require(sample.nonEmpty,
      s"$who: corpus has no non-null vectors — refusing to commit an " +
        "empty index (bootstrap from a non-empty backfill)")
    sample.head.getSeq[Any](0).size
  }

  /** Driver-memoized LSH index metadata: the (n_bits, dim, partition_bits)
    * sidecar row, the bucket-occupancy histogram, AND the resolved vectors
    * DataFrame (re-resolving `read.parquet` per probe would re-run
    * partition discovery over the pband directories — a Spark listing job
    * once the dir count passes the parallel-discovery threshold).
    * Invalidated by a pure FS-metadata stamp over the two sidecar
    * directories (a rebuild — staged or in place — writes new part files,
    * changing the stamp; two listStatus RPCs per probe, no Spark job on
    * the warm path). Histogram is None when the index predates the
    * occupancy sidecar or exceeds [[maxHistogramBuckets]] rows — those
    * probes fall back to the counting loop, correctness unchanged. */
  private[llm] final class LshMeta(val nBits: Int, val dim: Int, val pBits: Int,
                                   hist: => Option[(Array[Long], Array[Long])],
                                   val vectors: DataFrame,
                                   val partitioned: Boolean = true) {
    lazy val histogram: Option[(Array[Long], Array[Long])] = hist
  }

  private[llm] val maxHistogramBuckets = 1 << 20

  // Meta caches hold histograms and resolved DataFrames per
  // (session, indexDir). A long-lived process cycling through many
  // corpora (tests, multi-tenant serving) must not accumulate them
  // forever: past the cap the cache clears wholesale — crude but
  // bounded, and re-warming is one sidecar read per live index.
  private val maxMetaCacheEntries = 128

  private[llm] def capCache[V](m: java.util.concurrent.ConcurrentHashMap[String, V]): Unit =
    if (m.size > maxMetaCacheEntries) m.clear()

  // Unique tag per live SparkSession for meta-cache keys (a resolved
  // DataFrame must never serve a different session). Weak keys: a closed
  // session's tag — and with it every cache entry keyed by it, once the
  // cap clears them — can be collected.
  private val sessionTags = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())

  private[llm] def sessionTag(spark: org.apache.spark.sql.SparkSession): String =
    sessionTags.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString)

  private val lshMetaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, LshMeta)]()

  private[llm] def sidecarStamp(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String, sides: Seq[String]): String = {
    val hconf = spark.sessionState.newHadoopConf()
    graft.util.Md5.hex(sides.iterator.flatMap { side =>
      val p = new org.apache.hadoop.fs.Path(s"$indexDir/$side")
      val fs = p.getFileSystem(hconf)
      try fs.listStatus(p).sortBy(_.getPath.toString).iterator.map(st =>
        s"${st.getPath}:${st.getLen}:${st.getModificationTime};")
      catch { case _: java.io.FileNotFoundException => Iterator.single("-") }
    })
  }

  private[llm] def lshMeta(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String): LshMeta = {
    // session-scoped key: a resolved DataFrame must not leak across
    // SparkSessions
    val key = s"${sessionTag(spark)}|$indexDir"
    // "vectors" guards the memoized DataFrame against appends that landed
    // their files but crashed before the occupancy swap; completed
    // appends advance the stamp doubly — the rewritten occupancy part
    // file AND the `vectors/_append-<id>` marker, a path-SET change that
    // doesn't depend on mtime granularity
    val stamp = sidecarStamp(spark, indexDir,
      Seq("meta", "occupancy", "vectors", tombstonesName))
    val cached = lshMetaCache.get(key)
    if (cached != null && cached._1 == stamp) cached._2
    else {
      val meta = spark.read.parquet(s"$indexDir/meta").head()
      val (nBits, dim, pBits) = (meta.getAs[Int]("n_bits"),
        meta.getAs[Int]("dim"), meta.getAs[Int]("partition_bits"))
      val histogram =
        try {
          val rows = spark.read.parquet(s"$indexDir/occupancy")
            .limit(maxHistogramBuckets + 1).collect()
          if (rows.length > maxHistogramBuckets) None
          else Some((rows.map(_.getAs[Long]("bucket")),
                     rows.map(_.getAs[Long]("count"))))
        } catch { case scala.util.control.NonFatal(_) => None }
      val m = new LshMeta(nBits, dim, pBits, histogram,
        antiTombstoned(spark, indexDir,
          spark.read.parquet(s"$indexDir/vectors")))
      capCache(lshMetaCache)
      lshMetaCache.put(key, (stamp, m))
      m
    }
  }

  /** All signatures within Hamming distance ≤ `radius` of `sig` — the
    * bucket ids a radius-r probe must read. Size is Σ_{i≤r} C(nBits, i):
    * driver-side combinatorics, cheap for the radii real probes use. */
  private[llm] def hammingBall(sig: Long, nBits: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap(r =>
      (0 until nBits).combinations(r)
        .map(_.foldLeft(sig)((s, b) => s ^ (1L << b))))

  /** The pband ids a radius-`radius` probe of signature `qSig` must read
    * — the prefix projection of the Hamming ball (lossless: full-sig
    * Hamming ≤ r implies prefix Hamming ≤ r) — or None when the ball
    * outgrows `maxEnumBuckets` (probe falls back to an unpruned scan).
    * The ball-size sum early-exits at the cap: for wide prefixes a full
    * C(n, r) sum overflows Long long before any enumerable radius. ONE
    * implementation shared by the single and batch probes — their
    * batch ≡ per-query contract depends on identical ball decisions. */
  private[llm] def prefixBall(qSig: Long, nBits: Int, pBits: Int, radius: Int,
                         maxEnumBuckets: Int): Option[Seq[Long]] = {
    def choose(n: Int, r: Int): Long =
      (1 to r).foldLeft(1L)((a, i) => a * (n - i + 1) / i)
    val pRadius = math.min(radius, pBits)
    val ballSize = (0 to pRadius).foldLeft(0L)((acc, r) =>
      if (acc > maxEnumBuckets) acc else acc + choose(pBits, r))
    if (ballSize <= maxEnumBuckets)
      Some(hammingBall(qSig >>> (nBits - pBits), pBits, pRadius))
    else None
  }

  /** pband IN (...) literals typed to match the read-back partition
    * column — the column is type-INFERRED (int when values fit), and a
    * mistyped literal adds a cast that silently drops PartitionFilters. */
  private[llm] def pbandLiterals(idx: LshMeta, ids: Seq[Long]): Seq[Any] =
    if (idx.vectors.schema("pband").dataType ==
        org.apache.spark.sql.types.IntegerType) ids.map(_.toInt)
    else ids

  /** One query's candidate read at a radius: prefix-ball partition
    * pruning when enumerable, Hamming-filtered scan otherwise — shared
    * by the single probe, and by the batch probe's counting fallback so
    * a legacy no-histogram index never costs the batch path unpruned
    * full-index counting scans. */
  private[llm] def prunedCandidates(vectors: DataFrame, idx: LshMeta, qSig: Long,
                               radius: Int, maxEnumBuckets: Int): DataFrame = {
    val isHamming = bit_count(col("bucket").bitwiseXOR(lit(qSig)))
    (if (idx.partitioned)
       prefixBall(qSig, idx.nBits, idx.pBits, radius, maxEnumBuckets)
     else None) match {
      case Some(ids) =>
        vectors.filter(col("pband").isin(pbandLiterals(idx, ids): _*) &&
          isHamming <= radius)
      case None => vectors.filter(isHamming <= radius)
    }
  }

  /** Shared adaptive radius selection for the LSH probes: replay the
    * exponential expansion (r = 1, 2, 4, … capped at nBits) until at
    * least `minCandidates` candidates lie within Hamming r of `qSig` —
    * against a driver-side occupancy histogram when one is available
    * (zero Spark jobs: histogram mass within r IS the candidate count at
    * r, nulls excluded on both sides), else via `countAt` (one counting
    * job per step, O(log nBits) total). One implementation so the
    * histogram path can never drift from the counting loop it replaces —
    * the zero-jobs specs gate their equivalence.
    *
    * SCALING BOUND: the histogram path costs exactly ONE O(buckets)
    * popcount pass per query — the buckets pre-bucket into an
    * (nBits+1)-cell distance profile, and every radius step is then an
    * O(1) cumulative lookup. The previous per-step rescan was
    * O(buckets × steps) and unguarded at the [[maxHistogramBuckets]]
    * = 2²⁰ cap × a 256-query batch chunk (~10⁹ driver bitCounts); the
    * pre-bucketed form is bounded by cap × chunk ≈ 2.7×10⁸ popcounts
    * per chunk (≲0.3 s driver CPU) regardless of how many expansion
    * steps the queries take. */
  private[llm] def chooseRadius(histogram: Option[(Array[Long], Array[Long])],
                           qSig: Long, nBits: Int, minCandidates: Int)
                          (countAt: Int => Long): Int = {
    val count: Int => Long = histogram match {
      case Some((buckets, counts)) =>
        val within = new Array[Long](nBits + 1)
        var i = 0
        while (i < buckets.length) {
          val d = java.lang.Long.bitCount(buckets(i) ^ qSig)
          // a (corrupt) bucket with bits beyond nBits stays excluded at
          // every radius, exactly as the per-step scan excluded it
          if (d <= nBits) within(d) += counts(i)
          i += 1
        }
        var d = 1
        while (d <= nBits) { within(d) += within(d - 1); d += 1 }
        r => within(math.min(r, nBits))
      case None => countAt
    }
    var r = 1
    while (r < nBits && count(r) < minCandidates) r = math.min(r * 2, nBits)
    r
  }

  /** Detect a BUILT index dir's kind from its layout sidecars — the
    * self-describing dispatch the `index:REF` catalog vars and the DFL
    * probe stages use (an index dir always knows what it is; callers
    * should not have to): bm25 = stats+postings, ivfpq =
    * codebooks+centroids, ivf = centroids, lsh = meta+vectors. None =
    * not a built index. */
  def indexKind(spark: org.apache.spark.sql.SparkSession,
                indexDir: String): Option[String] = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def has(sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(root, sub))
    if (has("stats") && has("postings")) Some("bm25")
    else if (has("codebooks") && has("centroids")) Some("ivfpq")
    else if (has("centroids") && has("vectors")) Some("ivf")
    else if (has("meta") && has("vectors")) Some("lsh")
    else None
  }

}
