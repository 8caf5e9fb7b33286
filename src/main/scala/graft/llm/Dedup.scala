package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Deduplication operators for web-scale corpora.
  *
  * Scale design (the part that matters at 100 TB):
  *
  *  - NOTHING here is all-pairs. Exact dedup is a hash `groupBy`; near-dup
  *    candidate generation is MinHash banding — a `groupBy` on (band index,
  *    band hash) whose bucket width is bounded by the band parameters — or
  *    an inverted shingle join for the exact variant. The only quadratic
  *    work is WITHIN a bucket, and bucket size is controlled.
  *  - All hashing uses `xxhash64` (a codegen'd Catalyst expression); the
  *    signature computation is higher-order array functions (`transform` /
  *    `aggregate`), staying inside whole-stage codegen — no UDFs.
  *  - Verification is exact n-gram Jaccard computed only on candidates.
  */
object Dedup {

  /** Distinct hashed word n-gram shingles per document: (id, hs
    * array<long>) via the native [[graft.functions.ShingleHash]]
    * expression — per-row, no shuffle, codegen-resident. All downstream
    * joins and signatures work on the 64-bit hashes, never the strings
    * (a collision between two distinct corpus shingles, p ≈ d²/2⁶⁵, is
    * the only approximation — negligible even at 10¹² shingles).
    * `hs` is SORTED ascending: one O(s log s) sort per document here lets
    * every pairwise verify downstream run as an O(s) merge scan
    * ([[graft.functions.SortedIntersectCount]]) instead of a per-pair
    * hash-set build; minhash is order-insensitive (min over elements). */
  def shingleDf(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        array_sort(graft.functions.ShingleF.shingleHashes(
          TextAnalysis.wsTokens(col(textCol)), n)).as("hs"))
      .filter(size(col("hs")) > 0)

  /** Exact dedup: hash-bucket by normalized-text fingerprint, keep the
    * smallest id per bucket. One shuffle on the hash — the 100 TB shape. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol).as("id"))
      .groupBy("fp")
      .agg(min("id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** SOFT dedup: instead of dropping duplicates, weight every row by
    * the inverse size of its exact-duplicate group (normalized-text
    * fingerprint) — `w = 1/n_dups` — so a document duplicated d times
    * contributes total loss weight 1 during training (the
    * downweighting alternative to removal used when duplication itself
    * carries signal). One fingerprint window exchange; rounded to 6
    * for oracle parity. Returns (id, n_dups, weight). */
  def softDedupWeights(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(col(idCol).as("id"),
        TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .withColumn("n_dups",
        count(lit(1)).over(Window.partitionBy("__fp")))
      .select(col("id"), col("n_dups"),
        round(lit(1.0) / col("n_dups"), 6).as("weight"))
  }

  /** One (id, h) row per distinct hashed shingle — the long-keyed join /
    * aggregation input. */
  private def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("id"), explode(col("hs")).as("h"))

  /** Lazily materialize a multi-consumer intermediate exactly once:
    * `localCheckpoint(eager = false)` persists the partitions on first
    * materialization (MEMORY_AND_DISK) and truncates lineage, so the
    * other plan branches read blocks instead of re-running the
    * computation — AQE's stage reuse declines to dedupe these branches
    * (measured: the simhash signature projection, the shingle
    * hash+sort, and the postings window chain each executed once PER
    * CONSUMER; guide §2.4 — remove recomputed passes). Lazy (not
    * eager) so no extra job is scheduled and single-action queries keep
    * their parallel-branch overlap; blocks are dropped by the
    * ContextCleaner when the query's DataFrames go out of scope. At
    * 100 TB this trades one executor-local spill of the intermediate
    * (which the next operator was about to shuffle anyway) for N-1 full
    * recomputes of the corpus-wide projection feeding it.
    *
    * FAULT-TOLERANCE TRADE (round-21 ADVICE): localCheckpoint blocks
    * are executor-local and lineage is cut, so an executor loss fails
    * the query instead of recomputing. On deployments where executor
    * churn is routine (spot fleets, decommissioning), set
    * `graft.dedup.shared.strategy=persist`: persist(MEMORY_AND_DISK)
    * gives the same single materialization WITH lineage retained for
    * recompute. It is not the default because CacheManager entries
    * outlive the query's DataFrames (no ContextCleaner hook) — a
    * many-query session accumulates cached subtrees until storage
    * eviction, the wrong default for a long-lived serving session. */
  private def shared(df: DataFrame): DataFrame = {
    val strategy =
      try df.sparkSession.conf.get("graft.dedup.shared.strategy",
        "localCheckpoint")
      catch { case _: Throwable => "localCheckpoint" }
    if (strategy == "persist")
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df.localCheckpoint(eager = false)
  }

  /** Exact near-duplicate pairs by word-n-gram Jaccard, via an inverted
    * shingle join (each shared shingle is a join key). Joins on hashed
    * shingles, so the shuffle carries longs, not strings.
    *
    * Two document-frequency prunes run before the self-join:
    *  - `df == 1` shingles cannot witness a pair — and they are the bulk
    *    of any real corpus, so this alone shrinks the join input a lot;
    *  - `df > maxDocFreq` shingles are boilerplate AND a skew bomb: a
    *    shingle shared by d documents emits d·(d-1)/2 join rows on ONE
    *    key, so a single 3-gram in 1% of a 10⁹-doc corpus would be
    *    ~5·10¹³ rows. Capping drops only candidate-generation evidence:
    *    the Jaccard value of every emitted pair is still computed
    *    exactly from the FULL shingle sets. Pairs whose overlap is
    *    dominated by capped shingles may be missed — their jaccard
    *    restricted to sub-cap shingles falls below the threshold, so
    *    the prefix lemma no longer guarantees a collision (boilerplate
    *    overlap is not similarity evidence; [[exact]]/[[minhashPairs]]
    *    cover full-boilerplate duplicates).
    *
    * Candidate generation is PREFIX-FILTERED (Bayardo et al. WWW'07 /
    * PPJoin, Xiao et al. '08 — the standard exact sim-join technique):
    * under a global shingle order, any pair with jaccard ≥ t must share
    * a shingle within each side's first ⌊(1-t)·|hs|⌋+1 shingles, so only
    * that prefix is inverted. The global order is ascending document
    * frequency (the canonical choice): each prefix holds the doc's
    * RAREST shingles, so inverted buckets stay near-dup-clique-sized
    * instead of common-shingle-sized — candidate pairs grow with the
    * square of per-bucket df, and rare-first ordering is what keeps that
    * square on the output scale rather than the corpus scale. Lossless:
    * recall is the prefix lemma; precision is the exact verify.
    *
    * Returns (id_a < id_b, jaccard). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, n: Int = 3,
                   maxDocFreq: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sh feeds the inverted index AND both verify joins — three
    // consumers of one heavy shingle-hash projection; see [[shared]]
    val sh = shared(shingleDf(df, idCol, textCol, n))
    val ex = hashedShingles(sh)
    val dfh = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
    // the df-cap applies HERE, before any per-key array materializes: a
    // shingle shared by d >> cap documents (10⁷ copies of one page) would
    // otherwise build a d-element collect_list buffer in one aggregation
    // task before a post-hoc size filter could discard it. Dropping capped
    // shingles up front also shortens every affected doc's set, so the
    // prefix below is computed over the capped universe — consistent with
    // the documented semantics (boilerplate-only overlap is not evidence).
    val capped = ex.join(dfh, "h").filter(col("dfh") <= maxDocFreq)
    val w = Window.partitionBy("id").orderBy("dfh", "h")
    val exploded = capped
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
      // prefix length |x| - ⌈t·|x|⌉ + 1 (the prefix lemma's bound). The
      // epsilon only matters when t·|x| sits within 1e-9 of an integer —
      // where ceil would otherwise overshoot from float error (0.8·10 =
      // 8.000000000000002) and silently shorten the prefix, losing pairs;
      // erring low only lengthens the prefix, which is always safe
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select("id", "h", "rn", "sz")
    // one hash aggregation replaces a df-count + semi-join + two-sided
    // self-join: bucket (id, position, set size) triples per shingle, then
    // emit within-bucket pairs via a codegen'd double explode (never an
    // interpreted higher-order lambda — at high dup multiplicity the
    // d²/2-per-bucket fan-out runs in the generate hot path). The
    // per-shingle pair duplication (a pair surfaces once per shared
    // shingle) is absorbed by map-side partial aggregation: the pair
    // shuffle carries only distinct candidates.
    val buckets = exploded.groupBy("h")
      .agg(collect_list(struct(col("id"), col("rn"), col("sz"))).as("xs"))
      .filter(size(col("xs")) >= 2) // bucket width ≤ dfh ≤ cap already
    // overlap required for jaccard ≥ t: O/(|a|+|b|-O) ≥ t ⟺
    // O ≥ t/(1+t)·(|a|+|b|)
    val needed = (col("a.sz") + col("b.sz")).cast(DoubleType) *
      lit(threshold / (1.0 + threshold))
    val cands = buckets
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      .filter(col("a.id") < col("b.id"))
      // length filter (PPJoin) AT GENERATION: jaccard ≥ t forces
      // t·max(|a|,|b|) ≤ min(|a|,|b|); template-corpus buckets pair docs
      // of wildly different sizes, and killing them here keeps them out
      // of the candidate shuffle entirely
      .filter(greatest(col("a.sz"), col("b.sz")).cast(DoubleType) * threshold
        <= least(col("a.sz"), col("b.sz")).cast(DoubleType) + 1e-9)
      // positional filter (PPJoin): both sets are sorted by the same
      // global (df, h) order, so the overlap contributed by this shared
      // shingle and everything after it is at most 1 + min of the two
      // remaining suffix lengths. Lossless per pair: a true pair's FIRST
      // shared shingle has no shared shingle before it, so that row's
      // bound is a genuine upper bound on TOTAL overlap and it passes.
      // This is what kills template corpora: shared boilerplate shingles
      // sort late (df-descending position), leaving suffixes too short
      // to ever reach the required overlap — at 20× dup multiplicity
      // this filter alone drops ~97% of the 48M raw prefix collisions.
      .filter(lit(1.0) +
        least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")).cast(DoubleType)
        >= needed - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .select("id_a", "id_b")
    // exact verify on the full shingle sets, joined back per candidate
    // (the cap affects which pairs surface, never their jaccard value)
    val withSh = cands
      .join(sh.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
      // length re-check on the FULL (uncapped) sizes — generation only
      // saw the capped universe
      .filter(greatest(size(col("sh_a")), size(col("sh_b"))).cast(DoubleType) * threshold
        <= least(size(col("sh_a")), size(col("sh_b"))).cast(DoubleType) + 1e-9)
    val inter = graft.functions.SortedIntersectF
      .count(col("sh_a"), col("sh_b")).cast(DoubleType)
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType) - inter
    withSh
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // Fixed-seed affine hash family over the 61-bit Mersenne prime: the
  // signatures are deterministic across runs and cluster sizes.
  private val MersenneP = (1L << 61) - 1
  private def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)((math.abs(rnd.nextLong()) % (MersenneP - 1) + 1,
                         math.abs(rnd.nextLong()) % MersenneP))
  }

  /** MinHash signatures as ONE per-row projection over the shingle-hash
    * array (`sigs` = array of numHashes longs): the signature is a
    * row-local function of `hs`, so no explode and NO SHUFFLE — at corpus
    * scale the explode + 64-column hash aggregation this replaces paid a
    * full shuffle (one signature row per document) for nothing. Values are
    * bit-identical to the aggregated form (same affine family, same
    * non-ANSI wrap-around arithmetic — see
    * [[graft.functions.MinHashSigs]]). */
  def minhashSigs(sh: DataFrame, numHashes: Int): DataFrame = {
    val (as, bs) = hashParams(numHashes).unzip
    sh.select(col("id"),
      graft.functions.SketchF.minhashSigs(col("hs"), as, bs, MersenneP).as("sigs"))
  }

  /** Near-duplicate pairs via MinHash + LSH banding:
    * signature (numHashes) → bands of `rowsPerBand` → `groupBy`(band id,
    * band hash) buckets → within-bucket candidate pairs → exact Jaccard
    * verify. With 64 hashes / 32 bands of 2 rows, recall at j≥0.8 is
    * 1-(1-j²)³² ≈ 1-1e-14 — the oracle-compared exact pair set matches.
    * Shingle arrays are joined back only for the (few) candidate pairs,
    * never carried through the 32× band explode and shuffle.
    * (reference has no dedup; this is the LLM-pipeline extension mandated
    * by the project brief.) */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, n: Int = 3,
                   numHashes: Int = 64, rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // sh feeds the signatures AND both verify joins; see [[shared]]
    val sh = shared(shingleDf(df, idCol, textCol, n))
    val sigs = minhashSigs(sh, numHashes)
    // band hash = xxhash64 over the band's signature slice + band index
    // (element values identical to the former per-column form, so band
    // hashes — and the emitted pair set — are unchanged)
    val bandCols = (0 until numBands).map { b =>
      val slice = (0 until rowsPerBand)
        .map(r => element_at(col("sigs"), b * rowsPerBand + r + 1))
      struct(lit(b).as("band"), xxhash64(slice :+ lit(b): _*).as("bh"))
    }
    val buckets = sigs
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bh"))
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val withSh = cands
      .join(sh.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
    val inter = graft.functions.SortedIntersectF
      .count(col("sh_a"), col("sh_b")).cast(DoubleType)
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType) - inter
    withSh
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Containment (near-SUBSET) pairs: `(id_a, id_b)` where at least
    * `threshold` of a's word-n-gram shingles also appear in b —
    * `C(A,B) = |A∩B| / |A|` — the asymmetric relation Jaccard
    * structurally misses: a paragraph quoted inside a much longer page
    * has tiny Jaccard (union is page-sized) but containment ≈ 1. This is
    * the dedup lens for subsumed documents (excerpts, quoted snippets,
    * page-plus-boilerplate wrappers) — drop the contained copy, keep the
    * superset.
    *
    * Same inverted-index machinery as [[jaccardPairs]] (hashed shingles,
    * document-frequency cap, df-ascending prefix order), with the
    * asymmetric prefix bound: containment ≥ t forces an overlap of
    * ⌈t·|A|⌉, so the CONTAINED side probes only its first
    * |A|−⌈t·|A|⌉+1 rarest shingles (prefix lemma on A alone) — but the
    * container side has NO length or prefix prune (B may be arbitrarily
    * larger; any of its postings can witness). Candidate volume is
    * therefore Σ_h prefix_df(h)·df(h), bounded by the df-cap exactly as
    * the self-join case; the length and positional filters do NOT apply
    * (they assume the symmetric Jaccard bound). Verify is exact on the
    * full shingle sets. As with [[jaccardPairs]], pairs whose overlap
    * evidence is entirely above the df-cap may be missed (boilerplate
    * containment is not the target relation).
    *
    * Returns directed (id_a CONTAINED-IN id_b, sz_a, sz_b, containment)
    * with id_a ≠ id_b; identical shingle sets emit both directions —
    * survivor arbitration (size-then-id) is the caller's policy. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, n: Int = 3,
                       maxDocFreq: Long = 1000L): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentPairs: threshold must be in (0,1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    // sh feeds the postings AND both verify joins; withPos feeds the
    // probe AND index sides of the candidate join; see [[shared]]
    val sh = shared(shingleDf(df, idCol, textCol, n))
    val ex = hashedShingles(sh)
    val dfh = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
    val capped = ex.join(dfh, "h").filter(col("dfh") <= maxDocFreq)
    val w = Window.partitionBy("id").orderBy("dfh", "h")
    val withPos = shared(capped
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("id"))))
    // contained-side probe: the prefix lemma on A (overlap ≥ ⌈t·|A|⌉ must
    // touch A's first |A|−⌈t·|A|⌉+1 shingles under the global order);
    // same ceil-epsilon guard as jaccardPairs
    val probe = withPos
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select(col("id").as("id_a"), col("h"),
        col("rn").as("rn_a"), col("sz").as("sz_a0"))
    val index = withPos.select(col("id").as("id_b"), col("h"),
      col("rn").as("rn_b"), col("sz").as("sz_b0"))
    // required overlap: O ≥ ⌈t·|A|⌉ (one-sided — B has no upper length
    // bound, but O ≤ min(|A|,|B|) still forces |B| ≥ t·|A|)
    val needed = col("sz_a0").cast(DoubleType) * threshold
    val cands = probe.join(index, "h")
      .filter(col("id_a") =!= col("id_b"))
      // asymmetric length filter AT GENERATION: a container smaller than
      // t·|A| cannot hold the required overlap
      .filter(col("sz_b0").cast(DoubleType) >= needed - 1e-9)
      // asymmetric positional filter (the PPJoin argument, one-sided):
      // both sets sort by the same global (df, h) order, so overlap from
      // this shared shingle onward is ≤ 1 + min of the remaining suffix
      // lengths; a true pair's FIRST shared shingle makes that a genuine
      // bound on TOTAL overlap, so it passes — lossless per pair
      .filter(lit(1.0) +
        least(col("sz_a0") - col("rn_a"), col("sz_b0") - col("rn_b"))
          .cast(DoubleType) >= needed - 1e-9)
      .select("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_wit"))
      .select("id_a", "id_b")
    val withSh = cands
      .join(sh.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
    val inter = graft.functions.SortedIntersectF
      .count(col("sh_a"), col("sh_b")).cast(DoubleType)
    withSh
      .withColumn("containment", inter / size(col("sh_a")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** Subsumption survivors over [[containmentPairs]]: drop a document
    * when it is contained in a STRICTLY larger document, or in an
    * equal-sized one with a smaller id (the deterministic tie-break that
    * keeps exactly one of an identical-set clique). Everything else —
    * including the containers themselves — survives. */
  def containmentSurvivors(df: DataFrame, idCol: String,
                           pairs: DataFrame): DataFrame = {
    val dropped = pairs
      .filter(col("sz_b") > col("sz_a") ||
        (col("sz_b") === col("sz_a") && col("id_b") < col("id_a")))
      .select(col("id_a").as("__drop")).distinct()
    df.join(dropped, df(idCol) === col("__drop"), "left_anti")
  }

  /** CROSS-CORPUS exact-Jaccard near-duplicate pairs: every LEFT (new
    * crawl) document paired with every RIGHT (reference snapshot / prior
    * training set) document at jaccard ≥ threshold — the
    * dedup-new-data-against-what-we-already-trained-on shape, which the
    * self-join family cannot express (running [[jaccardPairs]] on the
    * union would also pay for within-reference pairs nobody wants).
    *
    * Same PPJoin machinery as [[jaccardPairs]] (df-ascending global
    * shingle order, prefix + length + positional filters, exact verify
    * on the full shingle sets), run over the side-tagged union so both
    * sides share ONE document-frequency order — the prefix lemma is
    * per-pair and holds for R⋈S exactly as for the self-join. The only
    * structural change is at candidate generation: within-bucket pairs
    * are emitted ONLY across sides (`a.side = 0 ∧ b.side = 1`), so
    * within-left and within-right candidates never reach the shuffle or
    * the verify. The df-cap counts a shingle's frequency over BOTH
    * corpora (a boilerplate shingle is a skew bomb regardless of which
    * side it lives on). Ids keep their original per-side types and may
    * collide across corpora — sides are disambiguated structurally, not
    * by id.
    *
    * Returns (id_a ∈ df, id_b ∈ ref, jaccard). */
  def jaccardPairsAgainst(df: DataFrame, ref: DataFrame, idCol: String,
                          textCol: String, threshold: Double, n: Int = 3,
                          maxDocFreq: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // each side feeds its postings branch AND a verify join; see [[shared]]
    val shL = shared(shingleDf(df, idCol, textCol, n))
    val shR = shared(shingleDf(ref, idCol, textCol, n))
    val ex = hashedShingles(shL).withColumn("side", lit(0))
      .unionByName(hashedShingles(shR).withColumn("side", lit(1)))
    val dfh = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
    val capped = ex.join(dfh, "h").filter(col("dfh") <= maxDocFreq)
    val w = Window.partitionBy("side", "id").orderBy("dfh", "h")
    val prefixes = capped
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("side", "id")))
      // prefix length |x| - ⌈t·|x|⌉ + 1, epsilon as in jaccardPairs
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select("side", "id", "h", "rn", "sz")
    val buckets = prefixes.groupBy("h")
      .agg(collect_list(struct(col("side"), col("id"), col("rn"), col("sz"))).as("xs"))
      // a cross pair needs both sides present in the bucket
      .filter(size(col("xs")) >= 2)
    val needed = (col("a.sz") + col("b.sz")).cast(DoubleType) *
      lit(threshold / (1.0 + threshold))
    val cands = buckets
      .select(explode(col("xs")).as("a"), col("xs"))
      .select(col("a"), explode(col("xs")).as("b"))
      // ONLY across sides — this replaces the self-join's a.id < b.id
      .filter(col("a.side") === 0 && col("b.side") === 1)
      // length filter (PPJoin), as in jaccardPairs
      .filter(greatest(col("a.sz"), col("b.sz")).cast(DoubleType) * threshold
        <= least(col("a.sz"), col("b.sz")).cast(DoubleType) + 1e-9)
      // positional filter (PPJoin): both sides sorted by the shared
      // union-df order, so the suffix bound holds verbatim
      .filter(lit(1.0) +
        least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")).cast(DoubleType)
        >= needed - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .select("id_a", "id_b")
    val withSh = cands
      .join(shL.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(shR.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
      .filter(greatest(size(col("sh_a")), size(col("sh_b"))).cast(DoubleType) * threshold
        <= least(size(col("sh_a")), size(col("sh_b"))).cast(DoubleType) + 1e-9)
    val inter = graft.functions.SortedIntersectF
      .count(col("sh_a"), col("sh_b")).cast(DoubleType)
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType) - inter
    withSh
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** CROSS-CORPUS containment pairs: LEFT (new crawl) documents whose
    * shingle set is ≥ `threshold` contained in some RIGHT (reference
    * snapshot) document — the "this new page is an excerpt of something
    * we already train on" shape, which the symmetric cross-Jaccard pass
    * misses whenever the container is much larger. Same side-tagged
    * union as [[jaccardPairsAgainst]] (ONE shared df order), with
    * [[containmentPairs]]' one-sided filters: the LEFT side probes only
    * its prefix window; the RIGHT side keeps all df-capped postings; the
    * asymmetric length (|B| ≥ t·|A|) and first-shared-shingle positional
    * bounds prune at generation; exact verify on the full sets.
    *
    * Returns (id_a ∈ df CONTAINED-IN id_b ∈ ref, sz_a, sz_b,
    * containment). */
  def containmentPairsAgainst(df: DataFrame, ref: DataFrame, idCol: String,
                              textCol: String, threshold: Double, n: Int = 3,
                              maxDocFreq: Long = 1000L): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentPairsAgainst: threshold must be in (0,1], got $threshold")
    import org.apache.spark.sql.expressions.Window
    // each side feeds its postings branch AND a verify join; withPos
    // feeds the probe AND index sides; see [[shared]]
    val shL = shared(shingleDf(df, idCol, textCol, n))
    val shR = shared(shingleDf(ref, idCol, textCol, n))
    val ex = hashedShingles(shL).withColumn("side", lit(0))
      .unionByName(hashedShingles(shR).withColumn("side", lit(1)))
    val dfh = ex.groupBy("h").agg(count(lit(1)).as("dfh"))
    val capped = ex.join(dfh, "h").filter(col("dfh") <= maxDocFreq)
    val w = Window.partitionBy("side", "id").orderBy("dfh", "h")
    val withPos = shared(capped
      .withColumn("rn", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("side", "id"))))
    val probe = withPos.filter(col("side") === 0)
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select(col("id").as("id_a"), col("h"),
        col("rn").as("rn_a"), col("sz").as("sz_a0"))
    val index = withPos.filter(col("side") === 1)
      .select(col("id").as("id_b"), col("h"),
        col("rn").as("rn_b"), col("sz").as("sz_b0"))
    val needed = col("sz_a0").cast(DoubleType) * threshold
    val cands = probe.join(index, "h")
      .filter(col("sz_b0").cast(DoubleType) >= needed - 1e-9)
      .filter(lit(1.0) +
        least(col("sz_a0") - col("rn_a"), col("sz_b0") - col("rn_b"))
          .cast(DoubleType) >= needed - 1e-9)
      .select("id_a", "id_b")
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_wit"))
      .select("id_a", "id_b")
    val withSh = cands
      .join(shL.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(shR.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
    val inter = graft.functions.SortedIntersectF
      .count(col("sh_a"), col("sh_b")).cast(DoubleType)
    withSh
      .withColumn("containment", inter / size(col("sh_a")).cast(DoubleType))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"),
        round(col("containment"), 4).as("containment"))
  }

  /** CROSS-CORPUS MinHash+LSH near-duplicate pairs — [[jaccardPairsAgainst]]'s
    * banded sibling, for when the reference snapshot is too large for
    * exact PPJoin inversion to be worth it: signatures are row-local
    * per side (fixed seeded hash family, so a reference corpus's
    * signatures can be computed ONCE and persisted across crawls —
    * append-only, like the ANN indexes), candidate generation is one
    * equi-join of band buckets across sides (id-and-band-hash rows only;
    * at 64/2 banding recall at j≥0.8 is 1-(1-j²)³² ≈ 1-1e-14), and the
    * exact verify restores precision. Returns (id_a ∈ df, id_b ∈ ref,
    * jaccard). */
  def minhashPairsAgainst(df: DataFrame, ref: DataFrame, idCol: String,
                          textCol: String, threshold: Double, n: Int = 3,
                          numHashes: Int = 64, rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    // each side feeds its band buckets AND a verify join; see [[shared]]
    val shL = shared(shingleDf(df, idCol, textCol, n))
    val shR = shared(shingleDf(ref, idCol, textCol, n))
    def bandBuckets(sh: DataFrame): DataFrame = {
      val sigs = minhashSigs(sh, numHashes)
      val bandCols = (0 until numBands).map { b =>
        val slice = (0 until rowsPerBand)
          .map(r => element_at(col("sigs"), b * rowsPerBand + r + 1))
        struct(lit(b).as("band"), xxhash64(slice :+ lit(b): _*).as("bh"))
      }
      sigs.select(col("id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.bh"))
    }
    val cands = bandBuckets(shL).as("a").join(bandBuckets(shR).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val withSh = cands
      .join(shL.select(col("id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(shR.select(col("id").as("id_b"), col("hs").as("sh_b")), "id_b")
    val inter = graft.functions.SortedIntersectF
      .count(col("sh_a"), col("sh_b")).cast(DoubleType)
    val union = (size(col("sh_a")) + size(col("sh_b"))).cast(DoubleType) - inter
    withSh
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** CROSS-CORPUS exact dedup survivors: LEFT rows whose normalized-text
    * fingerprint does NOT appear in the reference corpus — the cheap
    * first pass of snapshot-against-snapshot dedup (one left-anti hash
    * join on the fingerprint; both fingerprints are row-local
    * projections, so the only exchange is the join itself). */
  def exactSurvivorsAgainst(df: DataFrame, ref: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    df.join(
      ref.select(TextAnalysis.fingerprint(col(textCol)).as("__fp")).distinct(),
      TextAnalysis.fingerprint(col(textCol)) === col("__fp"), "left_anti")

  /** LEFT rows with no cross-corpus near-dup match: anti-join on `id_a`
    * of a [[jaccardPairsAgainst]]/[[minhashPairsAgainst]] pair set.
    * Unlike the self-join [[survivors]] (which keeps the smallest id of
    * each dup group), EVERY matched left row drops — the reference side
    * is the retained corpus by definition. */
  def survivorsAgainst(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_a").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** 64-bit SimHash signatures (id, sig) as ONE per-row projection over
    * the token array — no explode, no shuffle (the explode + 64-`sum`
    * vote aggregation this replaces shuffled one row per document at
    * corpus scale). Token hashing stays SQL `xxhash64` (seed 42), so
    * signatures are bit-identical — see [[graft.functions.SimHashSig]].
    * Docs whose text is null produce a null signature and are dropped,
    * matching the explode semantics. */
  def simhashSigs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.SketchF.simhashSig(
          TextAnalysis.wsTokens(TextAnalysis.normText(col(textCol)))).as("sig"))
      .filter(col("sig").isNotNull)

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit
    * chunks (any pair within Hamming distance ≤ maxHamming < 4 shares at
    * least one exact chunk — pigeonhole), bucket-join on chunks, verify
    * with `bit_count(xor) <= maxHamming`. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hamming64Pairs(simhashSigs(df, idCol, textCol), maxHamming)

  /** The 64-bit Hamming-banding pair machinery shared by [[simhashPairs]]
    * and [[imagePairs]]: band each `(id, sig)` signature into 4×16-bit
    * chunks (any pair within Hamming distance ≤ maxHamming < 4 shares at
    * least one exact chunk — pigeonhole), bucket-join on chunks, verify
    * with `bit_count(xor) <= maxHamming`. */
  private def hamming64Pairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"hamming64Pairs: the 4-band pigeonhole covers maxHamming 0..3, got $maxHamming")
    // the self-join consumes chunks twice — and the signature
    // projection feeding it (simhash token-vote / image decode+hash) is
    // the expensive part; see [[shared]]
    val chunks = shared(sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("sig"), i * 16).bitwiseAND(0xFFFFL).as("chunk"))): _*)).as("c"))
      .select(col("id"), col("sig"), col("c.band"), col("c.chunk")))
    chunks.as("a").join(chunks.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      // verify BEFORE deduplicating: the hamming filter is a codegen'd
      // projection that kills random chunk collisions map-side, so the
      // dropDuplicates shuffle only carries true near-dup pairs
      .withColumn("hamming", bit_count(col("a.sig").bitwiseXOR(col("b.sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast(LongType).as("hamming"))
  }

  /** IMAGE near-dup pairs by perceptual hash — the multimodal member of
    * the dedup family: one row-local [[Multimodal.imageHashes]] pass
    * (dHash by default — robust to re-encoding and uniform brightness
    * shifts, since only adjacent-pixel ORDER feeds the bits), then the
    * same banded Hamming machinery as [[simhashPairs]] — chunk-bucket
    * join, never all-pairs, exact `bit_count` verify. Byte-identical
    * copies land at hamming 0; mild requantizations land within the
    * default radius. Undecodable payloads drop before banding. */
  def imagePairs(media: DataFrame, idCol: String = "id",
                 payloadCol: String = "payload", maxHamming: Int = 3,
                 method: String = "dhash"): DataFrame =
    hamming64Pairs(
      Multimodal.imageHashes(media.sparkSession,
        media.select(col(idCol).as("id"), col(payloadCol).as("payload")),
        method),
      maxHamming)

  /** CROSS-CORPUS image near-dup pairs (new-crawl LEFT vs retained
    * RIGHT — the xdedup posture of the text family, for the image
    * column): both sides hash row-locally ([[Multimodal.imageHashes]]),
    * the same 4×16-bit Hamming pigeonhole bucket-joins left chunks to
    * RIGHT chunks only (no left-left or right-right candidate ever
    * forms), exact `bit_count` verify map-side before the dedup
    * shuffle. Returns (id_a = left, id_b = right, hamming) — feed to
    * [[survivorsAgainst]] to drop every matched left row. */
  def imagePairsAgainst(left: DataFrame, right: DataFrame,
                        idCol: String = "id", payloadCol: String = "payload",
                        maxHamming: Int = 3,
                        method: String = "dhash"): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"imagePairsAgainst: the 4-band pigeonhole covers maxHamming 0..3, got $maxHamming")
    def chunksOf(media: DataFrame) = {
      val sigs = Multimodal.imageHashes(media.sparkSession,
        media.select(col(idCol).as("id"), col(payloadCol).as("payload")),
        method)
      sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map(i =>
          struct(lit(i).as("band"),
            shiftright(col("sig"), i * 16).bitwiseAND(0xFFFFL).as("chunk"))): _*)).as("c"))
        .select(col("id"), col("sig"), col("c.band"), col("c.chunk"))
    }
    chunksOf(left).as("a").join(chunksOf(right).as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk"))
      .withColumn("hamming", bit_count(col("a.sig").bitwiseXOR(col("b.sig"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast(LongType).as("hamming"))
  }

  /** Exact embedding pairs by cosine ≥ threshold, as a BLOCKED self-join
    * (the 1-Bucket-Theta shape, Okcan & Riedewald SIGMOD'11): rows hash
    * into `numBlocks` blocks; the left side replicates each row to every
    * block pair it leads, the right side to every pair it trails, and the
    * join is a plain shuffle join on the (i, j) pair key — the O(N²)
    * comparisons distribute evenly over numBlocks·(numBlocks+1)/2 keys
    * with NO CartesianProduct / BroadcastNestedLoopJoin in the plan, and
    * no executor ever nests one whole side in memory.
    *
    * Compute is inherently quadratic — the price of exactness at an
    * arbitrary threshold (cos 0.45 is a similarity join, not near-dup
    * detection; no sublinear exact method exists). Size `numBlocks` ≈
    * √(2·parallelism): replication is ~numBlocks/2 per side, work per
    * task is (N/numBlocks)². For near-dup thresholds use
    * [[cosinePairsBucketed]], which generates candidates by banding
    * instead of comparing everything. */
  def cosinePairsBlocked(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numBlocks: Int = 8): DataFrame = {
    import graft.functions.VectorF
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", VectorF.norm(col("v")))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(numBlocks.toLong)).cast("int"))
    // row in block b leads pairs (b, j≥b) and trails pairs (i≤b, b)
    val lead = v.select(col("*"),
        explode(sequence(col("blk"), lit(numBlocks - 1))).as("pj"))
      .withColumn("pk", struct(col("blk").as("pi"), col("pj")))
    val trail = v.select(col("*"),
        explode(sequence(lit(0), col("blk"))).as("pi"))
      .withColumn("pk", struct(col("pi"), col("blk").as("pj")))
    // cross-block pairs meet exactly once (one arrangement exists); the
    // id ordering only disambiguates the doubled same-block arrangement
    lead.as("a").join(trail.as("b"),
        col("a.pk") === col("b.pk") &&
          (col("a.blk") =!= col("b.blk") || col("a.id") < col("b.id")))
      .withColumn("cos",
        VectorF.dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .filter(col("cos") >= threshold)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
              greatest(col("a.id"), col("b.id")).as("id_b"),
              round(col("cos"), 4).as("cos"))
  }

  /** Embedding near-dup pairs via banded random-hyperplane LSH — the
    * 100 TB near-dup path ([[cosinePairsBlocked]] is the exact
    * arbitrary-threshold variant): `numBands` independent
    * `bitsPerBand`-bit sign signatures; a pair is a candidate iff it
    * collides in ANY band (`groupBy` band join, bounded buckets, never
    * all-pairs), then exact-cosine verified. Recall for cosine c is
    * 1-(1-p^bits)^bands with p = 1-arccos(c)/π — at c≥0.9, 16 bands of
    * 8 bits give >0.998; this is a HIGH-threshold near-duplicate
    * detector, not a general similarity join.
    *
    * SIZING AT SCALE: `bitsPerBand` is the knob that keeps candidate
    * generation off the quadratic path. Random (p≈½ per bit) pairs
    * collide in a band with probability 2^-bits, so expected chance
    * candidates ≈ numBands·N²/2^(bits+1); keeping that O(N) needs
    * bits ≳ log₂(N) + log₂(numBands). The 8-bit default fits test-scale
    * corpora (N ≤ ~10⁵); at N = 10⁹ use ~32-40 bits per band and add
    * bands to recover recall at the target threshold (ScaleCheck's
    * embedding section runs the 16-bit variant at 20× multiplicity and
    * shows output-bound, not corpus-quadratic, growth). */
  def cosinePairsBucketed(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, numBands: Int = 16,
                          bitsPerBand: Int = 8): DataFrame = {
    import graft.functions.VectorF
    val emptyResult = df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cos", DoubleType))))
    val dimRow = df.select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty) return emptyResult
    val dim = dimRow.head.getInt(0)
    val planes = Similarity.hyperplanes(numBands * bitsPerBand, dim)
    // v feeds the banding AND both verify joins; see [[shared]]
    val v = shared(df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", VectorF.norm(col("v"))))
    // bucket join on ids ONLY — the band explode and shuffle never carry
    // the embedding vector (same discipline as minhashPairs' shingles);
    // features come back via candidate joins for the exact-cosine verify.
    // All 128 sign bits come from ONE native expression — the composed
    // per-plane form was ~10k expression nodes whose optimize+codegen time
    // dwarfed the row work (see [[graft.functions.HyperplaneBands]]).
    // the self-join consumes buckets twice — and the 128-bit
    // hyperplane signature projection is the expensive part; see [[shared]]
    val buckets = shared(v
      .select(col("id"), posexplode(
        graft.functions.HyperplaneF.bands(col("v"), numBands, bitsPerBand, planes)))
      .select(col("id"), col("pos").as("band"), col("col").as("bh")))
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cands
      .join(v.select(col("id").as("id_a"), col("v").as("v_a"), col("norm").as("n_a")), "id_a")
      .join(v.select(col("id").as("id_b"), col("v").as("v_b"), col("norm").as("n_b")), "id_b")
      .withColumn("cos", VectorF.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Survivors after near-dup removal: greedy keep-smallest-id — a doc is
    * dropped iff some smaller-id doc is its near-dup (anti-join against
    * the pair set; no iteration, scale-safe). NOT transitive: for pairs
    * {(1,3),(2,3)} both 1 and 2 survive even though they share a dup.
    * When one-representative-per-CLUSTER semantics matter (template
    * families, boilerplate chains), use [[clusterSurvivors]]. */
  def survivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** CONNECTED-COMPONENT duplicate clusters over a near-dup pair set:
    * one `(id, rep)` row per id appearing in any pair, `rep` = the
    * smallest id in its component — the transitive closure the greedy
    * [[survivors]] pass deliberately skips. Distributed min-label
    * propagation: each round every node takes the min label among itself
    * and its neighbors (one edges⋈labels join + one min-aggregation per
    * round, both on the PAIR set — the corpus is never touched), so a
    * round is Θ(|pairs|) shuffle and the round count is the component
    * DIAMETER. Near-dup clusters are shallow (a template family is a
    * near-clique: diameter 1-2), so the default `maxIter` is generous;
    * for adversarial long chains raise it (the alternating small-star /
    * large-star reformulation converges in O(log n) rounds but its
    * per-round cost is higher — not worth it for dedup-shaped graphs).
    * Ids keep their ORIGINAL type (numeric or string — every sibling
    * dedup operator supports both; `min` is lexicographic on strings,
    * matching the keep-smallest convention elsewhere). Convergence is
    * detected by counting labels that changed in the round (one join on
    * the label set — small next to the edge set — per round; a type-
    * agnostic check, where a numeric label-sum test would silently
    * mis-converge on string ids); a call that hits `maxIter`
    * un-converged THROWS rather than returning silently partial
    * clusters. Labels are localCheckpointed each round to truncate the
    * iterative lineage. */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // symmetrize in ONE pass over the pair set (a union of two selects
    // would evaluate the — possibly expensive — pairs plan twice before
    // the persist materializes)
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("id"), col("id_b").as("nbr")),
        struct(col("id_b").as("id"), col("id_a").as("nbr"))))
        .as("e"))
      .select(col("e.id"), col("e.nbr"))
      .persist()
    // init = the FIRST propagation round fused into the label build:
    // rep₀ = min(id, min neighbor) — exactly what the old identity init
    // (rep = id) produced after its first join round, for the same
    // groupBy cost as the distinct() it replaces. Saves one full
    // join+checkpoint+convergence round per call (near-dup components
    // are shallow, so that was ~a third of the loop; guide §2.4).
    // `least` is min, so string ids keep the lexicographic convention.
    // LAZY checkpoint: the first loop round's one action below is what
    // materializes the init blocks — an eager one here scheduled a
    // dedicated extra job per call for the same materialization
    var labels = edges.groupBy(col("id"))
      .agg(least(col("id"), min(col("nbr"))).as("rep"))
      .localCheckpoint(eager = false)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      val viaNbr = edges.join(labels.withColumnRenamed("id", "nbr"), "nbr")
        .select(col("id"), col("rep"))
      // convergence detection FUSED into the label update: the labels
      // branch carries its current rep as `prev` (every id occurs in
      // labels, so max(prev) recovers it through the same groupBy that
      // computes the new min-label), and "any label changed" becomes a
      // scan-count over the checkpointed result — one join per round,
      // still type-agnostic (string ids compare by value, not by a
      // numeric sum)
      val repType = labels.schema("rep").dataType
      val next = labels.select(col("id"), col("rep"), col("rep").as("prev"))
        .unionByName(viaNbr.select(col("id"), col("rep"),
          lit(null).cast(repType).as("prev")))
        .groupBy("id").agg(min("rep").as("rep"), max("prev").as("prev"))
        .localCheckpoint(eager = false)
      // ONE action per round (was two: an eager-checkpoint job + an
      // isEmpty job): count() visits EVERY partition of the changed-
      // filter, so it both decides convergence and fully materializes
      // the lazy checkpoint blocks the next round's join reads —
      // isEmpty's take(1) would leave unvisited partitions
      // unmaterialized and push their compute into the next round
      converged =
        next.filter(!(col("rep") <=> col("prev"))).count() == 0L
      labels = next.select(col("id"), col("rep"))
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters: not converged after $maxIter rounds — a " +
          s"component's diameter exceeds maxIter; raise it")
    labels
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embeddings with a deterministic
    * k-means coarse quantizer ([[Similarity.trainCentroids]] — the SAME
    * quantizer the IVF index family trains, deterministic sample and
    * all), then compare pairs ONLY within a cluster. This is the
    * published recipe's shape: the clustering replaces global candidate
    * generation, so total compare work drops from N² to Σ|cluster|² ≈
    * N²/k, and each cluster's pairs are an independent shuffle-join
    * task — no cartesian, no cross-cluster traffic.
    *
    * Trade vs the siblings: [[cosinePairsBucketed]] (banded LSH) has
    * probabilistic recall at high thresholds; semantic clustering
    * trades that for a DIFFERENT miss mode — a near-dup pair split
    * across a cluster boundary is never compared (bit-identical vectors
    * always co-cluster, so exact duplicates are never missed). That is
    * the documented SemDeDup design point: duplicates-of-meaning
    * overwhelmingly share a semantic cluster.
    *
    * SIZING AT SCALE: `kClusters` is the knob — per-cluster work is
    * (N/k)² under balance, so scale k with corpus size (the paper uses
    * k ≈ √N·c). A pathologically hot cluster degrades toward quadratic;
    * the mitigation is raising k (or pre-splitting hot lists, exactly
    * like the IVF skew monitor) — both leave this function's plan
    * unchanged: one assignment projection (broadcast centroid literals,
    * codegen'd argmin) + one shuffle join on the cluster key. */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, kClusters: Int = 64,
                    trainSample: Int = 4096): DataFrame = {
    import graft.functions.VectorF
    // the self-join consumes the k-argmin assignment twice; see [[shared]]
    val assigned = shared(Similarity.ivfAssign(df, idCol, vecCol,
        Similarity.trainCentroids(df, idCol, vecCol, kClusters, trainSample))
      .withColumn("norm", VectorF.norm(col("v"))))
    assigned.as("a").join(assigned.as("b"),
        col("a.list") === col("b.list") && col("a.id") < col("b.id"))
      .withColumn("cos",
        VectorF.dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cos"), 4).as("cos"))
  }

  /** [[semanticPairs]] → greedy keep-smallest-id survivors: the
    * SemDeDup end-to-end operator (drop every non-representative member
    * of a within-cluster near-dup pair). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, kClusters: Int = 64,
                    trainSample: Int = 4096): DataFrame =
    survivors(df, idCol,
      semanticPairs(df, idCol, vecCol, threshold, kClusters, trainSample))

  /** Survivors with one-representative-per-CLUSTER semantics: a doc is
    * dropped iff it is a non-representative member of a duplicate
    * component ([[duplicateClusters]]). Differs from the greedy
    * [[survivors]] exactly on transitive chains: for pairs
    * {(1,3),(2,3)} greedy keeps {1,2}, cluster keeps only 1. */
  def clusterSurvivors(df: DataFrame, idCol: String, pairs: DataFrame,
                       maxIter: Int = 20): DataFrame =
    df.join(
      duplicateClusters(pairs, maxIter)
        .filter(col("id") =!= col("rep")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
}
