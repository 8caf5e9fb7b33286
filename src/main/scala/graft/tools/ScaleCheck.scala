package graft.tools

import graft.llm.{Ann, Retrieval}
import org.apache.spark.sql.functions._
import graft.util.Sessions

/** Scale sanity: run the near-dup pipeline at 1×/4×/20× the sf0.1 corpus
  * (ids shifted per copy so copies are near-dup pairs of each other) and
  * print wall times. Candidate counts grow with planted dup multiplicity,
  * so superlinear-but-bounded growth is expected; an all-pairs regression
  * would blow up immediately (20× data → 400× pairs).
  *
  * Usage: runMain graft.tools.ScaleCheck [sfDir]
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.create("graft-scale", Sessions.master(32))
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.count()
    Seq(1, 4, 20).foreach { mult =>
      val big = (0 until mult).map(i =>
        docs.select((col("doc_id") + lit(i.toLong * base * 10)).as("doc_id"),
          col("text"))).reduce(_ union _)
      big.persist().count()
      def time(name: String)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val n = f
        println(f"[scale] mult=$mult%-3d $name%-16s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
      }
      time("exact")(graft.llm.Dedup.exact(big, "doc_id", "text").count())
      time("minhash_pairs")(graft.llm.Dedup.minhashPairs(big, "doc_id", "text", 0.8).count())
      time("simhash_pairs")(graft.llm.Dedup.simhashPairs(big, "doc_id", "text", 3).count())
      time("jaccard_pairs")(graft.llm.Dedup.jaccardPairs(big, "doc_id", "text", 0.8).count())
      // skew probe: ONE boilerplate sentence appended to EVERY document.
      // Its shingles have df = corpus size; without the df-cap the
      // inverted join would emit df²/2 rows on each of those keys
      // (mult=20 ⇒ ~5·10⁹ rows from 5 keys); with the cap, runtime must
      // track the planted-dup pair count like the uncontaminated run
      val boiler = big.select(col("doc_id"),
        concat(col("text"), lit(" all rights reserved by the original author")).as("text"))
      time("jaccard_boiler")(graft.llm.Dedup.jaccardPairs(boiler, "doc_id", "text", 0.8).count())
      // connected components over the (quadratically growing) planted
      // pair set: each min-label round is one edges⋈labels join + one
      // fused update/convergence aggregation, so time must track the
      // PAIR count (printed as rows by minhash_pairs above), with round
      // count pinned by component diameter (planted cliques: 1-2)
      time("dup_clusters")(graft.llm.Dedup.duplicateClusters(
        graft.llm.Dedup.minhashPairs(big, "doc_id", "text", 0.8)).count())
      // CDC: chunking is a row-local projection (linear in mult); the
      // shared-pairs join is df-capped at 64, so the mult× replanting —
      // which drives every chunk's df toward 2·mult·(natural df) — can
      // push common chunks OVER the cap but never go quadratic: time
      // must track output pairs, not candidate pairs
      time("cdc_chunks")(graft.llm.Cdc.chunks(big, "doc_id", "text").count())
      time("cdc_pairs")(graft.llm.Cdc.sharedPairs(big, "doc_id", "text").count())
      // scrub's shuffle carries (id, chunk_idx) only; at mult>1 every
      // chunk is duplicated so the rebuild drops everything — time must
      // stay linear, never text-shuffle-bound
      time("cdc_scrub")(graft.llm.Cdc.scrubDupChunks(big, "doc_id", "text").count())
      // BM25: the term-filtered explode shrinks the aggregation exchange
      // to matching docs only and df rides that same exchange as a count
      // window — time must grow ~linearly in mult, output capped at k
      val bmQuery =
        Retrieval.Probe(Retrieval.One(Seq("spark", "stream", "window")), 10)
      time("bm25_topk")(Retrieval.probe(Retrieval.Scan(big, "doc_id", "text"),
        bmQuery).count())
      // the BM25 APPEND posture (the lexical twin of lsh_append/
      // ivf_append): untimed bm25Build over the mult× corpus, then a
      // FIXED-SIZE increment appended — one tokenize pass over the NEW
      // rows plus banded delta landings and an O(1) stats merge, never
      // a corpus rescan: append time must stay ~FLAT in mult. The
      // indexed probe after it reads pruned postings only (flat), and
      // compaction (the rare maintenance op — may grow with index size)
      // returns the layout to build shape with probes unchanged.
      val bmDir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-bm25-$mult").toString + "/idx"
      graft.llm.Retrieval.bm25Build(
        big.withColumn("flag", pmod(col("doc_id"), lit(2L)).cast("int")),
        "doc_id", "text", bmDir, pbands = 16, metaCols = Seq("flag"))
      val bmInc = docs.limit(200)
        .select((col("doc_id") + lit(900000000L)).as("doc_id"), col("text"))
        .withColumn("flag", pmod(col("doc_id"), lit(2L)).cast("int"))
      time("bm25_append")({
        graft.llm.Retrieval.bm25Append(bmInc, "doc_id", "text", bmDir,
          appendId = Some(s"scale-$mult")); 200L
      })
      time("bm25_probe")(Retrieval.probe(Retrieval.Dir(spark, bmDir),
        bmQuery).count())
      // filtered serving: the predicate prunes rows inside the SAME
      // banded read — flat in mult like the unfiltered probe (no
      // widening loop: BM25 filtered is exact by construction)
      time("bm25_probe_filtered")(Retrieval.probe(Retrieval.Dir(spark, bmDir),
        bmQuery.copy(filter = Some(col("flag") === 0))).count())
      time("bm25_compact")({
        val st = graft.llm.Retrieval.bm25Compact(spark, bmDir)
        st.filesBefore - st.filesAfter
      })
      time("bm25_probe_compacted")(Retrieval.probe(Retrieval.Dir(spark, bmDir),
        bmQuery).count())
      // line dedup: two lines per doc, the footer duplicated CORPUS-wide
      // (one group of size 2·mult·base) and every doc line re-planted
      // mult× — the keep decision is one line-keyed aggregation + join,
      // so time must track line COUNT (linear), never line pairs
      val linedBig = big.select(col("doc_id"),
        concat(col("text"),
          lit("\nall rights reserved by the original author")).as("text"))
      time("line_dedup")(graft.llm.TextAnalysis.dedupLines(
        linedBig, "doc_id", "text").count())
      // URL dedup: the mult× replication plants mult copies of every
      // canonical key (the messy rendering varies only by fragment).
      // Canonicalization is a row-local projection, the dedup one
      // fixed-width-keyed aggregation — time linear in rows, output
      // pinned at the base key count regardless of mult
      val urled = big.select(col("doc_id"),
        concat(lit("HTTPS://WWW.Example.COM:443/p/"),
          pmod(col("doc_id"), lit(base)),
          lit("/?utm_campaign=z&b=2&a=1#s"), col("doc_id")).as("url"))
      time("url_dedup")(graft.llm.Urls.urlDedup(
        urled, "doc_id", "url").count())
      // unigram training is vocabulary-bounded: the word TABLE is
      // mult-invariant (copies add count, not types), so seed + EM time
      // must stay near-flat while the one corpus aggregation scales
      time("unigram_train")(graft.llm.Unigram.train(big, "text",
        vocabSize = 96, maxPieceLen = 8, seedSize = 192,
        iters = 1)._1.size.toLong)
      // decontamination: FIXED benchmark (the base corpus's %23 slice)
      // against the mult× corpus. One broadcast-join scan — time must
      // grow ~linearly; hits grow with mult (every copy shares the same
      // grams with the benchmark).
      val bench = docs.filter(col("doc_id") % 23 === 0)
      time("decontam_hits")(graft.llm.TextAnalysis.contaminationHits(
        big, "doc_id", "text", bench, "text", 8).count())
      // bloom-prefiltered variant: same answers (exact verify join), but
      // the corpus-side join input is candidates only — time must track
      // decontam_hits' linear growth with a smaller constant at scale
      time("decontam_bloom")(graft.llm.TextAnalysis.contaminationHitsBloom(
        big, "doc_id", "text", bench, "text", 8).count())
      // surgical span scrub: bench gram set broadcast, corpus-side hash
      // pass + coverage rebuild — linear, output = corpus size
      time("decontam_scrub")(graft.llm.TextAnalysis.scrubContamSpans(
        big, "doc_id", "text", bench, "text", 8).count())
      // vocabulary: explode + map-side-combined count + bounded top-V
      // (TakeOrderedAndProject) — linear scan, flat V-row tail
      time("vocab_top")(graft.llm.TextAnalysis.vocabulary(
        big, "text", 1000).count())
      // tf-idf: tf pre-agg map-side, df from tf, exchanges on term and
      // id only — must grow ~linearly (output = k rows per doc)
      time("tfidf_top")(graft.llm.TextAnalysis.tfidfTopTerms(
        big, "doc_id", "text", 5).count())
      // deterministic sampling: a row-local filter, linear by shape;
      // kept rows must track mult/10 (the hash is id-keyed and the
      // shifted ids stay well-spread)
      time("sample_10pct")(graft.llm.Sampling.sampleByHash(big, "doc_id", 0.1).count())
      // cross-corpus near-dedup against a FIXED reference (the base
      // corpus): candidate generation is the cross band-bucket join, so
      // time must grow ~linearly in the mult× left side while the pair
      // count tracks the planted multiplicity (every copy pairs with
      // its base twin)
      time("xdedup_pairs")(graft.llm.Dedup.minhashPairsAgainst(
        big, docs, "doc_id", "text", 0.8).count())
      // snapshot diff: one full-outer join; output is the CHANGE volume
      // (here: the shifted copies are all 'added', the base overlap is
      // identical and drops), time linear in the join input
      time("snap_diff")(graft.util.Snapshot.diff(
        docs.select("doc_id", "text"), big, "doc_id", Seq("text")).count())
      // shard assignment: bucketed prefix sum — two shuffles (window by
      // coarse bucket + tiny offsets join), linear; shard count tracks
      // total corpus weight
      time("shard_assign")(graft.llm.Sampling.shardAssign(
        big.withColumn("w", length(col("text")).cast("long")),
        "doc_id", "w", 1000000L).select("shard").distinct().count())
      // containment pairs: the asymmetric inverted join — candidate
      // volume is Σ_h prefix_df(h)·df(h), df-capped, so time must track
      // the (quadratically growing) planted-dup pair count like
      // jaccard_pairs, NOT the corpus square
      time("containment_pairs")(graft.llm.Dedup.containmentPairs(
        big, "doc_id", "text", 0.9).count())
      // DSIR scoring against a FIXED target (the base corpus's %23
      // slice): the ratio table stays ≤ buckets rows regardless of mult,
      // so time must grow ~linearly with the source explode
      time("dsir_scores")(graft.llm.Dsir.dsirScores(
        big, bench, "doc_id", "text").count())
      // BPE induction: ONE corpus aggregation builds the word table,
      // then every merge round is vocabulary-sized — time must be
      // near-FLAT in mult (the vocab doesn't grow with duplication)
      time("bpe_learn")(
        graft.llm.Bpe.learnMerges(big, "text", 8).size.toLong)
      // byte-level variant: same vocabulary-bounded contract (the cover
      // tokens of duplicated text dedupe into the same word table), and
      // the segment+decode round trip is row-local → linear in rows
      time("bpe_byte")({
        val m = graft.llm.Bpe.learnMerges(big, "text", 8, byteLevel = true)
        val bad = graft.llm.Bpe.decodeByte(
          graft.llm.Bpe.segmentByte(big, "doc_id", "text", m), "id", "pieces")
          .join(big.select(col("doc_id").as("id"), col("text")), "id")
          .filter(col("decoded") =!= col("text")).count()
        require(bad == 0L, s"byte round-trip broke on $bad rows")
        m.size.toLong
      })
      // WordPiece training: like bpe_learn, per-round work is
      // vocabulary-sized (two vocab aggregations off cached state per
      // merge) and the word table is mult-invariant — time must stay
      // near-FLAT in mult
      time("wp_learn")(
        graft.llm.WordPiece.learnVocab(big, "text", 8)._1.size.toLong)
      // mergeable sketch tables: the build is ONE corpus scan into
      // per-group sketch partials (linear in mult); the ROLLUP merges
      // the tiny sketch table without re-reading raw data — flat in
      // mult, which is the whole point of the pattern at 100 TB
      val grouped = big.select(
        pmod(col("doc_id"), lit(16L)).cast("string").as("g"),
        length(col("text")).cast("long").as("len"),
        xxhash64(col("text")).as("h"))
      val perQs = graft.util.Sketches.qsBuild(grouped, "g", "len", k = 512)
        .persist()
      time("qs_build")(perQs.count())
      time("qs_rollup")(graft.util.Sketches.qsRollup(perQs, lit("all"))
        .select(graft.util.Sketches.qsCount(col("sketch"))).head().getLong(0))
      val perBloom = graft.util.Sketches.bloomBuild(grouped, "g", "h",
        estItems = 20000L, numBits = 1L << 18).persist()
      time("bloom_build")(perBloom.count())
      time("bloom_rollup")(
        graft.util.Sketches.bloomRollup(perBloom, lit("all")).count())
      perQs.unpersist(); perBloom.unpersist()
      big.unpersist()
    }

    // pathological span-scrub probe: fully self-repeated long documents
    // (starts ≈ tokens ≈ 3·10⁴ per row). The higher-order coverage
    // rebuild this replaced was O(tokens × starts) ≈ 10⁹ comparisons per
    // row; the native two-pointer sweep (CoverageKeep) must keep the
    // whole 64-row frame sub-second. Every window repeats, so every
    // token is covered: kept must be exactly 0.
    {
      import spark.implicits._
      val longDoc = Seq.fill(30000)("tok").mkString(" ")
      val patho = (0L until 64L).map(i => (i, longDoc)).toDF("doc_id", "text")
      val t0 = System.nanoTime()
      val kept = graft.llm.TextAnalysis.removeDupSpans(patho, "doc_id", "text", 16)
        .agg(sum("n_kept")).head().getLong(0)
      println(f"[scale] patho_span_scrub ${(System.nanoTime() - t0) / 1e9}%8.2f s  kept=$kept")
      require(kept == 0L, s"pathological scrub must cover every token, kept=$kept")
    }

    // ---- embedding family: planted near-dup multiplicity ----
    // copy c of each vector shifts ids and nudges the first component by
    // c·0.001, so the mult copies of one base vector form a mutual
    // near-dup clique (pairwise cosine ≥ 0.999): cosine_bucketed's OUTPUT
    // must track ~mult²/2 per base vector, while the two ANN probes must
    // stay flat (a probe touches nprobe lists / one Hamming ball of
    // buckets, not the corpus).
    val embBase = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val nEmb = embBase.count()
    val q = embBase.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    Seq(1, 4, 20).foreach { mult =>
      val big = (0 until mult).map { i =>
        embBase.select((col("vec_id") + lit(i.toLong * nEmb * 10)).as("vec_id"),
          transform(col("embedding"), (x, idx) =>
            when(idx === 0, x + lit(0.001f) * i).otherwise(x)).as("embedding"))
      }.reduce(_ union _)
      big.persist().count()
      def time(name: String)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val n = f
        println(f"[scale] mult=$mult%-3d $name%-16s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
      }
      // band width is the bucket-size knob and must grow with corpus
      // size: at 8-bit bands ~2⁻⁸ of ALL pairs collide per band by
      // chance — quadratic at any real corpus — while 16-bit bands put
      // random collisions at 8·2⁻¹⁶ of pairs with ≥99% recall at c≥0.99
      time("cosine_bucketed")(graft.llm.Dedup.cosinePairsBucketed(
        big, "vec_id", "embedding", 0.99, numBands = 8, bitsPerBand = 16).count())
      // SemDeDup: cluster-blocked pairs. kClusters scales with the
      // corpus (the paper's posture) so per-cluster work stays bounded;
      // OUTPUT tracks the planted within-cluster clique growth
      // (~mult²/2 per base vector, like cosine_bucketed), while the
      // join itself stays cluster-local — an all-pairs regression would
      // explode at mult=20
      time("semantic_pairs")(graft.llm.Dedup.semanticPairs(
        big, "vec_id", "embedding", 0.99,
        kClusters = 16 * mult, trainSample = 1024).count())
      // int8-quantized brute force: quantize pass + native byte-array
      // dot scan, both single corpus passes — time must track lsh_topk's
      // linear growth (same scan shape, 4x smaller payload at rest)
      time("quantized_scan")({
        val qz = graft.llm.Quantize.quantizeInt8(big, "embedding")
          .select(col("vec_id"), col("q_codes"))
        graft.llm.Similarity.bruteForceTopK(qz, "vec_id", "q_codes", q, 10).count()
      })
      // the ad-hoc lsh probe recomputes signatures (one corpus scan); its
      // ingest posture — bucket as partition column — is spec-pinned
      // partition-pruned in LlmSpec. Time must grow at most linearly.
      time("lsh_topk")(Ann.probe(Ann.Adhoc(big, "vec_id", "embedding", Ann.Build("lsh")),
        Ann.Probe(Ann.One(q), Ann.TopK(10))).count())
      // the indexed LSH serving shape: untimed one-pass lshBuild, then a
      // bucket-pruned probe that must stay ~flat in mult. 8-bit layout:
      // 256 bucket dirs keeps rows-per-bucket high (see lshBuild scaladoc)
      val lshDir = java.nio.file.Files
        .createTempDirectory("graft-scale-lsh").toString + "/idx"
      graft.llm.Similarity.lshBuild(big, "vec_id", "embedding", lshDir, nBits = 8)
      time("lsh_probe")(Ann.probe(Ann.Dir(spark, lshDir),
        Ann.Probe(Ann.One(q), Ann.TopK(10))).count())
      // the true serving shape: ivfBuild is the untimed one-off ingest
      // pass; the probe reads nprobe/kLists of the data via partition
      // pruning and must stay ~flat in mult
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-scale-ivf").toString + "/idx"
      graft.llm.Similarity.ivfBuild(big, "vec_id", "embedding", idxDir)
      time("ivf_probe")(Ann.probe(Ann.Dir(spark, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(10))).count())
      // FILTERED serving: a metadata-carrying build probed with a
      // half-selective predicate — the probe must stay ~flat like its
      // unfiltered sibling (the predicate prunes row groups, never adds
      // passes; the permissive pred satisfies k at the first width)
      val fDir = java.nio.file.Files
        .createTempDirectory("graft-scale-fivf").toString + "/idx"
      graft.llm.Similarity.ivfBuild(
        big.withColumn("flag", (col("vec_id") % 2).cast("int")),
        "vec_id", "embedding", fDir, metaCols = Seq("flag"))
      time("ivf_probe_filtered")(Ann.probe(Ann.Dir(spark, fDir),
        Ann.Probe(Ann.One(q), Ann.TopK(10), filter = Some(col("flag") === 0))).count())
      // PQ: encoding is a linear row-local scan (m·k native dots per
      // row); the IVF+PQ probe reads nprobe lists partition-pruned over
      // m-byte codes — near-flat in mult like the float probes
      val pqDir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-ivfpq-$mult").toString
      time("ivfpq_build")({
        graft.llm.Pq.ivfPqBuild(big, "vec_id", "embedding", pqDir,
          kLists = 16, m = 8, k = 16)
        big.count()
      })
      time("ivfpq_probe")(Ann.probe(Ann.Dir(spark, pqDir),
        Ann.Probe(Ann.One(q), Ann.TopK(10))).count())
      // the APPEND posture: a FIXED-SIZE increment appended to the
      // mult× index must cost ~the same at every mult — appends are one
      // pass over the NEW rows plus a bounded occupancy/sidecar merge,
      // never a corpus rescan. This is the streaming-ingest claim
      // (annIngestJob) made measurable: 20× corpus, same append bill.
      val inc = embBase.filter(col("vec_id") < 200)
        .select((col("vec_id") + lit(900000000L)).as("vec_id"),
          col("embedding"))
      time("lsh_append")({
        Ann.append(inc, "vec_id", "embedding", lshDir,
          appendId = Some(s"scale-$mult")); 200L
      })
      time("ivf_append")({
        Ann.append(inc, "vec_id", "embedding", idxDir,
          appendId = Some(s"scale-$mult")); 200L
      })
      // the compressed-index append: frozen codebooks + frozen
      // centroids, one encode pass over the NEW rows only — same
      // flat-in-mult contract as the float appends
      time("ivfpq_append")({
        Ann.append(inc, "vec_id", "embedding", pqDir,
          appendId = Some(s"scale-$mult")); 200L
      })
      // the RETRAIN posture (keepVectors lifecycle): the rewrite is one
      // bounded training pass + one assign/encode pass over the index
      // (the RARE op, ~linear in mult like compaction), and the probe
      // AFTER it must return to the built-index flat cost
      val kvDir = java.nio.file.Files
        .createTempDirectory(s"graft-scale-ivfpqkv-$mult").toString
      graft.llm.Pq.ivfPqBuild(big, "vec_id", "embedding", kvDir,
        kLists = 16, m = 8, k = 16, keepVectors = true)
      // rows= the retrained centroid count — a cheap constant, so the
      // timed block holds ONLY the retrain (a corpus count here would
      // inflate the ~linear-in-mult posture with an unrelated pass)
      time("ivfpq_retrain")(
        Ann.retrain(spark, kvDir).length.toLong)
      time("ivfpq_probe_retrained")(
        Ann.probe(Ann.Dir(spark, kvDir), Ann.Probe(Ann.One(q), Ann.TopK(10))).count())
      // the REFINED probe must stay probe-flat too: the rerank touches
      // k×factor sidecar rows regardless of corpus size
      time("ivfpq_probe_refined")(
        Ann.probe(Ann.Dir(spark, kvDir),
          Ann.Probe(Ann.One(q), Ann.TopK(10), refine = Some(4))).count())
      // the MMR candidate-vector fetch posture (the serving stack's
      // diversification input): the pool's ids push into the id-SORTED
      // sidecar read as In(id, …), so parquet row-group stats prune the
      // scan to the candidate row groups — ~flat in mult. Without the
      // pushdown this was a full corpus scan per serving batch.
      val mmrPoolIds = Ann.probe(Ann.Dir(spark, kvDir), Ann.Probe(Ann.One(q), Ann.TopK(20)))
        .collect().map(_.getLong(0)).toSeq
      time("mmr_fetch")({
        import spark.implicits._
        val poolDf = mmrPoolIds.toDF("id")
        graft.llm.Similarity.candidateVectors(spark,
            s"$kvDir/${graft.llm.Pq.vectorSidecarDir}", mmrPoolIds)
          .join(broadcast(poolDf), Seq("id"))
          .count()
      })
      // the REFINED range posture: loosened pruned ADC nomination + a
      // distributed true-cosine verify join against the list-pruned
      // sidecar. The verify is ANSWER-proportional (range answers are
      // output-bound), so at a tight threshold the curve stays ~flat
      // while the corpus grows
      time("ivfpq_range_refined")(
        Ann.probe(Ann.Dir(spark, kvDir),
          Ann.Probe(Ann.One(q), Ann.Range(0.99), tuning = Some(4), refine = Some(4))).count())
      // the DELETE posture (takedown without rebuild): annDelete costs
      // the takedown list — fence-id agg + one staged tombstone write —
      // never a corpus pass, and the probe AFTER it pays only a
      // broadcast anti-join on top of the flat pruned read. Both curves
      // must stay ~flat in mult; a probe that rescanned the corpus to
      // honor deletes would show here immediately.
      time("ivfpq_delete")(
        graft.llm.Similarity.annDelete(spark, kvDir, (1L to 64L).toSeq))
      time("ivfpq_probe_deleted")(
        Ann.probe(Ann.Dir(spark, kvDir),
          Ann.Probe(Ann.One(q), Ann.TopK(10), refine = Some(4))).count())
      // the COMPACTION posture: rewrite cost is one clustered pass over
      // the index (so it may grow ~linearly in mult — it is the RARE
      // maintenance op), but the probe after it must return to the
      // built-index flat cost, and answers must be unchanged. rows=
      // data-file delta
      time("lsh_compact")({
        val st = Ann.compact(spark, lshDir)
        st.filesBefore - st.filesAfter
      })
      time("lsh_probe_compacted")(Ann.probe(Ann.Dir(spark, lshDir),
        Ann.Probe(Ann.One(q), Ann.TopK(10))).count())
      big.unpersist()
    }

    // ---- retrieval serving + evaluation ----
    // copy c shifts doc_id. The bm25 + ivf indexes are built UNTIMED per
    // mult (the ingest posture). Timed claims:
    //  - hybrid_warm_probe (batch lexical probe ⊕ batch ANN probe ⊕ RRF)
    //    must stay ~FLAT in mult: band/list-pruned index reads +
    //    serving-sized fusion, never a corpus pass;
    //  - hybrid_mmr is the probe plus the MMR candidate-vector fetch —
    //    the production shape: the collected pool's ids push into the
    //    vectors read as In(id, …) before the broadcast join, so the
    //    fetch reads only the row groups holding candidates (for the
    //    float IVF layout the stats are loose — unsorted ids — so mild
    //    growth is tolerated; the id-sorted ivfpq sidecar fetch above
    //    is the flat curve), never a full corpus-sized join input;
    //  - retrieval_eval is judgment-set-bound: its joins touch the run
    //    (serving-sized) and the qrels (linear in mult here, printed as
    //    rows) — time must track the qrels count, never the corpus.
    {
      val qset = Seq(1L -> Seq("spark", "stream", "window"),
        2L -> Seq("merge", "sort"), 3L -> Seq("vector", "hash"))
      val qv = graft.llm.TextAnalysis.hashEmbed(
        spark.range(1).select(lit(0L).as("doc_id"),
          lit("spark stream window").as("text")),
        "doc_id", "text", dim = 16, seed = 7L)
        .select("vec").head().getSeq[Double](0).toSeq
      Seq(1, 4, 20).foreach { mult =>
        val big = (0 until mult).map(i =>
          docs.select((col("doc_id") + lit(i.toLong * base * 10)).as("doc_id"),
            col("text"))).reduce(_ union _)
        val corpus = big.join(
          graft.llm.TextAnalysis.hashEmbed(big, "doc_id", "text",
            dim = 16, seed = 7L).select(col("doc_id"), col("vec")),
          Seq("doc_id")).persist()
        corpus.count()
        def time(name: String)(f: => Long): Unit = {
          val t0 = System.nanoTime(); val n = f
          println(f"[scale] mult=$mult%-3d $name%-16s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
        }
        val bmDir = java.nio.file.Files
          .createTempDirectory("graft-scale-bm25").toString + "/idx"
        graft.llm.Retrieval.bm25Build(corpus, "doc_id", "text", bmDir,
          pbands = 16)
        val annDir = java.nio.file.Files
          .createTempDirectory("graft-scale-hann").toString + "/idx"
        graft.llm.Similarity.ivfBuild(corpus, "doc_id", "vec", annDir)
        def fusedRun(pool: Int) = {
          val lex = Retrieval.probe(Retrieval.Dir(spark, bmDir),
            Retrieval.Probe(Retrieval.Batch(qset), pool)).select("qid", "id", "rnk")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("cos").desc, col("id").asc)
          val sem = Ann.probe(Ann.Dir(spark, annDir),
            Ann.Probe(Ann.Batch(qset.map(q => q._1 -> qv)), Ann.TopK(pool)))
            .withColumn("rnk", row_number().over(w).cast("long"))
            .select("qid", "id", "rnk")
          graft.llm.Retrieval.rrfFuseBatch(Seq(lex, sem), pool)
        }
        time("hybrid_warm_probe")(fusedRun(20).count())
        time("hybrid_mmr")({
          import spark.implicits._
          val fusedRows = fusedRun(20).select("qid", "id", "score")
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
          val poolDf = fusedRows.toDF("qid", "id", "score")
          val vecs = graft.llm.Similarity.candidateVectors(spark,
            s"$annDir/vectors", fusedRows.map(_._2).distinct)
          graft.llm.Retrieval.mmrRerankBatch(
            vecs.join(broadcast(poolDf), Seq("id")),
            "qid", "id", "score", "v", 10, 0.7).count()
        })
        val qrels = qset.map(_._1).map(q =>
          big.filter(pmod(col("doc_id"), lit(10L + q)) === 0)
            .select(lit(q).as("qid"), col("doc_id").as("id"),
              (lit(1L) + pmod(col("doc_id"), lit(3L))).cast("int").as("rel")))
          .reduce(_ unionByName _).persist()
        qrels.count()
        val run = Retrieval.probe(Retrieval.Dir(spark, bmDir),
            Retrieval.Probe(Retrieval.Batch(qset), 10))
          .select("qid", "id", "rnk").persist()
        run.count()
        time("retrieval_eval")({
          graft.llm.Retrieval.evalRun(run, qrels, 10).count()
          qrels.count() // rows= the judgment-set size the time must track
        })
        // the LEXICAL delete posture: bm25Delete pays ONE postings scan
        // (a doc's terms scatter across all bands — no pruning applies,
        // so ~linear in mult like compaction, the honest cost of a rare
        // op), while the probe AFTER it must stay flat: band-pruned
        // reads + one broadcast anti-join, never a corpus pass
        time("bm25_delete")(
          graft.llm.Retrieval.bm25Delete(spark, bmDir, (1L to 32L).toSeq))
        time("bm25_probe_deleted")(
          Retrieval.probe(Retrieval.Dir(spark, bmDir), Retrieval.Probe(
            Retrieval.One(Seq("spark", "stream", "window")), 10)).count())
        qrels.unpersist(); run.unpersist(); corpus.unpersist()
      }
    }

    // ---- temporal family: per-user density held CONSTANT ----
    // copy c of the events table shifts user_id (and event_id), so a
    // mult× corpus is mult× users at the same per-user event count: the
    // window-shaped operators (asof, sessionize — one shuffle + a
    // streaming running frame per key) and the cap window must grow
    // ~LINEARLY in mult. A per-key quadratic or a global sort would bend
    // these curves immediately.
    val evBase = {
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val us = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("ts div 1000")
        case _ => expr("unix_micros(cast(ts as timestamp))")
      }
      ev.select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), us.as("ts_us"))
    }
    val nEv = evBase.count()
    Seq(1, 4, 20).foreach { mult =>
      val big = (0 until mult).map(i =>
        evBase.select((col("event_id") + lit(i.toLong * nEv * 10)).as("event_id"),
          (col("user_id") + lit(i.toLong * 1000000)).as("user_id"),
          col("event_type"), col("value"), col("ts_us"))).reduce(_ union _)
      big.persist().count()
      def time(name: String)(f: => Long): Unit = {
        val t0 = System.nanoTime(); val n = f
        println(f"[scale] mult=$mult%-3d $name%-16s ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
      }
      val clicks = big.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = big.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      time("asof_join")(graft.temporal.Temporal.asofJoin(
        clicks, purchases, Seq("user_id"), "ts_us", "ts_us").count())
      time("sessionize")(graft.temporal.Temporal.sessionStats(
        big.select("user_id", "ts_us", "value"), "user_id", "ts_us",
        7200000000L, "value").count())
      big.unpersist()
    }

    // ---- image perceptual-hash dedup: planted copy cliques ----
    // 500 synthetic 9×8 PNGs per copy; copy c re-renders the SAME base
    // patterns brightness-shifted by 2c (uniform, and 2·19 + 208 < 255
    // so no channel clipping — clipping would break hash identity — →
    // identical dHash), so every base image's clique grows with mult and the pair
    // OUTPUT is ~500·mult²/2 — growth must track that output bound (the
    // banded-join contract), never corpus-quadratic candidate work.
    {
      import spark.implicits._
      def pngFor(base: Long, shift: Int): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(
          9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var i = 0
        while (i < 72) {
          val h = graft.util.Md5.hex(s"scaleimg|$base|$i").charAt(0)
          val g = 16 + 32 * (Integer.parseInt(h.toString, 16) % 7) + shift
          img.setRGB(i % 9, i / 9, (g << 16) | (g << 8) | g)
          i += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      Seq(1, 4, 20).foreach { mult =>
        val media = spark.range(500L * mult).select(col("id")).as[Long]
          .mapPartitions(_.map { i =>
            val base = i % 500; val c = (i / 500).toInt
            (c * 1000000L + base, pngFor(base, 2 * c))
          }).toDF("id", "payload").persist()
        media.count()
        val t0 = System.nanoTime()
        val n = graft.llm.Dedup.imagePairs(media).count()
        println(f"[scale] mult=$mult%-3d image_pairs     ${(System.nanoTime()-t0)/1e9}%8.2f s  rows=$n")
        val want = 500L * mult * (mult - 1) / 2
        require(n == want, s"image_pairs: expected $want planted pairs, got $n")
        media.unpersist()
      }
    }
    spark.stop()
  }
}
