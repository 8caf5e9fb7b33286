package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class LlmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup collapses planted exact duplicates") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different doc"),
    ).toDF("doc_id", "text")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length == 2) // normalization folds 1 and 2 together
    val dup = out.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("soft dedup weights: 1/n_dups per exact group, total weight 1 per group") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "hello world"),
      (4L, "different doc")).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(w(1L) == (3L, 0.333333) && w(2L) == (3L, 0.333333) &&
      w(3L) == (3L, 0.333333), s"normalization folds 1-3 together: $w")
    assert(w(4L) == (1L, 1.0))
  }

  test("minhash LSH pair set equals exact jaccard pair set on real corpus") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8).collect().map(key).toSet
    val lsh = Dedup.minhashPairs(docs, "doc_id", "text", 0.8).collect().map(key).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("logistic regression separates planted-margin data; predictions parallelism-invariant") {
    // two well-separated Gaussians-ish clusters along dim 0
    val rows = (0 until 200).map { i =>
      val y = i % 2
      val base = if (y == 1) 2.0 else -2.0
      val jitter = (i % 7) * 0.05
      (i.toLong, Seq(base + jitter, 0.3 - jitter, 0.1 * y), y)
    }
    val df = rows.toDF("id", "x", "y")
    val m = Classifier.lrTrain(df, "x", "y", iters = 80, lr = 2.0)
    assert(Classifier.accuracy(df, "id", "x", "y", m) == 1.0,
      "separated clusters must classify perfectly")
    assert(m.weights(0) > 0, "dim-0 weight must carry the separating direction")
    // scores match the hand-computed sigmoid
    val s5 = Classifier.lrScore(df, "id", "x", m)
      .filter(col("id") === 5L).head().getDouble(1)
    val x5 = rows(5)._2
    val z = x5.zip(m.weights).map { case (a, b) => a * b }.sum + m.bias
    assert(math.abs(s5 - math.rint(1.0 / (1.0 + math.exp(-z)) * 1e6) / 1e6) < 1e-9)
    // predictions stable at any input partitioning (margins are wide)
    val p1 = Classifier.lrPredict(df.repartition(1), "id", "x", m)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val p7 = Classifier.lrPredict(df.repartition(7), "id", "x", m)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(p1 == p7)
    intercept[IllegalArgumentException] { Classifier.lrTrain(df, "x", "y", iters = 0) }
    // malformed inputs fail LOUDLY, before any gradient work: empty set,
    // mixed vector dimensions, null labels (r12 advice: these previously
    // surfaced as a bare head() NoSuchElementException or silently
    // dropped rows from the gradient)
    val empty = spark.emptyDataFrame
      .select(lit(Array(1.0, 2.0)).as("x"), lit(1).as("y"))
    assert(intercept[IllegalArgumentException] {
      Classifier.lrTrain(empty, "x", "y", iters = 1)
    }.getMessage.contains("empty training set"))
    val mixed = Seq((Seq(1.0, 2.0), 1), (Seq(1.0), 0)).toDF("x", "y")
    assert(intercept[IllegalArgumentException] {
      Classifier.lrTrain(mixed, "x", "y", iters = 1)
    }.getMessage.contains("inconsistent vector dimensions"))
    val nullLab = Seq((Seq(1.0, 2.0), Some(1)), (Seq(2.0, 1.0), None))
      .toDF("x", "y")
    assert(intercept[IllegalArgumentException] {
      Classifier.lrTrain(nullLab, "x", "y", iters = 1)
    }.getMessage.contains("null labels"))
  }

  test("BPE learns the textbook merge sequence and segments by replaying it") {
    // Sennrich et al.'s example vocabulary: low:5 lower:2 newest:6 widest:3
    val corpus = (
      Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    ).zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(corpus, "text", numMerges = 4)
    // hand-computed: (e,s):9 beats the (s,t</w>):9 tie on left-asc order,
    // then (es,t</w>):9, (l,o):7, and (e,w):6 wins the 6-way tie
    assert(merges.map(m => (m.left, m.right, m.freq)) == Seq(
      ("e", "s", 9L), ("es", "t</w>", 9L), ("l", "o", 7L), ("e", "w", 6L)),
      s"got $merges")
    assert(merges.map(_.rank) == Seq(0, 1, 2, 3))
    // inference replays the merges in order: lowest -> lo w est</w>
    val seg = Bpe.segment(Seq((1L, "lowest")).toDF("doc_id", "text"),
      "doc_id", "text", merges).head()
    assert(seg.getLong(1) == 3L)
    assert(seg.getString(2) == "lo w est</w>")
    // leftmost-first greedy: "aaa" under merge (a,a) -> [aa, a</w>]? the
    // </w> fuses onto the LAST char, so symbols are a a a</w>; merging
    // (a,a) gives [aa, a</w>] — never [a, aa</w>]
    val aa = Seq((1L, "aaa")).toDF("doc_id", "text")
    val segA = Bpe.segment(aa, "doc_id", "text",
      Seq(Bpe.Merge(0, "a", "a", 1L))).head()
    assert(segA.getString(2) == "aa a</w>")
    // determinism at any parallelism
    val again = Bpe.learnMerges(corpus.repartition(7), "text", numMerges = 4)
    assert(again == merges)
    // single-char words carry only the fused end marker
    val one = Seq((1L, "x y")).toDF("doc_id", "text")
    assert(Bpe.segment(one, "doc_id", "text", merges).head().getString(2)
      == "x</w> y</w>")
    intercept[IllegalArgumentException] { Bpe.learnMerges(corpus, "text", 0) }
  }

  test("native BpeSegmentAll matches the legacy per-merge MergeAdjacent chain") {
    // the r12 composition segmentCol replaced: filter empties, then per
    // word fold one MergeAdjacent pass per merge inside a transform
    def legacy(textCol: org.apache.spark.sql.Column,
               merges: Seq[Bpe.Merge]): org.apache.spark.sql.Column = {
      val chars = (w: org.apache.spark.sql.Column) => split(w, "")
      val init = (w: org.apache.spark.sql.Column) => concat(
        slice(chars(w), lit(1), greatest(size(chars(w)) - 1, lit(0))),
        array(concat(element_at(chars(w), -1), lit("</w>"))))
      val toks = org.apache.spark.sql.functions.filter(
        TextAnalysis.wsTokens(TextAnalysis.normText(textCol)),
        w => length(w) > 0)
      flatten(org.apache.spark.sql.functions.transform(toks, w =>
        merges.foldLeft(init(w)) { (acc, m) =>
          graft.functions.MergeF.mergeAdjacent(acc, m.left, m.right)
        }))
    }
    // adversarial corpus: ties, runs, unicode incl. an astral code point,
    // multi-space (empty-token) text, single chars, the textbook words
    val texts = Seq("low lower newest widest", "aaa aaaa a", "x  y\tz",
      "héllo hé llo", "a😀b 😀😀",
      "st star west st", "abab ab ba", "", "   ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // merge tables: textbook; repeated-pair recreation ((a,b) then (ab,ab));
    // a DUPLICATE pair at two ranks with an enabler between them
    val tables = Seq(
      Seq(Bpe.Merge(0, "e", "s", 9), Bpe.Merge(1, "es", "t</w>", 9),
        Bpe.Merge(2, "l", "o", 7), Bpe.Merge(3, "e", "w", 6)),
      Seq(Bpe.Merge(0, "a", "a", 1), Bpe.Merge(1, "a", "b", 1),
        Bpe.Merge(2, "ab", "ab", 1)),
      Seq(Bpe.Merge(0, "ab", "a", 1), Bpe.Merge(1, "a", "b", 1),
        Bpe.Merge(2, "ab", "ab</w>", 1)),
      Seq(Bpe.Merge(0, "😀", "b</w>", 1),
        Bpe.Merge(1, "😀", "😀</w>", 1)))
    for (tm <- tables) {
      val got = df.select(col("doc_id"),
        Bpe.segmentCol(col("text"), tm).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val want = df.select(col("doc_id"), legacy(col("text"), tm).as("p"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got == want, s"mismatch under table $tm")
    }
    // the case the chain could NOT serve: a production-sized merge table.
    // Oracle: a plain sequential-pass reference replay (one full
    // leftmost-greedy pass per rank — the definitionally-correct O(M·n)
    // loop the expression's rank-jumping must reproduce).
    def refReplay(word: String, merges: Seq[Bpe.Merge]): Seq[String] = {
      var syms = word.map(_.toString).toVector
      syms = syms.init :+ (syms.last + "</w>")
      for (m <- merges) {
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == m.left && syms(i + 1) == m.right) {
            out += (m.left + m.right); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    val big = (0 until 4000).map { r =>
      Bpe.Merge(r, if (r == 0) "a" else "a" * (r + 1), "a", 1)
    }
    val wordLen = 400
    val bigSeg = Seq((1L, "a" * wordLen)).toDF("doc_id", "text")
      .select(Bpe.segmentCol(col("text"), big).as("p"))
      .head().getSeq[String](0)
    assert(bigSeg == refReplay("a" * wordLen, big))
    // and the adversarial tables agree with the reference replay too
    for (tm <- tables; w <- Seq("abab", "aaaa", "st")) {
      val got = Seq((1L, w)).toDF("doc_id", "text")
        .select(Bpe.segmentCol(col("text"), tm).as("p"))
        .head().getSeq[String](0)
      assert(got == refReplay(w, tm), s"ref mismatch: $w under $tm")
    }
  }

  test("CDC chunks partition the tokens, realign under a prefix edit, match the md5 boundary rule") {
    // chunks must tile the document exactly
    val ch = Cdc.chunks(docs, "doc_id", "text").cache()
    val tokTotals = docs.select(col("doc_id").as("id"),
      size(TextAnalysis.wsTokens(TextAnalysis.normText(col("text"))))
        .cast("long").as("n")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunkTotals = ch.groupBy("id").agg(sum("n_toks").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chunkTotals == tokTotals)
    // chunk_idx is dense from 0 per doc
    val idx = ch.groupBy("id")
      .agg(min("chunk_idx").as("lo"), max("chunk_idx").as("hi"),
        count(lit(1)).as("c")).collect()
    assert(idx.forall(r => r.getInt(1) == 0 && r.getLong(3) == r.getInt(2) + 1L))
    // boundary rule parity with the definitional formula: recompute one
    // doc's boundaries via Sampling.hashBucketStr over sliding 3-grams
    val one = docs.orderBy("doc_id").limit(1)
    val toks = one.select(TextAnalysis.wsTokens(
      TextAnalysis.normText(col("text")))).head().getSeq[String](0)
    val boundaries = toks.indices.filter { i =>
      i + 1 >= 3 && {
        val gram = toks.slice(i - 2, i + 1).mkString(" ")
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest((gram + "|7").getBytes("UTF-8")).map(b => f"$b%02x").mkString
        (BigInt(hex.take(15), 16) % 8) == 0
      }
    }
    val expectSizes = {
      val cuts = (boundaries :+ (toks.length - 1)).distinct.sorted
      cuts.zip(-1 +: cuts.init).map { case (hi, prevHi) => hi - prevHi }
    }
    val gotSizes = ch.filter(col("id") === one.head().getLong(0))
      .orderBy("chunk_idx").collect().map(_.getLong(2).toInt).toSeq
    assert(gotSizes == expectSizes)
    // shift robustness: a 3-word prefix keeps most chunks shared — the
    // exact failure mode of fixed windows (which share ~none)
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("zz yy xx "), col("text")).as("text")))
    val pairs = Cdc.sharedPairs(planted, "doc_id", "text")
      .filter(col("id_b") === col("id_a") + 1000000)
    assert(pairs.count() >= docs.count() * 9 / 10)
    ch.unpersist(); ()
  }

  test("deflate ratio: exact values pinned, ordering repetitive < prose < random") {
    // pin exact values against an independent in-test Deflater run (same
    // zlib level/nowrap): the expression must keep producing THESE
    // numbers across refactors — the oracle contract row only checks
    // ordering, this pins the values
    def refRatio(s: String): Double = {
      val bytes = s.getBytes("UTF-8")
      val d = new java.util.zip.Deflater(6, true)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](bytes.length + 128)
      var n = 0
      while (!d.finished()) n += d.deflate(buf)
      d.end()
      java.math.BigDecimal.valueOf(n.toDouble / math.max(bytes.length, 1))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    val rep = ("spark data " * 300).trim
    val rand = Iterator.iterate("graft-entropy-seed") { x =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }.drop(1).take(100).mkString(" ")
    val vocab = Seq("the", "quick", "brown", "fox", "jumps", "over",
      "lazy", "dog", "table", "scan", "merge", "window", "batch",
      "stream", "filter", "join", "sort", "group", "query", "row",
      "value", "column", "vector")
    val prose = (0 until 300).map(i => vocab((i * 7 + i * i) % vocab.size))
      .mkString(" ")
    val texts = Seq(rep, prose, rand, "", "x",
      "the quick brown fox jumps over the lazy dog") // short text: ratio > 1
    val df = texts.zipWithIndex.map { case (t2, i) => (i + 1L, t2) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.compressionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    for (id <- 1L to texts.size) {
      val want = refRatio(texts(id.toInt - 1))
      assert(math.abs(got(id) - want) < 1e-9, s"doc $id: ${got(id)} vs $want")
    }
    assert(got(1L) < 0.1 && got(1L) < got(2L) && got(2L) < got(3L))
    assert(got(6L) > 1.0) // deflate overhead dominates short inputs
    // null text -> null ratio
    val n = TextAnalysis.compressionStats(
      Seq((1L, Option.empty[String])).toDF("doc_id", "text"), "doc_id", "text")
      .head()
    assert(n.isNullAt(1))
    // corpus-wide: every document scores, all in (0, 2]
    val corpus = TextAnalysis.compressionStats(docs, "doc_id", "text")
    assert(corpus.filter(col("deflate_ratio").isNull ||
      col("deflate_ratio") <= 0.0 || col("deflate_ratio") > 2.0).count() == 0)
  }

  test("hard negatives: positives never take slots, ranks dense, unexcluded = topk") {
    val queries = emb.filter(col("vec_id") < 2)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val positives = queries.map(_._1)
      .flatMap(q => Seq(q, q + 1, q + 2).map(p => (q, p))).toDF("qid", "pos_id")
    val negs = Mining.hardNegatives(emb, "vec_id", "embedding", queries,
      positives, k = 5).collect()
    assert(negs.length == 10)
    val byQ = negs.groupBy(_.getLong(0))
    for ((q, rows) <- byQ) {
      val excluded = Set(q, q + 1, q + 2)
      assert(rows.forall(r => !excluded.contains(r.getLong(1))))
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to 5L)) // dense ranks
      val byRank = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
    // with an empty exclusion list the miner IS the batched top-k
    val none = Seq.empty[(Long, Long)].toDF("qid", "pos_id")
    val asTopk = Mining.hardNegatives(emb, "vec_id", "embedding", queries,
      none, k = 5).select("qid", "id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val topk = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
      queries, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(asTopk == topk)
  }

  test("source curation: spam source blocked on dup-rate, cross-source dups count both sides") {
    val q = lit(0.5) // fixed quality: isolate the dup-rate signal
    val corpus = Seq(
      (1L, "alpha beta gamma delta", "srcA"),
      (2L, "epsilon zeta eta theta", "srcA"),
      (3L, "same spam text here", "srcB"),
      (4L, "same spam text here", "srcB"),
      (5L, "same spam text here", "srcC"),
      (6L, "unique c doc words", "srcC"),
      (7L, "another unique c doc", "srcC")).toDF("doc_id", "text", "source")
    val stats = Sources.sourceStats(corpus, "doc_id", "text", "source", q)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(stats("srcA") == ((2L, 0L, 0.0)))
    assert(stats("srcB") == ((2L, 2L, 1.0))) // both copies dup
    assert(stats("srcC")._2 == 1L) // the cross-source copy counts here too
    val surv = Sources.sourceSurvivors(corpus, "doc_id", "text", "source", q,
      maxDupRate = 0.5, minQuality = 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L, 2L, 5L, 6L, 7L)) // srcB blocked; srcC's 1/3 rate survives
    // quality axis: a low-quality source goes too
    val lowQ = when(col("source") === "srcA", 0.05).otherwise(0.5)
    val surv2 = Sources.sourceSurvivors(corpus, "doc_id", "text", "source",
      lowQ, maxDupRate = 0.5, minQuality = 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(surv2 == Set(5L, 6L, 7L))
  }

  test("CDC scrub removes exactly the corpus-duplicated chunks, row-locally rebuilt") {
    // unique docs pass through verbatim (normalized); a doc and its
    // prefix-edited copy lose their shared chunks from BOTH sides
    val planted = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("zz yy xx "), col("text")).as("text")))
    val out = Cdc.scrubDupChunks(planted, "doc_id", "text").cache()
    // reconstruct expectations from the chunk table itself
    val ch = Cdc.chunks(planted, "doc_id", "text")
    val dupFps = ch.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("fp")
    val expectKept = ch.join(dupFps, Seq("fp"), "left_anti")
      .groupBy("id").agg(sum("n_toks").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotKept = out.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(gotKept.filter(_._2 > 0) == expectKept)
    assert(gotKept.keySet == planted.select("doc_id").collect()
      .map(_.getLong(0)).toSet) // row-complete, scrubbed-to-empty included
    // kept text token count matches n_kept and is a subsequence rebuild
    val bad = out.filter(size(split(col("clean_text"), " ")) =!=
        when(col("n_kept") === 0, lit(1)).otherwise(col("n_kept")))
      .count() // split("") yields [""] — the 0-kept row has size 1
    assert(bad == 0)
    out.unpersist(); ()
  }

  test("BPE decode inverts segment for any merge table (round-trip law)") {
    val texts = Seq("low lower newest widest", "aaa aaaa a", "x  y\tz",
      "héllo hé llo", "a😀b 😀😀", "single")
    val df = texts.zipWithIndex.map { case (t2, i) => (i.toLong, t2) }
      .toDF("doc_id", "text")
    val tables = Seq(
      Seq.empty[Bpe.Merge],
      Seq(Bpe.Merge(0, "a", "a", 1)),
      Seq(Bpe.Merge(0, "e", "s", 9), Bpe.Merge(1, "es", "t</w>", 9),
        Bpe.Merge(2, "l", "o", 7), Bpe.Merge(3, "e", "w", 6)))
    for (tm <- tables) {
      val rt = Bpe.decode(Bpe.segment(df, "doc_id", "text", tm), "id", "pieces")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = df.select(col("doc_id"),
        TextAnalysis.normText(col("text"))).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rt == want, s"round-trip broke under $tm")
    }
  }

  test("byte-level BPE: ByteCodec bijection, textbook merges, lossless round-trip on ANY input") {
    // the GPT-2 table is a true bijection over all 256 byte values
    val codec = graft.functions.ByteCodec
    assert(codec.byteToStr.toSet.size == 256, "table must be injective")
    assert(codec.byteToStr.forall(_.length == 1))
    // printable bytes map to themselves (GPT-2 construction)
    assert(codec.byteToStr('A'.toInt) == "A" && codec.byteToStr('!'.toInt) == "!")
    assert(codec.byteToStr(' '.toInt) == "Ġ") // space → Ġ
    assert(codec.byteToStr(0) == "Ā" && codec.byteToStr('\n'.toInt) == "Ċ")
    // unmap ∘ map = identity on arbitrary valid-Unicode strings
    for (s0 <- Seq("hello world", "héllo", "a😀b", "日本語テキスト",
      " leading and  double  spaces ", "tab\tnl\ncr\r", "</w>",
      "", "Ġ already-mapped-looking")) {
      assert(codec.unmap(codec.map(s0)) == s0, s"codec broke on <$s0>")
      // space maps away from ' ': mapped strings never contain it
      assert(!codec.map(s0).contains(' ') || !s0.contains(' '))
      assert(!codec.map(" ").contains(' '))
    }
    // a char outside the table is not a map image
    assert(codec.unmap("日") == null)
    // byte-mode learning on the textbook corpus: no </w>, so the table
    // differs from the char path — hand-computed (VERDICT r13 item 4)
    val planted = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val m = Bpe.learnMerges(planted, "text", 4, byteLevel = true)
    assert(m.map(x => (x.left, x.right, x.freq)) == Seq(
      ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L)))
    assert(Bpe.segmentByte(Seq((1L, "lowest")).toDF("doc_id", "text"),
      "doc_id", "text", m).head().getString(2) == "low est")
    // the lossless law: decodeByte ∘ segmentByte = RAW identity — for
    // nasty inputs (markers, multi-space, emoji, CJK, mixed runs) and
    // ANY merge table, including merges over mapped whitespace bytes
    val nasty = Seq("low lower newest widest", "a😀b 😀😀", "x  y\tz\n\nw",
      "</w> literal and  control", "日本語テキスト mixed 123!?",
      "", "   ", "a", "ĠĊ mapped-chars-as-input")
      .zipWithIndex.map { case (t2, i) => (i.toLong, t2) }.toDF("doc_id", "text")
    val spaceSym = codec.map(" ") // 'Ġ'
    val emojiSyms = codec.map("😀") // 4 mapped bytes
    for (tm <- Seq(Seq.empty[Bpe.Merge], m,
      Seq(Bpe.Merge(0, spaceSym, spaceSym, 1),
        Bpe.Merge(1, emojiSyms.substring(0, 1), emojiSyms.substring(1, 2), 1)))) {
      val rt = Bpe.decodeByte(
        Bpe.segmentByte(nasty, "doc_id", "text", tm), "id", "pieces")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val want = nasty.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rt == want, s"byte round-trip broke under $tm")
    }
    // seeded fuzz: 100 random strings over a nasty alphabet round-trip
    val rng = new scala.util.Random(42)
    val alphabet = "ab E\t\n😀é日<>/wĠÿΩ"
    val fuzz = (0 until 100).map { i =>
      (i.toLong, (0 until rng.nextInt(40)).map(_ =>
        alphabet(rng.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    val frt = Bpe.decodeByte(
      Bpe.segmentByte(fuzz, "doc_id", "text", m), "id", "pieces")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val fwant = fuzz.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(frt == fwant)
    // pieces joined with ' ' stay unambiguous: every piece of a nonempty
    // rendering is itself nonempty (spaces appear ONLY as joiners)
    val pieces = Bpe.segmentByte(nasty, "doc_id", "text", m)
      .collect().map(_.getString(2))
    assert(pieces.forall(p => p.isEmpty || !p.split(" ", -1).contains("")))
  }

  test("DSIR fit is total on an empty source OR target (no NULL log-ratios)") {
    // r12 advice: ns was un-coalesced, so an empty SOURCE nulled every
    // bucket's lr and scoreWith went silently empty; both totals now
    // coalesce to 0 and the add-one smoothing keeps lr finite
    val some = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val none = some.filter(lit(false))
    for ((s0, t0) <- Seq((none, some), (some, none), (none, none))) {
      val fitTab = Dsir.fit(s0, t0, "text", buckets = 16)
      val rows = fitTab.collect()
      assert(rows.length == 16)
      assert(rows.forall(r => !r.isNullAt(1) && !r.getDouble(1).isNaN))
    }
    val scored = Dsir.scoreWith(some, "doc_id", "text",
      Dsir.fit(none, some, "text", buckets = 16), buckets = 16)
    assert(scored.count() == 1 && !scored.head().isNullAt(1))
  }

  test("DSIR ranks target-like source docs first; resample is deterministic") {
    val target = Seq(
      (101L, "clinical trial patient dosage treatment outcome"),
      (102L, "patient symptoms diagnosis clinical treatment")).toDF("doc_id", "text")
    val source = Seq(
      (1L, "clinical patient treatment dosage outcome trial"),   // target-like
      (2L, "patient diagnosis clinical symptoms treatment"),     // target-like
      (3L, "football match score goal referee stadium"),
      (4L, "stock market trading shares dividend portfolio"),
      (5L, "recipe flour sugar butter oven baking")).toDF("doc_id", "text")
    val scores = Dsir.dsirScores(source, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(scores.size == 5)
    val targetLike = Set(1L, 2L).map(scores); val offDomain = Set(3L, 4L, 5L).map(scores)
    assert(targetLike.min > offDomain.max,
      s"target-domain docs must outscore off-domain ones: $scores")
    // resample: top-2 is exactly the target-like pair; replay-stable
    val pick = Dsir.dsirResample(source, target, "doc_id", "text", k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(pick == Set(1L, 2L))
    val again = Dsir.dsirResample(source.repartition(7), target, "doc_id", "text", k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(again == pick)
    intercept[IllegalArgumentException] {
      Dsir.dsirResample(source, target, "doc_id", "text", k = 0)
    }
  }

  test("containment finds near-subsets that jaccard misses; survivors drop the contained copy") {
    val excerpt = "alpha beta gamma delta epsilon zeta"
    val page = excerpt + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val df = Seq(
      (1L, excerpt),                    // fully contained in 2
      (2L, page),                       // the container
      (3L, "unrelated document body with entirely different words"),
      (4L, excerpt),                    // identical set to 1 → mutual containment
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // excerpt-in-page has jaccard ≈ 4/44 — invisible to the jaccard op
    assert(Dedup.jaccardPairs(df, "doc_id", "text", 0.8)
      .collect().forall(r => Set(r.getLong(0), r.getLong(1)) == Set(1L, 4L)))
    val dirs = pairs.map(p => (p._1, p._2)).toSet
    assert(dirs == Set((1L, 2L), (4L, 2L), (1L, 4L), (4L, 1L)),
      s"expected excerpt→page and the identical-set mutual pair, got $dirs")
    assert(pairs.forall(_._3 == 1.0))
    // survivors: 1 contained in larger 2 → dropped; 4 contained in larger
    // 2 → dropped (the 4↔1 tie alone would only drop 4); containers stay
    val surv = Dedup.containmentSurvivors(df, "doc_id",
        Dedup.containmentPairs(df, "doc_id", "text", 0.9))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(2L, 3L))
  }

  test("cross-corpus containment: left excerpts of reference pages drop, never the reverse") {
    val excerpt = "alpha beta gamma delta epsilon zeta"
    val page = excerpt + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val left = Seq(
      (1L, excerpt),                                   // contained in ref 11
      (2L, page),                                      // container lives LEFT — must NOT pair
      (3L, "unrelated new crawl document text here")).toDF("doc_id", "text")
    val ref = Seq(
      (11L, page),
      (12L, "some retained reference snapshot body")).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairsAgainst(left, ref, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    // 1 ⊆ 11 (exact), and 2's set EQUALS 11's → containment 1.0 both; but
    // the direction is always left-contained-in-right
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 11L), (2L, 11L)),
      s"got ${pairs.toSeq}")
    assert(pairs.forall(_._3 == 1.0))
    // the DFL dispatch drops every matched left row
    val surv = graft.dfl.DflFrame.pipeline(left,
        "dedupAgainst(@, '@doc_id', '@text', $ref, 0.9, 'containment') | map(@, '{doc_id: @doc_id}')",
        Map("ref" -> ref))
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(3L))
  }

  test("cross-corpus pairs: only across sides, values match the union self-join") {
    val left = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six"),
      (3L, "unrelated text with no twin anywhere at all")).toDF("doc_id", "text")
    val right = Seq(
      (11L, "alpha beta gamma delta epsilon zeta"),   // exact twin of 1
      (12L, "one two three four five six seven"),     // near twin of 2
      (13L, "completely different reference document body")).toDF("doc_id", "text")
    val cross = Dedup.jaccardPairsAgainst(left, right, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // naive reference: self-join pairs on the (disjoint-id) union,
    // restricted to cross pairs — values must coincide exactly
    val union = left.unionByName(right)
    val unionPairs = Dedup.jaccardPairs(union, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 10 && b >= 10 }.toSet
    assert(cross == unionPairs)
    assert(cross.map(p => (p._1, p._2)) == Set((1L, 11L), (2L, 12L)))
    // no within-side pairs ever surface
    assert(cross.forall { case (a, b, _) => a < 10 && b >= 10 })
  }

  test("cross-corpus minhash pairs equal exact cross-jaccard on real corpus split") {
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val newDocs = docs.filter(col("doc_id") % 3 =!= 0)
    val refDocs = docs.filter(col("doc_id") % 3 === 0)
    val exact = Dedup.jaccardPairsAgainst(newDocs, refDocs, "doc_id", "text", 0.8)
      .collect().map(key).toSet
    val lsh = Dedup.minhashPairsAgainst(newDocs, refDocs, "doc_id", "text", 0.8)
      .collect().map(key).toSet
    assert(exact.nonEmpty, "split should straddle planted near-dup families")
    assert(lsh == exact)
  }

  test("cross-corpus ids may collide across sides without self-pairing") {
    // the SAME id on both sides, with identical text: a structural-side
    // bug (keying on id alone) would dedupe the bucket entry or emit a
    // degenerate (1,1) self-pair with jaccard 1 twice
    val left = Seq((1L, "shared identifier text body here today")).toDF("doc_id", "text")
    val right = Seq((1L, "shared identifier text body here today"),
                    (2L, "nothing in common with anything else")).toDF("doc_id", "text")
    val cross = Dedup.minhashPairsAgainst(left, right, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cross.toSeq == Seq((1L, 1L, 1.0)))
    // and the survivor pass drops the matched left row
    assert(Dedup.survivorsAgainst(left, "doc_id",
      Dedup.minhashPairsAgainst(left, right, "doc_id", "text", 0.8)).count() == 0)
  }

  test("cross-corpus exact survivors: normalization folds, NULL text survives") {
    val left = Seq((1L, "Hello  World"), (2L, "fresh new content"),
                   (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val right = Seq((11L, "hello world")).toDF("doc_id", "text")
    val out = Dedup.exactSurvivorsAgainst(left, right, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 1 drops (normalized twin in ref); 2 survives; 3 (NULL fingerprint)
    // survives — anti-join null keys never match
    assert(out == Set(2L, 3L))
  }

  test("tokenizeIds maps to vocab ranks in order, OOV to zero") {
    val df = Seq((1L, "b a zzz b"), (2L, "A  b")).toDF("doc_id", "text")
    // vocab over the corpus: b=3 > a=2 > zzz=1 → ranks b=1, a=2, zzz=3
    val vocab = TextAnalysis.vocabulary(df, "text", topV = 2) // zzz CUT
    val out = TextAnalysis.tokenizeIds(df, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == ((4L, "1,2,0,1"))) // zzz is OOV after the top-2 cut
    assert(out(2L) == ((2L, "2,1")))     // normalization folds case/spacing
  }

  test("semantic dedup: planted cliques co-cluster and prune; k=1 degenerates to exact") {
    // planted clique corpus: 5 bit-identical copies of vec 0 over the
    // natural embeddings — identical vectors co-cluster under ANY
    // deterministic assignment, natural max pairwise cosine < 0.7
    val planted = emb.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), col("embedding"))
      .select((col("r") + 100000L).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val pairs = Dedup.semanticPairs(corpus, "vec_id", "embedding", 0.9,
      kClusters = 8, trainSample = 256)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val cliqueIds = 0L +: (1 to 5).map(_ + 100000L)
    val wantPairs = (for { a <- cliqueIds; b <- cliqueIds if a < b }
      yield (a, b, 1.0)).toSet
    assert(pairs.toSet == wantPairs)
    // survivors = natural corpus exactly (copy cliques pruned to the base)
    val surv = Dedup.semanticDedup(corpus, "vec_id", "embedding", 0.9,
      kClusters = 8, trainSample = 256)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == emb.select("vec_id").collect().map(_.getLong(0)).toSet)
    // kClusters = 1 is degenerate: one cluster → the within-cluster join
    // IS the exact all-pairs similarity join (cosinePairsBlocked parity)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(key(Dedup.semanticPairs(emb, "vec_id", "embedding", 0.45,
        kClusters = 1, trainSample = 64)) ==
      key(Dedup.cosinePairsBlocked(emb, "vec_id", "embedding", 0.45)))
  }

  test("simhash catches high-jaccard near-dups") {
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.nonEmpty)
    // simhash(hamming<=3) should recover most >=0.9-jaccard pairs; the
    // 4x16 banding only guarantees detection at hamming<=3, and token-set
    // jaccard vs simhash hamming correlate loosely on short docs
    val recall = jac.count(sim.contains).toDouble / jac.size
    assert(recall >= 0.7, s"simhash recall $recall too low (found ${sim.size} pairs)")
  }

  test("survivors removes exactly the dominated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", 0.8)
    val surv = Dedup.survivors(docs, "doc_id", pairs)
    val dropped = pairs.select("id_b").distinct().count()
    assert(surv.count() == docs.count() - dropped)
  }

  test("chunkTokens: exact boundaries, overlap stride, short and empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                   // shorter than n
      (3L, "")                                         // empty
    ).toDF("doc_id", "text")
    // n=4, overlap=1 → stride 3: doc 1 chunks at starts 0,3,6 (and 9?
    // 1 + ceil((10-4)/3) = 1+2 = 3 chunks → starts 0,3,6; tokens 8-10
    // covered by [6,10))
    val got = TextAnalysis.chunkTokens(docs, "doc_id", "text", n = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(
      (1L, 0, "w1 w2 w3 w4"), (1L, 1, "w4 w5 w6 w7"), (1L, 2, "w7 w8 w9 w10"),
      (2L, 0, "a b c"),
      (3L, 0, "")))
    // every token of every doc appears in some chunk (coverage), and
    // consecutive chunks share exactly `overlap` tokens
    val noOverlap = TextAnalysis.chunkTokens(docs, "doc_id", "text", n = 4)
      .filter($"doc_id" === 1L).orderBy("chunk_ix")
      .collect().map(_.getString(2))
    assert(noOverlap.mkString(" ").split(" ").toSeq ==
      (1 to 10).map(i => s"w$i"))
    intercept[IllegalArgumentException](
      TextAnalysis.chunkTokens(docs, "doc_id", "text", n = 4, overlap = 4))
  }

  test("decontaminate: planted benchmark overlap is caught, clean docs survive") {
    // benchmark doc with a known 8-token span; corpus doc 10 copies that
    // span verbatim inside otherwise-fresh text, doc 11 is clean, doc 12
    // is shorter than n tokens (no grams, can never hit)
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, s"leading words $span trailing words")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, s"completely unrelated prefix $span and a different suffix"),
      (11L, "no overlap here at all just original tokens going on and on"),
      (12L, "too short"),
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.contaminationHits(corpus, "doc_id", "text", bench, "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits.keySet == Set(10L) && hits(10L) == 1L)
    val clean = TextAnalysis.decontaminate(corpus, "doc_id", "text", bench, "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(11L, 12L))
    // the benchmark side must be broadcast (eval sets are small): no
    // shuffle join on the corpus-side gram stream
    val plan = TextAnalysis.contaminationHits(
      docs, "doc_id", "text", docs.filter($"doc_id" % 23 === 0), "text", 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("decontaminateBloom: identical answers to exact, probe is map-side") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, s"leading words $span trailing words")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, s"completely unrelated prefix $span and a different suffix"),
      (11L, "no overlap here at all just original tokens going on and on"),
      (12L, "too short"),
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.contaminationHitsBloom(
        corpus, "doc_id", "text", bench, "text", n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits.keySet == Set(10L) && hits(10L) == 1L)
    val clean = TextAnalysis.decontaminateBloom(
        corpus, "doc_id", "text", bench, "text", n = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(11L, 12L))
    // equivalence on the real corpus: bloom ≡ exact on the %23 split
    val big = docs
    val exact = TextAnalysis.decontaminate(big.filter($"doc_id" % 23 =!= 0),
        "doc_id", "text", big.filter($"doc_id" % 23 === 0), "text", 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = TextAnalysis.decontaminateBloom(big.filter($"doc_id" % 23 =!= 0),
        "doc_id", "text", big.filter($"doc_id" % 23 === 0), "text", 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloom == exact)
    // the prefilter must sit in the corpus-side scan projection (a
    // codegen'd probe BEFORE any join), so false candidates die
    // map-side and never shuffle
    val hitsDf = TextAnalysis.contaminationHitsBloom(
        big.filter($"doc_id" % 23 =!= 0), "doc_id", "text",
        big.filter($"doc_id" % 23 === 0), "text", 8)
    val plan = hitsDf.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_bcast_probe"), plan.take(2000))
    // and the filter bytes must travel as a BROADCAST, not a plan
    // literal: no binary literal past 1 KB anywhere in the analyzed plan
    // (a 2^20-gram filter is ~1 MB — embedded, it would ship with every
    // serialized task)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val bigLits = hitsDf.queryExecution.analyzed.collect { case p =>
      p.expressions.flatMap(_.collect {
        case Literal(v: Array[Byte], BinaryType) if v.length > 1024 => v.length
      })
    }.flatten
    assert(bigLits.isEmpty, s"plan embeds binary literal(s) of size $bigLits")
    // empty benchmark: nothing can hit, everything survives
    val emptyBench = bench.filter($"doc_id" < 0L)
    assert(TextAnalysis.contaminationHitsBloom(
      corpus, "doc_id", "text", emptyBench, "text", 8).isEmpty)
    assert(TextAnalysis.decontaminateBloom(
        corpus, "doc_id", "text", emptyBench, "text", 8).count() == 3L)
  }

  test("removeDupSpans: repeated windows scrubbed, unique text untouched") {
    val span = (1 to 4).map(i => s"dup$i").mkString(" ")   // 4-token window
    val df = Seq(
      (1L, s"unique one two three $span tail1 tail2"),
      (2L, s"other prefix words here $span end1 end2"),
      (3L, "totally original text with no repeats at all"),
      (4L, "tiny"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.removeDupSpans(df, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the shared 4-token span occurs twice → its windows are dup in both
    // docs; surrounding unique tokens survive IF no dup window covers
    // them. Windows are w-token COVERS: any token inside a repeated
    // window goes. Here only the exact span window repeats.
    assert(!out(1L)._1.contains("dup1") && out(1L)._1.contains("unique"))
    assert(!out(2L)._1.contains("dup4") && out(2L)._1.contains("other"))
    assert(out(3L) == ("totally original text with no repeats at all", 8L))
    assert(out(4L) == ("tiny", 1L)) // shorter than w: no windows, untouched
    // every input row survives
    assert(out.size == 4)
    // a full copy scrubs both copies to empty
    val copied = df.select($"doc_id" + 100L as "doc_id", $"text")
    val both = TextAnalysis.removeDupSpans(
      df.unionByName(copied), "doc_id", "text", w = 4)
    assert(both.filter($"doc_id".isin(3L, 103L))
      .collect().forall(_.getLong(2) == 0L))
  }

  test("scrubContamSpans: leaked spans deleted, docs survive, case-insensitive") {
    val span = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq((100L, s"leading words $span trailing words")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, s"good prefix stays ${span.toUpperCase} good suffix stays"),
      (11L, "no overlap here at all just original tokens going on and on"),
      (12L, "too short"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubContamSpans(corpus, "doc_id", "text", bench,
        "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // every doc survives; the quoted span dies (matched case-insensitively
    // via per-token lowering) but the RAW surrounding text is kept
    assert(out.size == 3)
    assert(out(10L)._1 == "good prefix stays good suffix stays" &&
      out(10L)._2 == 6L)
    assert(out(11L)._2 == 12L && out(12L)._2 == 2L)
    // a doc that IS a bench doc scrubs to empty
    val copy = TextAnalysis.scrubContamSpans(
      bench.select($"doc_id" + 1L as "doc_id", $"text"), "doc_id", "text",
      bench, "text", 8).head()
    assert(copy.getLong(2) == 0L && copy.getString(1) == "")
    // empty benchmark: untouched
    assert(TextAnalysis.scrubContamSpans(corpus, "doc_id", "text",
      bench.filter($"doc_id" < 0), "text", 8)
      .agg(sum("n_kept")).head().getLong(0) == (14L + 12L + 2L))
  }

  test("vocabulary: top-V normalized tokens with deterministic rank") {
    val df = Seq(
      (1L, "the Cat  sat"),          // normText lowers + collapses ws
      (2L, "the cat ran"),
      (3L, "THE dog"),
    ).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(df, "text", topV = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the=3, cat=2, then ties at 1 break alphabetically: dog < ran < sat
    assert(v.toSeq == Seq(("the", 3L, 1L), ("cat", 2L, 2L), ("dog", 1L, 3L)))
    // top-V must plan as a bounded TakeOrdered, not a global sort
    val plan = TextAnalysis.vocabulary(docs, "text", 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("tfidfTopTerms: smooth idf, per-doc top-k, deterministic ties") {
    val df = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    val byDoc = out.groupBy(_._1)
    // doc 1: apple tf=2 df=1 → 2*(ln(3/2)+1); banana tf=1 df=2 → ln(1)+1=1
    val appleScore = BigDecimal(2.0 * (math.log(3.0 / 2.0) + 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(byDoc(1L).sortBy(_._5).toSeq == Seq(
      (1L, "apple", 2L, appleScore, 1L), (1L, "banana", 1L, 1.0, 2L)))
    // doc 2: banana and cherry tie at ... cherry df=1 → ln(3/2)+1 > banana's 1.0
    assert(byDoc(2L).map(_._2).toSet == Set("banana", "cherry"))
    assert(byDoc(2L).minBy(_._5)._2 == "cherry") // higher idf ranks first
    // every doc emits at most k rows
    assert(TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3)
      .groupBy("doc_id").count().agg(max("count")).head().getLong(0) <= 3L)
  }

  test("repetition signals: dup-token fraction and top-bigram share") {
    val df = Seq(
      (1L, "spam spam spam spam"),            // 1 distinct of 4; bigram "spam spam" 3/3
      (2L, "all tokens here are distinct"),   // no repetition
      (3L, "one"),                            // no bigram at all
      (4L, ""),                               // empty text -> split gives [""]
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.dupTokenFrac($"text").as("f"),
        TextAnalysis.topBigramShare($"text").as("b"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == (0.75, 1.0))
    assert(out(2L) == (0.0, 0.25)) // 5 tokens -> 4 distinct bigrams, max freq 1
    assert(out(3L) == (0.0, 0.0))
    assert(out(4L) == (0.0, 0.0))
  }

  test("int8 quantization: bounded reconstruction error, cosine-compatible probes") {
    import graft.llm.Quantize
    val qz = Quantize.quantizeInt8(emb, "embedding")
    // reconstruction error per element is <= scale/2 + representation slack
    val bad = qz.select(
        org.apache.spark.sql.functions.zip_with(
          col("embedding").cast("array<double>"),
          Quantize.dequantize(col("q_codes"), col("q_scale")),
          (v, d) => abs(v - d) > col("q_scale") * 0.5 + lit(1e-9)).as("errs"))
      .filter(array_contains(col("errs"), true)).count()
    assert(bad == 0L)
    // codes are genuine tinyints in [-127, 127]
    val rng = qz.select(array_max(col("q_codes")).cast("int").as("mx"),
        array_min(col("q_codes")).cast("int").as("mn"))
      .agg(max("mx"), min("mn")).head()
    assert(rng.getInt(0) <= 127 && rng.getInt(1) >= -127)
    // the quantized corpus drops into the SAME brute-force probe (native
    // dot now reads array<tinyint>), and its top-10 overlaps the float
    // top-10 heavily (int8 cosine error is small)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val floatTop = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val qzTop = Similarity.bruteForceTopK(
      qz.select($"vec_id", $"q_codes"), "vec_id", "q_codes", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert((floatTop & qzTop).size >= 8, s"overlap ${(floatTop & qzTop).size}")
    // zero vectors: scale 0, all-zero codes, no NaN traps
    val z = Quantize.quantizeInt8(
      Seq((1L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding"), "embedding")
      .select($"q_scale", $"q_codes").head()
    assert(z.getDouble(0) == 0.0 &&
      z.getSeq[Byte](1).forall(_ == 0.toByte))
  }

  test("quantized corpora flow through BOTH index lifecycles 4x smaller") {
    import graft.llm.Quantize
    val qz = Quantize.quantizeInt8(emb, "embedding")
      .select($"vec_id", $"q_codes")
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def dirSize(p: String): Long = {
      val root = new java.io.File(p)
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
      walk(root)
    }
    // LSH: build over array<tinyint> codes (HyperplaneBands reads bytes
    // natively), probe, append — the whole lifecycle, no special-casing
    val base = java.nio.file.Files.createTempDirectory("graft-qidx").toString
    val fDir = s"$base/float"; val qDir = s"$base/quant"
    Similarity.lshBuild(emb.select($"vec_id", $"embedding"),
      "vec_id", "embedding", fDir, nBits = 16, partitionBits = 4)
    Similarity.lshBuild(qz, "vec_id", "q_codes", qDir, nBits = 16, partitionBits = 4)
    val fTop = Ann.probe(Ann.Dir(spark, fDir), Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(_.getLong(0)).toSet
    val qTop = Ann.probe(Ann.Dir(spark, qDir), Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(_.getLong(0)).toSet
    assert((fTop & qTop).size >= 7, s"overlap ${(fTop & qTop).size}")
    // the quantized index is genuinely smaller at rest (codes are 1/4
    // the float payload; parquet encoding keeps some fixed overhead)
    assert(dirSize(qDir) < dirSize(fDir) * 0.6,
      s"quant ${dirSize(qDir)} vs float ${dirSize(fDir)}")
    // appends work over codes too (same signature pass)
    val inc = Quantize.quantizeInt8(
        emb.filter($"vec_id" === 0)
          .select(($"vec_id" + 900000L).as("vec_id"), $"embedding"), "embedding")
      .select($"vec_id", $"q_codes")
    Ann.append(inc, "vec_id", "q_codes", qDir)
    assert(Ann.probe(Ann.Dir(spark, qDir), Ann.Probe(Ann.One(q), Ann.TopK(3)))
      .collect().map(_.getLong(0)).contains(900000L))
    // IVF: kmeans + assignment + probe over codes run mechanically, but
    // the per-vector scale DISTORTS the euclidean list geometry (every
    // code vector is rescaled to max|q|=127), so list-probing recall at
    // the float-tuned nprobe=8 degrades — sign-based LSH is the natural
    // index for symmetrically quantized codes (signs are invariant to
    // positive per-vector scaling, as proven above). Quantized IVF needs
    // a wider probe: at nprobe=24 recall recovers.
    val iDir = s"$base/ivfq"
    Similarity.ivfBuild(qz, "vec_id", "q_codes", iDir)
    val bTop = Similarity.bruteForceTopK(qz, "vec_id", "q_codes", q, 10)
      .collect().map(_.getLong(0)).toSet
    val iTopWide = Ann.probe(Ann.Dir(spark, iDir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(24)))
      .collect().map(_.getLong(0)).toSet
    assert((iTopWide & bTop).size >= 7, s"ivf recall ${(iTopWide & bTop).size}")
  }

  test("hashEmbed: unit norm, normalization folds, feeds the vector machinery") {
    val df = Seq((1L, "a b a"), (2L, "A  B a"), (3L, "z"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.hashEmbed(df, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // null/token-free docs produce no row
    assert(out.keySet == Set(1L, 2L, 3L))
    // unit L2 norm (up to the 6-decimal rounding)
    out.values.foreach { v =>
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
    }
    // normText folds case/spacing: docs 1 and 2 embed identically
    assert(out(1L) == out(2L))
    // a single-token doc is a one-hot
    assert(out(3L).count(_ != 0.0) == 1 && out(3L).max == 1.0)
    // the embedding drops into the existing cosine-pair machinery:
    // identical texts sit at cosine exactly 1
    val emb = TextAnalysis.hashEmbed(df, "doc_id", "text", 8)
      .select(col("doc_id"), col("vec").cast("array<float>").as("vec"))
    val pairs = Dedup.cosinePairsBlocked(emb, "doc_id", "vec", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("hashEmbed feeds the indexed ANN lifecycle: planted copy is hit #1") {
    // text-only corpus → hash embeddings → LSH index → probe: a planted
    // verbatim copy of doc 0 embeds identically, so it and doc 0 sit at
    // cosine exactly 1.0 for doc 0's own vector — the top hits by
    // construction regardless of natural near-ties below them
    val base = docs.select("doc_id", "text")
    val copy = base.filter(col("doc_id") === 0)
      .select(lit(900000L).as("doc_id"), col("text"))
    val emb = TextAnalysis.hashEmbed(base.unionByName(copy), "doc_id", "text", 32)
      .select(col("doc_id").as("vec_id"), col("vec").cast("array<float>").as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft-he-ann").toString
    Similarity.lshBuild(emb, "vec_id", "embedding", dir,
      nBits = 8, dim = 32, partitionBits = 4)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val hits = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(2)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(hits.map(_._1).toSet == Set(0L, 900000L))
    assert(hits.forall(_._2 == 1.0))
  }

  test("collocations: hand-computed PMI, minCount gate, bounded top-K plan") {
    // corpus: "a b" ×3, "a c" ×1 → unigrams a=4, b=3, c=1 (Nu=8);
    // bigrams (a,b)=3, (a,c)=1 (Nb=4)
    val df = (Seq.fill(3)("a b") ++ Seq("a c")).toDF("text")
    val out = TextAnalysis.collocations(df, "text", minCount = 1, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    def pmi(np: Long, cp: Long, cw: Long) =
      math.rint(math.log(np.toDouble * 8 * 8 / (4.0 * cp * cw)) * 1e6) / 1e6
    assert(out == Map(
      ("a", "b") -> ((3L, pmi(3, 4, 3))),
      ("a", "c") -> ((1L, pmi(1, 4, 1)))))
    // minCount prunes candidates but NOT the probability space: (a,b)'s
    // pmi is identical with the (a,c) pair filtered out
    val gated = TextAnalysis.collocations(df, "text", minCount = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(gated == Map(("a", "b") -> pmi(3, 4, 3)))
    // top-K plans as a bounded TakeOrderedAndProject, not a global sort
    val plan = TextAnalysis.collocations(docs, "text", 5, 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("shardAssign: balanced shards, bucket-count invariant, matches the naive global window") {
    import graft.llm.Sampling
    import org.apache.spark.sql.expressions.Window
    val B = 20000L
    val out = Sampling.shardAssign(docs, "doc_id", "n_chars", B)
      .select("doc_id", "n_chars", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // naive reference: ONE global window in the same hash order
    val ord = Window.orderBy(Sampling.hashBucket(col("doc_id"), 0L, 1000000), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = docs
      .withColumn("shard", ((sum("n_chars").over(ord) - col("n_chars")) / B)
        .cast("long"))
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.map(x => x._1 -> x._3).toMap == naive)
    // shard ids contiguous from 0; every shard total within one max row
    // weight of B (the greedy prefix rule's balance bound)
    val totals = out.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val maxW = out.map(_._2).max
    val last = totals.keys.max
    assert(totals.keySet == (0L to last).toSet)
    totals.foreach { case (s, t) =>
      assert(t < B + maxW, s"shard $s overfull: $t")
      if (s != last) assert(t > B - maxW, s"shard $s underfull: $t")
    }
    // bucketed composition is invariant in the parallelism knob
    for (ob <- Seq(1, 7, 4096)) {
      val alt = Sampling.shardAssign(docs, "doc_id", "n_chars", B, orderBuckets = ob)
        .select("doc_id", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(alt == naive, s"orderBuckets=$ob diverged")
    }
    // string-keyed corpora shard through the md5 order
    val sdocs = docs.select(concat(lit("d"), col("doc_id")).as("sid"), col("n_chars"))
    val sOut = Sampling.shardAssign(sdocs, "sid", "n_chars", B)
    assert(sOut.select("shard").distinct().count() == totals.size)
    intercept[IllegalArgumentException] {
      Sampling.shardAssign(docs, "doc_id", "n_chars", 0L)
    }
  }

  test("weighted sampling: rate near target, heavy rows always kept, deterministic") {
    import graft.llm.Sampling
    val kept = Sampling.sampleByWeight(docs, "doc_id", "n_chars", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val n = docs.count().toDouble
    assert(kept.size > n * 0.2 && kept.size < n * 0.4,
      s"expected ~30%, got ${kept.size / n}")
    // rerun identical
    assert(Sampling.sampleByWeight(docs, "doc_id", "n_chars", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet == kept)
    // rows whose keep probability caps at 1 are ALWAYS in
    val sw = docs.agg(sum("n_chars")).head().getLong(0).toDouble
    val alwaysIn = docs.filter(col("n_chars") >= lit(sw / (n * 0.3)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(alwaysIn.subsetOf(kept))
    // higher fraction keeps a superset (monotone in fraction)
    val more = Sampling.sampleByWeight(docs, "doc_id", "n_chars", 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(more))
    // NULL weights never keep; bad fraction rejected
    val df = Seq((1L, Some(100L)), (2L, Option.empty[Long])).toDF("doc_id", "w")
    assert(Sampling.sampleByWeight(df, "doc_id", "w", 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))
    intercept[IllegalArgumentException] {
      Sampling.sampleByWeight(docs, "doc_id", "n_chars", 1.5)
    }
  }

  test("hash sampling: deterministic, id-stable, stratified, and near-target rates") {
    import graft.llm.Sampling
    // determinism + id stability: the sampled id set is a function of
    // (id, seed) only — rerun identical, and sampling a SUPERSET corpus
    // keeps every previously sampled id (the append-only-corpus property
    // that rand()-based sampling lacks)
    val half = docs.filter($"doc_id" < 250)
    val s1 = Sampling.sampleByHash(half, "doc_id", 0.2, seed = 9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.sampleByHash(docs, "doc_id", 0.2, seed = 9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2.filter(_ < 250))
    assert(Sampling.sampleByHash(docs, "doc_id", 0.2, seed = 9)
      .select("doc_id").collect().map(_.getLong(0)).toSet == s2)
    // rate lands near the target (multiplicative mix spreads sequential ids)
    val n = docs.count().toDouble
    assert(math.abs(s2.size / n - 0.2) < 0.08, s"rate ${s2.size / n}")
    // different seeds give different samples
    val s3 = Sampling.sampleByHash(docs, "doc_id", 0.2, seed = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s2 != s3)
    // splits partition every row, weights respected loosely
    val splits = Sampling.splitByHash(docs, "doc_id", Seq(0.9, 0.05, 0.05), seed = 7)
      .groupBy("split").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(splits.keySet.subsetOf(Set(0, 1, 2)) && splits.values.sum == n.toLong)
    assert(splits(0) > 0.8 * n)
    // stratified: per-stratum rates apply; unknown strata use the default
    val strat = Sampling.stratifiedSampleByHash(docs, "doc_id", "lang",
      Map("en" -> 1.0), defaultFraction = 0.0, seed = 1)
    val langs = strat.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("en"))
    assert(strat.count() == docs.filter($"lang" === "en").count())
    // filter is row-local: the sampling predicate pushes to the scan side
    // with no exchange in the plan
    val plan = Sampling.sampleByHash(docs, "doc_id", 0.1).queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("string-id sampling: same contracts through the md5 bucket dispatch") {
    import graft.llm.Sampling
    val sdocs = docs.select(concat(lit("doc-"), $"doc_id").as("sid"), $"lang")
    // determinism + superset stability, exactly as the numeric path
    val half = sdocs.filter(substring($"sid", 5, 10).cast("long") < 250)
    val s1 = Sampling.sampleByHash(half, "sid", 0.2, seed = 9)
      .select("sid").collect().map(_.getString(0)).toSet
    val s2 = Sampling.sampleByHash(sdocs, "sid", 0.2, seed = 9)
      .select("sid").collect().map(_.getString(0)).toSet
    assert(s1 == s2.filter(_.drop(4).toLong < 250) && s1.nonEmpty)
    val n = sdocs.count().toDouble
    assert(math.abs(s2.size / n - 0.2) < 0.08, s"rate ${s2.size / n}")
    assert(Sampling.sampleByHash(sdocs, "sid", 0.2, seed = 10)
      .select("sid").collect().map(_.getString(0)).toSet != s2)
    // splits partition string-keyed rows too
    val splits = Sampling.splitByHash(sdocs, "sid", Seq(0.9, 0.05, 0.05), seed = 7)
      .groupBy("split").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(splits.keySet.subsetOf(Set(0, 1, 2)) && splits.values.sum == n.toLong)
    assert(splits(0) > 0.8 * n)
    // temperatureMix over a string-keyed corpus: smallest domain whole
    val counts = sdocs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minLang = counts.minBy(_._2)._1
    val mixed = Sampling.temperatureMix(sdocs, "sid", "lang", 0.5, seed = 11)
    assert(mixed.filter($"lang" === minLang).count() == counts(minLang))
    assert(mixed.count() < n.toLong)
    // still a row-local pushed-down filter, no exchange
    val plan = Sampling.sampleByHash(sdocs, "sid", 0.1).queryExecution
      .executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("temperatureMix: smallest domain kept whole, shares flatten, deterministic") {
    import graft.llm.Sampling
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = counts.values.min
    val minLang = counts.minBy(_._2)._1
    // alpha = 1: natural distribution — every row kept
    assert(Sampling.temperatureMix(docs, "doc_id", "lang", 1.0).count() ==
      docs.count())
    // alpha = 0.5: smallest domain kept in full, larger domains at
    // ~sqrt(n_min/n_d); kept counts land near the closed-form target
    val mixed = Sampling.temperatureMix(docs, "doc_id", "lang", 0.5, seed = 11)
    val kept = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept(minLang) == nMin, s"smallest domain must be whole: $kept")
    counts.foreach { case (lang, nd) =>
      val target = nd * math.sqrt(nMin.toDouble / nd)
      assert(math.abs(kept.getOrElse(lang, 0L) - target) <= 0.35 * target + 3,
        s"$lang kept ${kept.getOrElse(lang, 0L)} vs target $target")
    }
    // flattening: the max/min domain ratio strictly shrinks
    val before = counts.values.max.toDouble / nMin
    val after = kept.values.max.toDouble / kept.values.min
    assert(after < before)
    // deterministic and id-stable (same ids on rerun)
    val ids1 = mixed.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.temperatureMix(docs, "doc_id", "lang", 0.5, seed = 11)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    intercept[IllegalArgumentException](
      Sampling.temperatureMix(docs, "doc_id", "lang", 0.0))
  }

  test("scrubPii redacts emails, IPv4, and both phone shapes; clean text is untouched") {
    import spark.implicits._
    val rows = Seq(
      "mail a.smith+x@sub.example.co.uk now",
      "host 192.168.001.7 responded",
      "call 555-123-4567 or +441234567890 today",
      // year lists, versions, short numbers must NOT be scrubbed
      "in 2020 2021 and 2022 version 1.2.3 cost 12345678").toDF("text")
    val got = rows.select(TextAnalysis.scrubPii($"text").as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "mail <EMAIL> now",
      "host <IP> responded",
      "call <PHONE> or <PHONE> today",
      "in 2020 2021 and 2022 version 1.2.3 cost 12345678"))
  }

  test("duplicateClusters: transitive components, greedy-vs-cluster divergence, bounded rounds") {
    import spark.implicits._
    // chain 1-2-3 plus isolated pair 10-11: components {1,2,3} rep 1,
    // {10,11} rep 10
    val chain = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.duplicateClusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the shape where greedy and cluster semantics DIFFER: pairs
    // {(1,3),(2,3)} — greedy drops only id_b's ({3}: keeps 1 AND 2),
    // cluster keeps one representative of {1,2,3}
    val vee = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val members = Seq(1L, 2L, 3L).toDF("doc_id")
    assert(Dedup.survivors(members, "doc_id", vee)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(Dedup.clusterSurvivors(members, "doc_id", vee)
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // a component whose diameter exceeds maxIter throws instead of
    // returning silently partial clusters
    val longChain = (0L until 6L).sliding(2)
      .map(w => (w.head, w.last)).toSeq.toDF("id_a", "id_b")
    intercept[IllegalStateException](
      Dedup.duplicateClusters(longChain, maxIter = 2).collect())
    // ...and converges fine with the rounds it needs
    val full = Dedup.duplicateClusters(longChain, maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(full.length == 6 && full.forall(_._2 == 0L))
    // empty pair set: empty clusters, correct schema, no iteration
    val none = Dedup.duplicateClusters(chain.filter($"id_a" < 0))
    assert(none.columns.toSeq == Seq("id", "rep") && none.isEmpty)
    // STRING ids work end to end (every sibling dedup operator supports
    // them; a numeric cast here would null them all out silently):
    // components keep lexicographic-min reps
    val strPairs = Seq(("u-b", "u-c"), ("u-a", "u-c")).toDF("id_a", "id_b")
    val strCc = Dedup.duplicateClusters(strPairs)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(strCc == Map("u-a" -> "u-a", "u-b" -> "u-a", "u-c" -> "u-a"))
    val strDocs = Seq("u-a", "u-b", "u-c", "u-z").toDF("doc_id")
    assert(Dedup.clusterSurvivors(strDocs, "doc_id", strPairs)
      .collect().map(_.getString(0)).toSet == Set("u-a", "u-z"))
  }

  test("lsh ANN top-k has high recall vs brute force") {
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val lsh = Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(_.getLong(0)).toSet
    val recall = brute.count(lsh.contains).toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall $recall (lsh=$lsh brute=$brute)")
    assert(lsh.contains(0L)) // the query vector itself is its own 1-NN
  }

  test("batched top-k equals per-query brute force, via the bounded-heap aggregate") {
    val queries = emb.filter($"vec_id" < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val batch = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", queries, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 7)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"query $qid")
    }
    // ragged or empty batches are rejected up front, not silently rescored
    intercept[IllegalArgumentException](
      Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
        Seq(1L -> Seq(1.0, 2.0), 2L -> Seq(1.0, 2.0, 3.0)), 3))
    intercept[IllegalArgumentException](
      Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", Seq.empty, 3))
    // the aggregate plan never sorts whole per-query groups: no window
    // exchange of the full scored set (Sort nodes only inside the top-k
    // eval are fine; assert no global Sort before the aggregate)
    val plan = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", queries, 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("topk_by_score"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("range search equals filtered brute force, single and batched") {
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // single: exactly the rows whose rounded cosine clears the threshold
    val viaTopK = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q,
        k = 100000)
      .filter($"cos" >= 0.5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val range = Similarity.bruteForceRange(emb, "vec_id", "embedding", q, 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(range == viaTopK && range.exists(_._1 == 0L))
    // batch ≡ per-query, including across a chunk boundary
    val queries = emb.filter($"vec_id" < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val batch = Similarity.bruteForceRangeBatch(emb, "vec_id", "embedding",
        queries, 0.5, chunkSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    queries.foreach { case (qid, qv) =>
      val single = Similarity.bruteForceRange(emb, "vec_id", "embedding", qv, 0.5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch(qid) == single, s"query $qid")
    }
    // no aggregation anywhere: the batched range plan is scan+filter only
    val plan = Similarity.bruteForceRangeBatch(emb, "vec_id", "embedding",
        queries, 0.5).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"),
      plan.take(1500))
    intercept[IllegalArgumentException](
      Similarity.bruteForceRangeBatch(emb, "vec_id", "embedding", Seq.empty, 0.5))
  }

  test("lshRange: exact precision, planted clique recalled, pruned probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-lshrange").toString
    val dir = s"$root/idx"
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val clique = emb.select($"vec_id", $"embedding").unionByName(planted)
    Similarity.lshBuild(clique, "vec_id", "embedding", dir, nBits = 16, dim = 64)
    val got = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.Range(0.9)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // every planted copy (cos 1.0) and the query itself recalled at the
    // tight threshold — expected Hamming 0, well inside the slack ball
    assert((1 to 5).forall(i => got.exists(_._1 == 100000L + i)) &&
      got.exists(_._1 == 0L))
    // precision EXACT: results ⊆ the brute-force range at the threshold
    val brute = Similarity.bruteForceRange(clique, "vec_id", "embedding",
      q, 0.9).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got.subsetOf(brute))
    // full slack degenerates to the exact answer
    val full = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.Range(0.9), tuning = Some(16))).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(full == brute)
    // the tight-threshold probe reads a pruned ball, not the corpus
    val plan = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.Range(0.9)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [pband"), plan.take(2000))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(Seq(1.0, 2.0)), Ann.Range(0.9))))
  }

  test("ivfRange: exact precision, planted clique recalled, full probe degenerates") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivfrange").toString
    val dir = s"$root/idx"
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val clique = emb.select($"vec_id", $"embedding").unionByName(planted)
    Similarity.ivfBuild(clique, "vec_id", "embedding", dir)
    val got = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.Range(0.9)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // the clique shares the query's rank-0 list: recalled at any nprobe
    assert((1 to 5).forall(i => got.exists(_._1 == 100000L + i)) &&
      got.exists(_._1 == 0L))
    // precision EXACT: results ⊆ the brute-force range at the threshold
    val brute = Similarity.bruteForceRange(clique, "vec_id", "embedding",
      q, 0.9).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got.subsetOf(brute))
    // probing every list degenerates to the exact answer
    val full = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.Range(0.9), tuning = Some(16)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(full == brute)
    // the probe reads its lists via partition pruning, not a corpus scan
    val plan = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.Range(0.9)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list"), plan.take(2000))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(Seq(1.0, 2.0)), Ann.Range(0.9))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.Range(1.5))))
    // the ad-hoc (index-less) forms obey the same contracts: exact
    // precision and guaranteed self/clique recall
    Seq(
      Ann.probe(Ann.Adhoc(clique, "vec_id", "embedding", Ann.Build("ivf")),
        Ann.Probe(Ann.One(q), Ann.Range(0.9))),
      Ann.probe(Ann.Adhoc(clique, "vec_id", "embedding", Ann.Build("lsh")),
        Ann.Probe(Ann.One(q), Ann.Range(0.9))),
    ).foreach { df =>
      val s = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(s.subsetOf(brute) && s.exists(_._1 == 0L) &&
        (1 to 5).forall(i => s.exists(_._1 == 100000L + i)))
    }
  }

  test("zero-norm and NaN embeddings are excluded from brute-force candidates") {
    // 0.0/0.0 is NaN in non-ANSI mode, and NaN ranks ABOVE every real
    // value in Spark ordering — without the explicit guards an all-zero
    // embedding would be the top hit of every query
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val base = emb.filter($"vec_id" < 20).select($"vec_id", $"embedding")
    val poison = Seq(
      (900000L, Array.fill(q.length)(0.0f)),
      (900001L, Array.fill(q.length)(Float.NaN)),
    ).toDF("vec_id", "embedding")
    val all = base.unionByName(poison)
    val brute = Similarity.bruteForceTopK(all, "vec_id", "embedding", q, 25).collect()
    assert(brute.length == 20, brute.map(_.getLong(0)).mkString(","))
    assert(brute.forall(_.getLong(0) < 900000L))
    val batch = Similarity
      .bruteForceTopKBatch(all, "vec_id", "embedding", Seq(0L -> q), 25).collect()
    assert(batch.length == 20 && batch.forall(_.getLong(1) < 900000L))
  }

  test("top-k heap: NaN ranks first like a descending Spark sort, and is evictable") {
    // a naive <-based comparator is incoherent on NaN: a NaN entry could
    // lodge in the heap forever, block real candidates, and sort last —
    // the opposite of Spark/DuckDB descending-sort semantics
    val h = new graft.functions.TopKHeap(3)
    h.offer(Double.NaN, 9L)
    h.offer(0.5, 1L); h.offer(0.7, 2L); h.offer(0.6, 3L)
    // heap is full: 0.5 must have been evicted, NaN retained as the best
    assert(h.sortedDesc.map(_._2) == Seq(9L, 2L, 3L))
    assert(h.sortedDesc.head._1.isNaN)
    // two NaNs tie-break by id ascending
    val h2 = new graft.functions.TopKHeap(2)
    h2.offer(Double.NaN, 5L); h2.offer(Double.NaN, 4L); h2.offer(1.0, 1L)
    assert(h2.sortedDesc.map(_._2) == Seq(4L, 5L))
    // -0.0 and 0.0 compare equal (id breaks the tie), matching Spark
    val h3 = new graft.functions.TopKHeap(1)
    h3.offer(-0.0, 7L); h3.offer(0.0, 2L)
    assert(h3.sortedDesc.map(_._2) == Seq(2L))
  }

  test("ivf ANN top-k has high recall vs brute force and probes few lists") {
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("ivf", kLists = 16)),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(6)))
      .collect().map(_.getLong(0)).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall (ivf=$ivf brute=$brute)")
    assert(ivf.contains(0L)) // the query vector itself is its own 1-NN
    // assignment covers every vector exactly once across the lists
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
      Similarity.kmeans(Array(q.toArray, q.map(-_).toArray), 2))
    assert(assigned.count() == emb.count())
    assert(assigned.select("list").distinct().count() <= 2)
  }

  test("distributed kmeans matches the driver-side loop on the same sample") {
    val sampleDf = emb.select($"embedding").limit(256)
    val arrs = sampleDf.collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val driver = Similarity.kmeans(arrs, 8)
    val rdd = sampleDf.rdd
      .map(_.getSeq[Any](0).map(x => x.asInstanceOf[Number].doubleValue()).toArray)
    val dist = Similarity.kmeansDistributed(rdd, 8)
    assert(dist.length == driver.length)
    // equal up to float summation order (partial sums merge per partition)
    driver.zip(dist).zipWithIndex.foreach { case ((a, b), c) =>
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-6, s"centroid $c: $x vs $y")
      }
    }
  }

  test("approx_count_distinct contract row: exact counts plus bounded-error boolean") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val rows = graft.SparkEntry.queries("approx_distinct_users")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val exact = ev.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val (exactOut, within) = rows(k)
      assert(exactOut == n, s"$k: exact_users $exactOut vs $n")
      assert(within, s"$k: HLL++ estimate strayed beyond 5% of $n")
    }
  }

  test("within_5pct contract is TRUE, not NULL, for a key whose user_ids are all NULL") {
    // a zero exact count must not divide by zero: the contract there is
    // approx == 0, which DuckDB's exact-vs-exact oracle also renders TRUE
    val ev = Seq(
      ("click", Some(1L)), ("click", Some(2L)), ("click", Some(1L)),
      ("ghost", None), ("ghost", None),
    ).toDF("event_type", "user_id")
    val out = ev.groupBy(col("event_type").as("key"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
           countDistinct(col("user_id")).as("exact_users"))
      .select(col("key"), col("exact_users"),
        graft.SparkEntry.within5pct(col("approx"), col("exact_users")).as("within_5pct"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getBoolean(2))))).toMap
    assert(out("click") == ((2L, Some(true))))
    assert(out("ghost") == ((0L, Some(true))), "all-NULL key must be TRUE, never NULL")
  }

  test("language id and quality score are deterministic and bounded") {
    val out = docs.select(
      TextAnalysis.langId($"text").as("lang"),
      TextAnalysis.qualityScore($"text", $"n_chars").as("q")).collect()
    assert(out.forall(r => Set("en", "es", "de", "fr", "und")(r.getString(0))))
    assert(out.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("multimodal decode keeps distribution and produces stable features") {
    val media = Multimodal.asMediaTable(docs, "doc_id", "text", "image")
    assert(media.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.decodeFeatures(spark, media)
    assert(feats.count() == docs.count())
    val row = feats.filter(_.id == 0L).head()
    assert(row.features.length == 8)
    // deterministic: same input → same checksum on a second run
    val again = Multimodal.decodeFeatures(spark, media).filter(_.id == 0L).head()
    assert(row.checksum == again.checksum)
  }

  test("bucketed cosine pairs: exact precision, high recall on planted near-dups") {
    import org.apache.spark.sql.functions._
    // plant near-identical copies: vec_id+10000 is vec_id with one
    // component nudged (cosine ≈ 0.999)
    val base = emb.select("vec_id", "embedding").limit(200)
    val planted = base.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val all = base.unionByName(planted)
    val exact = Dedup.cosinePairsBlocked(all, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Dedup.cosinePairsBucketed(all, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 200) // every planted copy pairs with its source
    // precision exact by construction; recall from banding ≥ 95%
    assert(bucketed.subsetOf(exact))
    val recall = exact.count(bucketed.contains).toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall (${bucketed.size}/${exact.size})")
  }

  test("blocked cosine pairs equal the naive all-pairs result, with no cartesian in the plan") {
    val base = emb.select("vec_id", "embedding").limit(60)
    val out = Dedup.cosinePairsBlocked(base, "vec_id", "embedding", 0.2, numBlocks = 4)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive driver-side reference on the same 60 vectors
    val vs = base.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      i <- vs.indices; j <- (i + 1) until vs.length
      if cos(vs(i)._2, vs(j)._2) >= 0.2
    } yield (vs(i)._1, vs(j)._1)).toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
  }

  test("jaccard df-cap kills boilerplate skew but keeps genuine pairs exact") {
    // 40 docs sharing ONE boilerplate sentence (its shingles have df=40),
    // plus one genuine near-dup pair built from rare shingles
    val boiler = "all rights reserved by the original author"
    val filler = (0 until 40).map(i =>
      (i.toLong, s"unique$i tokens$i only$i here$i word$i $boiler"))
    val nearDup = Seq(
      (100L, s"alpha beta gamma delta epsilon zeta eta theta $boiler"),
      (101L, s"alpha beta gamma delta epsilon zeta eta theta $boiler"))
    val df = (filler ++ nearDup).toDF("doc_id", "text")
    val capped = Dedup.jaccardPairs(df, "doc_id", "text", 0.5, maxDocFreq = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // boilerplate-only overlap (every filler×filler pair) is pruned...
    assert(capped.map(p => (p._1, p._2)).toSet == Set((100L, 101L)))
    // ...and the surviving pair's jaccard is computed on the FULL shingle
    // sets (identical texts → 1.0), not the capped subset
    assert(capped.head._3 == 1.0)
    // uncapped finds the same genuine pair (sanity: cap only removes)
    val uncapped = Dedup.jaccardPairs(df, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((100L, 101L)))
  }

  test("native minhash/simhash signatures are bit-identical to the aggregated forms") {
    import org.apache.spark.sql.functions._
    // the retired explode+aggregate formulations, inlined as the reference
    val p = (1L << 61) - 1
    val rnd = new scala.util.Random(42)
    val params = Seq.fill(64)((math.abs(rnd.nextLong()) % (p - 1) + 1,
                               math.abs(rnd.nextLong()) % p))
    val sh = Dedup.shingleDf(docs, "doc_id", "text", 3)
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(p))).as(s"sig_$i")
    }
    val oldMin = sh.select(col("id"), explode(col("hs")).as("h"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 64).map(r.getLong(_)).toSeq).toMap
    val newMin = Dedup.minhashSigs(sh, 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(newMin.keySet == oldMin.keySet)
    newMin.foreach { case (id, sigs) => assert(sigs == oldMin(id), s"id $id") }

    val toks = docs.select(col("doc_id").as("id"),
      explode(TextAnalysis.wsTokens(TextAnalysis.normText(col("text")))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"v_$i"))
    val sigExpr = (0 until 64)
      .map(i => when(col(s"v_$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    val oldSim = toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), sigExpr.as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val newSim = Dedup.simhashSigs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(newSim == oldSim)
  }

  test("native sketch expressions compile under CODEGEN_ONLY (no silent fallback)") {
    import org.apache.spark.sql.functions._
    // Janino rejects code javac would accept (e.g. Scala object MODULE$
    // refs); Spark then silently drops to interpreted eval, defeating the
    // expressions' purpose while every value-level test still passes.
    // CODEGEN_ONLY turns that fallback into a hard failure.
    val factory = "spark.sql.codegen.factoryMode"
    val fallback = "spark.sql.codegen.fallback"
    val prevFactory = spark.conf.getOption(factory)
    val prevFallback = spark.conf.getOption(fallback)
    spark.conf.set(factory, "CODEGEN_ONLY")
    spark.conf.set(fallback, "false")
    try {
      val few = docs.limit(10)
      assert(Dedup.simhashSigs(few, "doc_id", "text").collect().length == 10)
      assert(Dedup.minhashSigs(Dedup.shingleDf(few, "doc_id", "text", 3), 64)
        .collect().nonEmpty)
      val planes = Similarity.hyperplanes(16, 64)
      assert(emb.limit(10)
        .select(graft.functions.HyperplaneF.bands($"embedding", 2, 8, planes))
        .collect().length == 10)
      assert(emb.limit(10)
        .select(graft.functions.VectorF.dot($"embedding", $"embedding"))
        .collect().length == 10)
      assert(emb.limit(10)
        .select(graft.functions.MatVecF.dots($"embedding",
          Seq(Seq.fill(64)(0.5), Seq.fill(64)(-1.0))))
        .collect().length == 10)
      val qs = emb.filter($"vec_id" < 2)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      assert(Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", qs, 3)
        .collect().length == 6)
      // round-13 expressions: BPE full-table segmenter, DSIR scorer,
      // CDC chunk/scrub/hash family, deflate ratio, bloom array probe
      val few13 = docs.limit(10)
      assert(few13.select(Bpe.segmentCol(col("text"),
        Seq(Bpe.Merge(0, "t", "h", 1)))).collect().length == 10)
      // round-14 expressions: byte-level BPE codec pair + byte-mode
      // segmenter
      assert(few13.select(Bpe.decodeByteCol(array_join(
        Bpe.segmentByteCol(col("text"), Seq(Bpe.Merge(0, "t", "h", 1))),
        " "))).collect().length == 10)
      assert(few13.select(graft.functions.ByteBpeF.byteUnmap(
        graft.functions.ByteBpeF.byteMap(col("text")))).collect().length == 10)
      // native perceptual image hash (undecodable text bytes → NULL)
      assert(few13.select(graft.functions.ImageHashF.imageHash64(
        col("text").cast("binary"))).collect().length == 10)
      assert(few13.select(graft.functions.DsirF.dsirScore(
        TextAnalysis.wsTokens(TextAnalysis.normText(col("text"))),
        Array.fill(16)(0.5), 7L, 16)).collect().length == 10)
      assert(Cdc.chunks(few13, "doc_id", "text").collect().nonEmpty)
      assert(Cdc.scrubDupChunks(few13, "doc_id", "text")
        .collect().length == 10)
      assert(few13.select(graft.functions.CdcF.cdcChunkHashes(
        TextAnalysis.wsTokens(TextAnalysis.normText(col("text"))),
        3, 8, 7L)).collect().length == 10)
      assert(TextAnalysis.compressionStats(few13, "doc_id", "text")
        .collect().length == 10)
      val bloom = few13
        .select(explode(graft.functions.CdcF.cdcChunkHashes(
          TextAnalysis.wsTokens(TextAnalysis.normText(col("text"))),
          3, 8, 7L)).as("h"))
        .agg(graft.functions.BloomFns.bloomAgg(col("h"), 1000, 8000))
        .head().getAs[Array[Byte]](0)
      val bc = graft.functions.BloomFns.broadcastBloom(spark, bloom)
      assert(few13.select(graft.functions.BloomFns.bloomProbeCount(bc,
        graft.functions.CdcF.cdcChunkHashes(
          TextAnalysis.wsTokens(TextAnalysis.normText(col("text"))),
          3, 8, 7L))).collect().forall(_.getInt(0) > 0))
      assert(few13.groupBy("lang")
        .agg(graft.functions.VecAggF.vecMean(
          array(col("n_chars").cast("double")), 6)).collect().nonEmpty)
      // unigram-LM tokenizer lattice family (segment / score / expected)
      val uniVocab = Seq("a" -> -4.0, "e" -> -4.0, "th" -> -1.0, "the" -> -1.5)
      assert(few13.select(graft.functions.UnigramF.segmentAll(
        TextAnalysis.wsTokens(TextAnalysis.normText(col("text"))),
        uniVocab.map(_._1), uniVocab.map(_._2), 8)).collect().length == 10)
      assert(few13.select(graft.functions.UnigramF.score(
        lit("the"), uniVocab.map(_._1), uniVocab.map(_._2), 8))
        .collect().length == 10)
      assert(few13.select(graft.functions.UnigramF.expected(
        lit("the"), uniVocab.map(_._1), uniVocab.map(_._2), 8))
        .collect().length == 10)
      // reference-bloom line scrub (native split/normalize/probe/rejoin;
      // a null bloom probes constant-false — codegen path still compiles)
      val lineBloom = graft.functions.BloomFns.broadcastBloom(spark, null)
      assert(few13.select(graft.functions.LineScrubF.bloomScrubLines(
        col("text"), "\n", lineBloom)).collect().length == 10)
      // Luhn card scrub
      assert(few13.select(graft.functions.ScrubCcF.scrubCc(col("text")))
        .collect().length == 10)
    } finally {
      prevFactory.fold(spark.conf.unset(factory))(spark.conf.set(factory, _))
      prevFallback.fold(spark.conf.unset(fallback))(spark.conf.set(fallback, _))
    }
  }

  test("hyperplane bands expression is bit-identical to the composed per-plane form") {
    import org.apache.spark.sql.functions._
    val planes = Similarity.hyperplanes(16, 64)
    // codegen path: full-column comparison against the composed signature
    val both = emb.select(
      Similarity.signature($"embedding", planes).as("composed"),
      element_at(graft.functions.HyperplaneF.bands($"embedding", 1, 16, planes), 1)
        .as("native"),
      graft.functions.HyperplaneF.bands($"embedding", 2, 8, planes).as("bands"))
      .collect()
    both.foreach { r =>
      val composed = r.getLong(0)
      assert(r.getLong(1) == composed)
      // two 8-bit bands must be the low/high byte split of the same bits
      val bands = r.getSeq[Long](2)
      assert((bands(0) | (bands(1) << 8)) == composed)
    }
    // interpreted path: eval the expression directly on the vec_id-0 row
    // and compare with the codegen'd column result for the same row
    val v = emb.filter($"vec_id" === 0).select($"embedding").head().getSeq[Float](0)
    val ad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      v.toArray[Float].map(x => x: Any))
    val expr = graft.functions.HyperplaneBands(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        ad, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      1, 16, planes.flatten.toArray, 64)
    val interpreted = expr.nullSafeEval(ad)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].getLong(0)
    val fromDf = emb.filter($"vec_id" === 0).select(
      element_at(graft.functions.HyperplaneF.bands($"embedding", 1, 16, planes), 1))
      .head().getLong(0)
    assert(interpreted == fromDf)
  }

  test("lsh bucket as partition column: probe reads are partition-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annshard").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // ingest-time bucketing: signature becomes the partition column
    Similarity.lshBuckets(emb, "vec_id", "embedding", nBits = 8, dim = 64)
      .write.partitionBy("bucket").parquet(s"$dir/by_bucket")
    val back = spark.read.parquet(s"$dir/by_bucket")
    val someBucket = back.select("bucket").head().getInt(0)
    val probe = back.filter($"bucket" === someBucket)
    val plan = probe.queryExecution.executedPlan.toString
    assert(probe.count() > 0)
    // the bucket predicate must prune partitions at the scan
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("bucket#") || plan.contains("bucket =")), plan.take(2000))
  }

  test("ivf list as partition column: probe reads are partition-pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfshard").toString
    val sample = emb.select($"embedding").limit(256).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val centroids = Similarity.kmeans(sample, 8)
    // ingest-time assignment: the IVF list becomes the partition column —
    // the same posture the scaladoc promises for 100 TB probe reads
    Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
      .write.partitionBy("list").parquet(s"$dir/by_list")
    val back = spark.read.parquet(s"$dir/by_list")
    val someList = back.select("list").head().getInt(0)
    val probe = back.filter($"list" === someList)
    val plan = probe.queryExecution.executedPlan.toString
    assert(probe.count() > 0)
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("list#") || plan.contains("list =")), plan.take(2000))
  }

  test("ivf lifecycle: atomic build, pruned probe, centroid round-trip, index equals ad-hoc") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivflife").toString
    val dir = s"$root/idx"
    val base = emb.select($"vec_id", $"embedding")
    val built = Similarity.ivfBuild(base, "vec_id", "embedding", dir,
      kLists = 8, trainSample = 256)
    // the staged-commit build leaves no staging residue next to the index
    assert(!new java.io.File(s"$root/.idx.staging").exists())
    // centroid sidecar round-trips the trained centroids exactly, in list order
    val back = Similarity.readCentroids(spark, dir)
    assert(back.length == built.length)
    built.zip(back).foreach { case (a, b) => assert(a.sameElements(b)) }
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // the REAL ivfQuery read of the built index is partition-pruned on `list`
    val probe = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(3)))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("list#") || plan.contains("list =")), plan.take(2000))
    // built-index probe ≡ ad-hoc ivfTopK at identical build/query params
    // (training is deterministic, so both paths pick the same lists)
    val viaIndex = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val adHoc = Ann.probe(Ann.Adhoc(base, "vec_id", "embedding",
        Ann.Build("ivf", kLists = 8, trainSample = 256)),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(3)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == adHoc)
    assert(viaIndex.nonEmpty && viaIndex.head._1 == 0L) // query is its own 1-NN
  }

  test("lsh index lifecycle: pruned probe plan, index equals ad-hoc, dim guard") {
    val root = java.nio.file.Files.createTempDirectory("graft-lshlife").toString
    val dir = s"$root/idx"
    val base = emb.select($"vec_id", $"embedding")
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // clique corpus: 10 exact copies of the query vector share its bucket,
    // so a radius-1 probe already has enough candidates — the enumerated
    // (partition-pruned) path, not the wide-radius fallback
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val clique = base.unionByName(planted)
    Similarity.lshBuild(clique, "vec_id", "embedding", dir, nBits = 16, dim = 64)
    assert(!new java.io.File(s"$root/.idx.staging").exists())
    val probe = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(5)))
    val plan = probe.queryExecution.executedPlan.toString
    // the layout column is the signature PREFIX (pband); the full-width
    // Hamming predicate then runs inside the pruned partitions
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("pband#") || plan.contains("pband =")), plan.take(2000))
    val viaIndex = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val adHoc = Ann.probe(Ann.Adhoc(clique, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(5)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == adHoc)
    assert(viaIndex.forall(_._2 == 1.0)) // the 11-clique is the whole top-10
    // natural corpus at the default minCandidates forces radius expansion
    // into the enumeration-capped fallback: results must STILL equal the
    // ad-hoc path (same candidate semantics, pruning honestly abandoned)
    val dir2 = s"$root/idx2"
    Similarity.lshBuild(base, "vec_id", "embedding", dir2, nBits = 16, dim = 64)
    val wide = Ann.probe(Ann.Dir(spark, dir2), Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wideAdHoc = Ann.probe(Ann.Adhoc(base, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(wide == wideAdHoc)
    // the sidecar pins the plane family: a wrong-dimension query is
    // rejected up front, never silently probed with mismatched planes
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir2), Ann.Probe(Ann.One(Seq(1.0, 2.0, 3.0)), Ann.TopK(5))))
  }

  test("filtered ANN: predicate pushes into the pruned read; probe widens until k eligible survive") {
    val root = java.nio.file.Files.createTempDirectory("graft-fann").toString
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // planted clique + a flag metadata column: evens eligible, odds not
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.select($"vec_id", $"embedding").unionByName(planted)
      .withColumn("flag", (col("vec_id") % 2).cast("int"))

    // ---- IVF ----
    val ivfDir = s"$root/ivf"
    Similarity.ivfBuild(corpus, "vec_id", "embedding", ivfDir,
      kLists = 8, trainSample = 256, metaCols = Seq("flag"))
    // the probe collects per widening round and returns a LOCAL frame
    // (one scoring pass per round — the batch variants' posture), so
    // the pruned plan is observed via a QueryExecutionListener capture
    // and the job bill via a SparkListener: a SATISFIED first round
    // costs exactly the jobs of ONE unfiltered single-pass probe (AQE
    // splits a pass into plan-dependent job counts, so the bill is
    // asserted relatively), and consuming the result adds ZERO jobs.
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jl = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    // listener posts are async — poll to a deadline before judging
    def awaitStable[A](read: => A): A = {
      var last = read; var stableMs = 0L
      val deadline = System.currentTimeMillis() + 10000
      while (stableMs < 500 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val cur = read
        if (cur == last) stableMs += 100 else { last = cur; stableMs = 0 }
      }
      last
    }
    // warm the memoized index meta so neither measured call pays it
    Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(3))).collect()
    spark.listenerManager.register(ql)
    spark.sparkContext.addSparkListener(jl)
    val (got, jobsFiltered, jobsConsume, jobsBaseline) =
      try {
        val j0 = awaitStable(jobs.get())
        val probe = Ann.probe(Ann.Dir(spark, ivfDir),
          Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(3)))
        val j1 = awaitStable(jobs.get())
        val rows = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val j2 = awaitStable(jobs.get())
        Ann.probe(Ann.Dir(spark, ivfDir),
          Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(3))).collect()
        val j3 = awaitStable(jobs.get())
        (rows, j1 - j0, j2 - j1, j3 - j2)
      } finally {
        spark.listenerManager.unregister(ql)
        spark.sparkContext.removeSparkListener(jl)
      }
    assert(jobsConsume == 0,
      s"consuming the local answer frame must launch no job, ran $jobsConsume")
    assert(jobsFiltered == jobsBaseline,
      s"a satisfied filtered probe must cost exactly one scoring pass " +
        s"($jobsBaseline jobs), ran $jobsFiltered")
    import scala.jdk.CollectionConverters._
    val planOk = plans.asScala.exists(p =>
      p.matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(flag,0\\).*") &&
        p.contains("PartitionFilters") &&
        (p.contains("list#") || p.contains("list =")))
    assert(planOk, "no captured probe plan showed the pushed predicate " +
      "and list pruning")
    // expected set is the closed-form filtered brute force: six even-id
    // clique members at cos 1.0, top-5 by (cos desc, id asc)
    assert(got == Seq(0L, 100002L, 100004L, 100006L, 100008L)
      .map(id => (id, 1.0)), s"got $got")

    // widening: a predicate keeping ONLY far-away rows (one specific
    // natural vector parity slice, excluding the whole clique) — the
    // first nprobe lists may hold < k eligible rows, the loop must
    // widen and still return the exact filtered brute force
    // (predicates address INDEX columns: id + the carried metadata)
    val selective = col("id") % 100 === 37L
    val eligible = corpus.filter(col("vec_id") % 100 === 37L)
    val want = Similarity.bruteForceTopK(eligible, "vec_id", "embedding", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotSel = Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(selective), tuning = Some(1)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotSel == want, s"widened probe $gotSel != brute $want")

    // append carries the metadata column automatically (re-derived from
    // the live index), so appended rows are filterable too
    val extra = emb.filter($"vec_id" === 0)
      .select(lit(200002L).as("vec_id"), $"embedding",
        lit(0).cast("int").as("flag"))
    Ann.append(extra, "vec_id", "embedding", ivfDir)
    // all 7 eligible clique members — the appended 200002 included —
    // now serve at cos 1.0
    val afterAppend = Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.One(q), Ann.TopK(7), filter = Some(col("flag") === 0), tuning = Some(3)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterAppend == Seq(0L, 100002L, 100004L, 100006L, 100008L,
      100010L, 200002L).map(id => (id, 1.0)), s"after append: $afterAppend")
    // a batch MISSING the metadata column is rejected loudly
    intercept[org.apache.spark.sql.AnalysisException](
      Ann.append(
        emb.filter($"vec_id" === 1).select($"vec_id", $"embedding"),
        "vec_id", "embedding", ivfDir))

    // ---- LSH ----
    val lshDir = s"$root/lsh"
    Similarity.lshBuild(corpus, "vec_id", "embedding", lshDir,
      nBits = 8, dim = 64, partitionBits = 4, metaCols = Seq("flag"))
    // LSH probes collect per round too — capture the executed plan via
    // the listener (the returned frame is a local relation)
    plans.clear()
    spark.listenerManager.register(ql)
    val lgot =
      try Ann.probe(Ann.Dir(spark, lshDir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(5)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      finally spark.listenerManager.unregister(ql)
    val lplanOk = awaitStable(plans.asScala.exists(_.matches(
      "(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(flag,0\\).*")))
    assert(lplanOk, "no captured LSH probe plan showed the pushed predicate")
    assert(lgot == Seq(0L, 100002L, 100004L, 100006L, 100008L)
      .map(id => (id, 1.0)), s"lsh got $lgot")
    // selective predicate widens the Hamming ball up to the full scan —
    // exact filtered brute force in the limit
    val lgotSel = Ann.probe(Ann.Dir(spark, lshDir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(selective), tuning = Some(5)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(lgotSel == want, s"lsh widened probe $lgotSel != brute $want")
    // reserved-name guard
    intercept[IllegalArgumentException](
      Similarity.lshBuild(corpus, "vec_id", "embedding", s"$root/bad",
        nBits = 8, dim = 64, metaCols = Seq("bucket")))
    // FILTERED RANGE (no widening — range has no k): both families
    // return exactly the filtered brute-force range at 0.99 (the even
    // clique slice; the clique is a guaranteed candidate, and the
    // predicate only removes rows)
    val wantRange = Similarity.bruteForceRange(
      corpus.filter(col("flag") === 0), "vec_id", "embedding", q, 0.99)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val ivfR = Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.One(q), Ann.Range(0.99), filter = Some(col("flag") === 0), tuning = Some(3)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // the ivf index additionally holds the row THIS test appended above
    assert(ivfR == wantRange + ((200002L, 1.0)),
      s"ivf filtered range: $ivfR vs $wantRange")
    val lshR = Ann.probe(Ann.Dir(spark, lshDir),
      Ann.Probe(Ann.One(q), Ann.Range(0.99), filter = Some(col("flag") === 0)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(lshR == wantRange, s"lsh filtered range: $lshR vs $wantRange")
  }

  test("batch filtered ANN equals per-query filtered probes; widening mixes per query") {
    val root = java.nio.file.Files.createTempDirectory("graft-fbatch").toString
    val qs = emb.filter($"vec_id" < 3).select($"vec_id", $"embedding")
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val planted = emb.filter($"vec_id" < 3)
      .select(col("vec_id").as("q"),
        explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select((lit(100000L) + col("q") * 100L + col("r")).as("vec_id"),
        $"embedding")
    val corpus = emb.select($"vec_id", $"embedding").unionByName(planted)
      .withColumn("flag", (col("vec_id") % 2).cast("int"))
    val ivfDir = s"$root/ivf"; val lshDir = s"$root/lsh"
    Similarity.ivfBuild(corpus, "vec_id", "embedding", ivfDir,
      kLists = 8, trainSample = 256, metaCols = Seq("flag"))
    Similarity.lshBuild(corpus, "vec_id", "embedding", lshDir,
      nBits = 8, dim = 64, partitionBits = 4, metaCols = Seq("flag"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy { case (qid, id, cos) => (qid, -cos, id) }
    for (pred <- Seq(col("flag") === 0, col("id") % 100 === 37L)) {
      // IVF: batch == per-query single filtered probe, row for row
      val ivfBatch = rows(Ann.probe(Ann.Dir(spark, ivfDir),
        Ann.Probe(Ann.Batch(qs), Ann.TopK(5), filter = Some(pred), tuning = Some(2))))
      val ivfSingle = qs.flatMap { case (qid, q) =>
        Ann.probe(Ann.Dir(spark, ivfDir),
          Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(pred), tuning = Some(2)))
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.sortBy { case (qid, id, cos) => (qid, -cos, id) }
      assert(ivfBatch == ivfSingle, s"ivf batch/single diverged under $pred")
      // LSH likewise
      val lshBatch = rows(Ann.probe(Ann.Dir(spark, lshDir),
        Ann.Probe(Ann.Batch(qs), Ann.TopK(5), filter = Some(pred), tuning = Some(5))))
      val lshSingle = qs.flatMap { case (qid, q) =>
        Ann.probe(Ann.Dir(spark, lshDir),
          Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(pred), tuning = Some(5)))
          .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
      }.sortBy { case (qid, id, cos) => (qid, -cos, id) }
      assert(lshBatch == lshSingle, s"lsh batch/single diverged under $pred")
    }
    // the selective predicate widens every query to the exact filtered
    // scan: batch answers equal filtered brute force per query
    val selective = col("id") % 100 === 37L
    val eligible = corpus.filter(col("vec_id") % 100 === 37L)
    val want = qs.flatMap { case (qid, q) =>
      Similarity.bruteForceTopK(eligible, "vec_id", "embedding", q, 5)
        .collect().map(r => (qid, r.getLong(0), r.getDouble(1)))
    }.sortBy { case (qid, id, cos) => (qid, -cos, id) }
    assert(rows(Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.Batch(qs), Ann.TopK(5), filter = Some(selective), tuning = Some(1)))) == want)
    assert(rows(Ann.probe(Ann.Dir(spark, lshDir),
      Ann.Probe(Ann.Batch(qs), Ann.TopK(5), filter = Some(selective), tuning = Some(5)))) == want)
    // the permissive predicate satisfies at the first probe: per query
    // the even-id clique slice ties at 1.0 (query 1's own odd row is
    // excluded, so its clique slice is exactly 5)
    val fast = rows(Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.Batch(qs), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(2))))
    assert(fast.count(_._3 == 1.0) == 15, s"cliques must fill all 15 slots: $fast")
  }

  test("DFL annTopKFiltered: predicate attrs become index metadata; methods agree with filtered brute force") {
    import graft.dfl.{DflFrame, DflParseException}
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val corpus = emb.select($"vec_id", $"embedding")
      .withColumn("flag", (col("vec_id") % 2).cast("int"))
    val want = Similarity.bruteForceTopK(
      corpus.filter(col("flag") === 0), "vec_id", "embedding", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // exact method: pre-filter + brute force
    val gotExact = DflFrame.pipeline(corpus,
      "annTopKFiltered(@, '@vec_id', '@embedding', $q, 5, '@flag == 0', 'exact')",
      Map("q" -> q)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotExact == want)
    // ivf on an in-memory corpus takes the ad-hoc pre-filtered path —
    // the query vector is its own 1-NN either way
    val gotIvf = DflFrame.pipeline(corpus,
      "annTopKFiltered(@, '@vec_id', '@embedding', $q, 5, '@flag == 0', 'ivf')",
      Map("q" -> q)).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(gotIvf.head == (0L, 1.0) && gotIvf.length == 5)
    assert(gotIvf.forall { case (id, _) => id % 2 == 0 })
    // a predicate naming a column the frame lacks fails loudly
    intercept[org.apache.spark.sql.AnalysisException](DflFrame.pipeline(corpus,
      "annTopKFiltered(@, '@vec_id', '@embedding', $q, 5, '@nope == 0')",
      Map("q" -> q)))
    // arity guard
    intercept[DflParseException](DflFrame.pipeline(corpus,
      "annTopKFiltered(@, '@vec_id', '@embedding', $q)", Map("q" -> q)))
  }

  test("ivfQueryBatch equals per-query ivfQuery on the same built index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfbatch").toString + "/idx"
    Similarity.ivfBuild(emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      dir, kLists = 8, trainSample = 256)
    val queries = emb.filter($"vec_id" < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(7), tuning = Some(3)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(7), tuning = Some(3)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      // the per-row membership filter keeps each query to ITS probe
      // lists, so batching changes nothing about any query's answer
      assert(batch(qid) == single, s"query $qid")
    }
    // ragged or empty batches are rejected up front
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.Batch(Seq.empty), Ann.TopK(3))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.Batch(Seq(1L -> Seq(1.0), 2L -> Seq(1.0, 2.0))), Ann.TopK(3))))
    // wrong-dim queries are rejected against the index's OWN dim,
    // mirroring lshQueryBatch: a LONGER query would otherwise throw
    // ArrayIndexOutOfBounds inside centroid selection (an error class
    // serving layers don't treat as "bad input"), a SHORTER one would
    // silently truncate the distance loop and return garbage lists
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.Batch(Seq(1L -> Seq.fill(65)(0.1))), Ann.TopK(3))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.Batch(Seq(1L -> Seq(1.0, 2.0))), Ann.TopK(3))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(Seq(1.0, 2.0)), Ann.TopK(3))))
    // the serving layers' pre-check reads the same memoized meta
    assert(Ann.dim(spark, dir) == 64)
    // one pruned union read feeding the bounded-heap aggregate — never a
    // per-query window sort
    val plan = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(7), tuning = Some(3)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("topk_by_score") &&
      !plan.contains("Window"), plan.take(2000))
  }

  test("ivfTopKIndexed: cache hit is identical; changed corpus under the same key rebuilds") {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-ivfcorpus").toString
    val key = s"llmspec-ivf-cache-$corpusDir" // unique per run, shared across calls
    emb.filter($"vec_id" < 100).select($"vec_id", $"embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def topk() = Ann.probe(Ann.Cached(spark.read.parquet(corpusDir), "vec_id", "embedding", key,
        Ann.Build("ivf", kLists = 4, trainSample = 64)),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(2)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val r1 = topk()
    assert(r1.nonEmpty && r1.forall(_._1 < 100L))
    val r2 = topk() // cache hit: same corpus, same key, same params
    assert(r2 == r1)
    // regenerate the corpus UNDER THE SAME PATH with disjoint ids: the
    // fingerprint stamp changes, so the same key must serve fresh results
    emb.filter($"vec_id" >= 100 && $"vec_id" < 200).select($"vec_id", $"embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val r3 = topk()
    assert(r3.nonEmpty && r3.forall(id => id._1 >= 100L && id._1 < 200L),
      s"stale index served: ${r3.map(_._1).mkString(",")}")
  }

  test("resize rewrites payload and typed metadata together") {
    val media = Multimodal.asMediaTable(docs.limit(5), "doc_id", "text", "image")
    val out = Multimodal.resize(spark, media, 8, 4)
    assert(out.count() == 5)
    val r = out.filter($"id" === 0).head()
    val meta = r.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getAs[Int]("width") == 8 && meta.getAs[Int]("height") == 4)
    val payload = r.getAs[Array[Byte]]("payload")
    assert(meta.getAs[Long]("n_bytes") == payload.length.toLong)
    assert(payload.length <= 8 * 4 + 1) // decimated to ~the w*h byte budget
  }

  test("real PNG payloads decode to true dimensions; resize really resamples") {
    // synthesize a genuine 16x9 PNG via ImageIO's WRITE path; the decoder
    // under test reads it back through its own path
    val img = new java.awt.image.BufferedImage(
      16, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 9) img.setRGB(x, y, ((x * 16 + y) * 7) << 8)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val junk = "not an image".getBytes("UTF-8")
    val media = Seq((0L, png, "image"), (1L, junk, "image"))
      .toDF("id", "payload", "kind")
    val out = Multimodal.decodeFeatures(spark, media).collect().sortBy(_.id)
    assert(out(0).width.contains(16) && out(0).height.contains(9))
    assert(out(0).features.length == 8 &&
      out(0).features.forall(f => f >= 0.0f && f <= 1.0f))
    // undecodable bytes fall back to the stub: null dims, md5 still real
    assert(out(1).width.isEmpty && out(1).height.isEmpty)
    val expectedMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(junk).map("%02x".format(_)).mkString
    assert(out(1).checksum == expectedMd5)
    // resize of a real image is a real resample: output decodes at 8x4
    val resized = Multimodal.resize(spark, media, 8, 4).filter($"id" === 0).head()
    val rimg = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.getAs[Array[Byte]]("payload")))
    assert(rimg.getWidth == 8 && rimg.getHeight == 4)
  }

  test("perceptual image dedup: dHash survives re-encode/brightness/mild-jpeg; imagePairs bands, never all-pairs") {
    // a smooth gradient image with strong horizontal structure — the
    // regime dHash is built for (adjacent-pixel ORDER is the signal)
    def render(w: Int, h: Int, shift: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val g = math.min(255, (x * 200) / w + (y * 40) / h + shift)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    def bytes(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val base = bytes(render(64, 48, 0), "png")
    val sig = Multimodal.dHashBits(base).get
    // byte-identical copy: same bits trivially
    assert(Multimodal.dHashBits(base.clone()).contains(sig))
    // lossless re-encode in a different container: identical bits
    assert(Multimodal.dHashBits(bytes(render(64, 48, 0), "bmp")).contains(sig))
    // uniform brightness shift: identical bits (order preserved)
    assert(Multimodal.dHashBits(bytes(render(64, 48, 8), "png")).contains(sig))
    // mild JPEG requantization of the smooth gradient: within the
    // default banding radius (hamming <= 3)
    val jpeg = bytes(render(64, 48, 0), "jpg")
    val jSig = Multimodal.dHashBits(jpeg).get
    assert(java.lang.Long.bitCount(sig ^ jSig) <= 3,
      s"jpeg drifted ${java.lang.Long.bitCount(sig ^ jSig)} bits")
    // aHash: same invariances for shift/re-encode
    val aSig = Multimodal.aHashBits(base).get
    assert(Multimodal.aHashBits(bytes(render(64, 48, 8), "bmp")).contains(aSig))
    // pHash: the DC-excluded DCT hash is EXACTLY shift/re-encode
    // invariant (a constant moves only the excluded DC term) and the
    // most JPEG-robust of the three
    val pSig = Multimodal.pHashBits(base).get
    assert(Multimodal.pHashBits(bytes(render(64, 48, 8), "bmp")).contains(pSig))
    val pJpeg = Multimodal.pHashBits(jpeg).get
    assert(java.lang.Long.bitCount(pSig ^ pJpeg) <= 3,
      s"phash jpeg drifted ${java.lang.Long.bitCount(pSig ^ pJpeg)} bits")
    assert(Multimodal.pHashBits("junk".getBytes("UTF-8")).isEmpty)
    // undecodable bytes have no perceptual identity
    assert(Multimodal.dHashBits("junk".getBytes("UTF-8")).isEmpty)
    // imagePairs end-to-end: png + its jpeg requantization pair up;
    // a structurally different image (vertical gradient) does not
    def renderV(shift: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 64; y <- 0 until 48) {
        val g = math.min(255, 220 - (y * 200) / 48 + shift)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      img
    }
    // the vertical gradient is structurally different under pHash too
    assert(java.lang.Long.bitCount(
      pSig ^ Multimodal.pHashBits(bytes(renderV(0), "png")).get) > 3)
    val media = Seq(
      (1L, base), (2L, jpeg), (3L, bytes(renderV(0), "png")),
      (4L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    val pairs = Dedup.imagePairs(media)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"pairs: $pairs")
    // the plan is banded: a chunk-equality join, no cartesian product
    val plan = Dedup.imagePairs(media).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // CROSS-corpus: left (base png + unrelated vertical) vs right (the
    // base's jpeg re-render) — only left-right pairs form, never
    // left-left (1 and its jpeg sit in ONE corpus on the self-join path
    // but 1,4 here share no right match), and survivorsAgainst drops
    // exactly the matched left row
    val left = Seq((1L, base), (3L, bytes(renderV(0), "png")),
      (4L, "junk".getBytes("UTF-8"))).toDF("id", "payload")
    val right = Seq((100L, jpeg)).toDF("id", "payload")
    val xp = Dedup.imagePairsAgainst(left, right)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xp == Set((1L, 100L)), s"cross pairs: $xp")
    val surv = Dedup.survivorsAgainst(left, "id",
      Dedup.imagePairsAgainst(left, right))
      .collect().map(_.getLong(0)).toSet
    assert(surv == Set(3L, 4L), s"cross survivors: $surv")
  }

  test("probeMeta decodes real WAV/AIFF sample rates; undecodable audio keeps the fallback") {
    // synthesize genuine containers via the JDK's WRITE path; probeMeta
    // reads them back through its own header-sniffing path
    def container(tpe: javax.sound.sampled.AudioFileFormat.Type, rate: Float,
                  channels: Int, bigEndian: Boolean): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true, bigEndian)
      val frames = 64
      val pcm = new Array[Byte](2 * channels * frames)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, tpe, bos)
      bos.toByteArray
    }
    val wav = container(javax.sound.sampled.AudioFileFormat.Type.WAVE, 22050f, 1, bigEndian = false)
    val aiff = container(javax.sound.sampled.AudioFileFormat.Type.AIFF, 44100f, 2, bigEndian = true)
    val junk = "definitely not audio".getBytes("UTF-8")
    val media = Seq(
      (0L, wav, "audio"), (1L, aiff, "audio"), (2L, junk, "audio"), (3L, wav, "video"),
    ).toDF("id", "payload", "kind")
    val out = Multimodal.probeMeta(spark, media).collect()
      .map(r => r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("meta")).toMap
    def rate(r: org.apache.spark.sql.Row): Option[Int] =
      if (r.isNullAt(3)) None else Some(r.getInt(3))
    assert(rate(out(0L)).contains(22050))
    assert(rate(out(1L)).contains(44100))
    assert(rate(out(2L)).isEmpty, "junk bytes must keep the null-rate fallback")
    assert(rate(out(3L)).isEmpty, "video kind is never probed as audio")
    assert(out(0L).getLong(4) == wav.length.toLong) // n_bytes stays real
    // image kinds still get true dims through the same operator
    val img = new java.awt.image.BufferedImage(
      5, 3, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos2)
    val withImage = Seq((9L, bos2.toByteArray, "image")).toDF("id", "payload", "kind")
    val m9 = Multimodal.probeMeta(spark, withImage).head()
      .getAs[org.apache.spark.sql.Row]("meta")
    assert(m9.getInt(1) == 5 && m9.getInt(2) == 3)
  }

  test("probeMetaOnly drops payload from the funnel output but probes identically") {
    val img = new java.awt.image.BufferedImage(
      7, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(
      (0L, bos.toByteArray, "image"),
      (1L, "junk".getBytes("UTF-8"), "video"),
    ).toDF("id", "payload", "kind")
    val out = Multimodal.probeMetaOnly(spark, media)
    // the whole point: no payload column anywhere in the output schema —
    // a metadata sweep must not ship blobs through the output encoder
    assert(!out.schema.fieldNames.contains("payload"))
    assert(out.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.sameElements(Multimodal.mediaMetaSchema.fieldNames))
    val rows = out.collect().map(r =>
      r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("meta")).toMap
    assert(rows(0L).getInt(1) == 7 && rows(0L).getInt(2) == 4) // real header dims
    assert(rows(1L).isNullAt(1) && rows(1L).getLong(4) == 4L)  // fallback + real n_bytes
    // probe results agree with the payload-carrying variant row for row
    val full = Multimodal.probeMeta(spark, media).collect().map(r =>
      r.getLong(0) -> r.getAs[org.apache.spark.sql.Row]("meta")).toMap
    rows.foreach { case (id, m) => assert(m == full(id)) }
  }

  test("frame sampling explodes one blob into N frame rows") {
    val media = Multimodal.asMediaTable(docs.limit(3), "doc_id", "text", "video")
    val frames = Multimodal.sampleFrames(media, stride = 2)
    assert(frames.count() >= 3)
    val r = frames.filter($"id" === 0 && $"frame_idx" === 0).head()
    assert(r.getAs[Array[Byte]]("frame_bytes").length == 16)
  }

  test("ann recall gates: ivf and lsh defaults reach recall@10 >= 0.8 on the natural corpus") {
    // the approximation-quality CONTRACT for the shipped defaults (ivf:
    // nprobe=8 = kLists/2; lsh: 16 bits, minCandidates=100): measured on
    // natural sf0.01 queries, not planted cliques — if a future change
    // degrades either default's recall, this gate trips
    val emb01 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-recallgate").toString
    Similarity.ivfBuild(emb01, "vec_id", "embedding", s"$root/ivf")
    Similarity.lshBuild(emb01, "vec_id", "embedding", s"$root/lsh")
    val queries = emb01.filter($"vec_id" < 10)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
    // ground truth is family-independent: compute the 10 brute-force
    // scans once, not once per gated family
    val truths = queries.map { case (_, q) =>
      q -> Similarity.bruteForceTopK(emb01, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
    }
    def gate(name: String)(probe: Seq[Double] => org.apache.spark.sql.DataFrame): Unit = {
      val recalls = truths.map { case (q, truth) =>
        val approx = probe(q).collect().map(_.getLong(0)).toSet
        truth.count(approx).toDouble / truth.size
      }
      val mean = recalls.sum / recalls.length
      assert(mean >= 0.8, s"$name default recall@10 $mean < 0.8 (${recalls.mkString(",")})")
    }
    gate("ivf")(q => Ann.probe(Ann.Dir(spark, s"$root/ivf"), Ann.Probe(Ann.One(q), Ann.TopK(10))))
    gate("lsh")(q => Ann.probe(Ann.Dir(spark, s"$root/lsh"), Ann.Probe(Ann.One(q), Ann.TopK(10))))
  }

  test("warm lsh probe plans with zero Spark jobs; histogram radius equals counting-loop radius") {
    val root = java.nio.file.Files.createTempDirectory("graft-lshoccup").toString
    val dir = s"$root/idx"
    val base = emb.select($"vec_id", $"embedding")
    Similarity.lshBuild(base, "vec_id", "embedding", dir, nBits = 16, dim = 64)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // first probe loads + memoizes the meta/occupancy sidecars
    val r1 = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // a WARM probe picks its radius driver-side from the histogram: the
    // lshQuery call itself (plan construction) must launch NO Spark job —
    // the old counting loop ran one limit().count() job per radius step
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val probe =
      try {
        val p = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(10)))
        Thread.sleep(1000) // listener bus is async; jobs (if any) already ran
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"warm lshQuery planning launched ${jobs.get()} Spark jobs; expected 0")
    // and the histogram-chosen radius reproduces the counting loop's
    // candidate set: results identical to the ad-hoc path
    val viaIndex = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == r1)
    val adHoc = Ann.probe(Ann.Adhoc(base, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == adHoc)
  }

  test("warm ivf probe plans with zero Spark jobs (memoized centroids + vectors)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfwarm").toString + "/idx"
    val base = emb.select($"vec_id", $"embedding")
    Similarity.ivfBuild(base, "vec_id", "embedding", dir, kLists = 8, trainSample = 256)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val r1 = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(3)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // warm probes must not re-read the centroid sidecar (a Spark job per
    // probe before memoization) nor re-resolve the vectors parquet
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val probe =
      try {
        val p = Ann.probe(Ann.Dir(spark, dir),
          Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(3)))
        Thread.sleep(1000)
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"warm ivfQuery planning launched ${jobs.get()} Spark jobs; expected 0")
    val r2 = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(r2 == r1)
  }

  test("lshQueryBatch equals per-query lshQuery on the same built index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lshbatch").toString + "/idx"
    val base = emb.select($"vec_id", $"embedding")
    Similarity.lshBuild(base, "vec_id", "embedding", dir, nBits = 16, dim = 64)
    val queries = emb.filter($"vec_id" < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(7), tuning = Some(20)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(7), tuning = Some(20)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      // same histogram-chosen radius per query, hence same candidates —
      // batching changes nothing about any query's answer
      assert(batch(qid) == single, s"query $qid")
    }
    // chunked ≡ unchunked, and degenerate batches are rejected up front
    val chunked = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(7), tuning = Some(20), chunkSize = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(chunked == batch)
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.Batch(Seq.empty), Ann.TopK(3))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.Batch(Seq(1L -> Seq(1.0), 2L -> Seq(1.0, 2.0))), Ann.TopK(3))))
    assert(Ann.dim(spark, dir) == 64)
    // one pruned union read feeding the bounded-heap aggregate — never a
    // per-query window sort
    val plan = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(7), tuning = Some(20)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("topk_by_score") &&
      !plan.contains("Window"), plan.take(2000))
  }

  test("batch chunking: chunked plans return exactly the unchunked results") {
    val queries = emb.filter($"vec_id" < 7)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // brute force: 7 queries through 3-query chunks ≡ one plan
    val one = norm(Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
      queries, 5).collect())
    val chunked = norm(Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding",
      queries, 5, chunkSize = 3).collect())
    assert(chunked == one)
    // ivf: same equivalence on a built index
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfchunk").toString + "/idx"
    Similarity.ivfBuild(emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      dir, kLists = 8, trainSample = 256)
    val oneIvf = norm(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), tuning = Some(3))).collect())
    val chunkedIvf = norm(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), tuning = Some(3), chunkSize = 2)).collect())
    assert(chunkedIvf == oneIvf)
  }

  test("degenerate query vectors in a batch yield no rows, matching the per-query paths") {
    val goodQ = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val zeroQ = Seq.fill(64)(0.0)            // zero norm → NULL cosines
    val nanQ = goodQ.updated(0, Double.NaN)  // NaN element → NaN cosines
    val queries = Seq(0L -> goodQ, 1L -> zeroQ, 2L -> nanQ)
    val brute = Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", queries, 5)
      .collect().map(_.getLong(0)).toSeq
    // only the good query returns hits; NULL/NaN never reach the heap
    // (which would otherwise rank NaN above every real score)
    assert(brute.nonEmpty && brute.forall(_ == 0L), brute.mkString(","))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfdegen").toString + "/idx"
    Similarity.ivfBuild(emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      dir, kLists = 8, trainSample = 256)
    val ivf = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), tuning = Some(3)))
      .collect().map(_.getLong(0)).toSeq
    assert(ivf.nonEmpty && ivf.forall(_ == 0L), ivf.mkString(","))
  }

  test("staged commit over a live index: rename-aside swap leaves no residue and serves the new build") {
    val root = java.nio.file.Files.createTempDirectory("graft-swap").toString
    val dir = s"$root/idx"
    val first = emb.filter($"vec_id" < 20).select($"vec_id", $"embedding")
    Similarity.lshBuild(first, "vec_id", "embedding", dir, nBits = 8, dim = 64)
    // rebuild IN PLACE over the existing index (the explicit-dir,
    // single-writer contract): previous index renamed aside during the
    // swap, deleted after — neither .staging nor .old residue survives
    val second = emb.filter($"vec_id" >= 20 && $"vec_id" < 40)
      .select($"vec_id", $"embedding")
    Similarity.lshBuild(second, "vec_id", "embedding", dir, nBits = 8, dim = 64)
    assert(!new java.io.File(s"$root/.idx.staging").exists())
    assert(!new java.io.File(s"$root/.idx.old").exists())
    val q = emb.filter($"vec_id" === 25).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val got = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(3)))
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && got.forall(id => id >= 20 && id < 40),
      s"swap served stale ids: ${got.mkString(",")}")
  }

  test("lshAppend: build + append equals a full rebuild, probe-for-probe") {
    val root = java.nio.file.Files.createTempDirectory("graft-lshappend").toString
    val a = emb.filter($"vec_id" < 150).select($"vec_id", $"embedding")
    val b = emb.filter($"vec_id" >= 150).select($"vec_id", $"embedding")
    Similarity.lshBuild(a, "vec_id", "embedding", s"$root/inc", nBits = 16, dim = 64)
    Ann.append(b, "vec_id", "embedding", s"$root/inc")
    Similarity.lshBuild(emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      s"$root/full", nBits = 16, dim = 64)
    // identical occupancy histograms → identical radius decisions;
    // identical vector multisets → identical candidate sets and reranks
    def occ(d: String) = spark.read.parquet(s"$d/occupancy")
      .collect().map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("count"))).toSet
    assert(occ(s"$root/inc") == occ(s"$root/full"))
    assert(spark.read.parquet(s"$root/inc/vectors").count() == emb.count())
    // probes row-identical across queries from both the base and the
    // appended half (appended rows must be FOUND: 200's own vector first)
    Seq(0L, 42L, 150L, 199L).foreach { qid =>
      val q = emb.filter($"vec_id" === qid).select($"embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val inc = Ann.probe(Ann.Dir(spark, s"$root/inc"), Ann.Probe(Ann.One(q), Ann.TopK(7)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val full = Ann.probe(Ann.Dir(spark, s"$root/full"), Ann.Probe(Ann.One(q), Ann.TopK(7)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(inc == full, s"query $qid diverged after append")
      assert(inc.head == ((qid, 1.0)), s"query $qid must find itself")
    }
    // batch probe agrees too (shared radius decisions from the merged
    // histogram)
    val queries = Seq(3L, 160L).map { qid =>
      qid -> emb.filter($"vec_id" === qid).select($"embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
    }
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    assert(grouped(Ann.probe(Ann.Dir(spark, s"$root/inc"),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5)))) ==
      grouped(Ann.probe(Ann.Dir(spark, s"$root/full"),
        Ann.Probe(Ann.Batch(queries), Ann.TopK(5)))))
    // appending a mismatched vector type is rejected before any write
    intercept[IllegalArgumentException](Ann.append(
      emb.select($"vec_id", $"embedding".cast("array<double>").as("embedding")),
      "vec_id", "embedding", s"$root/inc"))
  }

  test("ivfAppend: appended rows are probed against the frozen centroids") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivfappend").toString
    val dir = s"$root/idx"
    val base = emb.filter($"vec_id" < 180).select($"vec_id", $"embedding")
    Similarity.ivfBuild(base, "vec_id", "embedding", dir,
      kLists = 8, trainSample = 256)
    val centroidsBefore = Similarity.readCentroids(spark, dir)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // append the tail of the corpus plus planted exact copies of the
    // query vector under fresh ids — the clearest recall oracle: copies
    // land in the query's OWN nearest list, so any nprobe >= 1 finds them
    val planted = Seq(9001L, 9002L, 9003L).toDF("vec_id")
      .withColumn("embedding",
        typedLit(q.map(_.toFloat)).cast("array<float>"))
    Ann.append(
      emb.filter($"vec_id" >= 180).select($"vec_id", $"embedding")
        .unionByName(planted),
      "vec_id", "embedding", dir)
    // the coarse quantizer is untouched
    assert(Similarity.readCentroids(spark, dir).map(_.toSeq).toSeq ==
      centroidsBefore.map(_.toSeq).toSeq)
    val hits = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(2)))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(Set(0L, 9001L, 9002L, 9003L)
        .subsetOf(hits.filter(_._2 == 1.0).map(_._1).toSet),
      s"planted appended duplicates not all found: ${hits.mkString(",")}")
    // batch path sees them through the same pruned read
    val batchHits = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(Seq(0L -> q.toSeq)), Ann.TopK(5), tuning = Some(2))).collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(Set(0L, 9001L, 9002L, 9003L)
      .subsetOf(batchHits.filter(_._2 == 1.0).map(_._1).toSet))
    // list stats cover every appended row: counts sum to the grown corpus
    assert(Similarity.ivfListStats(spark, dir)
      .agg(sum("count")).head().getLong(0) == emb.count() + 3)
  }

  test("indexed cache appends in place for a grown corpus instead of retraining") {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-growcorpus").toString
    val idxBase = java.nio.file.Files.createTempDirectory("graft-growbase").toString
    val key = s"llmspec-append-cache-$corpusDir"
    // 4 data files at the full build: the append below adds 1 (5 <= 4*1.5,
    // appendable); the later 8-file append crosses the retrain threshold
    emb.filter($"vec_id" < 150).select($"vec_id", $"embedding")
      .repartition(4).write.mode("overwrite").parquet(corpusDir)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def topk() = Ann.probe(Ann.Cached(spark.read.parquet(corpusDir), "vec_id", "embedding", key,
        Ann.Build("ivf", kLists = 4, trainSample = 64)),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(2)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def idxDirs() = new java.io.File(idxBase).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("idx-")).map(_.getName)
    spark.conf.set("graft.ivf.indexBase", idxBase)
    try {
      val r1 = topk()
      assert(r1.head == ((0L, 1.0)) && idxDirs().length == 1)
      val firstDir = idxDirs().head
      // grow the corpus IN PLACE: planted exact copies of q under new ids
      // arrive as appended parquet files — the daily-ingest shape
      Seq(9001L, 9002L).toDF("vec_id")
        .withColumn("embedding", typedLit(q.map(_.toFloat)).cast("array<float>"))
        .coalesce(1).write.mode("append").parquet(corpusDir)
      val r2 = topk()
      // appended rows are served...
      assert(Set(0L, 9001L, 9002L)
          .subsetOf(r2.filter(_._2 == 1.0).map(_._1).toSet),
        s"appended rows not served: $r2")
      // ...by the SAME index dir, appended in place — a retrain would have
      // landed a second fingerprint-stamped dir
      assert(idxDirs().toSeq == Seq(firstDir),
        s"expected an in-place append, got dirs ${idxDirs().mkString(",")}")
      // an unchanged corpus stays a pure cache hit
      assert(topk() == r2 && idxDirs().length == 1)
      // growth past the retrain threshold (file count > 1.5x the last
      // full build) forces a fresh training run in a NEW stamped dir
      emb.filter($"vec_id" >= 150).select($"vec_id", $"embedding")
        .repartition(8).write.mode("append").parquet(corpusDir)
      topk()
      assert(idxDirs().length == 2,
        s"expected a threshold retrain, got dirs ${idxDirs().mkString(",")}")
    } finally spark.conf.unset("graft.ivf.indexBase")
  }

  // ---------- append crash/retry safety ----------

  private def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) f.listFiles().foreach(c => rmrf(c.getPath))
    f.delete(); ()
  }

  private def touch(p: String): Unit = {
    new java.io.File(p).getParentFile.mkdirs()
    new java.io.File(p).createNewFile(); ()
  }

  test("a replayed file-backed append is a no-op (idempotent by batch id)") {
    val root = java.nio.file.Files.createTempDirectory("graft-appidem").toString
    val dir = s"$root/idx"
    emb.filter($"vec_id" < 150).select($"vec_id", $"embedding")
      .write.parquet(s"$root/batchB") // file-backed batch → deterministic id
    val bDf = spark.read.parquet(s"$root/batchB")
    Similarity.lshBuild(emb.filter($"vec_id" >= 150).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nBits = 16, dim = 64)
    Ann.append(bDf, "vec_id", "embedding", dir)
    val count1 = spark.read.parquet(s"$dir/vectors").count()
    val occ1 = spark.read.parquet(s"$dir/occupancy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(count1 == emb.count())
    // the retry shape: the SAME file-backed batch appended again — the
    // durable _append-<id> marker makes it a no-op, never a double-append
    Ann.append(bDf, "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == count1)
    assert(spark.read.parquet(s"$dir/occupancy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == occ1)
    // same contract on the IVF side
    val ivfDir = s"$root/ivf"
    Similarity.ivfBuild(emb.filter($"vec_id" >= 150).select($"vec_id", $"embedding"),
      "vec_id", "embedding", ivfDir, kLists = 4, trainSample = 64)
    Ann.append(bDf, "vec_id", "embedding", ivfDir)
    Ann.append(bDf, "vec_id", "embedding", ivfDir)
    assert(spark.read.parquet(s"$ivfDir/vectors").count() == emb.count())
  }

  test("an explicit appendId makes in-memory appends replay-safe; distinct ids append distinctly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-appid").toString
    val dir = s"$root/idx"
    Similarity.lshBuild(emb.filter($"vec_id" < 400).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nBits = 16, dim = 64)
    // an IN-MEMORY batch (no backing files → the default identity would
    // be a fresh UUID per call, and a replay would double-append); the
    // caller-supplied id is the streaming-ingest shape: md5(ckpt#batchId)
    val rows = emb.filter($"vec_id" >= 400 && $"vec_id" < 450)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val inMem = rows.toDF("vec_id", "embedding")
    Ann.append(inMem, "vec_id", "embedding", dir, appendId = Some("batch7"))
    val count1 = spark.read.parquet(s"$dir/vectors").count()
    assert(count1 == 450L)
    // the replay: SAME logical batch, same id → no-op
    Ann.append(inMem, "vec_id", "embedding", dir, appendId = Some("batch7"))
    assert(spark.read.parquet(s"$dir/vectors").count() == count1)
    // a genuinely new batch under a new id still lands
    val rows2 = emb.filter($"vec_id" >= 450 && $"vec_id" < 460)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    Ann.append(rows2.toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir, appendId = Some("batch8"))
    assert(spark.read.parquet(s"$dir/vectors").count() == 460L)
  }

  test("an empty append batch is a no-op, not a crash") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-appempty").toString
    val dir = s"$root/idx"
    Similarity.lshBuild(emb.select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nBits = 16, dim = 64)
    val before = spark.read.parquet(s"$dir/vectors").count()
    val occBefore = spark.read.parquet(s"$dir/occupancy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the ingest shape: a micro-batch whose rows were all filtered out
    // (or an empty source file) still reaches the append — the staged
    // write emits zero part files, and the delta read-back must not die
    // trying to infer a schema from a footerless directory
    val empty = emb.filter($"vec_id" < 0).select($"vec_id", $"embedding")
    Ann.append(empty, "vec_id", "embedding", dir, appendId = Some("e1"))
    assert(spark.read.parquet(s"$dir/vectors").count() == before)
    assert(spark.read.parquet(s"$dir/occupancy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == occBefore)
    // and the index still probes
    val q = emb.filter($"vec_id" === 3).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    assert(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(3))).collect().head.getLong(0) == 3L)
    // same on the IVF side
    val ivfDir = s"$root/ivf"
    Similarity.ivfBuild(emb.select($"vec_id", $"embedding"),
      "vec_id", "embedding", ivfDir, kLists = 4, trainSample = 64)
    Ann.append(empty, "vec_id", "embedding", ivfDir, appendId = Some("e2"))
    assert(spark.read.parquet(s"$ivfDir/vectors").count() == before)
  }

  test("append crash windows: a retried half-committed append neither double-appends nor double-merges") {
    val root = java.nio.file.Files.createTempDirectory("graft-appcrash").toString
    val dir = s"$root/idx"
    emb.filter($"vec_id" >= 150).select($"vec_id", $"embedding")
      .write.parquet(s"$root/batchB")
    val bDf = spark.read.parquet(s"$root/batchB")
    val id = Similarity.appendBatchId(bDf)
    Similarity.lshBuild(emb.filter($"vec_id" < 150).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nBits = 16, dim = 64)
    def occSet() = spark.read.parquet(s"$dir/occupancy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val preOcc = occSet()
    Ann.append(bDf, "vec_id", "embedding", dir)
    val postOcc = occSet()
    val postCount = spark.read.parquet(s"$dir/vectors").count()
    assert(postCount == emb.count())
    // the batch's per-bucket delta, as the staged append persists it
    val delta = Similarity.lshBuckets(bDf, "vec_id", "embedding", 16, 64)
      .filter($"bucket".isNotNull).groupBy("bucket").count()

    // WINDOW 1 — crash AFTER the part-file moves, BEFORE the occupancy
    // merge: vectors live, occupancy stale, staging holds _COMMITTING +
    // the delta, no applied marker. (This is exactly the state the old
    // mode('append') code turned into a double-append on retry.)
    rmrf(s"$dir/vectors/_append-$id")
    rmrf(s"$dir/occupancy")
    import spark.implicits._
    preOcc.toSeq.toDF("bucket", "count")
      .coalesce(1).write.parquet(s"$dir/occupancy")
    delta.coalesce(1).write.parquet(s"$dir/.append-$id/delta")
    touch(s"$dir/.append-$id/_COMMITTING")
    Ann.append(bDf, "vec_id", "embedding", dir) // the retry
    assert(spark.read.parquet(s"$dir/vectors").count() == postCount,
      "retry after the moves must not re-append the batch")
    assert(occSet() == postOcc,
      "the staged delta must merge exactly once on retry")
    assert(new java.io.File(s"$dir/vectors/_append-$id").exists())
    assert(!new java.io.File(s"$dir/.append-$id").exists())

    // WINDOW 2 — crash AFTER the occupancy merge, BEFORE the applied
    // marker: the in-occupancy _applied-<id> marker (committed atomically
    // with the merged histogram) must stop a second merge.
    rmrf(s"$dir/vectors/_append-$id")
    delta.coalesce(1).write.parquet(s"$dir/.append-$id/delta")
    touch(s"$dir/.append-$id/_COMMITTING")
    assert(new java.io.File(s"$dir/occupancy")
      .listFiles().exists(_.getName == s"_applied-$id"))
    Ann.append(bDf, "vec_id", "embedding", dir)
    assert(occSet() == postOcc,
      "a merged delta must never merge twice (double-counted occupancy)")
    assert(spark.read.parquet(s"$dir/vectors").count() == postCount)
    // probes stay duplicate-free end to end
    val q = emb.filter($"vec_id" === 199).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val hits = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(10)))
      .collect().map(_.getLong(0)).toSeq
    assert(hits.distinct == hits)
  }

  test("an abandoned committed append is healed by the next append") {
    val root = java.nio.file.Files.createTempDirectory("graft-appheal").toString
    val dir = s"$root/idx"
    emb.filter($"vec_id" >= 150 && $"vec_id" < 300)
      .select($"vec_id", $"embedding").write.parquet(s"$root/batchB")
    emb.filter($"vec_id" >= 300).select($"vec_id", $"embedding")
      .write.parquet(s"$root/batchC")
    val bDf = spark.read.parquet(s"$root/batchB")
    val cDf = spark.read.parquet(s"$root/batchC")
    Similarity.lshBuild(emb.filter($"vec_id" < 150).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nBits = 16, dim = 64)
    // manufacture batch B's staging exactly as stagedAppend lays it out,
    // crashed right after _COMMITTING (nothing live yet, never retried)
    val idB = Similarity.appendBatchId(bDf)
    val sigsB = Similarity.lshBuckets(bDf, "vec_id", "embedding", 16, 64)
      .withColumn("pband", shiftrightunsigned($"bucket", 8))
    sigsB.write.partitionBy("pband").parquet(s"$dir/.append-$idB/vectors")
    sigsB.filter($"bucket".isNotNull).groupBy("bucket").count()
      .coalesce(1).write.parquet(s"$dir/.append-$idB/delta")
    touch(s"$dir/.append-$idB/_COMMITTING")
    // a LATER append of a different batch heals B before appending C:
    // B's rows land exactly once and B's delta reaches the occupancy
    Ann.append(cDf, "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == emb.count())
    assert(new java.io.File(s"$dir/vectors/_append-$idB").exists())
    assert(!new java.io.File(s"$dir/.append-$idB").exists())
    // occupancy equals a from-scratch rebuild's (sidecar never diverges)
    Similarity.lshBuild(emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      s"$root/full", nBits = 16, dim = 64)
    def occ(d: String) = spark.read.parquet(s"$d/occupancy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(occ(dir) == occ(s"$root/full"))
  }

  test("compactIndex (lsh): fewer files, probe-for-probe identical, replay fences survive") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val dir = s"$root/idx"
    Similarity.lshBuild(emb.filter($"vec_id" < 200).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, nBits = 8, dim = 64, partitionBits = 4)
    // three appends, each landing its own part files into the pband dirs
    Seq((200L, 300L, "c1"), (300L, 400L, "c2"), (400L, 500L, "c3")).foreach {
      case (lo, hi, id) =>
        Ann.append(
          emb.filter($"vec_id" >= lo && $"vec_id" < hi)
            .select($"vec_id", $"embedding"),
          "vec_id", "embedding", dir, appendId = Some(id))
    }
    def occ() = spark.read.parquet(s"$dir/occupancy")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def probe(qid: Long) = {
      val q = emb.filter($"vec_id" === qid).select($"embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(7)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val (qids, occBefore) = (Seq(5L, 250L, 499L), occ())
    val before = qids.map(probe)
    val st = Ann.compact(spark, dir)
    // the whole point: strictly fewer data files, same 500-row multiset
    assert(st.filesAfter < st.filesBefore,
      s"no compaction happened: ${st.filesBefore} -> ${st.filesAfter}")
    assert(Similarity.indexFileStats(spark, dir)._1 == st.filesAfter)
    assert(spark.read.parquet(s"$dir/vectors").count() == emb.count())
    assert(occ() == occBefore)
    assert(qids.map(probe) == before, "probe results changed across compaction")
    // the replay fences were carried over: a streaming replay of an
    // already-ingested batch stays a no-op AFTER the rewrite
    assert(new java.io.File(s"$dir/vectors/_append-c3").exists())
    Ann.append(
      emb.filter($"vec_id" >= 400).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, appendId = Some("c3"))
    assert(spark.read.parquet(s"$dir/vectors").count() == emb.count(),
      "replayed append double-appended after compaction")
    // no staged-commit residue
    assert(!new java.io.File(s"$root/.idx.staging").exists())
    assert(!new java.io.File(s"$root/.idx.old").exists())
  }

  test("compactIndex (ivf): centroids carried verbatim, appended rows still probed") {
    val root = java.nio.file.Files.createTempDirectory("graft-compactivf").toString
    val dir = s"$root/idx"
    Similarity.ivfBuild(emb.filter($"vec_id" < 300).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir)
    Ann.append(
      emb.filter($"vec_id" >= 300).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, appendId = Some("iv1"))
    val centroidsBefore = Similarity.readCentroids(spark, dir).map(_.toSeq).toSeq
    val q = emb.filter($"vec_id" === 450).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val before = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(8)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val st = Ann.compact(spark, dir)
    assert(st.filesAfter < st.filesBefore)
    assert(spark.read.parquet(s"$dir/vectors").count() == emb.count())
    // frozen centroids stay frozen — compaction must never retrain
    assert(Similarity.readCentroids(spark, dir).map(_.toSeq).toSeq ==
      centroidsBefore)
    assert(Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(8)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == before)
    assert(before.head == ((450L, 1.0)), "appended row must find itself")
  }

  test("ivfpq lifecycle: staged build, pruned probe, frozen-codebook append equals full build, replay is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-pqlife").toString
    val dir = s"$root/idx"
    // planted clique: 10 exact copies of vec 0's embedding — identical
    // vectors share codes AND list, so the clique is a closed-form probe
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val corpus = emb.select($"vec_id", $"embedding").unionByName(planted)
      .localCheckpoint()
    // file-backed append batch (deterministic batch id → replay fence)
    corpus.filter($"vec_id" >= 250).write.parquet(s"$root/batchB")
    val bDf = spark.read.parquet(s"$root/batchB")
    // full build in one dir: the reference answer
    Pq.ivfPqBuild(corpus, "vec_id", "embedding", s"$root/full",
      kLists = 8, m = 8, k = 16)
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val clique = Set(0L) ++ (1L to 10L).map(_ + 100000L)
    val full = Ann.probe(Ann.Dir(spark, s"$root/full"),
      Ann.Probe(Ann.One(q), Ann.TopK(11), tuning = Some(1)))
      .collect().map(_.getLong(0)).toSet
    assert(full == clique, s"full-build probe: $full")
    // build-on-prefix + append-the-rest: frozen centroids and codebooks
    Pq.ivfPqBuild(corpus.filter($"vec_id" < 250), "vec_id", "embedding",
      dir, kLists = 8, m = 8, k = 16)
    assert(!new java.io.File(s"$root/.idx.staging").exists())
    Ann.append(bDf, "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == corpus.count())
    // the bit-identical appended clique encodes to vec 0's codes and
    // lands in its list: nprobe=1 still serves the whole clique exactly
    val probe = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(11), tuning = Some(1)))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("list#") || plan.contains("list =")), plan.take(2000))
    assert(probe.collect().map(_.getLong(0)).toSet == clique)
    // replayed file-backed append is a no-op (durable _append-<id> fence)
    val id = Similarity.appendBatchId(bDf)
    assert(new java.io.File(s"$dir/vectors/_append-$id").exists())
    Ann.append(bDf, "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == corpus.count(),
      "replayed append must not double-append")
    // codebook sidecar frozen across the append
    val cb = spark.read.parquet(s"$dir/codebooks")
    assert(cb.count() == 8L * 16L)
    // dim guard on the probe
    intercept[IllegalArgumentException] {
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q :+ 0.0), Ann.TopK(5)))
    }
  }

  test("ivfpq crash-mid-swap: half-committed append resumes; orphaned rename-aside restored; compaction preserves probes") {
    val root = java.nio.file.Files.createTempDirectory("graft-pqcrash").toString
    val dir = s"$root/idx"
    Pq.ivfPqBuild(emb.filter($"vec_id" < 250).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, kLists = 8, m = 8, k = 16)
    emb.filter($"vec_id" >= 250).select($"vec_id", $"embedding")
      .write.parquet(s"$root/batchB")
    val bDf = spark.read.parquet(s"$root/batchB")
    // WINDOW — the append crashed right after its staging committed
    // (_COMMITTING durable, no part file moved yet, no fence marker):
    // manufacture the staging exactly as stagedAppend lays it out —
    // re-encode with the frozen codebooks, partitioned by frozen list.
    val id = Similarity.appendBatchId(bDf)
    val cents = Similarity.readCentroids(spark, dir)
    val cb0 = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val mSub = cb0.map(_._1).max + 1
    val kCw = cb0.map(_._2).max + 1
    val books = Array.ofDim[Array[Double]](mSub, kCw)
    cb0.foreach { case (mi, ki, v) => books(mi)(ki) = v }
    val model = Pq.PqModel(mSub, kCw, books(0)(0).length, books)
    // encode the staging the way ivfPqAppend lays it out TODAY — residual
    // codes against the frozen centroids (the index is residual-built)
    Similarity.ivfAssign(bDf, "vec_id", "embedding", cents)
      .select($"id", $"list", Pq.codesColRes("v", "list", model, cents).as("codes"))
      .write.partitionBy("list").parquet(s"$dir/.append-$id/vectors")
    touch(s"$dir/.append-$id/_COMMITTING")
    // the retry resumes the commit: rows land exactly once, staging swept
    Ann.append(bDf, "vec_id", "embedding", dir)
    val postCount = spark.read.parquet(s"$dir/vectors").count()
    assert(postCount == emb.count(),
      "retry of a half-committed ivfpq append must land the batch exactly once")
    assert(new java.io.File(s"$dir/vectors/_append-$id").exists())
    assert(!new java.io.File(s"$dir/.append-$id").exists())
    val q = emb.filter($"vec_id" === 300).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val served = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(8)))
      .collect().map(_.getLong(0)).toSeq
    assert(served.nonEmpty && served.distinct == served)
    // a SECOND retry (fence now durable) is a pure no-op
    Ann.append(bDf, "vec_id", "embedding", dir)
    assert(spark.read.parquet(s"$dir/vectors").count() == postCount,
      "retry after the fence must not double-append")
    // ORPHANED RENAME-ASIDE — the stagedCommit crash window between the
    // two swap renames leaves the only copy at .idx.old: IndexGc restores
    // it (age guard zeroed for the test) and probes serve as before
    assert(new java.io.File(dir).renameTo(new java.io.File(s"$root/.idx.old")))
    graft.tools.IndexGc.sweep(spark, root, keepPerKey = 2, minAgeMs = 0L)
    assert(new java.io.File(dir).isDirectory, "orphaned .old must be restored")
    assert(Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(8)))
      .collect().map(_.getLong(0)).toSeq == served)
    // COMPACTION — method "ivfpq": fewer files, centroids+codebooks
    // carried verbatim, probe-for-probe identical, replay fence survives
    // full-row snapshot: the `enc` encoding marker must survive the
    // rewrite too, or a residual index silently re-reads as raw
    val cbBefore = spark.read.parquet(s"$dir/codebooks")
      .collect().map(_.toSeq).toSet
    val st = Ann.compact(spark, dir)
    assert(st.filesAfter <= st.filesBefore)
    assert(spark.read.parquet(s"$dir/vectors").count() == postCount)
    assert(spark.read.parquet(s"$dir/codebooks")
      .collect().map(_.toSeq).toSet
      == cbBefore, "compaction must carry the frozen codebooks verbatim " +
        "(values AND the enc marker)")
    assert(new java.io.File(s"$dir/vectors/_append-$id").exists(),
      "replay fences must survive compaction")
    assert(Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(8)))
      .collect().map(_.getLong(0)).toSeq == served)
    Ann.append(bDf, "vec_id", "embedding", dir) // replay across compact
    assert(spark.read.parquet(s"$dir/vectors").count() == postCount)
  }

  test("ivfRetrain: drifted appends raise skew; retraining from the index's own rows absorbs them") {
    val root = java.nio.file.Files.createTempDirectory("graft-retrain").toString
    val dir = s"$root/idx"
    Similarity.ivfBuild(emb.filter($"vec_id" < 300).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir)
    // append a drifted CLUSTER far from the build distribution: 100 rows
    // near 10·e0 with small deterministic spread, all landing in whichever
    // single frozen list is nearest that region
    val drifted = spark.createDataFrame(
      (0 until 100).map { i =>
        (1000L + i, Array.tabulate(64)(d =>
          if (d == 0) 10.0f else (((i * 31 + d) % 7) - 3) * 0.1f).toSeq)
      }).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    Ann.append(drifted, "vec_id", "embedding", dir,
      appendId = Some("drift1"))
    val skewBefore = Similarity.ivfSkew(spark, dir)
    assert(skewBefore > 2.0,
      s"drifted appends should concentrate in few lists, skew $skewBefore")
    Ann.retrain(spark, dir)
    // retraining saw the appended region (hash-spread sample, not
    // lowest-id) and split it across fresh lists
    val skewAfter = Similarity.ivfSkew(spark, dir)
    assert(skewAfter < skewBefore,
      s"retrain did not reduce skew: $skewBefore -> $skewAfter")
    assert(spark.read.parquet(s"$dir/vectors").count() == 400L)
    assert(Similarity.readCentroids(spark, dir).length == 16)
    // drifted rows are served exactly through the retrained quantizer
    val q = Array.tabulate(64)(d =>
      if (d == 0) 10.0 else (((7 * 31 + d) % 7) - 3) * 0.1)
    // rows 1007, 1000, 1014 are bit-identical to the query (the
    // perturbation has period 7 in i), so top-3 is that cos-1.0 tie
    // set in id order
    val got = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.One(q.toSeq), Ann.TopK(3), tuning = Some(8)))
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1000L, 1007L, 1014L),
      s"planted clique must be served exactly, got ${got.toSeq}")
    // the replay fence survived the rewrite: re-appending the absorbed
    // batch is still a no-op
    Ann.append(drifted, "vec_id", "embedding", dir,
      appendId = Some("drift1"))
    assert(spark.read.parquet(s"$dir/vectors").count() == 400L,
      "replayed append double-appended after retrain")
  }

  test("full ops loop: build → 3 appends → compact → GC → probes equal a fresh rebuild") {
    // the complete operational lifecycle under ONE test, probing after
    // every maintenance step against the ground truth of a fresh
    // full-corpus rebuild at identical params
    val base = java.nio.file.Files.createTempDirectory("graft-opsloop").toString
    val keyH = "e" * 16
    val dir = s"$base/idx-$keyH-${"f" * 16}"
    val corpus = emb.select($"vec_id", $"embedding")
    Similarity.lshBuild(corpus.filter($"vec_id" < 200), "vec_id", "embedding",
      dir, nBits = 8, dim = 64, partitionBits = 4)
    Seq((200L, 300L, "op1"), (300L, 400L, "op2"), (400L, 500L, "op3")).foreach {
      case (lo, hi, id) =>
        Ann.append(
          corpus.filter($"vec_id" >= lo && $"vec_id" < hi),
          "vec_id", "embedding", dir, appendId = Some(id))
    }
    val st = Ann.compact(spark, dir)
    assert(st.filesAfter < st.filesBefore)
    // retention: a superseded same-key generation is swept, the live
    // index survives and keeps answering
    val stale = s"$base/idx-$keyH-${"0" * 16}"
    new java.io.File(s"$stale/vectors").mkdirs()
    // retention is mtime-ordered newest-first: backdate the superseded
    // generation so the live index is the kept one
    new java.io.File(stale)
      .setLastModified(System.currentTimeMillis() - 86400000L)
    val rep = graft.tools.IndexGc.sweep(spark, base, keepPerKey = 1)
    assert(!new java.io.File(stale).exists(), "stale generation must be swept")
    assert(new java.io.File(s"$dir/vectors").isDirectory)
    assert(rep.deleted.exists(_.endsWith("0" * 16)) &&
      rep.kept.exists(_.endsWith("f" * 16)), s"$rep")
    // ground truth: one fresh build over the whole corpus, same params.
    // lshAppend ≡ rebuild (fixed seeded planes) and compaction preserves
    // the row multiset, so EVERY probe — top-k and range — must match
    // probe-for-probe
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft-opsloop-fresh").toString + "/idx"
    Similarity.lshBuild(corpus, "vec_id", "embedding", freshDir,
      nBits = 8, dim = 64, partitionBits = 4)
    Seq(5L, 250L, 499L).foreach { qid =>
      val q = emb.filter($"vec_id" === qid).select($"embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      def topk(d: String) = Ann.probe(Ann.Dir(spark, d), Ann.Probe(Ann.One(q), Ann.TopK(7)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def range(d: String) = Ann.probe(Ann.Dir(spark, d), Ann.Probe(Ann.One(q), Ann.Range(0.9)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(topk(dir) == topk(freshDir), s"topk diverged for qid $qid")
      assert(range(dir) == range(freshDir), s"range diverged for qid $qid")
    }

    // the IVF leg: frozen-centroid appends are approximate in general,
    // so equality is asserted on the planted-clique construction whose
    // answer is provable under both the appended and the fresh quantizer
    // (clique rows are bit-identical to the query → its rank-0 list)
    val q0 = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val clique = corpus.unionByName(planted)
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft-opsloop-ivf").toString + "/idx"
    Similarity.ivfBuild(clique.filter($"vec_id" < 250), "vec_id", "embedding",
      ivfDir)
    Seq((250L, 375L, "ov1"), (375L, 100000L, "ov2"),
        (100000L, Long.MaxValue, "ov3")).foreach { case (lo, hi, id) =>
      Ann.append(
        clique.filter($"vec_id" >= lo && $"vec_id" < hi),
        "vec_id", "embedding", ivfDir, appendId = Some(id))
    }
    assert(Ann.compact(spark, ivfDir).filesAfter <
      Similarity.indexFileStats(spark, ivfDir)._1 + 1) // compacted, sane
    val freshIvf = java.nio.file.Files
      .createTempDirectory("graft-opsloop-ivffresh").toString + "/idx"
    Similarity.ivfBuild(clique, "vec_id", "embedding", freshIvf)
    def ivfTop(d: String) = Ann.probe(Ann.Dir(spark, d),
      Ann.Probe(Ann.One(q0), Ann.TopK(10), tuning = Some(8)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (ops, fresh) = (ivfTop(ivfDir), ivfTop(freshIvf))
    assert(ops == fresh, s"ivf ops-loop probe diverged: $ops vs $fresh")
    assert(ops.map(_._1).toSet == (Set(0L) ++ (1 to 9).map(_ + 100000L)),
      s"planted clique must fill the top-10, got $ops")
  }

  // ---------- index retention (IndexGc) ----------

  test("IndexGc: rebuilds and threshold retrains keep the newest N dirs; stranded staging swept, orphan .old restored") {
    val corpusDir = java.nio.file.Files.createTempDirectory("graft-gccorpus").toString
    val idxBase = java.nio.file.Files.createTempDirectory("graft-gcbase").toString
    val key = s"llmspec-gc-$corpusDir"
    def idxDirs() = new java.io.File(idxBase).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("idx-"))
      .map(_.getName).toSeq
    val q = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    def topk() = Ann.probe(Ann.Cached(spark.read.parquet(corpusDir), "vec_id", "embedding", key,
        Ann.Build("ivf", kLists = 4, trainSample = 64)),
      Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(2)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    spark.conf.set("graft.ivf.indexBase", idxBase)
    spark.conf.set("graft.ivf.gcKeep", "1")
    try {
      emb.filter($"vec_id" < 100).select($"vec_id", $"embedding")
        .repartition(4).write.mode("overwrite").parquet(corpusDir)
      assert(topk().head == ((0L, 1.0)) && idxDirs().size == 1)
      // REBUILD 1: regenerated corpus (same path, new files) → retrain in
      // a new stamped dir; the auto-sweep keeps gcKeep=1 generation
      emb.filter($"vec_id" < 120).select($"vec_id", $"embedding")
        .repartition(4).write.mode("overwrite").parquet(corpusDir)
      val afterRebuild = { topk(); idxDirs() }
      assert(afterRebuild.size == 1,
        s"expected the superseded dir swept, got $afterRebuild")
      // THRESHOLD RETRAIN: grow the corpus past appendRebuildFactor —
      // the new-dir retrain that used to strand one dir per growth
      emb.filter($"vec_id" >= 120).select($"vec_id", $"embedding")
        .repartition(8).write.mode("append").parquet(corpusDir)
      topk()
      assert(idxDirs().size == 1,
        s"threshold retrain must not strand dirs under gcKeep=1: ${idxDirs()}")
      // stranded hidden work dirs: a crashed build's .staging is swept;
      // an .old whose target is MISSING is the only live copy — restored
      val strandedStaging = s"$idxBase/.idx-${"a" * 16}-${"b" * 16}.staging"
      new java.io.File(strandedStaging).mkdirs()
      val orphanOldName = s"idx-${"c" * 16}-${"d" * 16}"
      new java.io.File(s"$idxBase/.$orphanOldName.old/vectors").mkdirs()
      val report = graft.tools.IndexGc.sweep(spark, idxBase, keepPerKey = 1)
      assert(!new java.io.File(strandedStaging).exists())
      assert(new java.io.File(s"$idxBase/$orphanOldName/vectors").isDirectory,
        "an orphan .old must be restored, never deleted")
      assert(report.restored == Seq(orphanOldName))
      // the restored dir is now the newest of ITS key and survives; the
      // live dir of the probed key survives; probes still answer
      assert(topk().head == ((0L, 1.0)))
    } finally {
      spark.conf.unset("graft.ivf.indexBase")
      spark.conf.unset("graft.ivf.gcKeep")
    }
  }

  test("IndexGc sweeps a stranded sidecar-carrying staging; keepVectors compaction keeps codes/sidecar aligned (refined probe detects)") {
    val root = java.nio.file.Files.createTempDirectory("graft-gcside").toString
    val dir = s"$root/idx"
    graft.llm.Pq.ivfPqBuild(
      emb.filter($"vec_id" < 300).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, kLists = 8, m = 8, k = 16,
      keepVectors = true)
    // fragment both layouts with an append so the compaction has work
    graft.llm.Ann.append(
      emb.filter($"vec_id" >= 300).select($"vec_id", $"embedding"),
      "vec_id", "embedding", dir, appendId = Some("gcside-1"))
    val queries = (1L to 3L).map(qid => qid ->
      emb.filter($"vec_id" === qid).select($"embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq)
    def refined() = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(10), tuning = Some(8), refine = Some(4)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    def f32Rows() = spark.read
      .parquet(s"$dir/${graft.llm.Pq.vectorSidecarDir}")
      .select($"id", $"list", $"v")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toSeq)).toSet
    val refinedBefore = refined()
    val f32Before = f32Rows()
    assert(refinedBefore.nonEmpty && f32Before.size == emb.count())
    // a crashed keepVectors staged BUILD strands a .staging dir that
    // CONTAINS a sidecar — the sweep must remove the whole thing (a
    // sidecar-bearing staging is no more alive than a bare one), while
    // the LIVE sidecar-carrying index is untouched
    val staging = new java.io.File(
      s"$root/.idx-${"a" * 16}-${"b" * 16}.staging")
    new java.io.File(staging,
      s"${graft.llm.Pq.vectorSidecarDir}/list=0").mkdirs()
    new java.io.File(staging, "vectors/list=0").mkdirs()
    java.nio.file.Files.writeString(
      staging.toPath.resolve(s"${graft.llm.Pq.vectorSidecarDir}/list=0/part-0.parquet"),
      "stranded")
    graft.tools.IndexGc.sweep(spark, root, keepPerKey = 2, minAgeMs = 0L)
    assert(!staging.exists(),
      "a stranded sidecar-carrying .staging must be swept whole")
    assert(graft.llm.Pq.hasVectorSidecar(spark, dir) &&
      f32Rows() == f32Before, "the live index must be untouched")
    // COMPACTION of the keepVectors index: the sidecar rewrites in the
    // same staged commit, (id, list, v) content byte-identical, and the
    // codes/sidecar partition alignment survives — the REFINED probe is
    // the detector (its rerank joins nominee ids against the sidecar's
    // list partitions; a misaligned rewrite would drop nominees and
    // change the true-cosine answers)
    val st = Ann.compact(spark, dir)
    assert(st.filesAfter <= st.filesBefore)
    assert(f32Rows() == f32Before,
      "compaction must carry the sidecar content byte-for-byte")
    val codePairs = spark.read.parquet(s"$dir/vectors")
      .select($"id", $"list")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(codePairs == f32Before.map(t => (t._1, t._2)),
      "codes and sidecar must stay partition-aligned through compaction")
    assert(refined() == refinedBefore,
      "refined answers must be identical across compaction")
    // the compacted sidecar files stay SORTED by id (tight row-group
    // stats for the id-In pushdown its consumers rely on)
    val listDirs = new java.io.File(
      s"$dir/${graft.llm.Pq.vectorSidecarDir}").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list="))
    assert(listDirs.nonEmpty)
    listDirs.take(3).foreach { ld =>
      ld.listFiles().filter(_.getName.endsWith(".parquet")).foreach { pf =>
        val ids = spark.read.parquet(pf.getAbsolutePath)
          .select($"id").collect().map(_.getLong(0)).toSeq
        assert(ids == ids.sorted,
          s"compacted sidecar file ${pf.getName} must be id-sorted")
      }
    }
  }

  // ---------- batched probes: per-group pruning + ad-hoc variants ----------

  test("batched range probes equal per-query range probes, overflow split included") {
    val root = java.nio.file.Files.createTempDirectory("graft-rangebatch").toString
    val dir = s"$root/idx"
    val q0 = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(5L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    val clique = emb.select($"vec_id", $"embedding").unionByName(planted)
    Similarity.lshBuild(clique, "vec_id", "embedding", dir, nBits = 16, dim = 64)
    // one enumerable query, one whose threshold-radius ball overflows the
    // enumeration cap (low threshold → wide ball): per-group split
    val qSparse = (0 until 64).map(i => if (i == 7) 1.0 else 0.0)
    val queries = Seq(0L -> q0.toSeq, 1L -> qSparse)
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val batch = grouped(Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.Range(0.5), maxEnumBuckets = 20)))
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.Range(0.5), maxEnumBuckets = 20))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(batch.getOrElse(qid, Set.empty) == single, s"lsh qid $qid")
    }
    assert((1 to 5).forall(i => batch(0L).exists(_._1 == 100000L + i)))
    // ivf: batch ≡ per-query at equal nprobe
    val ivfDir = s"$root/ivf"
    Similarity.ivfBuild(clique, "vec_id", "embedding", ivfDir)
    val ivfBatch = grouped(Ann.probe(Ann.Dir(spark, ivfDir),
      Ann.Probe(Ann.Batch(queries), Ann.Range(0.5), tuning = Some(4))))
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, ivfDir),
        Ann.Probe(Ann.One(q), Ann.Range(0.5), tuning = Some(4)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(ivfBatch.getOrElse(qid, Set.empty) == single, s"ivf qid $qid")
    }
    // ad-hoc (index-less) batch forms ≡ their per-query ad-hoc forms
    val adhocLsh = grouped(Ann.probe(Ann.Adhoc(clique, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.Batch(queries), Ann.Range(0.5))))
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Adhoc(clique, "vec_id", "embedding", Ann.Build("lsh")),
        Ann.Probe(Ann.One(q), Ann.Range(0.5)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(adhocLsh.getOrElse(qid, Set.empty) == single, s"adhoc lsh qid $qid")
    }
    val adhocIvf = grouped(Ann.probe(Ann.Adhoc(clique, "vec_id", "embedding", Ann.Build("ivf")),
      Ann.Probe(Ann.Batch(queries), Ann.Range(0.5), tuning = Some(4))))
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Adhoc(clique, "vec_id", "embedding", Ann.Build("ivf")),
        Ann.Probe(Ann.One(q), Ann.Range(0.5), tuning = Some(4)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(adhocIvf.getOrElse(qid, Set.empty) == single, s"adhoc ivf qid $qid")
    }
    // no aggregation anywhere in the indexed batch range plan: the
    // answer is map-only after the pruned read
    val plan = Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.Batch(queries), Ann.Range(0.5)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), plan.take(2000))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, dir), Ann.Probe(Ann.Batch(Seq.empty), Ann.Range(0.5))))
    intercept[IllegalArgumentException](
      Ann.probe(Ann.Dir(spark, ivfDir), Ann.Probe(Ann.Batch(queries), Ann.Range(1.5))))
  }

  test("lshQueryBatch per-group pruning: an overflow query doesn't cost the others their pruned read") {
    val root = java.nio.file.Files.createTempDirectory("graft-grouplsh").toString
    val dir = s"$root/idx"
    val base = emb.select($"vec_id", $"embedding")
    val q0 = emb.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    // a dense planted clique makes query 0 stop at radius 1 (prefix ball
    // = 1 + pBits = 9 buckets); an orthogonal basis-vector query sees a
    // sparse region and expands until its ball overflows maxEnumBuckets
    val planted = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(1L), lit(30L))).as("r"), $"embedding")
      .select((col("r") + 100000L).as("vec_id"), $"embedding")
    Similarity.lshBuild(base.unionByName(planted), "vec_id", "embedding", dir,
      nBits = 16, dim = 64)
    val qSparse = (0 until 64).map(i => if (i == 7) 1.0 else 0.0)
    val queries = Seq(0L -> q0.toSeq, 1L -> qSparse)
    val batch = Ann.probe(Ann.Dir(spark, dir),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), tuning = Some(12), maxEnumBuckets = 20))
    val plan = batch.queryExecution.executedPlan.toString
    // the enumerable group keeps its partition-pruned scan even though
    // the overflow query forces a full scan for ITS group
    assert(plan.contains("PartitionFilters: [pband") ||
      plan.contains("PartitionFilters: [isnotnull(pband") ||
      (plan.contains("PartitionFilters") && plan.contains("pband")),
      plan.take(3000))
    // per-query answers identical to the single probes at equal knobs
    val grouped = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    queries.foreach { case (qid, q) =>
      val single = Ann.probe(Ann.Dir(spark, dir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(12), maxEnumBuckets = 20))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(grouped.getOrElse(qid, Set.empty) == single, s"query $qid diverged")
    }
  }

  test("ad-hoc batch ANN equals the per-query ad-hoc paths (in-memory serving shape)") {
    val queries = emb.filter($"vec_id" < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    def grouped(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val ivfBatch = grouped(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding",
        Ann.Build("ivf", kLists = 8, trainSample = 256)),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), tuning = Some(3))))
    val lshBatch = grouped(Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("lsh")),
      Ann.Probe(Ann.Batch(queries), Ann.TopK(5), tuning = Some(20))))
    queries.foreach { case (qid, q) =>
      val ivfSingle = Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding",
          Ann.Build("ivf", kLists = 8, trainSample = 256)),
        Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(3)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(ivfBatch(qid) == ivfSingle, s"ivf query $qid")
      val lshSingle = Ann.probe(Ann.Adhoc(emb, "vec_id", "embedding", Ann.Build("lsh")),
        Ann.Probe(Ann.One(q), Ann.TopK(5), tuning = Some(20)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(lshBatch(qid) == lshSingle, s"lsh query $qid")
    }
  }
}
