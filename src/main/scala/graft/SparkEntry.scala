package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dfl.DflFrame
import graft.llm.Ann

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one operator from SURVEY.md §2 THROUGH the
  * DFL engine (parser → Catalyst compiler) wherever the reference expresses
  * it in DFL; entries that go beyond the reference surface (aggregation
  * extensions, LLM-pipeline operators) use the DataFrame API directly.
  * `oracleSql` holds the DuckDB-equivalent SQL over the same parquet tables;
  * column names/aliases match pairwise (the driver sorts columns by name
  * before hashing).
  *
  * Determinism rules applied throughout: every top-k has a total-order sort
  * key; double aggregates that depend on summation order are rounded; no
  * raw timestamps in outputs (cast to epoch or date strings).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The source-curation probe corpus: a planted spam source — 30
    * copies of one short junk document under source `srcspam` — whose
    * corpus-wide duplicate rate (1.0) must trip the block threshold
    * while every organic source stays under it. */
  private def spamPlanted(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val spamText = "buy now best deal click here " * 3
    val spark = docs.sparkSession
    val spam = spark.range(1, 31).select(
      (col("id") + 2000000L).as("doc_id"), lit(spamText).as("text"),
      lit("xx").as("lang"), lit("srcspam").as("source"),
      lit(spamText.length.toLong).as("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(spam)
  }

  /** The CDC probe corpus: every document re-planted at +1000000 with a
    * 3-word prefix — an EDITED near-copy that shares zero fixed-window
    * hashes with its original but re-aligns under content-defined
    * chunking. */
  private def cdcPlanted(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("zz yy xx "), col("text")).as("text")))

  /** Deterministic synthetic image corpus with planted near-duplicates,
    * for the perceptual-hash dedup oracle rows. One 9×8 PNG per doc_id
    * < 200, pixels md5-derived and QUANTIZED to multiples of 32 (so the
    * dHash adjacent-pixel comparisons sit ≥ 32 apart — luma rounding
    * can never flip a bit). Every doc_id % 10 == 0 plants two copies:
    * id+1000000 byte-identical, and id+2000000 a brightness-shifted
    * (+8) re-encode as BMP — different bytes, different container, SAME
    * dHash by construction (uniform shifts and lossless re-encodes
    * preserve adjacent-pixel order exactly), so the expected pair set
    * is closed-form: the three hamming-0 pairs per planted id. Images
    * synthesize in executors (mapPartitions), never on the driver. */
  private def imagePixels(id: Long): Array[Int] =
    Array.tabulate(72) { i =>
      val b = graft.util.Md5.hex(s"img|$id|$i").charAt(0)
      val v = Integer.parseInt(b.toString, 16) % 7
      16 + 32 * v
    }

  private def imageEncode(px: Array[Int], shift: Int,
                          format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < 72) {
      val g = px(i) + shift
      img.setRGB(i % 9, i / 9, (g << 16) | (g << 8) | g)
      i += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  private def imageCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") < 200)
      .as[Long].mapPartitions { it =>
        it.flatMap { id =>
          val px = imagePixels(id)
          val orig = (id, imageEncode(px, 0, "png"))
          if (id % 10 == 0)
            Seq(orig, (id + 1000000L, imageEncode(px, 0, "png")),
              (id + 2000000L, imageEncode(px, 8, "bmp")))
          else Seq(orig)
        }
      }.toDF("id", "payload")
  }

  /** The RETAINED reference corpus for the cross-corpus image-dedup
    * rows: every doc_id % 20 == 0 base pattern re-rendered at shift +16
    * (216 + 32·6 would clip; 16 + 32·6 + 16 = 224 < 255 keeps hash
    * identity) as BMP under id + 5e6 — so each such base's THREE left
    * members (original, identical copy, +8 BMP) all pair with exactly
    * one reference image at hamming 0, closed-form. */
  private def imageRefCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") < 200 && col("doc_id") % 20 === 0)
      .as[Long].mapPartitions { it =>
        it.map(id => (id + 5000000L, imageEncode(imagePixels(id), 16, "bmp")))
      }.toDF("id", "payload")
  }

  /** The BM25 batch probe: three queries over the corpus vocabulary,
    * shared verbatim by the query and its oracle rendering. */
  private val bm25BatchQueries: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "window"),
    2L -> Seq("merge", "sort", "stream"),
    3L -> Seq("vector", "hash"))

  /** BM25 top-k of the documents corpus by direct scan. */
  private def bm25Scan(docs: DataFrame, q: llm.Retrieval.Queries,
                       k: Int): DataFrame =
    llm.Retrieval.probe(llm.Retrieval.Scan(docs, "doc_id", "text"),
      llm.Retrieval.Probe(q, k))

  /** BM25 top-k served from the built index at `idxDir`. */
  private def bm25Index(s: SparkSession, idxDir: String,
                        q: llm.Retrieval.Queries, k: Int,
                        filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame =
    llm.Retrieval.probe(llm.Retrieval.Dir(s, idxDir),
      llm.Retrieval.Probe(q, k, filter))

  /** Deterministic graded judgments for the retrieval_eval rows: query
    * q judges every doc with doc_id % (10+q) == 0 at rel 1 + doc_id%3
    * — replayed literally by [[retrievalQrelsSql]]. */
  private def retrievalQrels(docs: DataFrame): DataFrame =
    bm25BatchQueries.map(_._1).map(q =>
      docs.filter(pmod(col("doc_id"), lit(10L + q)) === 0)
        .select(lit(q).as("qid"), col("doc_id").as("id"),
          (lit(1L) + pmod(col("doc_id"), lit(3L))).cast("int").as("rel")))
      .reduce(_ unionByName _)

  private val retrievalQrelsSql: String = {
    // the qid VALUES list renders from bm25BatchQueries — the single
    // source of truth — so editing the batch can never desynchronize
    // the Scala and oracle sides of the retrieval_eval rows
    val values = bm25BatchQueries.map { case (q, _) => s"($q)" }.mkString(", ")
    s"""SELECT q AS qid, doc_id AS id, CAST(1 + doc_id % 3 AS INT) AS rel
       |  FROM documents, (VALUES $values) v(q)
       | WHERE doc_id % (10 + q) = 0""".stripMargin
  }

  /** A messy-but-equivalent URL per document: upper-cased `www.` host,
    * explicit default port, tracking params, unsorted query, trailing
    * slash, per-doc fragment. Canonicalization must collapse it to
    * `https://<source>.example.com/p/<doc_id%50>?a=1&b=2` — which the
    * oracle builds directly from the same parts. */
  private def messyUrl: org.apache.spark.sql.Column =
    concat(lit("HTTPS://WWW."), upper(col("source")),
      lit(".Example.COM:443/p/"), pmod(col("doc_id"), lit(50)),
      lit("/?utm_campaign=z&b=2&fbclid=x&a=1#sec"), col("doc_id"))

  /** The oracle's ground-truth canonical rendering of [[messyUrl]]. */
  private val messyUrlCanonSql: String =
    "'https://' || lower(source) || '.example.com/p/' || " +
      "(doc_id % 50) || '?a=1&b=2'"

  /** The hashEmbed document-vector CTE chain (dim 16, seed 7 — the
    * hash_embed rendering): defines `emb(id, vec DOUBLE[])`. Shared by
    * the hybrid-retrieval and serving-stack oracles. */
  private val hashEmbedCtesSql: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
      |    FROM documents),
      |bk AS (SELECT doc_id,
      |         CAST(concat('0x', substring(md5(tok || '|7'), 1, 15)) AS BIGINT) % 16 AS b
      |         FROM toks),
      |c AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
      |ss AS (SELECT doc_id, sum(c * c) AS ss FROM c GROUP BY 1),
      |dims AS (SELECT ss.doc_id, ss.ss, d
      |           FROM ss, LATERAL (SELECT unnest(generate_series(0, 15)) AS d) s),
      |emb AS (SELECT dims.doc_id AS id,
      |          list(round(coalesce(c.c, 0) * 1.0 / sqrt(dims.ss), 6) ORDER BY d) AS vec
      |          FROM dims LEFT JOIN c ON c.doc_id = dims.doc_id AND c.b = dims.d
      |         GROUP BY 1)""".stripMargin

  /** The semantic run of the hybrid stack: hashEmbed cosine top-20 for
    * the query text, `(id, rnk)` — an rrfSql input. `filterSql`
    * restricts the CANDIDATES (cosine has no corpus statistics, so
    * pre-filtering is the whole filtered contract for this leg); the
    * alias in scope is `fm` over documents, the bm25Sql convention. */
  private def hybridSemanticRunSql(filterSql: Option[String] = None): String = {
    val candSrc = filterSql match {
      case None => "emb e"
      case Some(f) =>
        s"emb e JOIN documents fm ON fm.doc_id = e.id AND ($f)"
    }
    s"""WITH $hashEmbedCtesSql,
      |qtok AS (SELECT unnest(string_split('spark stream window merge', ' ')) AS tok),
      |qb AS (SELECT CAST(concat('0x', substring(md5(tok || '|7'), 1, 15)) AS BIGINT) % 16 AS b
      |         FROM qtok),
      |qc AS (SELECT b, count(*) AS c FROM qb GROUP BY 1),
      |qagg AS (SELECT sum(c * c) AS ss FROM qc),
      |qv AS (SELECT list(round(coalesce(qc.c, 0) * 1.0 / sqrt(qagg.ss), 6) ORDER BY d) AS vec
      |         FROM qagg, LATERAL (SELECT unnest(generate_series(0, 15)) AS d) s
      |         LEFT JOIN qc ON qc.b = d),
      |cs AS (SELECT e.id, round(list_cosine_similarity(e.vec, q.vec), 6) AS cos
      |         FROM $candSrc CROSS JOIN qv q)
      |SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS BIGINT) AS rnk
      |  FROM cs
      |QUALIFY row_number() OVER (ORDER BY cos DESC, id ASC) <= 20""".stripMargin
  }

  /** The full serving stack in DuckDB — indexed BM25 run ⊕ semantic
    * run → RRF → unrolled MMR greedy — shared by the
    * pipeline_serving_stack row and its DFL product surface
    * (dfl_hybrid), which compose the identical stack (2k pools,
    * k=10, λ=0.7). */
  private lazy val servingStackSql: String = llm.Retrieval.mmrSql(
    s"""SELECT f.id, f.score, ev.vec AS embedding
       |  FROM (
       |${llm.Retrieval.rrfSql(Seq(
           llm.Retrieval.bm25Sql("documents", "doc_id", "text",
             Seq("spark", "stream", "window", "merge"), k = 20),
           hybridSemanticRunSql()), k = 20)}
       |) f JOIN (WITH $hashEmbedCtesSql SELECT id, vec FROM emb) ev
       |    ON f.id = ev.id""".stripMargin,
    k = 10, lambda = 0.7)

  /** The FILTERED serving stack: both legs restricted to `lang = 'en'`
    * with corpus-global lexical statistics (bm25Sql's filterSql joins
    * the predicate before ranking; the semantic run pre-filters its
    * candidates), fused and MMR-re-ranked exactly as
    * [[servingStackSql]] — the dfl_hybrid_filtered oracle. */
  private lazy val hybridFilteredStackSql: String = llm.Retrieval.mmrSql(
    s"""SELECT f.id, f.score, ev.vec AS embedding
       |  FROM (
       |${llm.Retrieval.rrfSql(Seq(
           llm.Retrieval.bm25Sql("documents", "doc_id", "text",
             Seq("spark", "stream", "window", "merge"), k = 20,
             filterSql = Some("fm.lang = 'en'")),
           hybridSemanticRunSql(Some("fm.lang = 'en'"))), k = 20)}
       |) f JOIN (WITH $hashEmbedCtesSql SELECT id, vec FROM emb) ev
       |    ON f.id = ev.id""".stripMargin,
    k = 10, lambda = 0.7)

  /** MMR first stage in DuckDB: cosine top-20 for query vec 0 (the
    * ann_topk rendering), embeddings cast DOUBLE[] for the pairwise
    * penalty cosines — feeds [[llm.Retrieval.mmrSql]]. */
  private val mmrCandSql: String =
    """SELECT e.vec_id AS id,
      |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6)
      |         AS score,
      |       CAST(e.embedding AS DOUBLE[]) AS embedding
      |  FROM embeddings e,
      |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |QUALIFY row_number() OVER (ORDER BY score DESC, id ASC) <= 20""".stripMargin

  /** Run two INDEPENDENT sub-computations of one query on separate
    * driver threads (guide §2.6: Spark happily runs several jobs at
    * once — actions are only sequential because the driver calls them
    * sequentially, and concurrent jobs back-fill idle cores). Used by
    * trainer rows whose planted-contract training is independent of
    * the corpus training: both are job-launch-bound iterative loops
    * (≈5 scheduler jobs per merge round for ≤0.1 task-seconds), so
    * overlapping them hides one loop's scheduler floor behind the
    * other's. Results are unchanged — the two computations share no
    * state, and job submission is thread-safe. Either side's failure
    * rethrows its own exception, not a `CompletionException`; when `a`
    * fails, `b` is still awaited first, so no job of this query keeps
    * running detached on the shared session (its own failure rides along
    * as a suppressed exception). */
  private[graft] def par2[A, B](a: => A, b: => B): (A, B) = {
    val fb = java.util.concurrent.CompletableFuture.supplyAsync(() => b)
    def joinB(): B =
      try fb.join()
      catch { case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause }
    val ra = try a catch { case e: Throwable =>
      try joinB() catch { case eb: Throwable => e.addSuppressed(eb) }
      throw e
    }
    (ra, joinB())
  }

  /** Persisted tokenizer artifacts for the SERVING rows — the
    * "train once at ingest, serve from the artifact" lifecycle the ANN
    * index rows already use ([[memoIndexDir]]: first call per corpus
    * FINGERPRINT pays the train+save; every later call loads the stored
    * model INSIDE the timed region and serves). This replaces the
    * round-21 JVM-lifetime model memos (memoBpeMerges / memoWpVocab /
    * memoUnigramVocab), which the round-21 verdict ruled cross-pass
    * result caching: a serving row now always does real measured work —
    * a bounded [[llm.TokenizerStore]] artifact load plus the
    * segmentation/decode itself — and the stored model invalidates with
    * the corpus like every other index. Training cost stays measured,
    * un-memoized, in the `*_learn` / `*_train` rows. Trainers are
    * deterministic, so the artifact (and every serving output) is
    * bit-identical to training in-line. */
  private def bpeArtifact(s: SparkSession, docs: DataFrame, dir: String,
                          byteLevel: Boolean): Seq[llm.Bpe.Merge] = {
    val name = if (byteLevel) "bpetokB8" else "bpetok8"
    val artDir = memoIndexDir(dir, name, table = "documents") { d =>
      val m = llm.Bpe.learnMerges(docs, "text", 8, byteLevel = byteLevel)
      if (byteLevel) llm.TokenizerStore.saveByteBpe(s, m, d)
      else llm.TokenizerStore.saveBpe(s, m, d)
    }
    if (byteLevel) llm.TokenizerStore.loadByteBpe(s, artDir)
    else llm.TokenizerStore.loadBpe(s, artDir)
  }
  private def wpArtifact(s: SparkSession, docs: DataFrame, dir: String,
                         numMerges: Int): Seq[String] = {
    val artDir = memoIndexDir(dir, s"wptok$numMerges", table = "documents") {
      d => llm.TokenizerStore.saveWordPiece(s,
        llm.WordPiece.learnVocab(docs, "text", numMerges)._2, d)
    }
    llm.TokenizerStore.loadWordPiece(s, artDir)
  }
  private def unigramArtifact(s: SparkSession, docs: DataFrame, dir: String,
                              byteLevel: Boolean): Seq[llm.Unigram.Piece] = {
    val name = if (byteLevel) "unitokB" else "unitok"
    val artDir = memoIndexDir(dir, name, table = "documents") { d =>
      val v =
        if (byteLevel)
          llm.Unigram.trainByte(docs, "text", vocabSize = 96,
            maxPieceLen = 8, seedSize = 192, iters = 2)._1
        else
          llm.Unigram.train(docs, "text", vocabSize = 96, maxPieceLen = 8,
            seedSize = 192, iters = 2)._1
      llm.TokenizerStore.saveUnigram(s, v, d, maxPieceLen = 8)
    }
    llm.TokenizerStore.loadUnigram(s, artDir)
  }

  /** documents re-shaped into LINE-structured text (normalized tokens in
    * 8-token lines) with a shared boilerplate footer planted on every
    * doc_id % 5 == 0 — the corpus-wide duplicated line the C4-style
    * line dedup must scrub everywhere but its first occurrence. The
    * construction renders identically in the oracle SQL. */
  private def linedDocs(docs: DataFrame): DataFrame = {
    val toks = llm.TextAnalysis.wsTokens(llm.TextAnalysis.normText(col("text")))
    val nLines = greatest(ceil(size(toks) / lit(8.0)).cast("int"), lit(1))
    val lined = array_join(
      transform(sequence(lit(1), nLines),
        i => array_join(slice(toks, (i - lit(1)) * lit(8) + lit(1), lit(8)), " ")),
      "\n")
    docs.select(col("doc_id"),
      when(col("doc_id") % 5 === 0,
        concat(lined, lit("\nthe shared boilerplate footer line")))
        .otherwise(lined).as("text"))
  }

  /** The planted HTML wrapper for the extraction row — script/style
    * content, a comment, attributes, and the standard entity set around
    * the document text; the oracle states the CLOSED-FORM expected
    * extraction. */
  private val htmlWrapped: org.apache.spark.sql.Column = concat(
    lit("<html><head><style>p{color:red}</style>" +
      "<script>var x = 1 < 2;</script></head><body><!-- hidden -->\n" +
      "<p class=\"main\">"),
    col("text"),
    lit(" &amp; tail &lt;ok&gt;</p>\n</body></html>"))

  /** Block-structured HTML wrapper: each document's text as its own
    * paragraph plus a shared boilerplate block — the construction whose
    * extractHtmlBlocks result is closed-form AND feeds the line-dedup
    * web-ingest composite. */
  private val htmlBlockWrapped: org.apache.spark.sql.Column = concat(
    lit("<article><p>"), col("text"),
    lit("</p><aside><p>subscribe to our newsletter today</p></aside></article>"))

  /** events with `ts` normalized ONCE to an epoch-µs long `ts_us` —
    * the temporal operators all run integer µs arithmetic so Spark and
    * the DuckDB oracle (`epoch_us(ts)`) evaluate one formula. Handles
    * both ts generations (epoch-ns LONG / parquet timestamp[us]), like
    * time_window_hist. */
  private def eventsUs(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val us = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    ev.withColumn("ts_us", us)
  }

  /** Single-query planted-clique ANN corpus shared by the indexed-ANN
    * oracle rows ([[annPlantedTopkSql]] is its brute-force oracle): 10
    * exact copies of query-0's embedding at ids 100001…100010 over the
    * `vec_id < 100000`-guarded natural corpus. Identical floats share
    * any sign signature / IVF list with the query, so the 11-vector
    * clique at cosine exactly 1.0 provably IS the global top-10 (max
    * natural cosine ≈ 0.37). Returns (corpus, query vector). */
  private def plantedCliqueCorpus(s: SparkSession,
                                  dir: String): (DataFrame, Seq[Double]) = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      .filter(col("vec_id") < 100000L)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val planted = emb.filter(col("vec_id") === 0)
      .select(explode(sequence(lit(1L), lit(10L))).as("r"), col("embedding"))
      .select((col("r") + 100000L).as("vec_id"), col("embedding"))
    (emb.unionByName(planted), q)
  }

  /** The ids the `ann_*_delete` oracle rows tombstone: the five ODD
    * planted-clique members plus one natural vector — leaving exactly
    * six survivors at cosine 1.0 (query-self + the even clique ids), so
    * a post-delete top-6 probe is closed-form at any probe width
    * ([[annPlantedDeleteTopkSql]] is the brute-force-over-survivors
    * oracle). */
  private val annDeletedIds =
    Seq(100001L, 100003L, 100005L, 100007L, 100009L, 7L)

  /** Build-on-prefix + append-the-rest index lifecycle shared by the
    * `ann_*_append` oracle rows: `build` runs over `vec_id < 250`,
    * `append` over the rest (planted clique included), on a durable
    * tmp dir — first-call-pays like the other indexed rows. The
    * lifecycle re-runs once per corpus FINGERPRINT (source file
    * names+mtimes+lengths), so verify and the cold bench pass exercise
    * build + append and warm passes are pure pruned probes, while any
    * testdata change re-runs it from scratch. The `_lifecycle-<fp>`
    * marker is written only after a COMPLETE lifecycle — a partial
    * build/append is wiped and redone on the next call. */
  private def appendLifecycleIndex(dir: String, name: String,
      corpus: DataFrame)(build: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit): String =
    memoIndexDir(dir, name) { idxDir =>
      build(corpus.filter(col("vec_id") < 250L), idxDir)
      append(corpus.filter(col("vec_id") >= 250L), idxDir)
    }

  /** The fingerprint-keyed durable-tmp memoization under
    * [[appendLifecycleIndex]], reusable for single-build index rows
    * (e.g. ann_ivfpq_topk): `populate` runs once per embeddings-corpus
    * FINGERPRINT; warm calls are pure probes against the kept dir. */
  private def memoIndexDir(dir: String, name: String,
                           table: String = "embeddings")
                          (populate: String => Unit): String = {
    val idxDir = s"${sys.props("java.io.tmpdir")}/graft-$name-" +
      graft.util.Md5.hex(dir).take(12)
    def sig(f: java.io.File): String =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).map(sig).mkString(",")
      else s"${f.getName}:${f.lastModified}:${f.length}"
    val fp = graft.util.Md5.hex(sig(new java.io.File(s"$dir/$table.parquet")))
    val marker = new java.io.File(idxDir, s"_lifecycle-$fp")
    if (!marker.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(idxDir))
      populate(idxDir)
      marker.createNewFile()
    }
    idxDir
  }

  /** Pin `graft.dfl.index.minBytes = 0` around `body` — the bench/oracle
    * twins' lever for exercising the CACHED-index DFL lifecycle
    * (fingerprint memo, stamp dirs) at testdata scale, where every
    * corpus sits under the 32 MiB default and the DFL llm stages
    * otherwise take the direct index-less paths. The conf is consulted
    * eagerly at pipeline construction (the build side effect runs
    * there), so restoring it after `body` cannot leak into other rows. */
  private def withIndexAlways[A](s: SparkSession)(body: => A): A = {
    val key = "graft.dfl.index.minBytes"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "0")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Per-query planted-clique ANN corpus for the BATCHED oracle rows
    * ([[annBatchPlantedSql]] is their oracle): 10 copies of EACH of
    * queries 0-2's embeddings at ids 100000 + qid·100 + r, same
    * collision guard. Returns (corpus, (qid, vector) batch). */
  private def plantedBatchCorpus(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, Seq[Double])]) = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      .filter(col("vec_id") < 100000L)
    val queries = emb.filter(col("vec_id") < 3)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val planted = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q"),
        explode(sequence(lit(1L), lit(10L))).as("r"), col("embedding"))
      .select((lit(100000L) + col("q") * 100L + col("r")).as("vec_id"),
        col("embedding"))
    (emb.unionByName(planted), queries)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Bounded-error contract boolean for the HLL++ row: relative error ≤ 5%.
    * A key whose values are all NULL has exact = 0 — the ratio there is a
    * NULL (or a division by zero under ANSI), while the honest contract is
    * "the sketch also saw nothing": approx must be exactly 0. */
  private[graft] def within5pct(approx: org.apache.spark.sql.Column,
                                exact: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(exact === 0, approx === 0)
      .otherwise(abs(approx - exact).cast("double") / exact <= 0.05)

  // Derived lon/lat over events (testdata has no geo columns; this mapping
  // is deterministic and shared verbatim by the oracle SQL).
  private val lonExpr = "float64(@value % 360.0) - 180.0"
  private val latExpr = "float64(@value % 170.0) - 85.0"

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ q3Queries

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.3/2.4 filters & predicates (reference: pipeline/Pipeline.go:7,
    //      examples/bars.dfl:8, examples/osm.sh:66-83) ----
    "filter_eq" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "lineitem"),
      "filter(@, '@l_returnflag == R') | map(@, '{l_orderkey: @l_orderkey, l_linenumber: @l_linenumber, l_quantity: @l_quantity}')")),
    "filter_between" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "lineitem"),
      "filter(@, '@l_quantity between 10.0 and 20.0') | map(@, '{l_orderkey: @l_orderkey, l_linenumber: @l_linenumber}')")),
    "filter_within" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      s"filter(@, '($lonExpr within -150.0 and -100.0) and ($latExpr within -60.0 and 0.0)') | map(@, '{event_id: @event_id}')")),
    "filter_in" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "orders"),
      "filter(@, \"@o_orderpriority in ['1-URGENT', '2-HIGH']\") | map(@, '{o_orderkey: @o_orderkey, o_orderpriority: @o_orderpriority}')")),
    "filter_iin" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "customer"),
      "filter(@, '@c_mktsegment iin [building, MACHINERY]') | map(@, '{c_custkey: @c_custkey, c_mktsegment: @c_mktsegment}')")),
    "filter_like" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "part"),
      "filter(@, '@p_name like %a%') | map(@, '{p_partkey: @p_partkey, p_name: @p_name}')")),
    "filter_ilike" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "part"),
      "filter(@, '@p_type ilike %econ%') | map(@, '{p_partkey: @p_partkey, p_type: @p_type}')")),
    "ternary_null_drop" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      "(@value < 50.0) ? null : @ | map(@, '{event_id: @event_id, value: @value}')")),
    "elvis_default" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      "map(@, \"{event_id: @event_id, v: ((@event_type == error) ? null : @value) ?: -1.0}\")")),
    "intersects_words" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "filter(@, \"intersects(split(@text, ' '), {spark, window})\") | map(@, '{doc_id: @doc_id}')")),

    // ---- §2.3 transforms (reference: examples/geonames.dfl:10-26,
    //      examples/hostosm.sh:20 string concat) ----
    "map_arith" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "lineitem"),
      "map(@, '{l_orderkey: @l_orderkey, l_linenumber: @l_linenumber, disc_price: @l_extendedprice * (1.0 - @l_discount), q: int64(@l_quantity)}')")),
    "string_concat_path" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "orders"),
      "map(@, \"{o_orderkey: @o_orderkey, path: 'orders/' + @o_orderstatus + '/' + @o_orderpriority}\")")),
    "json_lookup" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      "map(@, \"{event_id: @event_id, k: int64(jsonGet(@props, k))}\")")),
    "sort_limit_topk" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "orders"),
      "sort(@, '[@o_totalprice, @o_orderkey]', true) | limit(@, 25) | map(@, '{o_orderkey: @o_orderkey, o_totalprice: @o_totalprice}')")),

    // ---- §2.5 aggregations (reference: named/named.go:16-22,
    //      examples/osm.sh:106-137) ----
    "agg_len" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "lineitem"), "len(@)")),
    "distinct_set" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "part"),
      "map(@, '@p_brand') | array(set(@)) | sort(@)")),
    "hist_key" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      "hist(@, '@event_type')")),
    "hist_nested" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "hist(@, '@lang', \"split(@text, ' ')\")")),
    "hist_minus_set" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      "hist(@, '@event_type') - {error, purchase}")),
    "group_collect_ids" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "orders"), "group(@, '@o_orderstatus')")
        .select(col("key"), concat_ws(",",
          sort_array(transform(col("items"), i => i.getField("o_orderkey")))).as("ids"))),
    "approx_distinct_users" -> ((s, dir) => t(s, dir, "events")
      // HyperLogLog++ sketch per event type — the constant-memory shape
      // of COUNT(DISTINCT) at 100 TB. The sketch value itself can't be
      // replayed by another engine, so the registered output is the
      // bounded-error CONTRACT: the exact count plus a boolean asserting
      // the sketch landed within 5× its configured 1% rsd. The exact
      // count here exists only to make the sketch oracle-checkable —
      // production callers use the sketch alone.
      .groupBy(col("event_type").as("key"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
           countDistinct(col("user_id")).as("exact_users"))
      .select(col("key"), col("exact_users"),
        within5pct(col("approx"), col("exact_users")).as("within_5pct"))),
    "time_window_hist" -> ((s, dir) => {
      // batch twin of StreamRunner.windowedHist: 1-minute event-time
      // windows. events.ts has shipped as both an epoch-ns LONG and a
      // parquet timestamp[us] across testdata generations — normalize
      // to epoch ns (session tz is UTC, matching DuckDB's epoch_ns)
      val ev = t(s, dir, "events")
      // all-integer windowing: `div` on the raw epoch count instead of
      // scale-to-ns -> cast-to-double -> FLOOR -> cast-to-long (that
      // chain cost ~1 µs/row — the r10 5× warm regression). For the
      // epochs in play (positive; minute boundaries exactly
      // representable) truncating `div` ≡ the oracle's floor().
      val w = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("ts div 60000000000")                        // epoch ns
        case _ =>
          expr("unix_micros(cast(ts as timestamp)) div 60000000") // µs
      }
      ev.groupBy(w.as("w"), col("event_type").as("key"))
        .agg(count(lit(1)).as("n"))
    }),
    "bbox_extent" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      s"map(@, '[$lonExpr, $latExpr]') | bbox(@)")),
    "centroid_mean" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      s"map(@, '[$lonExpr, $latExpr]') | bbox(@) | {cx: mean([@w, @e]), cy: mean([@s, @n])}")),

    // ---- §2.10 geo/tile (reference: geo/LongitudeToTile.go:14-16,
    //      geo/LatitudeToTile.go:14-17, named/named.go:22) ----
    "tile_stamp" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      s"map(@, '{event_id: @event_id, tx: tileX($lonExpr, 8), ty: tileY($latExpr, 8)}')")),
    "tile_hist" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      s"map(@, '{tx: tileX($lonExpr, 4), ty: tileY($latExpr, 4)}')")
      .groupBy("tx", "ty").agg(count(lit(1)).as("n"))),
    "tile_bounds" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "events"),
      s"map(@, '{event_id: @event_id, lon_w: round(tileToLongitude(tileX($lonExpr, 8), 8), 6), fy: flipY(tileY($latExpr, 8), 8)}')")),
    // PCA norm-preservation oracle: with the FULL basis (k = d), an
    // orthonormal rotation preserves every centered norm — so the
    // distributed projection's norms must equal DuckDB's directly-
    // computed ||x - mean|| (mean over the same rows; sampleN covers the
    // corpus at every sf). This checks centering, orthonormality, and
    // the codegen'd dot loop end-to-end; component ORDER is pinned by
    // the spec suite (variance ordering), which rotation can't fake.
    // ANN in the REDUCED space: project the planted-clique corpus to 16
    // PCA dims and probe. Identical vectors project identically, so the
    // 11-vector clique sits at cosine exactly 1.0 in ANY subspace, while
    // the max natural projected cosine is ≤ 0.731 at every sf (measured
    // via an independent eigen implementation) — top-10 is closed-form
    // {0, 100001..100009} by the (cos desc, id asc) tie-break. This is
    // the 4x-smaller-index serving shape pcaProject exists for.
    "ann_pca_topk" -> ((s, dir) => {
      val (corpus, _) = plantedCliqueCorpus(s, dir)
      val model = llm.Embeddings.pcaFit(corpus, "vec_id", "embedding", k = 16)
      val proj = llm.Embeddings.pcaProject(corpus, "vec_id", "embedding", model)
      val q = proj.filter(col("id") === 0).head().getSeq[Double](1)
      llm.Similarity.bruteForceTopK(proj, "id", "proj", q, 10)
    }),
    // the INDEXED serving shape over the reduced space: LSH index built
    // on the 16-dim projections (first call pays the build, warm calls
    // are pruned probes). The bit-identical projected clique sits at
    // Hamming 0 under any plane family, so recall is guaranteed and the
    // closed-form top-10 shares ann_pca_topk's oracle.
    "ann_pca_lsh" -> ((s, dir) => {
      val (corpus, _) = plantedCliqueCorpus(s, dir)
      val model = llm.Embeddings.pcaFit(corpus, "vec_id", "embedding", k = 16)
      val proj = llm.Embeddings.pcaProject(corpus, "vec_id", "embedding", model)
      val q = proj.filter(col("id") === 0).head().getSeq[Double](1)
      Ann.probe(Ann.Cached(proj, "id", "proj", s"$dir#ann_pca_lsh",
          Ann.Build("lsh", nBits = 8, partitionBits = 4)),
        Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(20)))
    }),
    "pca_norms" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val model = llm.Embeddings.pcaFit(emb, "vec_id", "embedding", k = 64)
      llm.Embeddings.pcaProject(emb, "vec_id", "embedding", model)
        .select(col("id").as("vec_id"),
          round(sqrt(aggregate(col("proj"), lit(0.0),
            (acc, x) => acc + x * x)), 4).as("pnorm"))
    }),
    "vec_norms" -> ((s, dir) => t(s, dir, "embeddings")
      .select(col("vec_id"),
        round(graft.functions.VectorF.norm(col("embedding")), 4).as("nrm"))),

    // ---- extensions beyond the reference surface: distributed aggregation
    //      (Spark gives partial+final agg for free; SURVEY.md §2.5 note) ----
    "q1_agg" -> ((s, dir) => t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("n"))),
    // ---- LLM-pipeline operators (project-brief extensions: dedup,
    //      similarity search, text analysis, multimodal plumbing) ----
    "text_fingerprint" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), llm.TextAnalysis.fingerprint(col("text")).as("fp"))),
    "pii_scrub" -> ((s, dir) => t(s, dir, "documents")
      // the synthetic corpus carries no PII, so the query PLANTS a
      // deterministic email/IP/phone tail per doc (mirrored in the
      // oracle SQL) — the scrub must redact exactly those and leave the
      // natural text byte-identical
      .select(col("doc_id"), llm.TextAnalysis.scrubPii(concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 or 555-123-4567 or +14155550"), (col("doc_id") % 100 + 100).cast("string")
      )).as("scrubbed"))),
    "token_counts" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        llm.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws"),
        llm.TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe"))),
    "lang_id" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), llm.TextAnalysis.langId(col("text")).as("lang_guess"))),
    // context-window chunking: 64-token chunks with 16-token overlap
    // (stride 48) — map-only, no shuffle
    "chunk_tokens" -> ((s, dir) =>
      llm.TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        n = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_ix").cast("long").as("chunk_ix"),
          col("chunk"))),
    "quality_score" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        round(llm.TextAnalysis.qualityScore(col("text"), col("n_chars")), 6).as("q"))),
    // compression-ratio quality signal (zlib — not SQL-replayable, so
    // the oracle is a planted ORDERING contract: repetitive text must
    // compress far below word-soup prose, prose below high-entropy hex,
    // and the whole corpus must score non-null in a sane band; exact
    // values are additionally spec-pinned)
    "compress_ratio" -> ((s, dir) => {
      import s.implicits._
      val rep = ("spark data " * 300).trim
      val vocab = Seq("the", "quick", "brown", "fox", "jumps", "over",
        "lazy", "dog", "table", "scan", "merge", "window", "batch",
        "stream", "filter", "join", "sort", "group", "query", "row",
        "value", "column", "vector")
      val prose = (0 until 300).map(i => vocab((i * 7 + i * i) % vocab.size))
        .mkString(" ")
      val rand = Iterator.iterate("graft-entropy-seed") { x =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(x.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      }.drop(1).take(100).mkString(" ")
      val planted = Seq((1L, rep), (2L, prose), (3L, rand))
        .toDF("doc_id", "text")
      val pr = llm.TextAnalysis.compressionStats(planted, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val ordered = pr(1L) < 0.15 && pr(1L) < pr(2L) && pr(2L) < pr(3L) &&
        pr(3L) > 0.4
      val corpus = llm.TextAnalysis.compressionStats(
        t(s, dir, "documents"), "doc_id", "text")
      val agg = corpus.agg(count(lit(1)), min(col("deflate_ratio")),
        max(col("deflate_ratio")),
        sum(when(col("deflate_ratio").isNull, 1).otherwise(0))).head()
      val corpusOk = agg.getLong(0) == t(s, dir, "documents").count() &&
        agg.getLong(3) == 0L && agg.getDouble(1) > 0.0 && agg.getDouble(2) <= 2.0
      Seq((ordered, corpusOk)).toDF("ordered_ok", "corpus_ok")
    }),
    // per-SOURCE curation: corpus-derived domain health + blocklist
    // filtering (the UT1/C4-domain-filter family). The filter row
    // plants a spam source (30 copies of one low-quality doc) that must
    // be blocked on its dup-rate while every organic source survives.
    "source_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.Sources.sourceStats(docs, "doc_id", "text", "source",
        round(llm.TextAnalysis.qualityScore(col("text"), col("n_chars")), 6))
    }),
    "source_filtered" -> ((s, dir) =>
      llm.Sources.sourceSurvivors(spamPlanted(t(s, dir, "documents")),
        "doc_id", "text", "source",
        round(llm.TextAnalysis.qualityScore(col("text"), col("n_chars")), 6))),
    // Gopher-style repetition signals — row-local column math, map-only
    "repetition_stats" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        round(llm.TextAnalysis.dupTokenFrac(col("text")), 6).as("dup_tok_frac"),
        round(llm.TextAnalysis.topBigramShare(col("text")), 6).as("top_bigram_share"))),
    // eval-set decontamination: docs with doc_id % 23 == 0 play the
    // held-out benchmark; the rest are the corpus. 8-gram overlap
    // (GPT-3-style); hits = distinct shared 8-grams per contaminated doc
    "decontam_hits" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.TextAnalysis.contaminationHits(
        docs.filter(col("doc_id") % 23 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 23 === 0), "text", n = 8)
        .select(col("doc_id"), col("hits"))
    }),
    "decontam_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.TextAnalysis.decontaminate(
        docs.filter(col("doc_id") % 23 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 23 === 0), "text", n = 8)
        .select(col("doc_id"))
    }),
    // surgical decontamination: contaminated SPANS scrubbed, every doc
    // survives (the quote-a-leaked-answer case)
    "decontam_scrub" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.TextAnalysis.scrubContamSpans(
        docs.filter(col("doc_id") % 23 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 23 === 0), "text", n = 8)
    }),
    // the bloom-prefiltered variant MUST give the identical answer (the
    // exact verify join removes every bloom false positive) — so it
    // shares decontam_clean's oracle SQL
    "decontam_bloom_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.TextAnalysis.decontaminateBloom(
        docs.filter(col("doc_id") % 23 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 23 === 0), "text", n = 8)
        .select(col("doc_id"))
    }),
    // deterministic hash sampling/splits (reproducible by id, no RNG
    // state): row-local codegen'd filters, trivially map-only
    "sample_hash" -> ((s, dir) =>
      llm.Sampling.sampleByHash(t(s, dir, "documents"), "doc_id", 0.1, seed = 42)
        .select(col("doc_id"))),
    // the same sampler over a STRING-keyed projection: the id-typed
    // bucket dispatch (md5-based hashBucketStr) keeps the deterministic
    // contract without minting a numeric id first
    "sample_hash_str" -> ((s, dir) =>
      llm.Sampling.sampleByHash(
        t(s, dir, "documents")
          .select(concat(lit("doc-"), col("doc_id")).as("sid")),
        "sid", 0.1, seed = 42)),
    "split_hash" -> ((s, dir) =>
      llm.Sampling.splitByHash(t(s, dir, "documents"), "doc_id",
        Seq(0.9, 0.05, 0.05), seed = 7)
        .select(col("doc_id"), col("split").cast("long").as("split"))),
    "stratified_sample" -> ((s, dir) =>
      llm.Sampling.stratifiedSampleByHash(t(s, dir, "documents"), "doc_id",
        "lang", Map("en" -> 0.5, "de" -> 0.2), defaultFraction = 0.05, seed = 1)
        .select(col("doc_id"), col("lang"))),
    // temperature mixing at alpha=0.5: f_d = sqrt(n_min/n_d) — IEEE-exact
    // division + sqrt, so DuckDB derives the identical thresholds
    "temperature_mix" -> ((s, dir) =>
      llm.Sampling.temperatureMix(t(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.5, seed = 11)
        .select(col("doc_id"), col("lang"))),
    // sequence packing for pretraining: concat-then-split layout over 32
    // hash buckets, 256-token sequences — per-bucket window arithmetic,
    // no global sort
    "pack_sequences" -> ((s, dir) =>
      llm.Packing.packSequential(t(s, dir, "documents"), "doc_id", "text",
        seqLen = 256)),
    // boundary-respecting next-fit packing (docs never split): stateful
    // per-bucket scan, not SQL-expressible → rows-only oracle check; the
    // capacity/completeness/determinism invariants are spec-checked
    "pack_greedy" -> ((s, dir) =>
      llm.Packing.packGreedy(t(s, dir, "documents"), "doc_id", "text",
        cap = 256)),
    // corpus-trained add-one unigram LM, per-doc cross-entropy (CCNet-
    // style quality signal)
    "lm_xent" -> ((s, dir) =>
      llm.TextAnalysis.lmUnigramScore(t(s, dir, "documents"), "doc_id", "text")),
    // interpolated bigram LM (λ = 0.7); the 1-λ literal renders as
    // (1.0 - 0.7) in BOTH engines so the IEEE subtraction is shared
    "lm_bigram_xent" -> ((s, dir) =>
      llm.TextAnalysis.lmBigramScore(t(s, dir, "documents"), "doc_id", "text",
        lambda = 0.7)),
    "dfl_lm_bigram" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "lmScore(@, '@doc_id', '@text', 'bigram')")
        .withColumnRenamed("id", "doc_id")),
    // Kneser-Ney bigram (D = 0.75): the continuation-count smoothing the
    // CCNet/KenLM ladder ships — distinct-context statistics, not raw
    // frequency, carry the unigram backoff
    "lm_kn_xent" -> ((s, dir) =>
      llm.TextAnalysis.lmKneserNeyScore(t(s, dir, "documents"), "doc_id",
        "text", discount = 0.75)),
    "dfl_lm_kn" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "lmScore(@, '@doc_id', '@text', 'kn')")
        .withColumnRenamed("id", "doc_id")),
    // TRIGRAM interpolated KN — the full Chen-Goodman backoff chain
    // (highest order on token counts, middle order on continuation
    // counts, unigram on bigram types), every statistic replayed
    "lm_kn3_xent" -> ((s, dir) =>
      llm.TextAnalysis.lmKneserNey3Score(t(s, dir, "documents"), "doc_id",
        "text", discount = 0.75)),
    "dfl_lm_kn3" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "lmScore(@, '@doc_id', '@text', 'kn3')")
        .withColumnRenamed("id", "doc_id")),
    // corpus top-V vocabulary (normalized tokens, deterministic rank)
    "vocab_top" -> ((s, dir) =>
      llm.TextAnalysis.vocabulary(t(s, dir, "documents"), "text", topV = 200)),
    // tokenize the corpus against its own top-200 vocabulary (OOV -> 0):
    // the model-input step after cleaning; both engines derive the vocab
    // from the data, so the row is fully self-contained
    "tokenize_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.TextAnalysis.tokenizeIds(docs, "doc_id", "text",
        llm.TextAnalysis.vocabulary(docs, "text", topV = 200))
    }),
    // per-doc top-k TF-IDF keywords (smooth idf, deterministic ties)
    "tfidf_top" -> ((s, dir) =>
      llm.TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
        k = 5)),
    // substring-level duplication (Lee et al.): 16-token windows repeated
    // anywhere in the corpus, counted per doc
    "window_dupes" -> ((s, dir) =>
      llm.TextAnalysis.windowDupStats(t(s, dir, "documents"), "doc_id", "text",
        w = 16)),
    "dedup_exact" -> ((s, dir) =>
      llm.Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),
    // duplicated-SPAN removal over a corpus with planted full copies
    // (doc_id%7 re-planted at +10000): the planted docs and their
    // originals scrub to empty, everything else keeps its text minus
    // naturally repeated 16-token windows
    "dedup_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      llm.TextAnalysis.removeDupSpans(
        docs.select(col("doc_id"), col("text")).unionByName(planted),
        "doc_id", "text", w = 16)
    }),
    // bucketed ingest + co-located join: both sides written
    // `bucketBy(doc_id)` into the session catalog, then equi-joined
    // WITHOUT any Exchange (spec-asserted on the physical plan) — the
    // pay-the-shuffle-once-at-ingest pattern that amortizes the common
    // document-id shuffle across every later pipeline run
    "bucketed_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      io.Bucketing.writeBucketed(docs.select("doc_id", "lang", "n_chars"),
        "graft_docs_bkt", "doc_id", 8)
      io.Bucketing.writeBucketed(
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_toks")),
        "graft_stats_bkt", "doc_id", 8)
      io.Bucketing.readTable(s, "graft_docs_bkt").hint("merge")
        .join(io.Bucketing.readTable(s, "graft_stats_bkt"), "doc_id")
    }),
    // content-defined chunking (LBFS-style, token-granular): row-local
    // boundary rule, md5 chunk fingerprints — the edit-robust dedup
    // primitive (fixed windows lose every hash under a 3-word prefix)
    "cdc_chunks" -> ((s, dir) =>
      llm.Cdc.chunks(t(s, dir, "documents"), "doc_id", "text")),
    // prefix-edited near-copies planted at +1000000: CDC boundaries
    // realign one cut past the edit, so the copies still share chunks
    "cdc_dup_chunks" -> ((s, dir) =>
      llm.Cdc.dupChunks(cdcPlanted(t(s, dir, "documents")), "doc_id", "text")),
    "dedup_cdc_pairs" -> ((s, dir) =>
      llm.Cdc.sharedPairs(cdcPlanted(t(s, dir, "documents")), "doc_id", "text")),
    // duplicated-chunk removal over the edited-copy corpus: the decision
    // shuffle carries (id, chunk_idx) only, the text surgery is a
    // row-local native rebuild at the scan
    "dedup_cdc_scrub" -> ((s, dir) =>
      llm.Cdc.scrubDupChunks(cdcPlanted(t(s, dir, "documents")), "doc_id", "text")),
    // the same CDC operators THROUGH the DFL surface (and sourceFilter —
    // quality there is the built-in composite over length(text), which
    // the oracle mirrors)
    "dfl_cdc_pairs" -> ((s, dir) => DflFrame.pipeline(
      cdcPlanted(t(s, dir, "documents")), "cdcPairs(@, '@doc_id', '@text')")),
    // the tuning knobs through the DFL surface: minShared=2 drops
    // single-chunk overlaps, maxDf=8 tightens the boilerplate guard —
    // both mirrored verbatim in the oracle's HAVING / df BETWEEN bounds
    "dfl_cdc_pairs_maxdf" -> ((s, dir) => DflFrame.pipeline(
      cdcPlanted(t(s, dir, "documents")),
      "cdcPairs(@, '@doc_id', '@text', 2, 8)")),
    "dfl_cdc_scrub" -> ((s, dir) => DflFrame.pipeline(
      cdcPlanted(t(s, dir, "documents")), "cdcScrub(@, '@doc_id', '@text')")),
    "dfl_source_filter" -> ((s, dir) => DflFrame.pipeline(
      spamPlanted(t(s, dir, "documents")),
      "sourceFilter(@, '@doc_id', '@text', '@source')")),
    // ---- the LLM dataset operators THROUGH the DFL surface (parser →
    //      DflFrame dataset-op dispatch → the same llm.* implementations):
    //      what a catalog Process runs via /services/{name}/exec ----
    "dfl_dedup" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "dedup(@, '@doc_id', '@text') | map(@, '{doc_id: @doc_id}')")),
    "dfl_near_dedup" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "nearDedup(@, '@doc_id', '@text', 0.8) | map(@, '{doc_id: @doc_id}')")),
    // transitive duplicate components through the DFL dispatch — the
    // same min-label-propagation CC as dedup_clusters
    "dfl_near_dup_clusters" -> ((s, dir) => DflFrame.pipeline(
      t(s, dir, "documents"),
      "nearDupClusters(@, '@doc_id', '@text', 0.8)")),
    // the scrubPii FUNCTION through the DFL row surface (planted email
    // tail, as in pii_scrub)
    "dfl_pii_scrub" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "map(@, \"{doc_id: @doc_id, scrubbed: scrubPii(@text + ' reach me: ' + string(@doc_id) + '@mail.example.org')}\")")),
    // deterministic sampling through the DFL dispatch (same hash as
    // sample_hash, so it shares that oracle SQL's formula)
    "dfl_sample" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "sample(@, '@doc_id', 0.1, 42) | map(@, '{doc_id: @doc_id}')")),
    // decontamination through the DFL dispatch: the benchmark corpus is a
    // dataset var (exactly how a catalog service would bind a second
    // datastore); same %23 split and 8-gram overlap as decontam_clean
    "dfl_dedup_against" -> ((s, dir) => {
      // cross-corpus dedup through the DFL dispatch: same split and
      // survivors as xdedup_survivors, via dedupAgainst(@,…,$ref)
      val docs = t(s, dir, "documents")
      DflFrame.pipeline(docs.filter(col("doc_id") % 3 =!= 0),
        "dedupAgainst(@, '@doc_id', '@text', $ref) | map(@, '{doc_id: @doc_id}')",
        Map("ref" -> docs.filter(col("doc_id") % 3 === 0)))
    }),
    "dfl_containment" -> ((s, dir) =>
      // subsumption dedup through the DFL dispatch: same survivors as
      // dedup_containment_survivors, via nearDedup(@,…,'containment')
      DflFrame.pipeline(t(s, dir, "documents"),
        "nearDedup(@, '@doc_id', '@text', 0.9, 'containment') | map(@, '{doc_id: @doc_id}')")),
    "dfl_dsir" -> ((s, dir) => {
      // DSIR resample through the DFL dispatch: same top-50 as
      // dsir_sample, target bound as a dataset var
      val docs = t(s, dir, "documents")
      DflFrame.pipeline(docs.filter(col("doc_id") % 23 =!= 0),
        "dsir(@, '@doc_id', '@text', $target, 50)",
        Map("target" -> docs.filter(col("doc_id") % 23 === 0)))
    }),
    "dfl_classify" -> ((s, dir) =>
      // linear-model serving through the DFL dispatch: the lr_score
      // fixed model, weights bound as a list exec variable
      DflFrame.pipeline(t(s, dir, "embeddings"),
        "classify(@, '@vec_id', '@embedding', $w, 0.05)",
        Map("w" -> lrFixedModel.weights.toSeq))),
    "dfl_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DflFrame.pipeline(docs.filter(col("doc_id") % 23 =!= 0),
        "decontam(@, '@doc_id', '@text', $bench, 8) | map(@, '{doc_id: @doc_id}')",
        Map("bench" -> docs.filter(col("doc_id") % 23 === 0)))
    }),
    // sequence packing through the DFL dispatch (same one-file formula
    // as pack_sequences, id aliased by the stage contract)
    "dfl_pack" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "pack(@, '@doc_id', '@text', 256)")),
    // corpus-trained LM scoring through the DFL dispatch
    "dfl_lm_score" -> ((s, dir) => DflFrame.pipeline(t(s, dir, "documents"),
      "lmScore(@, '@doc_id', '@text')")),
    "dfl_ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      DflFrame.pipeline(emb, "annTopK(@, '@vec_id', '@embedding', $q, 10)",
        Map("q" -> q))
    }),
    "dfl_ann_ivf" -> ((s, dir) => {
      // the INDEXED ANN lifecycle through the DFL front door: the shared
      // planted clique (plantedCliqueCorpus), but the topK stage runs via
      // DflFrame's `annTopK(…, 'ivf')` dispatch — build-once/probe-many
      // keyed by the pipeline's canonicalized plan, exactly what a
      // catalog service exec does.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      DflFrame.pipeline(corpus,
        "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf')", Map("q" -> q))
    }),
    // the CACHED-index DFL lifecycle twins: identical pipelines to their
    // direct-path siblings, but pinned to minBytes=0 so the fingerprint
    // memo + stamp-dir path stays bench- and oracle-visible at testdata
    // scale (the 32 MiB gate routes the plain rows to the direct paths
    // there — value-identical by contract, which these rows re-prove)
    "dfl_ann_ivf_indexed" -> ((s, dir) => withIndexAlways(s) {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      DflFrame.pipeline(corpus,
        "annTopK(@, '@vec_id', '@embedding', $q, 10, 'ivf')", Map("q" -> q))
    }),
    "dfl_ann_filtered_indexed" -> ((s, dir) => withIndexAlways(s) {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      DflFrame.pipeline(
        corpus.withColumn("flag", (col("vec_id") % 2).cast("int")),
        "annTopKFiltered(@, '@vec_id', '@embedding', $q, 5, '@flag == 0', 'ivf')",
        Map("q" -> q))
    }),
    "dfl_ann_batch_indexed" -> ((s, dir) => withIndexAlways(s) {
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      val qs: Seq[Seq[Any]] = queries.map { case (id, v) => Seq[Any](id, v) }
      DflFrame.pipeline(corpus,
        "annTopKBatch(@, '@vec_id', '@embedding', $qs, 10, 'ivf')", Map("qs" -> qs))
    }),
    "dfl_bm25_indexed" -> ((s, dir) => withIndexAlways(s) {
      DflFrame.pipeline(t(s, dir, "documents"),
        "bm25(@, '@doc_id', '@text', 'spark stream window', 10)")
    }),
    "dedup_jaccard_pairs" -> ((s, dir) =>
      llm.Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 0.8)),
    "dedup_minhash_pairs" -> ((s, dir) =>
      llm.Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text", 0.8)),
    "pipeline_curation" -> ((s, dir) => {
      // round-12 curation chain, composed the way an ingest runs:
      // subsumption dedup (drop documents contained in a larger one) →
      // DSIR target-domain resample of the survivors (top-100 most
      // target-like, deterministic Gumbel keys) — each stage's
      // standalone row is green; this row pins their COMPOSITION
      // value-for-value in one DuckDB CTE chain
      val docs = t(s, dir, "documents")
      // localCheckpoint: DSIR scans its source three times (source LM
      // counts, totals, per-doc tf) — without truncation each scan
      // re-runs the whole containment join
      val surv = llm.Dedup.containmentSurvivors(docs, "doc_id",
          llm.Dedup.containmentPairs(docs, "doc_id", "text", 0.9))
        .localCheckpoint()
      llm.Dsir.dsirResample(surv.filter(col("doc_id") % 23 =!= 0),
        docs.filter(col("doc_id") % 23 === 0), "doc_id", "text", k = 100)
    }),
    "bpe_learn" -> ((s, dir) => {
      // BPE tokenizer induction (Sennrich ACL'16): the planted textbook
      // vocabulary (low:5 lower:2 newest:6 widest:3) must learn the
      // hand-computed merge sequence — merge counts are exact integers
      // with a total tie order, so the table is closed-form; the real
      // corpus learn exercises the distributed loop (word table never
      // leaves the cluster)
      import s.implicits._
      val planted = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      // planted-contract and corpus trainings are independent — overlap
      // them on two driver threads (par2, guide §2.6), as in wp_learn
      val docs = t(s, dir, "documents")
      val (m, corpus) = par2(
        llm.Bpe.learnMerges(planted, "text", numMerges = 4),
        llm.Bpe.learnMerges(docs, "text", 8))
      val exact = m.map(x => (x.left, x.right, x.freq)) == Seq(
        ("e", "s", 9L), ("es", "t</w>", 9L), ("l", "o", 7L), ("e", "w", 6L))
      val corpusOk = corpus.size == 8 &&
        corpus.map(x => (x.left, x.right)).distinct.size == 8
      Seq((exact, corpusOk)).toDF("merges_exact", "corpus_ok")
    }),
    "bpe_segment" -> ((s, dir) => {
      // segmentation replays corpus-learned merges per word (chained
      // native MergeAdjacent passes): every document re-emits with a
      // positive piece count, and the textbook merge table (hand-known —
      // bpe_learn's contract pins that learning reproduces it) segments
      // "lowest" exactly
      import s.implicits._
      val tm = Seq(llm.Bpe.Merge(0, "e", "s", 9L),
        llm.Bpe.Merge(1, "es", "t</w>", 9L), llm.Bpe.Merge(2, "l", "o", 7L),
        llm.Bpe.Merge(3, "e", "w", 6L))
      val ex = llm.Bpe.segment(Seq((1L, "lowest")).toDF("doc_id", "text"),
        "doc_id", "text", tm).head().getString(2) == "lo w est</w>"
      val docs = t(s, dir, "documents")
      val cm = bpeArtifact(s, docs, dir, byteLevel = false)
      val seg = llm.Bpe.segment(docs, "doc_id", "text", cm)
      val nDocs = docs.filter(length(trim(col("text"))) > 0).count()
      val covered = seg.filter(col("n_pieces") > 0).count() == nDocs
      Seq((ex, covered)).toDF("planted_exact", "corpus_covered")
    }),
    "lr_score" -> ((s, dir) =>
      // linear-classifier inference (the fastText-style quality-filter
      // gate) with a FIXED model, so the sigmoid(w·x+b) projection is
      // exactly SQL-replayable; one codegen'd dot per row, no shuffle
      llm.Classifier.lrScore(t(s, dir, "embeddings"), "vec_id", "embedding",
        lrFixedModel)),
    "lr_train" -> ((s, dir) => {
      // distributed full-batch GD training contract: labels come from a
      // FIXED linear direction of the embedding (alternating ±1), so the
      // task is linearly separable by construction and a correct trainer
      // must recover the boundary — a balanced task (pos rate ≈ 0.5), so
      // the floor is far above the majority-class baseline. Weights
      // aren't engine-replayable (float summation order) — contract row,
      // as for the PQ/IVF family.
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val r = Array.tabulate(64)(d => if (d % 2 == 0) 1.0 else -1.0)
      val train = emb.withColumn("y",
        (functions.VectorF.dot(col("embedding"), typedLit(r.toSeq)) > 0)
          .cast("int"))
      val model = llm.Classifier.lrTrain(train, "embedding", "y",
        iters = 30, lr = 5.0)
      val acc = llm.Classifier.accuracy(train, "vec_id", "embedding", "y", model)
      Seq(Tuple1(acc >= 0.85)).toDF("learned")
    }),
    "dsir_scores" -> ((s, dir) => {
      // DSIR (Xie et al. NeurIPS'23): log importance weight of every
      // source doc under target-vs-source hashed-bigram LMs; target =
      // the doc_id % 23 == 0 slice (the same "benchmark domain" split
      // the decontam rows use)
      val docs = t(s, dir, "documents")
      llm.Dsir.dsirScores(
        docs.filter(col("doc_id") % 23 =!= 0),
        docs.filter(col("doc_id") % 23 === 0), "doc_id", "text")
    }),
    "dsir_sample" -> ((s, dir) => {
      // deterministic Gumbel-top-k resample of the 50 most target-like
      // source docs
      val docs = t(s, dir, "documents")
      llm.Dsir.dsirResample(
        docs.filter(col("doc_id") % 23 =!= 0),
        docs.filter(col("doc_id") % 23 === 0), "doc_id", "text", k = 50)
    }),
    "dfl_dsir_serve" -> ((s, dir) => {
      // the frozen-model serve path through the DFL dispatch: fit once,
      // bind the (b, lr) table as a dataset var, score via dsirScore —
      // values identical to the one-shot dsir_scores row
      val docs = t(s, dir, "documents")
      val model = llm.Dsir.fit(
        docs.filter(col("doc_id") % 23 =!= 0),
        docs.filter(col("doc_id") % 23 === 0), "text")
      DflFrame.pipeline(docs.filter(col("doc_id") % 23 =!= 0),
        "dsirScore(@, '@doc_id', '@text', $model)",
        Map("model" -> model))
    }),
    "dedup_soft_weights" -> ((s, dir) =>
      // soft dedup: inverse-duplicate-group loss weights instead of
      // removal — a d-times-duplicated doc contributes total weight 1
      llm.Dedup.softDedupWeights(t(s, dir, "documents"), "doc_id", "text")),
    "dedup_containment_pairs" -> ((s, dir) =>
      // asymmetric near-SUBSET pairs (|A∩B|/|A| ≥ 0.9): excerpts and
      // wrapped copies whose Jaccard is diluted by the container's size
      llm.Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", 0.9)),
    "dedup_containment_survivors" -> ((s, dir) => {
      // subsumption dedup: drop documents contained in a strictly larger
      // (or equal-sized smaller-id) document
      val docs = t(s, dir, "documents")
      llm.Dedup.containmentSurvivors(docs, "doc_id",
          llm.Dedup.containmentPairs(docs, "doc_id", "text", 0.9))
        .select("doc_id")
    }),
    // CROSS-CORPUS dedup: the new-crawl-vs-previous-snapshot shape.
    // The corpus splits deterministically on doc_id % 3 — "reference"
    // (retained training set) = multiples of 3, "new crawl" = the rest —
    // so planted near-dup families in the testdata straddle the split
    // and the pair set is non-trivial at every sf.
    "xdedup_jaccard_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.Dedup.jaccardPairsAgainst(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", 0.8)
    }),
    "xdedup_containment_pairs" -> ((s, dir) => {
      // new-crawl docs ≥0.9-contained in a retained-snapshot doc — the
      // asymmetric cross relation the symmetric cross-jaccard misses
      // when the container is much larger
      val docs = t(s, dir, "documents")
      llm.Dedup.containmentPairsAgainst(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", 0.9)
    }),
    "dfl_xcontainment" -> ((s, dir) => {
      // the same relation as survivors through the DFL dispatch: any
      // left row contained in the reference drops
      val docs = t(s, dir, "documents")
      DflFrame.pipeline(docs.filter(col("doc_id") % 3 =!= 0),
        "dedupAgainst(@, '@doc_id', '@text', $ref, 0.9, 'containment') | map(@, '{doc_id: @doc_id}')",
        Map("ref" -> docs.filter(col("doc_id") % 3 === 0)))
    }),
    "xdedup_minhash_pairs" -> ((s, dir) => {
      // banded cross variant; same exact-set oracle as the self-join
      // minhash rows (recall 1-1e-14 at 64/2 banding, exact verify)
      val docs = t(s, dir, "documents")
      llm.Dedup.minhashPairsAgainst(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", 0.8)
    }),
    "xdedup_survivors" -> ((s, dir) => {
      // new-crawl rows with NO near-dup in the reference snapshot: every
      // matched left row drops (the reference side is retained by
      // definition — no keep-smallest arbitration, unlike dedup_survivors)
      val docs = t(s, dir, "documents")
      val newDocs = docs.filter(col("doc_id") % 3 =!= 0)
      val refDocs = docs.filter(col("doc_id") % 3 === 0)
      llm.Dedup.survivorsAgainst(newDocs, "doc_id",
          llm.Dedup.minhashPairsAgainst(newDocs, refDocs, "doc_id", "text", 0.8))
        .select("doc_id")
    }),
    "xdedup_exact" -> ((s, dir) => {
      // cheap first pass: drop new-crawl rows whose normalized-text
      // fingerprint already exists in the reference snapshot
      val docs = t(s, dir, "documents")
      llm.Dedup.exactSurvivorsAgainst(
          docs.filter(col("doc_id") % 3 =!= 0),
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
        .select("doc_id")
    }),
    "embed_mean_pool" -> ((s, dir) => {
      // chunk→document pooling: vectors sharing vec_id % 50 pool to one
      // per-dimension mean vector. The oracle row unpivots the pooled
      // array to scalar (g, pos, v) rows — list cells break the
      // driver's compare (the embed_quantize precedent), and doubles
      // must stay typed, not stringified
      val emb = t(s, dir, "embeddings")
      llm.Embeddings.meanPool(
          emb.select((col("vec_id") % 50).as("g"), col("embedding")),
          "g", "embedding")
        .select(col("g"), col("n_chunks"),
          posexplode(col("pooled")).as(Seq("pos", "v")))
    }),
    "dfl_join" -> ((s, dir) => {
      // plain equi-join through the DFL dispatch: orders enriched with
      // their customer's market segment, then a segment histogram
      val orders = t(s, dir, "orders")
      DflFrame.pipeline(orders,
        "join(@, $cust, '@o_custkey', '@c_custkey') | hist(@, '@c_mktsegment')",
        Map("cust" -> t(s, dir, "customer")))
    }),
    "dfl_freq_items" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"), "freqItems(@, '@lang', 64)")),
    "hash_embed" -> ((s, dir) =>
      // feature-hashing text embedding, dim 16, unpivoted to scalar
      // (doc_id, pos, v) rows for the compare (list cells break it)
      llm.TextAnalysis.hashEmbed(t(s, dir, "documents"), "doc_id", "text", 16)
        .select(col("doc_id"), posexplode(col("vec")).as(Seq("pos", "v")))),
    "lr_text_score" -> ((s, dir) =>
      // the full text→classifier serving loop with an EXACT oracle:
      // hashed token-count features (hashEmbed, engine-exact md5
      // buckets) scored by a fixed 16-dim linear model — what a
      // fastText-style quality gate does to raw documents
      llm.Classifier.lrScore(
        llm.TextAnalysis.hashEmbed(t(s, dir, "documents"), "doc_id", "text", 16),
        "doc_id", "vec", lrTextModel)),
    "collocations" -> ((s, dir) =>
      llm.TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minCount = 5, topK = 50)),
    "freq_items" -> ((s, dir) =>
      // Misra–Gries heavy hitters over lang, capacity 64 ≥ distinct
      // langs → the no-decrement regime where the summary is provably
      // EXACT and order-independent (the skew guarantee at small
      // capacity is spec-pinned, not oracled — counts there are
      // arrival-order-dependent lower bounds)
      t(s, dir, "documents")
        .agg(functions.FreqF.freqItems(col("lang"), 64).as("hh"))
        .select(posexplode(col("hh")).as(Seq("pos", "e")))
        .select(col("pos"), col("e.item").as("item"), col("e.cnt").as("cnt"))),
    "dfl_pool" -> ((s, dir) => {
      // the pool stage through the DFL dispatch; the pooled vector is
      // checked through its norm (scalar rendering — list cells break
      // the driver's compare)
      val emb = t(s, dir, "embeddings")
      DflFrame.pipeline(
        emb.select((col("vec_id") % 50).as("g"), col("embedding")),
        "pool(@, '@g', '@embedding') | map(@, '{g: @g, n_chunks: @n_chunks, pnorm: round(vecNorm(@pooled), 6)}')")
    }),
    "feature_scaling" -> ((s, dir) => {
      // robust numeric feature prep over document length: winsorize to
      // the [5%, 95%] percentiles, z-score, min-max — each one small
      // stats aggregation broadcast into a row-local projection
      // (util.Stats; the quantile_filter scalar-broadcast shape)
      val d = t(s, dir, "documents")
      util.Stats.minmax(util.Stats.zscore(
          util.Stats.winsorize(d, "n_chars", 0.05, 0.95), "n_chars"), "n_chars")
        .select("doc_id", "n_chars_w", "n_chars_z", "n_chars_mm")
    }),
    "unicode_norm" -> ((s, dir) =>
      // byte canonicalization ahead of fingerprint/shingle matching:
      // NFC + accent strip over text with planted decomposed accents,
      // precomposed umlauts, and (untouched) compatibility ligatures —
      // value-for-value vs DuckDB's nfc_normalize + strip_accents
      t(s, dir, "documents").select(col("doc_id"),
        functions.UnicodeNormF.unicodeNorm(
          concat(col("text"), lit(" café naïve mühle ﬁn œuf")),
          "NFC", stripAccents = true).as("norm_text"))),
    "shard_assign" -> ((s, dir) =>
      // balanced output-shard assignment over the documents table,
      // weight = n_chars, ~100k chars per shard — the write-time layout
      // of a training corpus (feed to a partitionBy("shard") writer)
      llm.Sampling.shardAssign(t(s, dir, "documents"), "doc_id", "n_chars",
          100000L)
        .select("doc_id", "shard")),
    "dfl_shard" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "shard(@, '@doc_id', '@n_chars', 100000) | map(@, '{doc_id: @doc_id, shard: @shard}')")),
    "ann_pq_topk" -> ((s, dir) => {
      // product quantization (Jégou PAMI'11): 8 bytes/vector at m=8
      // (32x), ADC scoring as table lookups. Codes aren't replayable by
      // another engine (seeded k-means codebooks), so the registered
      // output is the CONTRACT, as for approx_distinct_users: the
      // planted clique ties at the ADC top EXACTLY (identical vectors
      // share codes — closed-form), plus a recall floor vs brute force
      // on a natural query.
      import s.implicits._
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val model = llm.Pq.pqTrain(corpus, "vec_id", "embedding", m = 8, k = 64)
      // two ADC probes + nothing else reads the codes: cache the 8-byte
      // rows so the encode scan runs once, not per probe
      val codes = llm.Pq.pqEncode(corpus, "vec_id", "embedding", model).cache()
      try {
        val top = llm.Pq.pqTopK(codes, model, q, 11)
          .collect().map(_.getLong(0)).toSet
        val clique = (Set(0L) ++ (1L to 10L).map(_ + 100000L))
        val qn = t(s, dir, "embeddings").filter(col("vec_id") === 3)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble)
        val exact = llm.Similarity.bruteForceTopK(corpus, "vec_id", "embedding", qn, 10)
          .collect().map(_.getLong(0)).toSet
        val pq = llm.Pq.pqTopK(codes, model, qn, 10)
          .collect().map(_.getLong(0)).toSet
        Seq((top == clique, (exact & pq).size >= 3))
          .toDF("clique_exact", "recall_floor")
      } finally codes.unpersist()
    }),
    "dfl_ann_pq" -> ((s, dir) => {
      // PQ through the DFL dispatch (ad-hoc trained codebooks): same
      // clique-exactness contract as ann_pq_topk, exercised via
      // annTopK(@, …, 'pq')
      import s.implicits._
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val top = DflFrame.pipeline(corpus,
          "annTopK(@, '@vec_id', '@embedding', $q, 11, 'pq', 64)",
          Map("q" -> q))
        .collect().map(_.getLong(0)).toSet
      val clique = Set(0L) ++ (1L to 10L).map(_ + 100000L)
      Seq(Tuple1(top == clique)).toDF("clique_exact")
    }),
    "ann_ivfpq_topk" -> ((s, dir) => {
      // the compressed+pruned serving shape: IVF lists of PQ codes,
      // centroid-guided partition-pruned probe, ADC scoring. Contract
      // registration (codebooks aren't engine-replayable): identical
      // planted vectors co-assign and share codes, so nprobe=1 serves
      // the whole clique exactly.
      import s.implicits._
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      // build-once (fingerprint-keyed durable tmp dir, like the float
      // index rows): the first call pays the staged build, warm passes
      // are probe-only partition-pruned ADC scans
      val idxDir = memoIndexDir(dir, "ivfpq")(
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", _,
          kLists = 8, m = 8, k = 16))
      val top = Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(11), tuning = Some(1)))
        .collect().map(_.getLong(0)).toSet
      val clique = Set(0L) ++ (1L to 10L).map(_ + 100000L)
      Seq(Tuple1(top == clique)).toDF("clique_exact")
    }),
    "ann_opq_topk" -> ((s, dir) => {
      // the OPQ encoding state (Ge et al. CVPR'13): residual codes under
      // a learned orthogonal rotation, probed through the same pruned
      // ADC matrix. Contract registration like the other ivfpq rows:
      // identical planted vectors share ROTATED codes, so nprobe=1
      // serves the clique exactly — plus the in-row fidelity check that
      // the rotation did not loosen the reconstruction the independent
      // decode sees (PqSpec pins the full recall/orthogonality law).
      import s.implicits._
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "opq")(
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", _,
          kLists = 8, m = 8, k = 16, opq = true))
      val top = Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(11), tuning = Some(1)))
        .collect().map(_.getLong(0)).toSet
      val clique = Set(0L) ++ (1L to 10L).map(_ + 100000L)
      val enc = s.read.parquet(s"$idxDir/codebooks")
        .select("enc").head().getString(0)
      Seq(Tuple1(top == clique && enc == "opq")).toDF("clique_exact")
    }),
    "ann_ivfpq_refined" -> ((s, dir) => {
      // the FAISS refine pattern over a keepVectors index: compressed
      // ADC nominates k×factor candidates, TRUE cosines from the float
      // sidecar rerank. Because the reranked scores are exact, this row
      // gets the REAL brute-force oracle (value-for-value), not the
      // planted SELECT-true contract the reconstruction-cosine rows
      // need — the clique fills the top-10 at cos 1.0 in both engines.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ivfpq-refined")(
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", _,
          kLists = 8, m = 8, k = 16, keepVectors = true))
      Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(1), refine = Some(4)))
    }),
    "ann_opq_refined" -> ((s, dir) => {
      // OPQ hash-anchored END-TO-END: the rotated-codes index nominates
      // through the rotated ADC tables, the float sidecar reranks with
      // TRUE cosines — so unlike ann_opq_topk (whose reconstruction
      // cosines no other engine can re-derive), this row takes the REAL
      // brute-force oracle value-for-value. A broken rotation (encode/
      // probe-side mismatch, mis-fenced retrain) would mis-nominate and
      // break the hash; the DuckDB compare sees it.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "opq-refined")(
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", _,
          kLists = 8, m = 8, k = 16, opq = true, keepVectors = true))
      Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(1), refine = Some(4)))
    }),
    "ann_ivfpq_filtered_refined" -> ((s, dir) => {
      // the FILTERED + REFINED serving shape (closes the refine matrix):
      // the pred-filtered widening loop NOMINATES with compressed ADC at
      // k×factor, true cosines from the sidecar rerank — answers are
      // exact cosines over eligible rows, so the REAL filtered
      // brute-force oracle applies (the unfiltered refined rows'
      // contract upgrade, now under a predicate).
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ivfpq-frefined")(
        llm.Pq.ivfPqBuild(
          corpus.withColumn("flag", (col("vec_id") % 2).cast("int")),
          "vec_id", "embedding", _, kLists = 8, m = 8, k = 16,
          keepVectors = true, metaCols = Seq("flag")))
      Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(1),
          refine = Some(4)))
    }),
    "ann_ivfpq_range_refined" -> ((s, dir) => {
      // the REFINED range contract: ADC nominates at a LOOSENED
      // reconstruction threshold, the sidecar verifies the true cosine
      // against the real threshold (PPJoin filter-verify). Answers are
      // exact, so the REAL brute-force range oracle applies — the
      // unrefined range rows keep their planted reconstruction
      // contracts. At 0.99 only the clique qualifies (clique true
      // cosines are exactly 1.0; no natural vector reaches 0.99), and
      // the generous slack keeps quantization error out of nomination.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ivfpq-refined")(
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", _,
          kLists = 8, m = 8, k = 16, keepVectors = true))
      Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.Range(0.99), tuning = Some(1), refine = Some(10)))
    }),
    "ann_ivfpq_filtered" -> ((s, dir) => {
      // the compressed FILTERED serving shape: flag metadata rides into
      // the code lists, the predicate pushes into the pruned ADC read,
      // nprobe widens until k eligible survive. Contract (as the other
      // ivfpq rows): the even-id clique slice shares the query's codes
      // and list, so the filtered top-6 at nprobe=1 is exactly it.
      import s.implicits._
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ivfpq-filtered")(
        llm.Pq.ivfPqBuild(
          corpus.withColumn("flag", (col("vec_id") % 2).cast("int")),
          "vec_id", "embedding", _, kLists = 8, m = 8, k = 16,
          metaCols = Seq("flag")))
      val top = Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(6), filter = Some(col("flag") === 0), tuning = Some(1)))
        .collect().map(_.getLong(0)).toSet
      val evenClique = Set(0L) ++ (1L to 5L).map(r => 100000L + 2 * r)
      Seq(Tuple1(top == evenClique)).toDF("filtered_clique_exact")
    }),
    "ann_ivfpq_append" -> ((s, dir) => {
      // the IVFPQ append lifecycle under the clique contract: build over
      // the corpus PREFIX (codebooks + centroids trained there, vec 0 —
      // the query's original — included), append the remainder with
      // FROZEN codebooks/centroids. Every appended clique row is a
      // bit-identical copy of the query vector, so it encodes to row 0's
      // exact codes and assigns to row 0's list — the rank-0 probe list
      // — and the ADC top-11 at nprobe=1 is exactly the clique.
      import s.implicits._
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = appendLifecycleIndex(dir, "ivfpq-append", corpus)(
        (prefix, d) => llm.Pq.ivfPqBuild(prefix, "vec_id", "embedding", d,
          kLists = 8, m = 8, k = 16),
        (rest, d) => Ann.append(rest, "vec_id", "embedding", d))
      val top = Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(11), tuning = Some(1)))
        .collect().map(_.getLong(0)).toSet
      val clique = Set(0L) ++ (1L to 10L).map(_ + 100000L)
      Seq(Tuple1(top == clique)).toDF("clique_exact")
    }),
    "ann_ivfpq_batch" -> ((s, dir) => {
      // BATCHED compressed serving: one pruned union read over all
      // queries' nprobe lists, every code row ADC-scored against the
      // whole query matrix in one native PqAdcDots loop, per-query
      // membership filters (batch ≡ per-query ivfpq probes). Contract (as
      // the other ivfpq rows — codebooks aren't engine-replayable): each
      // query's planted clique shares its codes AND rank-0 list, so each
      // per-qid top-11 at nprobe=1 is exactly that query's clique.
      import s.implicits._
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ivfpq-batch")(
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", _,
          kLists = 8, m = 8, k = 16))
      val got = Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.Batch(queries), Ann.TopK(11), tuning = Some(1)))
        .collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val ok = queries.forall { case (qid, _) =>
        got.getOrElse(qid, Set.empty) ==
          (Set(qid) ++ (1L to 10L).map(100000L + qid * 100L + _))
      }
      Seq(Tuple1(ok)).toDF("batch_clique_exact")
    }),
    "ann_ivfpq_range" -> ((s, dir) => {
      // the compressed RANGE probe: every id in the probed lists whose
      // RECONSTRUCTED cosine clears the threshold (the documented
      // approximate contract — cos(q, v̂), computed exactly from codes
      // via ADC table algebra). Two independent verifications, both
      // engine-side: (1) set equality against a full DECODE of the
      // probed lists (transform/element_at reconstruction + exact
      // VectorF cosine — different algebra, same definition), (2) the
      // planted clique is in range at a threshold derived from the
      // query's own reconstruction cosine (clique rows share v̂).
      import s.implicits._
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      // SHARES ann_ivfpq_topk's memo dir and params — one build serves
      // top-k and range, the ivf/lsh convention
      val idxDir = memoIndexDir(dir, "ivfpq")(
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", _,
          kLists = 8, m = 8, k = 16))
      val idx = llm.Pq.ivfPqMeta(s, idxDir)
      val nprobe = 4
      // threshold from the query's own reconstruction: read vec 0's
      // STORED (list, codes) — the clique shares them bit-for-bit — and
      // decode driver-side (one row)
      val qArr = q.toArray
      val row0 = idx.vectors.filter(col("id") === 0L)
        .select("list", "codes").head()
      val qList = row0.getInt(0)
      val qRecon = {
        val m = idx.model.m; val sub = idx.model.subDim
        val codes0 = row0.getSeq[Byte](1)
        val r = new Array[Double](m * sub)
        for (mi <- 0 until m) {
          val cw = idx.model.codebooks(mi)(codes0(mi) & 0xFF)
          for (j <- 0 until sub) r(mi * sub + j) = cw(j) +
            (if (idx.residual) idx.centroids(qList)(mi * sub + j) else 0.0)
        }
        r
      }
      val qn = math.sqrt(qArr.map(x => x * x).sum)
      val rn = math.sqrt(qRecon.map(x => x * x).sum)
      val cliqueCos = qArr.zip(qRecon).map { case (a, b) => a * b }.sum / (qn * rn)
      val minCos = math.max(-0.99, cliqueCos - 0.05)
      val got = Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.Range(minCos), tuning = Some(nprobe)))
      // independent engine-side verify: full decode of the probed lists
      val lists = llm.Similarity.nearestLists(idx.centroids, qArr, nprobe)
      val cbLit = typedLit(idx.model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      val centsLit = typedLit(idx.centroids.map(_.toSeq).toSeq)
      val recon0 = flatten(transform(col("codes"), (c, i) =>
        element_at(element_at(cbLit, i + 1),
          pmod(c.cast("int"), lit(256)) + 1)))
      val recon =
        if (idx.residual)
          zip_with(recon0, element_at(centsLit, col("list") + 1), (a, b) => a + b)
        else recon0
      val qLit = typedLit(q)
      val expect = idx.vectors
        .filter(col("list").isin(lists.map(Integer.valueOf): _*))
        .select(col("id"), recon.as("recon"))
        .withColumn("rn", functions.VectorF.norm(col("recon")))
        .filter(col("rn") > 0)
        .select(col("id"),
          round(functions.VectorF.dot(col("recon"), qLit) / (col("rn") * qn), 6)
            .as("cos"))
        .filter(col("cos") >= minCos)
      val setExact =
        got.select("id").exceptAll(expect.select("id")).isEmpty &&
        expect.select("id").exceptAll(got.select("id")).isEmpty
      val clique = Set(0L) ++ (1L to 10L).map(_ + 100000L)
      val cliqueIn = clique.subsetOf(
        got.select("id").collect().map(_.getLong(0)).toSet)
      Seq((setExact, cliqueIn)).toDF("range_set_exact", "clique_in_range")
    }),
    "dfl_scale" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "scale(@, '@n_chars', 'zscore') | map(@, '{doc_id: @doc_id, scaled: @scaled}')")),
    "weighted_sample" -> ((s, dir) =>
      // quality-weighted deterministic sampling: keep ∝ n_chars at 30%
      // expected rate; the normalizing scalar broadcasts and the keep
      // boundary is rendered identically in the oracle
      llm.Sampling.sampleByWeight(t(s, dir, "documents"),
        "doc_id", "n_chars", 0.3).select("doc_id", "n_chars")),
    "pipeline_perplexity_filter" -> ((s, dir) => {
      // the CCNet gate: score every doc against the corpus's own unigram
      // LM, drop the worst-perplexity quartile. The threshold is one
      // exact percentile over the ROUNDED scores (engine-exact boundary,
      // the quantile_filter pattern) broadcast into a row-local filter.
      val docs = t(s, dir, "documents")
      val scored = llm.TextAnalysis.lmUnigramScore(docs, "doc_id", "text")
      val thr = scored.agg(percentile(col("xent"), lit(0.75)).as("thr"))
      scored.crossJoin(broadcast(thr))
        .filter(col("xent") <= col("thr"))
        .select("doc_id", "xent")
    }),
    "snapshot_diff" -> ((s, dir) => {
      // corpus-versioning diff between two synthesized snapshots of the
      // documents table: old = all but doc_id%5==1; new = all but
      // doc_id%5==2, with text edited for doc_id%7==0 — so added rows
      // are %5==1, removed %5==2, changed the %7==0 of the overlap
      val (oldSnap, newSnap) = snapshots(s, dir)
      util.Snapshot.diff(oldSnap, newSnap, "doc_id", Seq("text", "lang"))
    }),
    "snapshot_diff_stats" -> ((s, dir) => {
      val (oldSnap, newSnap) = snapshots(s, dir)
      util.Snapshot.diffStats(oldSnap, newSnap, "doc_id", Seq("text", "lang"))
    }),
    "dfl_diff" -> ((s, dir) => {
      // the same diff through the DFL dispatch (text-only compare)
      val (oldSnap, newSnap) = snapshots(s, dir)
      DflFrame.pipeline(newSnap, "diff(@, '@doc_id', '@text', $old)",
        Map("old" -> oldSnap))
    }),
    "pipeline_incremental_ingest" -> ((s, dir) => {
      // THE INCREMENTAL INGEST: what actually runs when a new crawl
      // lands next to an existing training corpus, composed from this
      // round's operators in one plan — (1) snapshot diff finds the rows
      // worth processing (added + changed; the unchanged 100 TB mass is
      // never touched past the diff join), (2) cross-corpus near-dedup
      // drops fresh rows that near-duplicate RETAINED old rows (a
      // trivially-edited doc is not new data), (3) the survivors get
      // balanced output shards for the incremental write.
      val (oldSnap, newSnap) = snapshots(s, dir)
      // lazy localCheckpoint: `fresh` feeds the cross-corpus pair scan
      // AND the survivors anti-join — without truncation the snapshot
      // diff join ran once per consumer
      val fresh = newSnap.join(
        util.Snapshot.diff(oldSnap, newSnap, "doc_id", Seq("text", "lang"))
          .filter(col("change") =!= "removed").select("doc_id"),
        Seq("doc_id"))
        .localCheckpoint(eager = false)
      val surv = llm.Dedup.survivorsAgainst(fresh, "doc_id",
        llm.Dedup.minhashPairsAgainst(fresh, oldSnap, "doc_id", "text", 0.8))
      llm.Sampling.shardAssign(surv, "doc_id", "n_chars", 50000L)
        .select("doc_id", "shard")
    }),
    "dedup_clusters" -> ((s, dir) =>
      // transitive duplicate components over the MinHash pair set (same
      // pair set = exact-jaccard set at these parameters); (id, rep)
      llm.Dedup.duplicateClusters(
        llm.Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text", 0.8))),
    "dedup_cluster_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.Dedup.clusterSurvivors(docs, "doc_id",
        llm.Dedup.minhashPairs(docs, "doc_id", "text", 0.8))
        .select("doc_id")
    }),
    "dedup_survivors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.Dedup.survivors(docs, "doc_id",
        llm.Dedup.minhashPairs(docs, "doc_id", "text", 0.8))
        .select("doc_id")
    }),
    "pipeline_clean_corpus" -> ((s, dir) => {
      // the end-to-end training-data shape: quality gate → near-dup
      // removal (minhash survivors) → per-doc token counts. Composes
      // three LLM-pipeline operators in one plan: the quality filter is a
      // codegen'd projection at the scan, dedup pairs come from banding,
      // and the final projection is one native expression per column.
      val docs = t(s, dir, "documents")
      val clean = docs.filter(
        round(llm.TextAnalysis.qualityScore(col("text"), col("n_chars")), 6) >= 0.5)
      llm.Dedup.survivors(clean, "doc_id",
          llm.Dedup.minhashPairs(clean, "doc_id", "text", 0.8))
        .select(col("doc_id"),
          llm.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws"))
    }),
    "pipeline_train_corpus" -> ((s, dir) => {
      // the FULL modern training-data shape, one plan: quality gate →
      // near-dup survivors → eval-set decontamination → deterministic
      // 50% sample → token counts. Every stage is the library operator
      // the standalone rows check; the composition is what a real
      // pre-training ingest runs.
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 23 === 0)
      val clean = docs
        .filter(round(llm.TextAnalysis.qualityScore(col("text"), col("n_chars")), 6) >= 0.5)
        .filter(col("doc_id") % 23 =!= 0)
      // lazy localCheckpoint: decontaminate consumes its corpus twice
      // (the hits scan + the anti-join left side) — without truncation
      // the quality→minhash-survivors chain ran once per consumer
      val surv = llm.Dedup.survivors(clean, "doc_id",
        llm.Dedup.minhashPairs(clean, "doc_id", "text", 0.8))
        .localCheckpoint(eager = false)
      // localCheckpoint: temperatureMix scans its input twice (domain
      // counts + the keep filter) — without truncation each scan re-runs
      // the dedup + decontamination chain
      val dec = llm.TextAnalysis.decontaminate(surv, "doc_id", "text", bench, "text", 8)
        .localCheckpoint()
      // domain rebalance of the decontaminated pool (alpha=0.5), THEN
      // the deterministic 50% sample — mixing thresholds derive from the
      // post-decontamination lang counts, as a real ingest would
      val mixed = llm.Sampling.temperatureMix(dec, "doc_id", "lang",
        alpha = 0.5, seed = 13)
      llm.Sampling.sampleByHash(mixed, "doc_id", 0.5, seed = 11)
        .select(col("doc_id"),
          llm.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws"))
    }),
    // tokenizer round-trip: decode(segment(text, merges)) must equal the
    // normalized text for EVERY document and ANY merge table (BPE merges
    // only concatenate) — a hard value oracle with no contract rows
    "bpe_decode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeArtifact(s, docs, dir, byteLevel = false)
      llm.Bpe.decode(
        llm.Bpe.segment(docs, "doc_id", "text", merges), "id", "pieces")
    }),
    // BYTE-level tokenizer round-trip: decodeByte(segmentByte(text))
    // must equal the RAW text — not a normalization — for EVERY document
    // and ANY merge table (cover tokens partition the string, byte
    // mapping is bijective, merges only concatenate). The GPT-2-family
    // losslessness law as a hard corpus-wide value oracle.
    "bpe_byte_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = bpeArtifact(s, docs, dir, byteLevel = true)
      llm.Bpe.decodeByte(
        llm.Bpe.segmentByte(docs, "doc_id", "text", merges), "id", "pieces")
    }),
    // byte-mode learning contract: the textbook corpus (low:5 lower:2
    // newest:6 widest:3) over the 256-symbol byte alphabet learns the
    // hand-computed table (e,s,9)(es,t,9)(l,o,7)(lo,w,7) — NO </w>, so
    // merge statistics genuinely differ from the char path (which learns
    // (e,s)(es,t</w>)(l,o)(e,w)) — and "lowest" segments to "low est".
    "bpe_byte_learn" -> ((s, dir) => {
      import s.implicits._
      val planted = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      val m = llm.Bpe.learnMerges(planted, "text", 4, byteLevel = true)
      val exact = m.map(x => (x.left, x.right, x.freq)) == Seq(
        ("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L))
      val seg = llm.Bpe.segmentByte(
        Seq((1L, "lowest")).toDF("doc_id", "text"), "doc_id", "text", m)
        .head().getString(2) == "low est"
      Seq((exact, seg)).toDF("merges_exact", "planted_segment")
    }),
    // the same round-trip law with segmentation routed through the DFL
    // dispatch ('byte' mode arg) and a FROZEN planted merge table — the
    // serve path a production tokenizer uses
    "dfl_bpe_byte_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val merges = Seq((0, "e", "s"), (1, "es", "t"), (2, "l", "o"),
        (3, "lo", "w")).toDF("rank", "left", "right")
      val seg = DflFrame.pipeline(t(s, dir, "documents"),
        "bpeSegment(@, '@doc_id', '@text', $merges, 'byte')",
        Map("merges" -> merges))
      llm.Bpe.decodeByte(seg, "id", "pieces")
    }),
    // WordPiece (Wu et al. 1609.08144; the BERT tokenizer): merges
    // ranked by likelihood gain freq(l,r)/(freq(l)·freq(r)) instead of
    // raw frequency — the planted textbook corpus (low:5 lower:2
    // newest:6 widest:3) must learn the hand-computed sequence
    // (##i,##d,3)(w,##id,3)(l,##o,7)(##s,##t,9), which genuinely
    // DIFFERS from BPE's frequency ranking on the same corpus, and
    // greedy longest-match with the learned vocab segments the held-out
    // "lowest" to lo ##w ##e ##st; the corpus learn exercises the
    // distributed loop (word table never leaves the cluster)
    "wp_learn" -> ((s, dir) => {
      import s.implicits._
      val planted = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
        .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
      // the planted-contract training and the corpus training share no
      // state — overlap them on two driver threads (par2, guide §2.6):
      // both are job-launch-bound merge loops, so the wall is ~max of
      // the two instead of their sum
      val docs = t(s, dir, "documents")
      val ((m, v), (cm, _)) = par2(
        llm.WordPiece.learnVocab(planted, "text", 4),
        llm.WordPiece.learnVocab(docs, "text", 8))
      val exact = m.map(x => (x.left, x.right, x.merged, x.freq)) == Seq(
        ("##i", "##d", "##id", 3L), ("w", "##id", "wid", 3L),
        ("l", "##o", "lo", 7L), ("##s", "##t", "##st", 9L))
      val heldOut = llm.WordPiece.segment(
        Seq((1L, "lowest")).toDF("doc_id", "text"), "doc_id", "text", v)
        .head().getString(2) == "lo ##w ##e ##st"
      val corpusOk = cm.size == 8 && cm.map(_.merged).distinct.size == 8
      Seq((exact, heldOut, corpusOk))
        .toDF("merges_exact", "heldout_greedy", "corpus_ok")
    }),
    // the WordPiece round-trip law: decode ∘ segment = normText for any
    // vocabulary whose base layer covers the corpus (learnVocab's does
    // by construction — every corpus character ships in both position
    // classes it occurs in), greedy never UNKs on the training corpus,
    // and ` ##` gluing restores exactly the normalized words — a hard
    // corpus-wide VALUE oracle, the bpe_decode posture
    "wp_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = wpArtifact(s, docs, dir, numMerges = 8)
      llm.WordPiece.decode(
        llm.WordPiece.segment(docs, "doc_id", "text", vocab), "id", "pieces")
    }),
    // the same law driven THROUGH the DFL stage (the product front
    // door), with a FIXED planted vocabulary bound as a dataset var —
    // base chars of the corpus come from the corpus itself at plan
    // build, so the stage wiring (vocab collect, unk default, column
    // naming) is what's under test
    "dfl_wp_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val vocab = wpArtifact(s, docs, dir, numMerges = 4)
      val vocabDf = vocab.toDF("piece")
      val seg = DflFrame.pipeline(docs,
        "wordpieceSegment(@, '@doc_id', '@text', $vocab)",
        Map("vocab" -> vocabDf))
      llm.WordPiece.decode(seg, "id", "pieces")
    }),
    // the artifact-dispatching serving stage: the SAME round-trip law,
    // but the model arrives as a stored TokenizerStore artifact and
    // tokSegment dispatches by its recorded kind — the "train once,
    // serve from the artifact" product path (TokenizerCli.apply as a
    // pipeline stage)
    "dfl_tok_segment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val artDir = memoIndexDir(dir, "wpart", table = "documents") { d =>
        llm.TokenizerStore.saveWordPiece(s,
          llm.WordPiece.learnVocab(docs, "text", 4)._2, d)
      }
      val seg = DflFrame.pipeline(docs,
        s"tokSegment(@, '@doc_id', '@text', 'artifact:$artDir')")
      llm.WordPiece.decode(seg, "id", "pieces")
    }),
    // the COARSE-TO-FINE composite an MRL embedding exists for: the
    // 16-dim truncated scan pre-filters to 50 candidates (at scale:
    // 4× less bandwidth per row on the corpus-wide pass), the full
    // 64-dim cosine re-ranks only those — both stages exact, so the
    // WHOLE funnel has a value oracle; tie order (cos desc, id asc)
    // pins the coarse boundary identically in both engines
    "pipeline_coarse_to_fine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qFull = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val coarse = llm.Similarity.bruteForceTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16")),
        "vec_id", "emb16", qFull.take(16), 50).select(col("id"))
      val cands = emb.join(broadcast(coarse),
          emb("vec_id") === coarse("id"))
        .select(col("vec_id"), col("embedding"))
      llm.Similarity.bruteForceTopK(cands, "vec_id", "embedding", qFull, 10)
    }),
    // Matryoshka-style truncated-dimension serving: exact top-k over the
    // FIRST 16 of 64 embedding dims — the cheap-first-stage retrieval an
    // MRL-trained embedding enables; exact, so the oracle is the sliced
    // brute force
    "ann_truncated_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
        .map(_.toDouble).take(16)
      llm.Similarity.bruteForceTopK(
        emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("emb16")),
        "vec_id", "emb16", q, 10)
    }),
    "pipeline_tokenized_corpus" -> ((s, dir) => {
      // raw documents → MODEL INPUT in one plan: the train-corpus chain
      // (quality → dedup → decontam → mix → sample) extended with the
      // per-lang token-budget cap and tokenization against the capped
      // set's own vocabulary — every stage the standalone rows check,
      // composed the way an ingest actually runs
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 23 === 0)
      val clean = docs
        .filter(round(llm.TextAnalysis.qualityScore(col("text"), col("n_chars")), 6) >= 0.5)
        .filter(col("doc_id") % 23 =!= 0)
      // lazy localCheckpoint: decontaminate consumes its corpus twice —
      // see pipeline_train_corpus
      val surv = llm.Dedup.survivors(clean, "doc_id",
        llm.Dedup.minhashPairs(clean, "doc_id", "text", 0.8))
        .localCheckpoint(eager = false)
      // localCheckpoint, as in pipeline_train_corpus: temperatureMix
      // scans its input twice (domain counts + the keep filter) —
      // without truncation the quality→dedup→decontamination chain ran
      // ONCE PER SCAN in this row (train_corpus had the checkpoint,
      // this composition predates it and never got one)
      val dec = llm.TextAnalysis.decontaminate(surv, "doc_id", "text", bench, "text", 8)
        .localCheckpoint()
      val mixed = llm.Sampling.temperatureMix(dec, "doc_id", "lang",
        alpha = 0.5, seed = 13)
      val sampled = llm.Sampling.sampleByHash(mixed, "doc_id", 0.5, seed = 11)
      val capped = llm.Sampling.budgetCap(
        sampled.withColumn("n_tok",
          llm.TextAnalysis.tokenCountWs(col("text")).cast("long")),
        "doc_id", "lang", "n_tok", budget = 2000L, seed = 7L)
        // consumed TWICE below (vocab build + tokenization) — truncate
        // lineage so the dedup/decontam chain runs once, not per branch
        .localCheckpoint()
      llm.TextAnalysis.tokenizeIds(capped, "doc_id", "text",
        llm.TextAnalysis.vocabulary(capped, "text", topV = 100))
    }),
    "dedup_cosine_survivors" -> ((s, dir) => {
      // survivors composed over the embedding near-dup pair set, on the
      // same provable planted construction as dedup_cosine_bucketed
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
        .filter(col("vec_id") < 200)
      val planted = base.select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      val all = base.unionByName(planted)
      llm.Dedup.survivors(all, "vec_id",
          llm.Dedup.cosinePairsBucketed(all, "vec_id", "embedding", 0.99))
        .select("vec_id")
    }),
    "dedup_simhash_pairs" -> ((s, dir) => {
      // oracle-checkable construction (same trick as dedup_cosine_bucketed):
      // prefix every token with its doc_id, so token sets are DISJOINT
      // across documents (token equality implies id equality — the prefix
      // up to the first '_' is the id). Orthogonal token-frequency vectors
      // give independent random signature bits: P[hamming ≤ 3] per pair is
      // Σ_{k≤3} C(64,k)/2⁶⁴ ≈ 2.4·10⁻¹⁵. Then plant one identical copy of
      // each doc at doc_id+10000: identical token multisets give identical
      // signatures — hamming EXACTLY 0, hash-function-independent. The
      // expected output is the closed-form set {(i, i+10000, 0)}, which the
      // oracle emits directly; whitespace-only docs get a per-doc sentinel
      // token so every doc_id appears. Natural-corpus simhash behavior is
      // covered by LlmSpec's recall test. The doc_id < 10000 guard keeps
      // the construction scale-factor-proof: without it, a corpus whose
      // ids reach the +10000 offset would collide planted ids with real
      // rows and silently break the closed form.
      val docs = t(s, dir, "documents").select("doc_id", "text")
        .filter(col("doc_id") < 10000L)
      val toks = filter(split(col("text"), "\\s+"), w => length(w) > 0)
      val pref = transform(toks, w =>
        concat(col("doc_id").cast("string"), lit("_"), w))
      val safe = when(size(pref) === 0,
        array(concat(col("doc_id").cast("string"), lit("_empty")))).otherwise(pref)
      val ortho = docs.select(col("doc_id"), concat_ws(" ", safe).as("text"))
      val planted = ortho.select((col("doc_id") + 10000L).as("doc_id"), col("text"))
      llm.Dedup.simhashPairs(ortho.unionByName(planted), "doc_id", "text", 3)
    }),
    "embed_cosine_pairs" -> ((s, dir) =>
      // exact similarity join at a low threshold — inherently quadratic
      // compute, but expressed as a blocked self-join (shuffle join on
      // block-pair keys) so the plan has no cartesian/BNLJ node and the
      // N² work spreads evenly across the cluster
      llm.Dedup.cosinePairsBlocked(t(s, dir, "embeddings"), "vec_id", "embedding", 0.45)),
    "ann_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // one driver-side row lookup for the query vector (a query parameter,
      // not data movement)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      llm.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    }),
    // exact cosine range search: threshold-bound, map-only (no top-k
    // heap, no ordering)
    "ann_range" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      llm.Similarity.bruteForceRange(emb, "vec_id", "embedding", q,
        minCos = 0.5)
    }),
    // int8 quantization: (scale, codes) per vector — a 4x storage
    // compression whose codes feed the SAME native dot loop
    "embed_quantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // codes emitted as a CSV string, not array<tinyint>: the driver's
      // compare sorts/hashes column VALUES, and list-typed cells break
      // its pandas lexsort (r9 red row) — a scalar rendering is the
      // oracle-comparable shape
      llm.Quantize.quantizeInt8(emb, "embedding")
        .select(col("vec_id"), round(col("q_scale"), 6).as("q_scale"),
          array_join(transform(col("q_codes"), _.cast("string")), ",")
            .as("q_codes_csv"))
    }),
    // the quantized corpus dropped straight into the float probe path:
    // per-vector scale cancels in cosine, so no dequantization happens
    "ann_quantized_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val qz = llm.Quantize.quantizeInt8(emb, "embedding")
        .select(col("vec_id"), col("q_codes"))
      llm.Similarity.bruteForceTopK(qz, "vec_id", "q_codes", q, 10)
    }),
    "ann_topk_batch" -> ((s, dir) => {
      // the batched serving shape: 5 query vectors, one corpus pass, a
      // bounded-heap top-k aggregate per query (never a full per-query
      // sort). Exact, so the oracle is DuckDB's windowed brute force.
      val emb = t(s, dir, "embeddings")
      // qid = the query's own vec_id (not a dense batch index), so the
      // oracle mapping holds even if some of vec_id 0..4 were absent
      val queries = emb.filter(col("vec_id") < 5)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      llm.Similarity.bruteForceTopKBatch(emb, "vec_id", "embedding", queries, 10)
    }),
    // hard-negative mining: the batched scoring scan with each query's
    // labeled positives (self + the next two ids) subtracted by a
    // broadcast anti-join BEFORE the top-k heap — contrastive-training
    // data prep. Exact, so the oracle is the windowed brute force with
    // the same NOT-EXISTS exclusion.
    "hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      val positives = queries.map(_._1)
        .flatMap(q => Seq(q, q + 1, q + 2).map(p => (q, p)))
        .toDF("qid", "pos_id")
      llm.Mining.hardNegatives(emb, "vec_id", "embedding", queries,
        positives, k = 5)
    }),
    // batched RANGE search: same one-pass scoring scan, threshold-bound
    // (no heap, no aggregation at all after the map-only filter)
    "ann_range_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select("vec_id", "embedding").orderBy("vec_id").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
      llm.Similarity.bruteForceRangeBatch(emb, "vec_id", "embedding", queries,
        minCos = 0.5)
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      // oracle-checkable via the shared planted clique (see
      // plantedCliqueCorpus — hamming 0 under any plane family, so the
      // clique is a guaranteed candidate at any probe radius; natural-data
      // LSH recall is covered by LlmSpec's gate).
      // Index lifecycle, same as ann_ivf_topk: first call pays the
      // one-pass lshBuild (signatures + prefix-partitioned write); later
      // calls are partition-pruned lsh probes. nBits = 8 keeps the
      // signature dense enough for this small corpus that the radius-1
      // ball already holds candidates; partitionBits = 4 sizes the
      // LAYOUT to the corpus — 16 partition dirs for ~2k vectors, not
      // the 256 a 100 TB corpus would want: parquet pays a fixed
      // open/footer cost per file, so over-partitioning a small corpus
      // turns the one-pass build into file-overhead (measured 2.3 s →
      // 0.3 s at sf0.1); minCandidates = 20 makes the warm probe ONE
      // pruned read (no expansion jobs).
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus, "vec_id", "embedding", s"$dir#ann_lsh_topk",
          Ann.Build("lsh", nBits = 8, partitionBits = 4)),
        Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(20)))
    }),
    // FILTERED ANN (predicate + top-k), the "nearest k WHERE …" serving
    // shape: a `flag = vec_id % 2` metadata column rides INTO the index
    // layout and the predicate flag = 0 pushes into the pruned read.
    // The predicate excludes the 5 odd planted copies, so the eligible
    // clique is exactly {0, 100002, 100004, 100006, 100008, 100010} at
    // cosine 1.0 — six survivors ≥ k = 5, making the expected set the
    // closed-form brute-force-filtered top-5 at ANY probe width (the
    // clique shares the query's rank-0 list / Hamming-0 bucket).
    "ann_filtered_topk" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus.withColumn("flag", (col("vec_id") % 2).cast("int")), "vec_id",
          "embedding", s"$dir#ann_filtered", Ann.Build("ivf", metaCols = Seq("flag"))),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 0)))
    }),
    "ann_lsh_filtered_topk" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus.withColumn("flag", (col("vec_id") % 2).cast("int")), "vec_id",
          "embedding", s"$dir#ann_lsh_filtered",
          Ann.Build("lsh", nBits = 8, partitionBits = 4, metaCols = Seq("flag"))),
        Ann.Probe(Ann.One(q), Ann.TopK(5), filter = Some(col("flag") === 0), tuning = Some(20)))
    }),
    // BATCH filtered serving: per query the even-id clique slice ties at
    // cos 1.0 (query 1's own odd-id row is predicate-excluded — its
    // eligible clique is EXACTLY 5, so the round-robin widening loop's
    // satisfied-at-first-probe fast path is what's on trial), answers
    // closed-form per query
    "ann_filtered_batch" -> ((s, dir) => {
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus.withColumn("flag", (col("vec_id") % 2).cast("int")), "vec_id",
          "embedding", s"$dir#ann_filtered_batch", Ann.Build("ivf", metaCols = Seq("flag"))),
        Ann.Probe(Ann.Batch(queries), Ann.TopK(5), filter = Some(col("flag") === 0)))
    }),
    "ann_lsh_filtered_batch" -> ((s, dir) => {
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus.withColumn("flag", (col("vec_id") % 2).cast("int")), "vec_id",
          "embedding", s"$dir#ann_lsh_filtered_batch",
          Ann.Build("lsh", nBits = 8, partitionBits = 4, metaCols = Seq("flag"))),
        Ann.Probe(Ann.Batch(queries), Ann.TopK(5), filter = Some(col("flag") === 0),
          tuning = Some(20)))
    }),
    // FILTERED range: the predicate composes with the threshold verify
    // (no widening — range has no k); SHARES the topk rows' cache keys
    // and param stamps, so one metadata-carrying build serves all four
    // filtered probes. Expected: the six even-id clique members at 1.0.
    "ann_filtered_range" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus.withColumn("flag", (col("vec_id") % 2).cast("int")), "vec_id",
          "embedding", s"$dir#ann_filtered", Ann.Build("ivf", metaCols = Seq("flag"))),
        Ann.Probe(Ann.One(q), Ann.Range(0.99), filter = Some(col("flag") === 0)))
    }),
    "ann_lsh_filtered_range" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus.withColumn("flag", (col("vec_id") % 2).cast("int")), "vec_id",
          "embedding", s"$dir#ann_lsh_filtered",
          Ann.Build("lsh", nBits = 8, partitionBits = 4, metaCols = Seq("flag"))),
        Ann.Probe(Ann.One(q), Ann.Range(0.99), filter = Some(col("flag") === 0)))
    }),
    // the same filtered serving shape through the DFL dispatch: the
    // predicate's attribute set ('@flag') IS the metadata column list
    // that rides into the index
    "dfl_ann_filtered" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      DflFrame.pipeline(
        corpus.withColumn("flag", (col("vec_id") % 2).cast("int")),
        "annTopKFiltered(@, '@vec_id', '@embedding', $q, 5, '@flag == 0', 'ivf')",
        Map("q" -> q))
    }),
    // indexed RANGE probe at the 0.99 near-dup threshold over the
    // planted clique: the clique sits at Hamming 0 (guaranteed recall at
    // any radius) and the exact verify bounds precision, so the
    // brute-force range is a deterministic oracle. SHARES ann_lsh_topk's
    // cache key and params — one build serves top-k and range.
    "ann_lsh_range" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus, "vec_id", "embedding", s"$dir#ann_lsh_topk",
          Ann.Build("lsh", nBits = 8, partitionBits = 4)),
        Ann.Probe(Ann.One(q), Ann.Range(0.99)))
    }),
    // the IVF range sibling: probes the query's nprobe nearest lists and
    // exact-verifies the threshold. SHARES ann_ivf_topk's cache key and
    // params — one build serves top-k and range, completing the
    // (top-k | range) × (lsh | ivf) indexed serving matrix.
    "ann_ivf_range" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus, "vec_id", "embedding", s"$dir#ann_ivf_topk", Ann.Build("ivf")),
        Ann.Probe(Ann.One(q), Ann.Range(0.99)))
    }),
    // indexed RANGE serving through the DFL front door: the annRange
    // stage's 'lsh' method dispatch against the same planted corpus —
    // build-once/probe-many keyed by the pipeline's canonicalized plan,
    // exactly like dfl_ann_ivf for top-k.
    "dfl_ann_range" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      DflFrame.pipeline(corpus,
        "annRange(@, '@vec_id', '@embedding', $q, 0.99, 'lsh')", Map("q" -> q))
    }),
    "ann_lsh_append" -> ((s, dir) => {
      // the APPEND lifecycle under the hard oracle: build the LSH index
      // over a corpus PREFIX, append the remainder (planted clique
      // included), probe. An lsh append is EXACT by construction — fixed
      // seeded hyperplanes, vector multiset equals a full rebuild — so
      // the probe provably returns the same answer as ann_lsh_topk's
      // full-corpus build, and annPlantedTopkSql (brute force over the
      // whole grown corpus) is its oracle: the hamming-0 planted clique
      // is a guaranteed candidate at any radius even though every clique
      // row arrived by APPEND, which is exactly the property under test.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = appendLifecycleIndex(dir, "ann-append", corpus)(
        (prefix, d) => llm.Similarity.lshBuild(prefix, "vec_id", "embedding",
          d, nBits = 8, dim = 64, partitionBits = 4),
        (rest, d) => Ann.append(rest, "vec_id", "embedding", d))
      Ann.probe(Ann.Dir(s, idxDir), Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(20)))
    }),
    "ann_ivf_append" -> ((s, dir) => {
      // the IVF append lifecycle under the hard oracle. Unlike LSH,
      // an ivf append is APPROXIMATE in general (frozen centroids), but the
      // planted construction makes the answer exact anyway: every
      // appended clique row is a bit-identical copy of the query vector,
      // so ivfAssign puts it in the list of the query's own nearest
      // centroid — the FIRST list any probe visits — and row 0 (the
      // original, built in the prefix) sits in that same list. The
      // brute-force top-10 (self + clique, cos 1.0, id-asc tiebreak) is
      // therefore guaranteed to be fully probed at any nprobe ≥ 1.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = appendLifecycleIndex(dir, "ann-ivf-append", corpus)(
        (prefix, d) => { llm.Similarity.ivfBuild(prefix, "vec_id",
          "embedding", d); () },
        (rest, d) => Ann.append(rest, "vec_id", "embedding", d))
      Ann.probe(Ann.Dir(s, idxDir), Ann.Probe(Ann.One(q), Ann.TopK(10), tuning = Some(8)))
    }),
    "dedup_cosine_bucketed" -> ((s, dir) => {
      // banded-LSH cosine dedup, oracle-checkable: plant near-identical
      // copies (vec_id+10000, first component nudged) so every true pair
      // has cosine ≈ 0.9999 — banding recall there is 1-4e-24, so the
      // bucketed result equals the exact pair set the oracle computes
      val base = t(s, dir, "embeddings").select("vec_id", "embedding")
        .filter(col("vec_id") < 200)
      val planted = base.select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
      llm.Dedup.cosinePairsBucketed(base.unionByName(planted),
        "vec_id", "embedding", 0.99)
    }),
    "ann_ivf_delete" -> ((s, dir) => {
      // the id-DELETE lifecycle verb under the hard oracle: build the
      // planted-clique IVF index, tombstone the five ODD clique ids plus
      // one natural id, probe top-6. The six SURVIVORS (query-self +
      // five even clique ids) sit at cosine exactly 1.0 in the query's
      // rank-0 list, so the post-delete top-6 provably equals brute
      // force over the surviving corpus — any leak of a tombstoned id
      // (or a lost survivor) breaks the hash. Build+delete memoize as
      // ONE lifecycle (the append rows' posture); warm passes are pure
      // anti-join-filtered pruned probes.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ann-ivf-delete") { d =>
        llm.Similarity.ivfBuild(corpus, "vec_id", "embedding", d)
        llm.Similarity.annDelete(s, d, annDeletedIds); ()
      }
      Ann.probe(Ann.Dir(s, idxDir), Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(8)))
    }),
    "ann_lsh_delete" -> ((s, dir) => {
      // the LSH twin — additionally exercises the occupancy-histogram
      // SUBTRACTION path (the one sidecar deletes must keep additive):
      // survivors share the query's Hamming-0 bucket, so the reranked
      // top-6 equals brute force over the survivors
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ann-lsh-delete") { d =>
        llm.Similarity.lshBuild(corpus, "vec_id", "embedding", d)
        llm.Similarity.annDelete(s, d, annDeletedIds); ()
      }
      Ann.probe(Ann.Dir(s, idxDir), Ann.Probe(Ann.One(q), Ann.TopK(6)))
    }),
    "ann_ivfpq_delete" -> ((s, dir) => {
      // the compressed-family delete under the REAL brute-force oracle:
      // tombstones filter the CODES at the meta chokepoint (deleted ids
      // can never be nominated), the float-sidecar rerank returns exact
      // cosines over the six survivors — value-for-value against brute
      // force over the surviving corpus, the refined rows' contract
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ann-ivfpq-delete") { d =>
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", d,
          kLists = 8, m = 8, k = 16, keepVectors = true)
        llm.Similarity.annDelete(s, d, annDeletedIds); ()
      }
      Ann.probe(Ann.Dir(s, idxDir),
        Ann.Probe(Ann.One(q), Ann.TopK(6), tuning = Some(1), refine = Some(4)))
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      // shared planted clique (plantedCliqueCorpus): the copies share the
      // query's embedding, hence its IVF list; that list is the coarse
      // quantizer's rank-0 probe for the query, so the clique is always in
      // scope and the reranked top-10 provably equals brute force.
      // Index lifecycle: the FIRST call for this corpus pays ivfBuild
      // (train distributed + list-partitioned write); every later call —
      // warm bench passes, repeated serving — is a partition-pruned
      // ivf probe of nprobe lists. Train-once-at-ingest, concretely.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus, "vec_id", "embedding", s"$dir#ann_ivf_topk", Ann.Build("ivf")),
        Ann.Probe(Ann.One(q), Ann.TopK(10)))
    }),
    // probeMeta runs the REAL decode path (ImageIO header sniff per row —
    // text bytes fail the sniff fast and keep null dims); the registered
    // projection stays engine-replayable (kind + true byte length)
    "ann_ivf_batch" -> ((s, dir) => {
      // batched serving against the built IVF index: each query's planted
      // clique (plantedBatchCorpus) shares that query's rank-0 probe
      // list, so every query's top-10 provably equals brute force. One
      // pruned union read scores the whole query matrix.
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus, "vec_id", "embedding", s"$dir#ann_ivf_batch",
          Ann.Build("ivf")),
        Ann.Probe(Ann.Batch(queries), Ann.TopK(10)))
    }),
    // batched RANGE against the same cached IVF index (shared key and
    // params with ann_ivf_batch — one build serves top-k and range): one
    // union-of-nprobe-lists read, per-query membership filter, exact
    // threshold verify, no aggregation at all
    "ann_ivf_range_batch" -> ((s, dir) => {
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus, "vec_id", "embedding", s"$dir#ann_ivf_batch",
          Ann.Build("ivf")),
        Ann.Probe(Ann.Batch(queries), Ann.Range(0.99)))
    }),
    // the LSH twin: union-of-Hamming-balls pruned read at the
    // threshold-derived radius; the bit-identical planted cliques sit at
    // Hamming 0, so recall is guaranteed and brute force is the oracle
    "ann_lsh_range_batch" -> ((s, dir) => {
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      Ann.probe(Ann.Cached(corpus, "vec_id", "embedding", s"$dir#ann_lsh_range_batch",
          Ann.Build("lsh", nBits = 8, partitionBits = 4)),
        Ann.Probe(Ann.Batch(queries), Ann.Range(0.99)))
    }),
    // batched range serving through the DFL front door ('lsh' dispatch,
    // ad-hoc-vs-indexed resolution exactly as annTopKBatch)
    "dfl_ann_range_batch" -> ((s, dir) => {
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      val qs: Seq[Seq[Any]] = queries.map { case (id, v) => Seq[Any](id, v) }
      DflFrame.pipeline(corpus,
        "annRangeBatch(@, '@vec_id', '@embedding', $qs, 0.99, 'lsh')",
        Map("qs" -> qs))
    }),
    "dfl_ann_batch" -> ((s, dir) => {
      // the BATCHED indexed serving shape through the DFL front door:
      // identical planted construction to ann_ivf_batch, but the probe
      // runs via DflFrame's `annTopKBatch(…, 'ivf')` dispatch with the
      // query batch handed over as a [id, vector]-pair variable — the
      // exact shape an HTTP service exec's JSON request variables yield.
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      val qs: Seq[Seq[Any]] = queries.map { case (id, v) => Seq[Any](id, v) }
      DflFrame.pipeline(corpus,
        "annTopKBatch(@, '@vec_id', '@embedding', $qs, 10, 'ivf')", Map("qs" -> qs))
    }),
    // perceptual-hash image dedup over the planted synthetic corpus
    // (imageCorpus): byte-identical copies AND a brightness-shifted BMP
    // re-encode both land at hamming 0 by construction, so the expected
    // pair set is the closed-form three-pairs-per-planted-id the oracle
    // enumerates. Banded Hamming candidates, never all-pairs.
    "dedup_image_pairs" -> ((s, dir) =>
      llm.Dedup.imagePairs(imageCorpus(s, dir))),
    "dfl_image_dedup" -> ((s, dir) => DflFrame.pipeline(
      imageCorpus(s, dir), "imageDedup(@, '@id', '@payload')")),
    // the DCT pHash sees the same closed-form pair set: identical bytes
    // and uniform +8 shifts keep every non-DC DCT coefficient, so all
    // three planted pairs sit at hamming 0 under pHash too
    "dfl_image_dedup_phash" -> ((s, dir) => DflFrame.pipeline(
      imageCorpus(s, dir), "imageDedup(@, '@id', '@payload', 3, 'phash')")),
    // keep-smallest-id arbitration over the image pair set: every
    // planted copy (id ≥ 1e6) pairs with its smaller original, so the
    // survivors are exactly the 200 originals — closed-form
    "dedup_image_survivors" -> ((s, dir) => {
      val media = imageCorpus(s, dir)
      llm.Dedup.survivors(media, "id", llm.Dedup.imagePairs(media))
        .select("id")
    }),
    // cross-corpus image dedup (new crawl vs retained): each %20 base's
    // three left members pair with its one reference re-render at
    // hamming 0 (see imageRefCorpus) — 30 pairs, closed-form
    "xdedup_image_pairs" -> ((s, dir) =>
      llm.Dedup.imagePairsAgainst(imageCorpus(s, dir),
        imageRefCorpus(s, dir))),
    // survivors through the DFL dispatch: matched left rows drop
    "dfl_image_dedup_against" -> ((s, dir) => DflFrame.pipeline(
      imageCorpus(s, dir),
      "imageDedupAgainst(@, '@id', '@payload', $ref)",
      Map("ref" -> imageRefCorpus(s, dir))).select("id")),
    "multimodal_meta" -> ((s, dir) =>
      // the metadata-ONLY funnel: payload bytes feed the header probe but
      // never re-serialize into the output schema
      llm.Multimodal.probeMetaOnly(s,
        llm.Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "image"))
        .select(col("id"), col("kind"), col("meta.n_bytes").as("n_bytes"))),
    "multimodal_decode" -> ((s, dir) =>
      llm.Multimodal.decodeFeatures(s,
        llm.Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "image"))
        .toDF().select(col("id"), col("n_bytes"), col("checksum"))),

    // ---- temporal operators (graft.temporal.Temporal — the join-shaped
    //      extension surface the reference lacks entirely, SURVEY.md §2.6) ----
    "asof_join" -> ((s, dir) => {
      // backward as-of: each click gets its user's latest prior purchase.
      // Union-window plan: ONE shuffle on user_id, running last() frame —
      // no range explosion. Spec-pinned parity with DuckDB's native ASOF
      // JOIN lives in the oracle prototype; the committed oracle is the
      // fully-deterministic window rendering (equal-ts pick is defined).
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      temporal.Temporal.asofJoin(clicks, purchases, Seq("user_id"),
          "ts_us", "ts_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("asof_ts_us"), lit(-1L)).as("asof_ts_us"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"))
    }),
    // FORWARD direction: each click gets its user's NEXT purchase at or
    // after the click (time-reversal shares the backward engine)
    "asof_join_fwd" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      temporal.Temporal.asofJoinForward(clicks, purchases, Seq("user_id"),
          "ts_us", "ts_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("asof_ts_us"), lit(-1L)).as("asof_ts_us"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"))
    }),
    // NEAREST direction: each click gets the purchase closest in time on
    // either side (min |Δts|, ties prefer backward — sensor alignment)
    "asof_join_nearest" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      temporal.Temporal.asofJoinNearest(clicks, purchases, Seq("user_id"),
          "ts_us", "ts_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("asof_ts_us"), lit(-1L)).as("asof_ts_us"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"))
    }),
    // the tolerance leg: matches older than 24 h are voided (feature
    // staleness — the feature-store contract the tolerance exists for)
    "asof_join_tol" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      temporal.Temporal.asofJoin(clicks, purchases, Seq("user_id"),
          "ts_us", "ts_us", toleranceUs = Some(86400000000L))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("asof_ts_us"), lit(-1L)).as("asof_ts_us"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"))
    }),
    "sessionize" -> ((s, dir) =>
      // gaps-and-islands sessions at a 2 h inactivity gap; the batch twin
      // of the streaming session_window leg (StreamRunner) — one window +
      // one same-key aggregation, map-side partials on clustered data
      temporal.Temporal.sessionStats(
        eventsUs(s, dir).select("user_id", "ts_us", "value"),
        "user_id", "ts_us", gapUs = 7200000000L, valueCol = "value")),
    "range_join_bands" -> ((s, dir) => {
      // interval join against a 3-band literal dim (overlap at 100-150
      // exercises multi-match; values > 300 exercise the left-outer NULL
      // leg). Broadcast nested-loop is the RIGHT plan for a dim-sized
      // interval table; RangeJoinSpec pins bucketized-path parity.
      val bands = s.createDataFrame(Seq(
        (0L, 0.0, 50.0), (1L, 50.0, 150.0), (2L, 100.0, 300.0)))
        .toDF("band_id", "lo", "hi")
      temporal.Temporal.rangeJoinBroadcast(
          eventsUs(s, dir).select("event_id", "value"), "value", bands,
          "lo", "hi")
        .select(col("event_id"), coalesce(col("band_id"), lit(-1L)).as("band_id"))
    }),
    "budget_cap" -> ((s, dir) =>
      // per-language token budget (2000 tokens each), kept set ordered by
      // the engine-exact shared id-hash — finalizes a blend after
      // temperature_mix sets the shares
      llm.Sampling.budgetCap(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          llm.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok")),
        "doc_id", "lang", "n_tok", budget = 2000L, seed = 7L)),
    "doclen_quantiles" -> ((s, dir) =>
      // exact grouped quantiles (percentile = sorted linear interpolation,
      // the same contract as DuckDB quantile_cont); per-group exact is
      // fine at any scale BECAUSE groups are language-sized — the
      // approx_percentile sketch is the path for high-cardinality keys
      t(s, dir, "documents").groupBy("lang")
        .agg(
          round(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
          round(percentile(col("n_chars"), lit(0.9)), 4).as("p90"),
          round(percentile(col("n_chars"), lit(0.99)), 4).as("p99"))),
    // SemDeDup semantic dedup over the per-query planted cliques: the 30
    // planted copies are bit-identical to their base vectors, so each
    // clique provably co-clusters under ANY deterministic nearest-centroid
    // assignment and sits at cosine exactly 1.0, while the max natural
    // pairwise cosine is ≤ 0.601 at every sf (measured) — at threshold
    // 0.9 the within-cluster pair set is EXACTLY the clique pairs and the
    // survivor set exactly the natural corpus, independent of where the
    // k-means centroids land.
    "semdedup_pairs" -> ((s, dir) => {
      val (corpus, _) = plantedBatchCorpus(s, dir)
      llm.Dedup.semanticPairs(corpus, "vec_id", "embedding", 0.9,
        kClusters = 8, trainSample = 256)
    }),
    "semantic_dedup" -> ((s, dir) => {
      val (corpus, _) = plantedBatchCorpus(s, dir)
      llm.Dedup.semanticDedup(corpus, "vec_id", "embedding", 0.9,
        kClusters = 8, trainSample = 256).select("vec_id")
    }),
    "dfl_semantic_dedup" -> ((s, dir) => {
      val (corpus, _) = plantedBatchCorpus(s, dir)
      DflFrame.pipeline(corpus,
        // tuning args align with the API row's (kClusters=8, sample=256)
        // — answers are clustering-invariant, so they are cost knobs only
        "nearDedup(@, '@vec_id', '@embedding', 0.9, 'semantic', 8, 256)")
        .select("vec_id")
    }),
    // the SKETCH path for quantiles at high-cardinality keys: emit the
    // exact value + a bounded-error contract boolean, the same shape as
    // approx_distinct_users (the sketch itself is not cross-engine
    // reproducible; its CONTRACT is)
    "doclen_quantiles_approx" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang")
        .agg(percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("a50"),
          percentile(col("n_chars"), lit(0.5)).as("e50raw"))
        .select(col("lang"), round(col("e50raw"), 4).as("p50"),
          within5pct(col("a50"), col("e50raw")).as("within_5pct"))),
    // quantile-THRESHOLD filter — "drop the bottom quartile by length",
    // the standard quality-gate shape: one exact-percentile scalar
    // broadcast into a row-local filter (no collect; integer n_chars vs
    // an interpolated threshold can only disagree across engines if a
    // sub-ulp difference crossed an integer — impossible)
    "quantile_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val thr = docs.agg(percentile(col("n_chars"), lit(0.25)).as("thr"))
      docs.crossJoin(broadcast(thr))
        .filter(col("n_chars") < col("thr"))
        .select("doc_id", "n_chars")
    }),
    // rolling event-time features: a RANGE frame over epoch-µs — per-user
    // 24 h trailing sum/count. One shuffle on user_id; the frame is a
    // sliding accumulator, not a self-join (the naive "join events to
    // events within 24h" shape would be quadratic per user).
    "rolling_user_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0L)
      eventsUs(s, dir).select(
        col("event_id"), col("user_id"), col("ts_us"),
        round(sum(col("value")).over(w), 2).as("roll_sum"),
        count(lit(1)).over(w).as("roll_n"))
    }),
    // per-group top-k: row_number over (value desc, event_id asc) — the
    // deterministic-ties convention used repo-wide. Partial top-k cannot
    // push below the window here (Spark has no grouped-top-k pushdown),
    // but the single user_id exchange is also the ONLY exchange.
    "events_topk_per_user" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      eventsUs(s, dir).select(col("event_id"), col("user_id"), col("value"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
    }),
    // composite: sessionize → rolling count → as-of purchase attribution,
    // all on ONE user_id clustering (the window partitions and the asof
    // union share the key, so AQE reuses the exchange where possible) —
    // the feature-table shape an events pipeline feeds to training
    "pipeline_event_features" -> ((s, dir) => {
      val sessioned = temporal.Temporal.sessionIds(
        eventsUs(s, dir).select("event_id", "user_id", "event_type",
          "value", "ts_us"),
        "user_id", "ts_us", gapUs = 7200000000L)
      val roll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-86400000000L, 0L)
      val feat = sessioned.withColumn("roll_n", count(lit(1)).over(roll))
      val clicks = feat.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us", "session_start_us", "roll_n")
      val purchases = eventsUs(s, dir)
        .filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      temporal.Temporal.asofJoin(clicks, purchases, Seq("user_id"),
          "ts_us", "ts_us")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("session_start_us"), col("roll_n"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"))
    }),
    // one-pass dataset profile (nulls / exact distincts / min-max) over
    // the documents table — long+string columns only, so the min/max
    // string renderings are engine-exact
    "corpus_profile" -> ((s, dir) =>
      util.Profile.profile(t(s, dir, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    "dfl_tokenize" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "tokenize(@, '@doc_id', '@text', 200)")
        .withColumnRenamed("id", "doc_id")),
    "dfl_profile" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "profile(@, 'doc_id', 'text', 'lang', 'source', 'n_chars')")),
    "dfl_topk" -> ((s, dir) =>
      DflFrame.pipeline(
        eventsUs(s, dir).select("event_id", "user_id", "value"),
        "topk(@, '@user_id', '@value', 3, '@event_id')")),
    "dfl_rolling" -> ((s, dir) =>
      DflFrame.pipeline(
        eventsUs(s, dir).select("event_id", "user_id", "ts_us", "value"),
        "rolling(@, '@user_id', '@ts_us', '@value', 86400000000)")
        .select("event_id", "user_id", "ts_us", "roll_sum", "roll_n")),
    // the DFL front door of the temporal stages — each shares its Scala
    // twin's oracle SQL, so stage and API must agree value-for-value
    "dfl_asof" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      DflFrame.pipeline(clicks, "asof(@, $purchases, '@user_id', '@ts_us')",
          Map("purchases" -> purchases))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("asof_ts_us"), lit(-1L)).as("asof_ts_us"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"))
    }),
    "dfl_asof_fwd" -> ((s, dir) => {
      val ev = eventsUs(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts_us", "event_id", "value")
      DflFrame.pipeline(clicks,
          "asof(@, $purchases, '@user_id', '@ts_us', -1, 'forward')",
          Map("purchases" -> purchases))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          coalesce(col("asof_ts_us"), lit(-1L)).as("asof_ts_us"),
          coalesce(col("asof_value"), lit(-1.0)).as("asof_value"),
          coalesce(col("asof_event_id"), lit(-1L)).as("asof_event_id"))
    }),
    "dfl_sessionize" -> ((s, dir) =>
      DflFrame.pipeline(eventsUs(s, dir),
        "sessionize(@, '@user_id', '@ts_us', 7200000000, '@value')")
        .withColumnRenamed("key", "user_id")),
    "dfl_budget_cap" -> ((s, dir) =>
      DflFrame.pipeline(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          llm.TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tok")),
        "cap(@, '@doc_id', '@lang', '@n_tok', 2000, 7)")
        .select("doc_id", "lang", "n_tok")),

    // ---- lexical retrieval (BM25) + hybrid rank fusion ----
    // BM25 top-10 for a fixed query over the documents corpus: one
    // corpus scan, term-filtered BEFORE the shuffle, bounded-heap top-k
    "bm25_topk" -> ((s, dir) =>
      bm25Scan(t(s, dir, "documents"),
        llm.Retrieval.One(Seq("spark", "stream", "window")), k = 10)),
    // three queries in ONE corpus pass; contract: each slice ≡ its
    // single-query probe
    "bm25_batch" -> ((s, dir) =>
      bm25Scan(t(s, dir, "documents"),
        llm.Retrieval.Batch(bm25BatchQueries), k = 5)),
    "dfl_bm25" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "bm25(@, '@doc_id', '@text', 'spark stream window', 10)")),
    // served from the persistent inverted index: build once (memoized —
    // warm passes are pure partition-pruned posting probes, no corpus
    // access), answers value-identical to the direct scan
    "bm25_indexed_topk" -> ((s, dir) => {
      val idxDir = memoIndexDir(dir, "bm25idx", table = "documents") { d =>
        llm.Retrieval.bm25Build(t(s, dir, "documents"), "doc_id", "text", d)
      }
      bm25Index(s, idxDir, llm.Retrieval.One(Seq("spark", "stream", "window")),
        k = 10)
    }),
    // the batch twin: one pruned posting read for the union of all
    // query terms, each slice value-identical to the direct batch scan
    "bm25_indexed_batch" -> ((s, dir) => {
      val idxDir = memoIndexDir(dir, "bm25idx", table = "documents") { d =>
        llm.Retrieval.bm25Build(t(s, dir, "documents"), "doc_id", "text", d)
      }
      bm25Index(s, idxDir, llm.Retrieval.Batch(bm25BatchQueries), k = 5)
    }),
    // FILTERED indexed serving: a metadata-carrying build probed under
    // a language predicate — corpus-GLOBAL statistics (a surviving
    // doc's score is bit-identical to its unfiltered score), the
    // candidate set restricted before ranking. The oracle replays
    // exactly that: full-corpus scores, then filter, then rank
    "bm25_filtered_topk" -> ((s, dir) => {
      val idxDir = memoIndexDir(dir, "bm25flt", table = "documents") { d =>
        llm.Retrieval.bm25Build(t(s, dir, "documents"), "doc_id", "text", d,
          metaCols = Seq("lang"))
      }
      bm25Index(s, idxDir, llm.Retrieval.One(Seq("spark", "stream", "window")),
        k = 10, Some(col("lang") === "en"))
    }),
    // the filtered BATCH twin (the serve-bm25 --filter shape): one
    // pruned read for the union terms, every slice ≡ the single
    // filtered probe
    "bm25_filtered_batch" -> ((s, dir) => {
      val idxDir = memoIndexDir(dir, "bm25flt", table = "documents") { d =>
        llm.Retrieval.bm25Build(t(s, dir, "documents"), "doc_id", "text", d,
          metaCols = Seq("lang"))
      }
      bm25Index(s, idxDir, llm.Retrieval.Batch(bm25BatchQueries), k = 5,
        Some(col("lang") === "en"))
    }),
    // the index APPEND lifecycle: build on a doc_id prefix, append the
    // rest (increment-only scans, additive df/stats merge, staged
    // crash-safe commit) — probe answers must equal the FULL-corpus
    // direct scan, which is exactly what the oracle pins
    "bm25_append" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxDir = memoIndexDir(dir, "bm25app", table = "documents") { d =>
        llm.Retrieval.bm25Build(docs.filter(col("doc_id") < 300L),
          "doc_id", "text", d)
        llm.Retrieval.bm25Append(docs.filter(col("doc_id") >= 300L),
          "doc_id", "text", d)
      }
      bm25Index(s, idxDir, llm.Retrieval.One(Seq("merge", "sort", "stream")),
        k = 10)
    }),
    // the id-DELETE lifecycle verb: every doc_id ≡ 3 (mod 10) is
    // tombstoned, its postings anti-joined away, its per-term df
    // contributions subtracted via NEGATIVE delta rows, and (n, Σdl)
    // folded back through the additive stats sidecar — so the probe's
    // scores are BIT-identical to a fresh build over the survivors,
    // which is exactly what the oracle recomputes from scratch. A
    // delete that forgot any one of the three legs (tombstones / df /
    // stats) shifts every score and breaks the hash.
    "bm25_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idxDir = memoIndexDir(dir, "bm25del", table = "documents") { d =>
        llm.Retrieval.bm25Build(docs, "doc_id", "text", d)
        llm.Retrieval.bm25Delete(
          docs.filter(col("doc_id") % 10 === 3).select("doc_id"),
          "doc_id", d); ()
      }
      bm25Index(s, idxDir, llm.Retrieval.One(Seq("spark", "stream", "window")),
        k = 10)
    }),
    // TREC-style rank-quality evaluation: the batch BM25 run measured
    // against a deterministic graded judgment set (qid q judges docs
    // with doc_id % (10+q) == 0 at rel 1 + doc_id % 3) — recall@10,
    // precision@10, MRR, nDCG@10 per query, every gain and tie order
    // replayed in SQL
    "retrieval_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val run = bm25Scan(docs, llm.Retrieval.Batch(bm25BatchQueries), k = 10)
      llm.Retrieval.evalRun(run, retrievalQrels(docs), k = 10)
    }),
    // the leaderboard row: query-averaged MAP / MRR / mean-nDCG over
    // the same run and judgments — ONE number set per corpus
    "retrieval_eval_macro" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val run = bm25Scan(docs, llm.Retrieval.Batch(bm25BatchQueries), k = 10)
      llm.Retrieval.evalRunMacro(run, retrievalQrels(docs), k = 10)
    }),
    // the same evaluation through the DFL stage (judgments bound as a
    // dataset var) — shares the oracle
    "dfl_rank_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val run = bm25Scan(docs, llm.Retrieval.Batch(bm25BatchQueries), k = 10)
      DflFrame.pipeline(run,
        "rankEval(@, '@qid', '@id', '@rnk', $qrels, 10)",
        Map("qrels" -> retrievalQrels(docs)))
    }),
    // reciprocal-rank fusion of two lexical runs — rank-only, so the
    // score scales never mix; oracle renders both runs + the fusion
    "rrf_fuse" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.Retrieval.rrfFuse(Seq(
        bm25Scan(docs, llm.Retrieval.One(Seq("spark", "stream", "window")),
          k = 20).select("id", "rnk"),
        bm25Scan(docs, llm.Retrieval.One(Seq("merge", "vector", "hash")),
          k = 20).select("id", "rnk")),
        k = 10)
    }),
    // the hybrid retrieval serving shape: BM25 lexical run ⊕ semantic
    // run (hashEmbed cosine — engine-exact features, so the WHOLE
    // pipeline has a value oracle) fused by RRF. The query vector is a
    // driver-side hashEmbed of the query string (16 doubles — the
    // allowlisted query-vector collect)
    "pipeline_hybrid_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qtext = "spark stream window merge"
      val lex = bm25Scan(docs, llm.Retrieval.One(qtext.split(" ").toSeq),
        k = 20).select("id", "rnk")
      val emb = llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
        dim = 16, seed = 7L)
      import s.implicits._
      val qvec = llm.TextAnalysis.hashEmbed(
        Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
        dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
      // ≤20-row pool rank under a constant non-foldable key (the
      // shardAssign idiom) — bounded by construction, no WindowExec
      // global-window warning in the gate logs
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("id"), lit(1)))
        .orderBy(col("cos").desc, col("id").asc)
      val sem = llm.Similarity.bruteForceTopK(emb, "doc_id", "vec", qvec, 20)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select("id", "rnk")
      llm.Retrieval.rrfFuse(Seq(lex, sem), k = 10)
    }),
    // the FULL SERVING STACK end to end, every stage from this repo's
    // own operators: persistent-index BM25 run ⊕ hashEmbed-cosine
    // semantic run → reciprocal-rank fusion → MMR diversification —
    // and every stage's arithmetic value-replayed in one composed SQL
    // oracle (the engine-exact hashEmbed features are what make the
    // whole stack checkable)
    "pipeline_serving_stack" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qtext = "spark stream window merge"
      val idxDir = memoIndexDir(dir, "bm25idx", table = "documents") { d =>
        llm.Retrieval.bm25Build(docs, "doc_id", "text", d)
      }
      val lex = bm25Index(s, idxDir, llm.Retrieval.One(qtext.split(" ").toSeq),
        k = 20).select("id", "rnk")
      // lazy localCheckpoint: emb feeds the cosine leg AND the MMR
      // candidate join — hashEmbed (explode+agg+reassembly) ran twice
      val emb = llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
        dim = 16, seed = 7L)
        .localCheckpoint(eager = false)
      val qvec = llm.TextAnalysis.hashEmbed(
        Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
        dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
      // ≤20-row pool rank under a constant non-foldable key (the
      // shardAssign idiom) — bounded by construction, no WindowExec
      // global-window warning in the gate logs
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("id"), lit(1)))
        .orderBy(col("cos").desc, col("id").asc)
      val sem = llm.Similarity.bruteForceTopK(emb, "doc_id", "vec", qvec, 20)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .select("id", "rnk")
      val fused = llm.Retrieval.rrfFuse(Seq(lex, sem), k = 20)
        .select("id", "score")
      val cands = emb.select(col("doc_id").as("id"), col("vec"))
        .join(broadcast(fused), Seq("id"))
      llm.Retrieval.mmrRerank(cands, "id", "score", "vec", k = 10,
        lambda = 0.7)
    }),
    // MMR diversified re-ranking (Carbonell & Goldstein SIGIR'98) of a
    // cosine top-20 first stage: pick 10 greedily by λ·rel −
    // (1−λ)·max-cos-to-selected. The oracle UNROLLS the greedy pick by
    // pick in SQL (same rounding, same tie order — Retrieval.mmrSql),
    // so selection AND marginal scores check value-for-value. The
    // 20-row candidate set broadcasts into the embedding join; the
    // greedy runs in one bounded aggregate
    "mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val cands = llm.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          q, 20)
      val withVec = emb.select(col("vec_id").as("id"), col("embedding"))
        .join(broadcast(cands), Seq("id"))
      llm.Retrieval.mmrRerank(withVec, "id", "cos", "embedding",
        k = 10, lambda = 0.7)
    }),
    // the same greedy THROUGH the DFL stage (candidates = the current
    // dataset, the serving composition `annTopK | mmr`)
    "dfl_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
      val cands = llm.Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          q, 20)
      val withVec = emb.select(col("vec_id").as("id"), col("embedding"))
        .join(broadcast(cands), Seq("id"))
      DflFrame.pipeline(withVec,
        "mmr(@, '@id', '@cos', '@embedding', 10, 0.7)")
    }),
    // the full serving stack as ONE DFL stage (the product surface of
    // pipeline_serving_stack): indexed BM25 run ⊕ cosine run → RRF →
    // MMR — same pools (2k per run), same fusion, same greedy, so the
    // serving-stack oracle replays this row value-for-value
    "dfl_hybrid" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qtext = "spark stream window merge"
      val emb = llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
        dim = 16, seed = 7L)
      val qvec = llm.TextAnalysis.hashEmbed(
        Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
        dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
      // lazy localCheckpoint: the hybrid stage consumes its input for
      // the BM25 leg, the cosine leg, AND the MMR candidate fetch —
      // without truncation the docs⋈hashEmbed join ran once per leg
      val corpus = docs.select(col("doc_id"), col("text"))
        .join(emb.select(col("doc_id"), col("vec")), Seq("doc_id"))
        .localCheckpoint(eager = false)
      DflFrame.pipeline(corpus,
        s"hybrid(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 10, 0.7)",
        Map("q" -> qvec))
    }),
    // the FILTERED hybrid stack: both legs restricted to lang='en' with
    // corpus-global BM25 statistics (predicate before ranking — the
    // bm25_filtered contract), RRF-fused, MMR-re-ranked; the predicate
    // arrives as a DFL boolean over the corpus row
    // the persistent-index PROBE stages (the catalog `index:REF` shape):
    // a PREBUILT dir bound as an $idx var, no corpus scan, no
    // fingerprint-cache build — answers equal the indexed families
    // already proven above (same planted-clique / bm25Sql oracles)
    "dfl_ann_probe" -> ((s, dir) => {
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "dflannprobe") { d =>
        llm.Similarity.ivfBuild(corpus, "vec_id", "embedding", d); ()
      }
      DflFrame.pipeline(corpus, "annProbe(@, $idx, $q, 10)",
        Map("idx" -> idxDir, "q" -> q))
    }),
    "dfl_ann_probe_refined" -> ((s, dir) => {
      // the refined probe stage over a persistent keepVectors ivfpq
      // index: compressed nomination + TRUE-cosine sidecar rerank means
      // the BRUTE-FORCE top-k is its real value-for-value oracle — the
      // reconstruction-cosine barrier that forces the plain ivfpq rows
      // onto planted contracts does not apply here.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "dflannproberef") { d =>
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", d,
          kLists = 8, m = 8, k = 16, keepVectors = true)
      }
      DflFrame.pipeline(corpus, "annProbe(@, $idx, $q, 10, 1, 4)",
        Map("idx" -> idxDir, "q" -> q))
    }),
    "dfl_ann_filtered_refined" -> ((s, dir) => {
      // the FILTERED + REFINED serving shape exposed as a DFL stage
      // (annProbeFiltered + refine): the pred-filtered widening loop
      // nominates at k×factor ELIGIBLE, the float sidecar reranks with
      // true cosines — catalog/process users get the round-19 serving
      // composition without the CLI. Shares ann_ivfpq_filtered_refined's
      // flag-metaCol keepVectors build; answers are exact cosines over
      // eligible rows, so the REAL filtered brute-force oracle applies.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "ivfpq-frefined")(
        llm.Pq.ivfPqBuild(
          corpus.withColumn("flag", (col("vec_id") % 2).cast("int")),
          "vec_id", "embedding", _, kLists = 8, m = 8, k = 16,
          keepVectors = true, metaCols = Seq("flag")))
      DflFrame.pipeline(corpus,
        "annProbeFiltered(@, $idx, $q, 5, '@flag == 0', 1, 4)",
        Map("idx" -> idxDir, "q" -> q))
    }),
    "dfl_ann_range_probe" -> ((s, dir) => {
      // RANGE probe of a persistent FLOAT index through the DFL stage
      // (annRangeProbe — the threshold-bound sibling completing the DFL
      // probe family): float layouts threshold TRUE cosines, so the
      // REAL brute-force range oracle applies. Only the clique clears
      // 0.99 (its cosines are exactly 1.0), and every member sits in
      // the query's own rank-0 list. Shares dfl_ann_probe's build.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "dflannprobe") { d =>
        llm.Similarity.ivfBuild(corpus, "vec_id", "embedding", d); ()
      }
      DflFrame.pipeline(corpus, "annRangeProbe(@, $idx, $q, 0.99)",
        Map("idx" -> idxDir, "q" -> q))
    }),
    "dfl_ann_range_probe_refined" -> ((s, dir) => {
      // the REFINED range stage over a persistent keepVectors ivfpq
      // index: loosened ADC nomination (refine 10 → slack 0.5, the
      // ann_ivfpq_range_refined net), TRUE-cosine threshold verify —
      // exact answers, REAL range oracle. Shares
      // dfl_ann_probe_refined's build.
      val (corpus, q) = plantedCliqueCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "dflannproberef") { d =>
        llm.Pq.ivfPqBuild(corpus, "vec_id", "embedding", d,
          kLists = 8, m = 8, k = 16, keepVectors = true)
      }
      DflFrame.pipeline(corpus, "annRangeProbe(@, $idx, $q, 0.99, 1, 10)",
        Map("idx" -> idxDir, "q" -> q))
    }),
    "dfl_bm25_probe" -> ((s, dir) => {
      val idxDir = memoIndexDir(dir, "dflbmprobe", table = "documents") { d =>
        llm.Retrieval.bm25Build(t(s, dir, "documents"), "doc_id", "text",
          d, pbands = 16)
      }
      DflFrame.pipeline(t(s, dir, "documents"),
        "bm25Probe(@, $idx, 'spark stream window', 10)",
        Map("idx" -> idxDir))
    }),
    // the BATCH probe twins: [qid, vector] / [qid, 'terms'] pair lists
    // (the HTTP request shapes) against the same persistent dirs —
    // every slice ≡ the single probe, the family contract
    "dfl_ann_probe_batch" -> ((s, dir) => {
      val (corpus, queries) = plantedBatchCorpus(s, dir)
      val idxDir = memoIndexDir(dir, "dflannprobeb") { d =>
        llm.Similarity.ivfBuild(corpus, "vec_id", "embedding", d); ()
      }
      val qsVar: Seq[Seq[Any]] = queries.map { case (id, v) => Seq(id, v) }
      DflFrame.pipeline(corpus, "annProbeBatch(@, $idx, $qs, 10)",
        Map("idx" -> idxDir, "qs" -> qsVar))
    }),
    "dfl_bm25_probe_batch" -> ((s, dir) => {
      val idxDir = memoIndexDir(dir, "dflbmprobe", table = "documents") { d =>
        llm.Retrieval.bm25Build(t(s, dir, "documents"), "doc_id", "text",
          d, pbands = 16)
      }
      val qsVar: Seq[Seq[Any]] = bm25BatchQueries.map { case (q, ts) =>
        Seq(q, ts.mkString(" ")) }
      DflFrame.pipeline(t(s, dir, "documents"),
        "bm25ProbeBatch(@, $idx, $qs, 5)",
        Map("idx" -> idxDir, "qs" -> qsVar))
    }),
    // the full hybrid stack from two PERSISTENT indexes (the catalog
    // index:REF serving shape): indexed BM25 leg + indexed ANN leg +
    // RRF + MMR at pure probe cost. The ANN index builds with ONE list,
    // so its probe provably equals the exact cosine ranking and the
    // servingStack SQL stays a value oracle for the whole fused stack.
    "dfl_hybrid_probe" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qtext = "spark stream window merge"
      val emb = llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
        dim = 16, seed = 7L)
      val qvec = llm.TextAnalysis.hashEmbed(
        Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
        dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
      val bmDir = memoIndexDir(dir, "hpbm25", table = "documents") { d =>
        llm.Retrieval.bm25Build(docs, "doc_id", "text", d, pbands = 16)
      }
      val annDir = memoIndexDir(dir, "hpann", table = "documents") { d =>
        llm.Similarity.ivfBuild(
          emb.select(col("doc_id"), col("vec")), "doc_id", "vec", d,
          kLists = 1); ()
      }
      DflFrame.pipeline(docs,
        s"hybridProbe(@, $$bm, $$ann, '$qtext', $$q, 10, 0.7)",
        Map("bm" -> bmDir, "ann" -> annDir, "q" -> qvec))
    }),
    "dfl_hybrid_filtered" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val qtext = "spark stream window merge"
      val emb = llm.TextAnalysis.hashEmbed(docs, "doc_id", "text",
        dim = 16, seed = 7L)
      val qvec = llm.TextAnalysis.hashEmbed(
        Seq((0L, qtext)).toDF("doc_id", "text"), "doc_id", "text",
        dim = 16, seed = 7L).select("vec").as[Seq[Double]].head()
      // lazy localCheckpoint — see dfl_hybrid: three stage legs consume
      // the joined corpus
      val corpus = docs.select(col("doc_id"), col("text"), col("lang"))
        .join(emb.select(col("doc_id"), col("vec")), Seq("doc_id"))
        .localCheckpoint(eager = false)
      DflFrame.pipeline(corpus,
        s"""hybridFiltered(@, '@doc_id', '@text', '@vec', '$qtext', $$q, 10, "@lang == 'en'", 0.7)""",
        Map("q" -> qvec))
    }),

    // ---- unigram-LM (SentencePiece-family) tokenizer ----
    // substring candidate seeding: exact integer counts, total tie order
    "unigram_seed" -> ((s, dir) =>
      llm.Unigram.seedTop(t(s, dir, "documents"), "text", maxPieceLen = 8,
        k = 200)),
    // Viterbi best-segmentation scores under the rank-derived DYADIC
    // vocab (exact double sums → engine-identical maxima); the oracle
    // replays by FULL ENUMERATION of every cut of every word
    "unigram_segment_scores" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      llm.Unigram.wordScores(docs, "text",
        llm.Unigram.rankVocab(docs, "text", maxPieceLen = 8, topMulti = 64),
        maxPieceLen = 8, maxWordLen = 12)
    }),
    // EM training contract (float summation order is partition-dependent,
    // so the trained probabilities carry guarantees, not bit values —
    // the lr_train posture): likelihood non-decreasing across EM steps,
    // probabilities normalized, trained vocab compresses the corpus
    // below its character baseline
    "unigram_train" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val (vocab, lls) = llm.Unigram.train(docs, "text", vocabSize = 128,
        maxPieceLen = 8, seedSize = 256, iters = 3)
      val monotone = lls.zip(lls.tail).forall { case (a, b) =>
        b >= a - 1e-6 * math.abs(a) }
      val probSum = math.abs(vocab.map(p => math.exp(p.logp)).sum - 1.0) < 1e-9
      val agg = llm.Bpe.wordCounts(docs, "text").select(
          size(graft.functions.UnigramF.segmentAll(array(col("word")),
            vocab.map(_.piece), vocab.map(_.logp), 8)).cast("long").as("np"),
          length(col("word")).cast("long").as("nc"), col("n"))
        .agg(sum(col("np") * col("n")).as("np"),
          sum(col("nc") * col("n")).as("nc")).collect().head
      val compresses = agg.getLong(0) < agg.getLong(1)
      Seq((monotone, probSum, compresses))
        .toDF("em_monotone", "prob_sum_1", "compresses")
    }),
    // the round-trip law, tokenizer-family-independent: unigram pieces
    // partition each word, so decode ∘ segment = normText for ANY vocab
    // — a hard value oracle over the whole corpus, like bpe_decode
    "unigram_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = unigramArtifact(s, docs, dir, byteLevel = false)
      llm.Bpe.decode(
        llm.Unigram.segment(docs, "doc_id", "text", vocab), "id", "pieces")
    }),
    // BYTE-level unigram round trip: decodeByte ∘ segmentByte = the RAW
    // text identity for any vocab — strictly harder than the char
    // path's normText law, the same bar the byte-BPE row meets
    "unigram_byte_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = unigramArtifact(s, docs, dir, byteLevel = true)
      llm.Bpe.decodeByte(
        llm.Unigram.segmentByte(docs, "doc_id", "text", vocab), "id", "pieces")
    }),
    // the DFL front door: frozen piece table bound as a dataset var,
    // served row-locally, decoded back — the same law through the stage
    "dfl_unigram_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = unigramArtifact(s, docs, dir, byteLevel = false)
      val seg = DflFrame.pipeline(docs,
        "unigramSegment(@, '@doc_id', '@text', $vocab)",
        Map("vocab" -> llm.Unigram.vocabDf(s, vocab)))
      llm.Bpe.decode(seg, "id", "pieces")
    }),

    // ---- web-corpus ingestion ops ----
    // HTML → text extraction over a planted wrapper (script/style
    // content stripped WITH their elements, tags → spaces, entities
    // decoded &amp;-last); the oracle states the closed-form expectation
    "html_extract" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        llm.TextAnalysis.extractHtmlText(htmlWrapped).as("clean"))),
    "dfl_html_extract" -> ((s, dir) =>
      DflFrame.pipeline(
        t(s, dir, "documents").select(col("doc_id"), htmlWrapped.as("h")),
        "map(@, '{doc_id: @doc_id, clean: htmlText(@h)}')")),
    // mergeable HLL sketch table: per-type user sketches built in ONE
    // raw scan, rolled up to the global distinct WITHOUT re-reading raw
    // data; contract (the approx_distinct_users posture): every
    // estimate within the sketch's error band of the exact count, and
    // the merged global within a band of the directly-built one (exact
    // equality is impossible by design: direct sketches carry the
    // order-dependent HIP estimator, which a union must discard)
    "sketch_rollup" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val perType = util.Sketches.hllBuild(ev, "event_type", "user_id")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact"))
      val typeOk = perType.join(exact, "event_type")
        .select((abs(util.Sketches.hllEstimate(col("sketch")) - col("exact"))
          <= col("exact") * 0.03).as("ok"))
        .agg(min(col("ok"))).head().getBoolean(0)
      val merged = util.Sketches.hllRollup(perType, lit("all"))
        .select(util.Sketches.hllEstimate(col("sketch"))).head().getLong(0)
      val direct = util.Sketches.hllBuild(ev.withColumn("one", lit("all")),
        "one", "user_id")
        .select(util.Sketches.hllEstimate(col("sketch"))).head().getLong(0)
      val exactAll = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
      Seq((typeOk, math.abs(merged - direct) <= math.max(2L, direct / 50),
        math.abs(merged - exactAll) <= exactAll * 0.03))
        .toDF("per_type_in_band", "merge_within_band", "global_in_band")
    }),
    // mergeable BLOOM membership table (the fourth sketch family
    // member: distinct=HLL, quantile=QSketch, heavy-hitters=MG,
    // membership=bloom): per-type seen-user filters built in the
    // ingest scan, UNIONED to the global filter (bitwise OR — no
    // second raw scan). Contract: zero false negatives per type AND
    // through the rollup (the guarantee unions preserve), absent-key
    // false-positive rate within 3× the design fpp, incompatible
    // sizes rejected loudly
    "bloom_rollup" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      val per = util.Sketches.bloomBuild(ev, "event_type", "h",
        estItems = 20000L, numBits = 1L << 18)
      val all = util.Sketches.bloomRollup(per, lit("all"))
      val allBytes = all.select("bloom").head().getAs[Array[Byte]](0)
      val bf = graft.functions.BloomFns.broadcastBloom(s, allBytes)
      // zero false negatives: every real user hash probes true globally
      val misses = ev.filter(!graft.functions.BloomFns
        .bloomMightContain(bf, col("h"))).count()
      // per-type too: each type's own bloom sees all its own hashes
      val perMisses = per.collect().map { r =>
        val tBf = graft.functions.BloomFns.broadcastBloom(s,
          r.getAs[Array[Byte]](1))
        ev.filter(col("event_type") === r.getString(0))
          .filter(!graft.functions.BloomFns.bloomMightContain(tBf, col("h")))
          .count()
      }.sum
      // fp band: hashes of ids guaranteed absent (offset far past any
      // user id) — observed fpp ≤ 3× the filter's OWN expected fpp
      // (Spark's BloomFilter.expectedFpp reads the actual bit
      // saturation and hash count, so the band tracks whatever k the
      // builder chose instead of a hand-derived formula)
      val absent = s.range(1, 20001)
        .select(xxhash64(col("id") + lit(1000000000L)).as("h"))
      val fps = absent.filter(graft.functions.BloomFns
        .bloomMightContain(bf, col("h"))).count()
      val designFpp = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(allBytes)).expectedFpp()
      val fppOk = fps.toDouble / 20000 <= math.max(designFpp * 3, 0.003)
      // incompatible sizes must throw, not silently OR. The probe
      // INTENTIONALLY fails a task, and Spark's executor/scheduler log
      // that at ERROR — an alarming stack in otherwise-clean gate logs
      // (Verify/Bench/PlanLint all construct this query) — so those two
      // loggers are silenced for exactly this block and restored after.
      // The silencing is JVM-wide: it assumes the gate runners' one-
      // query-at-a-time execution (a concurrent query failing inside
      // this window would lose its ERROR trace), and the restore pins
      // the previously-inherited levels as explicit logger configs —
      // both acceptable for sequential gate runs, which is the only
      // place this oracle executes
      val bad = util.Sketches.bloomBuild(ev, "event_type", "h",
        estItems = 100L, numBits = 1L << 10)
      val clash = {
        import org.apache.logging.log4j.{Level, LogManager}
        import org.apache.logging.log4j.core.config.Configurator
        val names = Seq("org.apache.spark.executor.Executor",
          "org.apache.spark.scheduler.TaskSetManager",
          "org.apache.spark.scheduler.DAGScheduler")
        val prior = names.map(n => n -> LogManager.getLogger(n).getLevel)
        names.foreach(Configurator.setLevel(_, Level.OFF))
        // the contract is the SPECIFIC incompatible-merge rejection, not
        // "anything failed": with the loggers muted, a blanket isFailure
        // would pass this oracle green on an unrelated fault (OOM, lost
        // shuffle file) while suppressing its only stack trace — so the
        // cause chain must name the bloom-merge incompatibility
        def incompatible(t: Throwable): Boolean =
          t != null && (t.getClass.getSimpleName == "IncompatibleMergeException" ||
            Option(t.getMessage).exists(_.contains("Cannot merge bloom filters")) ||
            incompatible(t.getCause))
        try scala.util.Try(
          util.Sketches.bloomRollup(per.unionByName(bad), lit("x")).collect()
        ).failed.toOption.exists(incompatible)
        finally prior.foreach { case (n, l) => Configurator.setLevel(n, l) }
      }
      Seq((misses == 0 && perMisses == 0, fppOk, clash))
        .toDF("no_false_negatives", "fpp_in_band", "incompatible_rejected")
    }),
    // mergeable QUANTILE sketch table (the HLL pattern for the other
    // non-additive aggregate): per-language doc-length sketches built
    // in ONE raw scan, rolled up to the global percentiles WITHOUT
    // re-reading raw data. k exceeds every group (documents ≤ 5k rows
    // at sf0.1), so no compaction fires and the sketch IS the sorted
    // data — quantiles are exactly the ceil(q·n)-th order statistic,
    // which the oracle replays rank-for-rank, merged 'all' row included
    "qsketch_doclen" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val per = util.Sketches.qsBuild(docs, "lang", "n_chars", k = 8192)
      // ONE sketch decode per row serves all four columns (qsStats)
      def out(df: DataFrame, grp: org.apache.spark.sql.Column) = df.select(
          grp.as("grp"),
          util.Sketches.qsStats(col("sketch"), Seq(0.25, 0.5, 0.9)).as("__s"))
        .select(col("grp"), col("__s.n").as("n"), col("__s.q")(0).as("p25"),
          col("__s.q")(1).as("p50"), col("__s.q")(2).as("p90"))
      out(per, col("lang"))
        .unionByName(out(util.Sketches.qsRollup(per, lit("all")), col("grp")))
    }),
    // the sketch table reached from DFL: per-lang doc-length quantiles
    // through the `quantiles` stage — exact regime, shares the explicit
    // order-statistic oracle family
    "dfl_quantiles" -> ((s, dir) =>
      DflFrame.pipeline(t(s, dir, "documents"),
        "quantiles(@, '@lang', '@n_chars')")),
    // the CORPUS HEALTH REPORT composite — the one table a curation run
    // starts from: per-source doc counts, corpus-wide-fingerprint dup
    // rate (cross-source dups count against both sides, the
    // source_stats semantics), language spread, the (p25, p50, p90)
    // length drill-down in ONE decode of the quantile-sketch TABLE
    // whose 'all' row is a ROLLUP of the per-source sketches (no second
    // raw scan — the 100 TB report shape), exact distinct-content
    // counts, and the HLL distinct-content sketch path proven in-band
    // against them (per-source sketches rolled to 'all' without a
    // rescan — the approximate column a 100 TB report would serve when
    // the exact distinct is too expensive); every value column
    // SQL-replayed, the sketch column as its contract boolean
    "corpus_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rows = docs.select(col("doc_id").as("id"), col("source"),
        col("lang"), col("n_chars"),
        llm.TextAnalysis.fingerprint(col("text")).as("fp"))
      val dup = rows.groupBy("fp").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("fp"), lit(1).as("__d"))
      val flagged = rows.join(dup, Seq("fp"), "left")
      // grp materializes as a REAL column on both join sides (per-source
      // rows unioned with 'all'-labeled rows) — joining two one-row
      // constant-grouped frames on a literal key would fold the join
      // condition away and degrade to a nested-loop join (PlanLint)
      val u = flagged.select(col("source").as("grp"), col("lang"),
          col("fp"), col("__d"))
        .unionByName(flagged.select(lit("all").as("grp"), col("lang"),
          col("fp"), col("__d")))
      val st = u.groupBy("grp").agg(
        count(lit(1)).as("n_docs"),
        round(sum(when(col("__d").isNotNull, 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("dup_rate"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("fp")).as("n_uniq"))
      val perSketch = util.Sketches.qsBuild(docs, "source", "n_chars",
        k = 8192)
      val sketches = perSketch.select(col("source").as("grp"), col("sketch"))
        .unionByName(util.Sketches.qsRollup(perSketch, lit("all")))
      val perHll = util.Sketches.hllBuild(rows, "source", "fp")
      val hlls = perHll.select(col("source").as("grp"),
          col("sketch").as("__h"))
        .unionByName(util.Sketches.hllRollup(perHll, lit("all"))
          .select(col("grp"), col("sketch").as("__h")))
      st.join(sketches.select(col("grp"),
          util.Sketches.qsStats(col("sketch"), Seq(0.25, 0.5, 0.9))
            .as("__q")), Seq("grp"))
        .join(hlls, Seq("grp"))
        .select(col("grp"), col("n_docs"), col("dup_rate"), col("n_langs"),
          col("n_uniq"),
          col("__q.q")(0).as("p25_chars"), col("__q.q")(1).as("p50_chars"),
          col("__q.q")(2).as("p90_chars"),
          (abs(util.Sketches.hllEstimate(col("__h")) - col("n_uniq"))
            <= greatest(round(col("n_uniq") * 0.03, 0), lit(2.0)))
            .as("uniq_fp_in_band"))
    }),
    // compacted-regime contract (the sketch_rollup posture): orders'
    // totalprice at realistic k=512 — total weight stays EXACT through
    // every compaction and merge (Σ per-group n == rollup n == row
    // count), and the rolled-up global p50/p90 land within 2% TRUE
    // RANK of their targets (the sketch's error currency is rank, not
    // value)
    "qsketch_contract" -> ((s, dir) => {
      import s.implicits._
      val ord = t(s, dir, "orders")
      val total = ord.count()
      val per = util.Sketches.qsBuild(ord, "o_orderstatus", "o_totalprice",
        k = 512)
      val perSum = per.agg(sum(util.Sketches.qsCount(col("sketch"))))
        .head().getLong(0)
      val rolled = util.Sketches.qsRollup(per, lit("all"))
      val row = rolled.select(
        util.Sketches.qsCount(col("sketch")),
        util.Sketches.qsQuantile(col("sketch"), 0.5),
        util.Sketches.qsQuantile(col("sketch"), 0.9)).head()
      val (rolledN, p50, p90) = (row.getLong(0), row.getDouble(1),
        row.getDouble(2))
      def trueRank(v: Double): Double =
        ord.filter(col("o_totalprice") <= v).count().toDouble / total
      Seq((perSum == total && rolledN == total,
        math.abs(trueRank(p50) - 0.5) <= 0.02,
        math.abs(trueRank(p90) - 0.9) <= 0.02))
        .toDF("count_exact", "p50_rank_in_band", "p90_rank_in_band")
    }),
    // Luhn-validated card scrub: the checksum-passing planted PAN
    // (spaced 4-4-4-4) redacts, the one-digit-off neighbor survives —
    // the false-positive regression a regex-only scrubber cannot make
    "pii_cc_scrub" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.ScrubCcF.scrubCc(concat(col("text"),
          lit(" card 4111 1111 1111 1111 ok 4111111111111112 end")))
          .as("clean"))),
    "dfl_pii_cc_scrub" -> ((s, dir) =>
      DflFrame.pipeline(
        t(s, dir, "documents").select(col("doc_id"), concat(col("text"),
          lit(" card 4111 1111 1111 1111 ok 4111111111111112 end")).as("t")),
        "map(@, '{doc_id: @doc_id, clean: scrubCc(@t)}')")),
    // per-script letter shares over a planted multi-script suffix (the
    // ASCII corpus alone would make every share trivially 1.0) — both
    // engines evaluate one formula over one input
    "script_shares" -> ((s, dir) =>
      llm.TextAnalysis.scriptShares(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            lit(" привет мир 中文字 مرحبا بكم γλώσσα")).as("text")),
        "doc_id", "text").withColumnRenamed("id", "doc_id")),
    // C4-style corpus-wide line dedup: first occurrence survives, docs
    // re-assemble from surviving lines; the planted footer line must
    // scrub everywhere but one doc, and naturally-repeated 8-token
    // lines dedup too — full DuckDB replay
    "line_dedup" -> ((s, dir) =>
      llm.TextAnalysis.dedupLines(linedDocs(t(s, dir, "documents")),
        "doc_id", "text").withColumnRenamed("id", "doc_id")),
    "dfl_line_dedup" -> ((s, dir) =>
      DflFrame.pipeline(linedDocs(t(s, dir, "documents")),
        "lineDedup(@, '@doc_id', '@text')")),
    // URL canonicalization: the engine PARSES a messy synthesized
    // rendering (upper-cased www host, default port, tracking params,
    // unsorted query, per-doc fragment) that the oracle knows the
    // ground truth of by construction — docs sharing (source,
    // doc_id%50) must collapse to one canonical key
    "url_canon" -> ((s, dir) =>
      llm.Urls.canonicalize(
        t(s, dir, "documents").withColumn("url", messyUrl),
        "doc_id", "url").select(col("id"), col("canon"))),
    "url_dedup" -> ((s, dir) =>
      llm.Urls.urlDedup(
        t(s, dir, "documents").withColumn("url", messyUrl),
        "doc_id", "url")),
    // the scalar from DFL (canonUrl composes with the generic dedup
    // stages — URL dedup needs no dedicated stage)
    "dfl_url_canon" -> ((s, dir) =>
      DflFrame.pipeline(
        t(s, dir, "documents").withColumn("url", messyUrl),
        "map(@, '{id: @doc_id, canon: canonUrl(@url)}')")),
    // block-aware extraction: paragraph boundaries become newlines, so
    // per-block boilerplate stays a separable line
    "html_blocks" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        llm.TextAnalysis.extractHtmlBlocks(htmlBlockWrapped).as("blocks"))),
    // the WEB-INGEST composite: block extraction → corpus-wide line
    // dedup; the planted subscribe-block survives in exactly one doc
    "pipeline_web_ingest" -> ((s, dir) =>
      llm.TextAnalysis.dedupLines(
        t(s, dir, "documents").select(col("doc_id"),
          llm.TextAnalysis.extractHtmlBlocks(htmlBlockWrapped).as("text")),
        "doc_id", "text").withColumnRenamed("id", "doc_id")),

    "q2_join_agg" -> ((s, dir) => {
      // nation is a FIXED 25-row dim → always broadcast. supplier SCALES
      // with SF (~10⁹ rows at 100 TB), so no hint there: AQE broadcasts it
      // while it fits and falls back to a shuffle join when it doesn't —
      // a forced broadcast(supp) would OOM the executors at scale.
      val li = t(s, dir, "lineitem")
      val supp = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      li.join(supp, li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("l_extendedprice"), 2).as("revenue"),
             count(lit(1)).as("n"))
    }),
  )

  private val q3Queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q3_shipping" -> ((s, dir) => {
      // TPC-H Q3 shape: selective dim filter → two shuffle joins (customer
      // and orders are both fact-sized at scale, so broadcast is wrong
      // here — AQE picks sort-merge with runtime stats) → partial+final
      // agg → top-k (TakeOrderedAndProject, never a global sort)
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"))
        .join(li, ord("o_orderkey") === li("l_orderkey"))
        .groupBy(li("l_orderkey").as("l_orderkey"),
          ord("o_orderdate").cast("date").cast("string").as("o_orderdate"))
        .agg(round(sum(li("l_extendedprice") * (lit(1.0) - li("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
  )

  /** DuckDB-equivalent SQL per query (driver runs these over the same
    * parquet tables at the same sf dir). */
  def oracleSql: Map[String, String] = Map(
    "filter_eq" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'",
    "filter_between" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity BETWEEN 10.0 AND 20.0",
    "filter_within" ->
      """SELECT event_id FROM events
        | WHERE ((value % 360.0) - 180.0) BETWEEN -150.0 AND -100.0
        |   AND ((value % 170.0) - 85.0) BETWEEN -60.0 AND 0.0""".stripMargin,
    "filter_in" ->
      "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
    "filter_iin" ->
      "SELECT c_custkey, c_mktsegment FROM customer WHERE lower(c_mktsegment) IN ('building', 'machinery')",
    "filter_like" ->
      "SELECT p_partkey, p_name FROM part WHERE p_name LIKE '%a%'",
    "filter_ilike" ->
      "SELECT p_partkey, p_type FROM part WHERE lower(p_type) LIKE lower('%econ%')",
    // `value IS NULL OR` pins the DFL semantics explicitly: a null ternary
    // condition falls to the otherwise branch (`@`, non-null), so null-valued
    // rows are KEPT — the previous `WHERE NOT (value < 50.0)` matched only
    // because the generated events table happens to contain no nulls
    "ternary_null_drop" ->
      "SELECT event_id, value FROM events WHERE value IS NULL OR NOT (value < 50.0)",
    "elvis_default" ->
      "SELECT event_id, coalesce(CASE WHEN event_type = 'error' THEN NULL ELSE value END, -1.0) AS v FROM events",
    "intersects_words" ->
      "SELECT doc_id FROM documents WHERE list_has_any(string_split(text, ' '), ['spark', 'window'])",
    "map_arith" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS disc_price, CAST(l_quantity AS BIGINT) AS q FROM lineitem",
    "string_concat_path" ->
      "SELECT o_orderkey, 'orders/' || o_orderstatus || '/' || o_orderpriority AS path FROM orders",
    "json_lookup" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
    "sort_limit_topk" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 25",
    "agg_len" ->
      "SELECT count(*) AS len FROM lineitem",
    "distinct_set" ->
      "SELECT DISTINCT p_brand AS value FROM part ORDER BY 1",
    "hist_key" ->
      "SELECT event_type AS key, count(*) AS count FROM events GROUP BY 1",
    "hist_nested" ->
      """SELECT lang AS key, w.word AS word, count(*) AS count
        | FROM documents, unnest(string_split(text, ' ')) AS w(word)
        | GROUP BY 1, 2""".stripMargin,
    "bbox_extent" ->
      """SELECT min((value % 360.0) - 180.0) AS w, min((value % 170.0) - 85.0) AS s,
        |       max((value % 360.0) - 180.0) AS e, max((value % 170.0) - 85.0) AS n
        |  FROM events""".stripMargin,
    "centroid_mean" ->
      """SELECT (min((value % 360.0) - 180.0) + max((value % 360.0) - 180.0)) / 2.0 AS cx,
        |       (min((value % 170.0) - 85.0) + max((value % 170.0) - 85.0)) / 2.0 AS cy
        |  FROM events""".stripMargin,
    "tile_stamp" ->
      """SELECT event_id,
        |       CAST(floor((((value % 360.0) - 180.0) + 180.0) / 360.0 * 256.0) AS BIGINT) AS tx,
        |       CAST(floor((1.0 - ln(tan(radians((value % 170.0) - 85.0)) + 1.0 / cos(radians((value % 170.0) - 85.0))) / pi()) / 2.0 * 256.0) AS BIGINT) AS ty
        |  FROM events""".stripMargin,
    "tile_hist" ->
      """SELECT CAST(floor((((value % 360.0) - 180.0) + 180.0) / 360.0 * 16.0) AS BIGINT) AS tx,
        |       CAST(floor((1.0 - ln(tan(radians((value % 170.0) - 85.0)) + 1.0 / cos(radians((value % 170.0) - 85.0))) / pi()) / 2.0 * 16.0) AS BIGINT) AS ty,
        |       count(*) AS n
        |  FROM events GROUP BY 1, 2""".stripMargin,
    "hist_minus_set" ->
      """SELECT event_type AS key, count(*) AS count FROM events
        | WHERE event_type NOT IN ('error', 'purchase') GROUP BY 1""".stripMargin,
    "group_collect_ids" ->
      """SELECT o_orderstatus AS key,
        |       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS ids
        |  FROM orders GROUP BY 1""".stripMargin,
    "time_window_hist" ->
      """SELECT CAST(floor(epoch_ns(ts) / 60000000000.0) AS BIGINT) AS w,
        |       event_type AS key, count(*) AS n
        |  FROM events GROUP BY 1, 2""".stripMargin,
    "tile_bounds" ->
      """SELECT event_id,
        |       round(CAST(floor((((value % 360.0) - 180.0) + 180.0) / 360.0 * 256.0) AS BIGINT) / 256.0 * 360.0 - 180.0, 6) AS lon_w,
        |       255 - CAST(floor((1.0 - ln(tan(radians((value % 170.0) - 85.0)) + 1.0 / cos(radians((value % 170.0) - 85.0))) / pi()) / 2.0 * 256.0) AS BIGINT) AS fy
        |  FROM events""".stripMargin,
    "vec_norms" ->
      """SELECT vec_id, round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                           CAST(embedding AS DOUBLE[]))), 4) AS nrm
        |  FROM embeddings""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS n
        |  FROM lineitem GROUP BY 1, 2""".stripMargin,
    // temporal operators: deterministic window renderings (equal-ts pick
    // is DEFINED — DuckDB's native ASOF JOIN leaves it unspecified, and
    // the prototype pinned parity with it on this data). The dfl_* rows
    // share each SQL — the DFL stage must agree with the Scala API.
    "asof_join" -> asofJoinSql,
    "dfl_asof" -> asofJoinSql,
    // SemDeDup rows: closed-form planted-clique oracles (see the query
    // comments — the pair set is provably the clique pairs at any
    // clustering, the survivor set provably the natural corpus)
    "semdedup_pairs" ->
      """WITH qs AS (SELECT * FROM (VALUES (0), (1), (2)) AS t(q)),
        |ids AS (SELECT q, CAST(q AS BIGINT) AS id FROM qs
        |        UNION ALL
        |        SELECT q, CAST(100000 + q * 100 + r AS BIGINT) AS id
        |          FROM qs, generate_series(1, 10) AS g(r))
        |SELECT a.id AS id_a, b.id AS id_b, 1.0 AS cos
        |  FROM ids a JOIN ids b ON a.q = b.q AND a.id < b.id""".stripMargin,
    "semantic_dedup" -> semanticDedupSql,
    "dfl_semantic_dedup" -> semanticDedupSql,
    "asof_join_fwd" -> asofJoinFwdSql,
    "dfl_asof_fwd" -> asofJoinFwdSql,
    // nearest = argmin |Δts| per left row; the LATERAL's ORDER BY
    // mirrors the engine's tie rules: equal distance → earlier ts
    // (backward), equal ts → max payload struct (event_id, value)
    "asof_join_nearest" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
        |    FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |    FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us,
        |       coalesce(m.ts_us, -1) AS asof_ts_us,
        |       coalesce(m.value, -1.0) AS asof_value,
        |       coalesce(m.event_id, -1) AS asof_event_id
        |  FROM clicks c LEFT JOIN LATERAL (
        |    SELECT p.ts_us, p.event_id, p.value FROM purch p
        |     WHERE p.user_id = c.user_id
        |     ORDER BY abs(p.ts_us - c.ts_us), p.ts_us,
        |              p.event_id DESC, p.value DESC
        |     LIMIT 1) m ON true""".stripMargin,
    "asof_join_tol" ->
      """WITH u AS (
        |  SELECT user_id, 1 AS side, epoch_us(ts) AS ts_us,
        |         CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS DOUBLE) AS r_val,
        |         event_id
        |    FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, 0 AS side, epoch_us(ts) AS ts_us,
        |         event_id AS r_id, value AS r_val, CAST(NULL AS BIGINT) AS event_id
        |    FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT *,
        |    last_value(r_id IGNORE NULLS) OVER ord AS m_id,
        |    last_value(r_val IGNORE NULLS) OVER ord AS m_val,
        |    last_value(CASE WHEN side = 0 THEN ts_us END IGNORE NULLS) OVER ord AS m_ts
        |  FROM u
        |  WINDOW ord AS (PARTITION BY user_id ORDER BY ts_us, side, r_id
        |                 ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT event_id, user_id, ts_us,
        |       coalesce(CASE WHEN ts_us - m_ts <= 86400000000 THEN m_ts END, -1) AS asof_ts_us,
        |       coalesce(CASE WHEN ts_us - m_ts <= 86400000000 THEN m_val END, -1.0) AS asof_value,
        |       coalesce(CASE WHEN ts_us - m_ts <= 86400000000 THEN m_id END, -1) AS asof_event_id
        |  FROM w WHERE side = 1""".stripMargin,
    "sessionize" -> sessionizeSql,
    "dfl_sessionize" -> sessionizeSql,
    "budget_cap" -> budgetCapSql,
    "dfl_budget_cap" -> budgetCapSql,
    "doclen_quantiles_approx" ->
      """SELECT lang, round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |       TRUE AS within_5pct
        |  FROM documents GROUP BY 1""".stripMargin,
    "quantile_filter" ->
      """SELECT doc_id, n_chars FROM documents
        | WHERE n_chars < (SELECT quantile_cont(n_chars, 0.25) FROM documents)""".stripMargin,
    "corpus_profile" -> corpusProfileSql,
    "dfl_topk" -> eventsTopkSql,
    "events_topk_per_user" -> eventsTopkSql,
    "dfl_rolling" -> rollingUserWindowSql,
    "rolling_user_window" -> rollingUserWindowSql,
    "pipeline_event_features" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
        |                  epoch_us(ts) AS ts_us FROM events),
        |b AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 7200000000
        |                     THEN ts_us END AS bnd
        |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT *, max(bnd) OVER (PARTITION BY user_id ORDER BY ts_us
        |                               ROWS UNBOUNDED PRECEDING) AS session_start_us
        |        FROM b),
        |f AS (SELECT *, count(*) OVER (PARTITION BY user_id ORDER BY ts_us
        |                               RANGE BETWEEN 86400000000 PRECEDING
        |                               AND CURRENT ROW) AS roll_n
        |        FROM s),
        |u AS (
        |  SELECT user_id, 1 AS side, ts_us, CAST(NULL AS BIGINT) AS r_id,
        |         CAST(NULL AS DOUBLE) AS r_val,
        |         event_id, session_start_us, roll_n
        |    FROM f WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, 0 AS side, ts_us, event_id AS r_id, value AS r_val,
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |    FROM e WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT *, last_value(r_val IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, side, r_id
        |     ROWS UNBOUNDED PRECEDING) AS m_val
        |  FROM u)
        |SELECT event_id, user_id, ts_us, session_start_us, roll_n,
        |       coalesce(m_val, -1.0) AS asof_value
        |  FROM w WHERE side = 1""".stripMargin,
    "range_join_bands" ->
      """SELECT e.event_id, coalesce(b.band_id, -1) AS band_id
        |  FROM events e
        |  LEFT JOIN (VALUES (0, 0.0, 50.0), (1, 50.0, 150.0),
        |                    (2, 100.0, 300.0)) AS b(band_id, lo, hi)
        |    ON e.value >= b.lo AND e.value <= b.hi""".stripMargin,
    "doclen_quantiles" ->
      """SELECT lang,
        |       round(quantile_cont(n_chars, 0.5), 4)  AS p50,
        |       round(quantile_cont(n_chars, 0.9), 4)  AS p90,
        |       round(quantile_cont(n_chars, 0.99), 4) AS p99
        |  FROM documents GROUP BY 1""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name, round(sum(l_extendedprice), 2) AS revenue, count(*) AS n
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | GROUP BY 1""".stripMargin) ++ oracleSqlRest

  private val asofJoinSql: String =
      """WITH u AS (
        |  SELECT user_id, 1 AS side, epoch_us(ts) AS ts_us,
        |         CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS DOUBLE) AS r_val,
        |         event_id
        |    FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, 0 AS side, epoch_us(ts) AS ts_us,
        |         event_id AS r_id, value AS r_val, CAST(NULL AS BIGINT) AS event_id
        |    FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT *,
        |    last_value(r_id IGNORE NULLS) OVER ord AS m_id,
        |    last_value(r_val IGNORE NULLS) OVER ord AS m_val,
        |    last_value(CASE WHEN side = 0 THEN ts_us END IGNORE NULLS) OVER ord AS m_ts
        |  FROM u
        |  WINDOW ord AS (PARTITION BY user_id ORDER BY ts_us, side, r_id
        |                 ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT event_id, user_id, ts_us,
        |       coalesce(m_ts, -1) AS asof_ts_us,
        |       coalesce(m_val, -1.0) AS asof_value,
        |       coalesce(m_id, -1) AS asof_event_id
        |  FROM w WHERE side = 1""".stripMargin

  private val rollingUserWindowSql: String =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |       round(sum(value) OVER w, 2) AS roll_sum,
      |       count(*) OVER w AS roll_n
      |  FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)""".stripMargin

  private val eventsTopkSql: String =
    """SELECT event_id, user_id, value, rn FROM (
      |  SELECT event_id, user_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY value DESC, event_id ASC) AS rn
      |    FROM events) WHERE rn <= 3""".stripMargin

  private val semanticDedupSql: String =
    "SELECT vec_id FROM embeddings WHERE vec_id < 100000"

  private val asofJoinFwdSql: String =
      """WITH u AS (
        |  SELECT user_id, 1 AS side, epoch_us(ts) AS ts_us,
        |         CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS DOUBLE) AS r_val,
        |         event_id
        |    FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, 0 AS side, epoch_us(ts) AS ts_us,
        |         event_id AS r_id, value AS r_val, CAST(NULL AS BIGINT) AS event_id
        |    FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT *,
        |    last_value(r_id IGNORE NULLS) OVER ord AS m_id,
        |    last_value(r_val IGNORE NULLS) OVER ord AS m_val,
        |    last_value(CASE WHEN side = 0 THEN ts_us END IGNORE NULLS) OVER ord AS m_ts
        |  FROM u
        |  WINDOW ord AS (PARTITION BY user_id ORDER BY ts_us DESC, side, r_id
        |                 ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT event_id, user_id, ts_us,
        |       coalesce(m_ts, -1) AS asof_ts_us,
        |       coalesce(m_val, -1.0) AS asof_value,
        |       coalesce(m_id, -1) AS asof_event_id
        |  FROM w WHERE side = 1""".stripMargin

  private val sessionizeSql: String =
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |b AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 7200000000
        |                     THEN ts_us END AS bnd
        |        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (SELECT *, max(bnd) OVER (PARTITION BY user_id ORDER BY ts_us
        |                               ROWS UNBOUNDED PRECEDING) AS session_start_us
        |        FROM b)
        |SELECT user_id, session_start_us, max(ts_us) AS session_end_us,
        |       count(*) AS n_events, round(sum(value), 2) AS sum_value
        |  FROM s GROUP BY 1, 2""".stripMargin

  private val budgetCapSql: String =
      s"""WITH d AS (SELECT doc_id, lang,
         |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |                  ${llm.Sampling.hashBucketSql("doc_id", 7L, 1000000)} AS h
         |             FROM documents),
         |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
         |                                 ROWS UNBOUNDED PRECEDING) AS cum
         |        FROM d)
         |SELECT doc_id, lang, n_tok FROM c WHERE cum <= 2000""".stripMargin

  // lazy: entries forward-reference shared SQL vals defined further down
  // (annPlantedRangeSql & co.) — a strict val here would capture nulls
  private lazy val oracleSqlRest: Map[String, String] = Map(
    "q3_shipping" ->
      """SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        | WHERE c_mktsegment = 'BUILDING'
        | GROUP BY 1, 2
        | ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "text_fingerprint" ->
      "SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM documents",
    // same chunk-count formula (1 + ceil(max(len-n,0)/stride)) and same
    // 1-based token slicing; n=64, overlap=16 → stride 48
    "chunk_tokens" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |        1 + CAST(floor((greatest(len(toks) - 64, 0) + 47) / 48.0) AS INT) AS n_chunks
        |      FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_ix,
        |       array_to_string(list_slice(toks, i*48 + 1, i*48 + 64), ' ') AS chunk
        |  FROM c, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) g""".stripMargin,
    // the IDENTICAL patterns TextAnalysis.piiPatterns applies, in the
    // same order (both engines restrict to shared Java-regex/RE2 syntax)
    "pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' contact user' || doc_id || '@example.com or 10.0.'
        |               || (doc_id % 256) || '.7 or 555-123-4567 or +14155550'
        |               || (doc_id % 100 + 100),
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\+[0-9]{9,15}\b', '<PHONE>', 'g') AS scrubbed
        |  FROM documents""".stripMargin,
    "token_counts" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
        |       CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[A-Z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
        |  FROM documents""".stripMargin,
    "lang_id" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('the','and','of','to','a'))) AS s_en,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('el','la','de','y','que'))) AS s_es,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('der','die','und','das','ist'))) AS s_de,
        |    len(list_filter(string_split(lower(text), ' '), x -> x IN ('le','la','et','les','des'))) AS s_fr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN s_en = greatest(s_en, s_es, s_de, s_fr) AND s_en > 0 THEN 'en'
        |       WHEN s_es = greatest(s_en, s_es, s_de, s_fr) AND s_es > 0 THEN 'es'
        |       WHEN s_de = greatest(s_en, s_es, s_de, s_fr) AND s_de > 0 THEN 'de'
        |       WHEN s_fr = greatest(s_en, s_es, s_de, s_fr) AND s_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS lang_guess
        |  FROM s""".stripMargin,
    "quality_score" ->
      s"SELECT doc_id, $qualitySqlExpr AS q FROM documents",
    // zlib isn't SQL-expressible — planted ordering contract (see the
    // query's scaladoc); exact ratios are pinned by LlmSpec
    "compress_ratio" -> "SELECT true AS ordered_ok, true AS corpus_ok",
    "source_stats" ->
      s"""WITH r AS (SELECT doc_id, source,
         |             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |             $qualitySqlExpr AS q
         |           FROM documents),
         |d AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM r GROUP BY 1) WHERE c > 1)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |       CAST(sum(CASE WHEN d.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |       round(sum(CASE WHEN d.fp IS NOT NULL THEN 1.0 ELSE 0.0 END) / count(*), 6) AS dup_rate,
         |       round(avg(q), 6) AS mean_quality
         |  FROM r LEFT JOIN d USING (fp) GROUP BY 1""".stripMargin,
    "source_filtered" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, source, n_chars FROM documents
         |  UNION ALL
         |  SELECT 2000000 + i,
         |         'buy now best deal click here buy now best deal click here buy now best deal click here ',
         |         'srcspam', 87
         |    FROM (SELECT unnest(generate_series(1, 30)) AS i)),
         |r AS (SELECT doc_id, source,
         |        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |        $qualitySqlExpr AS q
         |      FROM corpus),
         |d AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM r GROUP BY 1) WHERE c > 1),
         |stats AS (SELECT source,
         |            sum(CASE WHEN d.fp IS NOT NULL THEN 1.0 ELSE 0.0 END) / count(*) AS dup_rate,
         |            avg(q) AS mean_quality
         |          FROM r LEFT JOIN d USING (fp) GROUP BY 1),
         |blocked AS (SELECT source FROM stats
         |             WHERE dup_rate > 0.5 OR mean_quality < 0.2)
         |SELECT doc_id AS id, source FROM corpus
         | WHERE source NOT IN (SELECT source FROM blocked)""".stripMargin,
    // same raw-token bigrams, same distinct-count / max-frequency forms
    "repetition_stats" ->
      """WITH bg AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CASE WHEN len(string_split(text, ' ')) >= 2 THEN
        |           list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
        |                          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
        |         ELSE [] END AS grams
        |  FROM documents)
        |SELECT doc_id,
        |  round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6)
        |    AS dup_tok_frac,
        |  round(CASE WHEN len(grams) = 0 THEN 0.0 ELSE
        |    CAST(list_max(list_transform(list_distinct(grams),
        |         g -> len(list_filter(grams, x -> x = g)))) AS DOUBLE) / len(grams) END, 6)
        |    AS top_bigram_share
        |  FROM bg""".stripMargin,
    // normText-normalized 8-grams; benchmark = doc_id % 23 == 0
    "decontam_hits" ->
      """WITH tok AS (SELECT doc_id,
        |               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |             FROM documents),
        |ng AS (SELECT doc_id, array_to_string(list_slice(toks, i, i+7), ' ') AS g
        |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
        |       WHERE len(toks) >= 8)
        |SELECT ng.doc_id, count(DISTINCT ng.g) AS hits
        |  FROM ng JOIN (SELECT DISTINCT g FROM ng WHERE doc_id % 23 = 0) bench USING (g)
        | WHERE ng.doc_id % 23 != 0
        | GROUP BY 1""".stripMargin,
    "decontam_clean" -> decontamCleanSql,
    "decontam_bloom_clean" -> decontamCleanSql,
    // per-token lowercasing (not normText) keeps span positions mapped
    // to the raw token array; gram-hash classes ≡ gram-string classes
    "decontam_scrub" ->
      """WITH bt AS (SELECT list_transform(string_split(text, ' '), x -> lower(x)) AS toks
        |             FROM documents WHERE doc_id % 23 = 0),
        |bg AS (SELECT DISTINCT array_to_string(list_slice(toks, i, i + 7), ' ') AS g
        |         FROM bt, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
        |        WHERE len(toks) >= 8),
        |t AS (SELECT doc_id, string_split(text, ' ') AS rt,
        |             list_transform(string_split(text, ' '), x -> lower(x)) AS lt
        |        FROM documents WHERE doc_id % 23 != 0),
        |w AS (SELECT doc_id, i, array_to_string(list_slice(lt, i, i + 7), ' ') AS g
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(lt) - 7)) AS i) s
        |       WHERE len(lt) >= 8),
        |st AS (SELECT doc_id, list(i) AS starts FROM w JOIN bg USING (g) GROUP BY 1),
        |r AS (SELECT t.doc_id, rt AS toks, st.starts FROM t LEFT JOIN st USING (doc_id)),
        |k AS (SELECT doc_id,
        |             CASE WHEN starts IS NULL THEN toks
        |                  ELSE list_filter(toks, (x, ix) -> len(list_filter(starts, s -> ix >= s AND ix < s + 8)) = 0) END AS ktoks
        |        FROM r)
        |SELECT doc_id, coalesce(array_to_string(ktoks, ' '), '') AS clean_text,
        |       CAST(len(ktoks) AS BIGINT) AS n_kept FROM k""".stripMargin,
    // the IDENTICAL 63-bit-safe multiplicative-hash formula (rendered by
    // Sampling.hashBucketSql) evaluated by DuckDB
    "sample_hash" ->
      s"SELECT doc_id FROM documents WHERE ${llm.Sampling.hashBucketSql("doc_id", 42, 1000000)} < 100000",
    // the STRING-id sampler: 60 bits of md5(id || '|' || seed), one
    // formula rendered by hashBucketStrSql for both engines
    "sample_hash_str" ->
      s"""SELECT concat('doc-', doc_id) AS sid FROM documents
         | WHERE ${llm.Sampling.hashBucketStrSql("concat('doc-', doc_id)", 42, 1000000)} < 100000""".stripMargin,
    "dfl_sample" ->
      s"SELECT doc_id FROM documents WHERE ${llm.Sampling.hashBucketSql("doc_id", 42, 1000000)} < 100000",
    "split_hash" ->
      s"""SELECT doc_id,
         |  CAST(CASE WHEN ${llm.Sampling.hashBucketSql("doc_id", 7, 1000000)} < 900000 THEN 0
         |            WHEN ${llm.Sampling.hashBucketSql("doc_id", 7, 1000000)} < 950000 THEN 1
         |            ELSE 2 END AS BIGINT) AS split
         |  FROM documents""".stripMargin,
    "stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         | WHERE ${llm.Sampling.hashBucketSql("doc_id", 1, 1000000)} <
         |   CASE WHEN lang = 'en' THEN 500000
         |        WHEN lang = 'de' THEN 200000
         |        ELSE 50000 END""".stripMargin,
    // thresholds DERIVED from the data with the same closed form the
    // Spark driver uses: round(1e6 * sqrt(n_min/n_d)) — both engines run
    // correctly-rounded IEEE division/sqrt on exact integer counts, and
    // both round() half-away-from-zero, so the thresholds are identical
    "temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |m AS (SELECT min(n) AS nmin FROM c),
         |f AS (SELECT c.lang,
         |             CAST(round(1000000 * sqrt(CAST(m.nmin AS DOUBLE) / n), 0) AS BIGINT) AS thr
         |        FROM c, m)
         |SELECT d.doc_id, d.lang FROM documents d
         |  JOIN f ON d.lang IS NOT DISTINCT FROM f.lang
         | WHERE ${llm.Sampling.hashBucketSql("d.doc_id", 11, 1000000)} < f.thr""".stripMargin,
    // the formula lives in Packing.packSequentialSql so the Spark window
    // expression and the oracle SQL can only drift in one file
    "pack_sequences" ->
      llm.Packing.packSequentialSql("documents", "doc_id", "text", seqLen = 256),
    // next-fit is not window-expressible but IS a recursive CTE (depth =
    // max rows per bucket): the stateful scan now has a value-level oracle
    "pack_greedy" ->
      llm.Packing.packGreedySql("documents", "doc_id", "text", cap = 256),
    // idAs instead of an outer wrapper: bare `offset` in an outer SELECT
    // would parse as DuckDB's OFFSET clause (reserved word)
    "dfl_pack" ->
      llm.Packing.packSequentialSql("documents", "doc_id", "text", seqLen = 256,
        idAs = "id"),
    // same smoothed-unigram formula: p(w) = (c+1)/(N+V), per-token
    // cross-entropy in nats; token = split on single space, both engines
    "lm_xent" -> lmXentSql,
    "ann_pca_lsh" -> annPcaTopkSql,
    "ann_pca_topk" -> annPcaTopkSql,
    "pca_norms" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT vec_id, i, v[i] AS x
        |        FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) s),
        |m AS (SELECT i, avg(x) AS mu FROM x GROUP BY 1)
        |SELECT vec_id, round(sqrt(sum((x - mu) * (x - mu))), 4) AS pnorm
        |  FROM x JOIN m USING (i) GROUP BY 1""".stripMargin,
    "tokenize_ids" -> tokenizeIdsSql,
    "dfl_tokenize" -> tokenizeIdsSql,
    "dfl_profile" -> corpusProfileSql,
    "lm_bigram_xent" -> lmBigramSql,
    "dfl_lm_bigram" -> lmBigramSql,
    "lm_kn_xent" -> lmKnSql,
    "dfl_lm_kn" -> lmKnSql,
    "lm_kn3_xent" -> lmKn3Sql,
    "dfl_lm_kn3" -> lmKn3Sql,
    // normalized-token vocabulary; count(*) is BIGINT in DuckDB (no
    // HUGEINT drift), rank deterministic by (cnt desc, w asc)
    "vocab_top" ->
      """WITH t AS (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |             FROM documents),
        |c AS (SELECT w, count(*) AS cnt FROM t WHERE w <> '' GROUP BY 1)
        |SELECT w, cnt,
        |       CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS BIGINT) AS rnk
        |  FROM c ORDER BY cnt DESC, w ASC LIMIT 200""".stripMargin,
    // sklearn-style smooth idf: score = tf * (ln((N+1)/(df+1)) + 1),
    // ranked per doc on the ROUNDED score so ties break identically
    "tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
        |    FROM documents),
        |tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM toks WHERE w <> '' GROUP BY 1, 2),
        |d AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf,
        |             round(tf.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0), 6) AS score
        |        FROM tf JOIN d USING (term) CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (
        |          PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rnk
        |        FROM s)
        |SELECT doc_id, term, tf, score, rnk FROM r WHERE rnk <= 5""".stripMargin,
    "dfl_lm_score" ->
      s"SELECT doc_id AS id, xent FROM ($lmXentSql)",
    // equality classes, not hash values, drive the counts — DuckDB keeps
    // the raw 16-token window strings where Spark joins on xxhash64
    "window_dupes" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |w AS (SELECT doc_id, array_to_string(list_slice(toks, i, i + 15), ' ') AS g
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 15)) AS i) s
        |       WHERE len(toks) >= 16),
        |wc AS (SELECT doc_id, g, count(*) AS cnt FROM w GROUP BY 1, 2),
        |d AS (SELECT g FROM (SELECT g, sum(cnt) AS tot FROM wc GROUP BY 1) WHERE tot > 1),
        |nd AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_dup
        |         FROM wc JOIN d USING (g) GROUP BY 1)
        |SELECT t.doc_id, CAST(len(toks) - 15 AS BIGINT) AS n_win,
        |       coalesce(nd.n_dup, 0) AS n_dup,
        |       round(coalesce(nd.n_dup, 0) / CAST(len(toks) - 15 AS DOUBLE), 6) AS dup_frac
        |  FROM t LEFT JOIN nd ON t.doc_id = nd.doc_id
        | WHERE len(toks) >= 16""".stripMargin,
    // window-hash equality classes ≡ window-string equality classes (the
    // windowDupStats argument), so DuckDB re-derives the same spans from
    // strings; nested index lambdas do the coverage test
    "dedup_spans" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents
        |                UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 7 = 0),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        |w AS (SELECT doc_id, i, array_to_string(list_slice(toks, i, i + 15), ' ') AS g
        |        FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 15)) AS i) s
        |       WHERE len(toks) >= 16),
        |d AS (SELECT g FROM (SELECT g, count(*) AS c FROM w GROUP BY 1) WHERE c > 1),
        |st AS (SELECT doc_id, list(i) AS starts FROM w JOIN d USING (g) GROUP BY 1),
        |r AS (SELECT t.doc_id, toks, st.starts FROM t LEFT JOIN st USING (doc_id)),
        |k AS (SELECT doc_id,
        |             CASE WHEN starts IS NULL THEN toks
        |                  ELSE list_filter(toks, (x, ix) -> len(list_filter(starts, s -> ix >= s AND ix < s + 16)) = 0) END AS ktoks
        |        FROM r)
        |SELECT doc_id, coalesce(array_to_string(ktoks, ' '), '') AS clean_text,
        |       CAST(len(ktoks) AS BIGINT) AS n_kept FROM k""".stripMargin,
    // the bucketed join re-derives both sides from documents, so the
    // joined result is one self-consistent projection
    "bucketed_join" ->
      """SELECT doc_id, lang, n_chars,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents""".stripMargin,
    // the boundary rule is the hashBucketStr md5-prefix formula over the
    // rolling 3-gram, so DuckDB replays chunking exactly: positions via
    // LATERAL generate_series, boundary flags, running-sum chunk ids,
    // ordered string_agg re-build, md5 fingerprints
    "cdc_chunks" ->
      s"""WITH corpus AS (SELECT doc_id, text FROM documents),
         |$cdcChunkCtes
         |SELECT doc_id AS id, CAST(chunk_idx AS INT) AS chunk_idx, n_toks, fp
         |  FROM chunks""".stripMargin,
    "cdc_dup_chunks" ->
      s"""WITH $cdcPlantedCorpusSql,
         |$cdcChunkCtes,
         |occ AS (SELECT fp, doc_id, count(*) AS occ FROM chunks GROUP BY 1, 2)
         |SELECT fp, count(*)::BIGINT AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occ
         |  FROM occ GROUP BY 1 HAVING count(*) >= 2""".stripMargin,
    "dedup_cdc_pairs" ->
      s"""WITH $cdcPlantedCorpusSql,
         |$cdcChunkCtes,
         |u AS (SELECT DISTINCT doc_id, fp FROM chunks),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM u GROUP BY 1)
         |          WHERE df BETWEEN 2 AND 64),
         |k AS (SELECT doc_id, fp FROM u JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         |  FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
         | GROUP BY 1, 2""".stripMargin,
    "dedup_cdc_scrub" -> cdcScrubSql,
    "dfl_cdc_scrub" -> cdcScrubSql,

    "dfl_cdc_pairs" ->
      s"""WITH $cdcPlantedCorpusSql,
         |$cdcChunkCtes,
         |u AS (SELECT DISTINCT doc_id, fp FROM chunks),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM u GROUP BY 1)
         |          WHERE df BETWEEN 2 AND 64),
         |k AS (SELECT doc_id, fp FROM u JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         |  FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
         | GROUP BY 1, 2""".stripMargin,
    "dfl_cdc_pairs_maxdf" ->
      s"""WITH $cdcPlantedCorpusSql,
         |$cdcChunkCtes,
         |u AS (SELECT DISTINCT doc_id, fp FROM chunks),
         |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM u GROUP BY 1)
         |          WHERE df BETWEEN 2 AND 8),
         |k AS (SELECT doc_id, fp FROM u JOIN rare USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         |  FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
         | GROUP BY 1, 2
         |HAVING count(*) >= 2""".stripMargin,
    // n_chars = length(text) holds corpus-wide (checked), so the DFL
    // stage's length(text)-based quality is the same qualitySqlExpr
    "dfl_source_filter" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text, source, n_chars FROM documents
         |  UNION ALL
         |  SELECT 2000000 + i,
         |         'buy now best deal click here buy now best deal click here buy now best deal click here ',
         |         'srcspam', 87
         |    FROM (SELECT unnest(generate_series(1, 30)) AS i)),
         |r AS (SELECT doc_id, source,
         |        md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         |        $qualitySqlExpr AS q
         |      FROM corpus),
         |d AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM r GROUP BY 1) WHERE c > 1),
         |stats AS (SELECT source,
         |            sum(CASE WHEN d.fp IS NOT NULL THEN 1.0 ELSE 0.0 END) / count(*) AS dup_rate,
         |            avg(q) AS mean_quality
         |          FROM r LEFT JOIN d USING (fp) GROUP BY 1),
         |blocked AS (SELECT source FROM stats
         |             WHERE dup_rate > 0.5 OR mean_quality < 0.2)
         |SELECT doc_id AS id, source FROM corpus
         | WHERE source NOT IN (SELECT source FROM blocked)""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_dups
        |  FROM documents GROUP BY 1""".stripMargin,
    // exact-dedup SURVIVORS (the DFL `dedup` stage keeps the smallest-id
    // row per normalized-text fingerprint and projects doc_id after)
    "dfl_dedup" ->
      """SELECT doc_id FROM documents
        | WHERE doc_id IN (
        |   SELECT min(doc_id) FROM documents
        |   GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))""".stripMargin,
    // the DFL nearDedup(minhash, 0.8) survivors = the exact-jaccard
    // survivor set (same argument as dedup_survivors: LSH recall at
    // j >= 0.8 with 64 hashes / 32 bands is 1-1e-14)
    "dfl_near_dedup" ->
      s"""SELECT doc_id FROM documents
         | WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ($jaccardPairsSql))""".stripMargin,
    // the DFL annTopK default method is EXACT brute force — same oracle as
    // ann_topk
    "dfl_ann_topk" ->
      """SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e,
        |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        | ORDER BY cos DESC, id ASC LIMIT 10""".stripMargin,
    // the DFL ivf stage runs the same indexed probe as ann_ivf_topk over
    // the same planted construction — same provable brute-force oracle
    "dfl_ann_ivf" -> annPlantedTopkSql,
    "dedup_jaccard_pairs" -> jaccardPairsSql,
    "dedup_minhash_pairs" -> jaccardPairsSql,
    "lr_score" -> {
      val ws = lrFixedModel.weights.map(w => f"$w%.1f").mkString(", ")
      s"""SELECT vec_id AS id,
         |       round(1.0 / (1.0 + exp(-(list_dot_product(
         |         CAST(embedding AS DOUBLE[]), [$ws]) + ${lrFixedModel.bias}))), 6)
         |         AS score
         |  FROM embeddings""".stripMargin
    },
    "lr_train" -> "SELECT true AS learned",
    "lr_text_score" -> {
      val ws = lrTextModel.weights.map(w => f"$w%.1f").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(
         |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS tok
         |    FROM documents),
         |bk AS (SELECT doc_id,
         |         CAST(concat('0x', substring(md5(tok || '|7'), 1, 15)) AS BIGINT) % 16 AS b
         |         FROM toks),
         |c AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
         |ss AS (SELECT doc_id, sum(c * c) AS ss FROM c GROUP BY 1),
         |dims AS (SELECT ss.doc_id, ss.ss, d
         |           FROM ss, LATERAL (SELECT unnest(generate_series(0, 15)) AS d) s),
         |vecs AS (SELECT dims.doc_id, d,
         |           round(coalesce(c.c, 0) * 1.0 / sqrt(dims.ss), 6) AS v
         |           FROM dims LEFT JOIN c ON c.doc_id = dims.doc_id AND c.b = dims.d),
         |z AS (SELECT doc_id, sum(v * ([$ws])[d + 1]) AS z FROM vecs GROUP BY 1)
         |SELECT doc_id AS id,
         |       round(1.0 / (1.0 + exp(-(z + ${lrTextModel.bias}))), 6) AS score
         |  FROM z""".stripMargin
    },
    "bpe_learn" -> "SELECT true AS merges_exact, true AS corpus_ok",
    // HTML extraction: the CLOSED-FORM expectation (content recovered,
    // entities decoded) — stronger than replaying the regex chain
    "html_extract" ->
      """SELECT doc_id,
        |       trim(regexp_replace(text, '\s+', ' ', 'g')) || ' & tail <ok>' AS clean
        |  FROM documents""".stripMargin,
    "dfl_html_extract" ->
      """SELECT doc_id,
        |       trim(regexp_replace(text, '\s+', ' ', 'g')) || ' & tail <ok>' AS clean
        |  FROM documents""".stripMargin,
    "sketch_rollup" ->
      ("SELECT true AS per_type_in_band, true AS merge_within_band, " +
        "true AS global_in_band"),
    "bloom_rollup" ->
      ("SELECT true AS no_false_negatives, true AS fpp_in_band, " +
        "true AS incompatible_rejected"),
    // the uncompacted regime is exact: per-group AND merged-global
    // quantiles are the ceil(q·n)-th order statistics, replayed
    // rank-for-rank (percentile-disc lower semantics)
    "qsketch_doclen" ->
      """WITH ranked AS (
        |  SELECT lang AS grp, CAST(n_chars AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |    FROM documents),
        |ranked_all AS (
        |  SELECT 'all' AS grp, CAST(n_chars AS DOUBLE) AS x,
        |         row_number() OVER (ORDER BY n_chars) AS rn,
        |         count(*) OVER () AS n
        |    FROM documents),
        |u AS (SELECT * FROM ranked UNION ALL SELECT * FROM ranked_all)
        |SELECT grp, n,
        |       max(CASE WHEN rn = greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
        |                THEN x END) AS p25,
        |       max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
        |                THEN x END) AS p50,
        |       max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
        |                THEN x END) AS p90
        |  FROM u GROUP BY grp, n""".stripMargin,
    "qsketch_contract" ->
      ("SELECT true AS count_exact, true AS p50_rank_in_band, " +
        "true AS p90_rank_in_band"),
    "dfl_quantiles" ->
      """WITH ranked AS (
        |  SELECT lang AS grp, CAST(n_chars AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |    FROM documents)
        |SELECT grp, n,
        |       max(CASE WHEN rn = greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
        |                THEN x END) AS p25,
        |       max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
        |                THEN x END) AS p50,
        |       max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
        |                THEN x END) AS p90
        |  FROM ranked GROUP BY grp, n""".stripMargin,
    // every value column replayed: corpus-wide dup flag, per-source and
    // 'all' stats, (p25, p50, p90) as explicit order statistics, exact
    // distinct-content counts; the HLL sketch path renders as its
    // in-band contract boolean (an estimate can't hash-match exactly)
    "corpus_report" ->
      """WITH r AS (SELECT doc_id, source, lang, n_chars,
        |             md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |           FROM documents),
        |d AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM r GROUP BY 1)
        |       WHERE c > 1),
        |fl AS (SELECT r.*, (d.fp IS NOT NULL) AS is_dup
        |         FROM r LEFT JOIN d USING (fp)),
        |u AS (SELECT source AS grp, lang, fp, n_chars, is_dup FROM fl
        |      UNION ALL
        |      SELECT 'all' AS grp, lang, fp, n_chars, is_dup FROM fl),
        |ranked AS (SELECT grp, CAST(n_chars AS DOUBLE) AS x,
        |             row_number() OVER (PARTITION BY grp ORDER BY n_chars) AS rn,
        |             count(*) OVER (PARTITION BY grp) AS n
        |             FROM u),
        |p AS (SELECT grp,
        |        max(CASE WHEN rn = greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
        |                 THEN x END) AS p25_chars,
        |        max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
        |                 THEN x END) AS p50_chars,
        |        max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
        |                 THEN x END) AS p90_chars
        |        FROM ranked GROUP BY grp),
        |st AS (SELECT grp, count(*)::BIGINT AS n_docs,
        |         round(sum(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END)
        |           / count(*), 6) AS dup_rate,
        |         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |         CAST(count(DISTINCT fp) AS BIGINT) AS n_uniq
        |         FROM u GROUP BY 1)
        |SELECT st.grp, n_docs, dup_rate, n_langs, n_uniq,
        |       p25_chars, p50_chars, p90_chars, true AS uniq_fp_in_band
        |  FROM st JOIN p USING (grp)""".stripMargin,
    // closed form: the Luhn-valid PAN redacts whole, the invalid
    // neighbor passes through untouched
    "pii_cc_scrub" ->
      ("SELECT doc_id, text || ' card <CC> ok 4111111111111112 end' " +
        "AS clean FROM documents"),
    "dfl_pii_cc_scrub" ->
      ("SELECT doc_id, text || ' card <CC> ok 4111111111111112 end' " +
        "AS clean FROM documents"),
    "script_shares" ->
      """WITH w AS (
        |  SELECT doc_id, text || ' привет мир 中文字 مرحبا بكم γλώσσα' AS t
        |    FROM documents),
        |n AS (SELECT doc_id, t,
        |             len(regexp_extract_all(t, '\p{L}')) AS nl FROM w)
        |SELECT doc_id, CAST(nl AS BIGINT) AS n_letters,
        |       round(len(regexp_extract_all(t, '[\p{Latin}]')) * 1.0 / greatest(nl, 1), 6) AS latin_share,
        |       round(len(regexp_extract_all(t, '[\p{Cyrillic}]')) * 1.0 / greatest(nl, 1), 6) AS cyrillic_share,
        |       round(len(regexp_extract_all(t, '[\p{Han}]')) * 1.0 / greatest(nl, 1), 6) AS han_share,
        |       round(len(regexp_extract_all(t, '[\p{Arabic}]')) * 1.0 / greatest(nl, 1), 6) AS arabic_share,
        |       round(len(regexp_extract_all(t, '[\p{Greek}]')) * 1.0 / greatest(nl, 1), 6) AS greek_share
        |  FROM n""".stripMargin,
    "line_dedup" -> lineDedupSql("doc_id"),
    "dfl_line_dedup" -> lineDedupSql("id"),
    // URL canonicalization: the oracle constructs the canonical form
    // from the parts the messy rendering was synthesized from
    "url_canon" ->
      s"SELECT doc_id AS id, $messyUrlCanonSql AS canon FROM documents",
    "url_dedup" ->
      s"""SELECT $messyUrlCanonSql AS canon,
         |       min(doc_id) AS keep_id, count(*) AS n_dups
         |  FROM documents GROUP BY 1""".stripMargin,
    "dfl_url_canon" ->
      s"SELECT doc_id AS id, $messyUrlCanonSql AS canon FROM documents",
    "html_blocks" -> s"SELECT doc_id, text AS blocks FROM ($webSrcSql)",
    "pipeline_web_ingest" -> lineDedupReplaySql(webSrcSql, "doc_id"),
    // unigram-LM tokenizer family
    "unigram_seed" ->
      llm.Unigram.seedSql("documents", "text", maxPieceLen = 8, k = 200),
    "unigram_segment_scores" ->
      llm.Unigram.wordScoresSql("documents", "text", maxPieceLen = 8,
        topMulti = 64, maxWordLen = 12),
    "unigram_train" ->
      "SELECT true AS em_monotone, true AS prob_sum_1, true AS compresses",
    "unigram_roundtrip" ->
      """SELECT doc_id AS id,
        |       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS decoded
        |  FROM documents""".stripMargin,
    "dfl_unigram_roundtrip" ->
      """SELECT doc_id AS id,
        |       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS decoded
        |  FROM documents""".stripMargin,
    // byte-level law: identity on the raw text
    "unigram_byte_roundtrip" ->
      "SELECT doc_id AS id, text AS decoded FROM documents",
    // the round-trip law: decode ∘ segment = normalize, merge-table-free
    "bpe_decode" ->
      """SELECT doc_id AS id,
        |       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS decoded
        |  FROM documents""".stripMargin,
    // the BYTE-level law is strictly harder: identity on the raw text
    "bpe_byte_roundtrip" ->
      "SELECT doc_id AS id, text AS decoded FROM documents",
    "wp_learn" ->
      "SELECT true AS merges_exact, true AS heldout_greedy, true AS corpus_ok",
    // WordPiece round-trip law: decode ∘ segment = normalize
    "wp_roundtrip" ->
      """SELECT doc_id AS id,
        |       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS decoded
        |  FROM documents""".stripMargin,
    "dfl_wp_roundtrip" ->
      """SELECT doc_id AS id,
        |       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS decoded
        |  FROM documents""".stripMargin,
    // tokSegment dispatches the stored wordpiece artifact → the same
    // corpus-wide round-trip law
    "dfl_tok_segment" ->
      """SELECT doc_id AS id,
        |       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS decoded
        |  FROM documents""".stripMargin,
    "dfl_bpe_byte_roundtrip" ->
      "SELECT doc_id AS id, text AS decoded FROM documents",
    "bpe_byte_learn" -> "SELECT true AS merges_exact, true AS planted_segment",
    "ann_truncated_topk" ->
      """WITH q AS (SELECT list_slice(embedding, 1, 16) AS qv
        |             FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(
        |         CAST(list_slice(e.embedding, 1, 16) AS DOUBLE[]),
        |         CAST(q.qv AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e, q
        | ORDER BY cos DESC, id ASC LIMIT 10""".stripMargin,
    // both funnel stages replayed: truncated pre-filter boundary, then
    // the full-dim re-rank over exactly those candidates
    "pipeline_coarse_to_fine" ->
      """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |coarse AS (
        |  SELECT e.vec_id AS id, e.embedding,
        |         round(list_cosine_similarity(
        |           CAST(list_slice(e.embedding, 1, 16) AS DOUBLE[]),
        |           CAST(list_slice(q.embedding, 1, 16) AS DOUBLE[])), 6) AS c16
        |    FROM embeddings e, q
        |  QUALIFY row_number() OVER (ORDER BY c16 DESC, id ASC) <= 50)
        |SELECT c.id,
        |       round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
        |  FROM coarse c, q
        | ORDER BY cos DESC, id ASC LIMIT 10""".stripMargin,
    "pipeline_curation" ->
      s"""WITH $containmentCtes,
         |surv AS (SELECT * FROM documents
         |          WHERE doc_id NOT IN (
         |            SELECT id_a FROM cpairs
         |             WHERE sz_b > sz_a OR (sz_b = sz_a AND id_b < id_a))),
         |${dsirCtesFor("(SELECT * FROM surv WHERE doc_id % 23 <> 0) s0",
                        "(SELECT * FROM documents WHERE doc_id % 23 = 0) t0")}
         |SELECT id, round(dsir + -ln(-ln(
         |    ((${llm.Sampling.hashBucketStrSql("CAST(id AS VARCHAR)", 11L, 1 << 20)})
         |      + 0.5) / 1048576.0)), 6) AS key
         |  FROM dscore
         | ORDER BY key DESC, id ASC LIMIT 100""".stripMargin,
    "bpe_segment" -> "SELECT true AS planted_exact, true AS corpus_covered",
    "dfl_containment" ->
      s"""WITH $containmentCtes
         |SELECT doc_id FROM documents
         | WHERE doc_id NOT IN (
         |   SELECT id_a FROM cpairs
         |    WHERE sz_b > sz_a OR (sz_b = sz_a AND id_b < id_a))""".stripMargin,
    "dfl_dsir" ->
      s"""WITH $dsirCtes
         |SELECT id, round(dsir + -ln(-ln(
         |    ((${llm.Sampling.hashBucketStrSql("CAST(id AS VARCHAR)", 11L, 1 << 20)})
         |      + 0.5) / 1048576.0)), 6) AS key
         |  FROM dscore
         | ORDER BY key DESC, id ASC LIMIT 50""".stripMargin,
    "dfl_classify" -> {
      val ws = lrFixedModel.weights.map(w => f"$w%.1f").mkString(", ")
      s"""SELECT vec_id AS id,
         |       round(1.0 / (1.0 + exp(-(list_dot_product(
         |         CAST(embedding AS DOUBLE[]), [$ws]) + ${lrFixedModel.bias}))), 6)
         |         AS score
         |  FROM embeddings""".stripMargin
    },
    "dsir_scores" -> s"WITH $dsirCtes\nSELECT id, dsir FROM dscore",
    "dfl_dsir_serve" -> s"WITH $dsirCtes\nSELECT id, dsir FROM dscore",
    "dsir_sample" ->
      s"""WITH $dsirCtes
         |SELECT id, round(dsir + -ln(-ln(
         |    ((${llm.Sampling.hashBucketStrSql("CAST(id AS VARCHAR)", 11L, 1 << 20)})
         |      + 0.5) / 1048576.0)), 6) AS key
         |  FROM dscore
         | ORDER BY key DESC, id ASC LIMIT 50""".stripMargin,
    "dedup_soft_weights" ->
      """SELECT doc_id AS id, n_dups, round(1.0 / n_dups, 6) AS weight FROM (
        |  SELECT doc_id, count(*) OVER (PARTITION BY
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS n_dups
        |    FROM documents)""".stripMargin,
    "dedup_containment_pairs" ->
      s"WITH $containmentCtes\nSELECT id_a, id_b, sz_a, sz_b, containment FROM cpairs",
    "xdedup_containment_pairs" ->
      s"WITH $xContainmentCtes\nSELECT id_a, id_b, sz_a, sz_b, containment FROM xcpairs",
    // NOT IN safe: id_a comes from nsh rows (never NULL)
    "dfl_xcontainment" ->
      s"""WITH $xContainmentCtes
         |SELECT doc_id FROM documents
         | WHERE doc_id % 3 <> 0
         |   AND doc_id NOT IN (SELECT id_a FROM xcpairs)""".stripMargin,
    // NOT IN is safe: id_a comes from sh rows (never NULL)
    "dedup_containment_survivors" ->
      s"""WITH $containmentCtes
         |SELECT doc_id FROM documents
         | WHERE doc_id NOT IN (
         |   SELECT id_a FROM cpairs
         |    WHERE sz_b > sz_a OR (sz_b = sz_a AND id_b < id_a))""".stripMargin,
    "xdedup_jaccard_pairs" -> xJaccardPairsSql,
    "xdedup_minhash_pairs" -> xJaccardPairsSql,
    // NOT IN is safe here: id_a is never NULL (it comes from newd rows)
    "xdedup_survivors" ->
      s"""WITH $xJaccardCtes
         |SELECT doc_id FROM newd
         | WHERE doc_id NOT IN (SELECT DISTINCT id_a FROM xpairs)""".stripMargin,
    // NOT EXISTS (not NOT IN): a NULL-text fingerprint must SURVIVE, as
    // Spark's left-anti join never matches NULL keys
    "xdedup_exact" ->
      """SELECT d.doc_id FROM documents d
        | WHERE d.doc_id % 3 <> 0 AND NOT EXISTS (
        |   SELECT 1 FROM documents r WHERE r.doc_id % 3 = 0
        |     AND md5(lower(trim(regexp_replace(r.text, '\s+', ' ', 'g')))) =
        |         md5(lower(trim(regexp_replace(d.text, '\s+', ' ', 'g')))))""".stripMargin,
    "hash_embed" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
        |    FROM documents),
        |bk AS (SELECT doc_id,
        |         CAST(concat('0x', substring(md5(tok || '|7'), 1, 15)) AS BIGINT) % 16 AS b
        |         FROM toks),
        |c AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY 1, 2),
        |ss AS (SELECT doc_id, sum(c * c) AS ss FROM c GROUP BY 1),
        |dims AS (SELECT ss.doc_id, ss.ss, d
        |           FROM ss, LATERAL (SELECT unnest(generate_series(0, 15)) AS d) s)
        |SELECT dims.doc_id, d AS pos,
        |       round(coalesce(c.c, 0) * 1.0 / sqrt(dims.ss), 6) AS v
        |  FROM dims LEFT JOIN c ON c.doc_id = dims.doc_id AND c.b = dims.d""".stripMargin,
    // BM25: formula + rounding + tie order rendered by Retrieval.bm25Sql
    // so the expression and its oracle live in one file
    "bm25_topk" -> llm.Retrieval.bm25Sql("documents", "doc_id", "text",
      Seq("spark", "stream", "window"), k = 10),
    "dfl_bm25" -> llm.Retrieval.bm25Sql("documents", "doc_id", "text",
      Seq("spark", "stream", "window"), k = 10),
    // the index serves the SAME answers as the direct scan — one oracle
    "bm25_indexed_topk" -> llm.Retrieval.bm25Sql("documents", "doc_id",
      "text", Seq("spark", "stream", "window"), k = 10),
    "bm25_batch" -> llm.Retrieval.bm25BatchSql("documents", "doc_id", "text",
      bm25BatchQueries, k = 5),
    "bm25_indexed_batch" -> llm.Retrieval.bm25BatchSql("documents", "doc_id",
      "text", bm25BatchQueries, k = 5),
    // prefix-build + append must serve the full corpus exactly
    "bm25_append" -> llm.Retrieval.bm25Sql("documents", "doc_id", "text",
      Seq("merge", "sort", "stream"), k = 10),
    // full-build + delete must serve EXACTLY a fresh build over the
    // survivors: the oracle recomputes BM25 from scratch on the
    // filtered corpus — n, avgdl, and every df shift with the deletion,
    // so a delete that missed any leg (tombstones / df deltas / stats)
    // cannot match
    "bm25_delete" -> llm.Retrieval.bm25Sql(
      "(SELECT * FROM documents WHERE doc_id % 10 <> 3)", "doc_id", "text",
      Seq("spark", "stream", "window"), k = 10),
    // filtered = full-corpus scores, predicate before ranking
    "bm25_filtered_topk" -> llm.Retrieval.bm25Sql("documents", "doc_id",
      "text", Seq("spark", "stream", "window"), k = 10,
      filterSql = Some("fm.lang = 'en'")),
    "bm25_filtered_batch" -> llm.Retrieval.bm25BatchSql("documents",
      "doc_id", "text", bm25BatchQueries, k = 5,
      filterSql = Some("fm.lang = 'en'")),
    // run + judgments + every metric's gains and tie order in one SQL
    "retrieval_eval" -> llm.Retrieval.evalRunSql(
      llm.Retrieval.bm25BatchSql("documents", "doc_id", "text",
        bm25BatchQueries, k = 10),
      retrievalQrelsSql, k = 10),
    "dfl_rank_eval" -> llm.Retrieval.evalRunSql(
      llm.Retrieval.bm25BatchSql("documents", "doc_id", "text",
        bm25BatchQueries, k = 10),
      retrievalQrelsSql, k = 10),
    "retrieval_eval_macro" -> llm.Retrieval.evalRunMacroSql(
      llm.Retrieval.bm25BatchSql("documents", "doc_id", "text",
        bm25BatchQueries, k = 10),
      retrievalQrelsSql, k = 10),
    "rrf_fuse" -> llm.Retrieval.rrfSql(Seq(
      llm.Retrieval.bm25Sql("documents", "doc_id", "text",
        Seq("spark", "stream", "window"), k = 20),
      llm.Retrieval.bm25Sql("documents", "doc_id", "text",
        Seq("merge", "vector", "hash"), k = 20)), k = 10),
    // MMR: the greedy unrolled pick-by-pick (Retrieval.mmrSql) over the
    // same cosine-top-20 candidate set the Spark side built
    "mmr_rerank" -> llm.Retrieval.mmrSql(mmrCandSql, k = 10, lambda = 0.7),
    "dfl_mmr" -> llm.Retrieval.mmrSql(mmrCandSql, k = 10, lambda = 0.7),
    // hybrid: the lexical run is bm25Sql; the semantic run rebuilds the
    // hashEmbed vectors (dim 16, seed 7 — the hash_embed rendering) for
    // corpus AND query text in SQL, so the fused ranking is value-checked
    // end to end
    "pipeline_hybrid_retrieval" -> llm.Retrieval.rrfSql(Seq(
      llm.Retrieval.bm25Sql("documents", "doc_id", "text",
        Seq("spark", "stream", "window", "merge"), k = 20),
      hybridSemanticRunSql()), k = 10),
    // the full serving stack end to end: indexed BM25 run ⊕ semantic
    // run → RRF → MMR, every stage's arithmetic replayed in ONE SQL
    // composition (bm25Sql + the hashEmbed CTEs + rrfSql + the
    // unrolled mmrSql greedy)
    "pipeline_serving_stack" -> servingStackSql,
    // the DFL hybrid stage composes the SAME stack (2k pools, RRF,
    // MMR k=10 λ=0.7) — one oracle pins both surfaces
    "dfl_hybrid" -> servingStackSql,
    // the filtered stack: bm25Sql(filterSql) lexical leg, pre-filtered
    // semantic leg, same fusion + greedy
    "dfl_hybrid_filtered" -> hybridFilteredStackSql,
    // the probe stages answer exactly as the indexed families they wrap
    "dfl_hybrid_probe" -> servingStackSql,
    "dfl_ann_probe" -> annPlantedTopkSql,
    "dfl_ann_range_probe" -> annPlantedRangeSql,
    "dfl_ann_range_probe_refined" -> annPlantedRangeSql,
    // refined ivfpq probes rank by TRUE cosines, so the same brute
    // force is exact for them too (the clique tops both at cos 1.0 and
    // natural rows cannot displace it)
    "dfl_ann_probe_refined" -> annPlantedTopkSql,
    // filtered brute force over the planted construction — the DFL
    // filtered+refined probe's scores are exact cosines over eligible
    // rows (the serving `--filter --refine` contract as a stage)
    "dfl_ann_filtered_refined" -> annPlantedFilteredTopkSql,
    "dfl_bm25_probe" -> llm.Retrieval.bm25Sql("documents", "doc_id",
      "text", Seq("spark", "stream", "window"), k = 10),
    "dfl_ann_probe_batch" -> annBatchPlantedSql,
    "dfl_bm25_probe_batch" -> llm.Retrieval.bm25BatchSql("documents",
      "doc_id", "text", bm25BatchQueries, k = 5),
    "collocations" ->
      """WITH toks AS (
        |  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |    FROM documents),
        |uni AS (SELECT u AS w, count(*) AS c
        |          FROM toks, LATERAL (SELECT unnest(t) AS u) s GROUP BY 1),
        |bi AS (SELECT t[i] AS p, t[i+1] AS w, count(*) AS n_pair
        |         FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) s
        |        GROUP BY 1, 2),
        |tot AS (SELECT (SELECT sum(c) FROM uni) AS nu, (SELECT sum(n_pair) FROM bi) AS nb)
        |SELECT bi.p, bi.w, n_pair,
        |       round(ln(n_pair * 1.0 * nu * nu / (nb * 1.0 * x.c * y.c)), 6) AS pmi
        |  FROM bi JOIN uni x ON bi.p = x.w JOIN uni y ON bi.w = y.w CROSS JOIN tot
        | WHERE n_pair >= 5
        | ORDER BY pmi DESC, bi.p, bi.w LIMIT 50""".stripMargin,
    "freq_items" ->
      """SELECT row_number() OVER (ORDER BY cnt DESC, lang ASC) - 1 AS pos,
        |       lang AS item, cnt
        |  FROM (SELECT lang, count(*) AS cnt FROM documents
        |         WHERE lang IS NOT NULL GROUP BY 1)""".stripMargin,
    "dfl_join" ->
      """SELECT c.c_mktsegment AS key, count(*) AS count
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | GROUP BY 1""".stripMargin,
    "dfl_freq_items" ->
      """SELECT row_number() OVER (ORDER BY cnt DESC, lang ASC) - 1 AS pos,
        |       lang AS item, cnt
        |  FROM (SELECT lang, count(*) AS cnt FROM documents
        |         WHERE lang IS NOT NULL GROUP BY 1)""".stripMargin,
    "dfl_pool" ->
      """WITH e AS (SELECT vec_id % 50 AS g, embedding FROM embeddings),
        |d AS (SELECT g, i AS pos,
        |             round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS v,
        |             count(*) AS n
        |        FROM e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
        |       GROUP BY g, i)
        |SELECT g, n AS n_chunks, round(sqrt(sum(v * v)), 6) AS pnorm
        |  FROM d GROUP BY g, n""".stripMargin,
    "embed_mean_pool" ->
      """WITH e AS (SELECT vec_id % 50 AS g, embedding FROM embeddings),
        |d AS (SELECT g, i - 1 AS pos,
        |             round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS v,
        |             count(*) AS n
        |        FROM e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) s
        |       GROUP BY g, i)
        |SELECT g, n AS n_chunks, pos, v FROM d""".stripMargin,
    "feature_scaling" ->
      """WITH s AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
        |                  quantile_cont(n_chars, 0.95) AS hi,
        |                  avg(n_chars) AS mu, stddev_pop(n_chars) AS sd,
        |                  min(n_chars) * 1.0 AS mn, max(n_chars) * 1.0 AS mx
        |             FROM documents)
        |SELECT doc_id,
        |  round(least(greatest(n_chars * 1.0, lo), hi), 6) AS n_chars_w,
        |  round(CASE WHEN sd > 0 THEN (n_chars - mu) / sd END, 6) AS n_chars_z,
        |  round(CASE WHEN mx > mn THEN (n_chars - mn) / (mx - mn) END, 6) AS n_chars_mm
        |  FROM documents CROSS JOIN s""".stripMargin,
    "unicode_norm" ->
      """SELECT doc_id,
        |  strip_accents(nfc_normalize(
        |    text || ' cafe' || chr(769) || ' naïve mühle ﬁn œuf')) AS norm_text
        |  FROM documents""".stripMargin,
    "shard_assign" ->
      s"""SELECT doc_id,
         |  ${llm.Sampling.shardAssignSql("doc_id", "n_chars", 100000L, 0L)} AS shard
         |  FROM documents""".stripMargin,
    "dfl_shard" ->
      s"""SELECT doc_id,
         |  ${llm.Sampling.shardAssignSql("doc_id", "n_chars", 100000L, 0L)} AS shard
         |  FROM documents""".stripMargin,
    "ann_pq_topk" -> "SELECT true AS clique_exact, true AS recall_floor",
    "ann_ivfpq_topk" -> "SELECT true AS clique_exact",
    "ann_opq_topk" -> "SELECT true AS clique_exact",
    "ann_ivfpq_refined" -> annPlantedTopkSql,
    "ann_opq_refined" -> annPlantedTopkSql,
    "ann_ivfpq_filtered_refined" -> annPlantedFilteredTopkSql,
    "ann_ivfpq_range_refined" -> annPlantedRangeSql,
    "ann_ivfpq_append" -> "SELECT true AS clique_exact",
    "ann_ivfpq_filtered" -> "SELECT true AS filtered_clique_exact",
    "ann_ivfpq_batch" -> "SELECT true AS batch_clique_exact",
    "ann_ivfpq_range" ->
      "SELECT true AS range_set_exact, true AS clique_in_range",
    "dfl_ann_pq" -> "SELECT true AS clique_exact",
    "dfl_scale" ->
      """SELECT doc_id,
        |  round(CASE WHEN sd > 0 THEN (n_chars - mu) / sd END, 6) AS scaled
        |  FROM documents CROSS JOIN
        |    (SELECT avg(n_chars) AS mu, stddev_pop(n_chars) AS sd FROM documents)""".stripMargin,
    "weighted_sample" ->
      s"""WITH s AS (SELECT count(*) AS n, sum(n_chars) AS sw FROM documents)
         |SELECT doc_id, n_chars FROM documents CROSS JOIN s
         | WHERE ${llm.Sampling.sampleByWeightSql("doc_id", "n_chars", 0.3, 0L)}""".stripMargin,
    "pipeline_perplexity_filter" ->
      s"""WITH scored AS ($lmXentSql)
         |SELECT doc_id, xent FROM scored
         | WHERE xent <= (SELECT quantile_cont(xent, 0.75) FROM scored)""".stripMargin,
    "snapshot_diff" ->
      s"""WITH $snapshotCtes
         |$snapshotDiffSelect""".stripMargin,
    "snapshot_diff_stats" ->
      s"""WITH $snapshotCtes,
         |d AS ($snapshotDiffSelect)
         |SELECT change, count(*) AS n FROM d GROUP BY 1""".stripMargin,
    // diff (added+changed) → cross-corpus survivors vs the OLD snapshot
    // → balanced shards; each stage's SQL form is its standalone row's
    "pipeline_incremental_ingest" ->
      s"""WITH $snapshotCtes,
         |d AS ($snapshotDiffSelect),
         |fresh AS (
         |  SELECT n.doc_id, n.text, n.n_chars FROM newd n
         |    JOIN d ON n.doc_id = d.doc_id AND d.change <> 'removed'),
         |${crossJaccardCtes("fresh", "oldd")},
         |surv AS (SELECT f.doc_id, f.n_chars FROM fresh f
         |          WHERE f.doc_id NOT IN (SELECT DISTINCT id_a FROM xpairs))
         |SELECT doc_id,
         |  ${llm.Sampling.shardAssignSql("doc_id", "n_chars", 50000L, 0L)} AS shard
         |  FROM surv""".stripMargin,
    // the DFL stage compares text only and aliases the id column
    "dfl_diff" ->
      s"""WITH $snapshotCtes
         |SELECT COALESCE(n.doc_id, o.doc_id) AS id,
         |  CASE WHEN o.doc_id IS NULL THEN 'added'
         |       WHEN n.doc_id IS NULL THEN 'removed'
         |       ELSE 'changed' END AS change
         |FROM oldd o FULL JOIN newd n ON o.doc_id = n.doc_id
         |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
         |   OR (o.text IS DISTINCT FROM n.text)""".stripMargin,
    "dedup_clusters" -> clusterCcSql,
    "dfl_near_dup_clusters" -> clusterCcSql,
    "dfl_decontam" -> decontamCleanSql,
    "dfl_dedup_against" ->
      s"""WITH $xJaccardCtes
         |SELECT doc_id FROM newd
         | WHERE doc_id NOT IN (SELECT DISTINCT id_a FROM xpairs)""".stripMargin,
    "dfl_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text || ' reach me: ' || doc_id || '@mail.example.org',
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b', '<PHONE>', 'g'),
        |    '\+[0-9]{9,15}\b', '<PHONE>', 'g') AS scrubbed
        |  FROM documents""".stripMargin,
    "dedup_cluster_survivors" ->
      s"""SELECT doc_id FROM documents
         | WHERE doc_id NOT IN (
         |   SELECT id FROM ($clusterCcSql) WHERE id <> rep)""".stripMargin,
    "dedup_survivors" ->
      s"""SELECT doc_id FROM documents
         | WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ($jaccardPairsSql))""".stripMargin,
    "pipeline_clean_corpus" -> pipelineCleanCorpusSql,
    "pipeline_train_corpus" -> pipelineTrainCorpusSql,
    "pipeline_tokenized_corpus" -> pipelineTokenizedCorpusSql,
    "dedup_cosine_survivors" -> cosineSurvivorsSql,
    "embed_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) >= 0.45""".stripMargin,
    "dedup_cosine_bucketed" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
        |planted AS (SELECT vec_id + 10000 AS vec_id,
        |            list_prepend(embedding[1] + 0.01::FLOAT, embedding[2:]) AS embedding
        |       FROM base),
        |all_v AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                    CAST(b.embedding AS DOUBLE[])), 4) AS cos
        |  FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) >= 0.99""".stripMargin,
    "ann_topk" ->
      """SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e,
        |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        | ORDER BY cos DESC, id ASC LIMIT 10""".stripMargin,
    // range: threshold on the ROUNDED cosine, mirroring the Spark filter
    "ann_range" ->
      """SELECT e.vec_id AS id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e,
        |       (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        | WHERE round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(q.embedding AS DOUBLE[])), 6) >= 0.5""".stripMargin,
    // identical double arithmetic: float->double casts are exact, both
    // engines round() half-away-from-zero on doubles
    "embed_quantize" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |             coalesce(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 0) / 127.0 AS scale
        |           FROM embeddings)
        |SELECT vec_id, round(scale, 6) AS q_scale,
        |       array_to_string(CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS TINYINT))
        |            ELSE list_transform(e, x -> CAST(round(x / scale) AS TINYINT)) END, ',') AS q_codes_csv
        |  FROM s""".stripMargin,
    "ann_quantized_topk" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |             coalesce(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 0) / 127.0 AS scale
        |           FROM embeddings),
        |qz AS (SELECT vec_id,
        |         CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS DOUBLE))
        |              ELSE list_transform(e, x -> CAST(CAST(round(x / scale) AS TINYINT) AS DOUBLE)) END AS c
        |       FROM s)
        |SELECT qz.vec_id AS id,
        |       round(list_cosine_similarity(qz.c, q.e), 6) AS cos
        |  FROM qz, (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0) q
        | ORDER BY cos DESC, id ASC LIMIT 10""".stripMargin,
    // closed-form expected pair set (see imageCorpus): per planted id,
    // the identical copy, the shifted BMP re-encode, and the copy-copy
    // pair — all at hamming 0; distinct natural images sit far apart
    // (64 md5-random bits) so no other pair survives the exact verify
    "dedup_image_pairs" -> imagePairsSql,
    "dfl_image_dedup" -> imagePairsSql,
    "dfl_image_dedup_phash" -> imagePairsSql,
    "dedup_image_survivors" ->
      "SELECT doc_id AS id FROM documents WHERE doc_id < 200",
    // 30 closed-form cross pairs: three left members per %20 base, each
    // against its single reference re-render (see imageRefCorpus)
    "xdedup_image_pairs" ->
      """WITH planted AS (SELECT doc_id FROM documents
        |                  WHERE doc_id < 200 AND doc_id % 20 = 0)
        |SELECT id_a, id_b, CAST(0 AS BIGINT) AS hamming FROM (
        |  SELECT doc_id AS id_a, doc_id + 5000000 AS id_b FROM planted
        |  UNION ALL SELECT doc_id + 1000000, doc_id + 5000000 FROM planted
        |  UNION ALL SELECT doc_id + 2000000, doc_id + 5000000 FROM planted)""".stripMargin,
    // left survivors: originals off the %20 grid plus the planted copies
    // of %10 bases that are NOT %20 (their reference image doesn't exist)
    "dfl_image_dedup_against" ->
      """SELECT doc_id AS id FROM documents
        |  WHERE doc_id < 200 AND doc_id % 20 <> 0
        |UNION ALL
        |SELECT doc_id + 1000000 FROM documents
        |  WHERE doc_id < 200 AND doc_id % 10 = 0 AND doc_id % 20 <> 0
        |UNION ALL
        |SELECT doc_id + 2000000 FROM documents
        |  WHERE doc_id < 200 AND doc_id % 10 = 0 AND doc_id % 20 <> 0""".stripMargin,
    "multimodal_meta" ->
      "SELECT doc_id AS id, 'image' AS kind, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes FROM documents",
    // the decode operator's checksum is md5 over the payload bytes —
    // replayable by any engine (payload = UTF-8 bytes of text here, and
    // DuckDB's md5(varchar) hashes the UTF-8 encoding too)
    "multimodal_decode" ->
      """SELECT doc_id AS id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |       md5(text) AS checksum
        |  FROM documents""".stripMargin,
    // the sketch itself has no cross-engine oracle; the CONTRACT does:
    // exact per-key counts plus the bounded-error boolean (trivially true
    // when computed exact-vs-exact, true on the Spark side iff the HLL++
    // estimate really landed within 5%). A key with zero distinct values
    // (all-NULL user_id) is TRUE on both sides: the Spark contract demands
    // approx exactly 0 there — never a divide-by-zero NULL
    "approx_distinct_users" ->
      """SELECT event_type AS key, count(DISTINCT user_id) AS exact_users,
        |       TRUE AS within_5pct
        |  FROM events GROUP BY 1""".stripMargin,
    // closed-form expected set of the orthogonalized+planted construction:
    // tokens are doc_id-prefixed (disjoint across docs ⇒ cross-doc hamming
    // ≈ Binomial(64, 1/2), P[≤3] ≈ 2.4e-15) and each doc has one identical
    // copy at +10000 (identical token multiset ⇒ hamming exactly 0)
    "dedup_simhash_pairs" ->
      """SELECT doc_id AS id_a, doc_id + 10000 AS id_b, CAST(0 AS BIGINT) AS hamming
        |  FROM documents WHERE doc_id < 10000""".stripMargin,
    "ann_lsh_topk" -> annPlantedTopkSql,
    "ann_filtered_topk" -> annPlantedFilteredTopkSql,
    "ann_lsh_filtered_topk" -> annPlantedFilteredTopkSql,
    "dfl_ann_filtered" -> annPlantedFilteredTopkSql,
    "ann_filtered_batch" -> annBatchPlantedFilteredSql,
    "ann_lsh_filtered_batch" -> annBatchPlantedFilteredSql,
    "ann_filtered_range" -> annPlantedFilteredRangeSql,
    "ann_lsh_filtered_range" -> annPlantedFilteredRangeSql,
    "ann_lsh_range" -> annPlantedRangeSql,
    // the IVF range probe reads the query's nprobe nearest lists — the
    // planted clique sits in the rank-0 list (bit-identical vectors), so
    // it is always probed and the exact verify makes the brute-force
    // range the oracle (no natural vector reaches 0.99)
    "ann_ivf_range" -> annPlantedRangeSql,
    // the DFL annRange 'lsh' stage runs the same indexed range probe
    // over the same planted construction — same oracle
    "dfl_ann_range" -> annPlantedRangeSql,
    // build-on-prefix + append-the-rest probes the SAME grown corpus the
    // full build would (an lsh append ≡ rebuild by construction), so the
    // full-corpus brute force is its oracle too
    "ann_lsh_append" -> annPlantedTopkSql,
    // the IVF append's planted copies land in the query's own first-probed
    // list (bit-identical vectors), so the full-corpus brute force is
    // exact for it too
    "ann_ivf_append" -> annPlantedTopkSql,
    "ann_ivf_topk" -> annPlantedTopkSql,
    // brute force over the SURVIVORS of the takedown — the id-DELETE
    // verb's contract across all three ANN families (the ivfpq row's
    // refined scores are exact cosines, so it shares the oracle
    // value-for-value)
    "ann_ivf_delete" -> annPlantedDeleteTopkSql,
    "ann_lsh_delete" -> annPlantedDeleteTopkSql,
    "ann_ivfpq_delete" -> annPlantedDeleteTopkSql,
    // brute-force per-query top-10 over the per-query planted-clique
    // construction — the provable expected output of the batched IVF
    // probe (each query's 11-vector clique at cosine 1.0 fills its
    // top-10; all clique members sit in that query's rank-0 probe list)
    "ann_ivf_batch" -> annBatchPlantedSql,
    // the DFL annTopKBatch 'ivf' stage runs the same indexed batch probe
    // over the same per-query planted construction — same oracle
    "dfl_ann_batch" -> annBatchPlantedSql,
    // the cached-index (minBytes=0) DFL twins answer value-identically
    // to their direct-path siblings by the index contract — same oracles
    "dfl_ann_ivf_indexed" -> annPlantedTopkSql,
    "dfl_ann_filtered_indexed" -> annPlantedFilteredTopkSql,
    "dfl_ann_batch_indexed" -> annBatchPlantedSql,
    "dfl_bm25_indexed" -> llm.Retrieval.bm25Sql("documents", "doc_id", "text",
      Seq("spark", "stream", "window"), 10),
    // batched indexed range probes: brute-force range over the same
    // per-query planted construction (guaranteed recall + exact verify)
    "ann_ivf_range_batch" -> annBatchPlantedRangeSql,
    "ann_lsh_range_batch" -> annBatchPlantedRangeSql,
    "dfl_ann_range_batch" -> annBatchPlantedRangeSql,
    "hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
        |pos AS (SELECT qid, qid + r AS pos_id
        |          FROM q, (SELECT unnest(generate_series(0, 2)) AS r)),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.qv AS DOUBLE[])), 6) AS cos
        |    FROM embeddings e, q),
        |f AS (SELECT s.* FROM scored s
        |       WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                          WHERE p.qid = s.qid AND p.pos_id = s.id))
        |SELECT qid, id, cos,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS BIGINT) AS rank
        |  FROM f
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5""".stripMargin,
    "ann_topk_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      CAST(q.qv AS DOUBLE[])), 6) AS cos
        |    FROM embeddings e, q)
        |SELECT qid, id, cos FROM scored
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10""".stripMargin,
    "ann_range_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5)
        |SELECT q.qid, e.vec_id AS id,
        |       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(q.qv AS DOUBLE[])), 6) AS cos
        |  FROM embeddings e, q
        | WHERE round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                    CAST(q.qv AS DOUBLE[])), 6) >= 0.5""".stripMargin,
  )

  /** Brute-force per-query top-10 over the per-query planted-clique
    * construction — the provable expected output of a batched IVF probe
    * (each query's 11-vector clique at cosine 1.0 fills its top-10; all
    * clique members sit in that query's rank-0 probe list). Shared by the
    * Scala-API and DFL-dispatch batch rows. */
  private val annBatchPlantedSql: String =
    """WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |planted AS (SELECT 100000 + q.qid * 100 + r AS vec_id, q.qv AS embedding
      |              FROM qs q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted),
      |scored AS (
      |  SELECT q.qid, v.vec_id AS id,
      |         round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
      |                                      CAST(q.qv AS DOUBLE[])), 6) AS cos
      |    FROM all_v v, qs q)
      |SELECT qid, id, cos FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 10""".stripMargin

  /** Brute-force FILTERED batch top-5 (vec_id % 2 = 0) over the
    * per-query planted cliques — the expected output of the BATCH
    * filtered probes: per query the even-id clique slice (5 copies, plus
    * the query's own row when its id is even — queries 0 and 2 but NOT
    * 1, whose odd own-row the predicate excludes) ties at cosine 1.0 and
    * fills the top-5 closed-form. */
  private val annBatchPlantedFilteredSql: String =
    """WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |planted AS (SELECT 100000 + q.qid * 100 + r AS vec_id, q.qv AS embedding
      |              FROM qs q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted),
      |scored AS (
      |  SELECT q.qid, v.vec_id AS id,
      |         round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
      |                                      CAST(q.qv AS DOUBLE[])), 6) AS cos
      |    FROM all_v v, qs q WHERE v.vec_id % 2 = 0)
      |SELECT qid, id, cos FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) <= 5""".stripMargin

  /** Brute-force cosine RANGE (threshold 0.99) over the per-query
    * planted-clique construction — the shared oracle of the batched
    * indexed range probes (each query's clique at cosine 1.0 is a
    * guaranteed candidate; no natural pair reaches 0.99, and the exact
    * verify bounds precision). */
  private val annBatchPlantedRangeSql: String =
    """WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
      |planted AS (SELECT 100000 + q.qid * 100 + r AS vec_id, q.qv AS embedding
      |              FROM qs q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted),
      |scored AS (
      |  SELECT q.qid, v.vec_id AS id,
      |         round(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
      |                                      CAST(q.qv AS DOUBLE[])), 6) AS cos
      |    FROM all_v v, qs q)
      |SELECT qid, id, cos FROM scored WHERE cos >= 0.99""".stripMargin

  /** Brute-force top-10 over the single-query planted-clique construction
    * — the provable expected output of the single-query approximate ANN
    * rows (11 vectors at cosine exactly 1.0; all guaranteed into the
    * candidate set). */
  private val annPlantedTopkSql: String =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |planted AS (SELECT 100000 + r AS vec_id, q.embedding
      |              FROM q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted)
      |SELECT a.vec_id AS id,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
      |  FROM all_v a, q
      | ORDER BY cos DESC, id ASC LIMIT 10""".stripMargin

  /** Brute force over the SURVIVING corpus after the `ann_*_delete`
    * rows' takedown ([[annDeletedIds]]): the six remaining cosine-1.0
    * rows (query-self + even clique ids) are the exact top-6 — a
    * tombstoned id leaking back into any probe path breaks the hash. */
  private val annPlantedDeleteTopkSql: String =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |planted AS (SELECT 100000 + r AS vec_id, q.embedding
      |              FROM q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted)
      |SELECT a.vec_id AS id,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
      |  FROM all_v a, q
      | WHERE a.vec_id NOT IN (100001, 100003, 100005, 100007, 100009, 7)
      | ORDER BY cos DESC, id ASC LIMIT 6""".stripMargin

  /** Brute-force FILTERED range (threshold 0.99, vec_id % 2 = 0) over
    * the planted construction — exactly the six even-id clique members
    * at cosine 1.0 (no natural vector reaches 0.99). */
  private val annPlantedFilteredRangeSql: String =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |planted AS (SELECT 100000 + r AS vec_id, q.embedding
      |              FROM q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted)
      |SELECT a.vec_id AS id,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
      |  FROM all_v a, q
      | WHERE a.vec_id % 2 = 0
      |   AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) >= 0.99""".stripMargin

  /** Brute-force FILTERED top-5 (vec_id % 2 = 0) over the planted
    * construction — the provable expected output of the filtered ANN
    * rows: six even-id clique members at cosine 1.0 survive the
    * predicate, so the top-5 is closed-form at any probe width. */
  private val annPlantedFilteredTopkSql: String =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |planted AS (SELECT 100000 + r AS vec_id, q.embedding
      |              FROM q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted)
      |SELECT a.vec_id AS id,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
      |  FROM all_v a, q
      | WHERE a.vec_id % 2 = 0
      | ORDER BY cos DESC, id ASC LIMIT 5""".stripMargin

  /** Brute-force cosine RANGE (threshold 0.99) over the same planted
    * construction — the shared oracle of every indexed range probe
    * (lsh / ivf / DFL): the clique is a guaranteed candidate (Hamming 0
    * / rank-0 list) and no natural vector reaches 0.99, so the exact
    * verify makes the probed answer equal the full brute force. */
  private val annPlantedRangeSql: String =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |planted AS (SELECT 100000 + r AS vec_id, q.embedding
      |              FROM q, (SELECT unnest(generate_series(1, 10)) AS r)),
      |all_v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100000
      |          UNION ALL SELECT vec_id, embedding FROM planted)
      |SELECT a.vec_id AS id,
      |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) AS cos
      |  FROM all_v a, q
      | WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                    CAST(q.embedding AS DOUBLE[])), 6) >= 0.99""".stripMargin

  /** CTE chain computing exact word-3-gram Jaccard pairs ≥ 0.8 over a
    * source relation with (doc_id, text) — reused by the pair, survivor,
    * and pipeline oracles. Defines `jpairs(id_a, id_b, jaccard)`. */
  private def jaccardCtes(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |sh AS (SELECT DISTINCT doc_id, g FROM (
       |   SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
       |   FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) s)
       |   WHERE g IS NOT NULL),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT d1 AS id_a, d2 AS id_b, round(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
       |    FROM shared JOIN cnt x ON d1 = x.doc_id JOIN cnt y ON d2 = y.doc_id
       |   WHERE c * 1.0 / (x.n + y.n - c) >= 0.8)""".stripMargin

  /** Benchmark-decontamination survivors (normText 8-grams, benchmark =
    * doc_id % 23 == 0) — oracle for both decontam_clean (Scala API) and
    * dfl_decontam (the same operator through the DFL dispatch). */
  /** Add-one smoothed unigram LM cross-entropy per doc — oracle for both
    * lm_xent (Scala API) and dfl_lm_score (the DFL dispatch). */
  private val lmXentSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
      |v AS (SELECT w, sum(tf) AS c FROM tf GROUP BY 1),
      |t AS (SELECT sum(c) AS n, count(*) AS v FROM v)
      |SELECT doc_id, round(-sum(tf * ln((c + 1.0) / (n + v))) / sum(tf), 6) AS xent
      |  FROM tf JOIN v USING (w) CROSS JOIN t GROUP BY 1""".stripMargin

  private val annPcaTopkSql: String =
    """SELECT CAST(0 AS BIGINT) AS id, 1.0 AS cos
      |UNION ALL
      |SELECT CAST(100000 + r AS BIGINT) AS id, 1.0 AS cos
      |  FROM generate_series(1, 9) AS g(r)""".stripMargin

  private val tokenizeIdsSql: String =
    """WITH nrm AS (SELECT doc_id,
      |               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |             FROM documents),
      |v AS (SELECT w, CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS BIGINT) AS rnk
      |        FROM (SELECT w, count(*) AS cnt
      |                FROM (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
      |                        FROM documents)
      |               WHERE w <> '' GROUP BY 1)
      |       ORDER BY cnt DESC, w ASC LIMIT 200),
      |p AS (SELECT doc_id, i AS pos, toks[i] AS w
      |        FROM nrm, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s)
      |SELECT doc_id, count(*) AS n_tok,
      |       array_to_string(list(coalesce(v.rnk, 0) ORDER BY p.pos), ',') AS ids_str
      |  FROM p LEFT JOIN v USING (w) GROUP BY 1""".stripMargin

  private val corpusProfileSql: String =
    Seq("doc_id", "text", "lang", "source", "n_chars").map(c =>
      s"""SELECT '$c' AS col, count(*) - count($c) AS n_null,
         |       count(DISTINCT $c) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_str,
         |       CAST(max($c) AS VARCHAR) AS max_str FROM documents""".stripMargin)
      .mkString("\nUNION ALL\n")

  /** Duplicated-chunk scrub over the planted CDC corpus — shared by the
    * Scala-API and DFL-dispatch rows. */
  /** The closed-form expected pair set of the planted image corpus
    * ([[imageCorpus]]): three hamming-0 pairs per planted id. */
  private lazy val imagePairsSql: String =
    """WITH planted AS (SELECT doc_id FROM documents
      |                  WHERE doc_id < 200 AND doc_id % 10 = 0)
      |SELECT id_a, id_b, CAST(0 AS BIGINT) AS hamming FROM (
      |  SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM planted
      |  UNION ALL SELECT doc_id, doc_id + 2000000 FROM planted
      |  UNION ALL SELECT doc_id + 1000000, doc_id + 2000000 FROM planted)""".stripMargin

  private lazy val cdcScrubSql: String =
      s"""WITH $cdcPlantedCorpusSql,
         |$cdcChunkCtes,
         |dup AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM chunks GROUP BY 1)
         |         WHERE c > 1),
         |keptch AS (SELECT c.doc_id, c.chunk_idx
         |             FROM chunks c WHERE c.fp NOT IN (SELECT fp FROM dup)),
         |toku AS (SELECT ch.doc_id, ch.i, ch.w, ch.cid FROM ch),
         |kept AS (SELECT t.doc_id, t.i, t.w
         |           FROM toku t JOIN keptch k
         |             ON t.doc_id = k.doc_id AND t.cid = k.chunk_idx)
         |SELECT c0.doc_id AS id,
         |       coalesce(kk.clean_text, '') AS clean_text,
         |       coalesce(kk.n_kept, 0) AS n_kept
         |  FROM corpus c0
         |  LEFT JOIN (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS clean_text,
         |                    count(*)::BIGINT AS n_kept
         |               FROM kept GROUP BY 1) kk
         |    ON c0.doc_id = kk.doc_id""".stripMargin

  /** CDC chunk table over a CTE named `corpus(doc_id, text)` — the
    * DuckDB replay of [[graft.functions.CdcChunks]] (k=3, d=8, seed=7):
    * boundary after position i ≥ 3 iff the rolling 3-gram's
    * hashBucketStr-style 60-bit md5 value ≡ 0 (mod 8). */
  private val cdcChunkCtes: String =
    """tok AS (SELECT doc_id,
      |          string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |        FROM corpus),
      |pos AS (SELECT doc_id, i, toks[i] AS w,
      |          CASE WHEN i >= 3 AND
      |            (CAST(concat('0x', substring(md5(array_to_string(
      |               list_slice(toks, greatest(i - 2, 1), i), ' ') || '|7'), 1, 15))
      |              AS BIGINT) % 8) = 0 THEN 1 ELSE 0 END AS bnd
      |        FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s),
      |ch AS (SELECT doc_id, i, w,
      |         COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      |       FROM pos),
      |chunks AS (SELECT doc_id, cid AS chunk_idx, count(*)::BIGINT AS n_toks,
      |                  md5(string_agg(w, ' ' ORDER BY i)) AS fp
      |             FROM ch GROUP BY 1, 2)""".stripMargin

  /** The planted CDC probe corpus (mirrors [[cdcPlanted]]). */
  private val cdcPlantedCorpusSql: String =
    """corpus AS (SELECT doc_id, text FROM documents
      |           UNION ALL
      |           SELECT doc_id + 1000000, 'zz yy xx ' || text FROM documents)""".stripMargin

  private val lmBigramSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
      |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s
      |       WHERE len(toks) >= 2),
      |tf2 AS (SELECT doc_id, p, w, count(*) AS tf2 FROM bi GROUP BY 1, 2, 3),
      |cb AS (SELECT p, w, sum(tf2) AS cb FROM tf2 GROUP BY 1, 2),
      |uni AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |u AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
      |tot AS (SELECT sum(c) AS n, count(*) AS v FROM u)
      |SELECT doc_id,
      |       round(-sum(tf2 * ln(0.7 * cb / cp + (1.0 - 0.7) * (cw + 1.0) / (n + v)))
      |             / sum(tf2), 6) AS xent2
      |  FROM tf2
      |  JOIN cb USING (p, w)
      |  JOIN (SELECT t AS p, c AS cp FROM u) USING (p)
      |  JOIN (SELECT t AS w, c AS cw FROM u) USING (w)
      |  CROSS JOIN tot GROUP BY 1""".stripMargin

  /** Kneser-Ney bigram: same bigram/unigram statistics as [[lmBigramSql]]
    * plus the three TYPE counts off the cb table; formula association,
    * literals, and rounding mirror TextAnalysis.lmKneserNeyScore. */
  private val lmKnSql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
      |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s
      |       WHERE len(toks) >= 2),
      |tf2 AS (SELECT doc_id, p, w, count(*) AS tf2 FROM bi GROUP BY 1, 2, 3),
      |cb AS (SELECT p, w, sum(tf2) AS cb FROM tf2 GROUP BY 1, 2),
      |n1p AS (SELECT p, CAST(count(*) AS DOUBLE) AS n1p FROM cb GROUP BY 1),
      |n1w AS (SELECT w, CAST(count(*) AS DOUBLE) AS n1w FROM cb GROUP BY 1),
      |nbt AS (SELECT CAST(count(*) AS DOUBLE) AS nbt FROM cb),
      |uni AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
      |u AS (SELECT t, count(*) AS c FROM uni GROUP BY 1)
      |SELECT doc_id,
      |       round(-sum(tf2 * ln(greatest(cb - 0.75, 0.0) / cp
      |                           + 0.75 * n1p / cp * (n1w / nbt)))
      |             / sum(tf2), 6) AS xent_kn
      |  FROM tf2
      |  JOIN cb USING (p, w)
      |  JOIN (SELECT t AS p, c AS cp FROM u) USING (p)
      |  JOIN n1p USING (p)
      |  JOIN n1w USING (w)
      |  CROSS JOIN nbt GROUP BY 1""".stripMargin

  /** Trigram interpolated KN replay — the SAME statistics, association,
    * literals, and rounding as TextAnalysis.lmKneserNey3Score. */
  private val lmKn3Sql: String =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tri AS (SELECT doc_id, toks[i] AS u, toks[i + 1] AS v, toks[i + 2] AS w
      |        FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i) s
      |        WHERE len(toks) >= 3),
      |tf3 AS (SELECT doc_id, u, v, w, count(*) AS tf3 FROM tri GROUP BY 1, 2, 3, 4),
      |c3 AS (SELECT u, v, w, sum(tf3) AS c3 FROM tf3 GROUP BY 1, 2, 3),
      |bi AS (SELECT toks[i] AS p, toks[i + 1] AS q
      |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) s
      |       WHERE len(toks) >= 2),
      |cb AS (SELECT p, q, count(*) AS cb FROM bi GROUP BY 1, 2),
      |n1p_uv AS (SELECT u, v, CAST(count(*) AS DOUBLE) AS n1p_uv FROM c3 GROUP BY 1, 2),
      |nmid_vw AS (SELECT v, w, CAST(count(*) AS DOUBLE) AS nmid_vw FROM c3 GROUP BY 1, 2),
      |nmid_v AS (SELECT v, CAST(count(*) AS DOUBLE) AS nmid_v FROM c3 GROUP BY 1),
      |n1after AS (SELECT p AS v, CAST(count(*) AS DOUBLE) AS n1after FROM cb GROUP BY 1),
      |n1w AS (SELECT q AS w, CAST(count(*) AS DOUBLE) AS n1w FROM cb GROUP BY 1),
      |nbt AS (SELECT CAST(count(*) AS DOUBLE) AS nbt FROM cb)
      |SELECT doc_id,
      |       round(-sum(tf3 * ln(
      |           greatest(c3 - 0.75, 0.0) / cuv
      |           + 0.75 * n1p_uv / cuv * (
      |               greatest(nmid_vw - 0.75, 0.0) / nmid_v
      |               + 0.75 * n1after / nmid_v * (n1w / nbt))))
      |             / sum(tf3), 6) AS xent_kn3
      |  FROM tf3
      |  JOIN c3 USING (u, v, w)
      |  JOIN (SELECT p AS u, q AS v, cb AS cuv FROM cb) USING (u, v)
      |  JOIN n1p_uv USING (u, v)
      |  JOIN nmid_vw USING (v, w)
      |  JOIN nmid_v USING (v)
      |  JOIN n1after USING (v)
      |  JOIN n1w USING (w)
      |  CROSS JOIN nbt GROUP BY 1""".stripMargin

  /** Full line-dedup replay (DuckDB) over any `(doc_id, text)` source
    * SELECT: mirrors TextAnalysis.dedupLines — same lines, same
    * normalization, same first-occurrence rule, same reassembly order.
    * DuckDB keeps the raw normalized strings where Spark keys on md5
    * (equality classes, not hash values, drive the decision). */
  private def lineDedupReplaySql(srcSql: String, idAs: String): String =
    s"""WITH src AS (
       |$srcSql),
       |l AS (SELECT doc_id, i AS idx, ln[i] AS line
       |        FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM src) t,
       |        LATERAL (SELECT unnest(generate_series(1, len(ln))) AS i) s),
       |n AS (SELECT doc_id, idx, line,
       |             lower(trim(regexp_replace(line, '\\s+', ' ', 'g'))) AS nrm
       |        FROM l),
       |r AS (SELECT *, CASE WHEN nrm = '' THEN true
       |                     ELSE row_number() OVER (PARTITION BY nrm ORDER BY doc_id, idx) = 1
       |                END AS kept FROM n)
       |SELECT doc_id AS $idAs, CAST(count(*) AS BIGINT) AS n_lines,
       |       CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       |       coalesce(string_agg(line, chr(10) ORDER BY idx) FILTER (WHERE kept), '') AS clean_text
       |  FROM r GROUP BY 1""".stripMargin

  /** The lined-corpus source rendering (mirrors [[linedDocs]]). */
  private val linedSrcSql: String =
    """SELECT doc_id,
      |       CASE WHEN doc_id % 5 = 0
      |            THEN t || chr(10) || 'the shared boilerplate footer line'
      |            ELSE t END AS text
      |  FROM (
      |    SELECT doc_id,
      |           array_to_string(
      |             [array_to_string(list_slice(toks, (i - 1) * 8 + 1, (i - 1) * 8 + 8), ' ')
      |              FOR i IN generate_series(1, CAST(greatest(ceil(len(toks) / 8.0), 1) AS BIGINT))],
      |             chr(10)) AS t
      |      FROM (
      |        SELECT doc_id,
      |               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |          FROM documents))""".stripMargin

  private def lineDedupSql(idAs: String): String =
    lineDedupReplaySql(linedSrcSql, idAs)

  /** The block-extracted web-corpus source rendering: the CLOSED-FORM
    * result of extractHtmlBlocks over [[htmlBlockWrapped]] — each doc's
    * own paragraph plus the shared boilerplate block. */
  private val webSrcSql: String =
    """SELECT doc_id,
      |       CASE WHEN nt = '' THEN 'subscribe to our newsletter today'
      |            ELSE nt || chr(10) || 'subscribe to our newsletter today'
      |       END AS text
      |  FROM (SELECT doc_id,
      |               trim(regexp_replace(text, '\s+', ' ', 'g')) AS nt
      |          FROM documents)""".stripMargin

  private val decontamCleanSql: String =
    """WITH tok AS (SELECT doc_id,
      |               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |             FROM documents),
      |ng AS (SELECT doc_id, array_to_string(list_slice(toks, i, i+7), ' ') AS g
      |       FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
      |       WHERE len(toks) >= 8)
      |SELECT doc_id FROM documents
      | WHERE doc_id % 23 != 0 AND doc_id NOT IN (
      |   SELECT ng.doc_id FROM ng
      |   JOIN (SELECT DISTINCT g FROM ng WHERE doc_id % 23 = 0) bench USING (g)
      |   WHERE ng.doc_id % 23 != 0)""".stripMargin

  /** Exact word-3-gram Jaccard pairs ≥ 0.8 — oracle for both the exact
    * shingle-join variant and the MinHash-LSH variant (at 64 hashes / 32
    * bands the LSH recall at j≥0.8 is 1-1e-14: the sets coincide). */
  private val jaccardPairsSql: String =
    s"WITH ${jaccardCtes("documents")}\nSELECT id_a, id_b, jaccard FROM jpairs"

  /** The fixed 64-dim model lr_score runs (one formula feeds both the
    * Spark column and the oracle's literal array — they cannot drift). */
  private val lrFixedModel = llm.Classifier.LrModel(
    Array.tabulate(64)(d => ((d * 37) % 13 - 6) / 10.0), bias = 0.05)

  /** The fixed 16-dim model lr_text_score runs over hashEmbed features. */
  private val lrTextModel = llm.Classifier.LrModel(
    Array.tabulate(16)(d => ((d * 29) % 11 - 5) / 10.0), bias = 0.1)

  /** DSIR score CTEs: hashed unigram+bigram features (md5 bucket, the
    * [[llm.Sampling.hashBucketStrSql]] rendering), add-one-smoothed
    * target/source LMs over the doc_id % 23 split, per-doc log-ratio
    * sum — the one formula both engines evaluate. */
  private def dsirCtesFor(srcRel: String, tgtRel: String): String = {
    val bucket = llm.Sampling.hashBucketStrSql("g", 7L, 1024)
    s"""stoks AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      |            FROM $srcRel),
      |ttoks AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS t
      |            FROM $tgtRel),
      |sgrams AS (
      |  SELECT doc_id, u AS g FROM stoks, LATERAL (SELECT unnest(t) AS u) s
      |  UNION ALL
      |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      |    FROM stoks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) s),
      |tgrams AS (
      |  SELECT doc_id, u AS g FROM ttoks, LATERAL (SELECT unnest(t) AS u) s
      |  UNION ALL
      |  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
      |    FROM ttoks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-1, 0))) AS i) s),
      |sb AS (SELECT doc_id, BUCKET AS b FROM sgrams),
      |tb AS (SELECT doc_id, BUCKET AS b FROM tgrams),
      |cs AS (SELECT b, count(*) AS cs FROM sb GROUP BY 1),
      |ct AS (SELECT b, count(*) AS ct FROM tb GROUP BY 1),
      |tot AS (SELECT (SELECT count(*) FROM sb) AS ns, (SELECT count(*) FROM tb) AS nt),
      |ratio AS (SELECT cs.b,
      |            ln((coalesce(ct.ct, 0) + 1.0) / (tot.nt + 1024)) -
      |            ln((cs.cs + 1.0) / (tot.ns + 1024)) AS lr
      |            FROM cs LEFT JOIN ct ON cs.b = ct.b, tot),
      |tf AS (SELECT doc_id, b, count(*) AS tf FROM sb GROUP BY 1, 2),
      |dscore AS (SELECT tf.doc_id AS id, round(sum(tf.tf * ratio.lr), 6) AS dsir
      |             FROM tf JOIN ratio ON tf.b = ratio.b GROUP BY 1)"""
      .stripMargin.replace("BUCKET", bucket)
  }

  private val dsirCtes: String = dsirCtesFor(
    "(SELECT * FROM documents WHERE doc_id % 23 <> 0) s0",
    "(SELECT * FROM documents WHERE doc_id % 23 = 0) t0")

  /** Cross-corpus containment CTEs over the %3 split (same shingle
    * rendering as [[crossJaccardCtes]]): `xcpairs` = (id_a ∈ new crawl
    * ≥0.9-contained in id_b ∈ reference). */
  private val xContainmentCtes: String =
    """ntoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 3 <> 0),
      |rtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id % 3 = 0),
      |nsh AS (SELECT DISTINCT doc_id, g FROM (
      |   SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |   FROM ntoks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) s)
      |   WHERE g IS NOT NULL),
      |rsh AS (SELECT DISTINCT doc_id, g FROM (
      |   SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |   FROM rtoks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) s)
      |   WHERE g IS NOT NULL),
      |ncnt AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
      |rcnt AS (SELECT doc_id, count(*) AS n FROM rsh GROUP BY 1),
      |xcshared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |  FROM nsh a JOIN rsh b ON a.g = b.g GROUP BY 1, 2),
      |xcpairs AS (
      |  SELECT d1 AS id_a, d2 AS id_b, x.n AS sz_a, y.n AS sz_b,
      |         round(c * 1.0 / x.n, 4) AS containment
      |    FROM xcshared JOIN ncnt x ON d1 = x.doc_id JOIN rcnt y ON d2 = y.doc_id
      |   WHERE c * 1.0 / x.n >= 0.9)""".stripMargin

  /** Directed containment pairs (|A∩B|/|A| ≥ 0.9) over the same 3-gram
    * shingle rendering as [[jaccardCtes]] — oracle for the
    * dedup_containment family. */
  private val containmentCtes: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, g FROM (
      |   SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      |   FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) s)
      |   WHERE g IS NOT NULL),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |cshared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id <> b.doc_id GROUP BY 1, 2),
      |cpairs AS (
      |  SELECT d1 AS id_a, d2 AS id_b, x.n AS sz_a, y.n AS sz_b,
      |         round(c * 1.0 / x.n, 4) AS containment
      |    FROM cshared JOIN cnt x ON d1 = x.doc_id JOIN cnt y ON d2 = y.doc_id
      |   WHERE c * 1.0 / x.n >= 0.9)""".stripMargin

  /** Cross-corpus exact-jaccard pair CTEs over the doc_id % 3 split
    * (reference = multiples of 3, new crawl = the rest): `xpairs` =
    * (id_a ∈ new, id_b ∈ ref, jaccard ≥ 0.8). Same shingle rendering as
    * [[jaccardCtes]]; the join crosses the two shingle sets instead of
    * self-joining one. Oracle for xdedup_jaccard_pairs AND
    * xdedup_minhash_pairs (banded recall 1-1e-14 + exact verify = the
    * exact set, as for the self-join minhash rows). */
  private def crossJaccardCtes(leftSrc: String, rightSrc: String): String =
    s"""ntoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $leftSrc),
       |rtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $rightSrc),
       |nsh AS (SELECT DISTINCT doc_id, g FROM (
       |   SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
       |   FROM ntoks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) s)
       |   WHERE g IS NOT NULL),
       |rsh AS (SELECT DISTINCT doc_id, g FROM (
       |   SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
       |   FROM rtoks, LATERAL (SELECT unnest(generate_series(1, greatest(len(t)-2, 0))) AS i) s)
       |   WHERE g IS NOT NULL),
       |ncnt AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
       |rcnt AS (SELECT doc_id, count(*) AS n FROM rsh GROUP BY 1),
       |xshared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM nsh a JOIN rsh b ON a.g = b.g GROUP BY 1, 2),
       |xpairs AS (
       |  SELECT d1 AS id_a, d2 AS id_b, round(c * 1.0 / (x.n + y.n - c), 4) AS jaccard
       |    FROM xshared JOIN ncnt x ON d1 = x.doc_id JOIN rcnt y ON d2 = y.doc_id
       |   WHERE c * 1.0 / (x.n + y.n - c) >= 0.8)""".stripMargin

  private val xJaccardCtes: String =
    s"""newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
       |refd AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       |${crossJaccardCtes("newd", "refd")}""".stripMargin

  private val xJaccardPairsSql: String =
    s"WITH $xJaccardCtes\nSELECT id_a, id_b, jaccard FROM xpairs"

  /** The two synthesized snapshots of the documents table used by the
    * snapshot_diff family and the incremental-ingest composite (old =
    * all but %5==1; new = all but %5==2 with text edited for %7==0) —
    * oracle side of [[graft.util.Snapshot]]. */
  private val snapshotCtes: String =
    """oldd AS (SELECT doc_id, text, lang, n_chars
      |           FROM documents WHERE doc_id % 5 <> 1),
      |newd AS (SELECT doc_id,
      |           CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
      |           lang, n_chars
      |         FROM documents WHERE doc_id % 5 <> 2)""".stripMargin

  /** The Spark side of [[snapshotCtes]] — shared by every snapshot row. */
  private def snapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 5 =!= 1)
      .select("doc_id", "text", "lang", "n_chars")
    val newSnap = docs.filter(col("doc_id") % 5 =!= 2)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .select("doc_id", "text", "lang", "n_chars")
    (oldSnap, newSnap)
  }

  private val snapshotDiffSelect: String =
    """SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       ELSE 'changed' END AS change
      |FROM oldd o FULL JOIN newd n ON o.doc_id = n.doc_id
      |WHERE o.doc_id IS NULL OR n.doc_id IS NULL
      |   OR (o.text IS DISTINCT FROM n.text) OR (o.lang IS DISTINCT FROM n.lang)""".stripMargin

  /** Connected components over the exact-jaccard pair set (recursive
    * reachability, min id per component) — oracle for the distributed
    * min-label-propagation dedup_clusters. The minhash pair set equals
    * the exact set at these parameters (see [[jaccardPairsSql]]), so the
    * components coincide too. */
  private val clusterCcSql: String =
    s"""WITH RECURSIVE ${jaccardCtes("documents")},
       |edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
       |          UNION SELECT id_b AS src, id_a AS dst FROM jpairs),
       |reach(id, anc) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.anc FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id, min(anc) AS rep FROM reach GROUP BY id""".stripMargin

  /** DuckDB expression matching TextAnalysis.qualityScore (rounded to 6,
    * as every quality oracle filters/compares on the rounded value). */
  private val qualitySqlExpr: String =
    """round(
      |    least(n_chars / 1000.0, 1.0) * 0.4
      |  + least((len(list_filter(string_split(lower(text), ' '),
      |       x -> x IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','this','that')))
      |       * 1.0 / greatest(len(string_split(lower(text), ' ')), 1)) * 4.0, 1.0) * 0.3
      |  + (length(regexp_replace(text, '[^a-z ]', '', 'g')) * 1.0 / greatest(length(text), 1)) * 0.3
      |  , 6)""".stripMargin

  /** quality gate → exact-jaccard survivors → token counts: the oracle
    * for the end-to-end pipeline_clean_corpus query (minhash pair set =
    * exact pair set at these parameters, as for dedup_minhash_pairs). */
  private val pipelineCleanCorpusSql: String =
    s"""WITH scored AS (SELECT doc_id, text, $qualitySqlExpr AS q FROM documents),
       |clean AS (SELECT doc_id, text FROM scored WHERE q >= 0.5),
       |${jaccardCtes("clean")}
       |SELECT c.doc_id, CAST(len(string_split(c.text, ' ')) AS BIGINT) AS n_ws
       |  FROM clean c
       | WHERE c.doc_id NOT IN (SELECT DISTINCT id_b FROM jpairs)""".stripMargin

  /** quality gate → exact-jaccard survivors → decontamination (benchmark
    * = full-corpus doc_id % 23 == 0) → deterministic 50% hash sample →
    * token counts: the oracle for pipeline_train_corpus. Each stage's
    * SQL form is the one its standalone oracle row uses. */
  /** The shared CTE chain of the train-corpus composites: quality gate →
    * near-dup survivors → decontamination → temperature-mix thresholds.
    * Ends at `thr`; composites append their own tail. */
  private val trainCorpusCtes: String =
    s"""WITH scored AS (SELECT doc_id, text, lang, $qualitySqlExpr AS q FROM documents),
       |clean AS (SELECT doc_id, text, lang FROM scored WHERE q >= 0.5 AND doc_id % 23 != 0),
       |${jaccardCtes("clean")},
       |surv AS (SELECT c.doc_id, c.text, c.lang FROM clean c
       |          WHERE c.doc_id NOT IN (SELECT DISTINCT id_b FROM jpairs)),
       |btok AS (SELECT string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |           FROM documents WHERE doc_id % 23 = 0),
       |bng AS (SELECT DISTINCT array_to_string(list_slice(toks, i, i+7), ' ') AS g
       |          FROM btok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
       |         WHERE len(toks) >= 8),
       |stok AS (SELECT doc_id, text,
       |                string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |           FROM surv),
       |sng AS (SELECT doc_id, array_to_string(list_slice(toks, i, i+7), ' ') AS g
       |          FROM stok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
       |         WHERE len(toks) >= 8),
       |contaminated AS (SELECT DISTINCT sng.doc_id FROM sng JOIN bng USING (g)),
       |dec AS (SELECT doc_id, text, lang FROM surv
       |         WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |lc AS (SELECT lang, count(*) AS n FROM dec GROUP BY 1),
       |lm AS (SELECT min(n) AS nmin FROM lc),
       |thr AS (SELECT lc.lang,
       |               CAST(round(1000000 * sqrt(CAST(lm.nmin AS DOUBLE) / n), 0) AS BIGINT) AS t
       |          FROM lc, lm)""".stripMargin

  private val pipelineTrainCorpusSql: String =
    s"""$trainCorpusCtes
       |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_ws
       |  FROM dec d JOIN thr ON d.lang = thr.lang
       | WHERE ${llm.Sampling.hashBucketSql("d.doc_id", 13, 1000000)} < thr.t
       |   AND ${llm.Sampling.hashBucketSql("d.doc_id", 11, 1000000)} < 500000""".stripMargin

  /** The tokenized tail: the SAME mixed pool, per-lang 2000-token budget
    * cap over the shared hash order, then tokenize against the capped
    * set's own top-100 vocabulary — raw documents to model input in one
    * oracle-checked plan. */
  private val pipelineTokenizedCorpusSql: String =
    s"""$trainCorpusCtes,
       |mixed AS (SELECT d.doc_id, d.text, d.lang FROM dec d JOIN thr ON d.lang = thr.lang
       |           WHERE ${llm.Sampling.hashBucketSql("d.doc_id", 13, 1000000)} < thr.t
       |             AND ${llm.Sampling.hashBucketSql("d.doc_id", 11, 1000000)} < 500000),
       |weighted AS (SELECT doc_id, text, lang,
       |                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |                    ${llm.Sampling.hashBucketSql("doc_id", 7, 1000000)} AS h
       |               FROM mixed),
       |capped AS (SELECT doc_id, text FROM (
       |             SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
       |                                        ROWS UNBOUNDED PRECEDING) AS cum
       |               FROM weighted) WHERE cum <= 2000),
       |cnrm AS (SELECT doc_id,
       |               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
       |             FROM capped),
       |cv AS (SELECT w, CAST(row_number() OVER (ORDER BY cnt DESC, w ASC) AS BIGINT) AS rnk
       |        FROM (SELECT w, count(*) AS cnt
       |                FROM (SELECT unnest(toks) AS w FROM cnrm)
       |               WHERE w <> '' GROUP BY 1)
       |       ORDER BY cnt DESC, w ASC LIMIT 100),
       |cp AS (SELECT doc_id, i AS pos, toks[i] AS w
       |        FROM cnrm, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) s)
       |SELECT doc_id, count(*) AS n_tok,
       |       array_to_string(list(coalesce(cv.rnk, 0) ORDER BY cp.pos), ',') AS ids_str
       |  FROM cp LEFT JOIN cv USING (w) GROUP BY 1""".stripMargin

  /** Survivors over the planted-construction cosine pair set (same
    * construction as dedup_cosine_bucketed, so the approximate pair set
    * provably equals this exact one). */
  private val cosineSurvivorsSql: String =
    """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |planted AS (SELECT vec_id + 10000 AS vec_id,
      |            list_prepend(embedding[1] + 0.01::FLOAT, embedding[2:]) AS embedding
      |       FROM base),
      |all_v AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |cpairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |    FROM all_v a JOIN all_v b ON a.vec_id < b.vec_id
      |   WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |                                CAST(b.embedding AS DOUBLE[])) >= 0.99)
      |SELECT vec_id FROM all_v
      | WHERE vec_id NOT IN (SELECT DISTINCT id_b FROM cpairs)""".stripMargin
}
