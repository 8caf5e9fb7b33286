package graft.cli

import org.apache.spark.sql.SparkSession
import graft.streaming.StreamRunner
import graft.util.Sessions

/** `serve-hybrid` command — the FUSED serving verb completing the
  * [[ServeCli]] (`serve-ann`) / [[ServeBm25Cli]] (`serve-bm25`) family:
  * drive the streaming hybrid-retrieval job from the command line — a
  * watched directory of (qid, terms, qvec) query files in, fused
  * (qid, id, score[, mmr], rnk) answer files out (lexical BM25 run ⊕
  * semantic ANN run → reciprocal-rank fusion [→ MMR diversification
  * with `--lambda`]), restartable from its checkpoint
  * ([[graft.streaming.StreamRunner.hybridServeJob]]).
  *
  * Queries and output bind either as explicit URIs or as CATALOG
  * datastores (`--catalog` + datastore names), exactly as the sibling
  * verbs.
  *
  * Usage:
  *   runMain graft.cli.ServeHybridCli
  *     --bm25-index-dir DIR --ann-index-dir DIR
  *     [--ann-method lsh|ivf|ivfpq (ivfpq serves --lambda only when the
  *                                  index carries the --keep-vectors
  *                                  float sidecar; RRF form otherwise)]
  *     [--k N] [--pool N (per-leg run size; default 2k)]
  *     [--lambda X (MMR re-rank the fused pool)] [--k1 X] [--b X]
  *     [--tuning N (lsh → minCandidates, ivf → nprobe)]
  *     [--refine N (ivfpq + --keep-vectors: the semantic leg nominates
  *                  with compressed ADC and reranks with TRUE cosines
  *                  from the float sidecar before fusion; composes
  *                  with --filter — the filtered widening loop
  *                  nominates at pool×N per round)]
  *     [--filter 'DFL'] (FILTERED serving: a DFL boolean over metadata
  *                      columns BOTH indexes carry — routed to the two
  *                      filtered batch probes, corpus-global statistics)
  *     [--max-batch-queries N]
  *     [--qid-col qid] [--terms-col terms] [--vec-col vec]
  *     (--queries-uri DIR [--queries-format jsonl|parquet]
  *        --output-uri DIR [--output-format jsonl|parquet]
  *      | --catalog FILE --queries-datastore NAME --output-datastore NAME)
  *     --checkpoint DIR [--once]
  *     [--build-from PARQUET_URI [--build-id-col C] [--build-text-col C]
  *      [--build-vec-col C] [--build-meta c1,c2] [--build-pbands N]
  *      [--build-nbits N] [--build-klists N]
  *      [--build-pbits N] [--build-pq-m N] [--build-pq-k N]
  *      [--keep-vectors] [--build-opq]]  (ivfpq sidecar / OPQ rotation)
  *
  * jsonl query rows carry terms as a whitespace-separated string OR a
  * JSON array, and the query vector as a JSON array
  * (`{"qid":1,"terms":"spark stream","vec":[0.1,-0.2,…]}`).
  *
  * `--build-from` bootstraps BOTH indexes from one parquet corpus of
  * (id, text, vec[, meta…]) rows when they don't exist yet
  * ([[graft.llm.Retrieval.ensure]] +
  * [[graft.llm.Ann.ensure]] — existing indexes are served as-is under
  * the single-writer contract, and an ANN dir built as another family
  * than `--ann-method` fails, naming both): one relaunch-safe command
  * from corpus to fused answers on a fresh host. An lsh build takes its
  * dim from the corpus. */
object ServeHybridCli {

  final case class Config(
      queriesUri: String = "", queriesFormat: String = "jsonl",
      qidCol: String = "qid", termsCol: String = "terms",
      vecCol: String = "vec",
      bm25IndexDir: String = "", annIndexDir: String = "",
      annMethod: String = "lsh",
      k: Int = 10, pool: Int = 0, lambda: Option[Double] = None,
      k1: Double = 1.2, b: Double = 0.75, tuning: Option[Int] = None,
      filterDfl: Option[String] = None,
      outputUri: String = "", outputFormat: String = "jsonl",
      checkpoint: String = "", once: Boolean = false,
      catalogPath: String = "", queriesDatastore: String = "",
      outputDatastore: String = "",
      buildFrom: String = "", buildIdCol: String = "doc_id",
      buildTextCol: String = "text", buildVecCol: String = "vec",
      buildMeta: Seq[String] = Nil, buildPBands: Int = 64,
      buildNBits: Int = 16, buildKLists: Int = 16,
      buildPBits: Int = 8, buildPqM: Int = 8, buildPqK: Int = 64,
      keepVectors: Boolean = false, buildOpq: Boolean = false,
      refine: Option[Int] = None,
      maxBatchQueries: Int = StreamRunner.defaultMaxQueriesPerBatch)

  def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) {
      a.flag() match {
        case "--queries-uri"       => c = c.copy(queriesUri = a.value())
        case "--queries-format"    => c = c.copy(queriesFormat = a.value())
        case "--qid-col"           => c = c.copy(qidCol = a.value())
        case "--terms-col"         => c = c.copy(termsCol = a.value())
        case "--vec-col"           => c = c.copy(vecCol = a.value())
        case "--bm25-index-dir"    => c = c.copy(bm25IndexDir = a.value())
        case "--ann-index-dir"     => c = c.copy(annIndexDir = a.value())
        case "--ann-method"        => c = c.copy(annMethod = a.value())
        case "--k"                 => c = c.copy(k = a.int())
        case "--pool"              => c = c.copy(pool = a.int())
        case "--lambda"            => c = c.copy(lambda = Some(a.double()))
        case "--k1"                => c = c.copy(k1 = a.double())
        case "--b"                 => c = c.copy(b = a.double())
        case "--tuning"            => c = c.copy(tuning = Some(a.int()))
        // verbatim — plain()'s quote-stripping would corrupt a DFL
        // expression bracketed by quoted literals (the ServeBm25Cli note)
        case "--filter"            => c = c.copy(filterDfl = Some(a.value()))
        case "--output-uri"        => c = c.copy(outputUri = a.value())
        case "--output-format"     => c = c.copy(outputFormat = a.value())
        case "--checkpoint"        => c = c.copy(checkpoint = a.value())
        case "--once"              => c = c.copy(once = true)
        case "--catalog"           => c = c.copy(catalogPath = a.value())
        case "--queries-datastore" => c = c.copy(queriesDatastore = a.value())
        case "--output-datastore"  => c = c.copy(outputDatastore = a.value())
        case "--build-from"        => c = c.copy(buildFrom = a.value())
        case "--build-id-col"      => c = c.copy(buildIdCol = a.value())
        case "--build-text-col"    => c = c.copy(buildTextCol = a.value())
        case "--build-vec-col"     => c = c.copy(buildVecCol = a.value())
        case "--build-meta"        =>
          c = c.copy(buildMeta = a.value().split(",").toSeq
            .map(_.trim).filter(_.nonEmpty))
        case "--build-pbands"      => c = c.copy(buildPBands = a.int())
        case "--build-nbits"       => c = c.copy(buildNBits = a.int())
        case "--build-klists"      => c = c.copy(buildKLists = a.int())
        case "--build-pbits"       => c = c.copy(buildPBits = a.int())
        case "--build-pq-m"        => c = c.copy(buildPqM = a.int())
        case "--build-pq-k"        => c = c.copy(buildPqK = a.int())
        case "--keep-vectors"      => c = c.copy(keepVectors = true)
        case "--refine"            => c = c.copy(refine = Some(a.int()))
        case "--build-opq"   => c = c.copy(buildOpq = true)
        case "--max-batch-queries" => c = c.copy(maxBatchQueries = a.int())
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    graft.llm.Retrieval.requireKnobs(c.k1, c.b, "--k1", "--b")
    require(c.bm25IndexDir.nonEmpty, "--bm25-index-dir is required")
    require(c.annIndexDir.nonEmpty, "--ann-index-dir is required")
    require(c.annMethod == "ivfpq" || (!c.keepVectors && !c.buildOpq),
      "--keep-vectors / --build-opq apply only to --ann-method ivfpq — " +
        "an ignored build knob is a config mistake, not a default")
    require(c.checkpoint.nonEmpty,
      "--checkpoint is required (it is what makes the job restartable)")
    c
  }

  /** Resolve the query/output bindings, preferring catalog datastores
    * when a catalog is given — the [[ServeCli.resolve]] contract. */
  def resolve(c: Config): Config = {
    val (qUri, qFormat) = ServeCli.bind(c.catalogPath, "--queries-datastore",
      c.queriesDatastore, c.queriesUri, c.queriesFormat)
    val (oUri, oFormat) = ServeCli.bind(c.catalogPath, "--output-datastore",
      c.outputDatastore, c.outputUri, c.outputFormat)
    ServeCli.requireServing(qUri, oUri)
    c.copy(queriesUri = qUri, queriesFormat = qFormat,
      outputUri = oUri, outputFormat = oFormat)
  }

  def run(spark: SparkSession, c0: Config): org.apache.spark.sql.streaming.StreamingQuery = {
    val c = resolve(c0)
    if (c.buildFrom.nonEmpty) {
      graft.llm.Retrieval.ensure(spark, c.bm25IndexDir, c.buildFrom,
        c.buildIdCol, c.buildTextCol, c.buildPBands, c.buildMeta)
      graft.llm.Ann.ensure(spark, c.annIndexDir, c.buildFrom, c.buildIdCol,
        c.buildVecCol, graft.llm.Ann.Build(c.annMethod, c.buildKLists,
          nBits = c.buildNBits, partitionBits = c.buildPBits,
          metaCols = c.buildMeta, pqM = c.buildPqM, pqK = c.buildPqK,
          keepVectors = c.keepVectors, opq = c.buildOpq))
    }
    StreamRunner.hybridServeJob(spark, c.queriesUri, c.queriesFormat,
      c.qidCol, c.termsCol, c.vecCol, c.bm25IndexDir, c.annIndexDir,
      c.annMethod, c.k, if (c.pool > 0) c.pool else 2 * c.k,
      c.outputUri, c.outputFormat, c.checkpoint, c.once,
      c.lambda, c.k1, c.b, c.tuning, c.filterDfl, c.maxBatchQueries,
      refine = c.refine)
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = Sessions.create("graft-serve-hybrid", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val q = run(spark, c)
      if (!c.once) q.awaitTermination()
    } finally spark.stop()
  }
}
