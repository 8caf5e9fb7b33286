package graft.cli

import org.apache.spark.sql.SparkSession
import graft.streaming.StreamRunner
import graft.util.Sessions

/** `serve-ann` command: drive the streaming ANN serving job from the
  * command line — a watched directory of query files in, answer files
  * out, restartable from its checkpoint
  * ([[graft.streaming.StreamRunner.annServeJob]]).
  *
  * Queries and output bind either as explicit URIs or as CATALOG
  * datastores (`--catalog` + datastore names — the uri/format come from
  * the catalog entries, so ops configure serving the same way they
  * configure every other datastore-bound job).
  *
  * Usage:
  *   runMain graft.cli.ServeCli
  *     --index-dir DIR [--method lsh|ivf|ivfpq] [--k N] [--tuning N]
  *     [--min-cos T]  (RANGE mode: serve every id at cos >= T instead of
  *                     top-k; tuning re-keys to lsh → slackBits,
  *                     ivf/ivfpq → nprobe; ivfpq thresholds the
  *                     RECONSTRUCTED cosine — the compressed index's
  *                     documented approximation)
  *     [--max-batch-queries N] (per-micro-batch query budget — an
  *                     unbounded query file fails loudly, never collects)
  *     [--filter 'DFL'] (FILTERED top-k: a DFL boolean over the index's
  *                     columns — id plus --build-meta metadata — routed
  *                     to the widening filtered batch probes; excludes
  *                     --min-cos)
  *     [--refine N]   (REFINED serving, ivfpq + --keep-vectors only:
  *                     compressed ADC nominates, TRUE cosines from the
  *                     float sidecar finalize — exact scores at
  *                     pruned-read cost. Composes with --filter (the
  *                     widening loop nominates k×N eligible per round)
  *                     and with --min-cos (nomination threshold loosens
  *                     by 0.05·N, exact true-cosine threshold verify))
  *     [--qid-col qid] [--vec-col vec]
  *     (--queries-uri DIR [--queries-format jsonl|parquet]
  *        --output-uri DIR [--output-format jsonl|parquet]
  *      | --catalog FILE --queries-datastore NAME --output-datastore NAME)
  *     --checkpoint DIR [--once]
  *     [--build-from PARQUET_URI [--build-id-col C] [--build-vec-col C]
  *      [--build-meta c1,c2] [--build-nbits N]
  *      [--build-klists N] [--build-pbits N]
  *      [--build-pq-m N] [--build-pq-k N]  (pq knobs: ivfpq only)
  *      [--keep-vectors]  (ivfpq: persist the vectors_f32 float sidecar
  *                         that --refine / retrain / compressed MMR need)
  *      [--build-opq]]    (ivfpq: learn the OPQ rotation at build time)
  *
  * `--build-from` bootstraps the index from a parquet corpus when none
  * exists at `--index-dir` yet (an existing index is served as-is; one
  * built as another family than `--method` fails, naming both) — one
  * relaunch-safe command from corpus to answers on a fresh host. An lsh
  * build takes its dim from the corpus. The probe reads the family from
  * the index layout; `--method` chooses what to build and is checked
  * against a built layout.
  *
  * `--once` drains the currently-available query files and exits (the
  * cron shape); without it the job serves until killed. Either way the
  * checkpoint makes a relaunch resume where the last run stopped —
  * already-answered query files are never re-answered, and a batch
  * replayed after a crash overwrites its own `batch-<id>` output
  * (exactly-once answers). */
object ServeCli {

  final case class Config(
      queriesUri: String = "", queriesFormat: String = "jsonl",
      qidCol: String = "qid", vecCol: String = "vec",
      indexDir: String = "", method: String = "lsh",
      k: Int = 10, tuning: Option[Int] = None,
      minCos: Option[Double] = None, filterDfl: Option[String] = None,
      outputUri: String = "", outputFormat: String = "jsonl",
      checkpoint: String = "", once: Boolean = false,
      catalogPath: String = "", queriesDatastore: String = "",
      outputDatastore: String = "",
      buildFrom: String = "", buildIdCol: String = "vec_id",
      buildVecCol: String = "embedding", buildMeta: Seq[String] = Nil,
      buildNBits: Int = 16, buildKLists: Int = 16, buildPBits: Int = 8,
      buildPqM: Int = 8, buildPqK: Int = 64, keepVectors: Boolean = false,
      refine: Option[Int] = None,
      buildOpq: Boolean = false,
      maxBatchQueries: Int = graft.streaming.StreamRunner.defaultMaxQueriesPerBatch)

  def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) {
      a.flag() match {
        case "--queries-uri"       => c = c.copy(queriesUri = a.value())
        case "--queries-format"    => c = c.copy(queriesFormat = a.value())
        case "--qid-col"           => c = c.copy(qidCol = a.value())
        case "--vec-col"           => c = c.copy(vecCol = a.value())
        case "--index-dir"         => c = c.copy(indexDir = a.value())
        case "--method"            => c = c.copy(method = a.value())
        case "--k"                 => c = c.copy(k = a.int())
        case "--tuning"            => c = c.copy(tuning = Some(a.int()))
        case "--min-cos"           => c = c.copy(minCos = Some(a.double()))
        // a DFL boolean over index columns (id + --build-meta metadata):
        // routes each micro-batch to the FILTERED batch probes. Passed
        // VERBATIM — plain()'s quote-stripping is for catalog URIs and
        // would corrupt an expression that starts and ends with quoted
        // literals ("'en' == @lang || @lang == 'de'")
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
        case "--build-vec-col"     => c = c.copy(buildVecCol = a.value())
        case "--build-meta"        => c = c.copy(buildMeta =
          a.value().split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "--build-nbits"       => c = c.copy(buildNBits = a.int())
        case "--build-klists"      => c = c.copy(buildKLists = a.int())
        case "--build-pbits"       => c = c.copy(buildPBits = a.int())
        case "--build-pq-m"        => c = c.copy(buildPqM = a.int())
        case "--build-pq-k"        => c = c.copy(buildPqK = a.int())
        case "--keep-vectors"      => c = c.copy(keepVectors = true)
        case "--refine"            => c = c.copy(refine = Some(a.int()))
        case "--build-opq"   => c = c.copy(buildOpq = true)
        // per-micro-batch query budget: queries collect to the driver,
        // so an unbounded file fails loudly instead of OOMing it
        case "--max-batch-queries" => c = c.copy(maxBatchQueries = a.int())
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(c.indexDir.nonEmpty, "--index-dir is required")
    require(c.method == "ivfpq" || (!c.keepVectors && !c.buildOpq),
      "--keep-vectors / --build-opq apply only to --method ivfpq — an " +
        "ignored build knob is a config mistake, not a default")
    require(c.checkpoint.nonEmpty,
      "--checkpoint is required (it is what makes the job restartable)")
    c
  }

  /** Resolve the query/output bindings, preferring catalog datastores
    * when a catalog is given. Exposed for the spec. */
  def resolve(c: Config): Config = {
    val (qUri, qFormat) = bind(c.catalogPath, "--queries-datastore",
      c.queriesDatastore, c.queriesUri, c.queriesFormat)
    val (oUri, oFormat) = bind(c.catalogPath, "--output-datastore",
      c.outputDatastore, c.outputUri, c.outputFormat)
    requireServing(qUri, oUri)
    c.copy(queriesUri = qUri, queriesFormat = qFormat,
      outputUri = oUri, outputFormat = oFormat)
  }

  /** The (uri, format) pair a streaming CLI binds: with a catalog, the
    * datastore `name` given by `flag` (its URI as a plain path, its
    * format when set, else `format`); without one, `uri` and `format`
    * as given. */
  private[cli] def bind(catalogPath: String, flag: String, name: String,
                        uri: String, format: String): (String, String) =
    if (catalogPath.isEmpty) (uri, format)
    else {
      require(name.nonEmpty, s"$flag is required with --catalog")
      val ds = datastore(catalogPath, name)
      (plain(ds.uri), if (ds.format.nonEmpty) ds.format else format)
    }

  /** A serving CLI needs both its queries and its output bound. */
  private[cli] def requireServing(queriesUri: String, outputUri: String): Unit =
    require(queriesUri.nonEmpty && outputUri.nonEmpty,
      "either --catalog + datastore names or --queries-uri/--output-uri")

  private[cli] def datastore(catalogPath: String, name: String): graft.catalog.DataStore = {
    val cat = graft.catalog.Catalog.load(catalogPath)
    cat.datastores.getOrElse(name,
      throw new NoSuchElementException(s"unknown datastore: $name"))
  }

  /** Catalog URIs are DFL expressions; the streaming jobs bind PLAIN
    * paths (quoted literals or bare) — variable templating needs an exec
    * context a long-lived stream doesn't have. */
  private[cli] def plain(uri: String): String = {
    val t = uri.trim
    if (t.length >= 2 &&
        ((t.head == '\'' && t.last == '\'') ||
         (t.head == '"' && t.last == '"')))
      t.substring(1, t.length - 1)
    else uri
  }

  def run(spark: SparkSession, c0: Config): org.apache.spark.sql.streaming.StreamingQuery = {
    val c = resolve(c0)
    // `--build-from` bootstrap: build-if-missing, never rebuild a live
    // index (refreshing belongs to the ingest job / appends). The pbits
    // LAYOUT knob sizes partition dirs to the corpus — parquet pays a
    // fixed per-file cost, so a small corpus wants few dirs while 100 TB
    // wants the default 8 bits = 256.
    if (c.buildFrom.nonEmpty)
      graft.llm.Ann.ensure(spark, c.indexDir, c.buildFrom, c.buildIdCol,
        c.buildVecCol, graft.llm.Ann.Build(c.method, c.buildKLists,
          nBits = c.buildNBits, partitionBits = c.buildPBits,
          metaCols = c.buildMeta, pqM = c.buildPqM, pqK = c.buildPqK,
          keepVectors = c.keepVectors, opq = c.buildOpq))
    StreamRunner.annServeJob(spark, c.queriesUri, c.queriesFormat,
      c.qidCol, c.vecCol, c.indexDir, c.method, c.k, c.tuning,
      c.outputUri, c.outputFormat, c.checkpoint, c.once, c.minCos,
      c.filterDfl, maxQueriesPerBatch = c.maxBatchQueries,
      refine = c.refine)
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = Sessions.create("graft-serve-ann", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val q = run(spark, c)
      if (!c.once) q.awaitTermination()
    } finally spark.stop()
  }
}
