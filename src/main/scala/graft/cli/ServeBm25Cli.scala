package graft.cli

import org.apache.spark.sql.SparkSession
import graft.streaming.StreamRunner
import graft.util.Sessions

/** `serve-bm25` command — the lexical twin of [[ServeCli]]'s `serve-ann`:
  * drive the streaming BM25 serving job from the command line — a
  * watched directory of (qid, terms) query files in, (qid, id, score,
  * rnk) answer files out, restartable from its checkpoint
  * ([[graft.streaming.StreamRunner.bm25ServeJob]]).
  *
  * Queries and output bind either as explicit URIs or as CATALOG
  * datastores (`--catalog` + datastore names), exactly as `serve-ann`.
  *
  * Usage:
  *   runMain graft.cli.ServeBm25Cli
  *     --index-dir DIR [--k N] [--k1 X] [--b X]
  *     [--filter 'DFL'] (FILTERED top-k: a DFL boolean over the index's
  *                      metadata columns — --build-meta carried them —
  *                      routed to the filtered batch probes with
  *                      corpus-global statistics, the serve-ann posture)
  *     [--qid-col qid] [--terms-col terms]
  *     (--queries-uri DIR [--queries-format jsonl|parquet]
  *        --output-uri DIR [--output-format jsonl|parquet]
  *      | --catalog FILE --queries-datastore NAME --output-datastore NAME)
  *     --checkpoint DIR [--once]
  *     [--build-from PARQUET_URI [--build-id-col C] [--build-text-col C]
  *      [--build-pbands N] [--build-meta c1,c2]]
  *
  * jsonl query files carry terms as a whitespace-separated STRING
  * (`{"qid":1,"terms":"spark stream"}`) OR a JSON array
  * (`{"qid":1,"terms":["spark","stream"]}`) — both shapes answer;
  * array<string> terms are also the parquet format's shape.
  *
  * `--build-from` bootstraps the inverted index from a parquet corpus
  * when none exists at `--index-dir` yet (an existing index is served
  * as-is — refreshing belongs to bm25Append/bm25Build under the
  * single-writer contract): one relaunch-safe command from corpus to
  * answers on a fresh host. `--once` drains the currently-available
  * query files and exits (the cron shape); either way the checkpoint
  * makes a relaunch resume where the last run stopped, and a batch
  * replayed after a crash overwrites its own `batch-<id>` output
  * (exactly-once answers). */
object ServeBm25Cli {

  final case class Config(
      queriesUri: String = "", queriesFormat: String = "jsonl",
      qidCol: String = "qid", termsCol: String = "terms",
      indexDir: String = "", k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      filterDfl: Option[String] = None,
      outputUri: String = "", outputFormat: String = "jsonl",
      checkpoint: String = "", once: Boolean = false,
      catalogPath: String = "", queriesDatastore: String = "",
      outputDatastore: String = "",
      buildFrom: String = "", buildIdCol: String = "doc_id",
      buildTextCol: String = "text", buildPBands: Int = 64,
      buildMeta: Seq[String] = Nil)

  def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) {
      a.flag() match {
        case "--queries-uri"       => c = c.copy(queriesUri = a.value())
        case "--queries-format"    => c = c.copy(queriesFormat = a.value())
        case "--qid-col"           => c = c.copy(qidCol = a.value())
        case "--terms-col"         => c = c.copy(termsCol = a.value())
        case "--index-dir"         => c = c.copy(indexDir = a.value())
        case "--k"                 => c = c.copy(k = a.int())
        case "--k1"                => c = c.copy(k1 = a.double())
        case "--b"                 => c = c.copy(b = a.double())
        // verbatim — plain()'s quote-stripping is for catalog URIs and
        // would corrupt a DFL expression that starts and ends with
        // quoted literals ("'en' == @lang || @lang == 'de'")
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
        case "--build-pbands"      => c = c.copy(buildPBands = a.int())
        case "--build-meta"        => c = c.copy(buildMeta =
          a.value().split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    graft.llm.Retrieval.requireKnobs(c.k1, c.b, "--k1", "--b")
    require(c.indexDir.nonEmpty, "--index-dir is required")
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
    if (c.buildFrom.nonEmpty)
      graft.llm.Retrieval.ensure(spark, c.indexDir, c.buildFrom,
        c.buildIdCol, c.buildTextCol, c.buildPBands, c.buildMeta)
    StreamRunner.bm25ServeJob(spark, c.queriesUri, c.queriesFormat,
      c.qidCol, c.termsCol, c.indexDir, c.k, c.outputUri, c.outputFormat,
      c.checkpoint, c.once, c.k1, c.b, c.filterDfl)
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = Sessions.create("graft-serve-bm25", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val q = run(spark, c)
      if (!c.once) q.awaitTermination()
    } finally spark.stop()
  }
}
