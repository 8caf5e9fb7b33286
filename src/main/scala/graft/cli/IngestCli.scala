package graft.cli

import org.apache.spark.sql.SparkSession
import graft.streaming.StreamRunner
import graft.util.Sessions

/** `ingest-ann` / `ingest-bm25` command: keep a live index fresh from a
  * stream of corpus files — the ingest counterpart of [[ServeCli]]'s
  * `serve-ann` and [[ServeBm25Cli]]'s `serve-bm25`
  * ([[graft.streaming.StreamRunner.annIngestJob]] /
  * [[graft.streaming.StreamRunner.bm25IngestJob]]). Every new file in
  * the watched corpus directory is appended to the index in one pass
  * over the new rows (never a corpus rescan); the checkpoint plus
  * batch-keyed append ids make a crashed-and-replayed batch a no-op, so
  * relaunching is always safe.
  *
  * Usage:
  *   runMain graft.cli.IngestCli
  *     (--corpus-uri DIR [--corpus-format parquet|jsonl]
  *      | --catalog FILE --corpus-datastore NAME)
  *     --index-dir DIR [--method lsh|ivf|ivfpq|bm25]
  *     [--id-col vec_id] [--vec-col embedding | --text-col text]
  *     --checkpoint DIR [--once] [--compact-every N] [--retrain-skew F]
  *     [--keep-vectors]  (ivfpq: persist the float sidecar retrain needs)
  *     [--build-opq]     (ivfpq: learn the OPQ rotation at build time)
  *     [--build-from PARQUET_URI [--build-nbits N]
  *      [--build-klists N] [--build-pbits N] [--build-pbands N]
  *      [--build-pq-m N] [--build-pq-k N]]  (pq knobs: ivfpq only)
  *
  * `--method bm25` appends (idCol, textCol) rows to a BM25 inverted
  * index (`--text-col` names the text column; vector/ANN build knobs do
  * not apply and `--retrain-skew` is rejected — lexical appends are
  * value-exact, there is no quantizer to drift). `--compact-every`
  * gates on [[graft.llm.Retrieval.bm25CompactionDue]].
  *
  * `--build-from` bulk-builds the index first if none exists (the
  * backfill); the stream then appends increments. The stream is TYPED
  * FROM THE INDEX itself (no file inference — the watched dir is
  * legitimately empty on first launch), and jsonl double vectors are
  * cast to the index's element type; parquet files whose types genuinely
  * differ from the index are rejected rather than stranding it with
  * unmergeable footers. One ingest job per index dir
  * (appends are single-writer); `--once` drains the currently-available
  * files and exits (the cron shape). `--compact-every N` rewrites the
  * index layout back to build shape after every N-th appended batch —
  * appends land one part file per partition per batch, and compaction is
  * what bounds probe read amplification over a long-running ingest. For
  * an IVF index, `--retrain-skew F` upgrades that slot to a full retrain
  * from the index's own rows whenever max/mean list occupancy exceeds F
  * — the self-healing answer to centroid drift under appended data. An
  * IVFPQ index gets the same verb when built with `--keep-vectors` (the
  * opt-in float sidecar): the retrain re-trains centroids AND codebooks
  * from the sidecar and re-encodes every row — without the sidecar the
  * codes cannot re-encode themselves and `--retrain-skew` is rejected at
  * job construction with the rebuild advice. */
object IngestCli {

  final case class Config(
      corpusUri: String = "", corpusFormat: String = "parquet",
      idCol: String = "vec_id", vecCol: String = "embedding",
      textCol: String = "text",
      indexDir: String = "", method: String = "lsh",
      checkpoint: String = "", once: Boolean = false, compactEvery: Int = 0,
      retrainSkew: Double = 0.0, keepVectors: Boolean = false,
      buildOpq: Boolean = false,
      buildFrom: String = "", buildNBits: Int = 16,
      buildKLists: Int = 16, buildPBits: Int = 8, buildPBands: Int = 64,
      buildPqM: Int = 8, buildPqK: Int = 64,
      buildMeta: Seq[String] = Nil,
      catalogPath: String = "", corpusDatastore: String = "")

  def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) {
      a.flag() match {
        case "--corpus-uri"    => c = c.copy(corpusUri = a.value())
        case "--corpus-format" => c = c.copy(corpusFormat = a.value())
        case "--id-col"        => c = c.copy(idCol = a.value())
        case "--vec-col"       => c = c.copy(vecCol = a.value())
        case "--text-col"      => c = c.copy(textCol = a.value())
        case "--index-dir"     => c = c.copy(indexDir = a.value())
        case "--method"        => c = c.copy(method = a.value())
        case "--checkpoint"    => c = c.copy(checkpoint = a.value())
        case "--once"          => c = c.copy(once = true)
        case "--compact-every" => c = c.copy(compactEvery = a.int())
        case "--retrain-skew"  => c = c.copy(retrainSkew = a.double())
        case "--keep-vectors"  => c = c.copy(keepVectors = true)
        case "--build-opq"   => c = c.copy(buildOpq = true)
        case "--build-from"    => c = c.copy(buildFrom = a.value())
        case "--build-nbits"   => c = c.copy(buildNBits = a.int())
        case "--build-klists"  => c = c.copy(buildKLists = a.int())
        case "--build-pbits"   => c = c.copy(buildPBits = a.int())
        case "--build-pbands"  => c = c.copy(buildPBands = a.int())
        case "--build-pq-m"    => c = c.copy(buildPqM = a.int())
        case "--build-pq-k"    => c = c.copy(buildPqK = a.int())
        case "--build-meta"    => c = c.copy(buildMeta =
          a.value().split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "--catalog"          => c = c.copy(catalogPath = a.value())
        case "--corpus-datastore" => c = c.copy(corpusDatastore = a.value())
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(c.corpusUri.nonEmpty || (c.catalogPath.nonEmpty && c.corpusDatastore.nonEmpty),
      "either --corpus-uri or --catalog + --corpus-datastore is required")
    require(c.indexDir.nonEmpty, "--index-dir is required")
    require(c.checkpoint.nonEmpty,
      "--checkpoint is required (it is what makes replayed batches no-ops)")
    require(c.method == "ivf" || c.method == "ivfpq" || c.retrainSkew <= 0,
      "--retrain-skew applies only to ivf/ivfpq (lsh/bm25 appends are " +
        "exact and never drift)")
    require(c.method == "ivfpq" || !c.keepVectors,
      "--keep-vectors applies only to ivfpq (every other method's index " +
        "already stores its vectors)")
    require(c.method == "ivfpq" || !c.buildOpq,
      "--build-opq applies only to ivfpq (the OPQ rotation refines the " +
        "PQ codes; other methods store no codes)")
    c
  }

  /** Resolve the corpus binding, preferring the catalog datastore when a
    * catalog is given (same contract as ServeCli: plain-path URIs, the
    * datastore's format wins when set). */
  def resolve(c: Config): Config = {
    val (uri, format) = ServeCli.bind(c.catalogPath, "--corpus-datastore",
      c.corpusDatastore, c.corpusUri, c.corpusFormat)
    c.copy(corpusUri = uri, corpusFormat = format)
  }

  def run(spark: SparkSession, c0: Config): org.apache.spark.sql.streaming.StreamingQuery = {
    val c = resolve(c0)
    if (c.method == "bm25") {
      if (c.buildFrom.nonEmpty)
        graft.llm.Retrieval.ensure(spark, c.indexDir, c.buildFrom,
          c.idCol, c.textCol, c.buildPBands, c.buildMeta)
      StreamRunner.bm25IngestJob(spark, c.corpusUri, c.corpusFormat,
        c.idCol, c.textCol, c.indexDir, c.checkpoint, c.once,
        compactEvery = c.compactEvery)
    } else {
      if (c.buildFrom.nonEmpty)
        graft.llm.Ann.ensure(spark, c.indexDir, c.buildFrom, c.idCol,
          c.vecCol, graft.llm.Ann.Build(c.method, c.buildKLists,
            nBits = c.buildNBits, partitionBits = c.buildPBits,
            metaCols = c.buildMeta, pqM = c.buildPqM, pqK = c.buildPqK,
            keepVectors = c.keepVectors, opq = c.buildOpq))
      StreamRunner.annIngestJob(spark, c.corpusUri, c.corpusFormat,
        c.idCol, c.vecCol, c.indexDir, c.method, c.checkpoint, c.once,
        compactEvery = c.compactEvery, retrainSkewFactor = c.retrainSkew)
    }
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = Sessions.create("graft-ingest-ann", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val q = run(spark, c)
      if (!c.once) q.awaitTermination()
    } finally spark.stop()
  }
}
