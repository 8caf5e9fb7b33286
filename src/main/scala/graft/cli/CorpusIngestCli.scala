package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.DataStoreIO
import graft.util.Sessions

/** `ingest-corpus`: the WHOLE incremental training-corpus ingest as one
  * command — the batch product surface tying this library's pipeline
  * operators together the way `ingest-ann`/`serve-ann` tie the index
  * lifecycle:
  *
  *   1. snapshot diff against `--old-uri` (added + changed rows only —
  *      the unchanged mass never flows past the diff join); no old
  *      snapshot = full ingest
  *   2. self near-dedup (MinHash survivors) unless `--no-self-dedup`
  *   3. cross-corpus near-dedup AGAINST the old snapshot (a trivially
  *      edited doc is not new data)
  *   4. eval-set decontamination against `--bench-uri` (exact n-gram
  *      overlap), when given
  *   5. balanced shard assignment by `--weight-col` (whitespace token
  *      count when absent) at `--shard-weight`
  *   6. write `--out-uri` parquet partitioned by shard
  *
  * Prints ONE JSON report line with per-stage row counts — the audit
  * trail an ingest run leaves behind.
  *
  * Usage:
  *   runMain graft.cli.CorpusIngestCli
  *     --new-uri F [--old-uri F] [--bench-uri F]
  *     [--id-col doc_id] [--text-col text] [--weight-col c]
  *     [--threshold 0.8] [--ngram 8] [--shard-weight 100000]
  *     --out-uri DIR
  */
object CorpusIngestCli {

  final case class Config(
      newUri: String = "",
      oldUri: String = "",
      benchUri: String = "",
      idCol: String = "doc_id",
      textCol: String = "text",
      weightCol: String = "",
      threshold: Double = 0.8,
      ngram: Int = 8,
      shardWeight: Long = 100000L,
      selfDedup: Boolean = true,
      outUri: String = "",
      stream: Boolean = false,
      streamFormat: String = "jsonl",
      timeCol: String = "ts",
      watermark: String = "",
      checkpoint: String = "",
      once: Boolean = false,
  )

  private[cli] def parseArgs(args: Array[String]): Config = {
    var c = Config()
    val a = new Argv(args)
    while (a.more) a.flag() match {
      case "--new-uri"       => c = c.copy(newUri = a.value())
      case "--old-uri"       => c = c.copy(oldUri = a.value())
      case "--bench-uri"     => c = c.copy(benchUri = a.value())
      case "--id-col"        => c = c.copy(idCol = a.value())
      case "--text-col"      => c = c.copy(textCol = a.value())
      case "--weight-col"    => c = c.copy(weightCol = a.value())
      case "--threshold"     => c = c.copy(threshold = a.double())
      case "--ngram"         => c = c.copy(ngram = a.int())
      case "--shard-weight"  => c = c.copy(shardWeight = a.long())
      case "--no-self-dedup" => c = c.copy(selfDedup = false)
      case "--out-uri"       => c = c.copy(outUri = a.value())
      // streaming mode: --new-uri becomes the WATCHED directory
      case "--stream"        => c = c.copy(stream = true)
      case "--stream-format" => c = c.copy(streamFormat = a.value())
      case "--time-col"      => c = c.copy(timeCol = a.value())
      case "--watermark"     => c = c.copy(watermark = a.value())
      case "--checkpoint"    => c = c.copy(checkpoint = a.value())
      case "--once"          => c = c.copy(once = true)
      case other => throw new IllegalArgumentException(s"unknown flag: $other")
    }
    require(c.newUri.nonEmpty, "--new-uri is required")
    require(c.outUri.nonEmpty, "--out-uri is required")
    require(!c.stream || c.checkpoint.nonEmpty,
      "--stream requires --checkpoint")
    c
  }

  /** The pipeline, separated from the session/sink for testability.
    * Returns (sharded frame, per-stage counts in execution order). */
  def run(spark: SparkSession, c: Config): (DataFrame, Seq[(String, Long)]) = {
    def read(uri: String): DataFrame = DataStoreIO.readSpec(spark, uri)
    val newSnap = read(c.newUri)
    val report = Seq.newBuilder[(String, Long)]
    report += ("new" -> newSnap.count())

    val oldSnap = if (c.oldUri.nonEmpty) Some(read(c.oldUri)) else None

    // 1. diff: only added + changed rows continue
    val fresh = oldSnap match {
      case Some(old) =>
        val d = graft.util.Snapshot.diff(old, newSnap, c.idCol, Seq(c.textCol))
          .filter(col("change") =!= "removed").select(c.idCol)
        newSnap.join(d, Seq(c.idCol))
      case None => newSnap
    }
    report += ("fresh" -> fresh.count())

    // 2. self near-dedup
    val selfClean =
      if (c.selfDedup)
        graft.llm.Dedup.survivors(fresh, c.idCol,
          graft.llm.Dedup.minhashPairs(fresh, c.idCol, c.textCol, c.threshold))
      else fresh
    report += ("self_dedup" -> selfClean.count())

    // 3. cross-corpus near-dedup against the retained snapshot
    val crossClean = oldSnap match {
      case Some(old) =>
        graft.llm.Dedup.survivorsAgainst(selfClean, c.idCol,
          graft.llm.Dedup.minhashPairsAgainst(selfClean, old,
            c.idCol, c.textCol, c.threshold))
      case None => selfClean
    }
    report += ("cross_dedup" -> crossClean.count())

    // 4. decontamination
    val decontaminated = if (c.benchUri.nonEmpty) {
      val bench = read(c.benchUri)
      graft.llm.TextAnalysis.decontaminate(
        crossClean, c.idCol, c.textCol, bench, c.textCol, c.ngram)
    } else crossClean
    report += ("decontam" -> decontaminated.count())

    // 5. shards
    val weighted =
      if (c.weightCol.nonEmpty) decontaminated.withColumn("__w",
        col(c.weightCol).cast("long"))
      else decontaminated.withColumn("__w",
        graft.llm.TextAnalysis.tokenCountWs(col(c.textCol)).cast("long"))
    val sharded = graft.llm.Sampling
      .shardAssign(weighted, c.idCol, "__w", c.shardWeight)
      .drop("__w")
    (sharded, report.result())
  }

  def main(args: Array[String]): Unit = {
    val c = parseArgs(args)
    val spark = Sessions.create("graft-ingest-corpus", Sessions.master(4))
    spark.sparkContext.setLogLevel("ERROR")
    if (c.stream) {
      // continuous mode: --new-uri is the watched dir; retained/bench
      // are static tables; survivors append to --out-uri exactly once
      val retained = if (c.oldUri.nonEmpty)
        Some(DataStoreIO.readSpec(spark, c.oldUri)) else None
      val bench = if (c.benchUri.nonEmpty)
        Some(DataStoreIO.readSpec(spark, c.benchUri)) else None
      val q = graft.streaming.StreamRunner.corpusIngestJob(spark, c.newUri,
        c.streamFormat, c.textCol, c.timeCol, c.watermark,
        retained, bench, c.outUri, c.checkpoint, c.once)
      q.awaitTermination()
      spark.stop()
      return
    }
    try {
      val (sharded, report) = run(spark, c)
      sharded.write.mode("overwrite").partitionBy("shard").parquet(c.outUri)
      val written = spark.read.parquet(c.outUri).count()
      val stages = (report :+ ("written" -> written))
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val line = s"""{"ingest":{$stages},"out":"${c.outUri}"}"""
      // the audit trail travels WITH the data: a manifest beside the
      // shards records what produced them and how much each stage kept
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(c.outUri.stripPrefix("file:"), "_manifest.json"),
        s"""{"config":{"new":"${c.newUri}","old":"${c.oldUri}",""" +
          s""""bench":"${c.benchUri}","threshold":${c.threshold},""" +
          s""""ngram":${c.ngram},"shard_weight":${c.shardWeight},""" +
          s""""self_dedup":${c.selfDedup}},"stages":{$stages}}""")
      println(line)
    } finally spark.stop()
  }
}
