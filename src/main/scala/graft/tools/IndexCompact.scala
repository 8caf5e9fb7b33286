package graft.tools

import graft.util.Sessions

/** Ops entry point for [[graft.llm.Ann.compact]] and
  * [[graft.llm.Retrieval.bm25Compact]]: rewrite an appended index's data
  * layout (ANN vectors, or BM25 postings + df) back to the file shape a
  * fresh build would produce — no retrain, no signature recompute, one
  * clustered read-rewrite committed atomically. The family is read from
  * the index's own layout ([[graft.llm.Similarity.indexKind]]), as
  * [[IndexDelete]] does, so every sidecar the family carries survives.
  * Run it in the index's single-writer window (its ingest job stopped,
  * or from the job itself via `--compact-every`);
  * `--min-files-per-part N` makes a cron invocation a cheap no-op (one
  * FS listing, no Spark job) while the worst partition still reads fewer
  * than N data files.
  *
  * Usage:
  *   runMain graft.tools.IndexCompact --index-dir DIR [--min-files-per-part N]
  */
object IndexCompact {

  /** Compact (or skip) the index `args` name; returns the report line. */
  def run(spark: org.apache.spark.sql.SparkSession, args: Array[String]): String = {
    var indexDir = ""; var minFilesPerPart = 0L
    val a = new graft.cli.Argv(args)
    while (a.more) {
      a.flag() match {
        case "--index-dir"          => indexDir = a.value()
        case "--min-files-per-part" => minFilesPerPart = a.long()
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(indexDir.nonEmpty, "--index-dir is required")
    val bm25 = graft.llm.Similarity.indexKind(spark, indexDir).getOrElse(
      throw new IllegalArgumentException(
        s"--index-dir: '$indexDir' is not a built index dir")) == "bm25"
    val (files, maxPerPart) = graft.llm.Similarity.indexFileStats(spark,
      indexDir, if (bm25) "postings" else "vectors")
    if (maxPerPart < minFilesPerPart)
      s"skip: $files data files, worst partition $maxPerPart < $minFilesPerPart"
    else {
      val st =
        if (bm25) graft.llm.Retrieval.bm25Compact(spark, indexDir)
        else graft.llm.Ann.compact(spark, indexDir)
      s"compacted: ${st.filesBefore} -> ${st.filesAfter} data files"
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.create("graft-index-compact", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try println(run(spark, args))
    finally spark.stop()
  }
}
