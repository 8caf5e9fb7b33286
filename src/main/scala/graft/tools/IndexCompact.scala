package graft.tools

import graft.util.Sessions

/** Ops entry point for [[graft.llm.Similarity.compactIndex]] and
  * [[graft.llm.Retrieval.bm25Compact]]: rewrite an appended index's data
  * layout (ANN vectors, or BM25 postings + df) back to the file shape a
  * fresh build would produce — no retrain, no signature recompute, one
  * clustered read-rewrite committed atomically. Run it in the index's
  * single-writer window (its ingest job stopped, or from the job itself
  * via `--compact-every`); `--min-files-per-part N` makes a cron
  * invocation a cheap no-op (one FS listing, no Spark job) while the
  * worst partition still reads fewer than N data files.
  *
  * Usage:
  *   runMain graft.tools.IndexCompact --index-dir DIR
  *     --method lsh|ivf|ivfpq|bm25 [--min-files-per-part N]
  */
object IndexCompact {

  def main(args: Array[String]): Unit = {
    var indexDir = ""; var method = "lsh"; var minFilesPerPart = 0L
    val a = new graft.cli.Argv(args)
    while (a.more) {
      a.flag() match {
        case "--index-dir"          => indexDir = a.value()
        case "--method"             => method = a.value()
        case "--min-files-per-part" => minFilesPerPart = a.value().toLong
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(indexDir.nonEmpty, "--index-dir is required")
    val spark = Sessions.create("graft-index-compact", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val dataDir = if (method == "bm25") "postings" else "vectors"
      val (files, maxPerPart) =
        graft.llm.Similarity.indexFileStats(spark, indexDir, dataDir)
      if (maxPerPart < minFilesPerPart)
        println(s"skip: $files data files, worst partition $maxPerPart < " +
          s"$minFilesPerPart")
      else {
        val st =
          if (method == "bm25") graft.llm.Retrieval.bm25Compact(spark, indexDir)
          else graft.llm.Similarity.compactIndex(spark, indexDir, method)
        println(s"compacted: ${st.filesBefore} -> ${st.filesAfter} data files")
      }
    } finally spark.stop()
  }
}
