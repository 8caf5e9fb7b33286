package graft.tools

import graft.util.Sessions

/** Ops CLI for the id-DELETE lifecycle verb — the takedown tool
  * (copyright / PII / GDPR removal without a rebuild), completing the
  * maintenance trio next to [[IndexCompact]] and [[IndexGc]]:
  *
  *   runMain graft.tools.IndexDelete --index-dir DIR
  *     (--ids 1,2,3 | --ids-uri URI [--id-col COL])
  *
  * The family dispatches on the index's OWN layout
  * ([[graft.llm.Similarity.indexKind]]): lsh | ivf | ivfpq go through
  * [[graft.llm.Similarity.annDelete]], bm25 through
  * [[graft.llm.Retrieval.bm25Delete]] (which also subtracts the df and
  * (n, Σdl) statistics). `--ids-uri` reads the takedown list with the
  * engine's own URI reader (any supported format — a parquet of ids, a
  * jsonl export from a legal tool), `--id-col` names its id column
  * (default `id`). Prints the number of NEWLY tombstoned ids; a
  * repeated run is a counted no-op (the delete verbs' replay fence).
  * Same single-writer contract as appends — run it from the index's
  * owning maintenance slot, never concurrently with an ingest batch. */
object IndexDelete {
  def main(args: Array[String]): Unit = {
    var indexDir = ""; var ids = ""; var idsUri = ""; var idCol = "id"
    val a = new graft.cli.Argv(args)
    while (a.more) {
      a.flag() match {
        case "--index-dir" => indexDir = a.value()
        case "--ids"       => ids = a.value()
        case "--ids-uri"   => idsUri = a.value()
        case "--id-col"    => idCol = a.value()
        case other => throw new IllegalArgumentException(s"unknown flag: $other")
      }
    }
    require(indexDir.nonEmpty, "--index-dir is required")
    require(ids.nonEmpty ^ idsUri.nonEmpty,
      "exactly one of --ids (comma-separated) or --ids-uri is required")
    val spark = Sessions.create("graft-index-delete", Sessions.master(4))
    spark.sparkContext.setLogLevel("WARN")
    try {
      val kind = graft.llm.Similarity.indexKind(spark, indexDir).getOrElse(
        throw new IllegalArgumentException(
          s"--index-dir: '$indexDir' is not a built index dir"))
      val n =
        if (ids.nonEmpty) {
          val list = ids.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong)
          require(list.nonEmpty, "--ids parsed to an empty list")
          if (kind == "bm25")
            graft.llm.Retrieval.bm25Delete(spark, indexDir, list.toSeq)
          else graft.llm.Similarity.annDelete(spark, indexDir, list.toSeq)
        } else {
          val df = graft.io.DataStoreIO.read(spark, idsUri)
          if (kind == "bm25")
            graft.llm.Retrieval.bm25Delete(df, idCol, indexDir)
          else graft.llm.Similarity.annDelete(df, idCol, indexDir)
        }
      println(s"[index-delete] $kind index $indexDir: $n newly tombstoned " +
        "ids (rows drop physically at the next compaction/retrain)")
    } finally spark.stop()
  }
}
