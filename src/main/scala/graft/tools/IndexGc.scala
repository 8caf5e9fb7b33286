package graft.tools

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import graft.util.Sessions

/** Retention sweep for the stamp-named ANN index directories the cached
  * index lifecycle materializes under `graft.ivf.indexBase`: every corpus
  * or build-param change — and every threshold retrain after appends —
  * lands a NEW `idx-<key16>-<stamp16>` directory and strands the previous
  * one (an unbounded storage leak at serving scale without retention).
  *
  * [[sweep]] keeps the newest `keepPerKey` stamp dirs per key hash
  * (mtime order — `keepPerKey >= 2` keeps the dir in-flight readers of a
  * just-superseded index may still be probing), deletes the rest, and
  * sweeps stranded hidden work dirs from crashed staged commits:
  *
  *  - `.idx-….staging` — a staged build that never swapped in
  *  - `.idx-….old`     — a previous index renamed aside mid-swap; when
  *    its target is MISSING this is the only live copy (the crash window
  *    between stagedCommit's two renames), so it is RESTORED, never
  *    deleted
  *
  * EVERY hidden-dir action (restore included) is age-guarded by
  * `minAgeMs` so a sweep cannot race an in-flight build in another
  * process — a healthy commit passes through the same target-missing/
  * fresh-.old signature for milliseconds mid-swap. Size the guard above
  * your longest build (the CLI and the auto-sweep both default to 1h).
  * Hidden dirs are also scoped to `onlyKeyHash` when set. Retention dirs
  * are not age-guarded; `keepPerKey` is their guard.
  *
  * Drive it three ways: this object's [[main]] from an ops shell or
  * cron; [[sweep]] from code; or automatically after each cached-
  * lifecycle retrain by setting `graft.ivf.gcKeep` (generations to keep;
  * optional `graft.ivf.gcMinAgeMs` for the hidden-dir guard) — the
  * cached lifecycle then scopes the sweep to the key it just rebuilt.
  */
object IndexGc {

  final case class Report(kept: Seq[String], deleted: Seq[String],
                          restored: Seq[String])

  private val IdxName = "^idx-([0-9a-f]{16})-([0-9a-f]{16})$".r

  def sweep(spark: SparkSession, base: String, keepPerKey: Int = 2,
            minAgeMs: Long = 0L, onlyKeyHash: Option[String] = None): Report = {
    require(keepPerKey >= 1, "IndexGc: keepPerKey must be >= 1")
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sessionState.newHadoopConf())
    val entries: Array[FileStatus] =
      try fs.listStatus(basePath)
      catch { case _: java.io.FileNotFoundException => Array.empty }
    val now = System.currentTimeMillis()
    val kept = Seq.newBuilder[String]
    val deleted = Seq.newBuilder[String]
    val restored = Seq.newBuilder[String]
    // matches `.idx-<key16>-<stamp16>.staging/.old`; group(1) = key hash.
    // Hidden dirs that DON'T parse (e.g. `.myidx.old` from an explicit-dir
    // stagedCommit under the same base) are in scope for an UNSCOPED
    // sweep — restoring such an orphan heals a crashed explicit build too
    // — but a key-scoped sweep (the auto-sweep after a cached-lifecycle
    // retrain) touches ONLY dirs that parse to its own key.
    val HiddenName = "^\\.idx-([0-9a-f]{16})-([0-9a-f]{16})\\.(?:staging|old)$".r
    def hiddenKeyMatches(n: String): Boolean = n match {
      case HiddenName(keyH, _) => onlyKeyHash.forall(_ == keyH)
      case _                   => onlyKeyHash.isEmpty
    }
    // 1) self-heal BEFORE any deletion: an `.X.old` whose target X is
    //    missing is the only copy of that index — restore it. AGE-GUARDED
    //    like every hidden-dir action: a healthy stagedCommit in another
    //    process sits between its two swap renames for milliseconds with
    //    exactly this signature (target missing, fresh .old), and an
    //    unguarded restore there would steal its aside copy and fail the
    //    commit. A crashed commit's orphan is restored by the NEXT sweep
    //    once it ages past the guard (or by stagedCommit's own self-heal
    //    on the next build of that index).
    entries.foreach { e =>
      val n = e.getPath.getName
      if (e.isDirectory && n.startsWith(".") && n.endsWith(".old") &&
          hiddenKeyMatches(n) && now - e.getModificationTime >= minAgeMs) {
        val target = new Path(basePath,
          n.stripPrefix(".").stripSuffix(".old"))
        if (!fs.exists(target) && fs.rename(e.getPath, target))
          restored += target.getName
      }
    }
    // 2) retention: newest keepPerKey stamp dirs per key hash survive
    entries.iterator.flatMap { e =>
      e.getPath.getName match {
        case IdxName(keyH, _) if e.isDirectory &&
            onlyKeyHash.forall(_ == keyH) => Iterator.single(keyH -> e)
        case _ => Iterator.empty
      }
    }.toSeq.groupBy(_._1).values.foreach { group =>
      val sorted = group.map(_._2).sortBy(e =>
        (-e.getModificationTime, e.getPath.getName))
      sorted.take(keepPerKey).foreach(kept += _.getPath.getName)
      sorted.drop(keepPerKey).foreach { e =>
        if (fs.delete(e.getPath, true)) deleted += e.getPath.getName
      }
    }
    // 3) stranded hidden work dirs (skipping anything restored above),
    //    age-guarded against racing an in-flight build elsewhere and
    //    SCOPED to onlyKeyHash when set — a key-scoped auto-sweep after
    //    one corpus's retrain must never touch another corpus's
    //    in-flight staging or aside copy
    entries.foreach { e =>
      val n = e.getPath.getName
      if (e.isDirectory && n.startsWith(".") &&
          (n.endsWith(".staging") || n.endsWith(".old")) &&
          hiddenKeyMatches(n) &&
          now - e.getModificationTime >= minAgeMs && fs.exists(e.getPath) &&
          fs.delete(e.getPath, true))
        deleted += n
    }
    Report(kept.result(), deleted.result(), restored.result())
  }

  /** CLI: `IndexGc <base> [keepPerKey=2] [minAgeMs=3600000]` — prints one
    * summary line per action. The default age guard is an hour: a cron
    * sweep should never race a build in progress. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: graft.tools.IndexGc <indexBase> [keepPerKey] [minAgeMs]")
    val base = args(0)
    val keep = if (args.length > 1) args(1).toInt else 2
    val minAge = if (args.length > 2) args(2).toLong else 3600000L
    val spark = Sessions.create("graft-index-gc", Sessions.master(2))
    try {
      val r = sweep(spark, base, keep, minAge)
      r.restored.foreach(d => println(s"restored $d"))
      r.deleted.foreach(d => println(s"deleted  $d"))
      r.kept.foreach(d => println(s"kept     $d"))
      println(s"indexgc: kept=${r.kept.size} deleted=${r.deleted.size} " +
        s"restored=${r.restored.size}")
    } finally spark.stop()
  }
}
