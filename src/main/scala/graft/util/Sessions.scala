package graft.util

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of every graft main and of the test JVM.
  *
  * Every session gets the same [[conf]], so DFL evaluates under one set
  * of semantics whichever entry point runs it: UTC session time, the
  * lenient (non-ANSI) coercion DFL relies on, and ns-precision parquet
  * timestamps read as longs. A main passes only what genuinely differs:
  * its app name and its master — `SPARK_MASTER` when set, else local mode
  * on `SPARK_GRAFT_CPUS` cores (the main's own default when unset).
  * Shuffle partitions follow the local core count (4 on a cluster
  * master). `file:` writes set permissions without forking `chmod`
  * ([[graft.io.NioLocalFileSystem]]). */
object Sessions {

  val conf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // a refined ivfpq probe reranks through an id-IN pushdown of up to
    // chunkSize(256) × k × refine nominee ids; past parquet's default
    // threshold (10) Spark pushes only the ids' min/max range. Set once
    // here, never flipped mid-session by a probe.
    "spark.sql.parquet.pushdown.inFilterThreshold" -> "262144",
    "spark.ui.enabled" -> "false") ++
    graft.io.NioLocalFileSystem.conf.toSeq.map { case (k, v) => s"spark.hadoop.$k" -> v }

  private lazy val envCpus: Option[Int] = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** `SPARK_GRAFT_CPUS` as a positive core count; a malformed value fails
    * with an error that names the variable. */
  private[util] def parseCpus(raw: Option[String]): Option[Int] =
    raw.map { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer core count, got '$v'"))
    }

  /** The core count of local mode: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int = envCpus.getOrElse(default)

  /** `SPARK_MASTER` when set, else `local[<cpus(defaultCpus)>]`. */
  def master(defaultCpus: Int): String =
    sys.env.getOrElse("SPARK_MASTER", s"local[${cpus(defaultCpus)}]")

  private val LocalN = """local\[(\d+)\]""".r

  private[util] def shufflePartitions(master: String): Int = master match {
    case LocalN(n)   => n.toInt
    case "local"     => 1
    case "local[*]"  => Runtime.getRuntime.availableProcessors()
    case _           => 4
  }

  /** Build (or join) the session for `appName` on `master`. */
  def create(appName: String, master: String): SparkSession =
    conf.foldLeft(SparkSession.builder().master(master).appName(appName)
        .config("spark.sql.shuffle.partitions",
          shufflePartitions(master).toString)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
