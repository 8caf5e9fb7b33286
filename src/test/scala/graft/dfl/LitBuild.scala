package graft.dfl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** Test helpers for comparing a var-bound DFL build with the same DFL
  * whose numeric vars are written into the source as literals — the
  * build where every value is a plain Spark `lit`. */
object LitBuild {

  /** DFL source text of a numeric value (or a Seq of them). */
  def dflLit(v: Any): String = v match {
    case d: Double =>
      val s = new java.math.BigDecimal(d.toString).toPlainString
      val t = if (s.contains('.')) s else s + ".0"
      if (d < 0) s"($t)" else t
    case l: Long    => if (l < 0) s"($l)" else l.toString
    case xs: Seq[_] => xs.map(dflLit).mkString("[", ", ", "]")
  }

  private def numeric(v: Any): Boolean = v match {
    case _: Double | _: Long => true
    case xs: Seq[_] => xs.nonEmpty && xs.forall(numeric)
    case _ => false
  }

  /** `src` with every numeric var of `vars` (`$v`, static `$v[i]`)
    * replaced by its literal text; other vars are left to bind. */
  def inline(src: String, vars: Map[String, Any]): String =
    vars.filter(kv => numeric(kv._2)).foldLeft(src) { case (s, (name, v)) =>
      val indexed = v match {
        case xs: Seq[_] => raw"\$$$name\[(\d+)\]".r.replaceAllIn(s,
          m => java.util.regex.Matcher.quoteReplacement(dflLit(xs(m.group(1).toInt))))
        case _ => s
      }
      raw"\$$$name\b".r.replaceAllIn(indexed,
        java.util.regex.Matcher.quoteReplacement(dflLit(v)))
    }

  /** Whether `df`'s analyzed plan binds a value by reference. */
  def bindsByReference(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.BoundLit])))

  /** Generated Java of every whole-stage subtree of an executed query. */
  def codegen(qe: org.apache.spark.sql.execution.QueryExecution): Seq[String] =
    qe.debug.codegenToSeq().map(_._2)

  /** (PartitionFilters, PushedFilters) of each file scan of `df`'s
    * physical plan, with expression ids stripped. */
  def scanFilters(df: DataFrame): Seq[(String, String)] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec =>
      def clean(k: String) = s.metadata.getOrElse(k, "").replaceAll("#\\d+L?", "")
      (clean("PartitionFilters"), clean("PushedFilters"))
    }
}
