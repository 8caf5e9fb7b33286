package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** The PlanLint BNLJ verdict is STRUCTURAL, not a name list: a
  * BroadcastNestedLoopJoin passes only when its build side is provably
  * ≤1 row; a deliberately-bad multi-row broadcast cross join fails even
  * though nothing names it. */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lint(df: org.apache.spark.sql.DataFrame,
                   interval: Boolean = false): Seq[String] =
    PlanLint.lintPlan(df.queryExecution.executedPlan, interval)

  test("one-row scalar-stat cross join passes: grouping-free aggregate build side") {
    val data = Seq(1.0, 2.0, 3.0, 4.0).toDF("x")
    val stats = data.agg(avg($"x").as("mu"))
    val joined = data.crossJoin(broadcast(stats))
      .select($"x", ($"x" - $"mu").as("centered"))
    assert(lint(joined).isEmpty,
      s"scalar-stat shape must pass, got ${lint(joined)}")
  }

  test("limit-1 build side passes; multi-row broadcast cross join FAILS even unnamed") {
    val data = Seq(1, 2, 3, 4).toDF("a")
    val one = Seq(9, 8, 7).toDF("b").limit(1)
    assert(lint(data.crossJoin(broadcast(one))).isEmpty)
    // the deliberately-bad plan: a 3-row broadcast side cross-paired
    // with every probe row — the all-pairs shape the lint exists to stop
    val bad = data.crossJoin(broadcast(Seq(9, 8, 7).toDF("b")))
    val v = lint(bad)
    assert(v.exists(_.contains("not provably <=1 row")),
      s"multi-row BNLJ build side must fail, got $v")
  }

  test("interval exception: condition-carrying BNLJ passes, a degraded cross product still fails") {
    val events = Seq((1, 10), (2, 25), (3, 40)).toDF("id", "t")
    val bands = Seq((0, 20, "lo"), (20, 50, "hi")).toDF("lo", "hi", "band")
    val ij = events.join(broadcast(bands), $"t" >= $"lo" && $"t" < $"hi")
    assert(lint(ij, interval = true).isEmpty,
      "a conditioned broadcast interval join is the documented exception")
    // the same query shape with its condition dropped is a cross
    // product — named or not, it fails
    val degraded = events.crossJoin(broadcast(bands))
    assert(lint(degraded, interval = true).nonEmpty,
      "an unconditioned multi-row cross product must fail even when named")
    // and WITHOUT the interval flag, even the conditioned join fails —
    // the exception really is scoped to the named queries
    assert(lint(ij, interval = false).nonEmpty)
  }

  test("a bare LocalLimit(1) is NOT a global proof; the semi/anti existence-probe shape still passes") {
    // limit(1) via the API plans GlobalLimit+LocalLimit — proven ≤1 and
    // accepted (covered above). The per-partition nuance: lintPlan must
    // accept Catalyst's EXISTS-probe rewriting (LeftAnti BNLJ over a
    // LocalLimit(1)-capped broadcast — ≤1 row per partition, a config
    // constant total) — the shape the source_filtered query plans
    val df = graft.SparkEntry.queries("source_filtered")(
      spark, "/root/testdata/sf0.001")
    assert(PlanLint.lintPlan(df.queryExecution.executedPlan,
      interval = false).isEmpty,
      "the planted-spam existence probe must lint clean")
    // but an INNER/CROSS nested loop over the same per-partition bound
    // is still a violation: its output multiplies, an anti's cannot
    val data = Seq(1, 2, 3, 4).toDF("a")
    val multi = Seq(9, 8, 7).toDF("b").repartition(3)
    val bad = data.crossJoin(broadcast(multi))
    assert(lint(bad).nonEmpty)
  }

  test("a filter that builds a record fails; the DFL null-drop lints clean") {
    val base = spark.range(10).select($"id".as("v"))
    // the plan null-drops compiled into the record leave: a nullable
    // record, a field update over it, a second drop, then the final
    // `__r IS NOT NULL` — Catalyst pushes that check down, and the
    // update's record construction lands in the filter condition
    val rec = when($"v" > 5, lit(null)).otherwise(struct($"v", ($"v" * 2).as("w")))
    val updated = rec.withField("u", rec.getField("w") + 1)
    val dropped = when(updated.getField("u") > 8, lit(null)).otherwise(updated)
    val bad = base.select(dropped.as("__r")).filter($"__r".isNotNull).select("__r.*")
    val v = lint(bad)
    assert(v.exists(_.contains("builds a record")), s"got $v")
    // the same pipeline in DFL lowers both drops to a keep predicate
    val good = graft.dfl.DflFrame.pipeline(base,
      "((@v > 5) ? null : {v: @v, w: @v * 2}) | (@ + {u: @w + 1}) | ((@u > 8) ? null : @)")
    assert(lint(good).isEmpty, s"got ${lint(good)}")
    assert(good.count() == 4)
  }

  test("cartesian products always fail") {
    val l = Seq(1, 2, 3).toDF("a")
    val r = Seq(4, 5).toDF("b")
    // disable broadcast so the cross join plans as CartesianProduct
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val v = lint(l.crossJoin(r))
      assert(v.contains("cartesian product"), s"got $v")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
