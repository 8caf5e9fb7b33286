package graft.tools

import graft.util.Sessions

/** Physical-plan audit: print `explain("formatted")` for registered
  * queries and flag anti-patterns (cartesian products outside the
  * documented all-pairs baseline, missing broadcast on dim joins).
  *
  * Usage: runMain graft.tools.Plans <sfDir> [query ...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q2_join_agg", "dedup_minhash_pairs", "dedup_survivors",
        "dedup_simhash_pairs", "ann_topk", "ann_lsh_topk", "ann_ivf_topk",
        "filter_eq", "tile_hist")
    val spark = Sessions.create("graft-plans", Sessions.master(4))
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      // materialize THIS dataframe's own QueryExecution (df.count() would
      // plan and run a separate aggregate tree, leaving df's adaptive
      // plan un-finalized — with no stages and no codegen spans to count)
      df.queryExecution.toRdd.count()
      val formatted = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(s"\n======== $n ========")
      println(formatted)
      // the same STRUCTURAL verdict PlanLint enforces (a string match
      // on BroadcastNestedLoopJoin used to flag the proven ≤1-row
      // scalar-stat cross joins as "cartesian" here), interval
      // exemption included so the audit never contradicts the CI lint
      val violations = PlanLint.lintPlan(df.queryExecution.executedPlan,
        interval = PlanLint.intervalJoinQueries(n))
      val broadcast = formatted.contains("BroadcastHashJoin")
      // count codegen spans on the EXECUTED plan tree: under Spark 4 AQE
      // the formatted string no longer carries per-span `codegen id`
      // markers for materialized stages, so the old regex always read 0 —
      // walk through the adaptive wrapper and stage nodes instead
      val codegen = countCodegen(df.queryExecution.executedPlan)
      println(s"[audit] $n: lintViolations=${violations.size}" +
        s"${if (violations.nonEmpty) violations.mkString(" [", "; ", "]") else ""} " +
        s"broadcastHash=$broadcast codegenStages=$codegen")
    }
    spark.stop()
  }

  /** A formatted plan with its `[codegen id : N]` markers renumbered
    * 1, 2, … in order of first appearance. When AQE materializes two
    * query stages concurrently, the codegen ids of their spans follow
    * whichever finishes first, so two runs of one plan can print swapped
    * ids; renumbering makes the printed plan reproducible. Expression
    * ids are left as printed. */
  def normalize(plan: String): String = {
    val ids = scala.collection.mutable.Map.empty[String, Int]
    "\\[codegen id : (\\d+)\\]".r.replaceAllIn(plan, m =>
      s"[codegen id : ${ids.getOrElseUpdate(m.group(1), ids.size + 1)}]")
  }

  private def countCodegen(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution.{WholeStageCodegenExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(node: SparkPlan): Int = node match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case w: WholeStageCodegenExec => 1 + w.children.map(walk).sum
      case other                    => other.children.map(walk).sum
    }
    walk(p)
  }
}

/** `runMain graft.tools.PlanLint <sfDir>` — sweep EVERY registered
  * query's physical plan for scale anti-patterns: any CartesianProduct
  * fails; every BroadcastNestedLoopJoin must PROVE its build side is
  * ≤1 row STRUCTURALLY (a grouping-free final aggregate, a limit ≤1,
  * or a ≤1-row local relation — the scalar-stat cross-join shape that
  * is nested-loop BY DESIGN). The only named exception is the broadcast
  * interval-join family, whose dim-sized build side can't be proven
  * small from plan structure — and even those must carry a join
  * CONDITION (a named query degrading to a pure cross product still
  * fails). A Filter whose condition builds a record fails as well (a
  * null-drop pushed down over the record it drops). Plans only —
  * nothing executes except the eager index builds
  * some ANN query constructors run. Exit 1 on any violation: the
  * CI-able guard that a new query can't quietly reintroduce an
  * all-pairs plan. */
object PlanLint {
  import org.apache.spark.sql.execution.SparkPlan

  // Broadcast interval joins: BNLJ over a DIM-SIZED broadcast side with
  // a range condition — correct by design, but not structurally ≤1 row,
  // so these two stay named. The condition requirement below still
  // applies to them.
  private[tools] val intervalJoinQueries = Set(
    "range_join_bands", "pipeline_event_features")

  /** Can this physical subtree be PROVEN to produce at most one row?
    * Conservative: anything unrecognized is "no". Pass-through nodes
    * (project/filter/sort/exchange/codegen wrappers) can't grow a row
    * count, so they recurse; the proofs are a grouping-free FINAL/
    * COMPLETE aggregate (exactly one row globally), a limit ≤1, a ≤1-row
    * LocalTableScan, or a ≤1-element Range. */
  private[tools] def atMostOneRow(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Complete}
    p match {
      case a: AdaptiveSparkPlanExec => atMostOneRow(a.executedPlan)
      case q: QueryStageExec        => atMostOneRow(q.plan)
      case e: Exchange              => atMostOneRow(e.child)
      case r: ReusedExchangeExec    => atMostOneRow(r.child)
      case w: WholeStageCodegenExec => atMostOneRow(w.child)
      case i: InputAdapter          => atMostOneRow(i.child)
      case agg: BaseAggregateExec =>
        agg.groupingExpressions.isEmpty &&
          agg.aggregateExpressions.forall(e =>
            e.mode == Final || e.mode == Complete)
      // LocalLimit bounds each PARTITION, not the global row count — a
      // LocalLimit(1) over a multi-partition scan emits one row PER
      // PARTITION, so it proves nothing on its own (only the
      // single-partition child cases below, or a GlobalLimit, do)
      case l: LocalLimitExec  =>
        (l.limit <= 1 && singlePartition(l.child)) || atMostOneRow(l.child)
      case g: GlobalLimitExec => g.limit <= 1 || atMostOneRow(g.child)
      case t: LocalTableScanExec => t.rows.lengthCompare(1) <= 0
      case r: RangeExec => r.numElements <= BigInt(1)
      case pr: ProjectExec => atMostOneRow(pr.child)
      case f: FilterExec   => atMostOneRow(f.child)
      case s: SortExec     => atMostOneRow(s.child)
      case c: CoalesceExec => atMostOneRow(c.child)
      case a: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
        atMostOneRow(a.child)
      // an INNER/CROSS join of two ≤1-row sides is itself ≤1 row — the
      // nested scalar-stat shape (stat ⨯ stat) the DSIR family plans
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
             j.joinType == org.apache.spark.sql.catalyst.plans.Cross =>
        atMostOneRow(j.left) && atMostOneRow(j.right)
      case _ => false
    }
  }

  /** Is this subtree PROVABLY single-partition? Used to upgrade a
    * LocalLimit(1) to a global ≤1-row proof. Conservative: only shapes
    * whose partition count is structurally fixed at one. */
  private def singlePartition(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    p match {
      case t: LocalTableScanExec => true
      case c: CoalesceExec => c.numPartitions <= 1
      case pr: ProjectExec => singlePartition(pr.child)
      case f: FilterExec   => singlePartition(f.child)
      case w: WholeStageCodegenExec => singlePartition(w.child)
      case i: InputAdapter => singlePartition(i.child)
      case _ => false
    }
  }

  /** ≤1 row PER PARTITION — the bound a bare LocalLimit(1) gives. Not a
    * global proof (numPartitions rows total), but numPartitions is a
    * CONFIG constant, not a function of data size, so a semi/anti
    * existence probe built on it can never become an all-pairs plan. */
  private def atMostOnePerPartition(
      p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    p match {
      case a: AdaptiveSparkPlanExec => atMostOnePerPartition(a.executedPlan)
      case q: QueryStageExec        => atMostOnePerPartition(q.plan)
      case e: Exchange              => atMostOnePerPartition(e.child)
      case r: ReusedExchangeExec    => atMostOnePerPartition(r.child)
      case w: WholeStageCodegenExec => atMostOnePerPartition(w.child)
      case i: InputAdapter          => atMostOnePerPartition(i.child)
      case l: LocalLimitExec        => l.limit <= 1
      case _ => false
    }
  }

  /** Lint ONE query's physical plan. Returns violation strings (empty =
    * clean). `interval = true` marks the named broadcast interval-join
    * queries: their BNLJs may carry a dim-sized build side but MUST
    * have a join condition. A Filter whose condition builds a record
    * (`CreateNamedStruct`) fails too: it is the plan a row null-drop
    * leaves when Catalyst pushes it down over the record it drops. */
  private[tools] def lintPlan(plan: SparkPlan,
                              interval: Boolean): Seq[String] = {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.catalyst.expressions.CreateNamedStruct
    val out = scala.collection.mutable.ListBuffer.empty[String]
    def walk(node: SparkPlan): Unit = {
      node match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec        => walk(q.plan); return
        case _: CartesianProductExec  => out += "cartesian product"
        case j: BroadcastNestedLoopJoinExec =>
          val build = j.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => j.left
            case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
          }
          // Catalyst's EXISTS-probe shape: a semi/anti BNLJ whose build
          // side is LocalLimit(1)-capped (≤1 row per partition — a
          // config-constant total, data-independent). Output ≤ probe
          // rows by the join type; not an all-pairs risk.
          import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi, ExistenceJoin}
          val existenceProbe = (j.joinType == LeftAnti ||
            j.joinType == LeftSemi ||
            j.joinType.isInstanceOf[ExistenceJoin]) &&
            atMostOnePerPartition(build)
          if (interval) {
            if (j.condition.isEmpty && !atMostOneRow(build))
              out += "interval-join BNLJ degraded to an unconditioned " +
                "cross product over a multi-row build side"
          } else if (!atMostOneRow(build) && !existenceProbe)
            out += "BNLJ build side not provably <=1 row " +
              s"(${build.getClass.getSimpleName})"
        case f: FilterExec if f.condition.exists(_.isInstanceOf[CreateNamedStruct]) =>
          out += "filter condition builds a record (CreateNamedStruct)"
        case _ =>
      }
      node.children.foreach(walk)
    }
    walk(plan)
    out.toList.distinct
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.create("graft-planlint", Sessions.master(4))
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, dir).queryExecution.executedPlan
        val violations = lintPlan(plan, intervalJoinQueries(name))
        if (violations.nonEmpty) {
          bad += 1
          println(s"[planlint] FAIL $name: ${violations.mkString("; ")}")
        }
      } catch { case e: Throwable =>
        bad += 1
        println(s"[planlint] ERROR $name: ${e.getMessage}")
      }
    }
    println(s"[planlint] ${if (bad == 0) "CLEAN" else s"$bad violations"} " +
      s"over ${graft.SparkEntry.queries.size} queries")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
