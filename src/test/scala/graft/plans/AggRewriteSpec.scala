package graft.plans

import graft.SparkSpecBase
import graft.Tables
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Pins the aggregate navigator's contract (X153):
  *   1. an eligible coarser rollup routes onto the summary — the
  *      routed physical plan reads NO fact files at all;
  *   2. routed values ≡ direct values (the gate's hash proves this at
  *      sf0.01/sf0.1; here at sf0.001 in-process);
  *   3. a raw double SUM is NOT eligible (re-aggregating double
  *      partials is order-dependent — the Det.dsum rationale);
  *   4. a predicate on a non-grouping column blocks the rewrite;
  *   5. the rule value, alone and inside a `Sessions.withRules`
  *      clone's optimizer, fires the same transform.
  */
class AggRewriteSpec extends SparkSpecBase {

  private def setup() = {
    val li = Tables.lineitem(spark, sfDir)
    val g = Seq("l_returnflag", "l_linestatus")
    val sums = Seq("l_quantity", "l_extendedprice")
    val mv = AggRewrite.summarize(li, g, sums,
        minCols = Seq("l_shipdate"), maxCols = Seq("l_shipdate"))
      .localCheckpoint(eager = true)
    (li, AggRewrite.summaryFor(li, mv, g, sums,
      minCols = Seq("l_shipdate"), maxCols = Seq("l_shipdate")))
  }

  test("eligible rollup routes onto the summary and matches the direct answer") {
    val (li, summary) = setup()
    val direct = li.filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
           min(col("l_shipdate")).as("mn"),
           max(col("l_shipdate")).as("mx"),
           count(lit(1)).as("n"))
    val routed = AggRewrite(spark, direct, Seq(summary))

    // the summary is checkpointed, so a routed plan has NO file
    // relations left — logical and physical both pinned
    assert(routed.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty, "rewrite did not fire")
    val factScans = routed.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(factScans.isEmpty,
      s"routed plan still scans files: ${factScans.map(_.nodeName).mkString(",")}")
    // negative control (non-vacuity): the UN-routed plan shows its fact
    // scan to the same matcher on the same layer — isEmpty above can
    // only mean the rewrite genuinely removed it
    assert(direct.queryExecution.sparkPlan
        .collect { case f: FileSourceScanExec => f }.nonEmpty,
      "matcher must see the fact scan on the un-routed plan")

    val got = routed.orderBy("l_returnflag").collect().map(_.toString)
    val want = direct.orderBy("l_returnflag").collect().map(_.toString)
    assert(got.toSeq == want.toSeq)
  }

  test("raw double SUM is not eligible; non-grouping predicate blocks the rewrite") {
    val (li, summary) = setup()
    val doubleSum = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).as("sq")) // no exact-decimal cast
    assert(AggRewrite(spark, doubleSum, Seq(summary)).queryExecution.analyzed
      .collect { case a: Aggregate => a }.size == 1,
      "order-dependent double sum must not route onto partials")

    val measureFilter = li.filter(col("l_quantity") > 10)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
    assert(AggRewrite(spark, measureFilter, Seq(summary)).queryExecution.analyzed
      .collect { case a: Aggregate => a }.size == 1,
      "a predicate on a non-grouping column must block the rewrite")
  }

  test("column-pruning Projects between the groupBy and the base don't block routing") {
    val (li, summary) = setup()
    val direct = li
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_shipdate")
      .filter(col("l_linestatus") === "F")
      .select("l_returnflag", "l_quantity")
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
    val routed = AggRewrite(spark, direct, Seq(summary))
    assert(routed.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.isEmpty, "bare-attribute Projects must not block the rewrite")
    assert(routed.orderBy("l_returnflag").collect().map(_.toString).toSeq ==
      direct.orderBy("l_returnflag").collect().map(_.toString).toSeq)

    val computed = li
      .withColumn("qty2", col("l_quantity") * 2) // derived column: not on the summary
      .groupBy("l_returnflag")
      .agg(sum(col("qty2").cast("decimal(18,2)")).as("sq"))
    assert(AggRewrite(spark, computed, Seq(summary)).queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      }.nonEmpty, "a computed Project must block the rewrite")
  }

  test("rule value applies the same transform, alone and on a withRules clone") {
    val (li, summary) = setup()
    val direct = li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("sp"))
    def relations(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = p.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    val routed = AggRewrite.rule(Seq(summary))(direct.queryExecution.analyzed)
    assert(relations(routed).isEmpty, "rule value did not route")
    val c = graft.Sessions.withRules(spark, AggRewrite.rule(Seq(summary)))
    val onClone = org.apache.spark.sql.graft.PlanUtil.ofRows(c, direct.queryExecution.logical)
    assert(relations(onClone.queryExecution.optimizedPlan).isEmpty,
      "the clone's optimizer did not route")
    assert(relations(direct.queryExecution.optimizedPlan).nonEmpty,
      "the caller's own optimizer must not see the clone's rule")
  }
}
