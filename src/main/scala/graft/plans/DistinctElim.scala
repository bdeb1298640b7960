package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Filter, LogicalPlan, Project}

/** Distinct elimination on declared unique keys — the third warehouse
  * optimizer rewrite (SURVEY §2.7a X166, beside the aggregate
  * navigator X153 and PK-FK join elimination X163). Generated queries
  * wrap subselects in DISTINCT defensively; when the distinct column
  * set CONTAINS a declared unique key of the underlying table, the
  * rows are already distinct and the operator is a no-op — but Spark
  * still plans it as a full hash aggregate, i.e. one corpus-wide
  * shuffle on the distinct columns. Dropping it is free exactness.
  *
  * A [[DistinctElim.UniqueKey]] declares the column set unique on a
  * base plan (the PK the q_k/q_fk audit family can verify before
  * anyone declares it). The rewrite matches `Deduplicate` (what
  * `df.distinct()`/`dropDuplicates` analyze to) whose keys cover a
  * declared unique key of the base reached through bare column-pruning
  * Projects and Filters — both preserve uniqueness (fewer rows / same
  * rows), Projects must retain the key columns. The child's attributes
  * pass through `Deduplicate` unchanged, so the parent plan keeps
  * resolving with no exprId surgery.
  *
  * The rewrite runs per plan only ([[DistinctElim.apply]], x146's
  * gate): inside the optimizer it could never fire, because core
  * Spark rewrites `Deduplicate` to an `Aggregate` before any user rule
  * runs.
  */
object DistinctElim {

  /** Declared uniqueness: `base` has at most one row per `cols`. */
  final case class UniqueKey(base: LogicalPlan, cols: Set[String])

  def unique(df: DataFrame, cols: String*): UniqueKey =
    UniqueKey(df.queryExecution.analyzed, cols.toSet)

  /** Drop every no-op Deduplicate in `plan` under `keys`. */
  def rewrite(plan: LogicalPlan, keys: Seq[UniqueKey]): LogicalPlan =
    plan.transformUp {
      case dd @ Deduplicate(dkeys, child) =>
        val names = dkeys.collect { case a: AttributeReference => a.name }.toSet
        if (dkeys.size == names.size && keys.exists(k => reaches(child, k, names))) child
        else dd
    }

  /** `child` bottoms out at `k.base` through uniqueness-preserving
    * operators, the dedup keys cover the unique key, and every column
    * of the key survives each projection. */
  private def reaches(p: LogicalPlan, k: UniqueKey, dedupCols: Set[String]): Boolean = {
    if (!k.cols.subsetOf(dedupCols)) return false
    def walk(q: LogicalPlan): Boolean = q match {
      case b if AggRewrite.sameBase(b, k.base) => true
      case Filter(_, ch) => walk(ch)
      case Project(pl, ch)
          if pl.forall(_.isInstanceOf[AttributeReference]) &&
            k.cols.subsetOf(pl.map(_.name).toSet) => walk(ch)
      case _ => false
    }
    walk(p)
  }

  /** Per-plan entry point (the gate path). */
  def apply(spark: SparkSession, df: DataFrame, keys: Seq[UniqueKey]): DataFrame =
    org.apache.spark.sql.graft.PlanUtil.ofRows(
      spark, rewrite(df.queryExecution.analyzed, keys))
}
