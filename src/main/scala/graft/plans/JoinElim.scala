package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** PK-FK join elimination — the second classic warehouse optimizer
  * rewrite beside the aggregate navigator ([[AggRewrite]], SURVEY
  * §2.7a X163). BI tools generate star queries that join every
  * dimension in the model whether or not the report uses it; a
  * warehouse optimizer drops the joins that cannot change the result.
  * The reference's star schema (`DB.sql:85-124`) implies exactly these
  * constraints; here they are DECLARED per dimension and exploited.
  *
  * A registered [[JoinElim.KeyConstraint]] states, for a dim plan and
  * its PK column:
  *   - the dim is UNIQUE on its PK (each fact row matches ≤ 1 dim row
  *     — the join never duplicates), and
  *   - optionally referential integrity: every non-null fact FK has a
  *     dim row (the join never drops) — the property the q_fk_orphan
  *     audit family measures before anyone would dare declare it.
  *
  * Elimination fires when the operator ABOVE a fact⋈dim equi-join
  * (the pruning Project, or the Aggregate itself in the un-pruned
  * analyzed plan) references no dim column:
  *   - LEFT OUTER fact⋈dim: uniqueness alone suffices (row count is
  *     preserved whether or not a dim row matches);
  *   - INNER fact⋈dim: uniqueness + declared referential integrity;
  *     a nullable FK keeps the join's null-dropping semantics via a
  *     substituted `Filter(fk IS NOT NULL)` (free when the column is
  *     already non-nullable).
  *
  * At 100 TB this removes whole dimension shuffles / broadcast builds
  * from generated queries — the dim read, however small, still costs
  * a build + probe per batch on every executor, and fact⋈fact edges
  * mistaken for dims cost a full shuffle.
  *
  * Wire-up: per-plan via [[JoinElim.apply]], or inside the optimizer as
  * the rule value [[JoinElim.rule]], which carries its constraints and
  * is installed on a `graft.Sessions.withRules` clone.
  */
object JoinElim {

  /** Declared star-schema integrity for one dimension: unique on `pk`;
    * if `referential`, every non-null FK joined against it matches. */
  final case class KeyConstraint(
      dim: LogicalPlan,
      pk: String,
      referential: Boolean)

  def constraint(dim: DataFrame, pk: String, referential: Boolean = true): KeyConstraint =
    KeyConstraint(dim.queryExecution.analyzed, pk, referential)

  /** [[rewrite]] under `constraints` as an optimizer rule. */
  def rule(constraints: Seq[KeyConstraint]): Rule[LogicalPlan] = new Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan, constraints)
  }

  /** Rewrite every eliminable fact⋈dim in `plan`. Matches both the
    * column-pruned shape (Project over Join) and the analyzed-plan
    * shape (Aggregate directly over Join). */
  def rewrite(plan: LogicalPlan, constraints: Seq[KeyConstraint]): LogicalPlan =
    plan.transformUp {
      case p @ Project(pl, j: Join) =>
        elim(j, pl.map(_.references).foldLeft(AttributeSet.empty)(_ ++ _), constraints)
          .map(Project(pl, _)).getOrElse(p)
      case a @ Aggregate(g, aggs, j: Join, _) =>
        val used = (g ++ aggs).map(_.references).foldLeft(AttributeSet.empty)(_ ++ _)
        elim(j, used, constraints)
          .map(Aggregate(g, aggs, _)).getOrElse(a)
    }

  /** The fact side with the dim join dropped, or None when any
    * condition fails. The dim must be the RIGHT side (the star-query
    * convention); `used` must avoid it entirely. */
  private def elim(j: Join, used: AttributeSet,
                   constraints: Seq[KeyConstraint]): Option[LogicalPlan] = {
    if (!used.subsetOf(j.left.outputSet)) return None
    val fkOpt = j.condition match {
      case Some(EqualTo(a: AttributeReference, b: AttributeReference)) =>
        if (j.left.outputSet.contains(a)) Some((a, b))
        else if (j.left.outputSet.contains(b)) Some((b, a))
        else None
      case _ => None
    }
    fkOpt.flatMap { case (fk, pk) =>
      val okDim = constraints.exists(c =>
        dimMatches(j.right, c) && pkOf(j.right, c).exists(_.exprId == pk.exprId) &&
          (j.joinType match {
            case LeftOuter => true
            case Inner => c.referential
            case _ => false
          }))
      if (!okDim) None
      else j.joinType match {
        case LeftOuter => Some(j.left)
        case Inner =>
          // RI covers non-null FKs; null FKs never joined, so keep the drop
          Some(if (fk.nullable) Filter(IsNotNull(fk), j.left) else j.left)
        case _ => None
      }
    }
  }

  /** The right side may be the dim itself or the dim under bare
    * column-pruning Projects and/or the `IsNotNull(pk)` filter the
    * optimizer infers on equi-join keys (InferFiltersFromConstraints
    * runs before the user-rule batch, so by the time this rule sees
    * the plan the dim is always wrapped). Accepting that filter is
    * sound for elimination: a null PK can never equi-match a fact FK,
    * so dim-with-isnotnull(pk) joins identically to the raw dim. Any
    * OTHER filter narrows the dim and must block elimination. */
  private def dimMatches(p: LogicalPlan, c: KeyConstraint): Boolean = p match {
    case d if AggRewrite.sameBase(d, c.dim) => true
    case Project(pl, d) if pl.forall(_.isInstanceOf[AttributeReference]) => dimMatches(d, c)
    case Filter(IsNotNull(a: AttributeReference), d) if a.name == c.pk => dimMatches(d, c)
    case _ => false
  }

  private def pkOf(p: LogicalPlan, c: KeyConstraint): Option[AttributeReference] =
    p.output.collectFirst { case a: AttributeReference if a.name == c.pk => a }

  /** Per-plan entry point (the gate path): rewrite `df` and return it. */
  def apply(spark: SparkSession, df: DataFrame, constraints: Seq[KeyConstraint]): DataFrame =
    org.apache.spark.sql.graft.PlanUtil.ofRows(
      spark, rewrite(df.queryExecution.analyzed, constraints))
}
