package graft.plans

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}

/** Analysis-time lint for the reference's O-3 bug class
  * (`/root/reference/spark_etl.py:141-144`, SURVEY §4/§8.4): filtering on
  * a *freshly generated nondeterministic* column — e.g.
  * `monotonically_increasing_id()` aliased and then compared against a
  * watermark. Such a predicate is not a valid incremental condition
  * (ids restart every run), silently returns different rows per retry,
  * and can never push down to the source scan.
  *
  * The check flags only the alias-then-filter shape; a nondeterministic
  * expression used *directly* in a predicate (`WHERE rand() < 0.1`
  * sampling) stays legal.
  *
  * Wire-up: `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object NondeterministicFilterLint {

  /** Throws AnalysisException when a Filter's condition references an
    * attribute whose defining Alias is nondeterministic. */
  def check(plan: LogicalPlan): Unit = plan.foreach {
    case f: Filter =>
      val nondetDefs = f.child.collect {
        case p: Project => p.projectList.collect {
          case a: Alias if !a.child.deterministic => a.toAttribute
        }
      }.flatten
      val bad = AttributeSet(nondetDefs).intersect(f.condition.references)
      if (bad.nonEmpty) {
        throw new AnalysisException(
          errorClass = "_LEGACY_ERROR_TEMP_3100",
          messageParameters = Map("message" ->
            (s"Filter condition references nondeterministic column(s) " +
             s"${bad.map(_.name).mkString(", ")} — not a stable incremental " +
             "predicate and not pushable to the source (graft lint, SURVEY §4 O-3). " +
             "Filter on a real source column instead.")))
      }
    case _ => ()
  }
}

/** Session extension registrar: the O-3 lint as an analysis check. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectCheckRule(_ => NondeterministicFilterLint.check)
}
