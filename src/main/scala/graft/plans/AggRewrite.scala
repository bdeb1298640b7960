package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{DataType, DecimalType}

/** Aggregate navigator — materialized-rollup auto-rewrite
  * (SURVEY §2.7a X153; the warehouse pattern behind `DB.sql:109-124`'s
  * hand-maintained summary layer: the reference POPULATES rollups but
  * every reader must know to query them; here the optimizer routes
  * matching aggregates automatically, the classic OLAP "aggregate
  * navigator" / materialized-view rewrite).
  *
  * A registered [[AggRewrite.Summary]] declares a rollup table over a
  * base plan: grouping columns, exact-decimal partial sums
  * (`SUM(CAST(m AS DECIMAL(18,2)))`), partial MIN/MAX, and a row
  * count. The rule rewrites
  *
  *   `Aggregate(G', aggs, base)`        with G' ⊆ G, and
  *   `Aggregate(G', aggs, Filter(p, base))`  with p over G only
  *
  * to the same aggregate over the summary — SUM(m)→SUM(sum_m),
  * COUNT(*)→SUM(cnt), MIN(m)→MIN(min_m), MAX(m)→MAX(max_m) — turning
  * a full fact scan into a grouping-cardinality-sized scan. At 100 TB
  * that is the difference between reading the fact table and reading
  * kilobytes: the summary has |G| rows regardless of corpus size, and
  * every coarser rollup (any G' ⊆ G, any dimension predicate) rides it.
  *
  * Eligibility is deliberately narrow where correctness demands it:
  * a plain `SUM(double)` is NOT rewritable — double addition is not
  * associative, so re-aggregating partials would change results
  * per-partitioning (the Det.dsum rationale). Only the exact-decimal
  * sum convention qualifies, which is also the only form that is
  * reproducible on a 1000-executor cluster in the first place.
  *
  * Wire-up: per-plan via [[AggRewrite.apply]], or inside the optimizer
  * as the rule value [[AggRewrite.rule]], which carries its summaries
  * and is installed on a `graft.Sessions.withRules` clone.
  */
object AggRewrite {

  /** A materialized rollup: `summary` must hold one row per `groupCols`
    * combination over `base`, with `sums(m)` = SUM(CAST(m AS
    * DECIMAL(18,2))), `mins/maxs(m)` = MIN/MAX(m), `cnt` = COUNT(*). */
  final case class Summary(
      base: LogicalPlan,
      summary: LogicalPlan,
      groupCols: Set[String],
      sums: Map[String, String],
      mins: Map[String, String],
      maxs: Map[String, String],
      cnt: String)

  /** Build the rollup frame the contract expects: exact-decimal partial
    * sums, partial min/max, and a count, named `sum_/min_/max_<col>` and
    * `cnt`. The caller materializes it (cache, localCheckpoint, parquet)
    * and then derives the [[Summary]] with [[summaryFor]] so the rewrite
    * targets the MATERIALIZED plan, not the recomputation. */
  def summarize(base: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
                minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    val aggs =
      sumCols.map(m => sum(col(m).cast(DecimalType(18, 2))).as(s"sum_$m")) ++
      minCols.map(m => min(col(m)).as(s"min_$m")) ++
      maxCols.map(m => max(col(m)).as(s"max_$m")) :+
      count(lit(1)).as("cnt")
    base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Registration record for a (possibly materialized) rollup built by
    * [[summarize]] over `base`. */
  def summaryFor(base: DataFrame, mv: DataFrame, groupCols: Seq[String],
                 sumCols: Seq[String], minCols: Seq[String] = Nil,
                 maxCols: Seq[String] = Nil): Summary =
    Summary(
      base = base.queryExecution.analyzed,
      summary = mv.queryExecution.analyzed,
      groupCols = groupCols.toSet,
      sums = sumCols.map(m => m -> s"sum_$m").toMap,
      mins = minCols.map(m => m -> s"min_$m").toMap,
      maxs = maxCols.map(m => m -> s"max_$m").toMap,
      cnt = "cnt")

  /** [[rewrite]] against `summaries` as an optimizer rule. */
  def rule(summaries: Seq[Summary]): Rule[LogicalPlan] = new Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan, summaries)
  }

  /** Rewrite every eligible Aggregate in `plan` against `summaries`.
    * The child may be the base directly or the base under any stack of
    * column-pruning Projects (bare attributes only — a computed alias
    * is a derived column the summary doesn't carry) and Filters; the
    * Filters' conjunction is checked against the grouping grain in
    * [[tryRewrite]]. Catalyst routinely leaves such stacks between the
    * user's groupBy and the scan (`df.select(...).filter(...)`), so
    * matching only the naked base would miss most real plans. */
  def rewrite(plan: LogicalPlan, summaries: Seq[Summary]): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(_, _, child, _) =>
        val candidates = summaries.iterator.flatMap { s =>
          unwrap(child, s, Nil).flatMap { conds =>
            tryRewrite(agg, s, conds.reduceOption(And))
          }
        }
        if (candidates.hasNext) candidates.next() else agg
    }

  /** Peel bare-attribute Projects and Filters off `p` down to `s.base`,
    * accumulating the filter predicates; None when anything else
    * intervenes. */
  private def unwrap(p: LogicalPlan, s: Summary,
                     conds: Seq[Expression]): Option[Seq[Expression]] = p match {
    case c if sameBase(c, s.base) => Some(conds)
    case Filter(cond, ch) => unwrap(ch, s, conds :+ cond)
    case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(ch, s, conds)
    case _ => None
  }

  /** Apply against `summaries` and return the rewritten DataFrame: the
    * per-plan entry point, the same transform [[rule]] runs inside the
    * optimizer. */
  def apply(spark: SparkSession, df: DataFrame, summaries: Seq[Summary]): DataFrame = {
    val rewritten = rewrite(df.queryExecution.analyzed, summaries)
    org.apache.spark.sql.graft.PlanUtil.ofRows(spark, rewritten)
  }

  /** Plan identity for the base: canonical sameResult, with a
    * file-path fallback (two separate `read.parquet(path)` calls build
    * distinct FileIndex instances whose canonical forms may differ by
    * reference; the root paths are the identity that matters). */
  private[plans] def sameBase(a: LogicalPlan, b: LogicalPlan): Boolean =
    a.sameResult(b) || ((paths(a), paths(b)) match {
      case (Some(pa), Some(pb)) => pa == pb && a.schema == b.schema
      case _ => false
    })

  private def paths(p: LogicalPlan): Option[Set[String]] = p match {
    case l: LogicalRelation =>
      l.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          Some(fs.location.rootPaths.map(_.toString).toSet)
        case _ => None
      }
    case _ => None
  }

  /** Attempt the rewrite of one Aggregate; None when any grouping
    * expression, aggregate call, or filter predicate falls outside the
    * summary's contract. */
  private def tryRewrite(agg: Aggregate, s: Summary,
                         filterCond: Option[Expression]): Option[LogicalPlan] = {
    val out: Map[String, Attribute] =
      s.summary.output.map(a => a.name -> a).toMap

    // grouping: bare base attributes, all within the summary's grain
    val groupsOk = agg.groupingExpressions.forall {
      case a: AttributeReference => s.groupCols.contains(a.name)
      case _ => false
    }
    // filter: references only grouping columns (safe to evaluate on
    // the rollup — each summary row has a single value for them)
    val filterOk = filterCond.forall(_.references.forall(a => s.groupCols.contains(a.name)))
    if (!groupsOk || !filterOk) return None

    def remapAttr(e: Expression): Expression = e.transform {
      case a: AttributeReference if out.contains(a.name) => out(a.name)
    }

    // one aggregate call → its summary re-aggregation, or None
    def remapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        case su: Sum => stripToDecimalCastAttr(su.child).flatMap { m =>
          s.sums.get(m).map(pc => reagg(ae, Sum(out(pc))))
        }
        case mn: Min => attrName(mn.child).flatMap(m =>
          s.mins.get(m).map(pc => reagg(ae, Min(out(pc)))))
        case mx: Max => attrName(mx.child).flatMap(m =>
          s.maxs.get(m).map(pc => reagg(ae, Max(out(pc)))))
        case c: Count if c.children.forall(_.foldable) =>
          Some(reagg(ae, Sum(out(s.cnt))))
        case _ => None
      }
    }

    def reagg(orig: AggregateExpression, fn: AggregateFunction): Expression = {
      val e: Expression = AggregateExpression(fn, orig.mode, isDistinct = false, None)
      // keep the original result type (sum-of-partial-decimals widens
      // precision; count-as-sum widens to nullable long) so parents
      // above the Aggregate keep resolving
      if (e.dataType == orig.dataType) e else Cast(e, orig.dataType)
    }

    val rewrittenAggs: Option[Seq[NamedExpression]] =
      traverseOpt(agg.aggregateExpressions) {
        // top-level grouping passthrough: re-alias the summary's
        // attribute under the ORIGINAL exprId so operators above the
        // Aggregate keep resolving (the rule may fire mid-plan)
        case a: AttributeReference if s.groupCols.contains(a.name) =>
          Some(Alias(out(a.name), a.name)(exprId = a.exprId))
        case ne =>
          var failed = false
          // transformUp: children first, and the REPLACEMENT of an
          // aggregate call is never revisited (transformDown would
          // recurse into the rewritten Sum(sum_m) and fail it)
          val r = ne.transformUp {
            case ae: AggregateExpression =>
              remapAgg(ae) match {
                case Some(x) => x
                case None => failed = true; ae
              }
            case a: AttributeReference if s.groupCols.contains(a.name) => out(a.name)
          }
          if (failed) None
          else r match {
            // same exprId-preservation for aliased aggregates
            case al: Alias => Some(Alias(al.child, al.name)(exprId = al.exprId))
            case other => Some(Alias(other, ne.name)(exprId = ne.exprId))
          }
      }

    rewrittenAggs.map { aes =>
      val newChild = filterCond match {
        case Some(c) => Filter(remapAttr(c), s.summary)
        case None => s.summary
      }
      Aggregate(agg.groupingExpressions.map(remapAttr), aes, newChild)
    }
  }

  /** SUM eligibility: only the exact-decimal-cast convention (or a
    * natively exact integer/decimal column) — see the scaladoc. */
  private def stripToDecimalCastAttr(e: Expression): Option[String] = e match {
    case c: Cast => c.dataType match {
      case _: DecimalType => attrName(c.child)
      case _ => None
    }
    case a: AttributeReference => a.dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType |
           (_: DecimalType) => Some(a.name)
      case _ => None // raw double sum: not associatively re-aggregatable
    }
    case _ => None
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def traverseOpt[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val b = Seq.newBuilder[B]
    for (x <- xs) f(x) match {
      case Some(v) => b += v
      case None => return None
    }
    Some(b.result())
  }
}
