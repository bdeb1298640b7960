package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality validation — the intended semantics of
  * `/root/reference/quality_checks.py` (null profiling `:14-20`,
  * volume/uniqueness `:22-33`), fixed per SURVEY §8.8-8.9 (three separate
  * uniqueness metrics, no pandas `.show()`), and extended with the
  * FK-orphan anti-join checks SURVEY §5.5 calls for.
  *
  * All profiles are single-pass aggregations: one job computes every
  * column's null count (the reference ran `describe()` on an
  * indicator-column copy of the whole table — a full extra materialization).
  */
object QualityChecks {

  /** Per-column null profile, long format: (column_name, n_null, n_total,
    * null_rate). One aggregation pass regardless of column count. */
  def nullProfile(df: DataFrame): DataFrame = {
    val nullAggs: Seq[Column] = df.columns.toSeq.map(c =>
      sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"__n_$c"))
    val one = df.agg(count(lit(1)).as("__total"), nullAggs: _*)
    val entries = df.columns.toSeq.map(c => struct(
      lit(c).as("column_name"),
      col(s"__n_$c").as("n_null"),
      col("__total").as("n_total"),
      (col(s"__n_$c") / col("__total")).as("null_rate")))
    one.select(explode(array(entries: _*)).as("m")).select("m.*")
      .orderBy("column_name")
  }

  /** Volume + uniqueness metrics (`quality_checks.py:22-33` intent):
    * total rows and exact distinct count per key column, one row. */
  def volumeMetrics(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val aggs = keyCols.map(c => countDistinct(col(c)).as(s"distinct_$c"))
    df.agg(count(lit(1)).as("total_rows"), aggs: _*)
  }

  /** Rows of `fact` whose `factKey` has no match in `dim` (left-anti). */
  def fkOrphans(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String): DataFrame =
    fact.join(dim, fact(factKey) === dim(dimKey), "left_anti")

  /** One-row orphan-count summary across a set of FK edges.
    * Each count is a distributed anti-join; the single-row results are
    * cross-joined (driver never sees per-row data).
    *
    * When several edges share ONE fact table, use [[orphanSummaryOnePass]]
    * instead — this form rescans the fact once per edge, which at 100 TB
    * multiplies the dominant cost (the fact scan) by the edge count. */
  def orphanSummary(edges: Seq[(String, DataFrame, DataFrame, String, String)]): DataFrame =
    edges.map { case (name, fact, dim, fk, pk) =>
      fkOrphans(fact, dim, fk, pk).agg(count(lit(1)).as(name))
    }.reduce(_ crossJoin _)

  /** Orphan counts for MULTIPLE FK edges of the SAME fact table in a SINGLE
    * fact scan: each dim contributes only its distinct key column (8-16 B per
    * key — the boundedness argument for the broadcast), left-joined onto the
    * fact, and every edge's orphan count is `sum(when(key is null))` inside
    * ONE aggregate. Anti-join null semantics are preserved: a NULL fk never
    * matches, so it counts as an orphan in both forms.
    *
    * `factMetrics` are further aggregates over the fact's own columns
    * that ride the same scan, ahead of the orphan counts in the result
    * (the left joins keep exactly one row per fact row). This is the
    * shape of `PipelineRunner`'s QC gate: loaded count, distinct fact
    * ids, null keys and both FK orphan counts in one aggregate.
    *
    * For a fact-sized "dim" (a fact-fact FK edge whose key set cannot
    * broadcast) keep that edge on the anti-join path ([[orphanSummary]]) —
    * Catalyst turns it into one SMJ instead of an unbounded broadcast. */
  def orphanSummaryOnePass(fact: DataFrame, edges: Seq[(String, DataFrame, String, String)],
                           factMetrics: Seq[Column] = Nil): DataFrame = {
    val joined = edges.foldLeft(fact) { case (acc, (name, dim, fk, _pk)) =>
      acc.join(broadcast(dim.select(col(_pk).as(s"__pk_$name")).distinct()),
        col(fk) === col(s"__pk_$name"), "left")
    }
    val aggs = edges.map { case (name, _, _, _) =>
      coalesce(sum(when(col(s"__pk_$name").isNull, 1).otherwise(0)), lit(0)).cast("long").as(name)
    }
    val all = factMetrics ++ aggs
    joined.agg(all.head, all.tail: _*)
  }
}
