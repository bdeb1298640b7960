package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-safe global row_number over a numeric order key.
  *
  * `Window.orderBy` with no partitionBy moves EVERY row to one partition
  * (WindowExec requires AllTuples) — the single-task funnel this repo's
  * scale contract bans (see WindowScaleSafetySpec). The two-phase form
  * here is the x27 prefix-sum shape applied to ranking:
  *
  *   1. one aggregate collects the key's (min, max) to the driver;
  *   2. rows bucket by linear interpolation into `nBuckets` MONOTONIC
  *      ranges — a pure integer projection `((k−mn)·B) div (mx−mn+1)`,
  *      deterministic on any engine (unlike `repartitionByRange`, whose
  *      RangePartitioner samples its boundaries); NULL keys take bucket
  *      −1 and rank first, as the window's default NULLS FIRST does;
  *   3. a second aggregate collects the ≤ B+1 bucket counts, and the
  *      driver prefix-sums them into each bucket's global offset;
  *   4. a bucket-partitioned local row_number + the offset (a literal
  *      array indexed by bucket) is the global rank — identical values
  *      to the global window (spec-checked), one narrow shuffle on the
  *      bucket key, no AllTuples and no join anywhere.
  *
  * The two collects run when the DataFrame is built, so `df` is read
  * three times: cache it if it is expensive. Bucket balance follows key
  * density: dense keys (surrogate/TPC-H ids) spread uniformly; a
  * pathological distribution concentrates buckets but never exceeds the
  * one-partition cost the global window ALWAYS pays. Ties on the order
  * key get an arbitrary-but-deterministic order only if the key is
  * unique — pass a unique key (the surrogate-key use case always has
  * one).
  */
object ScalableRank {

  /** Append `outCol` = 1-based global row number by `orderCol` asc. */
  def globalRowNumber(df: DataFrame, orderCol: String,
                      outCol: String = "row_num", nBuckets: Int = 256): DataFrame = {
    val key = s"CAST($orderCol AS DECIMAL(38,0))"
    val mm = df.select(expr(s"min($key)"), expr(s"max($key)")).first()
    // DECIMAL-widened interpolation: a full-range long key times
    // nBuckets overflows BIGINT (found by X242's 1e10-span composite
    // sort key); same integer values, wider carrier
    val bucket = if (mm.isNullAt(0)) lit(-1L) else {
      val (mn, mx) = (mm.getDecimal(0), mm.getDecimal(1))
      val span = mx.subtract(mn).add(java.math.BigDecimal.ONE)
      when(col(orderCol).isNull, lit(-1L)).otherwise(expr(
        s"(($key - (${mn.toPlainString}BD)) * $nBuckets) div (${span.toPlainString}BD)"))
    }
    val counts = df.groupBy(bucket.as("__bucket")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // offsets(b + 1) = rows in every bucket before b (nulls are bucket −1)
    val offsets = (-1 until nBuckets).scanLeft(0L)(_ + counts.getOrElse(_, 0L))
    val wLocal = Window.partitionBy("__bucket").orderBy(orderCol)
    df.withColumn("__bucket", bucket)
      .withColumn(outCol,
        (row_number().over(wLocal) + lit(offsets.toArray)(col("__bucket") + 1)).cast("long"))
      .drop("__bucket")
  }

  /** Append `outCol` = 1-based PER-GROUP row number by `orderCol` asc
    * within each `groupCols` group — the bounded form of
    * `row_number().over(Window.partitionBy(groupCols).orderBy(orderCol))`.
    *
    * The plain grouped window puts an ENTIRE group in one task; when
    * group sizes follow the data (e.g. (lang, length-bucket) blocks of
    * a web corpus), one hot group is a straggler that sorts a large
    * corpus fraction alone. This form sub-splits every group into
    * `nBuckets` monotone order-key ranges as [[globalRowNumber]] does
    * globally, but keeps the offsets in the plan, since the (groups × B)
    * counts table grows with the group count and is not collected —
    * per-group (min,max) from one aggregate, integer interpolation,
    * per-(group,bucket) counts, a triangular offset join over the counts
    * table — so the max window partition is ~|hottest group|/B and
    * shrinks with B, while the rank values are IDENTICAL to the plain
    * window (bucketing is monotone in the order key; spec:
    * WindowScaleSafetySpec). Pass a UNIQUE order
    * key (compose one if needed) — ties would rank nondeterministically
    * in both forms. NULL keys match the window semantics: null GROUP
    * values form their own group (all joins here are null-safe `<=>` —
    * a plain equi-join would silently DROP null-group rows, the exact
    * corruption a rank helper must never introduce), and null ORDER
    * keys rank first within their group (bucket −1 mirrors the
    * window's default NULLS FIRST). */
  def groupedRowNumber(df: DataFrame, groupCols: Seq[String], orderCol: String,
                       outCol: String = "row_num", nBuckets: Int = 256): DataFrame = {
    val g = groupCols.map(col)
    def nullSafeOn(left: DataFrame, rightCols: Seq[String]) =
      rightCols.map(c => left(c) <=> col("__r_" + c)).reduce(_ && _)
    val stats = df.groupBy(g: _*)
      .agg(min(col(orderCol)).as("__mn"), max(col(orderCol)).as("__mx"))
      .select(groupCols.map(c => col(c).as("__r_" + c))
        :+ col("__mn") :+ col("__mx"): _*)
    val bucketed = df.join(stats, nullSafeOn(df, groupCols))
      .drop(groupCols.map("__r_" + _): _*)
      .withColumn("__bucket",
        when(col(orderCol).isNull, lit(-1L))
          .when(col("__mx") <=> col("__mn"), lit(0L))
          // same DECIMAL widening as globalRowNumber: a full-range long
          // key times nBuckets overflows BIGINT
          .otherwise(expr(
            s"""((CAST($orderCol AS DECIMAL(38,0)) - CAST(__mn AS DECIMAL(38,0))) * $nBuckets)
                div (CAST(__mx AS DECIMAL(38,0)) - CAST(__mn AS DECIMAL(38,0)) + 1)""")))
    val counts = bucketed.groupBy((g :+ col("__bucket")): _*)
      .agg(count(lit(1)).as("__bn"))
    val offsets = counts.as("a")
      .join(counts.as("b"),
        groupCols.map(c => col("a." + c) <=> col("b." + c)).reduce(_ && _)
          && col("b.__bucket") < col("a.__bucket"), "left")
      .groupBy((groupCols.map(c => col("a." + c)) :+ col("a.__bucket")): _*)
      .agg(coalesce(sum(col("b.__bn")), lit(0L)).as("__off"))
      .select((groupCols.map(c => col(c).as("__r_" + c))
        :+ col("__bucket").as("__r___bucket") :+ col("__off")): _*)
    val wLocal = Window.partitionBy((groupCols :+ "__bucket").map(col): _*)
      .orderBy(orderCol)
    bucketed
      .join(offsets, nullSafeOn(bucketed, groupCols)
        && bucketed("__bucket") <=> col("__r___bucket"))
      .drop((groupCols :+ "__bucket").map("__r_" + _): _*)
      .withColumn(outCol, (row_number().over(wLocal) + col("__off")).cast("long"))
      .drop("__bucket", "__mn", "__mx", "__off")
  }
}
