package graft.plans

import graft.SparkSpecBase
import graft.queries.TrainingData
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.functions._

/** Guards the 100 TB scale contract for window shapes: an un-partitioned
  * Window (AllTuples distribution) funnels EVERY row through one task —
  * the x27_seq_pack plan regressed to that shape in r3 behind a comment
  * claiming otherwise, so the invariant is now machine-checked. */
class WindowScaleSafetySpec extends SparkSpecBase {

  private def unpartitionedWindows(df: DataFrame): Seq[Window] =
    df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }

  test("x27_seq_pack has no un-partitioned Window anywhere in its plan") {
    val df = TrainingData.queries("x27_seq_pack")(spark, sfDir)
    assert(unpartitionedWindows(df).isEmpty,
      "global-order prefix sum must be two-phase (bucketed), not a global Window")
  }

  test("x44_shard_manifest inherits the same guarantee through seqPack") {
    val df = TrainingData.queries("x44_shard_manifest")(spark, sfDir)
    assert(unpartitionedWindows(df).isEmpty,
      "the manifest aggregation must ride the bucketed packing, not a global Window")
  }

  test("x27 two-phase prefix sum equals the single-window reference") {
    val got = TrainingData.queries("x27_seq_pack")(spark, sfDir).collect()
    // reference: the naive global window (fine on the 0.001 test corpus)
    val base = graft.Tables.documents(spark, sfDir).select(
      col("doc_id"),
      size(graft.text.TextFunctions.tokens(col("text"))).as("n_tokens"),
      graft.util.Sampling.shuffleKey(col("doc_id")).as("sk"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("sk")
    val want = base
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        floor(col("start_offset") / 512).as("bin_id"))
      .orderBy("doc_id")
      .collect()
    assert(got.toSeq == want.toSeq)
  }

  test("x52_quality_cut never windows on the bare group key (bucket-partitioned only)") {
    val df = TrainingData.queries("x52_quality_cut")(spark, sfDir)
    assert(unpartitionedWindows(df).isEmpty)
    // row-bearing windows must partition by MORE than the group column —
    // a lang-only rank window would funnel the dominant language through
    // one task; only the metadata-sized histogram may window per group
    // (its rows are bounded by score/coarseDiv buckets, not corpus size)
    val rowWindows = df.queryExecution.optimizedPlan.collect {
      case w: Window if w.windowExpressions.exists(_.name == "__rn") => w
    }
    assert(rowWindows.nonEmpty, "expected the boundary rank window in the plan")
    rowWindows.foreach { w =>
      assert(w.partitionSpec.size >= 2,
        s"boundary rank must partition by (group, bucket), got ${w.partitionSpec}")
    }
  }

  test("f21 surrogate keys have no un-partitioned Window (ScalableRank two-phase)") {
    val df = graft.queries.Relational.queries("f21_surrogate_keys")(spark, sfDir)
    assert(unpartitionedWindows(df).isEmpty,
      "surrogate keying must use the bucketed two-phase rank, not a global Window")
  }

  test("ScalableRank.globalRowNumber equals the single-window reference, any partitioning") {
    val custs = graft.Tables.customer(spark, sfDir).select("c_custkey")
    val w = org.apache.spark.sql.expressions.Window.orderBy("c_custkey")
    val want = custs.select(col("c_custkey"),
        row_number().over(w).cast("long").as("row_num"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.util.ScalableRank.globalRowNumber(custs, "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    val gotRepart = graft.util.ScalableRank
      .globalRowNumber(custs.repartition(13), "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotRepart === want)
  }

  /** (id, rank) pairs of `ScalableRank.globalRowNumber` and of the
    * single-window reference over `(id, k)` rows, from ONE scan each. */
  private def globalRanks(rows: Seq[(Long, Option[Long])]) = {
    import spark.implicits._
    val df = rows.toDF("id", "k").repartition(3)
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
    def pairs(ranked: DataFrame) =
      ranked.select("id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (pairs(graft.util.ScalableRank.globalRowNumber(df, "k", "rn")),
      pairs(df.withColumn("rn", row_number().over(w).cast("long"))))
  }

  test("globalRowNumber edge cases match the window: empty input, one distinct key, full-range long keys") {
    val (emptyGot, emptyWant) = globalRanks(Nil)
    assert(emptyGot.isEmpty && emptyWant.isEmpty)
    // one key on every row: min = max; ties rank arbitrarily in both
    // forms, so compare the rank values
    val (oneGot, oneWant) = globalRanks((1L to 5L).map(i => (i, Some(42L))))
    assert(oneGot.map(_._2) === oneWant.map(_._2))
    assert(oneGot.map(_._1) === (1L to 5L).toSet)
    // X242's case: a key spanning the whole long range overflows BIGINT
    // in the interpolation unless it is widened to DECIMAL
    val keys = Seq(Long.MinValue, -10000000000L, -1L, 0L, 7L, 10000000000L,
      Long.MaxValue - 1, Long.MaxValue)
    val (wideGot, wideWant) = globalRanks(keys.zipWithIndex.map { case (k, i) => (i.toLong, Some(k)) })
    assert(wideGot === wideWant)
  }

  test("globalRowNumber keeps NULL order keys and ranks them first (window parity)") {
    // every 4th row has a null key — a bucket equi-join would DROP them
    val rows = (1L to 40L).map(i => (i, if (i % 4 == 0) None else Some(1000L - 7 * i)))
    val (got, want) = globalRanks(rows)
    assert(got.size === rows.size, "no row may vanish on a null key")
    val nullIds = rows.collect { case (i, None) => i }.toSet
    assert(got.filterNot(p => nullIds(p._1)) === want.filterNot(p => nullIds(p._1)))
    assert(got.filter(p => nullIds(p._1)).map(_._2) === (1L to nullIds.size.toLong).toSet,
      "null keys take the leading ranks, NULLS FIRST")
    val (allNullGot, _) = globalRanks((1L to 3L).map(i => (i, None)))
    assert(allNullGot.map(_._2) === Set(1L, 2L, 3L))
  }

  test("ScalableRank.groupedRowNumber equals the grouped-window reference; partitions by (group, bucket)") {
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), expr("n_chars div 200").as("blk"),
        (col("n_chars") * 1000000L + col("doc_id")).as("ok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "blk").orderBy("ok")
    val want = docs.select(col("doc_id"),
        row_number().over(w).cast("long").as("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ranked = graft.util.ScalableRank.groupedRowNumber(
      docs, Seq("lang", "blk"), "ok", "rn")
    val got = ranked.select("doc_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    // the scale property itself: every window in the plan partitions by
    // MORE than the group key (group + bucket), so no whole group ever
    // sorts in one task
    ranked.queryExecution.optimizedPlan.collect { case w: Window => w }
      .foreach(w => assert(w.partitionSpec.size >= 3,
        s"grouped rank must window on (group..., bucket), got ${w.partitionSpec}"))
    assert(unpartitionedWindows(ranked).isEmpty)
  }

  test("groupedRowNumber keeps NULL group keys and ranks NULL order keys first (window parity)") {
    // inject a null GROUP for every 7th doc and a null ORDER key for
    // every 11th — a plain equi-join pipeline would silently DROP the
    // null-group rows; the window keeps them and ranks null keys first
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 11 === 0, lit(null))
          .otherwise(col("n_chars") * 1000000L + col("doc_id")).as("ok"))
    val total = docs.count()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("ok")
    val want = docs.select(col("doc_id"),
        row_number().over(w).cast("long").as("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = graft.util.ScalableRank.groupedRowNumber(docs, Seq("lang"), "ok", "rn")
      .select("doc_id", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == total, "no row may vanish on null keys")
    // null order keys tie arbitrarily in BOTH forms — compare the
    // deterministic part exactly and the null-key rows by rank RANGE
    val nullDocs = docs.filter(col("ok").isNull)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.filterNot(p => nullDocs(p._1)) === want.filterNot(p => nullDocs(p._1)),
      "non-null rows must rank identically to the plain window")
    val nullRanksGot = got.filter(p => nullDocs(p._1)).map(_._2)
    val nullRanksWant = want.filter(p => nullDocs(p._1)).map(_._2)
    assert(nullRanksGot === nullRanksWant,
      "null order keys must occupy the same (leading) rank slots per group")
  }

  test("x168 linkage rank windows only on (lang, blk, bucket) — hot blocks sub-split") {
    val df = TrainingData.queries("x168_linkage_score")(spark, sfDir)
    assert(unpartitionedWindows(df).isEmpty)
    val windows = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(windows.nonEmpty, "expected the grouped rank window in the x168 plan")
    windows.foreach(w => assert(w.partitionSpec.size >= 3,
      s"x168's rank must sub-split blocks (lang, blk, bucket), got ${w.partitionSpec}"))
  }

  test("winnowing hashes shingles outside the window frame") {
    // the window aggregate's child must be a bound reference, not md5(...)
    // — WindowExec re-evaluates the child once per overlapping frame
    val df = graft.dedup.Dedup.winnowFingerprints(graft.Tables.documents(spark, sfDir))
    val inFrameHash = df.queryExecution.optimizedPlan.collect {
      case w: Window => w.windowExpressions.map(_.toString)
    }.flatten.filter(_.contains("md5"))
    assert(inFrameHash.isEmpty,
      s"md5 must be projected before the window, found: $inFrameHash")
  }
}
