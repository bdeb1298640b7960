package perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import graft.app.PipelineRunner

/** `etl_daily`: the operator's daily load. Setup loads a warehouse from
  * a backfill snapshot (a prefix of `orders` by key); each timed
  * repetition restores that warehouse and calls `PipelineRunner.run` on
  * one cumulative source snapshot holding a small daily slice more. After
  * the window, a catch-up slice lands on top of the first daily run. The
  * snapshots come in the same order for every seed (the seed draws the
  * data and the slice sizes). */
object EtlWorkload {

  final case class Snapshot(name: String, kind: String, dir: String, increment: Long, total: Long)

  /** `etl/snapshots.csv` (written by the generator): name,kind,increment,total. */
  def snapshots(data: String): (Snapshot, Seq[Snapshot]) = {
    val rows = scala.io.Source.fromFile(s"$data/etl/snapshots.csv").getLines().drop(1).map { l =>
      val Array(n, kind, inc, tot) = l.split(",")
      Snapshot(n, kind, s"$data/etl/$n", inc.toLong, tot.toLong)
    }.toSeq
    (rows.head, rows.tail)
  }

  /** Timed runs a window holds at least; when traced, traced runs and
    * untraced ones each. */
  val MinDailyRuns = 5
  val MinTracedRuns = 3

  val FactCols = Seq("fact_id", "source_order_key", "customer_id", "date_id",
    "amount", "priority_num", "status", "load_year")

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val tr = ctx.trace
    val (base, incs) = snapshots(ctx.data)
    def fresh(name: String): String = {
      val f = new File(ctx.work, name); Files2.delete(f); f.getAbsolutePath
    }
    def load(snap: Snapshot, wh: String): PipelineRunner.RunReport = {
      val r = PipelineRunner.run(spark, snap.dir, wh)
      out.check("qc_passed", r.qcPassed)
      r
    }

    // setup: full loads into empty warehouses: the one-shot load of the
    // first catch-up snapshot (for the check below), then the backfill,
    // the timed runs' starting point
    val daily = incs.indexWhere(_.kind == "daily")
    val catchUp = incs.indexWhere(_.kind == "catchup")
    require(daily < catchUp, "the first daily slice comes before the first catch-up slice")
    val oneShot = fresh("wh_oneshot_catchup")
    val warehouse = fresh("wh_base")
    val passes = Seq(incs(catchUp) -> oneShot, base -> warehouse)
      .map { case (snap, wh) => Clock.time(load(snap, wh))._2 }

    // one increment: `snap` loaded into `wh`, which holds `from` rows
    var rows = 0L
    def increment(snap: Snapshot, wh: String, from: Long): Double = {
      val (r, t) = Clock.time(tr.span("etl.run")(load(snap, wh)))
      out.attempted += 1
      val ok = r.extracted == snap.total - from && r.loaded == snap.total
      out.check("increment_rows", ok)
      if (!ok || !r.qcPassed) out.failed += 1
      rows += r.extracted
      t
    }
    /** A fresh copy of the backfilled warehouse. */
    def restored(name: String): String = {
      val wh = fresh(name)
      Files2.copyTree(new File(warehouse).toPath, new File(wh).toPath)
      wh
    }

    // warm-up: the increment path (date-dim merge, keys past a watermark)
    // on the last two daily slices
    val dailies = incs.indices.filter(incs(_).kind == "daily")
    val (_, warmS) = Clock.time {
      dailies.takeRight(2).foreach(k => load(incs(k), restored("wh_warm")))
    }
    Clock.note("setup passes done")
    out.e2e("setup_s") = Metric(Stats.median(passes) + warmS, "s")
    Heap.sample()

    // timed: the daily slices in turn, each from the backfilled
    // warehouse. The window runs on until it holds MinDailyRuns runs
    // (when traced, MinTracedRuns traced and as many untraced ones): with
    // the two or three runs of a short window, the median followed the
    // host, not the code.
    val times = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[(Long, Long)]
    val (minUntraced, minTraced) = if (tr.enabled) (MinTracedRuns, MinTracedRuns) else (MinDailyRuns, 0)
    var i = 0
    val t0 = Clock.now
    while (Clock.now - t0 < ctx.seconds || times.size < minUntraced || traced.size < minTraced) {
      val tracedRun = ctx.tracedTurn(times.size, traced.size)
      val wh = restored(if (i == 0) "wh_chain" else "wh_scratch")
      if (tracedRun) tr.attach()
      val w0 = System.currentTimeMillis()
      val t = increment(incs(dailies(i % dailies.size)), wh, base.total)
      if (tracedRun) { traced += t; windows += ((w0, System.currentTimeMillis())); tr.detach() }
      else times += t
      i += 1
    }
    Clock.note("timed window done")

    // the catch-up after missed days, on top of the first timed daily
    // run's warehouse: its time is reported on its own (not gated)
    val catchUpS = increment(incs(catchUp), new File(ctx.work, "wh_chain").getAbsolutePath,
      incs(daily).total)
    Heap.sample()

    // backfill + daily + catch-up equals the one-shot load of the
    // catch-up snapshot: same rows, amounts, dense fact ids
    val chained = spark.read.parquet(s"${ctx.work}/wh_chain/loan_fact").select(FactCols.map(col): _*)
    val single = spark.read.parquet(s"$oneShot/loan_fact").select(FactCols.map(col): _*)
    val same = chained.exceptAll(single).isEmpty && single.exceptAll(chained).isEmpty
    out.check("fact_equals_one_shot_load", same)
    if (!same) out.failed += 1
    Clock.note("one-shot check done")

    val all = times ++ traced :+ catchUpS
    val p50 = Stats.median(times.toSeq)
    out.e2e("op_p50_s") = Metric(p50, "s")
    out.named("etl_run_p50_s") = Metric(p50, "s")
    out.named("etl_catchup_s") = Metric(catchUpS, "s")
    out.named("etl_rows_per_s") = Metric(rows / all.sum, "rows/s")
    out.named("etl_runs") = Metric(all.size.toDouble, "count")
    out.info("etl_increments") = incs.map(_.increment).mkString(" ")
    out.info("etl_run_seconds") = (times ++ traced).map(t => f"$t%.3f").mkString(" ")
    if (tr.enabled) layers(out, tr, windows.toSeq, Stats.median(traced.toSeq) / p50 - 1.0)
    out
  }

  /** Per-step times: each query of a run is attributed by its write
    * target, or, for reads, by whether it ran before (watermark) or after
    * (QC) the fact append of its run; the extract is the remaining read
    * of the source. */
  private def layers(out: Outcome, tr: Trace, windows: Seq[(Long, Long)], overhead: Double): Unit = {
    val steps = scala.collection.mutable.LinkedHashMap(
      "etl.watermark_s" -> 0.0, "etl.extract_clean_s" -> 0.0, "etl.customer_dim_s" -> 0.0,
      "etl.date_dim_s" -> 0.0, "etl.fact_append_s" -> 0.0, "etl.qc_s" -> 0.0)
    val qs = tr.queries.asScala.toSeq
    windows.foreach { case (a, b) =>
      val inRun = qs.filter(q => q.startMs >= a && q.startMs <= b).sortBy(_.id)
      val factWrite = inRun.find(_.writes.contains("loan_fact")).map(_.id).getOrElse(Long.MaxValue)
      inRun.foreach { q =>
        val step = q.writes match {
          case Some("customer_dim") => "etl.customer_dim_s"
          case Some("loan_fact") => "etl.fact_append_s"
          case Some(_) => "etl.date_dim_s"
          case None if q.reads.contains("loan_fact") =>
            if (q.id < factWrite) "etl.watermark_s" else "etl.qc_s"
          case None => "etl.extract_clean_s"
        }
        steps(step) += q.durationNs / 1e9
      }
    }
    val n = math.max(1, windows.size)
    steps.foreach { case (k, v) => out.layer(k) = Metric(v / n, "s") }
    out.layer("etl.files_written") = Metric(tr.filesWritten(windows).toDouble / n, "count")
    tr.sparkMetrics(windows).foreach { case (k, m) => out.layer(k) = m }
    out.layer("trace.overhead_frac") = Metric(overhead, "ratio")
  }
}
