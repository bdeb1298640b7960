package perfbench

import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import graft.SparkEntry

/** `bi_refresh`: one analyst refreshing the dashboard in a closed loop.
  * A refresh submits every visual at once to `cores` client threads, in
  * a seeded order; each visual builds its DataFrame through
  * `SparkEntry.queries` and runs its own physical plan
  * (`queryExecution.toRdd`). The next refresh starts when the slowest
  * visual is done. */
object BiWorkload {

  val Visuals: Seq[String] = Seq(
    "j2_star3_rollup", "j1_dim_fact_join", "j3_date_dim_join", "a1_kpi_global",
    "a6_sum_avg_by_seg", "a8_topk_by_measure", "a9_count_by_group",
    "a10_year_slice", "a12_cube_slicer", "a16_pivot")

  /** Refreshes after the setup passes, until the refresh time settles. */
  val WarmRefreshes = 2
  /** Timed refreshes at least: the median of fewer moved by a third
    * between two runs of the same seed. */
  val MinRefreshes = 5
  /** When traced: traced refreshes, and untraced ones, at least. */
  val MinTracedRefreshes = 3

  final case class Shot(visual: String, rows: Long, hash: Long, seconds: Double, catalystMs: Double, span: Int)

  /** Run a DataFrame's physical plan; its row count and an
    * order-independent hash of its rows (each row in the unsafe format of
    * its schema, so a result read back from parquet hashes the same). */
  def digest(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { r => n += 1; h += unsafe(r).hashCode.toLong }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }

  /** Run one visual's plan; rows and an order-independent hash of them. */
  def execute(ctx: Ctx, visual: String, parent: Int): Shot = ctx.trace.span(s"bi.$visual", parent) {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(visual)(ctx.spark, ctx.data)
    val qe = df.queryExecution
    val (rows, hash) = digest(df)
    val dt = System.nanoTime() - t0
    ctx.trace.recordQuery(qe, visual, dt)
    val phases = qe.tracker.phases
    val catalyst = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs.toDouble).sum
    Shot(visual, rows, hash, dt / 1e9, catalyst, ctx.trace.currentSpan)
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val tr = ctx.trace
    val rnd = new scala.util.Random(ctx.seed)
    val pool = Executors.newFixedThreadPool(ctx.cores)
    /** Every visual at once on the client threads; results in `vs` order. */
    def concurrently[A](vs: Seq[String])(f: String => A): Seq[A] =
      vs.map(v => pool.submit(new Callable[A] { def call(): A = f(v) })).map(_.get())
    def refresh(): (Seq[Shot], Double) = Clock.time {
      tr.span("bi.refresh") {
        val parent = tr.currentSpan
        concurrently(rnd.shuffle(Visuals))(v => execute(ctx, v, parent))
      }
    }

    // setup: the first pass writes the results the oracle checks (after
    // the JVM exits), read back as the reference every refresh must
    // match; the other passes and the warm-up are refreshes
    val expectedDir = ctx.dir("bi_expected")
    val (_, writeS) = Clock.time(concurrently(Visuals)(v => SparkEntry.queries(v)(ctx.spark, ctx.data)
      .write.mode("overwrite").parquet(s"$expectedDir/$v")))
    val oracle = Visuals.map(v => v -> Json.str(SparkEntry.oracleSql(v)))
    val w = new java.io.PrintWriter(new java.io.File(ctx.work, "bi_oracle.json"), "UTF-8")
    try w.println(Json.obj(oracle)) finally w.close()
    val reference = Visuals.zip(concurrently(Visuals)(v =>
      digest(ctx.spark.read.parquet(s"$expectedDir/$v")))).toMap
    def matches(s: Shot): Boolean = (s.rows, s.hash) == reference(s.visual)
    Clock.note("expected results written")
    val setup = (1 until ctx.setupPasses + WarmRefreshes).map(_ => refresh())
    setup.foreach(_._1.foreach(s => out.check("refresh_matches_checked_result", matches(s))))
    val (passes, warm) = (writeS +: setup.map(_._2)).splitAt(ctx.setupPasses)
    out.e2e("setup_s") = Metric(Stats.median(passes) + warm.sum, "s")
    Clock.note("setup passes done")
    Heap.sample()

    val refreshes = ArrayBuffer.empty[Double]
    val tracedRefreshes = ArrayBuffer.empty[Double]
    val shots = ArrayBuffer.empty[Shot]
    val tracedShots = ArrayBuffer.empty[Shot]
    val windows = ArrayBuffer.empty[(Long, Long)]
    val (minUntraced, minTraced) = if (tr.enabled) (MinTracedRefreshes, MinTracedRefreshes) else (MinRefreshes, 0)
    val t0 = Clock.now
    while (Clock.now - t0 < ctx.seconds || refreshes.size < minUntraced || tracedRefreshes.size < minTraced) {
      val traced = ctx.tracedTurn(refreshes.size, tracedRefreshes.size)
      if (traced) tr.attach()
      val w0 = System.currentTimeMillis()
      val (got, t) = refresh()
      if (traced) {
        tracedRefreshes += t; tracedShots ++= got; windows += ((w0, System.currentTimeMillis()))
        tr.detach()
      } else { refreshes += t; shots ++= got }
      got.foreach { s =>
        out.attempted += 1
        val ok = matches(s)
        out.check("refresh_matches_checked_result", ok)
        if (!ok) out.failed += 1
      }
    }
    Clock.note("timed window done")
    pool.shutdown()
    Heap.sample()

    val q = shots.map(_.seconds).toSeq
    val p50 = Stats.median(refreshes.toSeq)
    out.e2e("op_p50_s") = Metric(p50, "s")
    out.named("bi_refresh_p50_s") = Metric(p50, "s")
    out.named("bi_query_p50_s") = Metric(Stats.median(q), "s")
    out.named("bi_query_p90_s") = Metric(Stats.quantile(q, 0.9), "s")
    out.named("bi_query_samples") = Metric(q.size.toDouble, "count")
    out.named("bi_visuals_per_s") = Metric(q.size / refreshes.sum, "1/s")
    out.info("bi_refresh_seconds") = refreshes.map(t => f"$t%.3f").mkString(" ")
    out.info("bi_visual_rows") = Visuals.map(v => s"$v=${reference(v)._1}").mkString(" ")
    if (tr.enabled) {
      Visuals.foreach { v =>
        out.layer(s"bi.${v}_s") = Metric(Stats.median(tracedShots.filter(_.visual == v).map(_.seconds).toSeq), "s")
      }
      val nq = math.max(1, tracedShots.size)
      out.layer("bi.jobs_per_query") = Metric(tracedShots.map(s => tr.jobsOfSpan(s.span).size).sum.toDouble / nq, "count")
      out.layer("bi.catalyst_s_per_query") = Metric(tracedShots.map(_.catalystMs).sum / 1000.0 / nq, "s")
      tr.sparkMetrics(windows.toSeq).foreach { case (k, m) => out.layer(k) = m }
      out.layer("trace.overhead_frac") = Metric(Stats.median(tracedRefreshes.toSeq) / p50 - 1.0, "ratio")
    }
    out
  }
}
