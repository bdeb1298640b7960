package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.app.CurationRunner
import graft.dedup.Dedup
import graft.text.TextFunctions

/** `curation`: repeated `CurationRunner.run` over the documents corpus
  * (text signals, MinHash/LSH near-dups, components, partitioned write
  * and read-back). The traced part also times each public call of the
  * pipeline on its own. */
object CurationWorkload {

  /** Timed runs whose heap counts toward `heap_peak_mb`. The live heap
    * grows with every run (`cur_heap_growth_mb_per_run`), so a peak over
    * the whole window would follow how many runs fit in it. */
  val HeapRuns = 2
  /** Timed runs a window holds at least: the median of two runs followed
    * the first one's warm-up. */
  val MinRuns = 3
  /** When traced: traced runs, and untraced ones, at least. */
  val MinTracedRuns = 2

  val K7Cols = Seq("doc_id", "lang_detected", "quality", "n_tokens",
    "rep_ratio", "component", "is_keeper", "keep")

  private def rows(df: DataFrame): Long = df.queryExecution.toRdd.count()

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val tr = ctx.trace
    val outDir = ctx.dir("curation_runs")
    def once(): CurationRunner.Report = {
      val r = CurationRunner.run(spark, ctx.data, outDir)
      out.check("qc_passed", r.qcPassed)
      r
    }

    // the set-up passes are curation runs; the second is the warm-up
    val passes = (0 until ctx.setupPasses).map(_ => Clock.time(once())._2)
    Clock.note("setup passes done")
    out.e2e("setup_s") = Metric(Stats.median(passes), "s")
    val heapAfterSetup = Heap.sample()

    val times = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val windows = ArrayBuffer.empty[(Long, Long)]
    val probes = scala.collection.mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    var docs = 0L
    val (minUntraced, minTraced) = if (tr.enabled) (MinTracedRuns, MinTracedRuns) else (MinRuns, 0)
    val t0 = Clock.now
    while (Clock.now - t0 < ctx.seconds || times.size < minUntraced || traced.size < minTraced) {
      val tracedRun = ctx.tracedTurn(times.size, traced.size)
      if (tracedRun) tr.attach()
      val w0 = System.currentTimeMillis()
      val (r, t) = Clock.time(tr.span("cur.run")(once()))
      if (tracedRun) { traced += t; windows += ((w0, System.currentTimeMillis())) } else times += t
      out.attempted += 1
      if (!r.qcPassed) out.failed += 1
      docs += r.nDocs
      if (tracedRun) { probe(ctx, probes); tr.detach() }
      if (out.attempted == HeapRuns) Heap.sample()
    }
    val heapLast = Heap.liveMb()
    Clock.note("timed window done")

    // the last run's table, for the k7 oracle (checked after the JVM exits)
    spark.read.parquet(s"$outDir/curation").select(K7Cols.map(col): _*)
      .write.mode("overwrite").parquet(s"${ctx.work}/curation_out")
    val sqlOut = new java.io.PrintWriter(new java.io.File(ctx.work, "k7_oracle.sql"), "UTF-8")
    try sqlOut.println(SparkEntry.oracleSql("k7_curation_pipeline")) finally sqlOut.close()

    val all = times ++ traced
    val p50 = Stats.median(times.toSeq)
    out.e2e("op_p50_s") = Metric(p50, "s")
    out.named("cur_run_p50_s") = Metric(p50, "s")
    out.named("cur_docs_per_s") = Metric(docs / all.sum, "docs/s")
    out.named("cur_runs") = Metric(all.size.toDouble, "count")
    out.named("cur_heap_growth_mb_per_run") = Metric((heapLast - heapAfterSetup) / all.size, "MB/run")
    if (tr.enabled) {
      val n = math.max(1, traced.size)
      Seq("cur.text_signals_s", "cur.lsh_candidates_s", "cur.near_dups_s", "cur.components_s",
        "cur.write_readback_s").foreach(k => out.layer(k) = Metric(probes(k) / n, "s"))
      out.layer("cur.candidate_pairs") = Metric(probes("cand") / n, "count")
      out.layer("cur.verified_pairs") = Metric(probes("verified") / n, "count")
      out.layer("cur.lsh_precision") = Metric(
        if (probes("cand") > 0) probes("verified") / probes("cand") else 0.0, "ratio")
      tr.sparkMetrics(windows.toSeq).foreach { case (k, m) => out.layer(k) = m }
      out.layer("trace.overhead_frac") = Metric(Stats.median(traced.toSeq) / p50 - 1.0, "ratio")
    }
    out
  }

  /** Time each public call of the pipeline on its own (traced runs only;
    * outside the timed operation). */
  private def probe(ctx: Ctx, acc: scala.collection.mutable.Map[String, Double]): Unit = {
    val tr = ctx.trace
    val spark = ctx.spark
    val docs = graft.Tables.documents(spark, ctx.data)
    def timed[A](key: String)(f: => A): A = {
      val (a, t) = Clock.time(tr.span(key)(f)); acc(key) += t; a
    }
    timed("cur.text_signals_s")(rows(TextFunctions.withTextSignals(docs)
      .select("doc_id", "lang_detected", "quality", "n_tokens")))
    acc("cand") += timed("cur.lsh_candidates_s")(rows(
      Dedup.candidatePairs(Dedup.bandTable(Dedup.minhashSignatures(Dedup.docShingles(docs))))))
    val pairs = timed("cur.near_dups_s") {
      val p = Dedup.minhashNearDups(docs, 0.5).localCheckpoint(true); p
    }
    acc("verified") += pairs.count()
    timed("cur.components_s")(rows(Dedup.nearDupComponents(pairs, docs)))
    val table = CurationRunner.curate(spark, ctx.data).localCheckpoint(true)
    val dir = s"${ctx.work}/curation_probe"
    timed("cur.write_readback_s") {
      table.write.mode("overwrite").partitionBy("lang_detected").parquet(dir)
      spark.read.parquet(dir).agg(count(lit(1)), countDistinct(col("doc_id")), sum("keep")).first()
    }
  }
}
