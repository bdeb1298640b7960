package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs and its budget.
  * `data` holds the generated tables, `work` is scratch owned by this run. */
final case class Ctx(
    spark: SparkSession, seed: Long, seconds: Double,
    cores: Int, data: String, work: String, trace: Trace,
    negativeControl: Boolean, scale: Double) {
  /** Setup passes whose median is `setup_s`. */
  val setupPasses = 2
  def dir(name: String): String = {
    val f = new File(work, name); f.mkdirs(); f.getAbsolutePath
  }
  /** In a traced run, whether the next timed operation is traced. Traced
    * and untraced operations alternate, untraced first, so the untraced
    * ones, the overhead's baseline, are as warm as the traced ones. */
  def tracedTurn(untraced: Int, traced: Int): Boolean = trace.enabled && traced < untraced
}

/** One benchmark run of one workload in a fresh JVM.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR --out FILE --scale X [--gen-seconds G] [--negative-control]
  *
  * Writes the run's outcome as JSON to FILE; `perfbench/run.py` adds the
  * DuckDB oracle checks and prints the result line. */
object Main {
  val CodegenCacheEntries = "5000"
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "etl_daily" -> EtlWorkload.run,
    "bi_refresh" -> BiWorkload.run,
    "cdc_upsert" -> CdcWorkload.run,
    "curation" -> CurationWorkload.run)

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val negative = args.contains("--negative-control")
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()

    val (spark, sessionS) = Clock.time {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        // as graft.Bench: at the default of 100 generated classes, a run's
        // query mix evicts and recompiles its own codegen every operation
        .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Clock.note(f"session started in $sessionS%.2fs")
    val trace = new Trace(spark, opts.get("trace").contains("1"), cores)
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, cores,
      opts("data"), work.getPath, trace, negative, opts("scale").toDouble)

    val out = Workloads(workload)(ctx)
    // setup_s = session start + data generation + median setup pass
    val gen = opts.get("gen-seconds").map(_.toDouble).getOrElse(0.0)
    out.e2e("setup_s") = Metric(sessionS + gen + out.e2e("setup_s").value, "s")
    out.e2e("heap_peak_mb") = Metric(Heap.peakMb, "MB")
    out.named("setup_s") = out.e2e("setup_s")
    out.named("heap_peak_mb") = out.e2e("heap_peak_mb")
    if (trace.enabled) trace.write(new File(work, "trace_spans.jsonl"))

    val settings = Seq(
      "master" -> s"local[$cores]",
      "shuffle_partitions" -> cores.toString,
      "codegen_cache_entries" -> CodegenCacheEntries,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).mkString(" "),
      "driver_heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "fresh_jvm" -> "true",
      "seed" -> ctx.seed.toString,
      "seconds" -> ctx.seconds.toString,
      "trace" -> (if (trace.enabled) "1" else "0")) ++ out.info
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "checks" -> Json.obj(out.checks.map { case (k, v) => k -> v.toString }),
      "settings" -> Json.obj(settings.map { case (k, v) => k -> Json.str(v) }),
      "e2e" -> Json.metrics(out.e2e),
      "named" -> Json.metrics(out.named),
      "layer" -> Json.metrics(out.layer)))
    val w = new java.io.PrintWriter(new File(opts("out")), "UTF-8")
    try w.println(json) finally w.close()
    spark.stop()
    Clock.note("done")
  }
}
