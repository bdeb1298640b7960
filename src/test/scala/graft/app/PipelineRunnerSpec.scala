package graft.app

import graft.SparkSpecBase
import graft.Tables
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, Paths}

class PipelineRunnerSpec extends SparkSpecBase {

  /** A source dir holding the orders up to the `frac` quantile of
    * `o_orderkey` (an earlier snapshot of the source) and every customer. */
  private def sourcePrefix(frac: Double): String = {
    val src = Files.createTempDirectory("graft_src_prefix").toString
    val orders = Tables.orders(spark, sfDir)
    val cut = orders.agg(expr(s"percentile_approx(o_orderkey, $frac)")).first().get(0)
      .toString.toDouble.toLong
    orders.filter(col("o_orderkey") <= cut).write.parquet(s"$src/orders.parquet")
    Files.copy(Paths.get(s"$sfDir/customer.parquet"), Paths.get(s"$src/customer.parquet"))
    src
  }

  test("full run loads every source order once, QC-gated") {
    val wh = Files.createTempDirectory("graft_wh_full").toString
    val r = PipelineRunner.run(spark, sfDir, wh)
    val srcOrders = Tables.orders(spark, sfDir).count()
    assert(r.hwmBefore === -1L)
    assert(r.extracted === srcOrders)
    assert(r.loaded === srcOrders)
    assert(r.qcPassed)
    // dense, replay-safe surrogate keys: 1..n
    val fact = spark.read.parquet(s"$wh/loan_fact")
    assert(fact.agg(min("fact_id"), max("fact_id")).first().toSeq === Seq(1L, srcOrders))
  }

  test("second run is a no-op; partial first load extracts only the delta") {
    val wh = Files.createTempDirectory("graft_wh_incr").toString
    // simulate an earlier snapshot: preload facts for the first half of keys
    val half = Tables.orders(spark, sfDir)
      .agg(expr("percentile_approx(o_orderkey, 0.5)")).first().get(0).toString.toDouble.toLong
    val seeded = PipelineRunner.cleanOrders(
      Tables.orders(spark, sfDir).filter(col("o_orderkey") <= half))
    import org.apache.spark.sql.expressions.Window
    seeded.select(
      row_number().over(Window.orderBy("o_orderkey")).cast("long").as("fact_id"),
      col("o_orderkey").as("source_order_key"),
      col("o_custkey").as("customer_id"),
      date_format(col("order_date"), "yyyyMMdd").cast("int").as("date_id"),
      col("amount"), col("priority_num"), col("status"),
      year(col("order_date")).as("load_year"))
      .write.partitionBy("load_year").parquet(s"$wh/loan_fact")
    // a prior run would also have left the date dimension behind
    graft.dims.DateDim.fromColumn(seeded, "order_date").write.parquet(s"$wh/date_dim")

    val r1 = PipelineRunner.run(spark, sfDir, wh)
    val total = Tables.orders(spark, sfDir).count()
    assert(r1.hwmBefore === half)
    assert(r1.extracted === total - seeded.count())
    assert(r1.loaded === total)
    assert(r1.qcPassed)

    // nothing new → extract 0, warehouse unchanged, still consistent
    val r2 = PipelineRunner.run(spark, sfDir, wh)
    assert(r2.extracted === 0L)
    assert(r2.loaded === total)
    assert(r2.qcPassed)

    // replay safety: fact_ids unique and dense across the three loads
    val fact = spark.read.parquet(s"$wh/loan_fact")
    assert(fact.select("fact_id").distinct().count() === total)
    assert(fact.agg(max("fact_id")).first().getLong(0) === total)
  }

  test("a corrupt loan_fact file fails the run; only a missing warehouse is a first load") {
    // the warehouse root does not exist yet: a first load, keys from 1
    val wh = Files.createTempDirectory("graft_wh_fault").toString + "/wh"
    val first = PipelineRunner.run(spark, sourcePrefix(0.9), wh)
    assert(first.hwmBefore === -1L && first.factHwmBefore === 0L)
    assert(first.qcPassed)
    val factPath = s"$wh/loan_fact"
    val before = spark.read.parquet(factPath).count()

    // an unreadable file is not an empty warehouse: the run must throw,
    // not re-extract everything and re-key from fact_id 1
    val junk = "not a parquet file".getBytes("UTF-8")
    val yearDirs = new File(factPath).listFiles().filter(_.getName.startsWith("load_year="))
    val garbage = new File(yearDirs.head, "part-00000-00000000-0000-0000-0000-000000000000.c000.snappy.parquet")
    Files.write(garbage.toPath, junk)
    intercept[Exception](PipelineRunner.run(spark, sfDir, wh))
    assert(garbage.delete())
    assert(spark.read.parquet(factPath).count() === before, "the failed run must append nothing")
    // the same with EVERY part file unreadable, so that not even schema
    // inference finds a footer: where a read that swallowed all failures
    // took the warehouse for empty
    val parts = yearDirs.flatMap(_.listFiles()).filter(_.getName.startsWith("part-")).map(_.toPath)
    val saved = parts.map(p => p -> Files.readAllBytes(p))
    parts.foreach(Files.write(_, junk))
    intercept[Exception](PipelineRunner.run(spark, sfDir, wh))
    saved.foreach { case (p, bytes) => Files.write(p, bytes) }
    assert(spark.read.parquet(factPath).count() === before, "the failed run must append nothing")

    // with the files restored, the next run picks up where the first stopped
    val next = PipelineRunner.run(spark, sfDir, wh)
    assert(next.factHwmBefore === before)
    assert(next.loaded === Tables.orders(spark, sfDir).count())
    assert(next.qcPassed)
  }

  test("a run after a crash between the date_dim rename-aside and its publish keeps the merged history") {
    val src = sourcePrefix(0.5)
    val wh = Files.createTempDirectory("graft_wh_dd_crash").toString
    val clean = Files.createTempDirectory("graft_wh_dd_clean").toString
    Seq(wh, clean).foreach(PipelineRunner.run(spark, src, _))
    // the crash: date_dim was renamed aside, the staging copy never published
    Files.move(Paths.get(wh, "date_dim"), Paths.get(wh, ".date_dim_old"))

    val r = PipelineRunner.run(spark, sfDir, wh)
    PipelineRunner.run(spark, sfDir, clean)
    def dateIds(w: String) = spark.read.parquet(s"$w/date_dim")
      .select("date_id").collect().map(_.getInt(0)).toSet
    val (got, want) = (dateIds(wh), dateIds(clean))
    assert(got == want, s"${(want -- got).size} of ${want.size} dates lost")
    assert(r.qcPassed)
    assert(!Files.exists(Paths.get(wh, ".date_dim_old")))
  }

  test("a small daily increment stays within its Spark job budget") {
    val wh = Files.createTempDirectory("graft_wh_budget").toString
    PipelineRunner.run(spark, sourcePrefix(0.98), wh)
    val (r, jobs) = JobBudget.jobsDuring(spark)(PipelineRunner.run(spark, sfDir, wh))
    assert(r.extracted > 0 && r.qcPassed)
    // measured: 25 jobs with schema-carrying warehouse reads, rank
    // offsets summed on the driver and QC in one pass; 38 before them
    // (schema-inference jobs, a join-built rank, three QC fact scans)
    assert(jobs <= 25 + 2, s"a daily run took $jobs Spark jobs")
  }
}
