package graft.app

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.clean.Cleaning
import graft.dims.DateDim
import graft.quality.QualityChecks

/** Batch ETL pipeline — the engine-native replacement for the reference's
  * Airflow DAG (`/root/reference/Airflow.py:73`: get-watermark → extract →
  * transform → load ← quality-check) and its task bodies in
  * `spark_etl.py`. One `run()` = one daily DAG run, expressed as a single
  * DataFrame lineage per table so Catalyst optimizes each end-to-end
  * (SURVEY §3.1 "new-engine trace").
  *
  * Fixes baked in (SURVEY §4 O-3, §7.4, §8.4): the incremental predicate
  * filters a *source* column (pushes down to the scan / JDBC), not a
  * freshly-generated surrogate; surrogate keys are dense `row_number` +
  * warehouse max-offset, so replays never collide and the HWM contract
  * (`fact_id > max`) is replay-safe.
  *
  * The warehouse here is partitioned parquet (the 100 TB layout —
  * `load_year` partition pruning for free); the same builders feed the
  * JDBC sink ([[graft.sources.JdbcSink]]) when the target is a database.
  */
object PipelineRunner {

  /** One DAG-run summary — what the reference logged across tasks. */
  case class RunReport(
      hwmBefore: Long, factHwmBefore: Long,
      extracted: Long, loaded: Long, qcPassed: Boolean)

  /** `path` read with the schema its writer's plan produces (no
    * schema-inference job), or None when the table does not exist yet.
    * Only a missing path means "no table": an unreadable table throws, so
    * a corrupt `loan_fact` can never read as an empty warehouse and
    * re-key from fact_id 1. */
  private def readIfExists(spark: SparkSession, path: String, schema: StructType): Option[DataFrame] =
    try Some(spark.read.schema(schema).parquet(path))
    catch { case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" => None }

  /** Fact projection (F21 replay-safe): `row_num` is a dense 1-based
    * rank by source key, offset past the warehouse's max fact id. */
  private def factRows(ranked: DataFrame, factHwm: Long): DataFrame = ranked.select(
    (col("row_num") + lit(factHwm)).as("fact_id"),
    col("o_orderkey").as("source_order_key"),
    col("o_custkey").as("customer_id"),
    date_format(col("order_date"), "yyyyMMdd").cast("int").as("date_id"),
    col("amount"), col("priority_num"), col("status"),
    year(col("order_date")).as("load_year"))

  /** Transform task (`spark_etl.py:149-156` chain): numeric fill, date
    * cast, abs, sentinel→NULL, priority parse, dedup, key filter. */
  def cleanOrders(orders: DataFrame): DataFrame =
    Cleaning.dedupFull(
      Cleaning.dropNullKey(orders, "o_orderkey"))
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        Cleaning.toDateCol(col("o_orderdate")).as("order_date"),
        Cleaning.toPositive(Cleaning.numericFill(col("o_totalprice"))).as("amount"),
        Cleaning.leadingInt(col("o_orderpriority")).as("priority_num"),
        Cleaning.blankToNull(col("o_orderstatus")).as("status"))

  /** One incremental run: extract source rows past the watermark, build
    * dims + fact, append fact / refresh dims, QC-gate the result. */
  def run(spark: SparkSession, sourceDir: String, warehouseDir: String): RunReport = {
    val factPath = s"$warehouseDir/loan_fact"
    val orders = Tables.orders(spark, sourceDir)
    // every warehouse read takes its schema from the plan that writes the
    // table (analysis only, no job); source key types vary by source
    val factSchema = factRows(cleanOrders(orders).withColumn("row_num", lit(0L)), 0L).schema

    // watermark (S1/A1): max already-loaded source key + max fact id
    val (hwm, factHwm) = readIfExists(spark, factPath, factSchema).fold((-1L, 0L)) { fact =>
      val r = fact.agg(max(col("source_order_key")).cast("long"), max(col("fact_id"))).first()
      (if (r.isNullAt(0)) -1L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // extract (S2/P4): predicate on the real source column ⇒ pushdown
    val increment = orders.filter(col("o_orderkey") > lit(hwm))
    val cleaned = cleanOrders(increment).cache()
    val extracted = cleaned.count()

    // dims (K5/P1): customer dim is a full refresh (small); date dim
    // unions the increment's dates into the existing dimension
    val customerDim = Tables.customer(spark, sourceDir).select(
      col("c_custkey").as("customer_id"),
      col("c_name").as("customer_name"),
      col("c_mktsegment").as("segment"),
      col("c_acctbal").as("acct_balance"))
    val dateDim = DateDim.fromColumn(cleaned, "order_date")
    // the customer-dim refresh shares nothing with the date-dim merge —
    // run it as a concurrent job so its write back-fills the other
    // job's scheduling gaps (guide §2.6 overlap-independent-jobs; the
    // DAG runs these as parallel tasks too)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val custFut = Future {
      customerDim.write.mode(SaveMode.Overwrite).parquet(s"$warehouseDir/customer_dim")
    }

    // whatever happens on the date-dim path below, never unwind while the
    // concurrent customer-dim overwrite is still running (it would keep
    // rewriting the table past run()'s failure, its own failure swallowed)
    val datePath = s"$warehouseDir/date_dim"
    try {
      val mergedDates = readIfExists(spark, datePath, dateDim.schema) match {
        case Some(existing) => existing.unionByName(dateDim).dropDuplicates("date_id")
        case None => dateDim
      }
      // rewrite via a staging path (the merged plan still reads datePath),
      // then SWAP the directories — a rename publish, not a second Spark
      // job that decodes and re-encodes the same parquet bytes. Renames go
      // through the Hadoop FileSystem of the warehouse's scheme (file://,
      // hdfs://; on object stores rename is a copy but still correct), and
      // the old table is renamed ASIDE before the swap so a crash between
      // the two renames leaves an explicit `.date_dim_old` to recover
      // from, not a silently missing table.
      val staging = s"$warehouseDir/.date_dim_staging"
      mergedDates.write.mode(SaveMode.Overwrite).parquet(staging)
      val fs = new org.apache.hadoop.fs.Path(warehouseDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (stagingP, dateP, oldP) = (new org.apache.hadoop.fs.Path(staging),
        new org.apache.hadoop.fs.Path(datePath),
        new org.apache.hadoop.fs.Path(s"$warehouseDir/.date_dim_old"))
      fs.delete(oldP, true)
      if (fs.exists(dateP) && !fs.rename(dateP, oldP))
        throw new java.io.IOException(s"date_dim publish: rename-aside failed: $dateP -> $oldP")
      if (!fs.rename(stagingP, dateP))
        throw new java.io.IOException(s"date_dim publish rename failed: $staging -> $datePath")
      fs.delete(oldP, true)
    } catch {
      case e: Throwable =>
        try Await.result(custFut, Duration.Inf)
        catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    Await.result(custFut, Duration.Inf)

    // fact (F21 replay-safe): dense surrogate keys offset past the HWM,
    // via the two-phase scale-safe global rank (ScalableRank) — a batch
    // of ANY size keys without an un-partitioned window.
    factRows(graft.util.ScalableRank.globalRowNumber(cleaned, "o_orderkey"), factHwm)
      .write.mode(SaveMode.Append).partitionBy("load_year").parquet(factPath)

    // QC gate (`Airflow.py:66-73`): volumes, key nullability, key
    // uniqueness and both FK orphan counts in ONE aggregate over ONE
    // fact scan (the dims join in as broadcast key sets)
    def published(path: String, of: DataFrame) = spark.read.schema(of.schema).parquet(path)
    val qc = QualityChecks.orphanSummaryOnePass(
      spark.read.schema(factSchema).parquet(factPath),
      Seq(("cust_orphans", published(s"$warehouseDir/customer_dim", customerDim),
          "customer_id", "customer_id"),
        ("date_orphans", published(datePath, dateDim), "date_id", "date_id")),
      factMetrics = Seq(
        count(lit(1)).as("loaded"),
        countDistinct(col("fact_id")).as("distinct_keys"),
        sum(when(col("fact_id").isNull || col("customer_id").isNull, 1).otherwise(0))
          .cast("long").as("null_keys"))).first()
    val Seq(loaded, distinctKeys, nullKeys, custOrphans, dateOrphans) =
      (0 until 5).map(qc.getLong)
    cleaned.unpersist()
    RunReport(hwm, factHwm, extracted, loaded,
      qcPassed = distinctKeys == loaded && nullKeys == 0 && custOrphans == 0 && dateOrphans == 0)
  }
}
