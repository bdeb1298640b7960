package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** JDBC source/sink utilities — SURVEY §2.1 S1/S2/K1/K2/K3.
  *
  * Reads are partitioned (`partitionColumn`/`numPartitions`) so a 100 TB
  * extraction fans out across executors instead of funneling through one
  * connection (the reference read single-threaded —
  * `/root/reference/spark_etl.py:134-138`), and watermark lookups push the
  * aggregate into the database instead of scanning the table
  * (`spark_etl.py:120-127` pulled the whole fact table for one max()).
  */
object JdbcSource {

  /** S2: partitioned full-table read. */
  def read(spark: SparkSession, url: String, table: String,
           props: Map[String, String] = Map.empty,
           partitionColumn: Option[String] = None,
           lowerBound: Long = 0L, upperBound: Long = Long.MaxValue,
           numPartitions: Int = 8): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(props)
    val r = partitionColumn match {
      case Some(c) => base.option("partitionColumn", c)
        .option("lowerBound", lowerBound).option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
      case None => base
    }
    r.load()
  }

  /** S1 (fixed per SURVEY §4 O-3): watermark lookup pushed down as a query
    * option — the DB computes max(), one row crosses the wire. */
  def readMax(spark: SparkSession, url: String, table: String, column: String,
              props: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("query", s"SELECT max($column) AS hwm FROM $table")
      .options(props)
      .load()
}

/** Sink-side SQL generation for the CDC landing plane (K2/K3). Pure
  * string builders from a Spark schema — unit-testable without a live
  * database; executed inside `foreachBatch` per micro-batch. */
object JdbcSql {

  /** Spark type → Postgres DDL type (`mongo_postgres_cdc.py:226-241` intent). */
  def ddlType(dt: DataType): String = dt match {
    case BooleanType            => "BOOLEAN"
    case IntegerType | ShortType | ByteType => "INT"
    case LongType               => "BIGINT"
    case FloatType | DoubleType => "DOUBLE PRECISION"
    case _: DecimalType         => "NUMERIC(38,8)"
    case DateType               => "DATE"
    case TimestampType          => "TIMESTAMP"
    case _                      => "TEXT"
  }

  /** K3 (`mongo_postgres_cdc.py:243-287`): lazy CREATE TABLE from the
    * micro-batch schema + fixed metadata columns + secondary indexes. */
  def createTableSql(table: String, schema: StructType): Seq[String] = {
    val dataCols = schema.fields
      .filterNot(f => f.name == "kafka_primary_key")
      .map(f => s"  ${f.name} ${ddlType(f.dataType)}")
    val ddl =
      s"""CREATE TABLE IF NOT EXISTS $table (
         |  kafka_primary_key TEXT PRIMARY KEY,
         |${dataCols.mkString(",\n")},
         |  raw_data JSONB,
         |  kafka_topic TEXT,
         |  processed_at TIMESTAMP DEFAULT now(),
         |  updated_at TIMESTAMP DEFAULT now()
         |)""".stripMargin
    Seq(ddl,
      s"CREATE INDEX IF NOT EXISTS idx_${table}_topic ON $table (kafka_topic)",
      s"CREATE INDEX IF NOT EXISTS idx_${table}_processed ON $table (processed_at)")
  }

  /** Schema evolution the reference lacks (SURVEY §8.10): ALTER TABLE for
    * columns that appear in later batches. */
  def alterAddColumnsSql(table: String, newCols: Seq[StructField]): Seq[String] =
    newCols.map(f => s"ALTER TABLE $table ADD COLUMN IF NOT EXISTS ${f.name} ${ddlType(f.dataType)}")

  /** K2 (`mongo_postgres_cdc.py:359-380`): idempotent upsert statement.
    * With checkpointed offsets this gives effectively-once delivery. */
  def upsertSql(table: String, columns: Seq[String], pk: String): String = {
    val cols = columns.mkString(", ")
    val placeholders = columns.map(_ => "?").mkString(", ")
    val updates = columns.filterNot(_ == pk)
      .map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO $table ($cols) VALUES ($placeholders) " +
      s"ON CONFLICT ($pk) DO UPDATE SET $updates, updated_at = now()"
  }
}
