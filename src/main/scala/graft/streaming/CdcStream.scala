package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._
import graft.cdc.{JsonFlatten, NameNormalizer, PkExtractor}

/** Structured-Streaming CDC plane — replaces the reference's single-threaded
  * kafka-python loop (`/root/reference/mongo_postgres_cdc.py:289-356,429-476`)
  * with a checkpointed micro-batch pipeline (SURVEY §2.7, §3.2):
  *
  *   kafka/file source → from_json → flatten → normalize names → extract pk
  *   → dedup within batch (last-write-wins) → foreachBatch(idempotent upsert)
  *
  * Checkpointed offsets + idempotent upsert ⇒ effectively-once (T2); the
  * reference is at-least-once with per-message transactions.
  */
object CdcStream {

  /** Pluggable per-batch sink. JDBC implementation issues
    * `JdbcSql.upsertSql`; tests use an in-memory map. */
  trait UpsertSink extends Serializable {
    def merge(batch: DataFrame, pkCol: String): Unit
  }

  /** Last-write-wins in-memory sink for tests and local smoke — the
    * idempotence contract is identical to the JDBC ON CONFLICT path. */
  class InMemorySink extends UpsertSink {
    val state = new java.util.concurrent.ConcurrentHashMap[String, Row]()
    override def merge(batch: DataFrame, pkCol: String): Unit =
      batch.collect().foreach(r => state.put(r.getAs[String](pkCol), r))
  }

  /** Source-order metadata carried through the transform so the
    * within-batch last-write-wins dedup has a deterministic tiebreak
    * (Kafka partition/offset = arrival order, as the reference's
    * sequential consumer implied). Names are pre-normalized (lowercase,
    * underscores) so NameNormalizer passes them through unchanged. */
  val SrcPartitionCol = "__graft_src_partition"
  val SrcOffsetCol = "__graft_src_offset"

  /** Marker set by [[transform]] when `from_json` could not parse the
    * payload — the T7 dead-letter routing criterion. PERMISSIVE-mode
    * `from_json` never yields a null struct in Spark 3+ (malformed ⇒
    * all-null fields), so detection goes through a corrupt-record
    * column appended to the parse schema. */
  val ParseErrorCol = "__graft_parse_error"
  private val CorruptCol = "__graft_corrupt"

  /** S4 (`mongo_postgres_cdc.py:382-401`): Kafka source with earliest reset.
    * maxOffsetsPerTrigger bounds batch size like the reference's
    * max_poll_records, but per-trigger across all partitions. */
  def kafkaSource(spark: SparkSession, bootstrap: String, topics: String,
                  maxPerTrigger: Long = 10000L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxPerTrigger)
      .load()
      .select(col("topic"), col("value").cast("string").as("json"),
        col("partition").as(SrcPartitionCol), col("offset").as(SrcOffsetCol))

  /** P7 (`mongo_postgres_cdc.py:76-88`): substring topic→table routing. */
  def routeTable(topic: String): String = {
    val t = topic.toLowerCase
    if (t.contains("loan")) "loan_events"
    else if (t.contains("transaction") || t.contains("bank")) "transaction_events"
    else if (t.contains("customer")) "customer_events"
    else NameNormalizer.normalize(topic)
  }

  private def orderingCols(df: DataFrame): Seq[String] =
    Seq(SrcPartitionCol, SrcOffsetCol).filter(df.columns.contains)

  /** The batch-shape transform (pure, reused by tests and the stream):
    * json string + topic → flattened, normalized, keyed, metadata-stamped.
    * Source-order columns ([[SrcPartitionCol]]/[[SrcOffsetCol]]), when the
    * source carries them, pass through for the LWW tiebreak. */
  def transform(raw: DataFrame, payloadSchema: DataType, topic: String): DataFrame = {
    // the raw payload travels under an internal name so the reserved-name
    // policy (F20) can't rename the real metadata column
    val keep = col("json").as("__graft_raw") +: orderingCols(raw).map(col)
    val (parseSchema, parseError) = payloadSchema match {
      case st: StructType =>
        (st.add(CorruptCol, org.apache.spark.sql.types.StringType),
          col(s"payload.$CorruptCol").isNotNull)
      case dt => (dt, col("payload").isNull)
    }
    val parsed = raw
      .withColumn("payload", from_json(col("json"), parseSchema,
        Map("columnNameOfCorruptRecord" -> CorruptCol)))
      .select(keep :+ parseError.as(ParseErrorCol) :+ col("payload.*"): _*)
      .drop(CorruptCol)
    keyed(parsed, topic)
  }

  /** The tail both transforms share: flatten → normalize → key, then the
    * raw payload under its output name and the metadata stamp. */
  private def keyed(parsed: DataFrame, topic: String): DataFrame =
    PkExtractor.withPrimaryKey(NameNormalizer(JsonFlatten.flatten(parsed)))
      .withColumnRenamed("__graft_raw", "raw_data")
      .withColumn("kafka_topic", lit(topic))
      .withColumn("processed_at", current_timestamp())

  /** F22/§7.1 (the reference's per-message inference, batch-granular):
    * infer the payload schema from the micro-batch's own JSON, flatten/
    * normalize/key as usual. Called inside `foreachBatch`, where the
    * schema may differ batch to batch; [[evolution]] computes the ALTER
    * columns against the sink's known schema. The reference crashed on
    * new fields (SURVEY §8.10) — here they become ADD COLUMNs. */
  def transformInferred(raw: DataFrame, topic: String): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    // empty micro-batches are routine in streaming: inference over zero
    // rows yields a fieldless schema and `payload.*` expands to nothing,
    // so short-circuit with the stable METADATA core of the output
    // schema (raw_data/pk/topic/processed_at + ordering cols) — payload
    // columns are batch-dependent by design, but schema-dependent
    // callers (evolution(), a sink selecting pk columns) must never see
    // the raw json/topic shape on an empty batch, or they would emit
    // bogus ADD COLUMNs / throw on a missing pk column
    if (raw.isEmpty)
      return raw
        .select(col("json").cast("string").as("raw_data") +: orderingCols(raw).map(col): _*)
        .withColumn("kafka_primary_key", lit(null).cast("string"))
        .withColumn("kafka_topic", lit(topic))
        .withColumn("processed_at", current_timestamp())
    val inferred = spark.read.json(raw.select(col("json")).as[String])
    val keep = col("json").as("__graft_raw") +: orderingCols(raw).map(col)
    val parsed = raw.withColumn("payload",
        from_json(col("json"), inferred.schema))
      .select(keep :+ col("payload.*"): _*)
    keyed(parsed, topic)
  }

  /** Columns this batch carries that the sink table does not yet have —
    * the input to `JdbcSql.alterAddColumnsSql`. */
  def evolution(batch: DataFrame, knownColumns: Set[String]): Seq[org.apache.spark.sql.types.StructField] =
    batch.schema.fields.toSeq.filterNot(f => knownColumns.contains(f.name))

  /** Within-batch last-write-wins dedup. "Last" = highest source
    * (offset, partition) when the source carries them ([[kafkaSource]]
    * does), stable under ANY repartitioning of the batch. Within one
    * Kafka partition that is true arrival order, as the reference's
    * sequential consumer upsert implied (`mongo_postgres_cdc.py:359-380`).
    * ACROSS partitions it is a deterministic TIEBREAK, not arrival
    * order — Kafka offsets are only comparable within a partition, so a
    * pk whose updates span partitions resolves reproducibly but
    * arbitrarily (partition 0 offset 10⁶ beats partition 1 offset 5
    * regardless of wall-clock arrival). Keys that need cross-partition
    * ordering must carry an event timestamp in the payload and order by
    * that first, falling back to (offset, partition) — keyed topics
    * (the reference's setup: pk = Kafka message key) never hit the
    * case, since a key lives in exactly one partition. Sources without
    * offsets (test MemoryStreams, files) fall back to
    * `monotonically_increasing_id` — best-effort arrival order, only
    * deterministic for a single-partition batch.
    *
    * `eventTsCol`: when the payload carries an event timestamp, pass its
    * column name to get TRUE cross-partition last-write-wins — the
    * winner is the highest (event_ts, offset, partition), so a pk whose
    * updates span Kafka partitions resolves by event time instead of
    * the arbitrary-but-deterministic offset tiebreak. Ignored if the
    * column is absent from the batch (schema-inferred streams may only
    * sometimes carry it). */
  def dedupLastWrite(batch: DataFrame, pk: String = "kafka_primary_key",
                     eventTsCol: Option[String] = None): DataFrame = {
    val present = Seq(SrcOffsetCol, SrcPartitionCol).filter(batch.columns.contains)
    val src =
      if (present.nonEmpty) present.map(col(_).desc)
      else Seq(monotonically_increasing_id().desc)
    val ord = eventTsCol.filter(batch.columns.contains)
      .map(c => col(c).desc_nulls_last +: src).getOrElse(src)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk).orderBy(ord: _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** T7 error counters: rows merged vs rows quarantined — the Spark
    * shape of the reference's per-message error/backoff counters
    * (`mongo_postgres_cdc.py:439-453,462-464`), visible in the UI and
    * queryable after/while the stream runs. */
  case class Counters(merged: org.apache.spark.util.LongAccumulator,
                      quarantined: org.apache.spark.util.LongAccumulator)

  def newCounters(spark: SparkSession): Counters = Counters(
    spark.sparkContext.longAccumulator("cdc_rows_merged"),
    spark.sparkContext.longAccumulator("cdc_rows_quarantined"))

  private def quarantineFrame(rows: DataFrame, pk: String, reason: String): DataFrame =
    rows.select(col(pk), col("raw_data"), col("kafka_topic"),
      lit(reason).as("error"), current_timestamp().as("failed_at"))

  /** Merge driver-side rows into `sink` as one local frame (a
    * `LocalRelation`: trivial to plan, one job per merge). Without a
    * dead-letter sink a failed merge propagates and stops the stream.
    * With one, the rows are bisected so only the rows the sink actually
    * rejects are quarantined — the reference's per-message
    * count-and-continue semantics (`mongo_postgres_cdc.py:439-453`) at
    * O(log batch) merge attempts for one poison row, instead of
    * diverting the entire good batch. */
  private def mergeBisect(rows: Array[Row], schema: StructType,
                          spark: SparkSession, sink: UpsertSink, dl: Option[UpsertSink],
                          pk: String, counters: Option[Counters]): Unit = {
    if (rows.isEmpty) return
    val df = spark.createDataFrame(rows.toSeq.asJava, schema)
    try {
      sink.merge(df, pk)
      counters.foreach(_.merged.add(rows.length))
    } catch {
      case e: Exception if dl.isDefined && rows.length == 1 =>
        val reason = s"merge_failed: ${Option(e.getMessage).getOrElse(e.getClass.getName).take(500)}"
        dl.get.merge(quarantineFrame(df, pk, reason), pk)
        counters.foreach(_.quarantined.add(1))
      case _: Exception if dl.isDefined =>
        val (l, r) = rows.splitAt(rows.length / 2)
        mergeBisect(l, schema, spark, sink, dl, pk, counters)
        mergeBisect(r, schema, spark, sink, dl, pk, counters)
    }
  }

  /** Wire the full stream: dedup within watermark, then merge per batch.
    * `AvailableNow` drains a backlog and stops (catch-up mode, T1).
    *
    * Each micro-batch is evaluated exactly once: the transform plus the
    * last-write-wins window is collected to the driver in one query,
    * routed and counted there, and each sink merges a local frame of
    * its rows. The driver therefore holds one deduped micro-batch at a
    * time, so the source must bound it: `maxOffsetsPerTrigger`
    * ([[kafkaSource]]) or `maxFilesPerTrigger` for file sources.
    *
    * T7 dead-letter (`mongo_postgres_cdc.py:439-453` intent): with a
    * `deadLetter` sink, rows whose payload failed to parse are routed to
    * quarantine (pk + raw payload + reason) instead of landing as
    * all-null rows, and a merge failure quarantines only the rows the
    * sink rejects and lets the stream continue — one poison message no
    * longer fails the micro-batch, matching the reference's
    * count-and-continue loop. Without a `deadLetter` sink, behavior is
    * strict: merge errors propagate and stop the stream. */
  def run(source: DataFrame, payloadSchema: DataType, topic: String,
          sink: UpsertSink, checkpointDir: String,
          availableNow: Boolean = false,
          deadLetter: Option[UpsertSink] = None,
          counters: Option[Counters] = None): DataStreamWriter[Row] = {
    val shaped = transform(source, payloadSchema, topic)
    val internal = Set(ParseErrorCol, SrcPartitionCol, SrcOffsetCol)
    val writer = shaped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // last-write-wins inside the batch, then idempotent merge (D2/T2)
        val pk = "kafka_primary_key"
        val spark = batch.sparkSession
        val deduped = dedupLastWrite(batch, pk)
        val schema = deduped.schema
        val rows = deduped.collect()
        val marker = schema.fieldNames.indexOf(ParseErrorCol)
        val (bad, kept) =
          if (marker >= 0 && deadLetter.isDefined) rows.partition(_.getBoolean(marker))
          else (Array.empty[Row], rows)
        if (bad.nonEmpty) {
          val quarantined = spark.createDataFrame(bad.toSeq.asJava, schema)
          deadLetter.get.merge(quarantineFrame(quarantined, pk, "parse_error"), pk)
          counters.foreach(_.quarantined.add(bad.length))
        }
        val keep = schema.fields.indices.filterNot(i => internal(schema(i).name))
        val good = kept.map(r => Row.fromSeq(keep.map(r.get)))
        mergeBisect(good, StructType(keep.map(schema(_))), spark,
          sink, deadLetter, pk, counters)
      }
    if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer
  }
}
