package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming CDC path: MemoryStream → transform → in-memory upsert sink.
  * Replays the same batch twice and asserts idempotence (SURVEY §5.4 /
  * T2 effectively-once contract). */
class CdcStreamSpec extends SparkSpecBase {

  private val payloadSchema =
    StructType.fromDDL("id BIGINT, name STRING, amount DOUBLE")

  test("transform → upsert is idempotent under replay and last-write-wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val sink = new CdcStream.InMemorySink
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString

    val writer = CdcStream.run(
      input.toDF().withColumnRenamed("value", "json"),
      payloadSchema, "unit-topic", sink, ckpt)
    val q = writer.start()

    input.addData(
      """{"id": 1, "name": "a", "amount": 10.0}""",
      """{"id": 2, "name": "b", "amount": 20.0}""")
    q.processAllAvailable()
    assert(sink.state.size() == 2)
    assert(sink.state.get("1").getAs[String]("name") == "a")

    // same keys again (replay + update) → still 2 rows, latest value wins
    input.addData(
      """{"id": 1, "name": "a2", "amount": 11.0}""",
      """{"id": 1, "name": "a3", "amount": 12.0}""")
    q.processAllAvailable()
    assert(sink.state.size() == 2)
    assert(sink.state.get("1").getAs[String]("name") == "a3")
    assert(sink.state.get("1").getAs[String]("kafka_topic") == "unit-topic")
    q.stop()
  }

  test("LWW tiebreak by source offset is stable under any repartitioning") {
    import spark.implicits._
    // same pk three times, landed across two source partitions; the
    // winner must be the highest (offset, partition) regardless of how
    // the batch is physically partitioned at dedup time
    val rows = Seq(
      ("k1", "stale", 0, 7L), ("k1", "winner", 1, 9L), ("k1", "old", 1, 3L),
      ("k2", "only", 0, 1L))
      .toDF("kafka_primary_key", "name", CdcStream.SrcPartitionCol, CdcStream.SrcOffsetCol)
    def winners(parts: Int): Map[String, String] =
      CdcStream.dedupLastWrite(rows.repartition(parts))
        .select("kafka_primary_key", "name").as[(String, String)].collect().toMap
    val expected = Map("k1" -> "winner", "k2" -> "only")
    assert(winners(1) === expected)
    assert(winners(4) === expected)
    assert(winners(32) === expected)
  }

  test("LWW by event timestamp beats the offset tiebreak when the payload carries one") {
    import spark.implicits._
    // pk updated across partitions: partition 0 carries a huge offset but
    // an OLDER event time — event-time ordering must pick the true last
    // write; rows without the ts (null) lose to any timestamped row
    val rows = Seq(
      ("k1", "stale_high_offset", 0, 1000000L, Some("2024-01-02 00:00:00")),
      ("k1", "true_last_write", 1, 5L, Some("2024-01-03 00:00:00")),
      ("k1", "no_ts", 1, 9L, None))
      .toDF("kafka_primary_key", "name", CdcStream.SrcPartitionCol,
        CdcStream.SrcOffsetCol, "updated_at")
      .withColumn("updated_at", col("updated_at").cast("timestamp"))
    val byTs = CdcStream.dedupLastWrite(rows, eventTsCol = Some("updated_at"))
      .select("name").as[String].collect()
    assert(byTs.toSeq === Seq("true_last_write"))
    // absent column: silently falls back to (offset, partition)
    val fallback = CdcStream.dedupLastWrite(rows.drop("updated_at"),
        eventTsCol = Some("updated_at"))
      .select("name").as[String].collect()
    assert(fallback.toSeq === Seq("stale_high_offset"))
  }

  test("transformInferred short-circuits an empty micro-batch") {
    import spark.implicits._
    val empty = Seq.empty[String].toDF("json")
    val out = CdcStream.transformInferred(empty, "t")
    assert(out.count() === 0) // no payload.* explosion, no PkExtractor failure
    // the empty frame carries the stable metadata core of the output
    // schema, so schema-dependent callers (evolution, pk-selecting
    // sinks) behave identically on empty and non-empty batches
    for (c <- Seq("raw_data", "kafka_primary_key", "kafka_topic", "processed_at"))
      assert(out.columns.contains(c), s"missing $c on empty batch")
    assert(CdcStream.evolution(out,
      Set("raw_data", "kafka_primary_key", "kafka_topic", "processed_at")).isEmpty)
  }

  test("micro-batch transform evaluates once per batch, not once per action") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // identity UDF on the payload column counts row evaluations: the
    // deduped batch is collected once, and routing, counting and both
    // merges work from those rows, so the transform runs ONCE per row
    val evals = spark.sparkContext.longAccumulator("json_evals")
    val track = udf((s: String) => { evals.add(1); s })
    val input = MemoryStream[String]
    val sink = new CdcStream.InMemorySink
    val dlq = new CdcStream.InMemorySink
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_once").toString
    val q = CdcStream.run(
      input.toDF().select(track(col("value")).as("json")),
      payloadSchema, "t", sink, ckpt,
      deadLetter = Some(dlq), counters = Some(CdcStream.newCounters(spark))).start()
    try {
      input.addData(
        """{"id": 1, "name": "a", "amount": 1.0}""",
        """{"id": 2, "name": "b", "amount": 2.0}""")
      q.processAllAvailable()
      assert(sink.state.size() == 2)
      assert(evals.value === 2L, s"transform ran ${evals.value / 2}x per row")
    } finally q.stop()
  }

  test("per-batch schema inference + evolution: new fields become ADD COLUMNs") {
    import spark.implicits._
    val batch1 = CdcStream.transformInferred(
      Seq("""{"id": 1, "name": "a"}""").toDF("json"), "t")
    assert(batch1.columns.contains("id") && batch1.columns.contains("name"))

    // a later batch carries a new field the sink has never seen
    val batch2 = CdcStream.transformInferred(
      Seq("""{"id": 2, "name": "b", "credit_score": 710}""").toDF("json"), "t")
    val newCols = CdcStream.evolution(batch2, batch1.columns.toSet)
    assert(newCols.map(_.name) === Seq("credit_score"))
    val ddl = graft.sources.JdbcSql.alterAddColumnsSql("t", newCols)
    assert(ddl === Seq("ALTER TABLE t ADD COLUMN IF NOT EXISTS credit_score BIGINT"))
  }

  test("topic routing matches reference substring rules") {
    assert(CdcStream.routeTable("mongo.loan_applications") == "loan_events")
    assert(CdcStream.routeTable("bank-statements") == "transaction_events")
    assert(CdcStream.routeTable("customer.profile") == "customer_events")
    assert(CdcStream.routeTable("Other Topic!") == "other_topic")
  }
}
