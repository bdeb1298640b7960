package graft.streaming

import graft.SparkSpecBase
import graft.app.{CdcRunner, JobBudget}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

/** Full CDC plane end to end: MemoryStream JSON → parse/flatten/
  * normalize/key → per-batch dedup → [[CdcRunner.JdbcUpsertSink]] into
  * embedded Derby — the production sink shape against a real database,
  * with replay idempotence. */
class CdcJdbcEndToEndSpec extends SparkSpecBase {

  private val url = "jdbc:derby:memory:graftcdc;create=true"
  private val payloadSchema = StructType.fromDDL("id BIGINT, name STRING, amount DOUBLE")

  private def query[A](sql: String)(f: java.sql.ResultSet => A): A = {
    val conn = java.sql.DriverManager.getConnection(url)
    try { val rs = conn.createStatement().executeQuery(sql); f(rs) }
    finally conn.close()
  }

  test("stream → JDBC upsert lands in the database and replays idempotently") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the generated DDL is Postgres-flavored (JSONB, now()); on Derby the
    // sink's lazy-DDL attempt fails closed and the pre-created table wins
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE loan_events (
           raw_data VARCHAR(1024), id BIGINT, name VARCHAR(128), amount DOUBLE,
           kafka_primary_key VARCHAR(64) PRIMARY KEY, kafka_topic VARCHAR(128),
           processed_at TIMESTAMP)""")
    catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => }
    finally conn.close()

    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_e2e").toString
    val q = CdcStream.run(
      input.toDF().withColumnRenamed("value", "json"),
      payloadSchema, "mongo.loan_applications",
      new CdcRunner.JdbcUpsertSink(url, "loan_events"), ckpt).start()
    try {
      input.addData(
        """{"id": 1, "name": "a", "amount": 10.0}""",
        """{"id": 2, "name": "b", "amount": 20.0}""")
      q.processAllAvailable()
      assert(query("SELECT count(*) FROM loan_events")(r => { r.next(); r.getLong(1) }) === 2L)

      // replay + newer version of pk 1 within one batch → LWW, still 2 rows
      input.addData(
        """{"id": 1, "name": "a2", "amount": 11.0}""",
        """{"id": 1, "name": "a3", "amount": 12.0}""")
      q.processAllAvailable()
      assert(query("SELECT count(*) FROM loan_events")(r => { r.next(); r.getLong(1) }) === 2L)
      val (name, topic) = query(
        "SELECT name, kafka_topic FROM loan_events WHERE kafka_primary_key = '1'") { r =>
        r.next(); (r.getString(1), r.getString(2))
      }
      assert(name === "a3")
      assert(topic === "mongo.loan_applications")
    } finally q.stop()
  }

  test("T7 dead-letter: poison rows quarantine, good rows land, stream survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      for (ddl <- Seq(
        """CREATE TABLE dlq_events (
             raw_data VARCHAR(1024), id BIGINT, name VARCHAR(16), amount DOUBLE,
             kafka_primary_key VARCHAR(64) PRIMARY KEY, kafka_topic VARCHAR(128),
             processed_at TIMESTAMP)""",
        """CREATE TABLE dlq_events_quarantine (
             kafka_primary_key VARCHAR(64) PRIMARY KEY, raw_data VARCHAR(1024),
             kafka_topic VARCHAR(128), error VARCHAR(600), failed_at TIMESTAMP)"""))
        try conn.createStatement().execute(ddl)
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => }
    } finally conn.close()

    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_dlq").toString
    val counters = CdcStream.newCounters(spark)
    val q = CdcStream.run(
      input.toDF().withColumnRenamed("value", "json"),
      payloadSchema, "dlq.events",
      new CdcRunner.JdbcUpsertSink(url, "dlq_events"), ckpt,
      deadLetter = Some(new CdcRunner.JdbcUpsertSink(url, "dlq_events_quarantine")),
      counters = Some(counters)).start()
    try {
      // batch 1: one good row + one malformed-JSON poison row (fully
      // unparseable — a merely-truncated object can still yield a
      // partial result under spark.sql.json.enablePartialResults)
      input.addData(
        """{"id": 10, "name": "ok", "amount": 1.0}""",
        """not json at all {{{""")
      q.processAllAvailable()
      assert(query("SELECT count(*) FROM dlq_events")(r => { r.next(); r.getLong(1) }) === 1L)
      assert(query("SELECT error FROM dlq_events_quarantine")(r => { r.next(); r.getString(1) })
        === "parse_error")

      // batch 2: one row the SINK rejects (name wider than VARCHAR(16))
      // mixed with a healthy row — the bisecting fallback must land the
      // healthy row and quarantine ONLY the poison one (the reference's
      // per-message count-and-continue, not whole-batch diversion)
      input.addData(
        s"""{"id": 12, "name": "${"x" * 64}", "amount": 2.0}""",
        """{"id": 14, "name": "good2", "amount": 4.0}""")
      q.processAllAvailable()
      assert(query("SELECT count(*) FROM dlq_events_quarantine WHERE error LIKE 'merge_failed%'")(
        r => { r.next(); r.getLong(1) }) === 1L)
      assert(query("SELECT kafka_primary_key FROM dlq_events_quarantine WHERE error LIKE 'merge_failed%'")(
        r => { r.next(); r.getString(1) }) === "12")
      assert(query("SELECT count(*) FROM dlq_events")(r => { r.next(); r.getLong(1) }) === 2L)

      // batch 3: the stream is still alive and still lands good rows
      input.addData("""{"id": 13, "name": "alive", "amount": 3.0}""")
      q.processAllAvailable()
      assert(query("SELECT count(*) FROM dlq_events")(r => { r.next(); r.getLong(1) }) === 3L)
      assert(counters.merged.value === 3L)
      assert(counters.quarantined.value === 2L)
    } finally q.stop()
  }

  test("one micro-batch runs within its Spark job budget and caches nothing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      for (ddl <- Seq(
        """CREATE TABLE budget_events (
             raw_data VARCHAR(1024), id BIGINT, name VARCHAR(16), amount DOUBLE,
             kafka_primary_key VARCHAR(64) PRIMARY KEY, kafka_topic VARCHAR(128),
             processed_at TIMESTAMP)""",
        """CREATE TABLE budget_events_quarantine (
             kafka_primary_key VARCHAR(64) PRIMARY KEY, raw_data VARCHAR(1024),
             kafka_topic VARCHAR(128), error VARCHAR(600), failed_at TIMESTAMP)"""))
        try conn.createStatement().execute(ddl)
        catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => }
    } finally conn.close()

    // the CacheManager as each merge sees it, i.e. while its batch runs
    val duringMerge = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    class Probe(inner: CdcStream.UpsertSink) extends CdcStream.UpsertSink {
      override def merge(batch: org.apache.spark.sql.DataFrame, pkCol: String): Unit = {
        duringMerge.add(cachedEntries)
        inner.merge(batch, pkCol)
      }
    }
    val input = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdc_budget").toString
    val counters = CdcStream.newCounters(spark)
    val q = CdcStream.run(
      input.toDF().withColumnRenamed("value", "json"),
      payloadSchema, "budget.events",
      new Probe(new CdcRunner.JdbcUpsertSink(url, "budget_events")), ckpt,
      deadLetter = Some(new Probe(new CdcRunner.JdbcUpsertSink(url, "budget_events_quarantine"))),
      counters = Some(counters)).start()
    try {
      val before = cachedEntries
      input.addData("""{"id": 1, "name": "warm", "amount": 1.0}""")
      q.processAllAvailable()
      val (_, jobs) = JobBudget.jobsDuring(spark) {
        input.addData("""{"id": 2, "name": "ok", "amount": 2.0}""", """not json at all {{{""")
        q.processAllAvailable()
      }
      input.addData("""{"id": 1, "name": "again", "amount": 3.0}""", """{{{ still not json""")
      q.processAllAvailable()
      // measured: 4 jobs, the one collect of the deduped batch (2 under
      // AQE) and one per merge; 8 when the batch was persisted and
      // re-read by two count jobs
      assert(jobs <= 4, s"a micro-batch with one good and one malformed row took $jobs Spark jobs")
      assert(duringMerge.size === 5)
      assert(duringMerge.toArray.forall(_ == before),
        s"a batch cached its rows: CacheManager entries during merges $duringMerge, before $before")
      assert(cachedEntries === before)
      assert(counters.merged.value === 3L && counters.quarantined.value === 2L)
    } finally q.stop()
  }
}
