package graft.streaming

import graft.SparkSpecBase
import graft.app.CdcRunner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Paths}

/** Batch replay against a real database: a sink commits micro-batch k's
  * upsert into Derby and then the query dies before the batch's offsets
  * commit. A restart from the same checkpoint redelivers batch k, so its
  * rows are merged a second time; the idempotent upsert must leave
  * exactly the last write per key and one quarantine row per malformed
  * event. */
class CdcReplaySpec extends SparkSpecBase {

  private val payloadSchema = StructType.fromDDL("id BIGINT, seq BIGINT, v STRING")
  private val Table = "replay_events"

  /** Stands in for the driver dying after the sink's commit. An `Error`,
    * so the dead-letter path's merge-failure bisection does not absorb
    * it: the query must die, as it would with its process. */
  private final class InjectedCrash extends Error("injected crash after commit")

  /** Merges into `inner`, records each merge's row count, and crashes
    * right after the `crashAt`-th merge (1-based) has committed. */
  private final class CrashingSink(inner: CdcStream.UpsertSink, crashAt: Int)
      extends CdcStream.UpsertSink {
    val merged = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    override def merge(batch: DataFrame, pkCol: String): Unit = {
      inner.merge(batch, pkCol)
      merged.add(batch.count())
      if (merged.size == crashAt) throw new InjectedCrash
    }
  }

  private def createTables(url: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try Seq(
      s"""CREATE TABLE $Table (raw_data VARCHAR(1024), id BIGINT, seq BIGINT, v VARCHAR(64),
           kafka_primary_key VARCHAR(64) PRIMARY KEY, kafka_topic VARCHAR(128),
           processed_at TIMESTAMP)""",
      s"""CREATE TABLE ${Table}_quarantine (kafka_primary_key VARCHAR(64) PRIMARY KEY,
           raw_data VARCHAR(1024), kafka_topic VARCHAR(128), error VARCHAR(600),
           failed_at TIMESTAMP)""").foreach(conn.createStatement().execute)
    finally conn.close()
  }

  private def rows[A](url: String, sql: String)(f: java.sql.ResultSet => A): Seq[A] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      Iterator.continually(rs).takeWhile(_.next()).map(f).toList
    } finally conn.close()
  }

  /** One micro-batch per file (`maxFilesPerTrigger` = 1); `seq` is the
    * source offset, so last-write-wins follows it. */
  private def source(dir: String) =
    spark.readStream.option("maxFilesPerTrigger", 1).text(dir)
      .select(col("value").as("json"),
        lit(0).as(CdcStream.SrcPartitionCol),
        get_json_object(col("value"), "$.seq").cast("long").as(CdcStream.SrcOffsetCol))

  /** Three files (batches 0, 1, 2) over overlapping keys, a malformed
    * event in batch 2 and, with `malformedInK`, one in batch k = 1. The
    * query crashes right after batch k's main merge commits (with
    * `crashInDeadLetter`, its quarantine merge), restarts from its
    * checkpoint and drains the rest. */
  private def replay(tag: String, malformedInK: Boolean, crashInDeadLetter: Boolean): Unit = {
    val url = s"jdbc:derby:memory:graft_replay_$tag;create=true"
    createTables(url)
    val dir = Files.createTempDirectory(s"graft_replay_in_$tag").toString
    val ckpt = Files.createTempDirectory(s"graft_replay_ckpt_$tag").toString
    def event(id: Int, seq: Long) = s"""{"id": $id, "seq": $seq, "v": "s$seq"}"""
    val files = Seq(
      (0 until 20).map(i => event(i, 100L + i)),
      (0 until 10).map(i => event(i, 200L + i)) ++
        (if (malformedInK) Seq("not json {{{ in batch k") else Nil),
      (5 until 15).map(i => event(i, 300L + i)) :+ "not json {{{ in batch k+1")
    files.zipWithIndex.foreach { case (lines, i) =>
      Files.write(Paths.get(dir, s"f$i.json"), lines.mkString("\n").getBytes("UTF-8"))
    }
    val lastWrite = files.flatten.filterNot(_.startsWith("not json"))
      .map(l => l.split("[:,]")(1).trim.toLong -> l.split("[:,]")(3).trim.toLong)
      .groupBy(_._1).map { case (k, vs) => k.toString -> vs.map(_._2).max }
    val malformed = files.flatten.count(_.startsWith("not json"))

    def sinks(crash: Boolean) = {
      val main = new CdcRunner.JdbcUpsertSink(url, Table)
      val dl = new CdcRunner.JdbcUpsertSink(url, s"${Table}_quarantine")
      // the main sink merges once per batch: its 2nd merge is batch k's;
      // the dead-letter sink merges only batches with a malformed event
      val never = Int.MaxValue
      val mainAt = if (crash && !crashInDeadLetter) 2 else never
      val dlAt = if (crash && crashInDeadLetter) 1 else never
      (new CrashingSink(main, mainAt), new CrashingSink(dl, dlAt))
    }
    def start(main: CdcStream.UpsertSink, dl: CdcStream.UpsertSink) =
      CdcStream.run(source(dir), payloadSchema, "replay.events", main, ckpt,
        availableNow = true, deadLetter = Some(dl)).start()

    val (main1, dl1) = sinks(crash = true)
    val q1 = start(main1, dl1)
    val died = intercept[StreamingQueryException](q1.awaitTermination())
    assert(Iterator.iterate[Throwable](died)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[InjectedCrash]), died)
    // batch k's upsert is committed in Derby, its offsets are not
    val kCommitted = if (crashInDeadLetter) rows(url,
      s"SELECT count(*) FROM ${Table}_quarantine")(_.getLong(1)).head === 1L
    else rows(url, s"SELECT seq FROM $Table WHERE kafka_primary_key = '3'")(_.getLong(1)) === Seq(203L)
    assert(kCommitted, "the crash must come after batch k's commit")

    val (main2, dl2) = sinks(crash = false)
    val q2 = start(main2, dl2)
    q2.awaitTermination()
    // batch k is redelivered: the restart's first main merge is its 10 rows
    assert(main2.merged.peek() === 10L, s"restart merged ${main2.merged}")

    val landed = rows(url, s"SELECT kafka_primary_key, seq FROM $Table")(r =>
      r.getString(1) -> r.getLong(2))
    assert(landed.map(_._1).distinct.size === landed.size, "a key is duplicated")
    assert(landed.toMap === lastWrite)
    val quarantined = rows(url, s"SELECT raw_data, error FROM ${Table}_quarantine")(r =>
      r.getString(1) -> r.getString(2))
    assert(quarantined.size === malformed, s"quarantine holds $quarantined")
    assert(quarantined.map(_._1).toSet === files.flatten.filter(_.startsWith("not json")).toSet)
    assert(quarantined.forall(_._2 == "parse_error"))
  }

  test("replayed batch after a crash past the sink commit: last write per key, no duplicates") {
    replay("clean_k", malformedInK = false, crashInDeadLetter = false)
  }

  test("replayed batch k carrying a malformed event: one quarantine row per malformed event") {
    replay("malformed_k", malformedInK = true, crashInDeadLetter = false)
  }

  test("crash right after batch k's quarantine commit, before its main merge") {
    replay("dl_crash_k", malformedInK = true, crashInDeadLetter = true)
  }
}
