package graft.streaming

import graft.{Sessions, SparkSpecBase}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Pins the transformWithState (state v2) face: named per-key state
  * variables on the RocksDB provider, running totals accumulating
  * across micro-batches, keys isolated, Update-mode emission per batch.
  * The provider conf must be set before the streaming query plans its
  * state store, so the streams run on a clone of the shared session
  * that carries it: the other suites in the JVM keep the default
  * provider.
  */
class StatefulCountsSpec extends SparkSpecBase {

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private lazy val rocks: SparkSession =
    Sessions.withConf(spark, providerKey -> StatefulCounts.RocksDbProvider)

  test("the RocksDB provider stays on the clone") {
    assert(rocks.conf.get(providerKey) === StatefulCounts.RocksDbProvider)
    assert(!spark.conf.getOption(providerKey).contains(StatefulCounts.RocksDbProvider))
  }

  test("running totals accumulate across micro-batches, per key") {
    import rocks.implicits._
    implicit val sq = rocks.sqlContext
    val input = MemoryStream[UserEvent]
    val q = StatefulCounts.runningTotals(input.toDS())
      .writeStream.format("memory").queryName("twstate")
      .outputMode("update").start()
    try {
      input.addData(UserEvent(1, 2.0), UserEvent(1, 3.0), UserEvent(2, 10.0))
      q.processAllAvailable()
      input.addData(UserEvent(1, 5.0))
      q.processAllAvailable()

      val rows = rocks.table("twstate").as[UserRunning].collect()
      // batch 1 emissions: user 1 (n=2, 5.0), user 2 (n=1, 10.0)
      assert(rows.contains(UserRunning(1, 2, 5.0)))
      assert(rows.contains(UserRunning(2, 1, 10.0)))
      // batch 2: user 1's state CARRIED (n=3, 10.0); user 2 untouched —
      // no new emission, state isolated per key
      assert(rows.contains(UserRunning(1, 3, 10.0)))
      assert(rows.count(_.user_id == 2) === 1)
    } finally q.stop()
  }

  test("event-time timers close a session when the watermark passes the gap") {
    import rocks.implicits._
    implicit val sq = rocks.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[StampedEvent]
    // 10-minute gap, zero lateness allowance
    val q = StatefulCounts.sessionCloses(input.toDS(), "0 seconds",
        gapMs = 10L * 60 * 1000)
      .writeStream.format("memory").queryName("twtimer")
      .outputMode("append").start()
    try {
      // user 1's burst: two events 5 min apart — ONE session (the
      // second event replaces the pending timer)
      input.addData(StampedEvent(1, t("2024-01-01 00:00:00")),
        StampedEvent(1, t("2024-01-01 00:05:00")))
      q.processAllAvailable()
      // nothing closed yet: watermark is still at the burst
      assert(rocks.table("twtimer").count() === 0)
      // another key's event advances event time past 00:15 → watermark
      // passes user 1's timer; a follow-up batch delivers the expiry
      input.addData(StampedEvent(2, t("2024-01-01 01:00:00")))
      q.processAllAvailable()
      input.addData(StampedEvent(2, t("2024-01-01 01:00:01")))
      q.processAllAvailable()
      val closed = rocks.table("twtimer").as[SessionClose].collect()
      assert(closed.exists(c => c.user_id == 1 && c.n_events == 2 &&
        c.closed_at_ms == t("2024-01-01 00:15:00").getTime),
        s"expected user 1's 2-event session closed at 00:15, got ${closed.mkString(",")}")
      // user 2's session stays OPEN (watermark never passed its gap)
      assert(!closed.exists(_.user_id == 2))
    } finally q.stop()
  }

  test("an in-allowance out-of-order event in a later batch never pulls the timer earlier") {
    import rocks.implicits._
    implicit val sq = rocks.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[StampedEvent]
    // 10-minute gap, 30-minute lateness allowance: late events are
    // legitimate input here, and each must extend-or-keep the close
    // time — the batch-local-max bug replaced the 00:30 timer with
    // 00:05+gap = 00:15 and split the session in two
    val q = StatefulCounts.sessionCloses(input.toDS(), "30 minutes",
        gapMs = 10L * 60 * 1000)
      .writeStream.format("memory").queryName("twtimer_ooo")
      .outputMode("append").start()
    try {
      input.addData(StampedEvent(1, t("2024-01-01 00:00:00")),
        StampedEvent(1, t("2024-01-01 00:20:00")))
      q.processAllAvailable()
      // the out-of-order straggler, well inside the allowance
      input.addData(StampedEvent(1, t("2024-01-01 00:05:00")))
      q.processAllAvailable()
      // advance the watermark past the WRONG close time (00:15) but
      // not the right one (00:30): wm = 00:50 − 30 min = 00:20
      input.addData(StampedEvent(2, t("2024-01-01 00:50:00")))
      q.processAllAvailable()
      input.addData(StampedEvent(2, t("2024-01-01 00:51:00")))
      q.processAllAvailable()
      assert(rocks.table("twtimer_ooo").count() === 0,
        "session must NOT close at straggler+gap while last-event+gap is ahead")
      // now pass the RIGHT close time: wm = 01:10 − 30 min = 00:40
      input.addData(StampedEvent(2, t("2024-01-01 01:10:00")))
      q.processAllAvailable()
      input.addData(StampedEvent(2, t("2024-01-01 01:11:00")))
      q.processAllAvailable()
      val closed = rocks.table("twtimer_ooo").as[SessionClose].collect()
      assert(closed.exists(c => c.user_id == 1 && c.n_events == 3 &&
        c.closed_at_ms == t("2024-01-01 00:30:00").getTime),
        s"expected ONE 3-event session closed at 00:30, got ${closed.mkString(",")}")
    } finally q.stop()
  }
}
