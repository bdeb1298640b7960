package graft

import graft.sources.BucketedLayout
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** The one session policy: per-query conf overrides live on clones that
  * inherit the caller's session and never write to it, and no `main`
  * builds its own session. */
class SessionsSpec extends SparkSpecBase {

  test("withConf clones keep the caller's confs, temp views and listeners and leave its conf alone") {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s.range(4).createOrReplaceTempView("sessions_spec_view")
    val seen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.countDown()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val before = s.conf.getAll
      val c = Sessions.withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      assert(c.conf.get("spark.sql.autoBroadcastJoinThreshold") === "-1")
      assert(c.conf.get("spark.sql.shuffle.partitions") === "3")
      assert(c.table("sessions_spec_view").count() === 4)
      assert(seen.await(30, TimeUnit.SECONDS), "the caller's listener never saw the clone's query")
      assert(s.conf.getAll === before)
    } finally s.listenerManager.unregister(listener)
  }

  test("x140, q_bucketed_join and bucketedJoinAgg leave the caller's conf unchanged") {
    // a fresh runtime conf: a value another suite left on the shared
    // session cannot hide a leak here
    val s = spark.newSession()
    val before = s.conf.getAll
    try {
      SparkEntry.queries("x140_runtime_filter")(s, sfDir).collect()
      SparkEntry.queries("q_bucketed_join")(s, sfDir).collect()
      BucketedLayout.bucketedJoinAgg(s).collect()
      assert(s.conf.getAll === before)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS ${BucketedLayout.liTable}")
      s.sql(s"DROP TABLE IF EXISTS ${BucketedLayout.ordTable}")
    }
  }

  test("src/main builds a SparkSession in Sessions alone (CdcRunner's spark-submit entry aside)") {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    val src = files(new java.io.File("src/main/scala"))
    assert(src.nonEmpty)
    def code(f: java.io.File): Seq[String] =
      scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    val builders = src.filter(_.getName != "CdcRunner.scala")
      .flatMap(f => code(f).filter(_.contains("SparkSession.builder()")).map(_ => f.getName))
    assert(builders === Seq("Sessions.scala"))
    assert(src.count(f => code(f).exists(_.contains("object PlanDump"))) === 1)
  }
}
