package graft

import graft.sources.BucketedLayout
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.PlanUtil
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.Checkpoints
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The one session policy: per-query state (conf, temp views, optimizer
  * rules) lives on clones that inherit the caller's session and never
  * write to it, and no `main` builds its own session. */
class SessionsSpec extends SparkSpecBase with Checkpoints {

  private def relations(p: LogicalPlan): Seq[LogicalRelation] =
    p.collect { case r: LogicalRelation => r }

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

  test("concurrent stream gates, x166 cascades and SQL-view gates leave the caller's session as it was") {
    val s = spark.newSession()
    val confBefore = s.conf.getAll
    val tablesBefore = s.catalog.listTables().collect().map(_.name).toSet
    val names = Seq("x190_stream_tumbling", "x181_retract_sink", "x166_star_bi_cascade",
      "x166_star_bi_cascade", "s5_sql_scan", "a14_grouping_sets", "p10_not_in_nullable",
      "q_star_bi_plain")
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // collect inside the task, so each plan is optimized while the
    // others run
    val runs = try Await.result(Future.sequence(names.map(n => Future(n -> Try {
      val df = SparkEntry.queries(n)(s, sfDir)
      (df, df.collect().toSeq)
    }))), 10.minutes) finally pool.shutdown()

    val cp = new Checkpoint
    cp { assert(s.conf.getAll === confBefore) }
    cp { assert(s.experimental.extraOptimizations.isEmpty) }
    cp { assert(s.catalog.listTables().collect().map(_.name).toSet === tablesBefore) }
    for ((n, r) <- runs) cp { assert(r.isSuccess, s"$n: $r") }
    val plain = runs.collectFirst { case ("q_star_bi_plain", r) => r }.get
    cp {
      assert(plain.map(r => relations(r._1.queryExecution.optimizedPlan).size).toOption === Some(2),
        "q_star_bi_plain must keep both base relations")
    }
    for (("x166_star_bi_cascade", r) <- runs)
      cp { assert(r.map(_._2).toOption === plain.map(_._2).toOption) }
    cp.reportAll()
  }

  test("a caller's StreamingQueryListener sees the progress of x191's stream, which runs on a clone") {
    val s = spark.newSession()
    val rows = new ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        rows.add(e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      SparkEntry.queries("x191_stream_sessions")(s, sfDir)
      PlanUtil.drainListeners(s)
      assert(!rows.isEmpty, "the caller's listener saw no micro-batch")
      assert(rows.asScala.sum > 0, "the caller's listener saw no input rows")
    } finally s.streams.removeListener(listener)
  }

  private def sources: Seq[java.io.File] = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName.endsWith(".scala")))
    files(new java.io.File("src/main/scala"))
  }

  private def code(f: java.io.File): Seq[String] =
    scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }

  test("src/main builds a SparkSession in Sessions alone (CdcRunner's spark-submit entry aside)") {
    val src = sources
    assert(src.nonEmpty)
    val builders = src.filter(_.getName != "CdcRunner.scala")
      .flatMap(f => code(f).filter(_.contains("SparkSession.builder()")).map(_ => f.getName))
    assert(builders === Seq("Sessions.scala"))
    assert(src.count(f => code(f).exists(_.contains("object PlanDump"))) === 1)
  }

  // Tables.events no longer sets the nanos flag on the session it reads
  // through, so no exception remains; the name keeps its old wording
  test("src/main writes session conf and optimizer rules in Sessions alone (Tables.events aside)") {
    val assignsRules = """experimental\.\w+\s*(\+\+)?=(?!=)""".r
    val writes = sources.filter(_.getName != "Sessions.scala").flatMap { f =>
      code(f).filter(l => l.contains("conf.set(") || l.contains("conf.unset(") ||
          assignsRules.findFirstIn(l).isDefined)
        .map(l => s"${f.getName}: ${l.trim}")
    }
    assert(writes.isEmpty, writes.mkString("\n"))
  }
}
