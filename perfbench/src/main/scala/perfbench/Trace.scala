package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments. Attached through public APIs only: a
  * `SparkListener` (jobs, stages, tasks), a `QueryExecutionListener`
  * (Catalyst phase times, write targets) and spans that the benchmark
  * opens around every library call it makes, tagged onto Spark jobs with
  * `setLocalProperty`. Everything stays in memory until [[write]].
  *
  * When tracing is off, [[span]] runs its body and records nothing, and
  * no listener is attached. */
final class Trace(spark: SparkSession, val enabled: Boolean, cores: Int) {
  import Trace._

  private val sc = spark.sparkContext
  private val nextSpan = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageOfJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val queries = new ConcurrentLinkedQueue[QeRec]()
  private val events = new AtomicLong(0)
  private val openSpan = new ThreadLocal[Integer]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      jobs.add(JobRec(e.jobId, tag, e.time, new AtomicLong(-1L)))
      e.stageIds.foreach(s => stageOfJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet()
      jobs.asScala.find(_.jobId == e.jobId).foreach(_.endMs.set(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      events.incrementAndGet()
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      queries.add(describe(qe, funcName, durationNs))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var attached = false
  /** Start recording (a no-op when tracing is off). */
  def attach(): Unit = if (enabled && !attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Wait until the asynchronous listener buses have delivered what the
    * traced window produced, then detach. */
  def detach(): Unit = if (attached) {
    var last = -1L
    val deadline = System.nanoTime() + 5000000000L
    while (events.get() != last && System.nanoTime() < deadline) {
      last = events.get(); Thread.sleep(250)
    }
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** The calling thread's innermost open span (0: none). */
  def currentSpan: Int = Option(openSpan.get()).map(_.intValue).getOrElse(0)

  /** Run `f` as a span named `name`, child of `parent` (by default the
    * calling thread's open span). */
  def span[A](name: String, parent: Int = -1)(f: => A): A =
    if (!attached) f
    else {
      val id = nextSpan.incrementAndGet()
      val outer = currentSpan
      val parentId = if (parent >= 0) parent else outer
      val prevProp = sc.getLocalProperty(SpanKey)
      val rec = SpanRec(id, parentId, name, System.currentTimeMillis(), System.nanoTime(), new AtomicLong(-1L))
      spans.add(rec)
      openSpan.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      try f
      finally {
        rec.endNs.set(System.nanoTime())
        sc.setLocalProperty(SpanKey, prevProp)
        openSpan.set(if (outer == 0) null else Integer.valueOf(outer))
      }
    }

  /** Record a query the benchmark executed itself (plans it runs through
    * `queryExecution.toRdd` never reach the QueryExecutionListener). */
  def recordQuery(qe: QueryExecution, name: String, durationNs: Long): Unit =
    if (attached) queries.add(describe(qe, name, durationNs))

  def jobsOfSpan(id: Int): Seq[JobRec] = jobs.asScala.filter(_.span == id).toSeq

  /** Engine metrics over the operation windows `ops` (epoch ms), averaged
    * per operation; jobs, and the stages and tasks under them, belong to
    * the window their job started in. */
  def sparkMetrics(ops: Seq[(Long, Long)]): Seq[(String, Metric)] = {
    val n = math.max(1, ops.size)
    def inOps(t: Long) = ops.exists { case (a, b) => t >= a && t <= b }
    val js = jobs.asScala.filter(j => inOps(j.startMs)).toSeq
    val jobIds = js.map(_.jobId).toSet
    val stageIds = stageOfJob.asScala.collect { case (s, j) if jobIds(j) => s }.toSet
    val ts = tasks.asScala.filter(t => stageIds(t.stageId)).toSeq
    val qs = queries.asScala.filter(q => inOps(q.startMs)).toSeq
    val wallMs = ops.map { case (a, b) => (b - a).toDouble }.sum
    val covered = ops.map { case (a, b) =>
      coverage(js.map(j => (j.startMs, if (j.endMs.get() < 0) j.startMs else j.endMs.get())), a, b)
    }.sum
    val taskMs = ts.map(t => (t.finishMs - t.launchMs).toDouble).sum
    val waitMs = ts.map(t => math.max(0L, t.launchMs - stageSubmit.getOrDefault(t.stageId, t.launchMs)).toDouble).sum
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.catalyst_s" -> Metric(qs.map(_.catalystMs).sum / 1000.0 / n, "s"),
      "spark.outside_jobs_s" -> Metric((wallMs - covered) / 1000.0 / n, "s"),
      "spark.jobs" -> Metric(js.size.toDouble / n, "count"),
      "spark.stages" -> Metric(stageIds.size.toDouble / n, "count"),
      "spark.tasks" -> Metric(ts.size.toDouble / n, "count"),
      "spark.slot_busy_frac" -> Metric(if (wallMs > 0) taskMs / (wallMs * cores) else 0.0, "ratio"),
      "spark.sched_wait_s" -> Metric(waitMs / 1000.0 / n, "s"),
      "spark.exec_cpu_s" -> Metric(ts.map(_.cpuNs.toDouble).sum / 1e9 / n, "s"),
      "spark.gc_s" -> Metric(ts.map(_.gcMs.toDouble).sum / 1000.0 / n, "s"),
      "spark.shuffle_write_mb" -> Metric(ts.map(_.shuffleWrite.toDouble).sum / mb / n, "MB"),
      "spark.spill_mb" -> Metric(ts.map(_.spill.toDouble).sum / mb / n, "MB"),
      "spark.input_mb" -> Metric(ts.map(_.input.toDouble).sum / mb / n, "MB"),
      "spark.output_mb" -> Metric(ts.map(_.output.toDouble).sum / mb / n, "MB"))
  }

  /** Files written by tasks in the windows (one output file per writing task). */
  def filesWritten(ops: Seq[(Long, Long)]): Long = {
    def inOps(t: Long) = ops.exists { case (a, b) => t >= a && t <= b }
    val jobIds = jobs.asScala.filter(j => inOps(j.startMs)).map(_.jobId).toSet
    val stageIds = stageOfJob.asScala.collect { case (s, j) if jobIds(j) => s }.toSet
    tasks.asScala.count(t => stageIds(t.stageId) && t.recordsWritten > 0).toLong
  }

  /** Write every span (with its self time) as JSON lines. */
  def write(path: java.io.File): Unit = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      val end = if (s.endNs.get() < 0) s.startNs else s.endNs.get()
      val kids = children.getOrElse(s.id, Nil).map(k =>
        (k.startNs, if (k.endNs.get() < 0) k.startNs else k.endNs.get()))
      val durMs = (end - s.startNs) / 1e6
      val selfMs = durMs - coverage(kids, s.startNs, end) / 1e6
      out.println(Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "dur_ms" -> Json.num(durMs), "self_ms" -> Json.num(selfMs),
        "jobs" -> jobsOfSpan(s.id).size.toString)))
    } finally out.close()
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class SpanRec(id: Int, parent: Int, name: String, startMs: Long, startNs: Long, endNs: AtomicLong)
  final case class JobRec(jobId: Int, span: Int, startMs: Long, endMs: AtomicLong)
  final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleWrite: Long, spill: Long, input: Long, output: Long, recordsWritten: Long)
  /** One executed query: when its analysis started, its Catalyst time,
    * its run time, the directory it wrote (if a write) and the
    * directories it read. */
  final case class QeRec(id: Long, func: String, startMs: Long, catalystMs: Double, durationNs: Long,
                         writes: Option[String], reads: Seq[String])

  def describe(qe: QueryExecution, func: String, durationNs: Long): QeRec = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val catalyst = phases.filter { case (k, _) => Set("analysis", "optimization", "planning")(k) }
      .values.map(_.durationMs.toDouble).sum
    val plan = qe.analyzed
    val writes = plan.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName }
      .orElse(qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName })
    val reads = plan.collect { case l: LogicalRelation => l.relation }.collect {
      case r: HadoopFsRelation => r.location.rootPaths.map(_.getName)
    }.flatten
    QeRec(qe.id, func, start, catalyst, durationNs, writes, reads)
  }

  /** Length of [a, b] covered by the union of `iv`. */
  def coverage(iv: Seq[(Long, Long)], a: Long, b: Long): Double = {
    val clipped = iv.map { case (s, e) => (math.max(s, a), math.min(e, b)) }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
