package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types._
import graft.app.CdcRunner
import graft.streaming.CdcStream

/** `cdc_upsert`: `CdcRunner.main`'s wiring (`CdcStream.run` with a
  * dead-letter sink and counters into `CdcRunner.JdbcUpsertSink`), on
  * embedded Derby, fed by an open-loop generator through a JSON file
  * stream instead of Kafka. The generator's sequence numbers travel as
  * the source offset columns. It writes one file per 100 ms tick: a
  * ladder of fixed rates, then a pre-written backlog that the stream
  * drains. */
object CdcWorkload {

  val Topic = "mongo.loan_applications"
  val Table: String = CdcStream.routeTable(Topic)
  val PayloadSchema: StructType = StructType.fromDDL(
    "id BIGINT, seq BIGINT, due_ms BIGINT, " +
      "applicant STRUCT<name: STRING, income: DOUBLE, employment: STRING>, " +
      "loan STRUCT<amount: DOUBLE, term_months: INT, purpose: STRING>, status STRING")
  val TickMs = 100
  val Rates: Seq[Int] = Seq(250, 1000, 4000)
  /** Seconds on each rung; the middle one is the latency rung and runs
    * for the whole timed window, and on until it has started
    * `LatencyBatches` micro-batches. The outer rungs only decide whether
    * their rate is sustained. */
  def rungSeconds(window: Double): Seq[Double] = Seq(1.5, window, 1.5)
  /** Micro-batches the latency rung runs at least: with the 5 or so of a
    * 4 s rung, the p50 followed a few batches' luck (three seeds run back
    * to back gave 1.04 to 1.19 s, and 0.90 to 0.94 s with 12 batches),
    * and a slow spell of the host of a few seconds still moved it with 12. */
  val LatencyBatches = 16
  /** The longest a rung waits for its micro-batches. */
  val RungCapSeconds = 60.0
  /** p90 latency a sustained rung must meet. */
  val LatencyLimitS = 2.0
  val MaxFilesPerTrigger = 100
  val WarmSeconds = 2.0
  val MalformedRate = 0.001

  /** One tick's file: when it was due, when it landed, what it holds. */
  final case class Tick(name: String, dueMs: Long, writtenMs: Long, events: Int, rung: Int)

  /** Seeded event source: Zipf-skewed keys, nested loan payloads, a few
    * malformed events; remembers the last write per key. */
  final class Gen(seed: Long, keys: Int) {
    private val rnd = new java.util.SplittableRandom(seed)
    private val cdf = {
      val w = (1 to keys).map(k => 1.0 / math.pow(k, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    var seq = 0L
    var malformed = 0L
    val last = mutable.HashMap.empty[Long, Long]
    private def key(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(keys - 1).toLong
    }
    private val purposes = Array("car", "home", "education", "business", "medical")
    private val jobs = Array("Employed", "Self-Employed", "Unemployed")
    private val states = Array("submitted", "review", "approved", "rejected", "funded")
    def lines(n: Int, dueMs: Long): Seq[String] = (0 until n).map { _ =>
      seq += 1
      val payload =
        if (rnd.nextDouble() < MalformedRate) { malformed += 1; s"not json {{{ event $seq" }
        else {
          val k = key()
          last(k) = seq
          f"""{"id": $k, "seq": $seq, "due_ms": $dueMs, "applicant": {"name": "applicant $k", """ +
            f""""income": ${rnd.nextInt(15000, 250000)}.${rnd.nextInt(100)}%02d, "employment": "${jobs(rnd.nextInt(3))}"}, """ +
            f""""loan": {"amount": ${rnd.nextInt(1000, 40000)}.0, "term_months": ${if (rnd.nextBoolean()) 36 else 60}, """ +
            f""""purpose": "${purposes(rnd.nextInt(5))}"}, "status": "${states(rnd.nextInt(5))}"}"""
        }
      s"""{"json": ${Json.str(payload)}, "seq": $seq}"""
    }
  }

  /** Derby DDL for the sink tables, from the transform's own schema. */
  private def createTables(spark: SparkSession, url: String): Unit = {
    import spark.implicits._
    val sample = Seq("{}").toDF("json")
    val schema = CdcStream.transform(sample, PayloadSchema, Topic).schema
    val skip = Set(CdcStream.ParseErrorCol, CdcStream.SrcPartitionCol, CdcStream.SrcOffsetCol, "kafka_primary_key")
    def sqlType(t: DataType): String = t match {
      case LongType => "BIGINT"
      case IntegerType => "INT"
      case DoubleType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case _ => "VARCHAR(2048)"
    }
    val cols = schema.fields.filterNot(f => skip(f.name)).map(f => s"${f.name} ${sqlType(f.dataType)}")
    val conn = java.sql.DriverManager.getConnection(url)
    try Seq(
      s"CREATE TABLE $Table (kafka_primary_key VARCHAR(64) PRIMARY KEY, ${cols.mkString(", ")})",
      s"""CREATE TABLE ${Table}_quarantine (kafka_primary_key VARCHAR(64) PRIMARY KEY,
          raw_data VARCHAR(2048), kafka_topic VARCHAR(128), error VARCHAR(600), failed_at TIMESTAMP)"""
    ).foreach(ddl => conn.createStatement().execute(ddl))
    finally conn.close()
  }

  /** Benchmark-owned decorator: times each merge into the wrapped sink. */
  final class TimedSink(inner: CdcStream.UpsertSink, name: String, total: LongAdder,
                        trace: Trace) extends CdcStream.UpsertSink {
    override def merge(batch: DataFrame, pkCol: String): Unit = {
      val t0 = System.nanoTime()
      try trace.span(name)(inner.merge(batch, pkCol))
      finally total.add(System.nanoTime() - t0)
    }
  }

  final case class Progress(startMs: Long, endMs: Long, rows: Long,
                            durations: Map[String, Long], logOffset: Long)

  /** One running stream with its database, directories and counters. */
  final class Pipe(ctx: Ctx, tag: String, val gen: Gen) {
    val url = s"jdbc:derby:memory:perfbench_$tag;create=true"
    val in: String = ctx.dir(s"cdc_in_$tag")
    val stage: String = ctx.dir(s"cdc_stage_$tag")
    val ckpt: String = new File(ctx.work, s"cdc_ckpt_$tag").getAbsolutePath
    val progress = new ConcurrentLinkedQueue[Progress]()
    val consumed = new AtomicLong(0)
    val ticks = ArrayBuffer.empty[Tick]
    val mergeNs, dlqNs = new LongAdder
    private var nFiles = 0
    createTables(ctx.spark, url)
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          val off = "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(p.sources.head.endOffset)
            .map(_.group(1).toLong).getOrElse(-1L)
          progress.add(Progress(start, start + d.getOrElse("triggerExecution", 0L),
            p.numInputRows, d, off))
          consumed.addAndGet(p.numInputRows)
        }
      }
    }
    ctx.spark.streams.addListener(listener)
    val counters: CdcStream.Counters = CdcStream.newCounters(ctx.spark)
    val query: StreamingQuery = {
      val source = ctx.spark.readStream.schema("json STRING, seq BIGINT")
        .option("maxFilesPerTrigger", MaxFilesPerTrigger.toLong).json(in)
        .select(col("json"), lit(0).as(CdcStream.SrcPartitionCol), col("seq").as(CdcStream.SrcOffsetCol))
      CdcStream.run(source, PayloadSchema, Topic,
        new TimedSink(new CdcRunner.JdbcUpsertSink(url, Table), "cdc.sink_merge", mergeNs, ctx.trace),
        ckpt,
        deadLetter = Some(new TimedSink(new CdcRunner.JdbcUpsertSink(url, s"${Table}_quarantine"),
          "cdc.dlq_merge", dlqNs, ctx.trace)),
        counters = Some(counters)).start()
    }

    /** Write `n` events due at `dueMs` as one file, published by rename. */
    def emit(n: Int, dueMs: Long, rung: Int): Tick = {
      val name = f"tick-$nFiles%06d.json"
      nFiles += 1
      val tmp = new File(stage, name)
      val w = new java.io.PrintWriter(tmp, "UTF-8")
      try gen.lines(n, dueMs).foreach(w.println) finally w.close()
      tmp.setLastModified(dueMs)
      val dst = new File(in, name)
      if (!tmp.renameTo(dst)) throw new java.io.IOException(s"publish failed: $dst")
      val t = Tick(name, dueMs, System.currentTimeMillis(), n, rung)
      ticks += t
      t
    }

    def generated: Long = gen.seq
    def awaitCaughtUp(timeoutS: Double): Boolean = {
      val deadline = Clock.now + timeoutS
      while (consumed.get() < generated && Clock.now < deadline && query.isActive) Thread.sleep(20)
      consumed.get() >= generated
    }

    /** file name -> the stream batch (log offset) that read it. */
    def fileBatches(): Map[String, Long] = {
      val dir = new File(ckpt, "sources/0")
      val entry = "\"path\"\\s*:\\s*\"([^\"]+)\".*?\"batchId\"\\s*:\\s*(\\d+)".r
      Option(dir.listFiles()).toSeq.flatten.filter(_.getName.matches("\\d+(\\.compact)?")).flatMap { f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().flatMap(l => entry.findFirstMatchIn(l)).map { m =>
          new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong
        }.toSeq
      }.toMap
    }

    def stop(): Unit = {
      query.stop()
      ctx.spark.streams.removeListener(listener)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val tr = ctx.trace
    val keys = math.max(1000, (5000000 * ctx.scale).toInt)
    val backlog = math.max(2000, (2000000 * ctx.scale).toInt)

    // setup: database + tables, stream start, a few warm batches
    var pipe: Pipe = null
    val passes = (0 until ctx.setupPasses).map { p =>
      if (pipe != null) pipe.stop()
      Clock.time {
        pipe = new Pipe(ctx, s"s${ctx.seed}_$p", new Gen(ctx.seed * 31 + p, keys))
        (0 until 3).foreach(i => pipe.emit(200, System.currentTimeMillis(), -1))
        pipe.awaitCaughtUp(60)
      }._2
    }
    Clock.note("setup passes done")

    // the timed ladder: open loop, one file per tick, each timed from
    // when it was due
    def ladder(rungs: Seq[(Int, Double, Int)], minBatches: Int => Int = _ => 0): Map[Int, (Long, Long)] = {
      val t0 = System.currentTimeMillis() + 50
      var due = t0
      val backlogAt = mutable.Map.empty[Int, (Long, Long)]
      rungs.foreach { case (rate, seconds, rung) =>
        val before = pipe.generated - pipe.consumed.get()
        val nTicks = math.max(1, math.round(seconds * 1000 / TickMs).toInt)
        val maxTicks = math.round(RungCapSeconds * 1000 / TickMs).toInt
        val from = due
        // batches started after the rung's first tick was due; the first
        // of them may still read the rung before's last files
        def batches = pipe.progress.asScala.count(_.startMs >= from) - 1
        var carry = 0.0
        var tick = 0
        while (tick < nTicks || batches < minBatches(rung) && tick < maxTicks) {
          tick += 1
          val sleep = due - System.currentTimeMillis()
          if (sleep > 0) Thread.sleep(sleep)
          carry += rate * TickMs / 1000.0
          val n = carry.toInt
          carry -= n
          pipe.emit(n, due, rung)
          due += TickMs
        }
        backlogAt(rung) = (before, pipe.generated - pipe.consumed.get())
      }
      backlogAt.toMap
    }
    val rungs = Rates.indices.map(i => (Rates(i), rungSeconds(ctx.seconds)(i), i))
    // untimed warm-up at the latency rung's rate, so the ladder runs warm
    val (_, warmS) = Clock.time {
      ladder(Seq((Rates(1), WarmSeconds, -2)))
      pipe.awaitCaughtUp(30)
    }
    out.e2e("setup_s") = Metric(Stats.median(passes) + warmS, "s")
    Heap.sample()
    val baselineRung = 9
    if (tr.enabled) {
      ladder(Seq((Rates(1), ctx.seconds, baselineRung)))
      pipe.awaitCaughtUp(30)
      tr.attach()
    }
    val traceFrom = System.currentTimeMillis()
    val backlogs = ladder(rungs, rung => if (rung == 1) LatencyBatches else 0)
    Clock.note("ladder done")
    val caughtUp = pipe.awaitCaughtUp(60)
    out.check("ladder_drained", caughtUp)
    Heap.sample()

    // catch-up: a pre-written backlog lands at once and drains
    val stageFiles = (0 until backlog / 1000).map { i =>
      val name = f"backlog-$i%04d.json"
      val f = new File(pipe.stage, name)
      val w = new java.io.PrintWriter(f, "UTF-8")
      try pipe.gen.lines(1000, 0L).foreach(w.println) finally w.close()
      (f, name)
    }
    Clock.note("backlog written")
    val drop0 = System.currentTimeMillis()
    stageFiles.zipWithIndex.foreach { case ((f, name), i) =>
      f.setLastModified(drop0 + i)
      f.renameTo(new File(pipe.in, name))
      pipe.ticks += Tick(name, drop0, drop0, 1000, 99)
    }
    val dropped = System.currentTimeMillis()
    out.check("backlog_drained", pipe.awaitCaughtUp(90))
    val drainEnd = pipe.progress.asScala.map(_.endMs).max
    val catchupEps = (stageFiles.size * 1000).toDouble / math.max(1L, drainEnd - dropped) * 1000.0
    Clock.note("drain done")
    tr.detach()
    pipe.stop()
    Heap.sample()

    // latency per event: end of the batch that committed its file minus
    // the time the file was due
    val batchEnd = pipe.progress.asScala.map(p => p.logOffset -> p.endMs).toMap
    val fileBatch = pipe.fileBatches()
    def latencies(rung: Int): Seq[Double] = pipe.ticks.filter(_.rung == rung).toSeq.flatMap { t =>
      fileBatch.get(t.name).flatMap(batchEnd.get).toSeq.flatMap(end => Seq.fill(t.events)((end - t.dueMs) / 1000.0))
    }
    val mid = latencies(1)
    val p50 = Stats.median(mid)
    // micro-batches that read only the latency rung's files
    val rungOfFile = pipe.ticks.map(t => t.name -> t.rung).toMap
    val rungsOfBatch = fileBatch.groupBy(_._2).map { case (b, fs) => b -> fs.keys.map(rungOfFile).toSet }
    val midBatches = pipe.progress.asScala.filter(p => rungsOfBatch.get(p.logOffset).contains(Set(1)))
      .map(p => (p.endMs - p.startMs) / 1000.0).toSeq
    val sustained = Rates.indices.filter { i =>
      val (b0, b1) = backlogs(i)
      // flat: the backlog may swing by what the latency limit allows
      val grew = b1 - b0 > Rates(i) * LatencyLimitS
      val lat = latencies(i)
      !grew && lat.nonEmpty && Stats.quantile(lat, 0.9) <= LatencyLimitS
    }.map(Rates(_))
    Rates.indices.foreach { i =>
      val (b0, b1) = backlogs(i)
      val lat = latencies(i)
      out.named(s"cdc_rung${Rates(i)}_p90_s") = Metric(if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.9), "s")
      out.named(s"cdc_rung${Rates(i)}_backlog_growth") = Metric((b1 - b0).toDouble, "events")
      out.info(s"cdc_rung${Rates(i)}") =
        if (sustained.contains(Rates(i))) "sustained" else "unsustainable (backlog grew or p90 over limit)"
    }
    val late = pipe.ticks.filter(t => t.rung >= 0 && t.rung < Rates.size).map(t => (t.writtenMs - t.dueMs).toDouble).toSeq

    // output checks: Derby holds the generator's last write per key, and
    // every malformed event is quarantined
    val expected = mutable.HashMap.empty[String, Long] ++ pipe.gen.last.map { case (k, s) => k.toString -> s }
    if (ctx.negativeControl) expected(expected.keys.min) += 1
    val (actual, quarantined) = {
      val conn = java.sql.DriverManager.getConnection(pipe.url)
      try {
        val rs = conn.createStatement().executeQuery(s"SELECT kafka_primary_key, seq FROM $Table")
        val m = mutable.HashMap.empty[String, Long]
        while (rs.next()) m(rs.getString(1)) = rs.getLong(2)
        val q = conn.createStatement().executeQuery(s"SELECT count(*) FROM ${Table}_quarantine")
        q.next()
        (m, q.getLong(1))
      } finally conn.close()
    }
    val wrongKeys = (expected.keySet ++ actual.keySet).count(k => expected.get(k) != actual.get(k))
    out.check("derby_equals_last_write_per_key", wrongKeys == 0)
    out.check("quarantine_equals_malformed", quarantined == pipe.gen.malformed)
    out.attempted = pipe.generated
    out.failed = wrongKeys + math.abs(quarantined - pipe.gen.malformed)

    out.e2e("op_p50_s") = Metric(p50, "s")
    out.named("cdc_latency_p50_s") = Metric(p50, "s")
    out.named("cdc_latency_p90_s") = Metric(Stats.quantile(mid, 0.9), "s")
    out.named("cdc_latency_samples") = Metric(mid.size.toDouble, "count")
    out.named("cdc_batch_p50_s") = Metric(if (midBatches.isEmpty) 0.0 else Stats.median(midBatches), "s")
    out.named("cdc_sustained_eps") = Metric(if (sustained.isEmpty) 0.0 else sustained.max.toDouble, "events/s")
    out.named("cdc_catchup_eps") = Metric(catchupEps, "events/s")
    out.named("cdc_gen_late_p90_ms") = Metric(Stats.quantile(late, 0.9), "ms")
    out.info("cdc_ladder") = Rates.indices.map(i =>
      s"${Rates(i)}ev/s x ${pipe.ticks.count(_.rung == i) * TickMs / 1000.0}s").mkString(", ")
    out.info("cdc_latency_limit_s") = LatencyLimitS.toString
    out.info("cdc_batch_ms") = pipe.progress.asScala.toSeq.sortBy(_.startMs).map { p =>
      val rs = rungsOfBatch.getOrElse(p.logOffset, Set.empty[Int])
      s"${rs.toSeq.sorted.mkString("+")}:${p.endMs - p.startMs}"
    }.mkString(" ")

    if (tr.enabled) {
      val ps = pipe.progress.asScala.filter(_.startMs >= traceFrom).toSeq
      val nb = math.max(1, ps.size)
      def avg(k: String) = ps.map(_.durations.getOrElse(k, 0L).toDouble).sum / nb
      out.layer("cdc.trigger_ms") = Metric(avg("triggerExecution"), "ms")
      out.layer("cdc.add_batch_ms") = Metric(avg("addBatch"), "ms")
      out.layer("cdc.wal_commit_ms") = Metric(avg("walCommit"), "ms")
      out.layer("cdc.commit_offsets_ms") = Metric(avg("commitOffsets"), "ms")
      out.layer("cdc.latest_offset_ms") = Metric(avg("latestOffset"), "ms")
      out.layer("cdc.planning_ms") = Metric(avg("queryPlanning"), "ms")
      val allBatches = math.max(1, pipe.progress.size)
      out.layer("cdc.sink_merge_ms") = Metric(pipe.mergeNs.sum / 1e6 / allBatches, "ms")
      out.layer("cdc.dlq_merge_ms") = Metric(pipe.dlqNs.sum / 1e6 / allBatches, "ms")
      out.layer("cdc.rows_per_batch") = Metric(ps.map(_.rows).sum.toDouble / nb, "count")
      out.layer("cdc.batches") = Metric(ps.size.toDouble, "count")
      val input = pipe.progress.asScala.map(_.rows).sum
      out.layer("cdc.merged_per_input") = Metric(pipe.counters.merged.value.toDouble / math.max(1L, input), "ratio")
      out.layer("cdc.quarantined") = Metric(quarantined.toDouble, "count")
      out.layer("cdc.gen_late_ms") = Metric(Stats.mean(late), "ms")
      out.layer("cdc.backlog_events") = Metric(backlogs.values.map(_._2).max.toDouble, "count")
      tr.sparkMetrics(ps.map(p => (p.startMs, p.endMs))).foreach { case (k, m) => out.layer(k) = m }
      // the stream plans on its own cloned session, out of the
      // QueryExecutionListener's sight: its planning phase stands in
      out.layer("spark.catalyst_s") = Metric(avg("queryPlanning") / 1000.0, "s")
      val base = latencies(baselineRung)
      out.layer("trace.overhead_frac") = Metric(
        if (base.isEmpty) 0.0 else p50 / Stats.median(base) - 1.0, "ratio")
    }
    out
  }
}
