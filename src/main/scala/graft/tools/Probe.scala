package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.PlanUtil
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Where one registered query's time goes, in one run of one main:
  *
  *   runMain graft.tools.Probe <dir> <query>...
  *
  * Runs each query twice (run 1 pays planning and codegen, run 2 is
  * steady state) and prints, per query:
  *   - `[probe]` build seconds (eager planes and streaming lifecycles
  *     run while the DataFrame is built), execute seconds and rows, for
  *     both runs;
  *   - run 2's `[job]` wall times and `[stage]` task counts and executor
  *     totals — one big stage, many small jobs, or scheduling overhead;
  *   - run 2's `[batch]` micro-batch `durationMs` for the streaming gates;
  *   - the final (post-AQE) formatted physical plan, also when a run
  *     fails after the DataFrame was built.
  * Execution is the full plan (`toRdd.count()`): `df.count()` would let
  * Catalyst prune aggregate columns and eliminate joins under the count.
  * The session is [[graft.Sessions.local]]; A/B a conf with a
  * `-Dspark.x=y` JVM option. */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = graft.Sessions.local()
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart(j.jobId) = System.nanoTime()
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val dur = jobStart.remove(j.jobId)
          .map(t0 => (System.nanoTime() - t0) / 1e9).getOrElse(Double.NaN)
        if (recording) out.add(f"[job] id=${j.jobId}%-4d ${dur}%7.3f s")
      }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit = if (recording) {
        val i = st.stageInfo
        val run = i.taskMetrics.executorRunTime / 1e3
        val cpu = i.taskMetrics.executorCpuTime / 1e9
        val sr = i.taskMetrics.shuffleReadMetrics.totalBytesRead
        val sw = i.taskMetrics.shuffleWriteMetrics.bytesWritten
        out.add(f"[stage] ${i.stageId}%-4d tasks=${i.numTasks}%-4d " +
          f"run=${run}%7.2f s cpu=${cpu}%7.2f s shR=${sr}%9d shW=${sw}%9d  ${i.name.takeWhile(_ != '\n').take(90)}")
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (recording) {
          val p = e.progress
          out.add(s"[batch] id=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    names.foreach { n =>
      var df: DataFrame = null
      try (1 to 2).foreach { i =>
        spark.catalog.clearCache()
        recording = i == 2
        val t0 = System.nanoTime()
        df = graft.SparkEntry.queries(n)(spark, dir)
        val t1 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val t2 = System.nanoTime()
        PlanUtil.drainListeners(spark)
        recording = false
        println(f"[probe] $n run$i build ${(t1 - t0) / 1e9}%7.2f s  " +
          f"execute ${(t2 - t1) / 1e9}%7.2f s  ($rows rows)")
      } finally {
        // a query that fails at run time still shows its plan
        while (!out.isEmpty) println(out.poll())
        if (df != null) {
          println(s"========== $n (final plan) ==========")
          println(df.queryExecution.explainString(FormattedMode))
        }
      }
    }
    spark.stop()
  }
}
