package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The one local session policy for every `main` and spec base:
  * `local[n]` with `n = SPARK_GRAFT_CPUS` (default 4) and as many shuffle
  * partitions, UTC, a generated-class cache sized for the full surface,
  * sort-reporting bucketed scans, parquet TIMESTAMP(NANOS) read as
  * long, no UI, WARN logging.
  * (`app.CdcRunner` builds its own session: spark-submit supplies its
  * master.)
  *
  * To A/B a conf, pass it as a JVM option, which SparkConf reads at
  * startup: `set run / javaOptions += "-Dspark.x=y"` in sbt. A JVM
  * option also wins over each conf pinned here.
  *
  * A query that needs its own conf, temp views or optimizer rules
  * builds its DataFrame on [[withConf]] or [[withRules]], never by
  * writing the session it was handed: that session is shared with the
  * caller's other queries, which may be running at the same time. */
object Sessions {

  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
    val pinned = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // the generated-class cache defaults to 100 entries; a full-surface
      // run compiles several hundred distinct WholeStageCodegen units, so
      // at the default every query re-compiles (and re-JITs) its codegen
      // on every timed run — measured 3-4× inflation on short multi-stage
      // queries (x10: 4.3 s full-surface vs 1.2 s isolated). Any service
      // running a wide query mix should raise it the same way.
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // a bucketed scan reports its per-file sort order only behind this
      // flag (BucketedLayout writes one sorted file per bucket); without
      // it an SMJ over the bucketed layout re-sorts every bucket. It
      // changes nothing for a scan that is not bucketed.
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      // with artifact isolation on, every session (each withConf clone
      // too) runs its tasks under its own class loader, and the
      // generated-class cache is keyed on the loader: the first query on
      // a fresh clone re-compiled all 8 of its codegen classes. No
      // session here adds jars or other artifacts, so all share one.
      "spark.sql.artifact.isolation.enabled" -> "false",
      // a source written with parquet TIMESTAMP(NANOS) reads as a long,
      // which Tables.events truncates to micros; without it the read
      // fails. It changes nothing for any other timestamp.
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    val b = SparkSession.builder().master(s"local[$cpus]")
    // the builder's own options override SparkConf's, so a JVM option
    // reaches a pinned conf only through here
    pinned.foreach { case (k, v) => b.config(k, sys.props.getOrElse(k, v)) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A clone of `s` with `confs` set on it: the caller's runtime conf,
    * temp views, query-execution listeners and streaming-query
    * listeners carry over, and nothing done on the clone (conf, temp
    * views, optimizer rules) reaches the caller. The streaming
    * listeners are copied because a stream reports its progress only to
    * the listeners of the session that started it.
    *
    * Cloning takes under a millisecond. With one task class loader for
    * every session (see [[local]]), a query on a fresh clone runs as fast
    * as on the caller: `tools.Probe` run 2 at sf0.01 on local[4], median
    * of 3, took 0.67 s for x166 both with its rules swapped into the
    * caller and on a clone, and 2.55 s (caller) vs 2.18 s (clone) for
    * x190. With a class loader per session, the first query on each
    * clone re-compiled its codegen, about 0.1 s more. */
  def withConf(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = org.apache.spark.sql.graft.PlanUtil.cloneSession(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    // touch the clone's StreamingQueryManager only when there is
    // something to copy: each one leaves a listener bus on the context
    s.streams.listListeners().foreach(l => c.streams.addListener(l))
    c
  }

  /** A [[withConf]] clone of `s` whose optimizer also runs `rules`
    * (after any the caller already had). A rule carries its own
    * metadata, such as `AggRewrite.rule(summaries)`, so the rules of
    * one query never meet another query's plans. */
  def withRules(s: SparkSession, rules: Rule[LogicalPlan]*): SparkSession = {
    val c = withConf(s)
    c.experimental.extraOptimizations = c.experimental.extraOptimizations ++ rules
    c
  }
}
