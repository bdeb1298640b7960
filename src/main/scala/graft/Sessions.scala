package graft

import org.apache.spark.sql.SparkSession

/** The one local session policy for every `main` and spec base:
  * `local[n]` with `n = SPARK_GRAFT_CPUS` (default 4) and as many shuffle
  * partitions, UTC, a generated-class cache sized for the full surface,
  * sort-reporting bucketed scans, no UI, WARN logging.
  * (`app.CdcRunner` builds its own session: spark-submit supplies its
  * master.)
  *
  * To A/B a conf, pass it as a JVM option, which SparkConf reads at
  * startup: `set run / javaOptions += "-Dspark.x=y"` in sbt. A JVM
  * option also wins over each conf pinned here.
  *
  * A query that needs its own conf builds its DataFrame on
  * [[withConf]], never by setting conf on the session it was handed:
  * that session is shared with the caller's other queries. */
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
    * temp views and query-execution listeners carry over, and the
    * caller's conf is left as it was. A stream started on the clone
    * reports to the clone's `StreamingQueryManager`, not the caller's.
    * Cloning takes under a millisecond, but a query on a fresh clone
    * took about 80 ms more than the same query on the caller (an sf0.01
    * join on local[4]). */
  def withConf(s: SparkSession, confs: (String, String)*): SparkSession = {
    val c = org.apache.spark.sql.graft.PlanUtil.cloneSession(s)
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
