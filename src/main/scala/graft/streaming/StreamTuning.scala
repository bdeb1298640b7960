package graft.streaming

import org.apache.spark.sql.SparkSession

/** Stream-side partition sizing (guide §2.2 "fewer, larger partitions",
  * §6 small files).
  *
  * A stateful streaming query freezes `spark.sql.shuffle.partitions`
  * into its checkpoint at start, and every micro-batch then pays a
  * FIXED per-partition cost regardless of rows: one state-store
  * open/commit (plus delta file) per partition per stateful operator,
  * one sink file per non-empty partition, one task launch per
  * partition per stage. Batch plans get this sizing for free from AQE
  * partition coalescing; streaming plans cannot use AQE, so the count
  * must be derived from the data, not inherited from the cluster
  * width. Measured on the gate rows (StreamProbe, idle host): a
  * ZERO-row finalize micro-batch cost ~2 s at 32 partitions — pure
  * per-partition machinery.
  *
  * [[inputSizedShufflePartitions]] resolves the partition count
  * from the staged input volume at the standard ~64 MB advisory
  * (AQE's own default advisory size), clamped to [1, session value] —
  * so at production volumes (GBs+ per trigger) it resolves to the
  * session's full width and behaves exactly as before, while
  * gate/replay-sized inputs stop paying for near-empty state stores.
  * It only computes the count: a stream gate starts its query on
  * `Sessions.withConf(s, "spark.sql.shuffle.partitions" -> n)`, so the
  * session it was handed, which other queries may be planning on at
  * the same time, keeps its own value.
  */
object StreamTuning {

  /** AQE's default advisory partition size — the same "bytes one
    * shuffle partition should hold" judgment, applied to stream state
    * partitioning. */
  val AdvisoryBytesPerPartition: Long = 64L << 20

  /** Total bytes under `path`, resolved through the Hadoop FileSystem
    * for the path's scheme — file://, hdfs://, s3a:// all work, where a
    * `java.io.File` walk silently reads 0 on anything non-local (and 0
    * bytes would size EVERY production stream to one state partition).
    * `None` = could not resolve (missing path, bad scheme): the caller
    * must treat unknown volume as "do not downsize", never as empty. */
  private[streaming] def dirBytes(s: SparkSession, path: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) Some(fs.getContentSummary(p).getLength) else None
    } catch { case _: Exception => None }

  /** `spark.sql.shuffle.partitions` for a stream over the bytes staged
    * under `inputDirs`, capped at `s`'s own value. Defensive on both
    * inputs: a non-numeric session value (e.g. "auto" under a vendor
    * runtime) caps at `defaultParallelism` instead of throwing, and any
    * directory whose size cannot be resolved keeps the session width
    * rather than collapsing the stream to 1 partition. */
  def inputSizedShufflePartitions(s: SparkSession, inputDirs: Seq[String]): Int = {
    val cap = scala.util.Try(s.conf.get("spark.sql.shuffle.partitions").toLong)
      .getOrElse(s.sparkContext.defaultParallelism.toLong)
    val sizes = inputDirs.map(dirBytes(s, _))
    if (sizes.exists(_.isEmpty)) cap.toInt // unknown volume: never downsize
    else math.max(1L,
      math.min(cap, sizes.flatten.sum / AdvisoryBytesPerPartition + 1)).toInt
  }
}
