package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.Det._

/** Bucketed warehouse layout for the fact⋈fact join key — the
  * pre-shuffled storage form (`DB.sql:109-124` star joins, re-expressed
  * as a layout decision instead of a per-query shuffle).
  *
  * Both facts written `bucketBy(n, key).sortBy(key)` sort-merge-join
  * with NO exchange and NO sort on either side: the shuffle that
  * dominates every orderkey-grain query at 100 TB is paid once at write
  * time and amortized over every subsequent join. The bucket count is
  * the join stage's parallelism — size it to the cluster (32 here,
  * matching local[32]); at 100 TB it would be thousands.
  *
  * `hint("merge")` on both forms pins the sort-merge strategy: at test
  * scale `orders` fits the broadcast threshold and BHJ would hide the
  * exchange being measured, while at 100 TB orders is TBs and SMJ/SHJ
  * is the only option — the hint makes the small-SF plan the plan the
  * target scale forces anyway (same device as q_skew_plain).
  *
  * Gate form (`q_bucketed_join`) materializes + joins so the whole path
  * sits under the oracle hash; the bench prelude materializes once,
  * untimed, and times only [[bucketedJoinAgg]] — the service shape, like
  * the MinHash/IVF index planes (a warehouse doesn't rewrite its layout
  * per query).
  */
object BucketedLayout {

  val liTable = "graft_lineitem_bkt"
  val ordTable = "graft_orders_bkt"

  /** A fresh in-memory catalog doesn't know about a previous session's
    * managed-table directory, and CREATE refuses to reuse the location
    * (LOCATION_ALREADY_EXISTS) — drop both the catalog entry and any
    * stale directory before writing. (A real deployment's persistent
    * catalog makes Overwrite alone sufficient.) */
  private def dropStale(s: SparkSession, t: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $t")
    val wh = java.net.URI.create(
      s.conf.get("spark.sql.warehouse.dir")).getPath match {
      case null => s.conf.get("spark.sql.warehouse.dir")
      case p => p
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh, t))
  }

  /** Pay the layout shuffle once: both facts bucketed + sorted on the
    * join key into the session warehouse. */
  def materialize(s: SparkSession, d: String, buckets: Int = 32): Unit = {
    dropStale(s, liTable); dropStale(s, ordTable)
    // repartition on the bucket key first → exactly ONE file per bucket:
    // with multiple files per bucket the scan can't claim a sorted
    // output ordering and the SMJ re-sorts both sides, keeping only the
    // exchange win; one file per bucket deletes the sorts too
    Tables.lineitem(s, d).repartition(buckets, col("l_orderkey"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey").saveAsTable(liTable)
    Tables.orders(s, d).repartition(buckets, col("o_orderkey"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordTable)
  }

  private def joinAgg(li: DataFrame, ord: DataFrame): DataFrame =
    li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        dsumExpr(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy("o_orderpriority")

  /** The exchange-free, sort-free SMJ over the bucketed layout
    * (BucketedLayoutSpec pins the absence of both). Spark reports a
    * bucketed scan's per-file sort order only behind
    * `legacy.bucketedTableScan.outputOrdering`, which
    * [[graft.Sessions.local]] sets (and only with one file per bucket,
    * which [[materialize]] guarantees) — without it the SMJ re-sorts
    * each already-sorted bucket and keeps only the exchange win. */
  def bucketedJoinAgg(s: SparkSession): DataFrame =
    joinAgg(s.table(liTable), s.table(ordTable))

  /** The identical join over the plain parquet layout: shuffles + sorts
    * both facts on the key — the cost the bucketed layout deletes. */
  def plainJoinAgg(s: SparkSession, d: String): DataFrame =
    joinAgg(Tables.lineitem(s, d), Tables.orders(s, d))
}
