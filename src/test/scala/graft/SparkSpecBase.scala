package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local()

  val sfDir = "/root/testdata/sf0.001"

  /** Plans registered in the session's CacheManager. `numCachedEntries`
    * is package-private to Spark's Scala code but public in bytecode. */
  def cachedEntries: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }
}
