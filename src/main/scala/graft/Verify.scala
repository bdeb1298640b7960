package graft
import graft.util.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // local iteration aid: SPARK_GRAFT_ONLY=q1,q2 dumps a subset (the
    // driver leaves it unset and always gets the full surface)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // several operators cache a shared plane (x213's shingle table,
      // x216's token table, …) that the returned plan reads twice; the
      // write above is the terminal action, so drop the plane here —
      // otherwise ~326 queries' planes accumulate and lean on LRU
      // eviction for the whole dump (Bench clears before every timed
      // run for the same reason)
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
