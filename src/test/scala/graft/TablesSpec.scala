package graft

import graft.app.JobBudget
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{StructType, TimestampType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** The source catalog: each table's schema is inferred once per file
  * listing and inference confs, a rewritten or missing table reads as it
  * does without the catalog, and no read writes the session. */
class TablesSpec extends SparkSpecBase {

  /** `body`'s result and how many source-schema inference jobs it started. */
  private def inferenceJobs[A](body: => A): (A, Int) = {
    val (a, names) = JobBudget.jobNamesDuring(spark)(body)
    (a, names.count(_.startsWith("parquet at Tables.scala")))
  }

  /** A copy of the sf0.001 tables under a new path: no catalog entry
    * covers it yet. */
  private def freshCopy(): String = {
    val to = Files.createTempDirectory("graft_tables_copy")
    val tables = Files.list(Paths.get(sfDir)) // one file per table
    try tables.iterator().asScala.foreach(p => Files.copy(p, to.resolve(p.getFileName.toString)))
    finally tables.close()
    to.toString
  }

  test("a query built a second time on the same tables starts no schema-inference job") {
    val dir = freshCopy()
    val build = SparkEntry.queries("j2_star3_rollup")
    val (first, inferredFirst) = inferenceJobs(build(spark, dir))
    val (second, inferredSecond) = inferenceJobs(build(spark, dir))
    assert(inferredFirst > 0, "the first build must resolve the tables it reads")
    assert(inferredSecond === 0)
    assert(second.collect().toSeq === first.collect().toSeq)
  }

  test("a table rewritten with an added column loads with its new schema") {
    val dir = Files.createTempDirectory("graft_tables_rewrite").toString
    spark.range(3).toDF("id").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("id"))
    spark.range(3).selectExpr("id", "id * 2 AS twice")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.load(spark, dir, "t")
    assert(df.columns.toSeq === Seq("id", "twice"))
    assert(df.where("twice = 4").count() === 1)
  }

  test("a missing table fails with PATH_NOT_FOUND on every attempt, and loads once written") {
    val dir = Files.createTempDirectory("graft_tables_missing").toString
    for (attempt <- 1 to 2) {
      val e = intercept[AnalysisException](Tables.load(spark, dir, "absent"))
      assert(e.getCondition === "PATH_NOT_FOUND", s"attempt $attempt: $e")
    }
    spark.range(2).write.parquet(s"$dir/absent.parquet")
    assert(Tables.load(spark, dir, "absent").count() === 2)
  }

  test("10 threads reading a table for the first time run one inference job") {
    val dir = Files.createTempDirectory("graft_tables_threads").toString
    spark.range(100).write.parquet(s"$dir/t.parquet")
    val pool = Executors.newFixedThreadPool(10)
    val go = new CountDownLatch(1)
    val (schemas, inferred) = try inferenceJobs {
      val reads = (1 to 10).map(_ => pool.submit(new Callable[StructType] {
        def call(): StructType = { go.await(); Tables.load(spark, dir, "t").schema }
      }))
      go.countDown()
      reads.map(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(inferred === 1)
    assert(schemas.distinct.size === 1)
  }

  test("no Tables read changes the session's conf") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.registerAll(s, sfDir)
    Tables.events(s, nanosDir)
    assert(s.conf.getAll === before)
  }

  /** A one-file events table whose `ts` is parquet TIMESTAMP(NANOS). */
  private def nanosDir: String = Paths.get(getClass.getResource("/nanos").toURI).toString

  test("a TIMESTAMP(NANOS) events table reads on a Sessions.local session, truncated to microseconds") {
    val df = Tables.events(spark, nanosDir)
    assert(df.schema("ts").dataType === TimestampType)
    val micros = df.selectExpr("event_id", "unix_micros(ts)").orderBy("event_id")
      .collect().map(_.getLong(1)).toSeq
    // written as ...05.123456789, ...05.000000999 and ...05.999999999 ns
    assert(micros === Seq(1704164645123456L, 1704164645000000L, 1704164645999999L))
  }
}
