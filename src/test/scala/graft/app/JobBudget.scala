package graft.app

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** Spark-job counting for the runners' job budget specs. */
object JobBudget {

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[A](spark: SparkSession)(body: => A): (A, Int) = {
    val (a, names) = jobNamesDuring(spark)(body)
    (a, names.size)
  }

  /** `body`'s result and the name of each Spark job it started (its
    * result stage's call site, such as `parquet at Tables.scala:80`),
    * counted between two marker jobs: the listener bus delivers events in
    * order, so the end marker's start proves every job of `body` has been
    * counted. */
  def jobNamesDuring[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]
    val done = new CountDownLatch(1)
    var counting = false // touched only on the listener bus thread
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")).orNull match {
          case "job-budget:start" => counting = true
          case "job-budget:end" => counting = false; done.countDown()
          case _ => if (counting) jobs.add(e.stageInfos.maxBy(_.stageId).name)
        }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("job-budget:start")
      val a = body
      marker("job-budget:end")
      assert(done.await(60, TimeUnit.SECONDS), "end marker never reached the listener")
      (a, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
