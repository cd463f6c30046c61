package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark jobs and SQL executions started while a body runs, counted by a
  * listener. A marker job started after the body is delivered after every
  * event of the body, so its arrival ends the count.
  */
object SparkEvents {
  final case class Counts(jobs: Int, executions: Int)

  def count(spark: SparkSession)(body: => Unit): Counts = {
    val marker = "spark-events-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) done.countDown()
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never arrived")
      Counts(jobs.get, executions.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
