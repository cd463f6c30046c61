package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The size-adaptive dispatch decision: one bounded collect, the bound in
  * rows from the threshold, `edgesPerRow` and `spark.driver.maxResultSize`,
  * and `None` for null cells, non-integral ids or a zero threshold.
  */
class LocalDispatchSpec extends SparkSpec {
  import spark.implicits._

  private def withThreshold[T](key: String, n: Long)(body: => T): T = {
    spark.conf.set(key, n.toString)
    try body finally spark.conf.unset(key)
  }

  /** `n` materialized rows of two longs, spread over four partitions. */
  private def edges(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select(col("id").as("a"), (col("id") + 1).as("b"))
      .localCheckpoint()

  /** Spark jobs started while `body` runs: a marker job started after it
    * is delivered after every job `body` started, so its arrival ends the
    * count.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val marker = "local-dispatch-jobs-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) done.countDown()
        else started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never arrived")
      started.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("on a materialized frame the decision starts exactly one Spark job") {
    val e = edges(200)
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsStartedBy { got = LocalDispatch.rows(e, LocalDispatch.GraphKey) } == 1)
    assert(got.map(_.map(r => (r.getLong(0), r.getLong(1))).toSet)
      .contains((0L until 200L).map(i => (i, i + 1)).toSet))
    withThreshold(LocalDispatch.GraphKey, 50) {
      assert(jobsStartedBy { got = LocalDispatch.rows(e, LocalDispatch.GraphKey) } == 1)
      assert(got.isEmpty)
    }
  }

  test("threshold n: n rows go local, n + 1 do not") {
    for (n <- Seq(1, 7, 64)) withThreshold(LocalDispatch.CcKey, n) {
      assert(LocalDispatch.rows(edges(n), LocalDispatch.CcKey).map(_.length).contains(n), s"n=$n")
      assert(LocalDispatch.rows(edges(n + 1), LocalDispatch.CcKey).isEmpty, s"n=$n")
    }
    // an empty frame under a positive threshold is local
    assert(LocalDispatch.rows(edges(0), LocalDispatch.CcKey).map(_.length).contains(0))
  }

  test("edgesPerRow = 2 halves the bound") {
    withThreshold(LocalDispatch.CcKey, 20) {
      assert(LocalDispatch.rows(edges(10), LocalDispatch.CcKey, edgesPerRow = 2).nonEmpty)
      assert(LocalDispatch.rows(edges(11), LocalDispatch.CcKey, edgesPerRow = 2).isEmpty)
      assert(LocalDispatch.rows(edges(11), LocalDispatch.CcKey).nonEmpty)
    }
  }

  test("a null cell in any column returns None") {
    val rows = Seq[(Option[Long], Option[Long], Option[String])](
      (Some(1L), Some(2L), Some("x")), (Some(3L), Some(4L), Some("y")),
      (Some(5L), Some(6L), Some("z")))
    for (c <- 0 until 3) {
      val withNull = rows.zipWithIndex.map { case ((a, b, s), i) =>
        if (i != 1) (a, b, s)
        else (a.filter(_ => c != 0), b.filter(_ => c != 1), s.filter(_ => c != 2))
      }
      val df = withNull.toDF("a", "b", "s").localCheckpoint()
      assert(LocalDispatch.rows(df, LocalDispatch.GraphKey).isEmpty, s"null in column $c")
    }
    assert(LocalDispatch.rows(rows.toDF("a", "b", "s").localCheckpoint(),
      LocalDispatch.GraphKey).map(_.length).contains(3))
  }

  test("threshold 0 returns None without starting a job, even on an empty frame") {
    for (e <- Seq(edges(5), edges(0))) withThreshold(LocalDispatch.GraphKey, 0) {
      var got: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
      assert(jobsStartedBy { got = LocalDispatch.rows(e, LocalDispatch.GraphKey) } == 0)
      assert(got.isEmpty)
    }
  }

  test("longRows casts integral columns to long and refuses other types") {
    val ints = Seq((1, 2.toShort), (3, 4.toShort)).toDF("a", "b").localCheckpoint()
    val got = LocalDispatch.longRows(ints, LocalDispatch.CcKey)
    assert(got.map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
      .contains(Seq((1L, 2L), (3L, 4L))))
    val strs = Seq(("1", "2")).toDF("a", "b").localCheckpoint()
    assert(LocalDispatch.longRows(strs, LocalDispatch.CcKey).isEmpty)
    val dbls = Seq((1L, 2.0)).toDF("a", "b").localCheckpoint()
    assert(LocalDispatch.longRows(dbls, LocalDispatch.CcKey).isEmpty)
  }

  test("row bytes: 12 + 8 per field, plus the default size of variable-width fields") {
    val twoLongs = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    assert(LocalDispatch.rowBytes(twoLongs) == 28)
    val threeLongs = twoLongs.add("w", LongType)
    assert(LocalDispatch.rowBytes(threeLongs) == 36)
    val states = StructType(Seq(StructField("from_type", StringType),
      StructField("to_type", StringType), StructField("n", LongType)))
    assert(LocalDispatch.rowBytes(states) == 12 + 3 * 8 + 2 * StringType.defaultSize)
  }

  test("row bound: threshold / edgesPerRow, clamped under maxResultSize and Int.MaxValue - 1") {
    val unlimited = 0L
    assert(LocalDispatch.rowBound(4L << 20, 1, unlimited, 28) == (4 << 20))
    assert(LocalDispatch.rowBound(4L << 20, 2, unlimited, 28) == (2 << 20))
    assert(LocalDispatch.rowBound(5, 2, unlimited, 28) == 2)
    assert(LocalDispatch.rowBound(0, 1, unlimited, 28) == 0)
    assert(LocalDispatch.rowBound(-3, 1, unlimited, 28) == 0)
    assert(LocalDispatch.rowBound(Long.MaxValue, 1, unlimited, 28) == Int.MaxValue - 1)
    // the 1g default leaves the 4M default alone ...
    val oneG = 1L << 30
    assert(LocalDispatch.rowBound(4L << 20, 2, oneG, 28) == (2 << 20))
    // ... and caps a raised threshold: bound + 1 rows fit 63/64 of it
    val capped = LocalDispatch.rowBound(Long.MaxValue, 2, oneG, 28)
    assert(capped == (oneG - oneG / 64) / 28 - 1)
    assert((capped + 1L) * 28 <= oneG - oneG / 64)
    assert((capped + 2L) * 28 > oneG - oneG / 64)
    assert(LocalDispatch.rowBound(Long.MaxValue, 1, 1000, 28) == 34)
    // room for the bound plus one row past it, or nothing goes local
    assert(LocalDispatch.rowBound(Long.MaxValue, 1, 56, 28) == 1)
    assert(LocalDispatch.rowBound(Long.MaxValue, 1, 55, 28) == 0)
  }
}
