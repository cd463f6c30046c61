package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The size-adaptive dispatch decision: an eager checkpoint observed for
  * its row and null counts, then one collect only when the rows go local;
  * the bound in rows from the threshold, `edgesPerRow` and
  * `spark.driver.maxResultSize`; `None` for null cells, over-bound frames,
  * a zero threshold or an ineligible frame; and the dense index the local
  * replays share.
  */
class LocalDispatchSpec extends SparkSpec {
  import spark.implicits._

  private def withThreshold[T](key: String, n: Long)(body: => T): T = {
    spark.conf.set(key, n.toString)
    try body finally spark.conf.unset(key)
  }

  /** `n` rows of two longs, spread over four partitions. */
  private def edges(n: Int): DataFrame =
    spark.range(0, n, 1, 4).select(col("id").as("a"), (col("id") + 1).as("b"))

  private def rows(df: DataFrame, key: String, edgesPerRow: Int = 1): Option[Array[Row]] =
    LocalDispatch.materialize(df, key, edgesPerRow)._3

  /** Per Spark job started while `body` runs, the bytes its tasks sent back
    * as results, in job order: a marker job started after `body` is
    * delivered after every event of the jobs `body` started, so its
    * arrival ends the count.
    */
  private def resultBytesPerJob(body: => Unit): Seq[Long] = {
    val marker = "local-dispatch-jobs-marker"
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val bytes = new java.util.concurrent.ConcurrentSkipListMap[Int, java.lang.Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) done.countDown()
        else {
          bytes.put(e.jobId, 0L)
          e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(jobOfStage.get(e.stageId)).foreach { job =>
          bytes.merge(job, Option(e.taskMetrics).fold(0L)(_.resultSize), (a, b) => a + b)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), "marker job never arrived")
      bytes.values().asScala.map(_.longValue()).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("local path: the checkpoint job and one collect job") {
    var got: Option[Array[Row]] = None
    val jobs = resultBytesPerJob { got = rows(edges(200), LocalDispatch.GraphKey) }
    assert(jobs.length == 2)
    // the collect sends the 200 rows back
    assert(jobs(1) > 200L * 8)
    assert(got.map(_.map(r => (r.getLong(0), r.getLong(1))).toSet)
      .contains((0L until 200L).map(i => (i, i + 1)).toSet))
  }

  test("over the bound: one job, none of its rows shipped") {
    val n = 50000
    withThreshold(LocalDispatch.GraphKey, 100) {
      var got: (DataFrame, Long, Option[Array[Row]]) = null
      val jobs = resultBytesPerJob { got = LocalDispatch.materialize(edges(n), LocalDispatch.GraphKey) }
      assert(jobs.length == 1)
      // the checkpoint's tasks return their status, not the 16 bytes a row holds
      assert(jobs.head < n * 16L / 10, jobs)
      assert(got._2 == n && got._3.isEmpty)
      assert(got._1.count() == n)
    }
  }

  test("threshold n: n rows go local, n + 1 do not") {
    for (n <- Seq(1, 7, 64)) withThreshold(LocalDispatch.CcKey, n) {
      assert(rows(edges(n), LocalDispatch.CcKey).map(_.length).contains(n), s"n=$n")
      assert(rows(edges(n + 1), LocalDispatch.CcKey).isEmpty, s"n=$n")
    }
    // an empty frame under a positive threshold is local
    assert(rows(edges(0), LocalDispatch.CcKey).map(_.length).contains(0))
  }

  test("a 0-partition frame goes local with 0 rows") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("a", LongType), StructField("b", LongType))))
    assert(empty.rdd.getNumPartitions == 0)
    val (frame, n, got) = LocalDispatch.materialize(empty, LocalDispatch.GraphKey)
    assert(n == 0 && got.map(_.length).contains(0))
    assert(frame.count() == 0)
  }

  test("edgesPerRow = 2 halves the bound") {
    withThreshold(LocalDispatch.CcKey, 20) {
      assert(rows(edges(10), LocalDispatch.CcKey, edgesPerRow = 2).nonEmpty)
      assert(rows(edges(11), LocalDispatch.CcKey, edgesPerRow = 2).isEmpty)
      assert(rows(edges(11), LocalDispatch.CcKey).nonEmpty)
    }
  }

  test("a null cell in any column returns None") {
    val rs = Seq[(Option[Long], Option[Long], Option[String])](
      (Some(1L), Some(2L), Some("x")), (Some(3L), Some(4L), Some("y")),
      (Some(5L), Some(6L), Some("z")))
    for (c <- 0 until 3) {
      val withNull = rs.zipWithIndex.map { case ((a, b, s), i) =>
        if (i != 1) (a, b, s)
        else (a.filter(_ => c != 0), b.filter(_ => c != 1), s.filter(_ => c != 2))
      }
      val (_, n, got) = LocalDispatch.materialize(withNull.toDF("a", "b", "s"), LocalDispatch.GraphKey)
      assert(got.isEmpty && n == 3, s"null in column $c")
    }
    assert(rows(rs.toDF("a", "b", "s"), LocalDispatch.GraphKey).map(_.length).contains(3))
  }

  test("threshold 0: None and only the checkpoint job") {
    for (e <- Seq(edges(5), edges(0))) withThreshold(LocalDispatch.GraphKey, 0) {
      var got: Option[Array[Row]] = Some(Array.empty)
      // the empty range plans to an empty relation, whose checkpoint may start no job
      assert(resultBytesPerJob { got = rows(e, LocalDispatch.GraphKey) }.length <= 1)
      assert(got.isEmpty)
    }
  }

  test("integral cast; eligible = false never collects") {
    val ints = Seq((1, 2.toShort), (3, 4.toShort)).toDF("a", "b")
    val got = rows(ints, LocalDispatch.CcKey)
    assert(got.map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
      .contains(Seq((1L, 2L), (3L, 4L))))
    // the checkpoint keeps the frame's own types
    assert(LocalDispatch.materialize(ints, LocalDispatch.CcKey)._1.schema.map(_.dataType) ==
      Seq(IntegerType, ShortType))
    assert(Seq(StringType, DoubleType, LongType, IntegerType, ShortType).map(LocalDispatch.integral) ==
      Seq(false, false, true, true, true))
    var skipped: (DataFrame, Long, Option[Array[Row]]) = null
    assert(resultBytesPerJob {
      skipped = LocalDispatch.materialize(Seq(("1", "2")).toDF("a", "b"), LocalDispatch.CcKey,
        eligible = false)
    }.length == 1)
    assert(skipped._2 == 1 && skipped._3.isEmpty)
  }

  test("LocalGraph: sorted distinct ids, extra ids, CSR") {
    val g = LocalGraph(Array(30L, 10L, 30L, -5L), Array(10L, 30L, 10L, 30L), Array(7L, 10L, 99L))
    assert(g.ids.toSeq == Seq(-5L, 7L, 10L, 30L, 99L))
    assert(g.src.toSeq == Seq(3, 2, 3, 0) && g.dst.toSeq == Seq(2, 3, 2, 3))
    assert(g.indexOf(99L) == 4 && g.indexOf(8L) < 0)
    val (start, adj) = g.outCsr
    assert(start.toSeq == Seq(0, 1, 1, 2, 4, 4))
    assert(adj.toSeq == Seq(3, 3, 2, 2))
    val empty = LocalGraph(Array.emptyLongArray, Array.emptyLongArray, Array.emptyLongArray)
    assert(empty.n == 0 && empty.outCsr._1.toSeq == Seq(0))
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
