package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import graft.pages.{Page, PageGen}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def pagesBatch(n: Int): Seq[Page] = {
    val cfg = PageGen.Config(urls = 10, revisitsPerUrl = 3, hotUrls = 1, hotFactor = 3)
    (0L until math.min(n, PageGen.totalRows(cfg)).toLong).map(PageGen.pageOf(cfg, _))
  }

  test("streaming extract: same features as batch on the same rows") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Page]
    val q = Streaming.extractStream(input.toDF())
      .select("url", "warc_ts", "instance_id", "status")
      .writeStream.format("memory").queryName("sx").outputMode(OutputMode.Append).start()
    try {
      input.addData(pagesBatch(12))
      q.processAllAvailable()
      val streamed = spark.table("sx").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2), r.getString(3))).toSet
      val batch = graft.runtime.FeatureJob.extractStage(pagesBatch(12).toDF())
        .select("url", "warc_ts", "instance_id", "status").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2), r.getString(3))).toSet
      assert(streamed == batch)
      assert(streamed.forall(_._4 == "ok"))
    } finally q.stop()
  }

  test("windowedStats: pages, ok pages and distinct instances per hour and language") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Page]
    val q = Streaming.windowedStats(input.toDF())
      .writeStream.format("memory").queryName("ws").outputMode(OutputMode.Complete).start()
    try {
      val t0 = 1699999200000L // an hour boundary (UTC)
      def page(url: String, min: Long, text: String, lang: String) =
        Page(url, new Timestamp(t0 + min * 60000L), Array.emptyByteArray, text, lang)
      val one = "p cnf 1 1\n1 0\n"
      input.addData(Seq(
        page("a", 0, one, "en"), page("b", 10, one, "en"), page("c", 20, null, "en"),
        page("d", 30, "p cnf 2 1\n1 2 0\n", "de"), page("e", 70, one, "en")))
      q.processAllAvailable()
      val got = spark.table("ws").collect().map { r =>
        ((r.getStruct(0).getTimestamp(0).getTime - t0) / 60000L, r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))
      }.toMap
      // the null-text page counts as a page, neither ok nor an instance
      assert(got == Map((0L, "en") -> (3L, 2L, 1L), (0L, "de") -> (1L, 1L, 1L),
        (60L, "en") -> (1L, 1L, 1L)))
    } finally q.stop()
  }

  test("session_window sessionization emits sessions after watermark passes") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Page]
    val q = Streaming.sessionized(input.toDF(), gap = "6 hours", watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("sw").outputMode(OutputMode.Append).start()
    try {
      val t0 = 1700000000000L
      def page(url: String, ts: Long) = Page(url, new Timestamp(ts), Array.emptyByteArray, "p cnf 1 1\n1 0\n", "en")
      // two sessions for u (gap > 6h), then a far-future row to advance the watermark
      input.addData(Seq(
        page("u", t0), page("u", t0 + 3600 * 1000L),
        page("u", t0 + 20 * 3600 * 1000L)))
      q.processAllAvailable()
      input.addData(Seq(page("zz", t0 + 1000L * 3600 * 1000L)))
      q.processAllAvailable()
      val sessions = spark.table("sw").collect()
        .map(r => (r.getString(r.fieldIndex("url")), r.getLong(r.fieldIndex("session_revisits"))))
      assert(sessions.count(_._1 == "u") == 2, s"got ${sessions.mkString(",")}")
      assert(sessions.filter(_._1 == "u").map(_._2).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("watermark dedup: same (url, content) emitted once") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Page]
    val q = Streaming.dedupedStream(input.toDF(), watermarkDelay = "1 hour")
      .select("url", "instance_id")
      .writeStream.format("memory").queryName("sd").outputMode(OutputMode.Append).start()
    try {
      val t0 = 1700000000000L
      def page(url: String, ts: Long, text: String) = Page(url, new Timestamp(ts), Array.emptyByteArray, text, "en")
      input.addData(Seq(
        page("u", t0, "p cnf 2 1\n1 2 0\n"),
        page("u", t0 + 1000, "p cnf 2 1\n1 2 0\n"), // dup content
        page("u", t0 + 2000, "p cnf 2 1\n-1 2 0\n"), // new content
        page("v", t0, "p cnf 2 1\n1 2 0\n"))) // same content, other url
      q.processAllAvailable()
      val rows = spark.table("sd").collect().map(r => (r.getString(0), r.getString(1)))
      assert(rows.length == 3, s"got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("dedupWithinWatermark: dup suppressed across batches, state EVICTED after horizon") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val q = Streaming.dedupWithinWatermark(
        input.toDF().toDF("k", "ts"), "ts", "1 hour", "k")
      .select("k")
      .writeStream.format("memory").queryName("dw").outputMode(OutputMode.Append).start()
    try {
      val t0 = 1700000000000L
      // batch 1: k emitted; dup of k inside the same horizon suppressed
      input.addData(Seq(("k", new Timestamp(t0)), ("k", new Timestamp(t0 + 1000))))
      q.processAllAvailable()
      // batch 2: advance the watermark to t0+9h — PAST k's t0+1h state
      // expiry, so the bounded-state contract must evict k
      input.addData(Seq(("adv", new Timestamp(t0 + 10 * 3600 * 1000L))))
      q.processAllAvailable()
      // batch 3: k re-arrives beyond the horizon → emitted AGAIN
      input.addData(Seq(("k", new Timestamp(t0 + 10 * 3600 * 1000L))))
      q.processAllAvailable()
      val ks = spark.table("dw").collect().map(_.getString(0)).toSeq
      assert(ks.count(_ == "k") == 2, s"expected k emitted twice (evict + re-emit), got $ks")
      assert(ks.count(_ == "adv") == 1, s"got $ks")
    } finally q.stop()
  }

  test("flatMapGroupsWithState content tracker counts changes across batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Page]
    val q = Streaming.contentChanges(input.toDF())
      .writeStream.format("memory").queryName("cc").outputMode(OutputMode.Append).start()
    try {
      val t0 = 1700000000000L
      def page(ts: Long, text: String) = Page("u", new Timestamp(ts), Array.emptyByteArray, text, "en")
      input.addData(Seq(page(t0, "p cnf 2 1\n1 2 0\n"), page(t0 + 1000, "p cnf 2 1\n1 2 0\n")))
      q.processAllAvailable()
      // state must persist into the next micro-batch
      input.addData(Seq(page(t0 + 2000, "p cnf 2 1\n-1 2 0\n")))
      q.processAllAvailable()
      val rows = spark.table("cc").orderBy("warc_ts")
        .select("revisit_no", "change_no", "changed").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(rows == Seq((1L, 1L, true), (2L, 1L, false), (3L, 2L, true)), s"got $rows")
    } finally q.stop()
  }

  test("windowedDistinctSketch: HLL registers merge across micro-batches == one batch pass") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val t0 = 1700000000000L // mid-day UTC; all events land in two day-windows
    val events = (0 until 300).map { i =>
      (s"user${i % 47}", new Timestamp(t0 + (i % 2) * 86400000L + i * 1000L))
    }
    // streaming: three micro-batches, windows SPAN batches
    val input = MemoryStream[(String, Timestamp)]
    events.grouped(100).foreach(b => input.addData(b))
    val q = Streaming.windowedDistinctSketch(
        input.toDF().toDF("uid", "ts"), "ts", "uid", "1 day", p = 8)
      .writeStream.format("memory").queryName("wds").outputMode(OutputMode.Complete).start()
    val streamed =
      try { q.processAllAvailable(); spark.table("wds").orderBy("window_start").collect() }
      finally q.stop()
    // batch: the same operator over the static frame
    val batch = Streaming.windowedDistinctSketch(
        events.toDF("uid", "ts"), "ts", "uid", "1 day", p = 8)
      .orderBy("window_start").collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    assert(streamed.length == 2 && streamed.forall(_.getLong(2) > 0))
  }

  test("windowedQuantileSketch: counter state merges across micro-batches == one batch pass") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val t0 = 1700000000000L // mid-day UTC; events land in two day-windows
    val events = (0 until 300).map { i =>
      ((i * 13 % 500).toLong, new Timestamp(t0 + (i % 2) * 86400000L + i * 1000L))
    }
    val input = MemoryStream[(Long, Timestamp)]
    events.grouped(100).foreach(b => input.addData(b))
    val q = Streaming.windowedQuantileSketch(
        input.toDF().toDF("v", "ts"), "ts", "v", "1 day")
      .writeStream.format("memory").queryName("wqs").outputMode(OutputMode.Complete).start()
    val streamed =
      try { q.processAllAvailable(); spark.table("wqs").orderBy("window_start").collect() }
      finally q.stop()
    val batch = Streaming.windowedQuantileSketch(
        events.toDF("v", "ts"), "ts", "v", "1 day")
      .orderBy("window_start").collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    assert(streamed.length == 2 && streamed.forall(_.getLong(2) == 150L))
    // p500 column present and within the day's value range
    streamed.foreach(r => assert(r.getLong(3) >= 0L && r.getLong(3) < 500L))
  }

  test("enrichStatic: per-batch broadcast left join == batch join; unmatched rows survive") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = (0 until 60).map(i => (i.toLong, Seq("a", "b", "zzz")(i % 3)))
    val dim = Seq(("a", 10L), ("b", 20L)).toDF("k", "meta") // no 'zzz'
    val input = MemoryStream[(Long, String)]
    rows.grouped(20).foreach(b => input.addData(b))
    val q = Streaming.enrichStatic(input.toDF().toDF("id", "k"), dim, Seq("k"))
      .writeStream.format("memory").queryName("ses").outputMode("append").start()
    val streamed =
      try { q.processAllAvailable(); spark.table("ses").orderBy("id").collect() }
      finally q.stop()
    val batch = Streaming.enrichStatic(rows.toDF("id", "k"), dim, Seq("k"))
      .orderBy("id").collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    assert(streamed.length == 60) // left join: nothing dropped
    assert(streamed.filter(_.getString(0) == "zzz").forall(_.isNullAt(2)))
    spark.catalog.dropTempView("ses")
  }

  test("joinWithin: stream-stream time-bound join == batch theta-join") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(s: Int): Timestamp = new Timestamp(s * 1000L)
    // left: one row per (key, t*10s); right: offsets that straddle the bound
    val lrows = (0 until 30).map(i => (i.toLong % 5, ts(i * 10), i.toLong))
    val rrows = (0 until 30).map(i =>
      (i.toLong % 5, ts(i * 10 + Seq(-25, -5, 0, 5, 25)(i % 5)), 100L + i))
    val lin = MemoryStream[(Long, Timestamp, Long)]
    val rin = MemoryStream[(Long, Timestamp, Long)]
    lrows.grouped(10).foreach(b => lin.addData(b))
    rrows.grouped(10).foreach(b => rin.addData(b))
    val joined = Streaming.joinWithin(
      lin.toDF().toDF("k", "lts", "lid"), rin.toDF().toDF("k", "rts", "rid"),
      Seq("k"), "lts", "rts", withinSeconds = 10L)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    val streamed =
      try { q.processAllAvailable()
        spark.table("ssj").select("lid", "rid").collect() }
      finally q.stop()
    spark.catalog.dropTempView("ssj")
    val batch = lrows.toDF("k", "lts", "lid")
      .join(rrows.toDF("k2", "rts", "rid"),
        col("k") === col("k2") &&
          col("rts") >= col("lts") - org.apache.spark.sql.functions.expr("INTERVAL 10 seconds") &&
          col("rts") <= col("lts") + org.apache.spark.sql.functions.expr("INTERVAL 10 seconds"))
      .select("lid", "rid").collect()
    assert(streamed.map(x => (x.getLong(0), x.getLong(1))).toSet ==
      batch.map(x => (x.getLong(0), x.getLong(1))).toSet)
    assert(streamed.nonEmpty && streamed.length < 30 * 30) // bound actually filters
    assert(streamed.length == streamed.map(x => (x.getLong(0), x.getLong(1))).toSet.size)
  }
}
