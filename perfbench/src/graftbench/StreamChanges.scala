package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress}

import graft.pages.{Page, PageGen}
import graft.runtime.FeatureJob
import graft.streaming.Streaming

/** The pages replayed in crawl-time order as an endless stream of
  * fixed-size micro-batches read by two long-running queries,
  * `Streaming.contentChanges` and `Streaming.sessionized`. One op adds the
  * next batch to the source and waits until both queries have processed
  * it. Per-batch planning and state-store commits dominate.
  *
  * The stream cycles through the corpus; each cycle is shifted later by
  * the corpus' time span, so every url's revisits stay in time order.
  */
object StreamChanges extends Workload {
  val name = "stream_changes"
  val BatchRows = 1000

  def config(o: Opts): PageGen.Config = PageGen.Config(
    urls = 600, revisitsPerUrl = 8, hotUrls = 3, hotFactor = 20, seed = o.seed, docScale = 1)

  private var corpus: IndexedSeq[Page] = IndexedSeq.empty
  private var spanMs = 0L
  private var fed = 0
  private var source: MemoryStream[Page] = _
  private var queries: Seq[StreamingQuery] = Nil
  private var started = 0

  /** Stream row `k`: corpus row `k mod n`, shifted by whole cycles. */
  private def row(k: Long): Page = {
    val p = corpus((k % corpus.size).toInt)
    p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + (k / corpus.size) * spanMs))
  }

  private def batch(i: Int): Seq[Page] = (i.toLong * BatchRows until (i + 1L) * BatchRows).map(row)

  private def newSource(c: Ctx): MemoryStream[Page] = {
    implicit val sqlc: SQLContext = c.spark.sqlContext
    import c.spark.implicits._
    MemoryStream[Page]
  }

  private def start(c: Ctx, in: MemoryStream[Page], query: DataFrame => DataFrame,
                    sink: String, queryName: String): StreamingQuery = {
    // a fresh checkpoint per query: a stopped query's state-store
    // maintenance may still write into its old one
    started += 1
    query(in.toDF()).writeStream.format(sink).outputMode(OutputMode.Append)
      .queryName(queryName).option("checkpointLocation", c.path(s"ckpt/$started")).start()
  }

  def prepare(c: Ctx): Long = {
    c.writeCorpus(config(c.o))
    val spark = c.spark
    import spark.implicits._
    corpus = c.readCorpus().select("url", "warc_ts", "html", "text", "lang")
      .orderBy("warc_ts", "url").as[Page].collect().toIndexedSeq
    spanMs = corpus.last.warc_ts.getTime - corpus.head.warc_ts.getTime + 86400000L
    fed = 0
    source = newSource(c)
    queries = Seq(
      start(c, source, Streaming.contentChanges(_).toDF(), "memory", "bench_changes"),
      start(c, source, Streaming.sessionized(_), "noop", "bench_sessions"))
    BatchRows
  }

  /** Both queries run the batch concurrently; the first span waits for
    * `contentChanges`, the second for what is left of `sessionized`.
    */
  def op(c: Ctx, t: Option[Tracer]): Unit = {
    source.addData(batch(fed))
    fed += 1
    sp(t, "streaming.contentChanges")(queries(0).processAllAvailable())
    sp(t, "streaming.sessionized")(queries(1).processAllAvailable())
  }

  def check(c: Ctx, t: Option[Tracer]): Seq[Check] = {
    val spark = c.spark
    import spark.implicits._
    val got = spark.table("bench_changes")
    // the same events as a batch lag of instance_id over every fed row
    val w = Window.partitionBy("url").orderBy("warc_ts")
    val prev = lag(col("instance_id"), 1).over(w)
    val fedRows = (0L until fed.toLong * BatchRows).map(row).toDS().toDF()
    val want = FeatureJob.extractStage(fedRows).where(col("status") === "ok")
      .select("url", "warc_ts", "instance_id")
      .withColumn("revisit_no", row_number().over(w).cast("long"))
      .withColumn("changed", prev.isNull || prev =!= col("instance_id"))
      .withColumn("change_no", sum(col("changed").cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val rows = got.count()
    val diff = Workload.symmetricDiff(want, got)
    Seq(Check("change_events_equal_batch_lag", rows > 0 && diff == 0L,
      s"$fed batches, $rows events, $diff differ"))
  }

  def layers(c: Ctx, t: Tracer): Map[String, Double] = {
    // functions layer: a stateless extract-only query against a
    // pass-through one, each fed the first batches of the same stream
    def perBatch(name: String, query: DataFrame => DataFrame): Span = {
      val in = newSource(c)
      val q = start(c, in, query, "noop", s"bench_$name")
      def deliver(i: Int): Unit = { in.addData(batch(i)); q.processAllAvailable() }
      try {
        deliver(0)
        medianSpan(t, name, reps = 5)(deliver(1 + t.spans.count(_.name == name)))
      } finally q.stop()
    }
    val passS = perBatch("streaming.passthrough", _.select("url", "warc_ts"))
    val extractS = perBatch("functions.extractStream",
      Streaming.extractStream(_).drop("html", "text"))
    Map(
      "functions.extract_s" -> (extractS.durS - passS.durS),
      "functions.extract_cpu_s" -> (t.agg(extractS).cpuS - t.agg(passS).cpuS)) ++ progress()
  }

  /** The streaming layer from `StreamingQuery.recentProgress` of the two
    * long-running queries, over every batch after the warm-up one.
    */
  private def progress(): Map[String, Double] = {
    val ps: Seq[StreamingQueryProgress] =
      queries.flatMap(_.recentProgress.toSeq.filter(_.batchId > 0))
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val last = queries.map(_.lastProgress)
    val stateOps = last.flatMap(_.stateOperators.toSeq)
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_p50_s" -> Stats.median(ps.map(ms(_, "triggerExecution") / 1e3)),
      "streaming.batch_overhead_s" -> Stats.median(
        ps.map(p => (ms(p, "triggerExecution") - ms(p, "addBatch")) / 1e3)),
      "streaming.state_rows" -> stateOps.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> stateOps.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0))
  }

  /** The streaming layer measured beside another workload's traced op, in
    * a sub-directory of its work directory: set-up, one warm-up batch,
    * `Main.MinOps` traced batches, the check, and the streaming metrics.
    * The queries are stopped after, so they cannot disturb what follows.
    */
  def beside(c: Ctx, t: Tracer): (Seq[Check], Map[String, Double]) = {
    val s = new Ctx(c.spark, c.o.copy(workload = name, work = c.path("stream")), partitioned)
    try {
      prepare(s)
      op(s, None)
      (1 to Main.MinOps).foreach(_ => op(s, Some(t)))
      (check(s, None), progress())
    } finally queries.foreach(_.stop())
  }
}
