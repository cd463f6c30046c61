package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pages.PageGen
import graft.runtime.FeatureJob
import graft.temporal.{AsOfJoin, Windows}

/** Tiny docs, many revisits per url and strong hot-url skew: extract, then
  * sessionize / lag-lead / backfill, then an as-of join that attaches the
  * windowed features to seeded probe timestamps, into a noop sink.
  * Exchange, sort and window under skew dominate; nothing is written.
  */
object RevisitSkewed extends Workload {
  val name = "revisit_skewed"
  val GapSeconds: Long = 6 * 3600
  val BucketSeconds: Long = 7 * 86400

  def config(o: Opts): PageGen.Config = PageGen.Config(
    urls = 300, revisitsPerUrl = 12, hotUrls = 4, hotFactor = 60, seed = o.seed,
    sessionGapHours = 6, docScale = 1)

  private var probeRows = 0L

  /** Corpus plus probes: every revisit whose seeded hash is even gets one
    * probe at its crawl time shifted by up to one session gap either way.
    */
  def prepare(c: Ctx): Long = {
    val pages = c.writeCorpus(config(c.o))
    val h = xxhash64(col("url"), col("warc_ts"), lit(c.o.seed))
    val shift = pmod(h, lit(2 * GapSeconds)) - GapSeconds
    c.readCorpus().where(pmod(h, lit(2)) === 0)
      .select(col("url"), timestamp_seconds(unix_seconds(col("warc_ts")) + shift).as("probe_ts"))
      .write.mode("overwrite").parquet(c.path("probes"))
    probeRows = probes(c).count()
    pages
  }

  private def probes(c: Ctx): DataFrame = c.spark.read.parquet(c.path("probes"))

  private val keys = Seq("url")

  /** Windowed feature rows of the corpus (the as-of build side). */
  private def build(c: Ctx, t: Option[Tracer]): DataFrame = {
    val pages = sp(t, "sources.read")(c.readCorpus())
    val ex = sp(t, "functions.extractStage")(FeatureJob.extractStage(pages))
      .drop("html", "text")
      .withColumn("clauses", col("features.clauses"))
      .withColumn("variables", col("features.variables"))
    val s = sp(t, "temporal.sessionize")(Windows.sessionize(ex, keys, "warc_ts", GapSeconds))
    val l = sp(t, "temporal.lagLead")(Windows.lagLead(s, keys, "warc_ts", Seq("clauses", "variables")))
    val b = sp(t, "temporal.backfill")(
      Windows.backfill(l, keys, "warc_ts", Seq("clauses_lag1", "variables_lag1")))
    // lead columns read later crawls: labels, never features for a probe
    b.drop(b.columns.filter(_.contains("_future_")): _*)
  }

  private def joined(c: Ctx, t: Option[Tracer], probe: DataFrame, b: DataFrame): DataFrame =
    sp(t, "temporal.asOfBucketed")(
      AsOfJoin.asOfBucketed(probe, b, keys, "probe_ts", "warc_ts", lit(BucketSeconds)))

  def op(c: Ctx, t: Option[Tracer]): Unit =
    c.noop(joined(c, t, probes(c), build(c, t)))

  private var lastOut: Map[String, Double] = Map.empty

  def check(c: Ctx, t: Option[Tracer]): Seq[Check] = {
    val b = build(c, None)
    val out = joined(c, None, probes(c), b).localCheckpoint()
    val rows = out.count()
    val audit = AsOfJoin.leakageAudit(out, keys, "probe_ts", "warc_ts")
      .agg(sum("n_leaks"), sum("n_matched")).head()
    val leaks = audit.getLong(0)
    // a hashed url sample through the asOfUnion oracle
    val inSample = pmod(xxhash64(col("url"), lit(c.o.seed)), lit(32)) === 0
    val oracle = AsOfJoin.asOfUnion(probes(c).where(inSample), b.where(inSample),
      keys, "probe_ts", "warc_ts")
    val sampled = out.where(inSample)
    val sampleRows = sampled.count()
    val diff = Workload.symmetricDiff(sampled, oracle)
    lastOut = Map("rows" -> rows.toDouble, "leaks" -> leaks.toDouble,
      "matched" -> audit.getLong(1).toDouble)
    Seq(
      Check("leakage_audit_zero", leaks == 0L, s"$leaks leaked rows"),
      Check("output_rows_equal_probe_rows", rows == probeRows, s"$rows vs $probeRows"),
      Check("url_sample_equals_asOfUnion", sampleRows > 0 && diff == 0L,
        s"$sampleRows sampled rows, $diff differ"))
  }

  def layers(c: Ctx, t: Tracer): Map[String, Double] = {
    def pages = c.readCorpus()
    val readS = medianSpan(t, "sources.read")(c.noop(pages.drop("html")))
    val extractS = medianSpan(t, "functions.extractStage")(
      c.noop(FeatureJob.extractStage(pages).drop("html", "text")))
    val windowS = medianSpan(t, "temporal.window")(c.noop(build(c, None)))
    val opS = Tracer.median(t.named("bench.op"))
    val (ra, ea, oa) = (t.agg(readS), t.agg(extractS), t.agg(opS))
    val status = FeatureJob.extractStage(pages).groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val okRows = status.getOrElse("ok", 0L)
    Map(
      "sources.read_s" -> readS.durS,
      "sources.scan_tasks" -> ra.tasks.toDouble,
      "sources.bytes_read_mb" -> ra.inputMb,
      "functions.extract_s" -> (extractS.durS - readS.durS),
      "functions.extract_cpu_s" -> (ea.cpuS - ra.cpuS),
      "functions.rows" -> status.values.sum.toDouble,
      "functions.ok_rows" -> okRows.toDouble,
      "functions.ok_frac" -> okRows.toDouble / math.max(1L, status.values.sum),
      "temporal.window_s" -> (windowS.durS - extractS.durS),
      "temporal.asof_s" -> (opS.durS - windowS.durS),
      "temporal.shuffle_write_mb" -> (oa.shuffleWriteMb - ea.shuffleWriteMb),
      "temporal.task_skew" -> Agg.skew(t.tasks(windowS)),
      "temporal.asof_matched_frac" -> lastOut("matched") / math.max(1.0, lastOut("rows")),
      "temporal.leaked_rows" -> lastOut("leaks"))
  }
}
