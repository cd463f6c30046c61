package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{CnfBase, Dimacs}
import graft.pages.PageGen
import graft.runtime.{FeatureJob, Manifest}
import graft.temporal.AsOfJoin

/** Large CNF docs, few revisits, no hot urls, read from the on-disk
  * PageTable layout: `FeatureJob.run` to parquet with its manifest. The
  * CNF kernels in the scan stage do most of the work. Beside the measured
  * op, the checks resume after `Manifest.truncate`, and the traced run
  * serves the written features point-in-time to seeded probe timestamps
  * with `AsOfJoin.asOfBucketed`, times that and checks it.
  */
object ExtractHeavy extends Workload {
  val name = "extract_heavy"
  override def partitioned: Boolean = true
  val Urls = 1000
  val Shards = 8
  val GapSeconds: Long = 6 * 3600
  val BucketSeconds: Long = 7 * 86400

  def config(o: Opts): PageGen.Config = PageGen.Config(
    urls = if (o.quarter) Urls / 4 else Urls, revisitsPerUrl = 2, hotUrls = 0,
    hotFactor = 1, seed = o.seed, docScale = 16)

  private var rows = 0L
  private val out = "out"

  def prepare(c: Ctx): Long = { rows = c.writeCorpus(config(c.o)); rows }

  /** As-of probes, written on first use: every page whose seeded hash is
    * even gets one probe at its crawl time shifted by up to one session
    * gap either way.
    */
  private def probes(c: Ctx): DataFrame = {
    val path = c.path("probes")
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      val h = xxhash64(col("url"), col("warc_ts"), lit(c.o.seed))
      val shift = pmod(h, lit(2 * GapSeconds)) - GapSeconds
      c.readCorpus().where(pmod(h, lit(2)) === 0)
        .select(col("url"), timestamp_seconds(unix_seconds(col("warc_ts")) + shift).as("probe_ts"))
        .write.parquet(path)
    }
    c.spark.read.parquet(path)
  }

  override def beforeOp(c: Ctx): Unit = c.rmrf(out)

  private def jobConfig(c: Ctx) = FeatureJob.Config(outDir = c.path(out), shards = Shards)

  def op(c: Ctx, t: Option[Tracer]): Unit = {
    val pages = sp(t, "sources.read")(c.readCorpus())
    val report = sp(t, "runtime.run")(FeatureJob.run(c.spark, pages, jobConfig(c)))
    require(report.rows == rows, s"FeatureJob wrote ${report.rows} rows, expected $rows")
  }

  private def output(c: Ctx): DataFrame = c.spark.read.parquet(c.path(s"$out/data"))

  /** The written feature rows an as-of lookup serves. */
  private def features(c: Ctx): DataFrame = output(c).select(col("url"), col("warc_ts"),
    col("instance_id"), col("session_id"), col("clauses_delta"), col("variables_delta"))

  private def served(c: Ctx, probe: DataFrame, build: DataFrame): DataFrame =
    AsOfJoin.asOfBucketed(probe, build, Seq("url"), "probe_ts", "warc_ts", lit(BucketSeconds))

  /** Per shard of the written parquet: (rows, checksum exactly as the
    * manifest defines it, sum of a hash over every output column).
    */
  private def shardTerms(c: Ctx): Map[Int, (Long, Long, java.math.BigDecimal)] = {
    val df = output(c)
    val cols = df.columns.filterNot(_ == "_shard").map(col)
    df.groupBy(col("_shard"))
      .agg(count(lit(1)),
        sum(xxhash64(col("url"), col("warc_ts"), coalesce(col("instance_id"), lit("")))
          .cast("decimal(20,0)")),
        sum(xxhash64(cols: _*).cast("decimal(20,0)")))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDecimal(2).longValue(), r.getDecimal(3))).toMap
  }

  /** (wall s, skipped shards) of the resume the checks ran. */
  private var lastResume = (0.0, 0)

  /** Keep half the manifest, resume, and return (wall s, skipped shards). */
  private def resume(c: Ctx): (Double, Int) = {
    Manifest.truncate(c.path(out), (0 until Shards / 2).toSet)
    System.gc()
    val t0 = System.nanoTime()
    val r = FeatureJob.run(c.spark, c.readCorpus(), jobConfig(c))
    ((System.nanoTime() - t0) / 1e9, r.skippedShards.size)
  }

  /** Checks the output the last measured op left behind, and, when
    * traced, the as-of lookup of it.
    */
  def check(c: Ctx, t: Option[Tracer]): Seq[Check] = {
    val fp = FeatureJob.fingerprint(c.readCorpus())
    val manifest = Manifest.completed(c.path(out), fp)
    val before = shardTerms(c)
    val outRows = before.values.map(_._1).sum
    val manifestOk = manifest.size == Shards && manifest.forall { case (s, e) =>
      before.get(s).exists { case (n, sum, _) => (n, sum) == ((e.rowCount, e.checksum)) }
    }
    // the as-of lookup is not part of the measured op: only the traced
    // run, which times it, checks it
    val asOf = if (t.isDefined) asOfChecks(c) else Nil
    val (resumeS, skipped) = resume(c)
    lastResume = (resumeS, skipped)
    val after = shardTerms(c)
    asOf ++ Seq(
      Check("output_rows_equal_input_rows", outRows == rows, s"$outRows vs $rows"),
      Check("manifest_checksums_match_parquet", manifestOk,
        s"${manifest.size} entries, ${before.size} shards on disk"),
      Check("resume_skips_kept_shards", skipped == Shards / 2, s"skipped $skipped"),
      Check("resumed_output_equals_full_run", before == after && before.size == Shards,
        s"${before.size} shards before, ${after.size} after"),
      kernelParity(c))
  }

  /** (probe rows, matched, leaked) of the as-of lookup the checks ran. */
  private var lastAsOf = (0L, 0L, 0L)

  /** The as-of lookup over the written features: no leaked rows, one row
    * per probe, and a hashed url sample equal to the `asOfUnion` oracle.
    */
  private def asOfChecks(c: Ctx): Seq[Check] = {
    val b = features(c)
    val probeRows = probes(c).count()
    val got = served(c, probes(c), b).localCheckpoint()
    val n = got.count()
    val audit = AsOfJoin.leakageAudit(got, Seq("url"), "probe_ts", "warc_ts")
      .agg(sum("n_leaks"), sum("n_matched")).head()
    val leaks = audit.getLong(0)
    lastAsOf = (n, audit.getLong(1), leaks)
    val inSample = pmod(xxhash64(col("url"), lit(c.o.seed)), lit(32)) === 0
    val oracle = AsOfJoin.asOfUnion(probes(c).where(inSample), b.where(inSample),
      Seq("url"), "probe_ts", "warc_ts")
    val sampled = got.where(inSample)
    val sampleRows = sampled.count()
    val diff = Workload.symmetricDiff(sampled, oracle)
    Seq(
      Check("asof_leakage_audit_zero", leaks == 0L, s"$leaks leaked rows"),
      Check("asof_rows_equal_probe_rows", n == probeRows, s"$n vs $probeRows"),
      Check("asof_url_sample_equals_asOfUnion", sampleRows > 0 && diff == 0L,
        s"$sampleRows sampled rows, $diff differ"))
  }

  /** Features and instance_id of a seeded row sample against direct core
    * calls on the same text, rel 1e-5.
    */
  private def kernelParity(c: Ctx): Check = {
    val sample = output(c).where(pmod(xxhash64(col("url"), lit(c.o.seed)), lit(40)) === 0)
      .select("url", "warc_ts", "instance_id", "features", "status")
      .join(c.readCorpus().select("url", "warc_ts", "text"), Seq("url", "warc_ts"))
      .limit(200).collect()
    val names = CnfBase.featureNames
    val bad = sample.count { r =>
      val buf = r.getAs[String]("text").getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val f = r.getAs[org.apache.spark.sql.Row]("features")
      val want = CnfBase.extract(buf)
      r.getAs[String]("status") != "ok" ||
        r.getAs[String]("instance_id") != Dimacs.gbdHashCnf(buf) ||
        f.schema.fieldNames.toSeq != names.toSeq ||
        names.indices.exists(i => !Workload.close(f.getDouble(i), want(i)))
    }
    Check("sample_matches_core_kernels", sample.nonEmpty && bad == 0,
      s"${sample.length} rows, $bad mismatched")
  }

  def layers(c: Ctx, t: Tracer): Map[String, Double] = {
    val cfg = jobConfig(c)
    def read = c.readCorpus()
    val readS = medianSpan(t, "sources.read")(c.noop(read.drop("html")))
    val extractS = medianSpan(t, "functions.extractStage")(
      c.noop(FeatureJob.extractStage(read).drop("html", "text")))
    val windowS = medianSpan(t, "temporal.window")(c.noop(FeatureJob.pipeline(read, cfg)))
    val runS = Tracer.median(t.named("runtime.run"))
    val asOfS = medianSpan(t, "temporal.asOfBucketed")(c.noop(served(c, probes(c), features(c))))
    val (ra, ea, wa) = (t.agg(readS), t.agg(extractS), t.agg(windowS))
    val outMb = c.sizeMb(s"$out/data")
    val status = output(c).groupBy("status").count().collect()
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
      "temporal.shuffle_write_mb" ->
        (wa.shuffleWriteMb - ea.shuffleWriteMb + t.agg(asOfS).shuffleWriteMb),
      "temporal.task_skew" -> Agg.skew(t.tasks(windowS)),
      "temporal.asof_s" -> asOfS.durS,
      "temporal.asof_matched_frac" -> lastAsOf._2.toDouble / math.max(1L, lastAsOf._1),
      "temporal.leaked_rows" -> lastAsOf._3.toDouble,
      "runtime.write_s" -> (runS.durS - windowS.durS),
      "runtime.output_mb" -> outMb,
      "runtime.resume_s" -> lastResume._1,
      "runtime.resume_skipped_shards" -> lastResume._2.toDouble)
  }
}
