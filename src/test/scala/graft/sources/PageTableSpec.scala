package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pages.PageGen
import graft.runtime.FeatureJob

class PageTableSpec extends SparkSpec {

  private lazy val path = {
    val dir = Files.createTempDirectory("pagetable").toString + "/pages"
    val pages = PageGen.pages(spark, PageGen.Config(urls = 40, revisitsPerUrl = 4, hotUrls = 2, hotFactor = 4)).toDF()
    PageTable.write(pages, dir, nBuckets = 8)
    dir
  }

  test("round-trip preserves rows; layout columns present") {
    val df = PageTable.read(spark, path)
    assert(df.count() == PageGen.totalRows(PageGen.Config(urls = 40, revisitsPerUrl = 4, hotUrls = 2, hotFactor = 4)))
    assert(df.columns.contains(PageTable.DayCol) && df.columns.contains(PageTable.BucketCol))
  }

  test("bucket pruning reaches the scan as a partition filter") {
    val someUrl = PageGen.urlOf(PageGen.Config(urls = 40), 7)
    val pruned = PageTable.readPruned(spark, path, urls = Seq(someUrl), nBuckets = 8)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(PageTable.BucketCol),
      s"bucket predicate must prune partitions:\n$plan")
    // correctness: only that url's rows, all revisits
    val got = pruned.select("url").distinct().collect().map(_.getString(0)).toSeq
    assert(got == Seq(someUrl))
    assert(pruned.count() == 4)
  }

  test("driver-side bucketOf agrees with the engine's xxhash64 bucket") {
    val engine = PageTable.read(spark, path)
      .select(col("url"), col(PageTable.BucketCol)).distinct()
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    engine.foreach { case (url, b) =>
      assert(PageTable.bucketOf(url, 8) == b, s"bucket mismatch for $url")
    }
  }

  test("bucketOf matches xxhash64 for non-ASCII urls (UTF-8 byte length)") {
    // multi-byte UTF-8: 2-byte (é), 3-byte (CJK), 4-byte (emoji), mixed
    val urls = Seq(
      "https://exämple.com/über/straße",
      "https://例え.テスト/ページ",
      "https://site.com/路径/文件?q=中文",
      "https://emoji.dev/🚀/🌍{idx}",
      "http://Ω.gr/φ/ψ-χ") ++ (0 until 50).map(i => s"https://mixed$i.com/日本語/p$i/é")
    import spark.implicits._
    val engine = urls.toDF("url")
      .select(col("url"), pmod(xxhash64(col("url")), lit(8)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    engine.foreach { case (url, b) =>
      assert(PageTable.bucketOf(url, 8) == b, s"bucket mismatch for non-ASCII url $url")
    }
  }

  test("day-range pruning filters partitions") {
    val all = PageTable.read(spark, path)
    val minDay = all.agg(min(col(PageTable.DayCol))).head().getInt(0)
    val pruned = PageTable.readPruned(spark, path, dayFrom = Some(minDay + 1))
    assert(pruned.count() < all.count())
    assert(pruned.agg(min(col(PageTable.DayCol))).head().getInt(0) >= minDay + 1)
  }

  test("mergeDelta upserts by (url, warc_ts) and rewrites ONLY touched partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pagetable_merge").toString + "/pages"
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val base = (0 until 60).map(i =>
      (s"https://m$i.com/", ts(100 + i % 3), s"body$i")).toDF("url", "warc_ts", "text")
    PageTable.write(base, dir, nBuckets = 4)

    def fileState(): Map[String, Long] = {
      val root = new java.io.File(dir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileState()

    // delta: replace url m0 at its existing ts (same partition), insert a
    // new revisit of m1 on a brand-new day (new partition)
    val delta = Seq(
      ("https://m0.com/", ts(100), "REPLACED"),
      ("https://m1.com/", ts(500), "NEWDAY")).toDF("url", "warc_ts", "text")
    PageTable.mergeDelta(spark, dir, delta, nBuckets = 4)

    val after = PageTable.read(spark, dir)
      .select($"url", $"warc_ts", $"text").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2))).toSet
    val expected = base.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2)))
      .filterNot(t => t._1 == "https://m0.com/" && t._2 == ts(100)).toSet ++
      Set(("https://m0.com/", ts(100), "REPLACED"),
        ("https://m1.com/", ts(500), "NEWDAY"))
    assert(after === expected)

    // untouched partitions keep their exact files; touched ones changed
    val newDayPart = s"${PageTable.DayCol}=500"
    val m0Part = s"${PageTable.DayCol}=100/${PageTable.BucketCol}=${PageTable.bucketOf("https://m0.com/", 4)}"
    val stateAfter = fileState()
    val untouchedBefore = before.filterNot(_._1.contains(m0Part))
    untouchedBefore.foreach { case (p, m) =>
      assert(stateAfter.get(p).contains(m), s"untouched partition file rewritten: $p")
    }
    assert(stateAfter.keys.exists(_.contains(newDayPart)), "new partition written")
    assert(before.keys.filter(_.contains(m0Part)) !=
      stateAfter.keys.filter(_.contains(m0Part)), "touched partition rewritten")
  }

  test("snapshots: time travel across appends and a replace; old versions frozen") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snapshots").toString + "/t"
    val v1 = PageTable.writeSnapshot((1L to 10L).toDF("id"), dir)
    val v2 = PageTable.writeSnapshot((11L to 15L).toDF("id"), dir)
    assert(v1 == 1 && v2 == 2)
    assert(PageTable.latestSnapshotVersion(dir) == 2)
    // v1 is frozen at 10 rows; v2 sees the append; default = latest
    assert(PageTable.readSnapshot(spark, dir, 1).count() == 10L)
    assert(PageTable.readSnapshot(spark, dir, 2).count() == 15L)
    assert(PageTable.readSnapshot(spark, dir).count() == 15L)
    val v1ids = PageTable.readSnapshot(spark, dir, 1)
      .orderBy("id").as[Long].collect()
    assert(v1ids.toSeq == (1L to 10L))
    // replace: v3 starts fresh — and v1/v2 STILL read their old data
    val v3 = PageTable.writeSnapshot(Seq(99L).toDF("id"), dir, append = false)
    assert(v3 == 3 && PageTable.readSnapshot(spark, dir).count() == 1L)
    assert(PageTable.readSnapshot(spark, dir, 2).count() == 15L)
    assert(PageTable.readSnapshot(spark, dir, 1).count() == 10L)
    // no snapshots -> loud failure
    intercept[IllegalArgumentException] {
      PageTable.readSnapshot(spark,
        Files.createTempDirectory("empty").toString)
    }
  }

  // ---- schema sidecar ---------------------------------------------------

  private val pagesCfg = PageGen.Config(urls = 24, revisitsPerUrl = 3, hotUrls = 1, hotFactor = 4)

  private def freshTable(): String = {
    val dir = Files.createTempDirectory("pagetable_schema").toString + "/pages"
    PageTable.write(PageGen.pages(spark, pagesCfg).toDF(), dir, nBuckets = 4)
    dir
  }

  private def sidecar(dir: String) = Paths.get(dir, PageTable.SchemaFile)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Spark jobs started while `body` runs: a marker job started after it
    * is delivered after every job `body` started, so its arrival ends the
    * count.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val marker = "pagetable-jobs-marker"
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

  test("pinned read and readPruned return the inferred schema and rows") {
    val dir = freshTable()
    val inferred = spark.read.parquet(dir)
    assert(PageTable.recordedSchema(dir).contains(inferred.schema))
    assert(PageTable.recordedSchema(s"file:$dir").contains(inferred.schema))
    val pinned = PageTable.read(spark, dir)
    assert(pinned.schema == inferred.schema, pinned.schema.treeString)
    assert(pinned.columns.takeRight(2).toSeq == Seq(PageTable.DayCol, PageTable.BucketCol))
    assert(sameRows(pinned, inferred))
    val url = PageGen.urlOf(pagesCfg, 5)
    val pruned = PageTable.readPruned(spark, dir, urls = Seq(url), nBuckets = 4)
    assert(sameRows(pruned, inferred.where(col("url") === url)) && pruned.count() == 3)
  }

  test("reading a table with the sidecar starts zero Spark jobs; inference starts one") {
    val dir = freshTable()
    assert(jobsStartedBy(PageTable.read(spark, dir).schema) == 0)
    assert(jobsStartedBy(spark.read.parquet(dir).schema) >= 1, "the count must see inference")
  }

  test("a table without the sidecar still reads, by inference; fingerprint unchanged") {
    val dir = freshTable()
    val withSidecar = PageTable.read(spark, dir)
    val fp = FeatureJob.fingerprint(withSidecar)
    Files.delete(sidecar(dir))
    assert(PageTable.recordedSchema(dir).isEmpty)
    val inferred = PageTable.read(spark, dir)
    assert(inferred.schema == withSidecar.schema && sameRows(inferred, withSidecar))
    // manifests written before the sidecar existed still resume
    assert(FeatureJob.fingerprint(inferred) == fp)
    // a malformed sidecar is ignored too
    Files.write(sidecar(dir), "{not json".getBytes("UTF-8"))
    assert(PageTable.recordedSchema(dir).isEmpty && PageTable.read(spark, dir).schema == withSidecar.schema)
  }

  test("append: same schema keeps the sidecar, a different one drops it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("pagetable_append").toString + "/pages"
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    PageTable.write(Seq(("https://a/", ts(10), "x")).toDF("url", "warc_ts", "text"), dir, nBuckets = 4)
    PageTable.write(Seq(("https://b/", ts(11), "y")).toDF("url", "warc_ts", "text"), dir,
      nBuckets = 4, mode = "append")
    assert(PageTable.recordedSchema(dir).contains(spark.read.parquet(dir).schema))
    assert(PageTable.read(spark, dir).count() == 2)
    // text becomes a long: the files now disagree, so reads infer
    PageTable.write(Seq(("https://c/", ts(12), 7L)).toDF("url", "warc_ts", "text"), dir,
      nBuckets = 4, mode = "append")
    assert(!Files.exists(sidecar(dir)))
    assert(PageTable.read(spark, dir).schema == spark.read.parquet(dir).schema)
    // an overwrite replaces the table and records its schema again
    PageTable.write(Seq(("https://d/", ts(13), 1L)).toDF("url", "warc_ts", "text"), dir, nBuckets = 4)
    assert(PageTable.recordedSchema(dir).contains(spark.read.parquet(dir).schema))
  }

  test("mergeDelta leaves the sidecar valid") {
    val dir = freshTable()
    val before = PageTable.recordedSchema(dir)
    val delta = PageGen.pages(spark, pagesCfg.copy(seed = 99L, urls = 6, hotUrls = 0)).toDF()
    PageTable.mergeDelta(spark, dir, delta, nBuckets = 4)
    val inferred = spark.read.parquet(dir)
    assert(before.isDefined && PageTable.recordedSchema(dir) == before)
    assert(before.contains(inferred.schema))
    assert(sameRows(PageTable.read(spark, dir), inferred))
  }

  test("readSnapshot: pinned schema equals inference across types; mixed dirs infer") {
    val dir = Files.createTempDirectory("snapshot_schema").toString + "/t"
    val meta = new org.apache.spark.sql.types.MetadataBuilder().putString("k", "v").build()
    val rich = spark.range(4).selectExpr(
      "id", "named_struct('a', id, 'b', cast(id as double)) as s", "array(id) as arr",
      "map('k', id) as m", "cast(id as decimal(10,2)) as dec", "date'2020-01-01' as d",
      "timestamp_ntz'2020-01-01 00:00:00' as ntz", "cast(id as timestamp) as ts",
      "cast(id as string) as str", "cast(cast(id as string) as binary) as bin")
      .withColumn("idm", col("id").as("idm", meta))
    val v1 = PageTable.writeSnapshot(rich, dir)
    val v2 = PageTable.writeSnapshot(rich, dir)
    val dirs = Seq(1, 2).map(v => s"$dir/data/v$v")
    val inferred = spark.read.parquet(dirs: _*)
    assert(PageTable.recordedSchema(dirs.head).contains(inferred.schema),
      s"${PageTable.recordedSchema(dirs.head).map(_.treeString)}\n${inferred.schema.treeString}")
    val pinned = PageTable.readSnapshot(spark, dir, v2)
    // map columns rule out exceptAll: compare rows as sorted JSON
    def json(df: DataFrame) = df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).sorted.toSeq
    assert(pinned.schema == inferred.schema && json(pinned) == json(inferred))
    assert(jobsStartedBy(PageTable.readSnapshot(spark, dir, v1).schema) == 0)
    // a third version with another schema: the directories disagree, so
    // reading v3 infers (and still reads every directory)
    val v3 = PageTable.writeSnapshot(spark.range(3).toDF("id"), dir)
    val mixed = PageTable.readSnapshot(spark, dir, v3)
    val mixedInferred = spark.read.parquet((dirs :+ s"$dir/data/v3"): _*)
    assert(mixed.schema == mixedInferred.schema && mixed.count() == 11L)
  }
}
