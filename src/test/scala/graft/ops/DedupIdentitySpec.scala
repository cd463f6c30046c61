package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{SparkEvents, SparkSpec}
import graft.core.TextKernels
import graft.functions.{lsh_bands, minhash_from_shingles, shingles}
import graft.pages.PageGen

/** The one-pass near-dup pipeline against [[DedupOracle]], the pipeline it
  * replaced: the same verified pairs, cluster labels and `kept` flags on
  * seeded PageGen corpora with planted near-copies, exact revisit copies,
  * short docs, null text and duplicate ids — on the driver-local and on the
  * forced-distributed cluster path. Plus the round cap of `clusters` on
  * both paths and the short-doc hot bucket.
  */
class DedupIdentitySpec extends SparkSpec {
  import spark.implicits._

  private val CcKey = "spark.graft.cc.localEdgeThreshold"

  private def forcedDistributed[T](body: => T): T = {
    spark.conf.set(CcKey, "0")
    try body finally spark.conf.unset(CcKey)
  }

  /** `body` on the local path and on the forced-distributed path. */
  private def bothPaths(body: String => Unit): Unit = {
    body("local")
    forcedDistributed(body("distributed"))
  }

  /** Words of `text` with one word in `every` replaced: a near-copy. */
  private def nearCopy(text: String, rnd: scala.util.Random, every: Int): String = {
    val w = text.split(" ")
    (0 until math.max(1, w.length / every)).foreach(_ => w(rnd.nextInt(w.length)) = s"x${rnd.nextInt(1000)}")
    w.mkString(" ")
  }

  /** (id, text, score) rows: PageGen docs and their exact revisit copies,
    * planted near-copies, short docs (some repeated), null text, null
    * scores, ids that occur twice with different text (one of them a
    * planted copy's source that carries another cluster's page), and a
    * page without an id.
    */
  private def corpus(seed: Long, urls: Int): Seq[(Option[Long], String, Option[Double])] = {
    val cfg = PageGen.Config(seed = seed, docScale = 2)
    val rnd = new scala.util.Random(seed)
    val pages = for (u <- 0 until urls; r <- 0 until 2) yield PageGen.textOf(cfg, u, r)
    val copies = pages.indices.filter(_ % 4 == 0).map(i => nearCopy(pages(i), rnd, 60))
    val short = (0 until 30).map(i => Seq("p", "cnf", s"${i % 7}", "0").take(1 + i % 4).mkString(" "))
    val texts: Seq[String] = pages ++ copies ++ short ++ Seq.fill(5)(null)
    val rows = texts.zipWithIndex.map { case (t, i) =>
      (Option(i.toLong * 3 + 1), t, if (i % 9 == 0) None else Some((rnd.nextInt(5) - 2).toDouble))
    }
    // duplicate ids: a near-copy, a short doc and a null text under ids
    // already taken; page 0's id (a node: page 0 has a planted copy) on
    // page 4, which has its own copy; and page 8, which has a copy too,
    // under a null id
    val dups = Seq(
      (rows(2)._1, nearCopy(pages(2), rnd, 40), Some(1.0)),
      (rows(5)._1, "p cnf", None),
      (rows(7)._1, null, Some(0.0)),
      (rows(0)._1, pages(4), Some(2.0)),
      (None, pages(8), Some(3.0)))
    rnd.shuffle(rows ++ dups)
  }

  private def frame(rows: Seq[(Option[Long], String, Option[Double])]): DataFrame =
    rows.toDF("id", "text", "score").repartition(3)

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("nearDupDedup ≡ oracle, with and without keepByCol, on both cluster paths") {
    for (seed <- Seq(3L, 17L)) {
      val df = frame(corpus(seed, 60))
      bothPaths { path =>
        for (keepBy <- Seq(None, Some("score"))) {
          val got = Dedup.nearDupDedup(df, "id", "text", keepByCol = keepBy)
          val exp = DedupOracle.nearDupDedup(df, "id", "text", keepByCol = keepBy)
          val g = sorted(got)
          assert(g == sorted(exp), s"seed $seed, $path, keepBy $keepBy")
          assert(got.where(!col("kept")).count() > 20, "corpus must plant duplicates")
          // the id-less page has no cluster row; keepBy fans duplicated ids out
          if (keepBy.isEmpty) assert(got.count() == df.count() - 1)
        }
      }
    }
  }

  test("verifiedPairsPre + clusters (the q48 shape) ≡ oracle, on both cluster paths") {
    val df = frame(corpus(29L, 50))
    val pre = Fanout.ensure(df).select(col("id").as("_sid"), shingles(col("text"), 3).as("_sh"))
      .localCheckpoint()
    val pairs = Dedup.verifiedPairsPre(pre, 64, 32, 0.8)
    val expPairs = DedupOracle.verifiedPairsPre(pre, 64, 32, 0.8)
    assert(sorted(pairs) == sorted(expPairs))
    assert(pairs.count() > 20)
    bothPaths { path =>
      assert(sorted(Dedup.clusters(pairs)) == sorted(DedupOracle.clusters(expPairs)), path)
    }
    // string ids always take the distributed path
    val spre = pre.select(concat(lit("d"), col("_sid")).as("_sid"), col("_sh"))
    assert(sorted(Dedup.clusters(Dedup.verifiedPairsPre(spre, 64, 32, 0.8))) ==
      sorted(DedupOracle.clusters(DedupOracle.verifiedPairsPre(spre, 64, 32, 0.8))))
  }

  test("candidatePairsPre computes each signature once: both join sides read one exchange") {
    val pre = frame(corpus(5L, 20)).select(col("id").as("_sid"), shingles(col("text"), 5).as("_sh"))
      .localCheckpoint()
    val cands = Dedup.candidatePairsPre(pre, 128, 32)
    cands.collect()
    val plan = cands.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("== Final Plan =="), plan)
    assert("minhash_from_shingles\\(".r.findAllMatchIn(plan).size == 1, plan)
    assert(plan.contains("ReusedExchange"), plan)
    assert(!plan.contains("Broadcast"), plan)
  }

  test("nearDupIncremental ≡ oracle, on both cluster paths") {
    val rows = corpus(41L, 60)
    val (led, in) = rows.splitAt(rows.length / 2)
    // the shard also re-ingests a few ledger docs verbatim, under new ids
    val incoming = frame(in ++ led.take(8).map { case (id, t, s) => (id.map(_ + 1), t, s) })
    val ledger = frame(led)
    bothPaths { path =>
      val got = Dedup.nearDupIncremental(incoming, ledger, "id", "text")
      val exp = DedupOracle.nearDupIncremental(incoming, ledger, "id", "text")
      val g = sorted(got)
      assert(g == sorted(exp), path)
      assert(g.exists(_.contains("ledger_dup")) && g.exists(_.contains("shard_dup")))
    }
  }

  test("clusters: null ids take the distributed path, as before") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null), (null, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    assert(sorted(Dedup.clusters(pairs)) == sorted(DedupOracle.clusters(pairs)))
  }

  test("clusters: local ≡ forced-distributed under the round cap") {
    val rnd = new scala.util.Random(99)
    val graphs = Seq(
      (0L until 40L).map(i => (i, i + 1)),                 // a 41-node chain
      (0L until 40L).map(i => (40L - i, 39L - i)) ++       // reversed chain
        Seq.fill(25)((rnd.nextInt(60).toLong + 100, rnd.nextInt(60).toLong + 100)),
      Seq.fill(80)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)))
    for ((g, gi) <- graphs.zipWithIndex; maxIters <- Seq(1, 2, 3, 10)) {
      val pairs = g.toDF("id_a", "id_b")
      val local = sorted(Dedup.clusters(pairs, maxIters = maxIters))
      val dist = forcedDistributed(sorted(Dedup.clusters(pairs, maxIters = maxIters)))
      assert(local == dist, s"graph $gi, maxIters $maxIters")
    }
    // the cap binds: one round on a chain is not the fixpoint
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val one = Dedup.clusters(chain, maxIters = 1).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one(40L) != 0L && Dedup.clusters(chain).collect().forall(_.getLong(1) == 0L))
  }

  test("withClusterId: driver-held labels attach by lookup only within the broadcast threshold") {
    val pre = frame(corpus(29L, 50)).select(col("id").as("_sid"), shingles(col("text"), 3).as("_sh"))
      .localCheckpoint()
    val pairs = Dedup.verifiedPairsPre(pre, 64, 32, 0.8).localCheckpoint()
    val ids = pre.select(col("_sid").as("id"))
    val nodes = Dedup.clusters(pairs).count()
    assert(nodes > 20)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    /** (whether the labels attach by lookup, the labelled rows) at `threshold` bytes. */
    def attach(threshold: Long): (Boolean, Seq[String]) = {
      spark.conf.set(key, threshold.toString)
      try {
        val labeled = Dedup.withClusterId(ids, "id", pairs)
        (labeled.queryExecution.analyzed.toString.contains("component_label("), sorted(labeled))
      } finally spark.conf.unset(key)
    }
    // two longs per node: at the threshold the lookup, one byte under it the join
    val (atLookup, atRows) = attach(16 * nodes)
    val (underLookup, underRows) = attach(16 * nodes - 1)
    assert(atLookup && !underLookup)
    assert(!attach(-1)._1)
    assert(atRows == underRows)
    assert(atRows == forcedDistributed(sorted(Dedup.withClusterId(ids, "id", pairs))))
  }

  test("short docs share no LSH bucket and stay singletons") {
    val docs = (0 until 2000).map(i => (i.toLong, Seq("a", "b", "c", "d").take(1 + i % 4).mkString(" ")))
      .toDF("id", "text")
    val pre = docs.select(col("id").as("_sid"), shingles(col("text"), 5).as("_sh"))
    assert(Dedup.candidatePairsPre(pre, 128, 32).count() == 0L)
    val out = Dedup.nearDupDedup(docs, "id", "text").collect()
    assert(out.length == 2000)
    assert(out.forall { case Row(id: Long, c: Long, n: Long, k: Boolean) => c == id && n == 1L && k })
  }

  test("lsh_bands ≡ the transform/slice/xxhash64 banding, null and empty signatures included") {
    val texts = corpus(7L, 20).map(_._2)
    for ((numHashes, numBands) <- Seq((128, 32), (64, 32), (64, 16), (12, 4))) {
      val sigs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("_id", "text")
        .select(col("_id"), minhash_from_shingles(shingles(col("text"), 3), numHashes).as("_sig"))
        .unionByName(Seq((-1L, null: Seq[Long]), (-2L, Seq.empty[Long])).toDF("_id", "_sig"))
      val got = sigs.select(posexplode(lsh_bands(col("_sig"), numBands)).as(Seq("_band", "_bucket")),
        col("_id"))
      val exp = DedupOracle.bandedFromSigs(sigs, numBands, numHashes / numBands)
      assert(sorted(got) == sorted(exp), s"$numHashes/$numBands")
      assert(got.count() == (texts.length + 2L) * numBands)
    }
  }

  test("the two-loop minHashFromShingles ≡ the scalar loop, on duplicate shingles too") {
    val rnd = new java.util.SplittableRandom(3)
    val docs = corpus(9L, 10).flatMap(r => Option(r._2)).map(TextKernels.shingles(_, 3)) ++ Seq(
      Array.emptyLongArray,
      Array(5L, 5L, -1L, 5L, Long.MinValue, Long.MaxValue, -1L),
      Array.fill(50)(rnd.nextLong(4)))
    for (sh <- docs; n <- Seq(1, 3, 127, 128, 130)) {
      assert(TextKernels.minHashFromShingles(sh, n).toSeq == DedupOracle.minHashFromShingles(sh, n).toSeq,
        s"numHashes $n on ${sh.take(4).mkString(",")}")
    }
  }

  test("nearDupDedup on a benchmark-sized local-path corpus: jobs and SQL executions per call") {
    // 1,600 PageGen docs and a near-copy of every tenth, as parquet files
    val cfg = PageGen.Config(urls = 400, revisitsPerUrl = 4, hotUrls = 0, hotFactor = 1, seed = 5,
      docScale = 2)
    val pages = for (u <- 0 until 400; r <- 0 until 4) yield PageGen.textOf(cfg, u, r)
    val copies = pages.indices.filter(_ % 10 == 0).map(i => pages(i).replaceFirst(" 1 ", " 2 "))
    val dir = java.nio.file.Files.createTempDirectory("neardup_jobs").toString + "/t"
    (pages ++ copies).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(3).write.parquet(dir)
    val df = spark.read.parquet(dir)
    // executions: the fan-out probe, the shingle checkpoint, the pair
    // checkpoint, the LocalDispatch collect and this collect; jobs: one
    // for the shingles, four for the pairs (band shuffle, shingle
    // broadcast, pair-distinct shuffle, result), the collect, and three
    // for the labels, which attach by a lookup (size shuffle, size
    // broadcast, result)
    val counts = SparkEvents.count(spark)(Dedup.nearDupDedup(df, "id", "text").collect())
    assert(counts == SparkEvents.Counts(jobs = 9, executions = 5))
  }
}
