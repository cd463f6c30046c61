package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TextKernels
import graft.functions._

/** Round-6 optimization invariants: the single-pass signature refactor, the
  * codegen'd kernel expressions, the ring-successor binary search, and the
  * prefiltered sample draw must all be BIT-IDENTICAL to the shapes they
  * replaced — these tests pin that, plus the plan shapes the speedups
  * depend on.
  */
class OptR06Spec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog again and again",
    "completely different content with many unusual tokens here now",
    "short",
    "",
    "a b a b a b a b a b c d e f g h i j k l",
    "Mixed CASE Words_and 0123 numbers' apostrophes")

  // ---- minhash_from_shingles ≡ minhash_signature ----

  test("minHashFromShingles(shingles(s)) is bit-identical to minHashSignature(s) (kernel)") {
    for (s <- texts; n <- Seq(16, 64); k <- Seq(3, 5)) {
      val direct = TextKernels.minHashSignature(s, n, k)
      val derived = TextKernels.minHashFromShingles(TextKernels.shingles(s, k), n)
      assert(direct.toSeq == derived.toSeq, s"mismatch for '$s' n=$n k=$k")
    }
  }

  test("minhash_from_shingles ≡ minhash_signature as expressions (codegen path), null-safe") {
    val df = (texts.map(Option(_)) :+ None).zipWithIndex
      .map { case (t, i) => (i.toLong, t.orNull) }.toDF("id", "text")
    val r = df.select(col("id"),
        minhash_signature(col("text"), 64, 3).as("a"),
        minhash_from_shingles(shingles(col("text"), 3), 64).as("b"))
      .collect()
    r.foreach { row =>
      val a = if (row.isNullAt(1)) null else row.getSeq[Long](1)
      val b = if (row.isNullAt(2)) null else row.getSeq[Long](2)
      assert(a == b, s"row ${row.getLong(0)}: $a != $b")
    }
  }

  // ---- kernel expressions stay inside WholeStageCodegen ----

  test("kernel expression projection compiles into WholeStageCodegen (no fallback)") {
    // derive text from range: a LocalRelation input would be constant-folded
    // into a LocalTableScan and prove nothing about codegen
    val df = spark.range(64).select(col("id"),
      concat_ws(" ", lit("alpha beta gamma"), col("id").cast("string"),
        lit("delta epsilon")).as("text"))
    val proj = df.select(col("id"),
      shingles(col("text"), 3).as("sh"),
      minhash_signature(col("text"), 16, 3).as("sig"),
      simhash64(col("text")).as("sim"),
      token_count(col("text")).as("tc"),
      text_quality(col("text")).as("q"),
      lang_id(col("text")).as("l"))
    val plan = proj.queryExecution.executedPlan.toString
    // a codegen'd project prints under a WholeStageCodegen span ("*(n) Project");
    // a CodegenFallback expression would sever the stage and print a bare Project
    assert(plan.contains("*(1) Project"), s"kernel projection fell out of codegen:\n$plan")
  }

  test("codegen and interpreted eval agree for the kernel expressions") {
    // spark.sql codegen-evaluates; direct kernel calls are the interpreted
    // single source of truth the expressions wrap
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select(col("id"), col("text"),
        shingles(col("text"), 3).as("sh"),
        minhash_signature(col("text"), 16, 3).as("sig"),
        simhash64(col("text")).as("sim"),
        simhash64_md5(col("text")).as("simm"),
        token_count(col("text")).as("tc"),
        token_count_bpe(col("text")).as("tcb"),
        rolling_fingerprint(col("text")).as("rf"),
        longest_repeat_len(col("text"), 64).as("lr"),
        normalize_webtext(col("text")).as("nw"))
      .collect()
    rows.foreach { r =>
      val t = r.getString(1)
      assert(r.getSeq[Long](2) == TextKernels.shingles(t, 3).toSeq)
      assert(r.getSeq[Long](3) == TextKernels.minHashSignature(t, 16, 3).toSeq)
      assert(r.getLong(4) == TextKernels.simHash64(t))
      assert(r.getLong(5) == TextKernels.simHash64Md5(t))
      assert(r.getLong(6) == TextKernels.tokenCountWhitespace(t))
      assert(r.getLong(7) == TextKernels.tokenCountBpe(t))
      assert(r.getLong(8) == TextKernels.rollingFingerprint(t))
      assert(r.getLong(9) == TextKernels.longestRepeatedSubstring(t, 64))
      assert(r.getString(10) == TextKernels.normalizeWebText(t))
    }
  }

  test("binary kernel expressions (jaccard_sorted / minhash_estimate / cosine) agree with kernels") {
    val df = Seq(
      (texts(0), texts(4)), (texts(0), texts(0)), (texts(1), texts(2)))
      .toDF("a", "b")
    val rows = df.select(
        jaccard_sorted(shingles(col("a"), 3), shingles(col("b"), 3)).as("j"),
        minhash_estimate(minhash_signature(col("a"), 16, 3),
          minhash_signature(col("b"), 16, 3)).as("e"),
        col("a"), col("b"))
      .collect()
    rows.foreach { r =>
      val (a, b) = (r.getString(2), r.getString(3))
      assert(r.getDouble(0) ==
        TextKernels.jaccardSorted(TextKernels.shingles(a, 3), TextKernels.shingles(b, 3)))
      assert(r.getDouble(1) == TextKernels.minHashEstimate(
        TextKernels.minHashSignature(a, 16, 3), TextKernels.minHashSignature(b, 16, 3)))
    }
    val vf = Seq((Seq(1f, 2f, 3f), Seq(3f, 2f, 1f))).toDF("x", "y")
    val c = vf.select(cosine_similarity(col("x"), col("y"))).head().getDouble(0)
    assert(c == TextKernels.cosine(Array(1f, 2f, 3f), Array(3f, 2f, 1f)))
  }

  // ---- single-pass shingling in the dedup pipelines ----

  test("nearDupDedup: shingle/signature kernels run once (plan is checkpoint-fed)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "totally unrelated content words here"))
      .toDF("id", "text")
    val out = Dedup.nearDupDedup(docs, "id", "text", numHashes = 16,
      numBands = 8, shingleSize = 2, jaccard = 0.5)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("shingles("),
      s"shingle kernel re-evaluated downstream of the checkpoint:\n$plan")
    assert(!plan.contains("minhash_signature("),
      s"signature kernel re-evaluated downstream of the checkpoint:\n$plan")
    // and the result is the same as the pre-refactor semantics on this corpus
    val kept = out.where(col("kept")).select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    val c = out.where(col("id") === 2L).head()
    assert(c.getLong(1) == 1L && c.getLong(2) == 2L && !c.getBoolean(3))
  }

  test("nearDupIncremental: incoming shard is shingled once; only the ledger re-tokenizes") {
    val ledger = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // ledger dup
      (11L, "fresh new content one two three"),        // kept
      (12L, "fresh new content one two three"))        // shard dup of 11
      .toDF("id", "text")
    val out = Dedup.nearDupIncremental(incoming, ledger, "id", "text",
      numHashes = 16, numBands = 8, shingleSize = 2, jaccard = 0.8)
    val plan = out.queryExecution.executedPlan.toString
    // incoming is checkpoint-fed and ledgerDups is checkpoint-materialized,
    // so no kernel eval survives into the output plan at all
    assert(!plan.contains("shingles("),
      s"kernel evals leaked past the checkpoints:\n$plan")
    val statuses = out.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(statuses == Map(10L -> "ledger_dup", 11L -> "kept", 12L -> "shard_dup"))
  }

  // ---- ring successor lookup ≡ the SQL it replaced ----

  test("RingLookup.successor equals the filter/array_min SQL formulation") {
    val rnd = new scala.util.Random(11)
    val ring = Array.fill(64)(rnd.nextLong() & 0x0fffffffffffffffL).distinct.sorted
    val shards = ring.map(p => p % 7)
    def oldSql(key: Long): Long = {
      val ge = ring.zip(shards).filter(_._1 >= key)
      if (ge.nonEmpty) ge.minBy(_._1)._2 else shards(ring.indexOf(ring.min))
    }
    val keys = Array(0L, ring(0), ring(0) - 1, ring.last, ring.last + 1,
      Long.MaxValue & 0x0fffffffffffffffL) ++
      Array.fill(200)(rnd.nextLong() & 0x0fffffffffffffffL)
    keys.foreach { k =>
      assert(RingLookup.successor(ring, shards, k) == oldSql(k), s"key $k")
    }
  }

  test("consistentShard output unchanged by the binary-search rewrite (spot values)") {
    val df = Seq.tabulate(50)(i => Tuple1(i.toLong)).toDF("doc_id")
    val r = Curation.consistentShard(df, "doc_id", nShards = 4)
      .select("doc_id", "shard").collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    // replay the definition independently: md5-60-bit key, successor vnode
    def pos60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val ring = (for { sh <- 0 until 4; v <- 0 until 64 }
      yield (pos60(s"ring:$sh:$v"), sh.toLong)).sortBy(_._1)
    for (id <- 0L until 50L) {
      val kp = pos60(s"ring#$id")
      val exp = ring.find(_._1 >= kp).getOrElse(ring.head)._2
      assert(r(id) == exp, s"doc $id")
    }
  }

  // ---- prefiltered deterministic sample draw ----

  test("trainCentroidsSampled: prefiltered draw is deterministic and falls back on small corpora") {
    val rnd = new scala.util.Random(5)
    val dim = 8
    val small = (0L until 100L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("id", "v")
    // small corpus: stratum < sampleSize -> identical to the unfiltered draw
    val a = Similarity.trainCentroidsSampled(small, "id", "v", nCentroids = 4,
      sampleSize = 50, iters = 2)
    val expSample = small.orderBy(xxhash64(col("id")), col("id")).limit(50)
      .collect().map(_.getSeq[Float](1).toArray)
    assert(a.length == 4 && a.head.length == dim)
    // determinism at any size: same inputs -> identical centroids
    val big = (0L until 4000L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
      .toDF("id", "v").cache()
    try {
      val c1 = Similarity.trainCentroidsSampled(big, "id", "v", nCentroids = 4,
        sampleSize = 32, iters = 2, sampleModulus = 16)
      val c2 = Similarity.trainCentroidsSampled(big.repartition(7), "id", "v",
        nCentroids = 4, sampleSize = 32, iters = 2, sampleModulus = 16)
      assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
        "prefiltered draw must be partitioning-independent")
    } finally big.unpersist()
    assert(expSample.nonEmpty) // draw defined; fallback exercised above
  }

  // ---- size-adaptive local dispatch ≡ distributed (round-6) ----

  /** Run `body` with the local-dispatch thresholds forced to 0 (every graph
    * takes the distributed path), restoring the confs after.
    */
  private def forcedDistributed[T](body: => T): T = {
    val keys = Seq("spark.graft.cc.localEdgeThreshold",
      "spark.graft.graph.localEdgeThreshold")
    keys.foreach(k => spark.conf.set(k, "0"))
    try body finally keys.foreach(k => spark.conf.unset(k))
  }

  test("clusters: local union-find ≡ distributed pointer jumping on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      // chains, cliques and random cross edges — long diameters included
      val chain = (0L until 40L).map(i => (trial * 1000L + i, trial * 1000L + i + 1))
      val clique = for (a <- 0 until 6; b <- a + 1 until 6)
        yield (5000L + a, 5000L + b)
      val rand = Seq.fill(30)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }
      val pairs = (chain ++ clique ++ rand).toDF("id_a", "id_b")
      val local = Dedup.clusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = forcedDistributed {
        Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(local == dist, s"trial $trial")
    }
  }

  test("ssspInt: local relaxation ≡ distributed, including the round cap") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(60)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong,
      (rnd.nextInt(50) + 1).toLong)).toDF("s", "d", "w")
    for (cap <- Seq(1, 3, 45)) {
      val local = Graph.ssspInt(edges, "s", "d", "w", Seq(0L, 7L), maxRounds = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = forcedDistributed {
        Graph.ssspInt(edges, "s", "d", "w", Seq(0L, 7L), maxRounds = cap)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(local == dist, s"cap $cap")
    }
  }

  test("boruvkaMst: local rounds ≡ distributed edge-for-edge") {
    val rnd = new scala.util.Random(11)
    // distinct weights by construction (contract)
    val ws = rnd.shuffle((1 to 200).toList).iterator
    val edges = (Seq.tabulate(30)(i => (i.toLong, ((i + 1) % 30).toLong)) ++
      Seq.fill(25)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (a, b, ws.next().toLong) }
      .toDF("s", "d", "w")
    val local = Graph.boruvkaMst(edges, "s", "d", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = forcedDistributed {
      Graph.boruvkaMst(edges, "s", "d", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(local == dist)
    // distributed rounds whose component merges attach driver-held labels
    spark.conf.set("spark.graft.graph.localEdgeThreshold", "0")
    val mixed = try Graph.boruvkaMst(edges, "s", "d", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      finally spark.conf.unset("spark.graft.graph.localEdgeThreshold")
    assert(local == mixed)
  }

  test("pageRankInt / personalizedPageRankInt / hitsInt: local ≡ distributed") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(80)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val prL = Graph.pageRankInt(edges, "src", "dst", iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prD = forcedDistributed {
      Graph.pageRankInt(edges, "src", "dst", iters = 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(prL == prD, "pageRankInt")
    val pprL = Graph.personalizedPageRankInt(edges, "src", "dst",
      seeds = Seq(1L, 3L), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pprD = forcedDistributed {
      Graph.personalizedPageRankInt(edges, "src", "dst",
        seeds = Seq(1L, 3L), iters = 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(pprL == pprD, "personalizedPageRankInt")
    val hL = Graph.hitsInt(edges, "src", "dst", iters = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hD = forcedDistributed {
      Graph.hitsInt(edges, "src", "dst", iters = 3).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    assert(hL == hD, "hitsInt")
  }

  test("bfsDepth / kCore / resolveCanonicalChains: local ≡ distributed") {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(70)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .toDF("src", "dst")
    val seeds = Seq(0L, 5L).toDF("node")
    for (cap <- Seq(2, 6)) {
      val l = Graph.bfsDepth(edges, "src", "dst", seeds, "node", maxDepth = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val d = forcedDistributed {
        Graph.bfsDepth(edges, "src", "dst", seeds, "node", maxDepth = cap)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(l == d, s"bfsDepth cap=$cap")
    }
    for (k <- Seq(2, 3)) {
      val l = Graph.kCore(edges, "src", "dst", k).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val d = forcedDistributed {
        Graph.kCore(edges, "src", "dst", k).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(l == d, s"kCore k=$k")
    }
    // chains with a 2-cycle (the unresolvable case) and converging links
    val chains = (Seq.tabulate(20)(i => (i.toLong + 1, i.toLong)) ++
      Seq((100L, 101L), (101L, 100L), (50L, 7L), (51L, 7L)))
      .toDF("f", "t")
    val lc = Curation.resolveCanonicalChains(chains, "f", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val dc = forcedDistributed {
      Curation.resolveCanonicalChains(chains, "f", "t").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    }
    assert(lc == dc, "resolveCanonicalChains")
  }

  test("stationaryDistribution: local power iteration ≡ distributed") {
    val rnd = new scala.util.Random(31)
    val types = Vector("view", "click", "buy", "exit")
    val ts0 = 1700000000000L
    val ev = (0 until 400).map { i =>
      (rnd.nextInt(20).toLong, new java.sql.Timestamp(ts0 + i * 60000L),
        i.toLong, types(rnd.nextInt(types.length)))
    }.toDF("user_id", "ts", "event_id", "event_type")
    val l = Behavior.stationaryDistribution(ev, "user_id", "ts", "event_id",
      "event_type", iters = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val d = forcedDistributed {
      Behavior.stationaryDistribution(ev, "user_id", "ts", "event_id",
        "event_type", iters = 4).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(l == d)
  }

  private def optLong(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(r.getLong(i))

  test("bfsDepth: seeds containing a null give local ≡ forced-distributed") {
    val rnd = new scala.util.Random(19)
    val edges = Seq.fill(50)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .toDF("src", "dst")
    val seeds = Seq(Some(0L), None, Some(4L)).toDF("node")
    for (cap <- Seq(1, 5)) {
      def run() = Graph.bfsDepth(edges, "src", "dst", seeds, "node", maxDepth = cap)
        .collect().map(r => (optLong(r, 0), r.getLong(1))).toSet
      val l = run()
      val d = forcedDistributed(run())
      assert(l == d, s"cap=$cap")
      assert(l.contains((None, 0L)) && l.contains((Some(0L), 0L)), s"cap=$cap")
    }
  }

  test("pageRankInt / resolveCanonicalChains: null-bearing edges give local ≡ forced-distributed") {
    val rnd = new scala.util.Random(37)
    val edges = (Seq.fill(60)((Option(rnd.nextInt(25).toLong), Option(rnd.nextInt(25).toLong))) ++
      Seq((None, Some(3L)), (Some(4L), None), (None, None)))
      .toDF("src", "dst")
    def pr() = Graph.pageRankInt(edges, "src", "dst", iters = 3).collect()
      .map(r => (optLong(r, 0), r.getLong(1))).toSet
    assert(pr() == forcedDistributed(pr()), "pageRankInt")
    val chains = (Seq.tabulate(12)(i => (Option(i.toLong + 1), Option(i.toLong))) ++
      Seq((Some(40L), None), (None, Some(5L)), (Some(41L), Some(40L))))
      .toDF("f", "t")
    def rc() = Curation.resolveCanonicalChains(chains, "f", "t").collect()
      .map(r => (optLong(r, 0), optLong(r, 1), r.getBoolean(2))).toSet
    assert(rc() == forcedDistributed(rc()), "resolveCanonicalChains")
  }

  // ---- prefix-filtered candidate rewrite ≡ brute force (round-6) ----

  test("ngramJaccardPairs: prefix+positional candidates ≡ pruned brute force, any cap") {
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (0L until 60L).map { i =>
      val n = 5 + rnd.nextInt(20)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    for ((cap, t) <- Seq((1000000, 0.5), (8, 0.5), (3, 0.3))) {
      val got = Dedup.ngramJaccardPairs(df, "id", "text", n = 3,
        threshold = t, maxShingleDf = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force with the SAME pruned-common / full-size semantics
      val sh = docs.map { case (i, s) => i -> TextKernels.shingles(s, 3).toSet }.toMap
      val dfCount = sh.values.toSeq.flatten.groupBy(identity).map { case (g, o) => g -> o.size }
      val hot = dfCount.filter(_._2 > cap).keySet
      val exp = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        pa = sh(a) -- hot; pb = sh(b) -- hot
        common = (pa & pb).size
        jac = common.toDouble / (sh(a).size + sh(b).size - common).toDouble
        if common > 0 && jac >= t
      } yield (a, b, jac)).toSet
      assert(got == exp, s"cap=$cap t=$t: got ${got.size}, exp ${exp.size}")
    }
  }

  test("prefixJaccardPairs: positional filter loses no qualifying pair") {
    val rnd = new scala.util.Random(29)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docs = (0L until 50L).map { i =>
      val n = 4 + rnd.nextInt(15)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val got = Dedup.prefixJaccardPairs(df, "id", "text", n = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sh = docs.map { case (i, s) => i -> TextKernels.shingles(s, 2).toSet }.toMap
      val exp = (for {
        a <- docs.map(_._1); b <- docs.map(_._1)
        if a < b && sh(a).nonEmpty && sh(b).nonEmpty
        common = (sh(a) & sh(b)).size
        jac = common.toDouble / (sh(a).size + sh(b).size - common).toDouble
        if jac >= t
      } yield (a, b, jac)).toSet
      assert(got == exp, s"t=$t: got ${got.size}, exp ${exp.size}")
    }
  }
}
