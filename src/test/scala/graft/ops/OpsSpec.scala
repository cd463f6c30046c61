package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.TextKernels

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def mutate(s: String, nEdits: Int, seed: Int): String = {
    val words = s.split(" ")
    val rnd = new scala.util.Random(seed)
    val out = words.clone()
    var i = 0
    while (i < nEdits && out.nonEmpty) {
      out(rnd.nextInt(out.length)) = "zz" + rnd.nextInt(100)
      i += 1
    }
    out.mkString(" ")
  }

  private val baseDoc = (1 to 120).map(i => s"word$i").mkString(" ")

  private lazy val docs = {
    // cluster A: 0,1,2 near-identical; cluster B: 10,11 identical; others unique
    Seq(
      (0L, baseDoc), (1L, mutate(baseDoc, 2, 7)), (2L, mutate(baseDoc, 3, 8)),
      (10L, "the quick brown fox jumps over the lazy dog " * 10),
      (11L, "the quick brown fox jumps over the lazy dog " * 10),
      (20L, (1 to 100).map(i => s"unrelated$i text$i").mkString(" ")),
      (21L, (1 to 100).map(i => s"other$i stuff$i").mkString(" "))
    ).toDF("id", "text")
  }

  test("exact dedup finds identical pair, canonical = min id") {
    val r = Dedup.exact(docs, "id", "text").where($"dup_cluster_size" > 1)
      .select("id", "is_canonical").collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(r == Set((10L, true), (11L, false)))
  }

  test("exact dedup keeps null-text rows as their own cluster") {
    val withNulls = docs.unionByName(
      Seq((90L, null.asInstanceOf[String]), (91L, null.asInstanceOf[String]))
        .toDF("id", "text"))
    val out = Dedup.exact(withNulls, "id", "text")
    assert(out.count() == withNulls.count(), "no row may vanish through the key join")
    val nulls = out.where($"text".isNull)
      .select("id", "dup_cluster_size", "is_canonical")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(nulls == Set((90L, 2L, true), (91L, 2L, false)))
  }

  test("minhash LSH finds near-duplicate cluster, not unrelated docs") {
    val pairs = Dedup.minHashPairs(docs, "id", "text", numHashes = 128, numBands = 32, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) && pairs.contains((10L, 11L)))
    assert(!pairs.exists(p => p._1 == 20L || p._2 == 20L || p._1 == 21L || p._2 == 21L))
  }

  test("minhash estimate approximates exact jaccard") {
    val a = TextKernels.minHashSignature(baseDoc, 256, 5)
    val b = TextKernels.minHashSignature(mutate(baseDoc, 2, 7), 256, 5)
    val est = TextKernels.minHashEstimate(a, b)
    val exact = TextKernels.jaccardSorted(TextKernels.shingles(baseDoc, 5), TextKernels.shingles(mutate(baseDoc, 2, 7), 5))
    assert(math.abs(est - exact) < 0.12, s"est=$est exact=$exact")
  }

  test("simhash pairs: small edits within hamming 3, unrelated docs far") {
    val pairs = Dedup.simHashPairs(docs, "id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.exists(p => Set(20L, 21L).contains(p._1) && Set(20L, 21L).contains(p._2)))
  }

  test("simhash pairs: a token hash other than fnv or md5 is rejected") {
    for (h <- Seq("MD5", "xxhash", ""))
      intercept[IllegalArgumentException](Dedup.simHashPairs(docs, "id", "text", tokenHash = h))
  }

  test("ngram jaccard pairs exact scores") {
    val pairs = Dedup.ngramJaccardPairs(docs, "id", "text", n = 5, threshold = 0.5, maxShingleDf = 1000)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((10L, 11L)) && pairs((10L, 11L)) == 1.0)
    val exact01 = TextKernels.jaccardSorted(
      TextKernels.shingles(baseDoc, 5), TextKernels.shingles(mutate(baseDoc, 2, 7), 5))
    assert(math.abs(pairs((0L, 1L)) - exact01) < 1e-12)
  }

  test("ngram jaccard df-pruning is window-free (map-side-combined groupBy)") {
    val plan = Dedup.ngramJaccardPairs(docs, "id", "text", n = 5, threshold = 0.5, maxShingleDf = 1000)
      .queryExecution.executedPlan.toString
    // document frequency must come from an aggregate (partial/final, so hot
    // shingles collapse in the combiner) — the old Window.partitionBy(_g)
    // dragged every posting of every pruned shingle through an exchange+sort
    assert(!plan.contains("Window"), s"df-pruning must not use a window:\n$plan")
    assert(plan.contains("HashAggregate"), s"df must be a combinable aggregate:\n$plan")
  }

  test("prefix jaccard pairs: output equals brute-force predicate") {
    // lossless contract: the pairs AND scores of the Jaccard predicate over
    // every doc pair's full 5-shingle sets
    val sh = docs.collect().map(r => r.getLong(0) -> TextKernels.shingles(r.getString(1), 5).toSet).toMap
    val exact = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b && sa.nonEmpty && sb.nonEmpty
      common = (sa & sb).size
      jac = common.toDouble / (sa.size + sb.size - common).toDouble if jac >= 0.5
    } yield (a, b) -> jac).toMap
    val pref = Dedup.prefixJaccardPairs(docs, "id", "text", n = 5, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pref == exact, s"prefix=$pref exact=$exact")
    assert(pref.contains((10L, 11L)) && pref((10L, 11L)) == 1.0)
  }

  test("prefix jaccard: index holds only canonical prefixes, no windows") {
    val q = Dedup.prefixJaccardPairs(docs, "id", "text", n = 5, threshold = 0.5)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"prefix selection must be doc-local:\n$plan")
    assert(plan.contains("HashAggregate"), s"df must be a combinable aggregate:\n$plan")
    // low threshold -> long prefixes; high threshold -> strictly fewer or
    // equal candidate postings (sanity on the prefix-length formula)
    val lo = Dedup.prefixJaccardPairs(docs, "id", "text", n = 5, threshold = 0.1).count()
    val hi = Dedup.prefixJaccardPairs(docs, "id", "text", n = 5, threshold = 0.9).count()
    assert(lo >= hi)
  }

  test("weightedJaccardPairs: multiset min/max identity, df cap prunes") {
    val df = Seq(
      (1L, "a a b"), (2L, "a b b"),      // min 2, tot 3+3 -> J = 2/4
      (3L, "a a b"),                      // identical to 1 -> J = 1
      (4L, "zz zz zz"))                   // disjoint from all
      .toDF("id", "text")
    val r = Dedup.weightedJaccardPairs(df, "id", "text", threshold = 0.4)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getDouble(3)))).toMap
    assert(r((1L, 2L)) == ((2L, 0.5)))
    assert(r((1L, 3L)) == ((3L, 1.0)))
    assert(r((2L, 3L)) == ((2L, 0.5)))
    assert(r.size == 3) // doc 4 pairs with nobody
    // a token in > maxTokenDf docs is pruned from the index: with cap 2,
    // 'a' and 'b' (df 3) drop, so no pair survives
    val pruned = Dedup.weightedJaccardPairs(df, "id", "text", 0.4,
      maxTokenDf = 2)
    assert(pruned.count() == 0)
  }

  test("linkageScore: blocked FS scores, null-safe agreement, threshold") {
    val a = Seq(
      (1L, "blkA", "alice", Some(30L)),
      (2L, "blkA", "bob", None),
      (3L, "blkB", "carol", Some(40L)))
      .toDF("ida", "blk", "name", "age")
    val b = Seq(
      (10L, "blkA", "alice", Some(30L)), // both agree:   900 + 500 = 1400
      (11L, "blkA", "alice", Some(31L)), // name only:    900 - 500 =  400
      (12L, "blkA", "bob", None),        // name + null<=>null agree: 1400
      (13L, "blkB", "dave", Some(40L)))  // age only:    -300 + 500 =  200
      .toDF("idb", "blk", "name", "age")
    val fields = Seq(("name", 900L, -300L), ("age", 500L, -500L))
    val r = Dedup.linkageScore(a, b, "ida", "idb", "blk", fields,
        minScoreMilli = 300L)
      .orderBy("id_a", "id_b").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      (1L, 10L, 2L, 1400L), (1L, 11L, 1L, 400L),
      (2L, 12L, 2L, 1400L))) // cross-block (3,13) and sub-threshold absent
  }

  test("sortedNeighborPairs equals the global-window brute force") {
    // heavy key ties (id % 10) so the (key, id) tie-break and partition
    // boundaries are both exercised; 100 rows over 32 range partitions
    // means nearly every neighbor pair crosses a partition edge
    val rows = (0L until 100L).map(i => (i, i % 10))
    val df = rows.toDF("id", "k")
    val got = Dedup.sortedNeighborPairs(df, "id", "k", window = 3)
      .select("id_a", "id_b", "rank_a", "rank_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val order = rows.sortBy { case (id, k) => (k, id) }.map(_._1).zipWithIndex
      .map { case (id, i) => (id, i + 1L) } // (id, 1-based rank)
    val exp = (for {
      (ia, ra) <- order; (ib, rb) <- order
      if rb - ra >= 1 && rb - ra <= 3
    } yield (ia, ib, ra, rb)).toSet
    assert(got == exp, s"missing=${exp -- got} extra=${got -- exp}")
  }

  test("sortedNeighborPairs: no single-partition window over the corpus") {
    val df = (0L until 100L).map(i => (i, i % 10)).toDF("id", "k")
    val plan = Dedup.sortedNeighborPairs(df, "id", "k", window = 3)
      .queryExecution.executedPlan.toString
    // every Window must be partitioned (corpus rank windows carry _pid;
    // the offsets window runs over the partition-size table only)
    assert(plan.contains("rangepartitioning"),
      s"global order must come from a range exchange:\n$plan")
  }

  test("clusters: min-label propagation groups transitively") {
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val r = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r(0L) == 0L && r(1L) == 0L && r(2L) == 0L)
    assert(r(10L) == 10L && r(11L) == 10L)
  }

  test("clusters: 64-node path converges within 7 rounds (pointer jumping)") {
    // plain min-label propagation needs O(diameter) = 63 rounds on a path;
    // the pointer-jumping hop reaches distance 2^k - 1 after k rounds, so
    // 64 nodes collapse to label 0 in 6 rounds (+1 to observe the fixpoint)
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val r = Dedup.clusters(pairs, maxIters = 7).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(r.length == 64)
    assert(r.forall(_._2 == 0L),
      s"path must collapse to one cluster in <= 7 rounds, got ${r.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("embedding cosine pairs via hyperplane LSH") {
    val base = Array.tabulate(32)(i => math.sin(i * 0.7).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(32)(i => math.cos(i * 1.3 + 1).toFloat)
    val df = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq)).toDF("id", "vec")
    val pairs = Dedup.embeddingCosinePairs(df, "id", "vec", threshold = 0.99, bits = 8, tables = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("fuzzyPairs: equals the all-pairs predicate (lossless blocking), each pair once") {
    // strings spanning length-bucket boundaries (width 4: lengths 7/8 are
    // buckets 1/2) so adjacent-bucket meeting is actually exercised
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val strs = Seq(
      (1L, "widget"), (2L, "widgets"), (3L, "gadget"), (4L, "wídget"),
      (5L, "completely"), (6L, "complete"), (7L, "deplete"), (8L, "a"))
    val df = strs.toDF("id", "s")
    val got = Dedup.fuzzyPairs(df, "id", "s", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
    // exactly once per pair
    assert(got.map(_._1).distinct.length == got.length, "pair emitted twice")
    val expect = (for {
      (ia, sa) <- strs; (ib, sb) <- strs if ia < ib
      d = lev(sa, sb) if d <= 3
    } yield (ia, ib) -> d.toLong).toMap
    assert(got.toMap == expect, s"got ${got.toSeq} expected $expect")
  }

  test("fuzzyPairs: extraKey splits hot buckets without changing within-key results") {
    val df = Seq((1L, "abcd"), (2L, "abce"), (3L, "xbcd")).toDF("id", "s")
    val keyed = Dedup.fuzzyPairs(df, "id", "s", maxDist = 1,
        extraKey = Some(org.apache.spark.sql.functions.substring(col("s"), 1, 1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // blocking on first char fences 3 away from 1 even though lev=1 —
    // the documented approximation when callers add a non-lossless key
    assert(keyed == Set((1L, 2L)))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = {
    val rnd = new scala.util.Random(11)
    (0L until 200L).map { i =>
      (i, Array.fill(24)(rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding").cache()
  }

  test("brute force top-k matches driver-side oracle") {
    val all = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = vecs.where($"vec_id" < 5)
    val r = Similarity.bruteForceTopK(queries, vecs, "vec_id", "vec_id", "embedding", "embedding", k = 3)
      .collect().groupBy(_.getLong(0))
    for (q <- 0L until 5L) {
      val expected = all.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, TextKernels.cosine(all(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1)
      val got = r(q).sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
      assert(got == expected, s"query $q: got $got expected $expected")
    }
  }

  test("IVF ANN achieves high recall@10 vs brute force") {
    val queries = vecs.where($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(queries, vecs, "vec_id", "vec_id", "embedding", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, vecs, "vec_id", "vec_id", "embedding", "embedding",
      k = 10, nCentroids = 8, nProbe = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall@10 = $recall") // 8 centroids, probe 4 = half the space
  }

  test("IVF with nProbe == nCentroids equals brute force exactly") {
    val queries = vecs.where($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, vecs, "vec_id", "vec_id", "embedding", "embedding", k = 5))
    val full = pairs(Similarity.ivfTopK(queries, vecs, "vec_id", "vec_id", "embedding", "embedding",
      k = 5, nCentroids = 8, nProbe = 8))
    assert(full == exact)
  }

  test("centroid sample is unbiased under id-correlated (crawl-epoch) clusters") {
    // three well-separated clusters laid out CONSECUTIVELY by id — the
    // layout of a real corpus where consecutive ids are one crawl epoch or
    // domain. The old smallest-id sample saw only cluster 0 and trained
    // every centroid inside it; the hash-ordered sample draws from all
    // three. The biased behavior is reproduced exactly by training on the
    // smallest-id slice (a 60-row corpus hash-samples to itself).
    val rnd = new scala.util.Random(7)
    val centers = Array(
      Array.tabulate(16)(i => if (i < 5) 1f else 0f),
      Array.tabulate(16)(i => if (i >= 5 && i < 10) 1f else 0f),
      Array.tabulate(16)(i => if (i >= 10) 1f else 0f))
    val rows = (0L until 300L).map { i =>
      (i, centers((i / 100L).toInt).map(_ + 0.05f * rnd.nextGaussian().toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding").cache()
    def coverage(cents: Array[Array[Float]]): Int =
      centers.count(c => cents.exists(k => TextKernels.cosine(k, c) > 0.9))
    val unbiased = Similarity.trainCentroids(df, "vec_id", "embedding", nCentroids = 6, sampleSize = 60)
    val biased = Similarity.trainCentroids(
      df.orderBy("vec_id").limit(60), "vec_id", "embedding", nCentroids = 6, sampleSize = 60)
    assert(coverage(biased) == 1, "smallest-id sample models exactly one epoch")
    assert(coverage(unbiased) == 3, "hash sample must cover all three clusters")
    // and end-to-end: IVF with 1 probe on far-end queries still finds its
    // cluster because some centroid lives there
    val queries = df.where($"vec_id" >= 250)
    val exact = Similarity.bruteForceTopK(queries, df, "vec_id", "vec_id", "embedding", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(queries, df, "vec_id", "vec_id", "embedding", "embedding",
      k = 5, nCentroids = 6, nProbe = 1)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 with nProbe=1 on the last epoch = $recall")
  }

  test("distributed Lloyd lifts the fixed-sample ceiling at nCentroids=256") {
    // 256 true clusters x 80 members with real intra-cluster spread: a
    // 2000-row driver sample trains each centroid on ~7.8 points, so its
    // means carry residual noise ~ spread/sqrt(7.8); the distributed
    // trainer aggregates all 80 members per cluster each iteration and its
    // codebook sits measurably closer to the true centers
    val rnd = new scala.util.Random(3)
    val dim = 32
    val centers = Array.fill(256)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val rows = (0L until 20480L).map { i =>
      val c = centers((i % 256).toInt)
      (i, c.map(_ + 0.7f * rnd.nextGaussian().toFloat).toSeq)
    }
    val df = rows.toDF("vec_id", "embedding").repartition(8).cache()
    try {
      def fidelity(cents: Array[Array[Float]]): Double =
        centers.map(c => cents.map(k => TextKernels.cosine(c, k)).max).sum / centers.length
      val sampled = Similarity.trainCentroidsSampled(df, "vec_id", "embedding",
        nCentroids = 256, sampleSize = 2000, iters = 3)
      val dist = Similarity.trainCentroidsDistributed(df, "vec_id", "embedding",
        nCentroids = 256, iters = 3)
      val (fs, fd) = (fidelity(sampled), fidelity(dist))
      assert(fd > fs + 0.01, s"distributed=$fd must beat sampled=$fs visibly")
      // the public API must dispatch to the distributed path at this scale
      // (256 centroids x 8 > 2000-row sample support)
      val auto = Similarity.trainCentroids(df, "vec_id", "embedding",
        nCentroids = 256, sampleSize = 2000, iters = 3)
      assert(auto.map(_.toSeq) === dist.map(_.toSeq),
        "trainCentroids must auto-dispatch to the distributed trainer")
    } finally df.unpersist()
  }

  test("IVF corpus assignment is shuffle-free (no Exchange below the probe join)") {
    val queries = vecs.where($"vec_id" < 5)
    val plan = Similarity.ivfTopK(queries, vecs, "vec_id", "vec_id", "embedding", "embedding",
      k = 3, nCentroids = 8, nProbe = 2).queryExecution.executedPlan.toString
    // exactly ONE shuffle exchange in the whole operator: the final top-k
    // window's hashpartitioning on query_id; assignment is a narrow map and
    // the query side moves via BroadcastExchange (not a shuffle)
    val shuffles = "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    val hashOnQuery = plan.contains("hashpartitioning(query_id")
    assert(hashOnQuery, s"expected the only shuffle to be the top-k window:\n$plan")
    assert(shuffles == 1, s"expected 1 shuffle (top-k window), got $shuffles:\n$plan")
  }

  test("fixedPointCentroids: exact quantized sums, partition-independent") {
    val df = Seq(
      ("a", Seq(1.25f, -0.5f)), ("a", Seq(0.75f, 0.5f)),
      ("b", Seq(-1.0f, 2.0f)))
      .toDF("g", "vec")
    val r = Similarity.fixedPointCentroids(df, "g", "vec", scale = 100L)
      .orderBy("group", "dim").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    // a dim0: 125 + 75 = 200 -> mean 100 ; a dim1: -50 + 50 = 0 -> 0
    // b dim0: -100 ; b dim1: 200
    assert(r.toSeq == Seq(
      ("a", 0L, 2L, 200L, 100L), ("a", 1L, 2L, 0L, 0L),
      ("b", 0L, 1L, -100L, -100L), ("b", 1L, 1L, 200L, 200L)))
    // bit-identical under repartitioning (the claim floats can't make)
    val r2 = Similarity.fixedPointCentroids(df.repartition(7), "g", "vec",
      100L).orderBy("group", "dim").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(4)))
    assert(r2.toSeq == r.map(t => (t._1, t._2, t._5)).toSeq)
  }

  test("semDedup: co-clustered twins drop by min-id dominance; cross-cluster twins survive") {
    // hand-built 2-dim space: cluster axes e0=(1,0), e1=(0,1)
    val cents = Array(Array(1f, 0f), Array(0f, 1f))
    val df = Seq(
      (1L, Seq(10f, 0.1f)),  // cluster 0
      (2L, Seq(10.1f, 0.1f)),// cluster 0, twin of 1 -> dropped, dup_of=1
      (3L, Seq(9.9f, 0.11f)),// cluster 0, twin of 1 AND 2 -> dup_of=min=1
      (4L, Seq(0.1f, 5f)),   // cluster 1, direction ~ twin of 1 but OTHER
                             // cluster -> never paired, kept
      (5L, Seq(7f, 7.1f))    // cluster 1 (barely), no twin there
    ).toDF("id", "embedding")
    // 4's vector is NOT near 1 in cosine, so make the cross-cluster claim
    // real: (0.1,5) vs (10,0.1) cosine ~ 0.03 — the pair predicate itself
    // fails; the cluster fence is exercised by 5 vs 4 (same cluster, cosine
    // ~ 0.72 < threshold)
    val r = Similarity.semDedup(df, "id", "embedding", cents, threshold = 0.999)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), Option(x.get(2)), x.getBoolean(3))).toMap
    assert(r(1L) == ((0L, None, true)))
    assert(r(2L) == ((0L, Some(1L), false)))
    assert(r(3L) == ((0L, Some(1L), false)))
    assert(r(4L)._1 == 1L && r(4L)._3)
    assert(r(5L)._1 == 1L && r(5L)._3)
  }

  test("semDedup never compares across clusters even for identical directions") {
    // identical direction, forced into different clusters by construction:
    // assignment fences the pair out entirely
    val cents = Array(Array(1f, 0f, 0f), Array(0.9f, 0.1f, 0f))
    val df = Seq(
      (1L, Seq(1f, 0f, 0f)),       // argmax -> centroid 0 (cos=1)
      (2L, Seq(0.9f, 0.1f, 0f))    // argmax -> centroid 1 (cos=1)
    ).toDF("id", "embedding")
    val r = Similarity.semDedup(df, "id", "embedding", cents, threshold = 0.5)
      .collect().map(x => x.getLong(0) -> x.getBoolean(3)).toMap
    // cosine(1,2) ~ 0.994 >= 0.5 but the rows live in different clusters
    assert(r(1L) && r(2L), "cross-cluster pair must not be compared")
  }

  test("pqEncode: codes equal per-slice argmax; packed key exact; zero-shuffle plan") {
    val all = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val seeds = (0L until 4L).map(all).toArray // K=4 codebook rows
    val m = 3; val sub = 8                      // 24-dim -> 3 subspaces of 8
    val codebooks = Array.tabulate(m)(i => seeds.map(_.slice(i * sub, i * sub + sub)))
    val got = Similarity.pqEncode(vecs, "vec_id", "embedding", codebooks)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PQ encode must be a narrow map:\n$plan")
    val rows = got.collect().map(r =>
      r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    for ((id, v) <- all) {
      val expect = (0 until m).map { i =>
        val s = v.slice(i * sub, i * sub + sub)
        codebooks(i).zipWithIndex
          .map { case (c, ci) => (TextKernels.cosine(s, c), ci) }
          .maxBy { case (sim, ci) => (sim, -ci) }._2.toLong
      }
      val packed = expect.zipWithIndex.map { case (c, i) => c * math.pow(4, i).toLong }.sum
      assert(rows(id)._1 == expect, s"vec $id codes")
      assert(rows(id)._2 == packed, s"vec $id packed")
    }
  }
}

class BbitMinhashSpec extends SparkSpec {
  import spark.implicits._
  import graft.core.TextKernels

  test("minHashSignatureMd5: unsigned lane minima over md5 gram draws, empty under 3 words") {
    val sep = String.valueOf(1.toChar)
    val sig = TextKernels.minHashSignatureMd5("A b c D", 8, 3)
    val grams = Seq("a b c", "b c d")
    val want = (0 until 8).map { k =>
      grams.map(g => TextKernels.md5Low64(k.toString + sep + g))
        .min(Ordering.fromLessThan[Long](java.lang.Long.compareUnsigned(_, _) < 0))
    }
    assert(sig.toSeq == want)
    assert(TextKernels.minHashSignatureMd5("two words", 8, 3).isEmpty)
  }

  test("bbitMinhashPairs: identical docs estimate 1.0; near-dups found; short docs excluded") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base),
      (2L, base),                               // identical -> m = n, J_hat = 1
      (3L, "prefixtoken " + base),              // near-dup of 1/2
      (4L, "completely different words about gardening tools and winter soil"),
      (5L, "too short")                         // < 3 words after tokenizing? 2 words -> excluded
    ).toDF("id", "text")
    val r = graft.ops.Similarity.bbitMinhashPairs(docs, "id", "text",
        numHashes = 64, b = 4, numBands = 16, shingleSize = 3)
      .collect().map(x => ((x.getLong(0), x.getLong(1)),
        (x.getLong(2), x.getDouble(3)))).toMap
    assert(r.contains((1L, 2L)))
    val (m12, j12) = r((1L, 2L))
    assert(m12 == 64L && j12 == 1.0)
    assert(r.contains((1L, 3L)) && r.contains((2L, 3L)))
    val (m13, j13) = r((1L, 3L))
    assert(m13 >= 48L && j13 > 0.6, s"near-dup estimate too low: $m13 $j13")
    assert(!r.keys.exists { case (a, bb) => a == 5L || bb == 5L })
    assert(!r.contains((1L, 4L)), "unrelated docs must not share a band")
    // exact lane-replay of the estimate for the (1,3) pair
    val sep = String.valueOf(1.toChar)
    def sig(t: String) = TextKernels.minHashSignatureMd5(t, 64, 3)
    val (sa, sb) = (sig(base), sig("prefixtoken " + base))
    val m = (0 until 64).count(i => (sa(i) & 15L) == (sb(i) & 15L)).toLong
    assert(m == m13)
    assert(j13 == (m / 64.0 - 1.0 / 16.0) / (1.0 - 1.0 / 16.0))
  }
}

class MmrSpec extends SparkSpec {
  import spark.implicits._

  test("mmrSelect: hand-derived greedy trace — relevance vs redundancy, milli-exact") {
    // 3-gram sets: d1 = d2 = {abg, bgd}; d4 shares 1 of 3 with d1 (333
    // milli); d3 disjoint. lambda = 700.
    val df = Seq(
      (1L, "alpha beta gamma delta", 900L),
      (2L, "alpha beta gamma delta", 880L),
      (3L, "epsilon zeta eta theta", 500L),
      (4L, "alpha beta gamma zeta", 700L)).toDF("id", "text", "rel")
    val r = graft.ops.Relevance.mmrSelect(df, "id", "text", "rel", k = 4)
      .orderBy("rank").collect().map(_.toSeq)
    // step1: max 700*rel -> d1 (630000); step2: d4 390100 beats d3 350000
    // and d2 316000 (d2 pays 300*1000 redundancy); step3: d3; step4: d2
    assert(r(0) == Seq(1L, 1L, 630000L, 0L))
    assert(r(1) == Seq(2L, 4L, 390100L, 333L))
    assert(r(2) == Seq(3L, 3L, 350000L, 0L))
    assert(r(3) == Seq(4L, 2L, 316000L, 1000L))
    // ties break by id ascending
    val tie = Seq((9L, "one two three four", 100L),
      (5L, "five six seven eight", 100L)).toDF("id", "text", "rel")
    val t = graft.ops.Relevance.mmrSelect(tie, "id", "text", "rel", k = 1)
      .collect().head
    assert(t.getLong(1) == 5L)
    // result-list guard trips loudly
    val big = spark.range(0, 11).selectExpr("id", "'a b c d' AS text", "id AS rel")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Relevance.mmrSelect(big, "id", "text", "rel", k = 2, maxRows = 10L)
    }
    assert(e.getMessage.contains("result-list contract"))
  }
}

class RandomProjectionSpec extends SparkSpec {
  import spark.implicits._

  test("randomProjection: exact md5-sign fixed-point sums, JVM-replayed") {
    def sign(seed: String, j: Long, i: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    val df = Seq((7L, Seq(1.5f, -0.25f, 0.125f))).toDF("id", "vec")
    val r = graft.ops.Similarity.randomProjection(df, "id", "vec", k = 4)
      .orderBy("dim").collect().map(x => (x.getLong(1), x.getLong(2)))
    val q = Seq(1500000L, -250000L, 125000L)
    val want = (0L until 4L).map(j =>
      (j, q.zipWithIndex.map { case (v, i) => sign("rp", j, i.toLong) * v }.sum))
    assert(r.toSeq == want)
    // identical inputs project identically; k rows per id
    val two = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f))).toDF("id", "vec")
    val p2 = graft.ops.Similarity.randomProjection(two, "id", "vec", k = 6)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2))).toMap
    assert(p2.size == 12)
    (0L until 6L).foreach(j => assert(p2((1L, j)) == p2((2L, j))))
  }
}

class SimHashMd5Spec extends SparkSpec {
  test("md5-token simhash matches the SQL-oracle formulation (verified constants)") {
    // constants independently computed by the DuckDB mirror of
    // SparkEntry.simhashOracleSql over the same three documents
    val expected = Map(0L -> 2360238991694013234L, 1L -> 1205926729029431856L,
      2L -> -8363888360590953816L)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .where("doc_id < 3").select("doc_id", "text").collect()
    assert(docs.length == 3)
    docs.foreach { r =>
      assert(TextKernels.simHash64Md5(r.getString(1)) == expected(r.getLong(0)),
        s"doc ${r.getLong(0)} signature drifted from the SQL-verified constant")
    }
  }

  test("md5Low64 equals big-endian first 8 md5 bytes") {
    // md5('abc') = 900150983cd24fb0d6963f7d28e17f72 -> 0x900150983cd24fb0
    assert(TextKernels.md5Low64("abc") == 0x900150983cd24fb0L)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import graft.functions._
  import spark.implicits._

  test("token counts") {
    val df = Seq("hello   world\nfoo", "", "one").toDF("t")
      .select(token_count($"t").as("w"), token_count_bpe($"t").as("b")).collect()
    assert(df(0).getLong(0) == 3L)
    assert(df(1).getLong(0) == 0L)
    assert(df(2).getLong(0) == 1L)
    assert(df(0).getLong(1) == 2 + 2 + 1) // hello=2, world=2, foo=1 subwords
  }

  test("lang id identifies english vs german text") {
    val en = "the quick brown fox jumps over the lazy dog and runs into the forest of the north"
    val de = "der schnelle braune fuchs springt über den faulen hund und die katze in einem wald"
    val r = Seq(en, de).toDF("t").select(lang_id($"t").getField("lang")).as[String].collect()
    assert(r(0) == "en", s"got ${r(0)}")
    assert(r(1) == "de", s"got ${r(1)}")
  }

  test("quality score: clean prose beats punctuation soup") {
    val clean = ("this is a perfectly reasonable sentence about the world " * 5).trim
    val soup = "@@@ ### !!! $$$ %%% 12345 67890 ((( ))) [[[ ]]] ::: ;;;"
    val r = Seq(clean, soup).toDF("t")
      .select(text_quality($"t").getField("quality_score")).as[Double].collect()
    assert(r(0) > r(1), s"clean=${r(0)} soup=${r(1)}")
    assert(r(0) > 0.6 && r(1) < 0.5)
  }

  test("rolling fingerprint stable under distant-context, changes on edit") {
    val doc = ("lorem ipsum dolor sit amet " * 40).trim
    val f1 = TextKernels.rollingFingerprint(doc)
    val f2 = TextKernels.rollingFingerprint(doc)
    assert(f1 == f2)
    assert(f1 != TextKernels.rollingFingerprint(doc.replace("dolor", "dollar")))
  }

  test("simhash hamming tracks text similarity") {
    val a = (1 to 100).map(i => s"tok$i").mkString(" ")
    val b = (1 to 100).map(i => if (i % 25 == 0) "CHANGED" else s"tok$i").mkString(" ")
    val far = (1 to 100).map(i => s"other$i").mkString(" ")
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val (ha, hb, hf) = (TextKernels.simHash64(a), TextKernels.simHash64(b), TextKernels.simHash64(far))
    assert(ham(ha, hb) < ham(ha, hf), s"near=${ham(ha, hb)} far=${ham(ha, hf)}")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = {
    val rnd = new scala.util.Random(5)
    Seq(
      Multimodal.MediaRow(1L, "image", Array.fill(512)(rnd.nextInt.toByte)),
      Multimodal.MediaRow(2L, "audio", Array.fill(1024)(rnd.nextInt.toByte)),
      Multimodal.MediaRow(3L, "video", Array.fill(2048)(rnd.nextInt.toByte))
    ).toDS()
  }

  test("decode stage emits typed metadata per row") {
    val r = Multimodal.decode(media, batchBytes = 600).collect().sortBy(_.media_id)
    assert(r.length == 3)
    assert(r.forall(_.ok))
    assert(r(0).kind == "image" && r(0).width > 0 && r(0).height > 0 && r(0).duration_ms == 0)
    assert(r(1).kind == "audio" && r(1).duration_ms > 0)
    assert(r(2).kind == "video" && r(2).width > 0 && r(2).duration_ms > 0)
    assert(r.map(_.content_sha).distinct.length == 3)
  }

  test("decode is deterministic and batch-size independent") {
    val a = Multimodal.decode(media, batchBytes = 100).collect().sortBy(_.media_id).toSeq
    val b = Multimodal.decode(media, batchBytes = 1 << 20).collect().sortBy(_.media_id).toSeq
    assert(a == b)
  }

  test("feature extraction: fixed dim, video frame-sampled") {
    val r = Multimodal.extractFeatures(media, dim = 16).collect().sortBy(_.media_id)
    assert(r.forall(_.feature.length == 16))
    assert(r(0).frames_sampled == 1) // image
    assert(r(2).frames_sampled > 1) // video
  }

  test("real codecs: PNG/JPEG dimensions+channels and WAV channels+duration decode from actual bytes") {
    import Multimodal.{MediaGen, RealCodec}
    assert(RealCodec.decode(MediaGen.pngBytes(17, 9)).contains((17, 9, 3, 0L)))
    assert(RealCodec.decode(MediaGen.pngBytes(33, 21, alpha = true)).contains((33, 21, 4, 0L)))
    assert(RealCodec.decode(MediaGen.jpegBytes(24, 16)).contains((24, 16, 3, 0L)))
    // 8 kHz mono 16-bit, 16000 data bytes -> byteRate 16000 -> exactly 1 s
    assert(RealCodec.decode(MediaGen.wavBytes(1, 8000, 16000)).contains((0, 0, 1, 1000L)))
    // 44.1 kHz stereo 16-bit, byteRate 176400, 44100 data bytes -> 250 ms
    assert(RealCodec.decode(MediaGen.wavBytes(2, 44100, 44100)).contains((0, 0, 2, 250L)))
    // non-container bytes stay on the stub path
    assert(RealCodec.decode("p cnf 1 1\n1 0\n".getBytes("UTF-8")).isEmpty)
  }

  test("exifOrientation: II and MM orders, all 8 values, absent/garbage -> None") {
    import Multimodal.{MediaGen, RealCodec}
    for (o <- 1 to 8; le <- Seq(true, false)) {
      assert(RealCodec.exifOrientation(MediaGen.jpegExifBytes(o, le))
        .contains(o), s"o=$o le=$le")
    }
    // a real ImageIO jpeg has no EXIF -> None (and stays decodable)
    val plain = MediaGen.jpegBytes(8, 6)
    assert(RealCodec.exifOrientation(plain).isEmpty)
    assert(RealCodec.decode(plain).contains((8, 6, 3, 0L)))
    // not a jpeg / truncated APP1 / out-of-range value -> None
    assert(RealCodec.exifOrientation(MediaGen.pngBytes(4, 4)).isEmpty)
    assert(RealCodec.exifOrientation(MediaGen.jpegExifBytes(3).take(12)).isEmpty)
    assert(RealCodec.exifOrientation(MediaGen.jpegExifBytes(9)).isEmpty)
    // Dataset wrapper: nullable int column
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", MediaGen.jpegExifBytes(6)),
      Multimodal.MediaRow(2L, "image", plain)).toDS()
    val r = Multimodal.exifOrientations(rows).orderBy("media_id").collect()
    assert(r(0).getInt(1) == 6 && r(1).isNullAt(1))
  }

  test("flac/mp3: STREAMINFO duration, CBR estimate, ID3 skip, malformed raises") {
    import Multimodal.{MediaGen, RealCodec}
    // 44.1 kHz stereo, 44100 samples -> exactly 1000 ms
    assert(RealCodec.decode(MediaGen.flacBytes(44100, 2, 44100L))
      .contains((0, 0, 2, 1000L)))
    // 8 kHz mono, 20000 samples -> 2500 ms; 20-bit rate field roundtrips
    assert(RealCodec.decode(MediaGen.flacBytes(8000, 1, 20000L))
      .contains((0, 0, 1, 2500L)))
    // large 36-bit sample count survives
    assert(RealCodec.decode(MediaGen.flacBytes(96000, 8, 96000L * 3600))
      .contains((0, 0, 8, 3600000L)))
    // mp3: 128 kbit/s stereo, 16000 audio bytes -> 16000*8/128 = 1000 ms
    assert(RealCodec.decode(MediaGen.mp3Bytes(128, stereo = true, 16000))
      .contains((0, 0, 2, 1000L)))
    // ID3 tag bytes are EXCLUDED from the estimate; mono mode reads
    assert(RealCodec.decode(
        MediaGen.mp3Bytes(64, stereo = false, 8000, id3Pad = 500))
      .contains((0, 0, 1, 1000L)))
    // flac with a non-STREAMINFO first block -> loud failure
    val badFlac = MediaGen.flacBytes(44100, 2, 1L)
    badFlac(4) = 0x04 // type VORBIS_COMMENT
    intercept[java.io.IOException] { RealCodec.decode(badFlac) }
    // id3 tag with no frame after it -> loud failure
    val badMp3 = MediaGen.mp3Bytes(128, stereo = true, 100, id3Pad = 50).take(30)
    intercept[java.io.IOException] { RealCodec.decode(badMp3) }
  }

  test("webp: VP8X/VP8L/VP8 grammars, alpha channels, malformed raises") {
    import Multimodal.{MediaGen, RealCodec}
    assert(RealCodec.decode(MediaGen.webpBytes("VP8X", 800, 600))
      .contains((800, 600, 3, 0L)))
    assert(RealCodec.decode(MediaGen.webpBytes("VP8X", 16384, 2, alpha = true))
      .contains((16384, 2, 4, 0L))) // 24-bit dims go past the 14-bit grammars
    assert(RealCodec.decode(MediaGen.webpBytes("VP8L", 123, 45))
      .contains((123, 45, 3, 0L)))
    assert(RealCodec.decode(MediaGen.webpBytes("VP8L", 1, 16384, alpha = true))
      .contains((1, 16384, 4, 0L))) // 14-bit max
    assert(RealCodec.decode(MediaGen.webpBytes("VP8 ", 320, 240))
      .contains((320, 240, 3, 0L)))
    // broken VP8L signature byte -> loud failure
    val bad = MediaGen.webpBytes("VP8L", 10, 10)
    bad(20) = 0x00
    intercept[java.io.IOException] { RealCodec.decode(bad) }
    // unknown chunk -> loud failure (not silently stubbed)
    val odd = MediaGen.webpBytes("VP8X", 4, 4)
    odd(12) = 'A'; odd(13) = 'L'; odd(14) = 'P'; odd(15) = 'H'
    intercept[java.io.IOException] { RealCodec.decode(odd) }
  }

  test("real codecs: GIF screen descriptor and BMP DIB header dims from actual bytes") {
    import Multimodal.{MediaGen, RealCodec}
    assert(RealCodec.decode(MediaGen.gifBytes(320, 200)).contains((320, 200, 3, 0L)))
    assert(RealCodec.decode(MediaGen.bmpBytes(48, 31)).contains((48, 31, 3, 0L)))
    // hand-built headers (no ImageIO in the loop): GIF87a 7x5
    val gif87 = "GIF87a".getBytes("US-ASCII") ++ Array[Byte](7, 0, 5, 0, 0, 0, 0)
    assert(RealCodec.decode(gif87).contains((7, 5, 3, 0L)))
    // top-down BMP: negative height reads as |height|
    val bmp = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte).putInt(30).putInt(0).putInt(26)
    bmp.putInt(40).putInt(9).putInt(-4).putShort(1).putShort(32)
    assert(RealCodec.decode(bmp.array()).contains((9, 4, 4, 0L)))
    // zero-dim GIF raises (ok=false channel)
    intercept[java.io.IOException] {
      RealCodec.decode("GIF89a".getBytes("US-ASCII") ++ Array[Byte](0, 0, 5, 0))
    }
  }

  test("real codecs: MP4 box walk reads mvhd duration and tkhd 16.16 dimensions") {
    import Multimodal.{MediaGen, RealCodec}
    assert(RealCodec.decode(MediaGen.mp4Bytes(640, 360, 2500)).contains((640, 360, 0, 2500L)))
    assert(RealCodec.decode(MediaGen.mp4Bytes(1920, 1080, 1)).contains((1920, 1080, 0, 1L)))
    // ftyp magic with a garbage box size -> loud failure (ok=false channel)
    intercept[java.io.IOException] {
      RealCodec.decode(Array[Byte]('x', 'x', 'x', 'x', 'f', 't', 'y', 'p', 1, 2, 3, 4))
    }
    // ftyp magic but no moov anywhere -> loud failure too
    intercept[java.io.IOException] {
      RealCodec.decode(MediaGen.mp4Bytes(1, 1, 1).take(16))
    }
  }

  test("decode stage dispatches by magic bytes, not the kind label; corrupt containers get ok=false") {
    import Multimodal.MediaGen
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", MediaGen.pngBytes(17, 9)),
      // mislabeled: payload IS a wav — the decoder trusts the bytes
      Multimodal.MediaRow(2L, "video", MediaGen.wavBytes(1, 8000, 16000)),
      Multimodal.MediaRow(3L, "image", Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 42, 42)),
      Multimodal.MediaRow(4L, "video", Array.fill(64)(7.toByte))).toDS()
    val r = Multimodal.decode(rows, batchBytes = 1 << 20).collect().sortBy(_.media_id)
    assert(r(0).ok && r(0).width == 17 && r(0).height == 9 && r(0).channels == 3)
    assert(r(1).ok && r(1).channels == 1 && r(1).duration_ms == 1000L)
    assert(!r(2).ok, "corrupt png must yield a structured failure row")
    assert(r(3).ok, "unrecognized container falls back to the stub")
  }

  test("imagePixelStats: exact channel sums from the real raster; JPEG structural; corrupt ok=false") {
    import Multimodal.MediaGen
    // closed-form expectation from the generator fill (x*31 + y*17) & 0xffffff
    def sums(w: Int, h: Int): (Long, Long, Long) = {
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 17) & 0xffffff
        sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
      }
      (sr, sg, sb)
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", MediaGen.pngBytes(17, 9)),
      Multimodal.MediaRow(2L, "image", MediaGen.pngBytes(8, 6, alpha = true)),
      Multimodal.MediaRow(3L, "image", MediaGen.pngBytes(2200, 3)), // red binds
      Multimodal.MediaRow(4L, "image", MediaGen.jpegBytes(24, 16)),
      Multimodal.MediaRow(5L, "image", Array[Byte](0x89.toByte, 'P', 'N', 'G', 0))).toDS()
    val r = Multimodal.imagePixelStats(rows).collect().sortBy(_.media_id)
    for ((i, w, h) <- Seq((0, 17, 9), (1, 8, 6), (2, 2200, 3))) {
      val (sr, sg, sb) = sums(w, h)
      assert(r(i).ok && r(i).width == w && r(i).height == h
        && r(i).n_pixels == w.toLong * h
        && (r(i).sum_r, r(i).sum_g, r(i).sum_b) == ((sr, sg, sb)),
        s"png $w x $h raster mismatch: ${r(i)}")
    }
    assert(r(2).sum_r > 0L, "2200-wide image must exercise the red channel")
    // JPEG decodes (dims exact) but the raster is decoder-dependent:
    // structural checks only
    assert(r(3).ok && r(3).width == 24 && r(3).height == 16 && r(3).n_pixels == 384L)
    assert(!r(4).ok && r(4).n_pixels == 0L)
  }

  test("audioPcmStats: exact sample stats vs the generator's closed form; corrupt ok=false") {
    import Multimodal.MediaGen
    def stats(n: Int): (Long, Long, Long) = {
      var (peak, sa, sq) = (0L, 0L, 0L)
      for (i <- 0 until n) {
        val s = ((i * 257) % 32768).toLong // always fits positive int16
        if (s > peak) peak = s
        sa += s; sq += s * s
      }
      (peak, sa, sq)
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "audio", MediaGen.wavBytes(1, 8000, 8000)),
      Multimodal.MediaRow(2L, "audio", MediaGen.wavBytes(2, 16000, 4000)),
      Multimodal.MediaRow(3L, "audio", "RIFFxxxxWAVEgarbage".getBytes("US-ASCII")),
      Multimodal.MediaRow(4L, "audio", MediaGen.pngBytes(9, 8))).toDS()
    val r = Multimodal.audioPcmStats(rows).collect().sortBy(_.media_id)
    val (p1, a1, q1) = stats(4000)
    assert(r(0) == Multimodal.AudioStats(1L, 1, 8000L, 4000L, p1, a1, q1, ok = true))
    val (p2, a2, q2) = stats(2000)
    assert(r(1) == Multimodal.AudioStats(2L, 2, 16000L, 2000L, p2, a2, q2, ok = true))
    assert(!r(2).ok && !r(3).ok, "garbage RIFF and a PNG payload must both fail safe")
  }

  test("audioPcmStats: negative samples decode signed (peak/L1/L2 use |s|)") {
    import spark.implicits._
    // hand-build a 3-sample PCM16LE wav: 1000, -2000, -32768
    val bb = java.nio.ByteBuffer.allocate(50).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(42).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(6)
      .putShort(1000).putShort(-2000).putShort(-32768)
    val r = Multimodal.audioPcmStats(
        Seq(Multimodal.MediaRow(7L, "audio", bb.array().take(50))).toDS())
      .collect().head
    assert(r.ok && r.n_samples == 3L && r.peak_abs == 32768L)
    assert(r.sum_abs == 1000L + 2000L + 32768L)
    assert(r.sum_sq == 1000L * 1000 + 2000L * 2000 + 32768L * 32768)
  }

  test("imageDHash: matches an independent recompute; near dims stay near; sub-9x8 fails safe") {
    import Multimodal.MediaGen
    // independent recompute straight from the decoded raster definition
    def expect(w: Int, h: Int): (Long, Long) = {
      val sums = Array.ofDim[Long](9, 8); val counts = Array.ofDim[Long](9, 8)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 17) & 0xffffff
        val gray = (((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)) / 3
        sums(x * 9 / w)(y * 8 / h) += gray; counts(x * 9 / w)(y * 8 / h) += 1
      }
      var hi = 0L; var lo = 0L
      for (cy <- 0 until 8; cx <- 0 until 8)
        if (sums(cx)(cy) / counts(cx)(cy) > sums(cx + 1)(cy) / counts(cx + 1)(cy)) {
          val idx = cy * 8 + cx
          if (idx >= 32) hi |= 1L << (idx - 32) else lo |= 1L << idx
        }
      (hi, lo)
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", MediaGen.pngBytes(64, 64)),
      Multimodal.MediaRow(2L, "image", MediaGen.pngBytes(65, 64)),
      Multimodal.MediaRow(3L, "image", MediaGen.pngBytes(8, 6))).toDS()
    val r = Multimodal.imageDHash(rows).collect().sortBy(_.media_id)
    val (h1, l1) = expect(64, 64)
    val (h2, l2) = expect(65, 64)
    assert(r(0).ok && (r(0).dhash_hi, r(0).dhash_lo) == ((h1, l1)))
    assert(r(1).ok && (r(1).dhash_hi, r(1).dhash_lo) == ((h2, l2)))
    assert((h1, l1) != ((0L, 0L)), "gradient fill must set some bits")
    // the synthetic fill oscillates with period ~8px in gray, the worst
    // case for box-downscale aliasing — a one-column resize still moves
    // far fewer bits than the ~32 two unrelated hashes differ by
    val ham = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
    assert(ham < 24, s"one-column resize moved $ham of 64 bits — not perceptual")
    assert(!r(2).ok, "8x6 thumbnail must fail safe")
  }

  test("G711 expansion tables match javax.sound byte-for-byte (all 256 codes, both laws)") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    import AudioFormat.Encoding
    def decodeVia(enc: AudioFormat.Encoding): Array[Int] = {
      val codes = Array.tabulate(256)(_.toByte)
      val src = new AudioInputStream(
        new java.io.ByteArrayInputStream(codes),
        new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false), 256L)
      val pcm = AudioSystem.getAudioInputStream(
        new AudioFormat(Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false), src)
      val buf = pcm.readAllBytes()
      Array.tabulate(256)(i =>
        (((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort).toInt)
    }
    val ju = decodeVia(Encoding.ULAW)
    val ja = decodeVia(Encoding.ALAW)
    (0 until 256).foreach { c =>
      assert(Multimodal.G711.ulawToLinear(c.toByte) == ju(c),
        s"ulaw code $c: ours ${Multimodal.G711.ulawToLinear(c.toByte)} vs javax ${ju(c)}")
      assert(Multimodal.G711.alawToLinear(c.toByte) == ja(c),
        s"alaw code $c: ours ${Multimodal.G711.alawToLinear(c.toByte)} vs javax ${ja(c)}")
    }
  }

  test("audioG711Stats: exact decoded energy stats; PCM16 and garbage routed to ok=false") {
    import Multimodal.{G711, MediaGen, MediaRow}
    val su = Array.tabulate(2048)(i => ((i * 7) % 256).toByte)
    val sa = Array.tabulate(1024)(i => ((i * 13) % 256).toByte)
    val rows = Seq(
      MediaRow(1L, "audio", MediaGen.wavG711Bytes("ulaw", 1, 8000, su)),
      MediaRow(2L, "audio", MediaGen.wavG711Bytes("alaw", 2, 16000, sa)),
      MediaRow(3L, "audio", MediaGen.wavBytes(1, 8000, 1600)), // PCM16: not G711
      MediaRow(4L, "audio", Array.fill(32)(9.toByte))).toDS()
    val r = Multimodal.audioG711Stats(rows).collect().sortBy(_.media_id)
    def expect(bytes: Array[Byte], dec: Byte => Int) = {
      val vs = bytes.map(dec(_).toLong)
      (vs.map(math.abs).max, vs.map(math.abs).sum, vs.map(v => v * v).sum)
    }
    val (p1, s1, q1) = expect(su, G711.ulawToLinear)
    assert(r(0).codec == "ulaw" && r(0).n_samples == 2048L &&
      (r(0).peak_abs, r(0).sum_abs, r(0).sum_sq) == ((p1, s1, q1)) && r(0).ok)
    val (p2, s2, q2) = expect(sa, G711.alawToLinear)
    assert(r(1).codec == "alaw" && r(1).channels == 2 &&
      r(1).sample_rate == 16000L &&
      (r(1).peak_abs, r(1).sum_abs, r(1).sum_sq) == ((p2, s2, q2)) && r(1).ok)
    assert(!r(2).ok && !r(3).ok)
  }

  test("videoFrameStats: real per-frame raster decode from an AVI walk; per-frame ok channel") {
    import Multimodal.{MediaGen, MediaRow}
    def sums(w: Int, h: Int): (Long, Long, Long) = {
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 17) & 0xffffff
        sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
      }
      (sr, sg, sb)
    }
    val movie = MediaGen.aviBytes(Seq(
      MediaGen.pngBytes(17, 9), MediaGen.pngBytes(8, 6),
      MediaGen.jpegBytes(5, 4), Array.fill(16)(42.toByte)),
      w = 17, h = 9, usPerFrame = 40000)
    val rows = Seq(
      MediaRow(1L, "video", movie),
      MediaRow(2L, "video", movie.take(20))).toDS()
    val r = Multimodal.videoFrameStats(rows).collect()
      .sortBy(t => (t.media_id, t.frame_idx))
    assert(r.length == 5)
    val f0 = r(0)
    val (sr0, sg0, sb0) = sums(17, 9)
    assert(f0.width == 17 && f0.height == 9 && f0.n_pixels == 153L &&
      (f0.sum_r, f0.sum_g, f0.sum_b) == ((sr0, sg0, sb0)) && f0.ok)
    assert(f0.declared_frames == 4L && f0.us_per_frame == 40000L)
    val f1 = r(1)
    val (sr1, sg1, sb1) = sums(8, 6)
    assert(f1.width == 8 && f1.height == 6 &&
      (f1.sum_r, f1.sum_g, f1.sum_b) == ((sr1, sg1, sb1)) && f1.ok)
    // MJPEG-style frame: lossy, so pin the decoded geometry only
    assert(r(2).width == 5 && r(2).height == 4 && r(2).ok)
    // one garbage frame fails ALONE; the movie keeps decoding
    assert(!r(3).ok && r(3).frame_idx == 3L && r(3).byte_len == 16L)
    // truncated container: single ok=false marker row
    assert(r(4).media_id == 2L && !r(4).ok && r(4).frame_idx == -1L)
  }

  test("mp4 sample tables: exact per-track counts/bytes/ticks from stts/stsz/stsc/stco") {
    import Multimodal.{MediaGen, MediaRow}
    import Multimodal.MediaGen.GenTrack
    // video: 3 stts runs, constant sample size, 5 chunks
    //   n = 100+50+1 = 151; ticks = 100*1001 + 50*1000 + 1*500 = 150600
    //   bytes = 151*1024 = 154624; duration_ms = 150600*1000/30000 = 5020
    val vide = GenTrack(1, "vide", 30000,
      Seq((100, 1001), (50, 1000), (1, 500)), Left(1024), nChunks = 5)
    // audio: v1 mdhd, per-sample sizes (i*37)%256, 2 chunks
    //   n = 1000; ticks = 1000*1024 = 1024000
    //   duration_ms = 1024000*1000/48000 = 21333 (floor)
    val sizes = (0 until 1000).map(i => (i * 37) % 256)
    val soun = GenTrack(2, "soun", 48000, Seq((1000, 1024)),
      Right(sizes), nChunks = 2, mdhdV1 = true)
    val movie = MediaGen.mp4SampleTableBytes(Seq(vide, soun))
    // truncation makes the trailing boxes overrun their parent: loud parse
    // failure routed to the ok=false channel
    val corrupt = movie.dropRight(6)
    val rows = Seq(
      MediaRow(1L, "video", movie),
      MediaRow(2L, "video", MediaGen.mp4SampleTableBytes(Seq.empty)),
      MediaRow(3L, "video", corrupt)).toDS()
    val r = Multimodal.mp4SampleTables(rows).collect()
      .sortBy(t => (t.media_id, t.track_id))
    assert(r.length == 4)
    val v = r(0)
    assert(v.track_id == 1L && v.handler == "vide" && v.timescale == 30000L)
    assert(v.n_samples == 151L && v.sample_bytes == 154624L)
    assert(v.stts_ticks == 150600L && v.mdhd_ticks == 150600L)
    assert(v.duration_ms == 5020L && v.n_stts_entries == 3L)
    assert(v.n_stsc_entries == 1L && v.n_chunks == 5L && v.ok)
    val a = r(1)
    assert(a.track_id == 2L && a.handler == "soun" && a.timescale == 48000L)
    assert(a.n_samples == 1000L && a.sample_bytes == sizes.map(_.toLong).sum)
    assert(a.stts_ticks == 1024000L && a.duration_ms == 21333L)
    assert(a.n_chunks == 2L && a.ok)
    // a valid movie with zero tracks: one ok=true placeholder row
    assert(r(2).media_id == 2L && r(2).ok && r(2).track_id == -1L)
    // truncated movie: ok=false channel, never a throw
    assert(r(3).media_id == 3L && !r(3).ok)
  }
}
