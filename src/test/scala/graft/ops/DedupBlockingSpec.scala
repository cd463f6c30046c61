package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{cosine_similarity, minhash_estimate, minhash_signature, simhash64, simhash64_md5}
import graft.pages.PageGen

/** The blocked pair operators against their own predicate over every id
  * pair, with no blocking: a `crossJoin` of the input for the three
  * operators that end in `distinct` (each fed one repeated input id), and
  * a Scala brute force over all doc pairs for the winnowing and weighted
  * Jaccard ones. Each corpus is chosen so that its blocking is lossless by
  * the operator's own guarantee (LSH banding by pigeonhole, hyperplane
  * buckets by positive scaling, df caps set above or mirrored in the
  * reference), so the two sides must be equal row for row.
  */
class DedupBlockingSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(71)

  /** PageGen pages, near-copies (one word replaced, one word appended),
    * exact copies and short docs; ids 0, 1, 2, ... in order.
    */
  private lazy val texts: Seq[String] = {
    val cfg = PageGen.Config(seed = 71, docScale = 1)
    val pages = for (u <- 0 until 30; r <- 0 until 2) yield PageGen.textOf(cfg, u, r)
    val edited = pages.indices.filter(_ % 5 == 0).map { i =>
      val w = pages(i).split(" ")
      w(rnd.nextInt(w.length)) = s"edit${rnd.nextInt(100)}"
      w.mkString(" ")
    }
    val appended = pages.indices.filter(_ % 7 == 0).map(i => pages(i) + " suffixtoken")
    pages ++ edited ++ appended ++ pages.take(3) ++ Seq("a b", "a b", "c")
  }

  /** `texts` as (id, text) rows, plus `extra` rows. */
  private def docs(extra: Seq[(Long, String)] = Nil): DataFrame =
    (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++ extra).toDF("id", "text").repartition(3)

  /** A second text under id 4: the repeated input id. */
  private def withRepeatedId: DataFrame = docs(Seq(4L -> texts(20)))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every (a, b) row pair with a.id < b.id. */
  private def allPairs(df: DataFrame): DataFrame =
    df.as("a").crossJoin(df.as("b")).where(col("a.id") < col("b.id"))

  test("minHashPairs ≡ the signature-estimate predicate over all pairs") {
    // 64 hashes in 32 bands: an estimate >= 0.6 leaves at most 25 unequal
    // signature positions, so some band of two is equal in full
    val df = withRepeatedId
    val sig = df.select(col("id"), minhash_signature(col("text"), 64, 3).as("sig"))
    val exp = allPairs(sig)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        minhash_estimate(col("a.sig"), col("b.sig")).as("est_jaccard"))
      .where(col("est_jaccard") >= 0.6).distinct()
    val got = Dedup.minHashPairs(df, "id", "text", numHashes = 64, numBands = 32,
      threshold = 0.6, shingleSize = 3)
    assert(rows(got) == rows(exp))
    assert(got.count() > 15)
    assert(got.where(col("id_a") === 4L || col("id_b") === 4L).count() > 0, "the repeated id pairs")
  }

  test("simHashPairs ≡ the hamming predicate over all pairs, both token hashes") {
    val df = withRepeatedId
    for ((tokenHash, sigFn) <- Seq("fnv" -> simhash64 _, "md5" -> simhash64_md5 _)) {
      val exp = allPairs(df.select(col("id"), sigFn(col("text")).as("sh")))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
        .where(col("hamming") <= 3).distinct()
      val got = Dedup.simHashPairs(df, "id", "text", maxHamming = 3, tokenHash = tokenHash)
      assert(rows(got) == rows(exp), tokenHash)
      assert(got.count() > 10, tokenHash)
    }
  }

  test("embeddingCosinePairs ≡ the cosine predicate over all pairs") {
    // positively scaled copies keep every hyperplane sign, so they share a
    // bucket in every table; unrelated random vectors sit far below 0.999
    val base = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val scaled = base.filter(_._1 % 3 == 0).map { case (i, v) => (i + 100, v.map(_ * 1.5f)) }
    val repeated = Seq((3L, base(7)._2.map(_ * 2f)))
    val df = (base ++ scaled ++ repeated).map { case (i, v) => (i, v.toSeq) }.toDF("id", "embedding")
      .repartition(3)
    val exp = allPairs(df)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosine_similarity(col("a.embedding"), col("b.embedding")).as("cosine"))
      .where(col("cosine") >= 0.999).distinct()
    val got = Dedup.embeddingCosinePairs(df, "id", "embedding", threshold = 0.999, bits = 10, tables = 4)
    assert(rows(got) == rows(exp))
    assert(got.count() >= 15)
    assert(got.where(col("id_a") === 3L || col("id_b") === 3L).count() >= 2, "the repeated id pairs")
  }

  private def words(t: String): Seq[String] =
    Option(t).toSeq.flatMap(s => "[a-z0-9_']+".r.findAllIn(s.toLowerCase).toSeq)

  /** MOSS winnowing as the operator documents it: first 32 md5 bits of
    * every k-word gram, the minimum of each window of `w` gram hashes,
    * distinct.
    */
  private def fingerprints(t: String, k: Int, w: Int): Set[Long] = {
    val ws = words(t)
    val hs = (0 to ws.length - k).map { i =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(ws.slice(i, i + k).mkString(" ").getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    }
    if (hs.isEmpty) Set.empty
    else if (hs.length <= w) Set(hs.min)
    else hs.sliding(w).map(_.min).toSet
  }

  /** Keys of `sets` in more than `cap` of them. */
  private def hot[K](sets: Iterable[Iterable[K]], cap: Int): Set[K] =
    sets.flatten.groupBy(identity).collect { case (g, o) if o.size > cap => g }.toSet

  private val ids = texts.indices.map(_.toLong)

  test("winnowedOverlapPairs ≡ the shared-fingerprint count over all pairs, with and without the cap") {
    val fp = ids.map(i => i -> fingerprints(texts(i.toInt), 4, 5)).toMap
    for (cap <- Seq(1000, 3)) {
      val drop = hot(fp.values, cap)
      val exp = for {
        a <- ids; b <- ids if a < b
        shared = ((fp(a) & fp(b)) -- drop).size if shared >= 2
      } yield s"[$a,$b,$shared]"
      val got = Dedup.winnowedOverlapPairs(docs(), "id", "text", k = 4, windowW = 5,
        minShared = 2, maxFpDf = cap)
      assert(rows(got) == exp.sorted, s"cap $cap")
      assert(exp.nonEmpty, s"cap $cap")
    }
  }

  test("weightedJaccardPairs ≡ the multiset Jaccard over all pairs, with and without the cap") {
    val counts = ids.map { i =>
      i -> words(texts(i.toInt)).groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    }.toMap
    // the second cap sits one under a frequent word's df: that word is dropped
    val df = counts.values.flatMap(_.keys).groupBy(identity).map(_._2.size).toSeq.sorted
    for ((cap, t) <- Seq((1000, 0.5), (df(df.length * 9 / 10) - 1, 0.3))) {
      val drop = hot(counts.values.map(_.keys), cap)
      val exp = for {
        a <- ids; b <- ids if a < b
        shared = (counts(a).keySet & counts(b).keySet) -- drop
        minSum = shared.toSeq.map(w => math.min(counts(a)(w), counts(b)(w))).sum if minSum > 0
        jac = minSum.toDouble / (counts(a).values.sum + counts(b).values.sum - minSum).toDouble
        if jac >= t
      } yield s"[$a,$b,$minSum,$jac]"
      val got = Dedup.weightedJaccardPairs(docs(), "id", "text", threshold = t, maxTokenDf = cap)
      assert(rows(got) == exp.sorted, s"cap $cap")
      assert(exp.nonEmpty, s"cap $cap")
    }
  }
}
