package graft.temporal

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  /** Deterministic pseudo-random probe/build tables. */
  private def randomTables(seed: Long, nKeys: Int, nProbe: Int, nBuild: Int): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    val probe = (0 until nProbe).map { i =>
      (s"k${rnd.nextInt(nKeys)}", ts(rnd.nextInt(100000).toLong), s"p$i")
    }.toDF("key", "t", "probe_payload")
    val build = (0 until nBuild).map { i =>
      (s"k${rnd.nextInt(nKeys)}", ts(rnd.nextInt(100000).toLong), i.toDouble)
    }.toDF("key", "bts", "value")
    (probe, build)
  }

  /** Brute-force oracle computed on the driver. */
  private def bruteForce(probe: DataFrame, build: DataFrame, strict: Boolean): Map[(String, Timestamp, String), Option[(Timestamp, Double)]] = {
    val b = build.collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
    probe.collect().map { r =>
      val key = r.getString(0); val t = r.getTimestamp(1); val pp = r.getString(2)
      val cands = b.filter(x => x._1 == key &&
        (if (strict) x._2.getTime < t.getTime else x._2.getTime <= t.getTime))
      val best = if (cands.isEmpty) None
      else {
        val m = cands.maxBy(x => (x._2.getTime, x._3))
        Some((m._2, m._3))
      }
      (key, t, pp) -> best
    }.toMap
  }

  private def checkAgainstBrute(result: DataFrame, oracle: Map[(String, Timestamp, String), Option[(Timestamp, Double)]]): Unit = {
    val rows = result.collect()
    assert(rows.length == oracle.size)
    rows.foreach { r =>
      val k = (r.getString(r.fieldIndex("key")), r.getTimestamp(r.fieldIndex("t")), r.getString(r.fieldIndex("probe_payload")))
      val expected = oracle(k)
      val got =
        if (r.isNullAt(r.fieldIndex("bts"))) None
        else Some((r.getTimestamp(r.fieldIndex("bts")), r.getDouble(r.fieldIndex("value"))))
      // compare picked ts only (payload tie-break at equal ts may differ —
      // both engine variants and the brute force use max struct ordering)
      assert(got.map(_._1) == expected.map(_._1), s"row $k: got $got expected $expected")
      assert(got.map(_._2) == expected.map(_._2), s"row $k: got $got expected $expected")
      assert(r.getBoolean(r.fieldIndex("_asof_matched")) == expected.nonEmpty)
    }
  }

  test("nearest: argmin |delta|, tie to backward, maxDelta bound, no-history keys") {
    val build = Seq(("a", ts(100), 1.0), ("a", ts(200), 2.0))
      .toDF("key", "bts", "value")
    val probe = Seq(
      ("a", ts(90), "p0"),   // only forward: 100 (d=10)
      ("a", ts(140), "p1"),  // back d=40 < fwd d=60 -> 100
      ("a", ts(160), "p2"),  // fwd d=40 < back d=60 -> 200
      ("a", ts(150), "p3"),  // tie d=50 -> BACKWARD -> 100
      ("a", ts(500), "p4"),  // only backward in range -> 200 (d=300)
      ("b", ts(100), "p5"))  // no build rows at all
      .toDF("key", "t", "probe_payload")
    val r = AsOfJoin.nearest(probe, build, Seq("key"), "t", "bts")
      .collect().map(x => x.getString(x.fieldIndex("probe_payload")) ->
        (if (x.isNullAt(x.fieldIndex("value"))) None
         else Some(x.getDouble(x.fieldIndex("value"))))).toMap
    assert(r == Map("p0" -> Some(1.0), "p1" -> Some(1.0), "p2" -> Some(2.0),
      "p3" -> Some(1.0), "p4" -> Some(2.0), "p5" -> None))
    // maxDelta 45 s: p3 (d=50) and p4 (d=300) lose their match
    val capped = AsOfJoin.nearest(probe, build, Seq("key"), "t", "bts",
        maxDeltaSeconds = Some(45L))
      .collect().map(x => x.getString(x.fieldIndex("probe_payload")) ->
        x.getBoolean(x.fieldIndex("_asof_matched"))).toMap
    assert(capped == Map("p0" -> true, "p1" -> true, "p2" -> true,
      "p3" -> false, "p4" -> false, "p5" -> false))
    // random tables: the chosen row always achieves the minimal |delta|
    val (rp, rb) = randomTables(seed = 11L, nKeys = 5, nProbe = 200, nBuild = 120)
    val bRows = rb.collect().map(x => (x.getString(0), x.getTimestamp(1).getTime))
    val got = AsOfJoin.nearest(rp, rb, Seq("key"), "t", "bts").collect()
    got.foreach { x =>
      val key = x.getString(x.fieldIndex("key"))
      val t = x.getTimestamp(x.fieldIndex("t")).getTime
      val cands = bRows.filter(_._1 == key).map(c => math.abs(c._2 - t))
      if (cands.isEmpty) assert(!x.getBoolean(x.fieldIndex("_asof_matched")))
      else {
        val bt = x.getTimestamp(x.fieldIndex("bts")).getTime
        assert(math.abs(bt - t) == cands.min, s"probe ($key,$t)")
      }
    }
  }

  test("asOfUnion matches brute force (inclusive + strict)") {
    val (probe, build) = randomTables(1, nKeys = 7, nProbe = 300, nBuild = 200)
    for (strict <- Seq(false, true)) {
      val r = AsOfJoin.asOfUnion(probe, build, Seq("key"), "t", "bts", strict = strict)
      checkAgainstBrute(r, bruteForce(probe, build, strict))
    }
  }

  test("asOfBucketed matches brute force across bucket widths (inclusive + strict)") {
    val (probe, build) = randomTables(2, nKeys = 5, nProbe = 250, nBuild = 180)
    for (strict <- Seq(false, true); bucketSeconds <- Seq(1000L, 10000L, 1000000L)) {
      val r = AsOfJoin.asOfBucketed(probe, build, Seq("key"), "t", "bts", lit(bucketSeconds), strict = strict)
      checkAgainstBrute(r, bruteForce(probe, build, strict))
    }
  }

  test("tolerance: too-stale matches degrade to unmatched nulls; union == bucketed") {
    val (probe, build) = randomTables(5, nKeys = 6, nProbe = 220, nBuild = 160)
    val tol = 2000L
    // brute-force tolerance applied to the FOUND latest (earlier rows are
    // staler, so filtering the latest == bounding the search)
    val expected = bruteForce(probe, build, strict = false).map { case (k, best) =>
      k -> best.filter(m => k._2.getTime / 1000L - m._1.getTime / 1000L <= tol)
    }
    val u = AsOfJoin.asOfUnion(probe, build, Seq("key"), "t", "bts",
      toleranceSeconds = Some(tol))
    checkAgainstBrute(u, expected)
    for (bucketSeconds <- Seq(1000L, 50000L)) {
      val b = AsOfJoin.asOfBucketed(probe, build, Seq("key"), "t", "bts",
        lit(bucketSeconds), toleranceSeconds = Some(tol))
      checkAgainstBrute(b, expected)
    }
    // the bound actually bites on this draw AND some matches survive
    val matched = u.where(col("_asof_matched")).count()
    val unbounded = AsOfJoin.asOfUnion(probe, build, Seq("key"), "t", "bts")
      .where(col("_asof_matched")).count()
    assert(matched > 0 && matched < unbounded)
  }

  test("asOfBucketed == asOfUnion on skewed keys (hot key dominates)") {
    val rnd = new scala.util.Random(3)
    val probe = ((0 until 500).map(i => ("hot", ts(rnd.nextInt(50000).toLong), s"p$i")) ++
      (0 until 50).map(i => (s"cold$i", ts(rnd.nextInt(50000).toLong), s"q$i"))).toDF("key", "t", "probe_payload")
    val build = ((0 until 400).map(i => ("hot", ts(rnd.nextInt(50000).toLong), i.toDouble)) ++
      (0 until 30).map(i => (s"cold$i", ts(rnd.nextInt(50000).toLong), -i.toDouble))).toDF("key", "bts", "value")
    val a = AsOfJoin.asOfUnion(probe, build, Seq("key"), "t", "bts")
      .select("key", "t", "probe_payload", "bts", "value").collect().map(_.toString).sorted
    val b = AsOfJoin.asOfBucketed(probe, build, Seq("key"), "t", "bts", lit(5000))
      .select("key", "t", "probe_payload", "bts", "value").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("zero temporal leakage: future-dated poison build rows change nothing") {
    val (probe, build) = randomTables(4, nKeys = 6, nProbe = 200, nBuild = 150)
    // poison: for every key, value rows dated AFTER every probe ts
    val poison = (0 until 50).map(i => (s"k${i % 6}", ts(200000L + i), 99999.0)).toDF("key", "bts", "value")
    val clean = AsOfJoin.asOfUnion(probe, build, Seq("key"), "t", "bts")
    val poisoned = AsOfJoin.asOfUnion(probe, build.unionByName(poison), Seq("key"), "t", "bts")
    assert(clean.collect().map(_.toString).sorted.sameElements(poisoned.collect().map(_.toString).sorted))
    val cleanB = AsOfJoin.asOfBucketed(probe, build, Seq("key"), "t", "bts", lit(7777))
    val poisonedB = AsOfJoin.asOfBucketed(probe, build.unionByName(poison), Seq("key"), "t", "bts", lit(7777))
    assert(cleanB.collect().map(_.toString).sorted.sameElements(poisonedB.collect().map(_.toString).sorted))
  }

  test("null payload values come from the LATEST build row, never mixed across rows") {
    // build row at t=20 has a null `note`; a per-column forward-fill would
    // leak t=10's non-null note into it — the whole-row struct fill must not
    val probe = Seq(("k1", ts(25), "p0")).toDF("key", "t", "probe_payload")
    val build = Seq(
      ("k1", ts(10), Option(1.0), Option("first")),
      ("k1", ts(20), Option(2.0), Option.empty[String])
    ).toDF("key", "bts", "value", "note")
    for (r <- Seq(
        AsOfJoin.asOfUnion(probe, build, Seq("key"), "t", "bts"),
        AsOfJoin.asOfBucketed(probe, build, Seq("key"), "t", "bts", lit(7)),
        AsOfJoin.asOfBucketed(probe, build, Seq("key"), "t", "bts", lit(100)))) {
      val row = r.collect().head
      assert(row.getTimestamp(row.fieldIndex("bts")) == ts(20))
      assert(row.getDouble(row.fieldIndex("value")) == 2.0)
      assert(row.isNullAt(row.fieldIndex("note")),
        "note must be null (from the t=20 build row), not filled from t=10")
    }
  }

  test("keys missing from build yield null payload and matched=false") {
    val probe = Seq(("a", ts(10), "p0"), ("zzz", ts(10), "p1")).toDF("key", "t", "probe_payload")
    val build = Seq(("a", ts(5), 1.0)).toDF("key", "bts", "value")
    val r = AsOfJoin.asOfUnion(probe, build, Seq("key"), "t", "bts").collect()
    val miss = r.find(_.getString(2) == "p1").get
    assert(miss.isNullAt(miss.fieldIndex("value")) && !miss.getBoolean(miss.fieldIndex("_asof_matched")))
  }
}

class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("sessionize splits on gaps > threshold, hand-computed golden") {
    // gaps: 100 (same), 7201 (new), 50 (same), 7300 (new)
    val df = Seq(
      ("u", ts(1000)), ("u", ts(1100)), ("u", ts(8301)), ("u", ts(8351)), ("u", ts(15651)),
      ("v", ts(500))).toDF("url", "t")
    val r = Windows.sessionize(df, Seq("url"), "t", gapSeconds = 7200)
      .orderBy("url", "t").select("url", "session_no").as[(String, Long)].collect()
    assert(r.toSeq == Seq(("u", 0L), ("u", 0L), ("u", 1L), ("u", 1L), ("u", 2L), ("v", 0L)))
  }

  test("session boundary at exactly the gap threshold stays in-session") {
    val df = Seq(("u", ts(0)), ("u", ts(7200))).toDF("url", "t")
    val r = Windows.sessionize(df, Seq("url"), "t", 7200).select("session_no").as[Long].collect()
    assert(r.toSeq == Seq(0L, 0L))
  }

  test("sessionStats rollup") {
    val df = Seq(("u", ts(0)), ("u", ts(100)), ("u", ts(20000))).toDF("url", "t")
    val s = Windows.sessionStats(Windows.sessionize(df, Seq("url"), "t", 7200), Seq("url"), "t")
      .orderBy("session_no").collect()
    assert(s.length == 2)
    assert(s(0).getAs[Long]("session_revisits") == 2 && s(0).getAs[Long]("session_duration_s") == 100)
  }

  test("lag/lead and delta") {
    val df = Seq(("u", ts(1), 1.0), ("u", ts(2), 3.0), ("u", ts(3), 6.0)).toDF("url", "t", "x")
    val r = Windows.delta(Windows.lagLead(df, Seq("url"), "t", Seq("x")), Seq("url"), "t", "x")
      .orderBy("t").select("x_lag1", "x_future_lead1", "x_delta").collect()
    assert(r(0).isNullAt(0) && r(0).getDouble(1) == 3.0 && r(0).isNullAt(2))
    assert(r(1).getDouble(0) == 1.0 && r(1).getDouble(1) == 6.0 && r(1).getDouble(2) == 2.0)
    assert(r(2).getDouble(0) == 3.0 && r(2).isNullAt(1) && r(2).getDouble(2) == 3.0)
  }

  test("backfill carries last non-null forward, never backward") {
    val df = Seq(("u", ts(1), Some(5.0)), ("u", ts(2), None), ("u", ts(3), None), ("u", ts(0), None))
      .toDF("url", "t", "x")
    val r = Windows.backfill(df, Seq("url"), "t", Seq("x")).orderBy("t").select("x_filled").collect()
    assert(r(0).isNullAt(0)) // ts 0 before first value: stays null (no future read)
    assert(r(1).getDouble(0) == 5.0 && r(2).getDouble(0) == 5.0 && r(3).getDouble(0) == 5.0)
  }

  test("rolling windows trail only (leakage-free)") {
    val df = Seq(("u", ts(1), 1.0), ("u", ts(2), 2.0), ("u", ts(3), 30.0)).toDF("url", "t", "x")
    val r = Windows.rollingByRows(df, Seq("url"), "t", "x", 2).orderBy("t")
      .select("x_roll2_mean").as[Double].collect()
    assert(r.toSeq == Seq(1.0, 1.5, 16.0))
  }

  test("rollingByRange: trailing seconds, inclusive, ties and nulls") {
    val df = Seq[(String, Timestamp, Option[Double])](
      ("a", ts(0), Some(1.0)), ("a", ts(10), Some(2.0)), ("a", ts(25), Some(3.0)),
      ("a", ts(100), Some(4.0)), ("b", ts(5), Some(7.0)), ("b", ts(5), Some(9.0)),
      ("b", ts(30), None)).toDF("url", "t", "x")
    val r = Windows.rollingByRange(df, Seq("url"), "t", "x", 20)
      .select(col("url"), col("t"), col("x_roll20s_mean"), col("x_roll20s_count"))
      .collect().map(r => ((r.getString(0), r.getTimestamp(1).getTime / 1000),
        (Option(r.get(2)).map(_.asInstanceOf[Double]), r.getLong(3))))
    // a@25 reaches back to 5: the row at 10, not the one at 0; b@5 sees its
    // tie; b@30 reaches back to 10 and sees only its own null
    assert(r.sortBy(_._1).toSeq == Seq(
      ("a", 0L) -> (Some(1.0), 1L), ("a", 10L) -> (Some(1.5), 2L), ("a", 25L) -> (Some(2.5), 2L),
      ("a", 100L) -> (Some(4.0), 1L), ("b", 5L) -> (Some(8.0), 2L), ("b", 5L) -> (Some(8.0), 2L),
      ("b", 30L) -> (None, 0L)))
  }

  test("latestSnapshot dedups to newest crawl") {
    val df = Seq(("u", ts(1), "old"), ("u", ts(9), "new"), ("v", ts(2), "only")).toDF("url", "t", "v")
    val r = Windows.latestSnapshot(df, Seq("url"), "t").orderBy("url").select("v").as[String].collect()
    assert(r.toSeq == Seq("new", "only"))
  }

  test("revisitDiff: identical revisit -> hamming 0 / unchanged; first snapshot null; lag-only") {
    val doc = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      ("u", 1L, doc),                       // first snapshot: hamming null
      ("u", 2L, doc),                       // byte-identical revisit: hamming 0
      ("u", 3L, doc + " smalledit"),        // near-dup revisit: small hamming
      ("u", 4L, "completely different words about another topic entirely now"),
      ("v", 9L, doc)                        // other key's first snapshot: null
    ).toDF("url", "t", "text")
    val r = Windows.revisitDiff(df, Seq("url"), "t", "text", maxHamming = 3)
      .orderBy("url", "t")
      .select("hamming", "changed").collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getLong(0) == 0L && !r(1).getBoolean(1))
    assert(r(2).getLong(0) > 0L)
    assert(r(3).getLong(0) > 3L && r(3).getBoolean(1)) // wholly different text
    assert(r(4).isNullAt(0) && r(4).isNullAt(1))       // per-key restart: no cross-key read
    // leakage check: hamming at row t compares to the PREVIOUS ts only —
    // mutating a LATER snapshot must not change any earlier row's output
    val mutated = df.union(Seq(("u", 99L, "future poison row")).toDF("url", "t", "text"))
    val before = Windows.revisitDiff(df, Seq("url"), "t", "text").where($"t" <= 4)
      .select("url", "t", "hamming").collect().map(_.toSeq).toSet
    val after = Windows.revisitDiff(mutated, Seq("url"), "t", "text").where($"t" <= 4)
      .select("url", "t", "hamming").collect().map(_.toSeq).toSet
    assert(before == after)
  }

  test("snapshotIntervals: half-open validity chain, newest row open-ended") {
    val df = Seq(("u", ts(1)), ("u", ts(5)), ("u", ts(9)), ("v", ts(3))).toDF("url", "t")
    val r = Windows.snapshotIntervals(df, Seq("url"), "t").orderBy("url", "t")
      .select("valid_from", "valid_to", "is_current").collect()
    assert(r(0).getTimestamp(0) == ts(1) && r(0).getTimestamp(1) == ts(5) && !r(0).getBoolean(2))
    assert(r(1).getTimestamp(0) == ts(5) && r(1).getTimestamp(1) == ts(9) && !r(1).getBoolean(2))
    assert(r(2).getTimestamp(0) == ts(9) && r(2).isNullAt(1) && r(2).getBoolean(2))
    assert(r(3).getTimestamp(0) == ts(3) && r(3).isNullAt(1) && r(3).getBoolean(2))
    // intervals tile the key's timeline: every ts is in EXACTLY one interval
    val probes = Seq(ts(1), ts(4), ts(5), ts(8), ts(9), ts(100))
    val iv = r.take(3).map(x => (x.getTimestamp(0), Option(x.getTimestamp(1))))
    probes.foreach { p =>
      val n = iv.count { case (f, t) => !p.before(f) && t.forall(p.before) }
      assert(n == 1, s"probe $p covered by $n intervals")
    }
  }

  test("leakageAudit: clean as-of output audits zero; poisoned matches are flagged") {
    val probe = Seq(("u", ts(5)), ("u", ts(10)), ("v", ts(3))).toDF("k", "pts")
    val build = Seq(("u", ts(4), 1.0), ("u", ts(9), 2.0), ("v", ts(7), 3.0))
      .toDF("k", "bts", "x")
    val joined = AsOfJoin.asOfUnion(probe, build, Seq("k"), "pts", "bts")
    val clean = AsOfJoin.leakageAudit(joined, Seq("k"), "pts", "bts")
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(clean("u") === ((2L, 2L, 0L, 0L)))
    assert(clean("v") === ((1L, 0L, 0L, 0L))) // v's only build row is future -> unmatched
    // poison: hand-built "join output" matching a FUTURE row, plus a stale one
    val poisoned = Seq(
      ("u", ts(5), Some(ts(6))),   // leak: build after probe
      ("u", ts(10), Some(ts(10))), // equal ts: ok inclusive, leak strict
      ("v", ts(100), Some(ts(1)))  // stale at tolerance 10s
    ).toDF("k", "pts", "bts")
    val audit = AsOfJoin.leakageAudit(poisoned, Seq("k"), "pts", "bts",
        toleranceSeconds = Some(10L))
      .collect().map(r => (r.getString(0), (r.getLong(3), r.getLong(4)))).toMap
    assert(audit("u") === ((1L, 0L)))
    assert(audit("v") === ((0L, 1L)))
    val strict = AsOfJoin.leakageAudit(poisoned, Seq("k"), "pts", "bts", strict = true)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(strict("u") === 2L)
  }

  test("decayedSum: hand-computed int64 fixed-point, trailing-only, negative floor") {
    // k=3, scale=10: weights current*4, lag1*2, lag2*1; fix = floor(v*10)
    val df = Seq(
      ("u", ts(1), 1L, 1.0),   // fix 10  -> 10*4                 = 40
      ("u", ts(2), 2L, 2.5),   // fix 25  -> 25*4 + 10*2          = 120
      ("u", ts(3), 3L, -0.31), // fix -4  -> -4*4 + 25*2 + 10*1   = 44
      ("v", ts(9), 4L, 7.0)    // fix 70  -> 70*4                 = 280 (no cross-key read)
    ).toDF("url", "t", "eid", "x")
    val r = Windows.decayedSum(df, Seq("url"), "t", "x", k = 3, scale = 10L,
        tieBreak = Seq("eid"))
      .orderBy("eid").select("x_decayed").as[Long].collect()
    assert(r.toSeq == Seq(40L, 120L, 44L, 280L))
  }

  test("ewmaHalf: exact dyadic fold per key, seeded at the first value") {
    val df = Seq(
      ("u", ts(1), 1L, 8.0),  // s=8
      ("u", ts(2), 2L, 4.0),  // s=(8+4)/2=6
      ("u", ts(3), 3L, 1.0),  // s=(6+1)/2=3.5
      ("u", ts(4), 4L, 3.5),  // s=(3.5+3.5)/2=3.5
      ("v", ts(9), 5L, 7.0)   // own fold, s=7
    ).toDF("url", "t", "eid", "x")
    val r = Windows.ewmaHalf(df, Seq("url"), "t", "x", tieBreak = Seq("eid"))
      .orderBy("eid").select("ewma").as[Double].collect()
    assert(r.toSeq == Seq(8.0, 6.0, 3.5, 3.5, 7.0))
    // tie on ts resolved by tieBreak: order (eid) decides the recursion
    val tied = Seq(("w", ts(1), 1L, 0.0), ("w", ts(1), 2L, 8.0))
      .toDF("url", "t", "eid", "x")
    val rt = Windows.ewmaHalf(tied, Seq("url"), "t", "x", Seq("eid"))
      .orderBy("eid").select("ewma").as[Double].collect()
    assert(rt.toSeq == Seq(0.0, 4.0))
    // value column and ts survive in the output schema
    val cols = Windows.ewmaHalf(df, Seq("url"), "t", "x", Seq("eid")).columns
    assert(cols.toSeq == Seq("url", "t", "eid", "value", "ewma"))
  }

  test("timeToEvent: strictly-later next target, per key, null at the end") {
    val df = Seq(
      ("u", ts(10), 1L, "click"), ("u", ts(20), 2L, "purchase"),
      ("u", ts(30), 3L, "click"), ("u", ts(40), 4L, "purchase"),
      ("u", ts(50), 5L, "click"),
      ("v", ts(10), 6L, "click")) // no purchase ever
      .toDF("k", "t", "eid", "ty")
    val r = graft.temporal.Windows.timeToEvent(df, Seq("k"), "t", "ty",
        "purchase", tieBreak = Seq("eid"))
      .orderBy("eid").collect()
      .map(x => Option(x.get(4)).map(_.asInstanceOf[Long]))
    // a purchase's own row looks to the NEXT purchase, not itself
    assert(r.toSeq == Seq(Some(10L), Some(20L), Some(10L), None, None,
      None))
  }

  test("asOfCount: trailing-window counts, same-second inclusive, no leakage") {
    val left = Seq(("u", ts(100), 1L), ("u", ts(200), 2L),
      ("v", ts(100), 3L)).toDF("k", "t", "id")
    val right = Seq(("u", ts(50)), ("u", ts(100)), ("u", ts(150)),
      ("u", ts(250)),   // future of both left events: never counted
      ("v", ts(99))).toDF("k", "t")
    val r = graft.temporal.AsOfJoin.asOfCount(left, right, Seq("k"), "t",
        "id", windowSeconds = 60L)
      .orderBy("id").collect()
      .map(x => (x.getLong(2), x.getLong(3)))
    // id1 @100: right at 50,100 in (40,100] -> 2 ; id2 @200: right at
    // 150 in (140,200] -> 1 ; id3 v@100: right at 99 -> 1
    assert(r.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
    // zero-width window counts only same-second rights
    val z = graft.temporal.AsOfJoin.asOfCount(left, right, Seq("k"), "t",
        "id", 0L).orderBy("id").collect().map(_.getLong(3))
    assert(z.toSeq == Seq(1L, 0L, 0L))
  }

  test("revisitSchedule: exponential backoff resets on change, capped") {
    val df = Seq(
      ("u", ts(1), 1L, true), ("u", ts(2), 2L, false),
      ("u", ts(3), 3L, false), ("u", ts(4), 4L, false),
      ("u", ts(5), 5L, true), ("u", ts(6), 6L, false),
      ("v", ts(1), 7L, false), ("v", ts(2), 8L, false))
      .toDF("url", "t", "eid", "changed")
    val r = Windows.revisitSchedule(df, Seq("url"), "t", "changed",
        baseS = 60L, maxS = 3600L, tieBreak = Seq("eid"))
      .orderBy("eid").collect()
      .map(x => (x.getLong(4), x.getLong(5)))
    assert(r.toSeq == Seq((0L, 60L), (1L, 120L), (2L, 240L), (3L, 480L),
      (0L, 60L), (1L, 120L), (1L, 120L), (2L, 240L)))
    // deep runs cap at maxS, not overflow
    val long = (1 to 40).map(i => ("w", ts(i.toLong), 100L + i, false))
      .toDF("url", "t", "eid", "changed")
    val rl = Windows.revisitSchedule(long, Seq("url"), "t", "changed",
        60L, 3600L, Seq("eid")).orderBy("eid").collect()
    assert(rl.last.getLong(5) == 3600L)
  }

  test("stateRuns: islands collapse, null-safe state equality, spans exact") {
    val df = Seq(
      ("u", ts(1), 1L, Some("A")), ("u", ts(2), 2L, Some("A")),
      ("u", ts(3), 3L, Some("B")), ("u", ts(4), 4L, Some("B")),
      ("u", ts(5), 5L, Some("B")), ("u", ts(6), 6L, Some("A")),
      ("v", ts(1), 7L, None), ("v", ts(2), 8L, None),
      ("v", ts(3), 9L, Some("A")))
      .toDF("url", "t", "eid", "state")
    val r = Windows.stateRuns(df, Seq("url"), "t", "state", Seq("eid"))
      .orderBy("url", "run_id").collect()
      .map(x => (x.getString(0), x.getLong(1), Option(x.getString(2)),
        x.getTimestamp(3).getTime / 1000, x.getTimestamp(4).getTime / 1000,
        x.getLong(5)))
    assert(r.toSeq == Seq(
      ("u", 1L, Some("A"), 1L, 2L, 2L),
      ("u", 2L, Some("B"), 3L, 5L, 3L),
      ("u", 3L, Some("A"), 6L, 6L, 1L),
      ("v", 1L, None, 1L, 2L, 2L), // null == null: one run
      ("v", 2L, Some("A"), 3L, 3L, 1L)))
  }

  test("decayedSum: tie-break makes equal timestamps deterministic; repartition-stable") {
    val df = Seq(
      ("u", ts(5), 1L, 1.0), ("u", ts(5), 2L, 100.0), ("u", ts(5), 3L, 2.0))
      .toDF("url", "t", "eid", "x")
    def run(d: org.apache.spark.sql.DataFrame) =
      Windows.decayedSum(d, Seq("url"), "t", "x", k = 2, scale = 1L,
          tieBreak = Seq("eid"))
        .orderBy("eid").select("x_decayed").as[Long].collect().toSeq
    // order by eid: fix = 1, 100, 2; weights current*2, lag1*1
    val expected = Seq(2L, 201L, 104L)
    assert(run(df) == expected)
    assert(run(df.repartition(7)) == expected)
  }

  test("resampleGrid: epoch-aligned ticks, forward fill, no future reads") {
    // samples at 1.5s (v=10), 4.2s (v=20), 9.9s (v=30); step 2s
    // ticks: 2,4,6,8 -> fills 10,10,20,20 (9.9s sample is after the last tick)
    val df = Seq(("k", new Timestamp(1500L), 10L),
      ("k", new Timestamp(4200L), 20L),
      ("k", new Timestamp(9900L), 30L),
      ("s", new Timestamp(100L), 7L)) // span < 1 tick: no grid rows
      .toDF("k", "t", "v")
    val r = Windows.resampleGrid(df, Seq("k"), "t", "v", stepMs = 2000L)
      .orderBy("k", "grid_ms").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      ("k", 2000L, 10L), ("k", 4000L, 10L), ("k", 6000L, 20L),
      ("k", 8000L, 20L)))
    // a sample exactly ON a tick is visible to it (inclusive as-of)
    val on = Windows.resampleGrid(
      Seq(("o", new Timestamp(2000L), 5L), ("o", new Timestamp(4000L), 6L))
        .toDF("k", "t", "v"), Seq("k"), "t", "v", 2000L)
      .orderBy("grid_ms").collect().map(x => (x.getLong(1), x.getLong(2)))
    assert(on.toSeq == Seq((2000L, 5L), (4000L, 6L)))
  }

  test("resampleGridLerp: interpolation, on-sample ticks, edge NULLs") {
    // samples: (0s, 0), (10s, 100); ticks at 2,4,6,8,10s (step 2s)
    val df = Seq(("k", new Timestamp(0L), 0L),
      ("k", new Timestamp(10000L), 100L)).toDF("k", "t", "v")
    val r = Windows.resampleGridLerp(df, Seq("k"), "t", "v", 2000L)
      .orderBy("grid_ms").collect()
      .map(x => (x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq((0L, 0.0), (2000L, 20.0), (4000L, 40.0),
      (6000L, 60.0), (8000L, 80.0), (10000L, 100.0)))
    // three samples with a direction change interpolate piecewise
    val pw = Seq(("p", new Timestamp(0L), 0L), ("p", new Timestamp(4000L), 40L),
      ("p", new Timestamp(8000L), 0L)).toDF("k", "t", "v")
    val rp = Windows.resampleGridLerp(pw, Seq("k"), "t", "v", 2000L)
      .orderBy("grid_ms").collect().map(x => (x.getLong(1), x.getDouble(2)))
    assert(rp.toSeq == Seq((0L, 0.0), (2000L, 20.0), (4000L, 40.0),
      (6000L, 20.0), (8000L, 0.0)))
  }

  test("timeWeightedMean: step-series average, single-sample NULL, ties stable") {
    // key a: v=10 for 4s, v=2 for 6s over span 10s -> (40+12)/10 = 5.2
    val df = Seq(("a", ts(0), 10L, 1L), ("a", ts(4), 2L, 2L),
      ("a", ts(10), 99L, 3L), // last sample: bounds the window, weight 0
      ("s", ts(5), 7L, 4L))   // single sample: no interval
      .toDF("k", "t", "v", "eid")
    val r = Windows.timeWeightedMean(df, Seq("k"), "t", "v", Seq("eid"))
      .orderBy("k").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        if (x.isNullAt(3)) None else Some(x.getDouble(3))))
    assert(r.toSeq == Seq(
      ("a", 3L, 10000L, Some((10.0 * 4000 + 2.0 * 6000) / 10000.0)),
      ("s", 1L, 0L, None)))
    // row mean would be (10+2+99)/3 = 37 — the TWA is nowhere near it
    assert(r(0)._4.get == 5.2)
  }

  test("mergeIntervals: overlap, nesting, touching, maxGap, invalid rows") {
    val df = Seq(
      ("k", 0L, 10L), ("k", 5L, 7L),   // nested inside [0,10]
      ("k", 10L, 12L),                 // touches 10 -> same island
      ("k", 20L, 25L),                 // gap of 8 -> new island at maxGap 0
      ("k", 40L, 30L),                 // invalid (start > end): dropped
      ("z", 100L, 100L))               // point interval, own key
      .toDF("key", "s", "e")
    val g0 = Windows.mergeIntervals(df, Seq("key"), "s", "e")
      .orderBy("key", "interval_start").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(g0.toSeq == Seq(("k", 0L, 12L, 3L), ("k", 20L, 25L, 1L),
      ("z", 100L, 100L, 1L)))
    // maxGap 8 bridges the 12->20 gap (20 <= 12 + 8)
    val g8 = Windows.mergeIntervals(df, Seq("key"), "s", "e", maxGap = 8L)
      .orderBy("key", "interval_start").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(g8.toSeq == Seq(("k", 0L, 25L, 4L), ("z", 100L, 100L, 1L)))
    // an early long interval swallows later short ones (running max, not lag)
    val nested = Seq(("k", 0L, 100L), ("k", 10L, 20L), ("k", 30L, 40L),
      ("k", 99L, 120L)).toDF("key", "s", "e")
    val gn = Windows.mergeIntervals(nested, Seq("key"), "s", "e")
      .collect().map(x => (x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(gn.toSeq == Seq((0L, 120L, 4L)))
  }

  test("purgedSplit: exact bin arithmetic, embargo band, walk-forward future") {
    // range [0, 999] ms, 4 folds -> width = 999 div 4 + 1 = 250
    // valFold 2: [500, 750); embargo 100 -> [400, 500) embargoed
    val ts = Seq(0L, 399L, 400L, 499L, 500L, 749L, 750L, 999L)
    val df = ts.map(t => (t, t)).toDF("id", "ms")
      .withColumn("ts", expr("timestamp_millis(ms)"))
    val r = Windows.purgedSplit(df, "ts", nFolds = 4, valFold = 2,
        embargoMs = 100L)
      .select(col("id"), col("fold"), col("role"))
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(r.toSeq == Seq(
      (0L, 0L, "train"), (399L, 1L, "train"),
      (400L, 1L, "embargo"), (499L, 1L, "embargo"),
      (500L, 2L, "val"), (749L, 2L, "val"),
      (750L, 3L, "future"), (999L, 3L, "future")))
    // valFold 0: nothing can precede the fold; everything after is future
    val r0 = Windows.purgedSplit(df, "ts", nFolds = 4, valFold = 0,
        embargoMs = 100L)
      .select(col("role")).distinct().collect().map(_.getString(0)).toSet
    assert(r0 == Set("val", "future"))
    // zero embargo: the band vanishes
    val rz = Windows.purgedSplit(df, "ts", nFolds = 4, valFold = 2,
        embargoMs = 0L)
      .where(col("role") === "embargo").count()
    assert(rz == 0L)
  }
}
