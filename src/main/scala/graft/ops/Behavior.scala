package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over an event log (user_id, ts, event_type) — the
  * funnel / cohort / transition toolkit a crawl-or-product event stream is
  * actually queried with. All three operators are exact and deterministic
  * (integer counts plus single double divisions), so every value is
  * oracle-verifiable by an external engine.
  */
object Behavior {

  /** Ordered funnel: how many users perform `steps(0)`, then STRICTLY
    * later `steps(1)`, then strictly later `steps(2)`, ... Earliest-reach
    * (greedy) semantics: the reach time of step i+1 is the earliest event
    * of that type strictly after the reach time of step i — provably
    * equivalent to "exists a strictly increasing subsequence through the
    * steps" (the greedy exchange argument), which is what chained
    * `min(ts) WHERE ts > prev` computes in SQL.
    *
    * Output: one row per step —
    *   (step_no 1-based, step, users, conversion = users_i/users_{i-1},
    *    overall = users_i/users_1) — conversion is 1.0 for step 1.
    * Steps with zero reach still appear (users = 0).
    *
    * Scale shape: events are pre-filtered to the step types, then ONE
    * groupBy(user) shuffle of slim (ts, id, step_idx) structs; the per-user
    * fold is an array HOF over the sorted list (no UDF, no iterative
    * joins — a k-step funnel via join-chaining would be k shuffles). The
    * per-user list is bounded by that user's step-typed events; cap
    * upstream if a bot user can hold millions (standard event-log
    * hygiene). The step rollup itself is k rows — constant.
    *
    * @param idCol unique event id: makes the sorted order total, so
    *              equal-timestamp events fold identically on every run
    */
  def funnelReach(df: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String,
                  steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps,
      "steps must be non-empty and distinct")
    val k = steps.size
    // step index lookup as a literal CASE — steps is a tiny constant list
    val stepIdx = steps.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (s, i)) => when(col(typeCol) === s, lit(i)).otherwise(acc)
    }
    val evs = df.where(col(typeCol).isin(steps.map(lit): _*))
      .select(col(userCol).as("_u"),
        struct(col(tsCol).cast("timestamp").as("ts"),
          col(idCol).as("id"), stepIdx.as("idx")).as("_e"))
    val emptyReach = array(Seq.fill(k)(lit(null).cast("timestamp")): _*)
    val perUser = evs.groupBy(col("_u"))
      .agg(sort_array(collect_list(col("_e"))).as("_evs"))
      .select(col("_u"), aggregate(col("_evs"), emptyReach, (acc, e) =>
        transform(acc, (t, i) => {
          // element_at is 1-based and ANSI-errors on index 0, and `or` does
          // not short-circuit — clamp the index so the i==0 arm (where the
          // looked-up value is irrelevant) can never touch index 0
          val prev = element_at(acc, greatest(i, lit(1)))
          when(t.isNotNull, t)
            .when(e.getField("idx") === i &&
              (i === 0 || (prev.isNotNull && e.getField("ts") > prev)),
              e.getField("ts"))
            .otherwise(lit(null).cast("timestamp"))
        })).as("_reach"))
    // k rows total from here on — constant-sized rollup
    val counts = perUser
      .select(posexplode(col("_reach")).as(Seq("_i", "_t")))
      .groupBy(col("_i")).agg(count(col("_t")).as("users"))
    val stepName = steps.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (s, i)) => when(col("_i") === i, lit(s)).otherwise(acc)
    }
    val w = Window.orderBy(col("step_no")) // k rows: single tiny partition by construction
    counts
      .select((col("_i") + 1).cast("long").as("step_no"), stepName.as("step"),
        col("users"))
      .withColumn("conversion",
        when(col("step_no") === 1, lit(1.0))
          .otherwise(col("users").cast("double") / lag(col("users"), 1).over(w)))
      .withColumn("overall",
        col("users").cast("double") /
          first(col("users")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
  }

  /** Weekly cohort retention: users are cohorted by the ISO week
    * (Monday-start `date_trunc week`) of their FIRST event; retention at
    * offset k counts distinct users of that cohort active in cohort_week
    * + k weeks. Output: (cohort_week, week_offset, users, retention =
    * users/users_at_offset_0). Every cohort has an offset-0 row by
    * construction, so the division is total.
    *
    * Scale shape: activity collapses to distinct (user, week) FIRST — the
    * only event-volume shuffle, and it moves two columns; the cohort table
    * (one row per user) and the rollup both ride user-sized data. The
    * cohort join is plain equi on user_id (broadcastable when the user
    * dimension is small; AQE decides).
    */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val weekly = df.select(col(userCol).as("_u"),
      date_trunc("week", col(tsCol)).as("week")).distinct()
    val cohort = weekly.groupBy(col("_u")).agg(min(col("week")).as("cohort_week"))
    val counts = weekly.join(cohort, "_u")
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("long").as("week_offset"))
      .agg(count(lit(1)).as("users")) // (user, week) is distinct already
    val base = counts.where(col("week_offset") === 0)
      .select(col("cohort_week"), col("users").as("_base"))
    counts.join(base, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("users"),
        (col("users").cast("double") / col("_base")).as("retention"))
  }

  /** First-order Markov transition matrix of event types within a user's
    * ordered stream: for each consecutive pair (prev_type -> type) by
    * (ts, id) order, the exact count and the row-stochastic probability
    * p = n / total-outgoing(prev_type). A user's first event has no
    * predecessor and contributes no pair.
    *
    * Output: (from_type, to_type, n, p).
    *
    * Scale shape: one (user-partition, ts-sort) exchange for the lag, then
    * a map-side-combined groupBy over (from, to) — the result is
    * |types|^2-bounded, so the per-from total rides a tiny self-join, not
    * a second event-sized pass.
    */
  def transitionMatrix(df: DataFrame, userCol: String, tsCol: String,
                       idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = df
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("_from", lag(col(typeCol), 1).over(w))
      .where(col("_from").isNotNull)
      .groupBy(col("_from").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("_tot"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("_tot")).as("p"))
  }

  /** Last-touch attribution: for each `convType` event, the user's most
    * recent `touchType` event at-or-before it (by (ts, id) order — the id
    * tie-break makes equal-timestamp streams fold identically on every
    * run), attributed only when the gap is within `maxGapMs`; conversions
    * with no in-window touch keep NULL touch columns (they are still rows —
    * unattributed conversions are a metric, not noise).
    *
    * Output: (event_id, user_id, conv_ms, touch_event_id, touch_ms,
    * gap_ms) — all epoch-millisecond integers, so an external engine
    * reproduces every value exactly.
    *
    * Scale shape: the textbook formulation is an inequality self-join
    * (conversions x touches per user — quadratic in a bot user's events);
    * this is instead ONE (user-partition, ts-sort) exchange over events
    * pre-filtered to the two types, with the running latest-touch carried
    * by last(..., ignoreNulls) over a ROWS frame — the same single
    * window pass sessionize takes, linear per user.
    */
  def lastTouch(df: DataFrame, userCol: String, tsCol: String,
                idCol: String, typeCol: String, touchType: String,
                convType: String, maxGapMs: Long): DataFrame = {
    require(touchType != convType, "touch and conversion types must differ")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ms = unix_millis(col(tsCol).cast("timestamp"))
    val annotated = df
      .where(col(typeCol).isin(touchType, convType))
      .select(col(idCol).as("event_id"), col(userCol).as("user_id"),
        ms.as("conv_ms"), col(typeCol).as("_ty"),
        last(when(col(typeCol) === touchType,
            struct(ms.as("ms"), col(idCol).as("id"))),
          ignoreNulls = true).over(w).as("_touch"))
    val inWindow = col("_touch").isNotNull &&
      (col("conv_ms") - col("_touch.ms")) <= maxGapMs
    annotated.where(col("_ty") === convType)
      .select(col("event_id"), col("user_id"), col("conv_ms"),
        when(inWindow, col("_touch.id")).as("touch_event_id"),
        when(inWindow, col("_touch.ms")).as("touch_ms"),
        when(inWindow, col("conv_ms") - col("_touch.ms")).as("gap_ms"))
  }

  /** Trailing-window burst detection over a keyed daily count series: a
    * (key, day) is a burst when its count exceeds `factor` times its
    * trailing `baselineDays`-day mean — compared in cross-multiplied
    * integers (`cnt * baselineDays > factor * base_cnt`), so the flag is
    * exact and engine-reproducible (no float mean). Days with an empty
    * baseline (key's first activity) burst iff cnt > 0 — a key appearing
    * from nothing IS the anomaly this exists to catch (crawler traps,
    * spam floods, event-storm hosts).
    *
    * Output: (key, day (epoch days), n, base_n, is_burst); only days with
    * activity appear (a zero-count day can't burst and would densify the
    * series to keys x days).
    *
    * Scale shape: events collapse to per-(key, day) counts FIRST (the only
    * event-volume shuffle, map-side combined); the trailing window is a
    * RANGE frame over the integer day index on the day-granular series —
    * per-key data is <= days-of-history rows, so the sort is trivial and
    * no key is hot regardless of event skew.
    */
  def burstDays(df: DataFrame, keyCol: String, tsCol: String,
                baselineDays: Int, factor: Int): DataFrame = {
    require(baselineDays > 0 && factor > 0, "baselineDays and factor must be positive")
    // SQL `div` = exact integer division (a double `/` + cast would be
    // exact too for post-epoch millis, but why carry the proof obligation)
    val day = expr(
      s"unix_millis(cast(`$tsCol` as timestamp)) div 86400000").as("day")
    val daily = df.select(col(keyCol).as("key"), day)
      .groupBy(col("key"), col("day")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("key")).orderBy(col("day"))
      .rangeBetween(-baselineDays, -1)
    daily
      .withColumn("base_n", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("is_burst",
        col("n") * baselineDays > col("base_n") * factor)
  }

  /** EXACT distinct actors per trailing `windowDays`-day window, for every
    * day present in the data — "7-day active users", the retention-report
    * staple that approx sketches usually swallow. The scale path is
    * CONTRIBUTION EXPLOSION, not a per-day self-join: events collapse to
    * distinct (id, day) pairs (one combiner aggregate), each pair fans out
    * to the `windowDays` window-end days it contributes to (bounded
    * fanout), the fanout is re-deduped to distinct (id, window-day) and
    * counted — every shuffle is distinct-pair-sized, never event-volume-
    * sized, and no day is ever joined against the raw corpus. Window days
    * with no events of their own are dropped (the report is per OBSERVED
    * day; a calendar join would re-add them if wanted).
    *
    * Returns (day, n_distinct) ordered-free; day = epoch-day integer.
    */
  def slidingDistinct(df: DataFrame, tsCol: String, idCol: String,
                      windowDays: Int): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val pairs = df.select(col(idCol).as("_id"),
        expr(s"unix_millis(cast(`$tsCol` as timestamp)) div 86400000").as("_d"))
      .distinct()
    val days = pairs.select(col("_d").as("day")).distinct()
    val contrib = pairs.select(col("_id"),
        explode(sequence(col("_d"), col("_d") + (windowDays - 1))).as("day"))
      .distinct()
    contrib.join(days, Seq("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_distinct"))
  }

  /** Log2 histogram of inter-event gaps per entity — "how long between a
    * user's consecutive events / a url's consecutive crawls?", the
    * empirical input for choosing a sessionization gap or a revisit
    * cadence. Gaps are exact millisecond integers from lag() over
    * (tsCol, tieCol) within each entity (the tie column makes equal
    * timestamps deterministic); the bucket is floor(log2(gap)) computed
    * as length(bin(gap)) - 1 — pure integer/string ops, no libm — with
    * zero gaps in a sentinel bucket -1. share = n/total is the single
    * double division.
    *
    * Scale shape: ONE window over a slim (entity, ts, tie) projection —
    * per-entity row counts bound each partition, so no key is hot —
    * then a bucket-bounded (<= 64 rows) aggregate and a 1-row total via
    * crossJoin. Returns (log2_bucket, n, share).
    */
  def gapHistogram(df: DataFrame, entityCol: String, tsCol: String,
                   tieCol: String): DataFrame = {
    val w = Window.partitionBy(col("_e")).orderBy(col("_t"), col("_tie"))
    val gaps = df.select(col(entityCol).as("_e"),
        expr(s"unix_millis(cast(`$tsCol` as timestamp))").as("_t"),
        col(tieCol).as("_tie"))
      .withColumn("_gap", col("_t") - lag(col("_t"), 1).over(w))
      .where(col("_gap").isNotNull)
    val bucket = when(col("_gap") === 0, lit(-1L))
      .otherwise((length(bin(col("_gap"))) - 1).cast("long"))
    val hist = gaps.select(bucket.as("log2_bucket"))
      .groupBy(col("log2_bucket")).agg(count(lit(1)).as("n"))
    val tot = hist.agg(sum(col("n")).as("_tot"))
    hist.crossJoin(broadcast(tot))
      .select(col("log2_bucket"), col("n"),
        (col("n").cast("double") / col("_tot").cast("double")).as("share"))
  }

  /** Directional association rules A -> B over (basket, item) rows — the
    * market-basket view of behavior ("users who trigger A also trigger B"),
    * with exact integer counts: n_a/n_b = baskets holding the item,
    * n_ab = baskets holding both, support = n_ab/N, confidence = n_ab/n_a,
    * lift = (n_ab*N)/(n_a*n_b) — every ratio a single double division of
    * integer products, so an external engine reproduces it bit-exactly.
    * Rules with n_ab < minCount are dropped (noise floor).
    *
    * Scale shape: baskets collapse to DISTINCT (basket, item) pairs first
    * (one combiner aggregate over event volume); pair counting is a
    * self-join on basket — fanout is per-basket item count squared, which
    * is bounded by the catalog size, not event volume (and a degenerate
    * basket is capped upstream by the caller if catalogs are huge). Item
    * marginals join in by item (tiny) and the basket total broadcasts via
    * crossJoin of a one-row aggregate.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
                       minCount: Long = 1L): DataFrame = {
    val baskets = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it")).distinct()
    val itemCnt = baskets.groupBy(col("_it")).agg(count(lit(1)).as("_n"))
    val tot = baskets.agg(count_distinct(col("_bk")).as("_nb"))
    val pairs = baskets.as("a").join(baskets.as("b"), "_bk")
      .where(col("a._it") =!= col("b._it"))
      .groupBy(col("a._it").as("antecedent"), col("b._it").as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    pairs
      .join(itemCnt.select(col("_it").as("antecedent"), col("_n").as("n_a")), "antecedent")
      .join(itemCnt.select(col("_it").as("consequent"), col("_n").as("n_b")), "consequent")
      .crossJoin(tot)
      .select(col("antecedent"), col("consequent"),
        col("n_a"), col("n_b"), col("n_ab"),
        (col("n_ab").cast("double") / col("_nb").cast("double")).as("support"),
        (col("n_ab").cast("double") / col("n_a").cast("double")).as("confidence"),
        ((col("n_ab") * col("_nb")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
  }

  /** Longest consecutive-day activity streak per entity — the retention
    * signal leaderboards run on. Distinct active days collapse into runs
    * via [[graft.temporal.Windows.mergeIntervals]] with maxGap = 1 (day
    * d+1 touches day d), then the longest island wins. Exact integers
    * throughout. Output: entity, n_active_days, n_streaks,
    * longest_streak, current-streak-agnostic (a reporting-time cutoff is
    * the caller's join).
    *
    * Scale shape: one combiner distinct to (entity, day) — the only pass
    * over the corpus — then the interval merge's per-entity window over
    * day-counted rows.
    */
  def streaks(df: DataFrame, entityCol: String, tsCol: String): DataFrame = {
    val days = df.select(col(entityCol).as("entity"),
      expr(s"unix_millis(cast($tsCol as timestamp)) div 86400000").as("_day"))
      .distinct()
    val runs = graft.temporal.Windows.mergeIntervals(
      days.withColumn("_e", col("_day")), Seq("entity"), "_day", "_e",
      maxGap = 1L)
    runs.groupBy(col("entity"))
      .agg(sum(col("n_merged")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("interval_end") - col("interval_start") + 1)
          .as("longest_streak"))
  }

  /** RFM quartile scoring — the classic engagement segmentation, done
    * bit-exactly: per entity, recency (whole days between its last event
    * and the corpus max-ts day — lower is fresher), frequency (event
    * count), monetary (Σ floor(value·100), integer cents); each metric
    * then bins 0..|qs| by the [[graft.ops.Stats.binByQuantiles]] rule —
    * strict `>` against the metric's exact DISCRETE quantile elements,
    * so no interpolated float boundary exists to disagree about.
    *
    * Output: entity, recency_days, frequency, monetary_cents, r_bin,
    * f_bin, m_bin. Scale shape: one combiner aggregate to the
    * entity-level table (entity-bounded from there on), three broadcast
    * threshold joins; the event corpus never windows.
    */
  def rfmScores(df: DataFrame, entityCol: String, tsCol: String,
                valueCol: String,
                qs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    val day = expr(s"unix_millis(cast($tsCol as timestamp)) div 86400000")
    val perEntity = df
      .select(col(entityCol).as("entity"), day.as("_day"),
        floor(col(valueCol) * 100).cast("long").as("_cents"))
      .groupBy(col("entity"))
      .agg(max(col("_day")).as("_last"), count(lit(1)).as("frequency"),
        sum(col("_cents")).as("monetary_cents"))
    val maxDay = perEntity.agg(max(col("_last")).as("_maxd"))
    val base = perEntity.crossJoin(broadcast(maxDay))
      .select(col("entity"), (col("_maxd") - col("_last")).as("recency_days"),
        col("frequency"), col("monetary_cents"))
    Seq("recency_days" -> "r_bin", "frequency" -> "f_bin",
      "monetary_cents" -> "m_bin")
      .foldLeft(base.withColumn("_g", lit(1))) { case (acc, (m, b)) =>
        graft.ops.Stats.binByQuantiles(acc, Seq("_g"), m, qs)
          .withColumnRenamed(s"${m}_bin", b)
      }
      .drop("_g")
  }

  /** Pairwise audience-overlap estimates between keyed user SETS by
    * MinHash signatures — "how much do these two event types / hosts /
    * cohorts share users" WITHOUT the |keys|² set-intersection joins:
    * component j of a key's signature is min over its users of the md5
    * integer of (j, user, seed); E[matching components / h] = Jaccard of
    * the user sets. Every draw is a pure md5 function, so unlike classic
    * random-permutation MinHash the whole estimate replays exactly in
    * any engine — the estimator is approximate, the COMPUTATION is not.
    *
    * Output per key pair (key_a < key_b): n_match, h, jaccard_est
    * (one division). Scale shape: the event volume collapses to
    * distinct (key, user) once, then h md5 draws fold into keys×h
    * signature cells by combiner min; the pair comparison is a
    * key-bounded signature self-join. */
  def audienceOverlap(df: DataFrame, keyCol: String, userCol: String,
                      h: Int = 64, seed: String = "ao"): DataFrame = {
    require(h >= 1 && h <= 512, "need 1 <= h <= 512")
    val pairs = df.select(col(keyCol).as("_k"), col(userCol).as("_u"))
      .distinct()
    val sig = pairs
      .withColumn("_j", explode(sequence(lit(1), lit(h))))
      .withColumn("_d", conv(substring(md5(concat_ws("",
        col("_j").cast("string"), col("_u").cast("string"), lit(seed))
        .cast("binary")), 1, 15), 16, 10).cast("long"))
      .groupBy(col("_k"), col("_j")).agg(min(col("_d")).as("_m"))
    sig.as("x")
      .join(sig.as("y"),
        col("x._j") === col("y._j") && col("x._k") < col("y._k"))
      .groupBy(col("x._k").as("key_a"), col("y._k").as("key_b"))
      .agg(sum(when(col("x._m") === col("y._m"), 1L).otherwise(0L))
        .as("n_match"))
      .withColumn("h", lit(h.toLong))
      .withColumn("jaccard_est",
        col("n_match").cast("double") / lit(h.toDouble))
  }

  /** Long-run state mix of the [[transitionMatrix]] chain by exact-
    * integer power iteration — "where do user journeys SETTLE", the
    * steady-state complement to the one-step matrix: π starts uniform at
    * fixed-point `scale`, and each round
    *
    *   π'_j = Σ_i (π_i · n_ij) div tot_i
    *
    * (the [[graft.ops.Graph.pageRankInt]] integer-division schedule over
    * the |types|²-bounded count table — deterministic, engine-replayable
    * by unrolled CTEs; the div drops ≤ |types| units of mass per state
    * per round, documented bias in exchange for exactness). States with
    * no outgoing pairs keep their mass (self-loop semantics, so the
    * total never drains through a sink).
    *
    * Output per state: state, pi_int (fixed-point), after `iters`
    * rounds. Scale shape: the event volume collapses to the transition
    * counts ONCE; every iteration is a |types|²-row join. */
  def stationaryDistribution(df: DataFrame, userCol: String, tsCol: String,
                             idCol: String, typeCol: String,
                             iters: Int = 8,
                             scale: Long = 1000000L): DataFrame = {
    require(iters >= 0 && scale >= 1, "need iters >= 0 and scale >= 1")
    val (m, _, local) = LocalDispatch.materialize(transitionMatrix(df, userCol, tsCol, idCol, typeCol)
      .select(col("from_type"), col("to_type"), col("n")), LocalDispatch.GraphKey)
    val tots = m.groupBy(col("from_type")).agg(sum(col("n")).as("_tot"))
    // small matrix: the same integer power iteration on the driver ([[LocalDispatch]])
    if (local.nonEmpty) {
      val spark = df.sparkSession
      import spark.implicits._
      val es = local.get.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val tot = new java.util.HashMap[String, java.lang.Long]()
      es.foreach { case (f, _, n) => tot.merge(f, n, (a, b) => a + b) }
      val sts = (es.map(_._1) ++ es.map(_._2)).distinct
      val piM = new java.util.HashMap[String, java.lang.Long]()
      sts.foreach(s => piM.put(s, scale))
      for (_ <- 0 until iters) {
        val in = new java.util.HashMap[String, java.lang.Long]()
        es.foreach { case (f, t, n) =>
          in.merge(t, piM.get(f).longValue() * n / tot.get(f).longValue(),
            (a, b) => a + b)
        }
        val next = new java.util.HashMap[String, java.lang.Long]()
        sts.foreach { s =>
          val moved = in.get(s)
          val keep = if (tot.containsKey(s)) 0L else piM.get(s).longValue()
          next.put(s, (if (moved eq null) 0L else moved.longValue()) + keep)
        }
        piM.clear(); piM.putAll(next)
      }
      return sts.map(s => (s, piM.get(s).longValue())).toSeq.toDF("state", "pi_int")
    }
    val states = m.select(col("from_type").as("state"))
      .unionByName(m.select(col("to_type").as("state"))).distinct()
      .localCheckpoint()
    var pi = states.withColumn("pi_int", lit(scale))
    for (_ <- 0 until iters) {
      val moved = m
        .join(pi.select(col("state").as("from_type"), col("pi_int")),
          Seq("from_type"))
        .join(tots, Seq("from_type"))
        .groupBy(col("to_type").as("state"))
        .agg(sum(expr("pi_int * n div _tot")).as("_in"))
      // states with no outgoing pairs keep their mass (self-loop)
      val kept = pi.join(tots.select(col("from_type").as("state")),
          Seq("state"), "left_anti")
        .select(col("state"), col("pi_int").as("_keep"))
      pi = states
        .join(moved, Seq("state"), "left")
        .join(kept, Seq("state"), "left")
        .select(col("state"),
          (coalesce(col("_in"), lit(0L)) +
            coalesce(col("_keep"), lit(0L))).as("pi_int"))
        .localCheckpoint()
    }
    pi
  }

  /** Deterministic token-bucket simulation over a keyed event stream —
    * the crawl-politeness / rate-limit audit ("which fetches would a
    * budget of `capacity` tokens refilled at `refillPerSec` have
    * rejected"): per key in (ts, tie) order, the bucket level refills by
    * `refillPerSec · gap_seconds` (integer), caps at `capacity`, and an
    * event is ACCEPTED iff its `cost` fits, draining the bucket; rejects
    * drain nothing. The recursion is a per-key LEFT FOLD over collected
    * (ts, cost) arrays (the [[graft.temporal.Windows.ewmaHalf]] vehicle —
    * level depends on which PRIOR events were accepted, so no prefix-sum
    * identity exists), all arithmetic int64; a recursive-CTE oracle
    * replays it exactly. Bounded-group contract as ewmaHalf.
    *
    * The first event of a key sees a FULL bucket. Output: keys…, ts,
    * tie…, cost, level_before, accepted, level_after. */
  def tokenBucket(df: DataFrame, keys: Seq[String], tsCol: String,
                  costCol: String, capacity: Long, refillPerSec: Long,
                  tieBreak: Seq[String] = Nil): DataFrame = {
    require(capacity >= 1 && refillPerSec >= 0,
      "need capacity >= 1 and refillPerSec >= 0")
    val seqFields = (unix_millis(col(tsCol).cast("timestamp")).as("ms") +:
      tieBreak.map(c => col(c).as(c))) :+ col(costCol).cast("long").as("c")
    // fold state rides a running array of structs (prev_ms, level_after);
    // each step refills from the previous element then drains on accept
    val fold = s"""aggregate(_seq,
      cast(array() as array<struct<ms: bigint, lvl: bigint>>),
      (acc, e) -> acc || array(named_struct('ms', e.ms, 'lvl',
        if(size(acc) = 0,
          if(e.c <= ${capacity}L, ${capacity}L - e.c, ${capacity}L),
          least(${capacity}L, element_at(acc, -1).lvl +
            $refillPerSec * ((e.ms - element_at(acc, -1).ms) div 1000)) -
          if(e.c <= least(${capacity}L, element_at(acc, -1).lvl +
            $refillPerSec * ((e.ms - element_at(acc, -1).ms) div 1000)),
            e.c, 0L)))))"""
    val folded = df
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(seqFields: _*))).as("_seq"))
      .withColumn("_lv", expr(fold))
    folded
      .select(keys.map(col) :+ col("_seq") :+ col("_lv") :+
        posexplode(col("_seq")).as(Seq("_i", "_e")): _*)
      .withColumn("_before", expr(
        s"""if(_i = 0, ${capacity}L,
           |  least(${capacity}L, element_at(_lv, _i).lvl +
           |    $refillPerSec *
           |    ((_e.ms - element_at(_lv, _i).ms) div 1000)))""".stripMargin))
      .select(keys.map(col) ++
        (col("_e.ms").as("ts_ms") +: tieBreak.map(c =>
          col(s"_e.$c").as(c))) :+ col("_e.c").as("cost") :+
        col("_before").as("level_before") :+
        (col("_e.c") <= col("_before")).as("accepted") :+
        element_at(col("_lv"), col("_i") + 1).getField("lvl")
          .as("level_after"): _*)
  }

  /** Entry/exit/bounce analysis per page over gap-sessionized visits —
    * the classic web-analytics rollup: a session's ENTRY page is its
    * (ts, id)-first event's page, EXIT its last, and a BOUNCE is a
    * single-event session (entry == exit == the bounce page). Sessions
    * come from [[graft.temporal.Windows.sessionize]]'s gap rule; the
    * per-session reduction is one min/max-of-struct aggregate (no second
    * window), and the per-page rollup divides exact counts by the exact
    * session total once per rate.
    *
    * Output per page: n_entries, n_exits, n_bounces, n_sessions (global
    * total on every row for context), entry_rate, exit_rate,
    * bounce_rate (of this page's entries; null when 0). Scale shape:
    * one (user)-window sessionization pass + one session-level combiner
    * aggregate + one page-level aggregate; the session total rides a
    * broadcast crossJoin.
    */
  def entryExitPages(df: DataFrame, userCol: String, tsCol: String,
                     idCol: String, pageCol: String,
                     gapSeconds: Long): DataFrame = {
    val sess = graft.temporal.Windows.sessionize(
      df.select(col(userCol).as("user"), col(tsCol).as("_ts"),
        col(idCol).as("_id"), col(pageCol).as("_pg")),
      Seq("user"), "_ts", gapSeconds)
    val perSession = sess.groupBy(col("user"), col("session_no"))
      .agg(min(struct(col("_ts"), col("_id"), col("_pg"))).as("_first"),
        max(struct(col("_ts"), col("_id"), col("_pg"))).as("_last"),
        count(lit(1)).as("_n"))
      .select(col("_first._pg").as("entry_page"),
        col("_last._pg").as("exit_page"), col("_n"))
      // session-bounded; eager leaf so total/entries/exits don't each
      // re-run the sessionization window pass
      .localCheckpoint()
    val total = perSession.agg(count(lit(1)).as("n_sessions"))
    val entries = perSession.groupBy(col("entry_page").as("page"))
      .agg(count(lit(1)).as("n_entries"),
        sum(when(col("_n") === 1L, 1L).otherwise(0L)).as("n_bounces"))
    val exits = perSession.groupBy(col("exit_page").as("page"))
      .agg(count(lit(1)).as("n_exits"))
    entries.join(exits, Seq("page"), "full_outer")
      .select(col("page"), coalesce(col("n_entries"), lit(0L)).as("n_entries"),
        coalesce(col("n_exits"), lit(0L)).as("n_exits"),
        coalesce(col("n_bounces"), lit(0L)).as("n_bounces"))
      .crossJoin(broadcast(total))
      .withColumn("entry_rate",
        col("n_entries").cast("double") / col("n_sessions").cast("double"))
      .withColumn("exit_rate",
        col("n_exits").cast("double") / col("n_sessions").cast("double"))
      .withColumn("bounce_rate", when(col("n_entries") > 0,
        col("n_bounces").cast("double") / col("n_entries").cast("double")))
  }

  /** Multi-touch conversion attribution in exact integer micro-units —
    * [[lastTouch]]'s generalization: each conversion's `valueMicro` is
    * split over ALL the touches on the path since the user's previous
    * conversion (inclusive journey), under
    *
    *  - `linear`:   base `v div n` each, the `v mod n` remainder going
    *                one micro apiece to the EARLIEST touches;
    *  - `position`: U-shaped 40/20/40 — first and last touch each get
    *                `2v div 5`, the middles split the exact leftover
    *                (`v − 2·(2v div 5)`) by the same div/remainder rule;
    *                journeys of 1-2 touches fall back to the linear rule.
    *
    * All credit is div/mod integer arithmetic, so per-conversion credit
    * sums to EXACTLY `valueMicro` and any downstream per-channel rollup
    * is order-free — no float credit ever exists to round.
    *
    * Scale shape: the textbook conversions×touches inequality join is
    * quadratic on bot users; this is two per-user window passes (one
    * (user, ts) sort to stamp each touch with its next conversion via a
    * FOLLOWING-frame `first(…, ignoreNulls)`, one (user, conv) window for
    * journey size/position) — linear per user, no self-join.
    *
    * Output per credited touch: user, touch_event_id, channel,
    * conv_event_id, n_touches, position, credit_micro. Touches with no
    * later conversion are dropped (they converted nothing).
    */
  def attribution(df: DataFrame, userCol: String, tsCol: String,
                  idCol: String, typeCol: String, touchTypes: Seq[String],
                  convType: String, valueMicro: Long,
                  model: String = "linear"): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      "touch types must be non-empty and distinct from the conversion type")
    require(model == "linear" || model == "position", s"unknown model $model")
    require(valueMicro > 0, "valueMicro must be positive")
    val isConv = col("_ty") === convType
    // DESC running frame: "nearest conversion at-or-after this row" as an
    // O(n) growing-frame last(), not an UNBOUNDED FOLLOWING first() that
    // Spark re-scans per row (quadratic on a bot user's partition)
    val wNext = Window.partitionBy(col("user"))
      .orderBy(col("_ms").desc, col("_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stamped = df
      .where(col(typeCol).isin(touchTypes :+ convType: _*))
      .select(col(userCol).as("user"),
        unix_millis(col(tsCol).cast("timestamp")).as("_ms"),
        col(idCol).as("_id"), col(typeCol).as("_ty"))
      .withColumn("conv_event_id",
        last(when(isConv, col("_id")), ignoreNulls = true).over(wNext))
      .where(!isConv && col("conv_event_id").isNotNull)
    val wJourney = Window.partitionBy(col("user"), col("conv_event_id"))
    val wPos = wJourney.orderBy(col("_ms"), col("_id"))
    val sized = stamped
      .withColumn("n_touches", count(lit(1)).over(wJourney))
      .withColumn("position", row_number().over(wPos))
    val v = lit(valueMicro)
    val n = col("n_touches")
    val pos = col("position")
    val linBase = expr(s"$valueMicro div n_touches")
    val linear = linBase +
      when(pos <= v % n, 1L).otherwise(0L)
    val f = lit(valueMicro * 2 / 5) // n>=3 first/last share, exact div
    val pool = v - f * 2
    val mid = n - 2
    val credit =
      if (model == "linear") linear
      else when(n <= 2, linear)
        .when(pos === 1 || pos === n, f)
        .otherwise(expr(s"($valueMicro - 2 * ($valueMicro * 2 div 5)) " +
          "div (n_touches - 2)") +
          when(pos - 1 <= pool % mid, 1L).otherwise(0L))
    sized.select(col("user"), col("_id").as("touch_event_id"),
      col("_ty").as("channel"), col("conv_event_id"), col("n_touches"),
      col("position").cast("long").as("position"),
      credit.as("credit_micro"))
  }
}
