package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Windowed feature engineering over crawl revisits (SURVEY.md §2.6 W1-W5).
  * Every window orders by the event timestamp with frames ending at the
  * current row — the zero-temporal-leakage rule: no frame ever contains a
  * row with a later timestamp. All five operators share one partitioning
  * (key), so a hash repartition on key, sorted within partitions by
  * (key, ts), serves them all with a single exchange (see FeatureJob).
  */
object Windows {

  private def byKey(keys: Seq[String], ts: String): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(col(ts).asc)

  /** Epoch seconds of a timestamp-ish column; works for TIMESTAMP,
    * TIMESTAMP_NTZ (via the session-tz cast) and numeric columns.
    */
  private[temporal] def epochSeconds(c: Column): Column = c.cast(TimestampType).cast(LongType)

  /** W1: previous/next snapshot values and revisit deltas. `lead` looks at
    * FUTURE rows — legitimate only for training-label construction, so lead
    * columns are suffixed `_future_` to make the leakage explicit and
    * auditable (they are excluded by the leakage tests' feature allowlist).
    */
  def lagLead(df: DataFrame, keys: Seq[String], ts: String, cols: Seq[String], n: Int = 1): DataFrame = {
    val w = byKey(keys, ts)
    val withLags = cols.foldLeft(df)((d, c) => d.withColumn(s"${c}_lag$n", lag(col(c), n).over(w)))
    cols.foldLeft(withLags)((d, c) => d.withColumn(s"${c}_future_lead$n", lead(col(c), n).over(w)))
  }

  /** Revisit delta of a numeric column vs the previous crawl. */
  def delta(df: DataFrame, keys: Seq[String], ts: String, c: String): DataFrame =
    df.withColumn(s"${c}_delta", col(c) - lag(col(c), 1).over(byKey(keys, ts)))

  /** W2: backfill/forward-fill — carry the last non-null value forward. */
  def backfill(df: DataFrame, keys: Seq[String], ts: String, cols: Seq[String]): DataFrame = {
    val w = byKey(keys, ts).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df)((d, c) =>
      d.withColumn(s"${c}_filled", last(col(c), ignoreNulls = true).over(w)))
  }

  /** W3a: rolling stats over the trailing k revisits (current included). */
  def rollingByRows(df: DataFrame, keys: Seq[String], ts: String, c: String, k: Int): DataFrame = {
    val w = byKey(keys, ts).rowsBetween(-(k - 1).toLong, Window.currentRow)
    df.withColumn(s"${c}_roll${k}_mean", avg(col(c)).over(w))
      .withColumn(s"${c}_roll${k}_min", min(col(c)).over(w))
      .withColumn(s"${c}_roll${k}_max", max(col(c)).over(w))
  }

  /** W3b: rolling stats over a trailing time range (seconds, inclusive). */
  def rollingByRange(df: DataFrame, keys: Seq[String], ts: String, c: String, seconds: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(epochSeconds(col(ts)))
      .rangeBetween(-seconds, 0)
    df.withColumn(s"${c}_roll${seconds}s_mean", avg(col(c)).over(w))
      .withColumn(s"${c}_roll${seconds}s_count", count(col(c)).over(w))
  }

  /** W4: gap-based sessionization of crawl revisits — a new session starts
    * when the gap to the previous revisit exceeds `gapSeconds`. Adds one
    * new column per `lagged` (name -> column): that column's value at the
    * key's previous revisit, then `session_no` (0-based per key) and a
    * deterministic `session_id`. The previous timestamp and every lagged
    * column come from ONE window select; the running session count is the
    * second and last window over the same (keys, ts) spec.
    */
  def sessionize(df: DataFrame, keys: Seq[String], ts: String, gapSeconds: Long,
                 lagged: Seq[(String, Column)] = Nil): DataFrame = {
    val w = byKey(keys, ts)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = epochSeconds(col(ts)) - col("_prev_ts")
    df.select(col("*") +: lag(epochSeconds(col(ts)), 1).over(w).as("_prev_ts") +:
        lagged.map { case (name, c) => lag(c, 1).over(w).as(name) }: _*)
      .withColumn("_new_session", when(gap.isNull || gap > gapSeconds, 1).otherwise(0))
      .withColumn("session_no", sum(col("_new_session")).over(cum) - 1)
      // exact composite id: no per-row crypto hash in the hot path; callers
      // wanting a fixed-width key can md5 this column themselves
      .withColumn("session_id", concat_ws("#", keys.map(col) :+ col("session_no"): _*))
      .drop("_prev_ts", "_new_session")
  }

  /** Session-level rollup: bounds, length, and revisit count per session. */
  def sessionStats(sessionized: DataFrame, keys: Seq[String], ts: String): DataFrame =
    sessionized.groupBy((keys.map(col) :+ col("session_no") :+ col("session_id")): _*)
      .agg(
        min(col(ts)).as("session_start"),
        max(col(ts)).as("session_end"),
        count(lit(1)).as("session_revisits"),
        (epochSeconds(max(col(ts))) - epochSeconds(min(col(ts)))).as("session_duration_s"))

  /** W5: newest snapshot per key (dedup to the latest crawl). */
  def latestSnapshot(df: DataFrame, keys: Seq[String], ts: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ts).desc)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** Revisit CHANGE DETECTION: per key (url), how different is each crawl
    * snapshot's text from the PREVIOUS snapshot? Adds
    *   - `hamming`  — simhash64 bit distance to the previous snapshot
    *                  (null for the key's first snapshot),
    *   - `changed`  — hamming > maxHamming (null for the first snapshot).
    * A crawler uses this to skip feature re-extraction for unchanged
    * revisits and to compute per-url churn rates; at simhash's usual
    * operating point hamming <= 3 means near-identical text.
    *
    * Leakage shape: the only cross-row read is lag(1) over (key, ts asc) —
    * strictly earlier timestamps, so the zero-temporal-leakage rule of this
    * module holds by construction. Cost: the same single (key-partition,
    * ts-sort) exchange every other window op here uses; the simhash is a
    * per-row expression computed once.
    */
  def revisitDiff(df: DataFrame, keys: Seq[String], ts: String, textCol: String,
                  maxHamming: Int = 3): DataFrame = {
    val w = byKey(keys, ts)
    val sim = graft.functions.simhash64_md5(col(textCol))
    df.withColumn("_sim", sim)
      .withColumn("_prev_sim", lag(col("_sim"), 1).over(w))
      .withColumn("hamming",
        bit_count(col("_sim").bitwiseXOR(col("_prev_sim"))).cast("long"))
      .withColumn("changed", col("hamming") > maxHamming)
      .drop("_sim", "_prev_sim")
  }

  /** EXACT-INTEGER exponentially-decayed rolling sum — the recency-weighted
    * revisit-intensity feature (EWMA family) of a crawl feature store, in
    * arithmetic an external engine reproduces bit-for-bit. Classic EWMA is
    * a float recurrence whose value depends on summation order; this
    * operator fixes base lambda = 1/2 PER REVISIT STEP, truncates the tail
    * at `k` steps (weights below 2^-k contribute < 1 fixed-point unit
    * anyway), and evaluates
    *
    *   decayed_n = sum_{j=0..k-1} fix(v_{n-j}) * 2^(k-1-j)
    *
    * where fix(v) = floor(v * scale) is int64 fixed-point (floor of one
    * IEEE double multiply — identical in any IEEE engine). The result is in
    * units of 1/(scale * 2^(k-1)): the current revisit carries weight 1,
    * one revisit back 1/2, and so on. All adds/multiplies are int64 —
    * partition- and fold-order independent.
    *
    * Leakage shape: the only cross-row reads are lag(j), j >= 0, over
    * (keys, ts asc, tieBreak asc) — strictly no future rows. `tieBreak`
    * must make the order total when ts can repeat within a key, or the
    * lag values (hence the feature) are nondeterministic.
    *
    * Overflow headroom: |decayed| <= 2^k * scale * max|v|; with k=8,
    * scale=100 that is safe for |v| up to ~3.6e14.
    *
    * Cost: k lag terms over ONE window — a single (key-partition, ts-sort)
    * exchange shared with every other operator in this module, then
    * per-row integer arithmetic, fully codegen'd.
    */
  def decayedSum(df: DataFrame, keys: Seq[String], ts: String, valueCol: String,
                 k: Int = 8, scale: Long = 100L,
                 tieBreak: Seq[String] = Nil): DataFrame = {
    require(k >= 1 && k <= 62, "need 1 <= k <= 62")
    require(scale >= 1, "scale must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(ts).asc +: tieBreak.map(col(_).asc)): _*)
    val fixed = floor(col(valueCol) * scale).cast("long")
    val terms = (0 until k).map { j =>
      val v = if (j == 0) fixed else coalesce(lag(fixed, j).over(w), lit(0L))
      v * lit(1L << (k - 1 - j))
    }
    df.withColumn(s"${valueCol}_decayed", terms.reduce(_ + _))
  }

  /** Exact α=1/2 exponential smoothing per key — the INFINITE-memory
    * companion to [[decayedSum]]'s k-term truncation: s₁ = v₁,
    * s_t = (s_{t−1} + v_t) / 2, computed as a deterministic LEFT FOLD over
    * the (ts, tie)-sorted per-key sequence with a single `aggregate` HOF.
    * IEEE add and divide-by-2 are exactly-rounded deterministic ops, so
    * the fold is bit-replayable by any engine that runs the same
    * recursion in the same order (external SQL: a recursive CTE over
    * row_number) — and for integer inputs short of 2⁵³ the first ~30
    * steps are exact dyadic rationals, no rounding at all.
    *
    * Bounded-group contract (the [[graft.ops.Curation.packSequences]]
    * caveat): each key's series is collected to one array, so a key's
    * history must fit an executor — smooth per (entity, window), not per
    * all-time hot entity. (ts, tieBreak) must be unique per key.
    *
    * Output: keys…, ts, tieBreak…, value (double), ewma (double). Scale
    * shape: one combiner-free groupBy carrying (ts, v) pairs + a linear
    * per-key fold; no window, no self-join.
    */
  def ewmaHalf(df: DataFrame, keys: Seq[String], ts: String,
               valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val seqFields = (col(ts).as("t") +:
      tieBreak.map(c => col(c).as(c))) :+
      col(valueCol).cast("double").as("v")
    val folded = df
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(seqFields: _*))).as("_seq"))
      .withColumn("_sm", expr(
        "aggregate(_seq, cast(array() as array<double>), (acc, e) -> " +
          "acc || array(if(size(acc) = 0, e.v, " +
          "(element_at(acc, -1) + e.v) / 2)))"))
    folded
      .select(keys.map(col) :+ col("_sm") :+
        posexplode(col("_seq")).as(Seq("_i", "_e")): _*)
      .select(keys.map(col) ++
        (col("_e.t").as(ts) +: tieBreak.map(c => col(s"_e.$c").as(c))) :+
        col("_e.v").as("value") :+
        element_at(col("_sm"), col("_i") + 1).as("ewma"): _*)
  }

  /** Forward-looking LABEL construction: seconds until the key's next
    * `targetType` event strictly after each row ("time to next purchase"
    * / churn labels). This op reads the FUTURE by definition — it builds
    * training LABELS, never features; keep its output out of feature
    * columns (the leakage audit's allowlist treats `label_` columns as
    * targets). Computed as the [[graft.ops.Behavior.attribution]] DESC
    * running-min trick — O(n) per key, no self-join: scanning latest→
    * earliest, the running min of target timestamps seen so far (current
    * row EXCLUDED via a 1-row-shifted frame) is exactly the next target
    * at-or-after strictly later rows.
    *
    * Output: input + label_next_target_s (null when no later target).
    * (ts, tieBreak) must totally order each key. */
  def timeToEvent(df: DataFrame, keys: Seq[String], tsCol: String,
                  typeCol: String, targetType: String,
                  tieBreak: Seq[String] = Nil): DataFrame = {
    val sec = col(tsCol).cast("timestamp").cast("long")
    val wDesc = Window.partitionBy(keys.map(col): _*)
      .orderBy((sec.desc +: tieBreak.map(col(_).desc)): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val nextTarget = min(when(col(typeCol) === targetType, sec)).over(wDesc)
    df.withColumn("label_next_target_s",
      when(nextTarget.isNotNull, nextTarget - sec))
  }

  /** Adaptive revisit scheduling from change history — the crawl-policy
    * rule "back off exponentially while a page stays unchanged": at each
    * snapshot, `unchanged_run` counts the consecutive unchanged snapshots
    * ENDING at that row (0 whenever the row itself changed — computed as
    * rn − running-max(rn where changed), one window, no recursion), and
    * the next fetch is scheduled `min(maxS, baseS · 2^min(run, 30))`
    * seconds out — pure integer shift arithmetic, replayable anywhere.
    * Feed it [[revisitDiff]]'s changed flag; the latest row per key IS
    * the live schedule ([[latestSnapshot]] downstream).
    *
    * Output: input + unchanged_run + next_interval_s. Scale shape: one
    * per-key window over the snapshot table. (ts, tieBreak) must
    * totally order each key.
    */
  def revisitSchedule(df: DataFrame, keys: Seq[String], ts: String,
                      changedCol: String, baseS: Long, maxS: Long,
                      tieBreak: Seq[String] = Nil): DataFrame = {
    require(baseS >= 1 && maxS >= baseS, "need 1 <= baseS <= maxS")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(ts) +: tieBreak.map(col)).map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("_rn", row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy((col(ts) +: tieBreak.map(col)).map(_.asc): _*)))
      .withColumn("_crn",
        max(when(col(changedCol), col("_rn"))).over(w))
      .withColumn("unchanged_run",
        (col("_rn") - coalesce(col("_crn"), lit(0))).cast("long"))
      .withColumn("next_interval_s", least(lit(maxS),
        expr(s"${baseS}L * shiftleft(1L, " +
          "cast(least(unchanged_run, 30) as int))")))
      .drop("_rn", "_crn")
  }

  /** Run-length encoding of a keyed state timeline (gaps-and-islands):
    * consecutive rows with the SAME state (null-safe) collapse into one
    * run with its span and size — crawl-status timelines, availability
    * stretches, label stability. The island id is the classic running
    * count of change points (`lag` + prefix sum), so the whole op is one
    * per-key window pass + one run-sized aggregate; no self-join.
    *
    * (ts, tieBreak) must be a total order per key. Output: keys…, run_id
    * (1-based per key), state, ts_start, ts_end, n_rows. */
  def stateRuns(df: DataFrame, keys: Seq[String], ts: String,
                stateCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val ord = (col(ts).asc +: tieBreak.map(col(_).asc))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    // lag over a STRUCT is null only at the partition's first row, so a
    // leading null state still opens run 1 (bare lag(state) couldn't tell
    // "first row" from "previous state was null")
    val changed = when(lag(struct(col(stateCol)), 1).over(w).isNull, 1L)
      .when(lag(col(stateCol), 1).over(w) <=> col(stateCol), 0L)
      .otherwise(1L)
    df.withColumn("_chg", changed)
      .withColumn("run_id", sum(col("_chg")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(keys.map(col) :+ col("run_id"): _*)
      .agg(first(col(stateCol)).as("state"), min(col(ts)).as("ts_start"),
        max(col(ts)).as("ts_end"), count(lit(1)).as("n_rows"))
  }

  /** SCD2-style validity intervals: each snapshot is valid from its own ts
    * until (exclusive) the key's next snapshot; the newest snapshot has
    * `valid_to` null (open interval). Materializing intervals once turns
    * every later point-in-time lookup into a plain range predicate
    * (`valid_from <= t AND (valid_to IS NULL OR t < valid_to)`) — the
    * storage-side dual of the as-of join, and the natural layout for an
    * Iceberg history table. `lead` here is NOT feature leakage: valid_to
    * describes the interval's end, it is never a feature value read from
    * the future (the leakage tests' allowlist excludes `_future_`/interval
    * columns).
    */
  def snapshotIntervals(df: DataFrame, keys: Seq[String], ts: String): DataFrame = {
    val w = byKey(keys, ts)
    df.withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Resample a step series onto a FIXED time grid with forward fill:
    * one row per key per `stepMs` tick between the key's first and last
    * sample, carrying the latest sample value at-or-before the tick —
    * the "make irregular state ML-ready" transform (equally-spaced
    * inputs for sequence models), with the as-of discipline built in (a
    * tick never reads a later sample). Ticks are epoch-aligned
    * (multiples of stepMs), so two keys' grids line up. Equal-timestamp
    * samples resolve to the LARGEST value (deterministic tie rule, same
    * max-struct convention as the as-of join).
    *
    * Scale shape: the union-tag forward-fill of [[graft.temporal.AsOfJoin.asOfUnion]]
    * — ONE shuffle on key, one window; the grid explode is
    * span/stepMs rows per key (caller picks stepMs to bound it).
    *
    * Output: keys..., grid_ms, value (long).
    */
  def resampleGrid(df: DataFrame, keys: Seq[String], ts: String,
                   valCol: String, stepMs: Long): DataFrame = {
    require(stepMs >= 1, "stepMs must be >= 1")
    val ms = expr(s"unix_millis(cast($ts as timestamp))")
    val samples = df.select(keys.map(col) ++ Seq(ms.as("_ms"),
      col(valCol).cast("long").as("_v")): _*)
    val grid = samples.groupBy(keys.map(col): _*)
      .agg(min(col("_ms")).as("_lo"), max(col("_ms")).as("_hi"))
      // first epoch-aligned tick at or after _lo; none when span < 1 tick
      .withColumn("_start",
        (col("_lo") + lit(stepMs - 1) - pmod(col("_lo") + lit(stepMs - 1),
          lit(stepMs))))
      .where(col("_start") <= col("_hi"))
      .select(keys.map(col) :+ explode(
        sequence(col("_start"), col("_hi"), lit(stepMs))).as("_ms"): _*)
    val tagged = samples.withColumn("_tag", lit(0))
      .unionByName(grid.withColumn("_v", lit(null).cast("long"))
        .withColumn("_tag", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ms").asc, col("_tag").asc, col("_v").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    tagged
      .withColumn("value",
        last(when(col("_tag") === 0, col("_v")), ignoreNulls = true).over(w))
      .where(col("_tag") === 1)
      .select(keys.map(col) ++ Seq(col("_ms").as("grid_ms"), col("value")): _*)
  }

  /** [[resampleGrid]] with LINEAR interpolation instead of forward fill:
    * each tick gets vb + (vf − vb)·(t − tb)/(tf − tb) between its
    * neighboring samples (fixed-order double chain, engine-
    * reproducible); a tick exactly on a sample returns that sample, and
    * ticks before the first or after the last sample are NULL (no
    * extrapolation). NOT leakage-safe (a tick reads the next sample) —
    * for signal reconstruction and visualization, not features; the
    * forward-fill variant is the as-of-safe one.
    *
    * Same union-tag single-sort shape, with a backward fill for the
    * following sample bound to the same window pass.
    */
  def resampleGridLerp(df: DataFrame, keys: Seq[String], ts: String,
                       valCol: String, stepMs: Long): DataFrame = {
    require(stepMs >= 1, "stepMs must be >= 1")
    val ms = expr(s"unix_millis(cast($ts as timestamp))")
    val samples = df.select(keys.map(col) ++ Seq(ms.as("_ms"),
      col(valCol).cast("long").as("_v")): _*)
    val grid = samples.groupBy(keys.map(col): _*)
      .agg(min(col("_ms")).as("_lo"), max(col("_ms")).as("_hi"))
      .withColumn("_start",
        (col("_lo") + lit(stepMs - 1) - pmod(col("_lo") + lit(stepMs - 1),
          lit(stepMs))))
      .where(col("_start") <= col("_hi"))
      .select(keys.map(col) :+ explode(
        sequence(col("_start"), col("_hi"), lit(stepMs))).as("_ms"): _*)
    val tagged = samples.withColumn("_tag", lit(0))
      .unionByName(grid.withColumn("_v", lit(null).cast("long"))
        .withColumn("_tag", lit(1)))
    // back: samples (tag 0) sort BEFORE a same-ms tick — inclusive as-of.
    // fwd: ticks sort BEFORE same-ms samples (tag DESC), so a sample ON
    // the tick is still visible to the following-frame fill.
    val wb = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ms").asc, col("_tag").asc, col("_v").asc_nulls_first)
    val wf = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ms").asc, col("_tag").desc, col("_v").asc_nulls_first)
    val sampleRow = when(col("_tag") === 0,
      struct(col("_ms").as("t"), col("_v").as("v")))
    val filled = tagged
      .withColumn("_back", last(sampleRow, ignoreNulls = true)
        .over(wb.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_fwd", first(sampleRow, ignoreNulls = true)
        .over(wf.rowsBetween(0, Window.unboundedFollowing)))
    val tb = col("_back").getField("t"); val vb = col("_back").getField("v")
    val tf = col("_fwd").getField("t"); val vf = col("_fwd").getField("v")
    filled.where(col("_tag") === 1)
      .withColumn("value",
        when(col("_back").isNull || col("_fwd").isNull, lit(null))
          .when(tf === tb, vb.cast("double"))
          .otherwise(vb.cast("double") +
            (vf - vb).cast("double") * (col("_ms") - tb).cast("double") /
              (tf - tb).cast("double")))
      .select(keys.map(col) ++ Seq(col("_ms").as("grid_ms"), col("value")): _*)
  }

  /** Time-weighted mean of a step series per key: each sample holds its
    * INTEGER value from its ts until the next sample, so
    *
    *   twa = Σ v_i · (t_{i+1} − t_i) / (t_n − t_1)
    *
    * over epoch-millisecond gaps — the correct average for
    * irregularly-sampled state (price, queue depth, config value), where
    * the row mean over-weights chatty periods. Exact bigint numerator
    * (value × ms), ONE double division; the last sample bounds the
    * window and contributes no weight. Keys with fewer than 2 samples
    * yield NULL twa (no interval to average over). `tieBreak` columns
    * make equal timestamps deterministic.
    *
    * Output: keys..., n, span_ms, twa. One per-key window over a slim
    * projection + one combiner aggregate.
    */
  def timeWeightedMean(df: DataFrame, keys: Seq[String], ts: String,
                       valCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val order = Window.partitionBy(keys.map(col): _*)
      .orderBy((col("_ms") +: tieBreak.map(col)).map(_.asc): _*)
    val ms = expr(s"unix_millis(cast($ts as timestamp))")
    val slim = df.select(keys.map(col) ++ Seq(ms.as("_ms"),
      col(valCol).cast("long").as("_v")) ++ tieBreak.map(col): _*)
    val withNext = slim
      .withColumn("_next", lead(col("_ms"), 1).over(order))
    withNext.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        (max(col("_ms")) - min(col("_ms"))).as("span_ms"),
        sum(when(col("_next").isNotNull,
          col("_v") * (col("_next") - col("_ms"))).otherwise(0L)).as("_num"))
      .withColumn("twa",
        when(col("span_ms") > 0,
          col("_num").cast("double") / col("span_ms").cast("double")))
      .drop("_num")
  }

  /** Coalesce overlapping / adjacent CLOSED long intervals per key (gaps
    * and islands): rows whose intervals touch — or sit within `maxGap` of
    * each other — merge into one island. The canonical "stitch raw
    * validity rows into outage windows / session spans" pass.
    *
    * Island rule: per key ordered by (start, end), a row OPENS a new
    * island iff start > maxGap + max(end of all earlier rows). The
    * running max makes nesting safe — an interval fully inside an earlier
    * one never reopens. Pure integer window arithmetic, replayable by any
    * SQL engine with the same ORDER BY.
    *
    * Output: keys..., interval_start, interval_end, n_merged. Scale
    * shape: ONE window + one groupBy, both partitioned by key — the sort
    * is per-key, parallelism is key cardinality; no self-join (the naive
    * interval-merge quadratic).
    */
  def mergeIntervals(df: DataFrame, keys: Seq[String], startCol: String,
                     endCol: String, maxGap: Long = 0L): DataFrame = {
    require(maxGap >= 0L, "maxGap must be >= 0")
    val s = col(startCol).cast("long"); val e = col(endCol).cast("long")
    val order = Window.partitionBy(keys.map(col): _*).orderBy(s, e)
    val prevMax = max(e).over(order.rowsBetween(Window.unboundedPreceding, -1))
    val opens = when(prevMax.isNull || s > prevMax + maxGap, 1L).otherwise(0L)
    df.where(s <= e)
      .withColumn("_island",
        sum(opens).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(keys.map(col) :+ col("_island"): _*)
      .agg(min(s).as("interval_start"), max(e).as("interval_end"),
        count(lit(1)).as("n_merged"))
      .drop("_island")
  }

  /** Purged walk-forward split with embargo (the leakage-safe
    * cross-validation partitioner of Lopez de Prado, "Advances in
    * Financial Machine Learning" ch. 7, re-expressed for web-crawl
    * feature stores — published method): the observed time range is cut
    * into `nFolds` equal-width bins by EXACT integer epoch-ms arithmetic;
    * against validation fold `valFold` every row gets a role:
    *
    *  - `val`     — inside the validation fold's bin
    *  - `embargo` — before the fold but within `embargoMs` of its start
    *    (label/feature windows straddling the boundary would leak)
    *  - `train`   — strictly earlier than the embargo
    *  - `future`  — at/after the fold's end (walk-forward: the future is
    *    never trained on)
    *
    * Bin width = (max − min) div nFolds + 1, so the max timestamp falls
    * in the last bin and every bin boundary is a pure integer function of
    * (min, max, nFolds) — an external engine reproduces the split
    * bit-exactly, which is the point: the split IS the leakage audit.
    *
    * Output: input + fold (bigint), role (string). Scale shape: one
    * min/max aggregate (two bigints) broadcast into a narrow projection —
    * no shuffle of the data itself, no window.
    */
  def purgedSplit(df: DataFrame, tsCol: String, nFolds: Int, valFold: Int,
                  embargoMs: Long): DataFrame = {
    require(nFolds >= 2, "need at least two folds")
    require(valFold >= 0 && valFold < nFolds, "valFold out of range")
    require(embargoMs >= 0, "embargo must be non-negative")
    val ts = unix_millis(col(tsCol).cast("timestamp"))
    val bounds = df.agg(min(ts).as("_t0"), max(ts).as("_t1"))
    df.crossJoin(broadcast(bounds))
      .withColumn("_w", expr("(_t1 - _t0) div " + nFolds + " + 1"))
      .withColumn("fold", expr(
        s"(${"unix_millis(cast(" + tsCol + " as timestamp))"} - _t0) div _w"))
      .withColumn("_vs", col("_t0") + lit(valFold.toLong) * col("_w"))
      .withColumn("_ve", col("_t0") + lit(valFold + 1L) * col("_w"))
      .withColumn("role",
        // NULL timestamps first: every when() below evaluates to null on
        // them and the otherwise() branch would silently route undated
        // rows into the TRAINING set of a leakage-audit split
        when(ts.isNull, "undated")
          .when(col("fold") === valFold.toLong, "val")
          .when(ts >= col("_ve"), "future")
          .when(ts >= col("_vs") - embargoMs, "embargo")
          .otherwise("train"))
      .drop("_t0", "_t1", "_w", "_vs", "_ve")
  }
}
