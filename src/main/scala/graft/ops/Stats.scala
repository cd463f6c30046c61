package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact (non-sketch) corpus statistics. Spark's built-in
  * `approx_percentile` is a sketch whose output depends on merge order —
  * useless when a report must be reproducible run-to-run or verifiable by
  * an external engine. These operators pay the exact cost deliberately and
  * say so; at 100 TB you run them per-partition-key (language, domain,
  * day) where each group fits a single sort, not over one global group.
  */
object Stats {

  /** Fail-fast guard for the samples-and-lists ops ([[spearman]],
    * [[wilcoxonSignedRank]], [[kendallTau]], [[mannKendall]], [[theilSen]]):
    * those contracts are O(n²) pair enumerations or single-sort global
    * windows BY DESIGN, so pointing one at a corpus must error loudly, not
    * quietly move the corpus to one partition. The probe runs
    * `limit(maxRows+1).count()`, which short-circuits the scan after
    * maxRows+1 rows — the guard itself stays cheap even against 100 TB.
    */
  private def requireSampleSized(df: DataFrame, op: String,
                                 maxRows: Long): Unit = {
    require(maxRows > 0, s"$op: maxRows must be positive")
    val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    val n = df.limit(probe).count()
    require(n <= maxRows,
      s"graft.Stats.$op: samples-and-lists contract breached — input exceeds " +
        s"maxRows=$maxRows rows. This op is O(n^2)/single-partition by " +
        "documented contract; roll the data up to a per-key series or top-k " +
        "list first, or raise maxRows explicitly if the size is intended.")
  }

  /** Exact DISCRETE quantiles per key: for each q in `qs`, the element at
    * 1-based position max(1, ceil(q * n)) of the group's value-sorted rows
    * — the standard `quantile_disc`/`percentile_disc` rule, so SQL engines
    * reproduce it verbatim. Always an ACTUAL group element (never an
    * interpolated float), which keeps integer columns integer and the
    * result bit-exact across engines.
    *
    * `qs` must be exactly representable doubles (dyadic rationals like
    * 0.25/0.5/0.75) — q*n is then exact and ceil cannot straddle an
    * epsilon; a q like 0.1 risks ceil(0.1*10) differing across engines'
    * rounding of the product.
    *
    * Output: one row per (key, q): keyCols..., q, <valCol>_q (the group
    * element). Cost: one (key-partition, value-sort) window over a slim
    * (key, value) projection + an explode of |qs| per row; groups
    * materialize no arrays.
    */
  def quantilesDisc(df: DataFrame, keyCols: Seq[String], valCol: String,
                    qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "quantiles must be within [0, 1]")
    val keys = keyCols.map(col)
    val sorted = Window.partitionBy(keys: _*).orderBy(col(valCol))
    val whole = Window.partitionBy(keys: _*)
    df.select(keys :+ col(valCol): _*)
      .withColumn("_rn", row_number().over(sorted))
      .withColumn("_n", count(lit(1)).over(whole))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .where(col("_rn") ===
        greatest(lit(1L), ceil(col("q") * col("_n")).cast("long")))
      .select(keys ++ Seq(col("q"), col(valCol).as(s"${valCol}_q")): _*)
  }

  /** WEIGHTED exact discrete quantiles per key: the element at the
    * smallest sorted value whose CUMULATIVE WEIGHT reaches ceil(q · W)
    * (W = total group weight, integer weights ≥ 1) — "p99 of document
    * length weighted by bytes", the storage-planning quantile where a
    * giant page should count by its size, not its row. Reduces to
    * [[quantilesDisc]] at weight ≡ 1. `qs` must be dyadic (same contract
    * and reason as quantilesDisc: q·W must be float-exact).
    *
    * Output: keys..., q, <valCol>_q. Scale shape: a combiner groupBy on
    * (key, value) FIRST (so the window runs over distinct values, not
    * rows — also what makes duplicate values tie-order-proof), then one
    * per-key cumulative-sum window + a |qs|-explode + min-aggregate.
    */
  def weightedQuantilesDisc(df: DataFrame, keyCols: Seq[String],
                            valCol: String, weightCol: String,
                            qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be within (0, 1]")
    val keys = keyCols.map(col)
    val perValue = df
      .select(keys ++ Seq(col(valCol), col(weightCol).cast("long").as("_w")): _*)
      .where(col("_w") >= 1L)
      .groupBy(keys :+ col(valCol): _*).agg(sum("_w").as("_wv"))
    val sorted = Window.partitionBy(keys: _*).orderBy(col(valCol))
    val whole = Window.partitionBy(keys: _*)
    perValue
      .withColumn("_cw", sum(col("_wv"))
        .over(sorted.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_tw", sum(col("_wv")).over(whole))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .where(col("_cw") >= ceil(col("q") * col("_tw")).cast("long"))
      .groupBy(keys :+ col("q"): _*)
      .agg(min(col(valCol)).as(s"${valCol}_q"))
  }

  /** Quantile-based feature binning: each row's `valCol` becomes the bin
    * index `count of thresholds strictly below-or-equal`, i.e.
    * bin = |{ t in thresholds(key) : value > t }|, with the thresholds the
    * EXACT discrete quantiles of [[quantilesDisc]] over the same data —
    * so with qs = (0.25, 0.5, 0.75), bin is the within-key quartile
    * 0..3 and the group's minimum always lands in bin 0. Because the
    * thresholds are actual group elements and the comparison is a strict
    * `>`, the binning is bit-exact across engines — no interpolated float
    * boundary to disagree about.
    *
    * Output: every input column + `<valCol>_bin` (long, 0..|qs|).
    *
    * Scale shape: the threshold table is (#keys x |qs|) rows — corpus-
    * bounded and BROADCAST; binning is then a narrow map over the input
    * (one conditional sum across |qs| pivoted threshold columns), zero
    * added shuffle beyond the quantile computation itself, which at
    * production scale runs per partition key exactly as quantilesDisc
    * documents.
    */
  def binByQuantiles(df: DataFrame, keyCols: Seq[String], valCol: String,
                     qs: Seq[Double]): DataFrame = {
    val thresholds = quantilesDisc(df, keyCols, valCol, qs)
      .groupBy(keyCols.map(col): _*)
      .pivot("q", qs.map(q => q: Any))
      .agg(first(col(s"${valCol}_q")))
    val renamed = qs.zipWithIndex.foldLeft(thresholds) { case (t, (q, i)) =>
      t.withColumnRenamed(q.toString, s"_th$i")
    }
    val bin = qs.indices
      .map(i => when(col(valCol) > col(s"_th$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    df.join(broadcast(renamed), keyCols)
      .withColumn(s"${valCol}_bin", bin)
      .drop(qs.indices.map(i => s"_th$i"): _*)
  }

  /** Robust per-key outlier flagging via median absolute deviation — the
    * curation gate for length/score anomalies that survives the heavy
    * tails where mean±stddev drowns (one 100 MB page moves a domain's mean
    * arbitrarily; it moves the median not at all). Entirely in the
    * DISCRETE-quantile rule of [[quantilesDisc]], so med and mad are
    * actual group elements (integers stay integers) and the flag
    *
    *   is_outlier = |value - med| > k * mad
    *
    * is bit-exact across engines — no interpolated float boundary. The
    * classic k for "beyond ~3 sigma if the data were normal" is 4 (k ≈
    * 3/0.6745); callers pick. Degenerate groups where mad = 0 (over half
    * the group shares one value) flag EVERY deviating row — the correct
    * reading of "the group has no spread".
    *
    * Output: input columns + med + abs_dev + mad + is_outlier.
    *
    * Scale shape: two slim per-key sort windows (the quantilesDisc cost,
    * run per partition key at production scale) + two broadcast joins of
    * key-count-sized tables; the payload never shuffles.
    */
  def madOutliers(df: DataFrame, keyCols: Seq[String], valCol: String,
                  k: Long = 4L): DataFrame = {
    require(k >= 0, "k must be >= 0")
    val keys = keyCols.map(col)
    val med = quantilesDisc(df, keyCols, valCol, Seq(0.5))
      .select(keys :+ col(s"${valCol}_q").as("med"): _*)
    val dev = df.join(broadcast(med), keyCols)
      .withColumn("abs_dev", abs(col(valCol) - col("med")))
    val mad = quantilesDisc(dev, keyCols, "abs_dev", Seq(0.5))
      .select(keys :+ col("abs_dev_q").as("mad"): _*)
    dev.join(broadcast(mad), keyCols)
      .withColumn("is_outlier", col("abs_dev") > lit(k) * col("mad"))
  }

  /** Zipf rank-frequency table of the corpus vocabulary — the
    * "is this corpus natural language?" fingerprint: human text follows
    * rank x freq ~ const (Zipf's law); machine-generated spam, templated
    * boilerplate, and synthetic corpora bend the curve visibly. Emitting
    * the exact table (not a fitted float slope, whose log-sums would not
    * be bit-reproducible across engines) keeps every value
    * oracle-verifiable:
    *
    *   rank        = 1-based position by (freq desc, word asc)
    *   freq        = exact corpus occurrence count
    *   rank_x_freq = rank * freq (int64 — flat for Zipfian text)
    *   freq_ratio  = freq / freq(rank 1), a single int/int double division
    *
    * Words are lowercased non-empty `\s+` runs (the same convention as the
    * lexical-diversity and repetition gates). The (freq desc, word asc)
    * order is total, so the top-N cut is deterministic at the boundary.
    *
    * Scale shape: one explode into a map-side-combined groupBy(word) —
    * the only corpus-sized shuffle, and it moves (word, count) pairs, not
    * text — then an orderBy(...).limit(topN) which Spark executes as
    * TakeOrdered (per-partition top-N, no global sort), and a row_number
    * window over the N surviving rows (single tiny partition by
    * construction — N is a constant).
    */
  def zipfTable(df: DataFrame, textCol: String, topN: Int = 200): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    val words = df.select(explode(
      Relevance.spaceTokens(lower(col(textCol)))).as("word"))
    val top = words.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(topN)
    val w = Window.orderBy(col("freq").desc, col("word").asc)
    top.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("rank_x_freq", col("rank") * col("freq"))
      .withColumn("freq_ratio",
        col("freq").cast("double") / max(col("freq")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("rank"), col("word"), col("freq"), col("rank_x_freq"),
        col("freq_ratio"))
  }

  /** Percentile-rank normalization of a score column within each key group
    * — the rank-based feature scaling that makes heterogeneous quality
    * scores mixable (FineWeb-style "keep the top X% per language" gates
    * threshold THIS, not the raw score, so a recalibrated classifier
    * doesn't shift the cut). Adds:
    *
    *   rank     = 1-based position by (value asc, tieBreak asc) in the group
    *   n        = group size
    *   pct_rank = rank / n, a single int/int double division in (0, 1]
    *
    * row_number with a TOTAL tie-break (not SQL percent_rank's shared-rank
    * (rank-1)/(n-1)) so equal scores still get distinct, deterministic,
    * engine-independent percentiles — the selection `pct_rank > 1 - x`
    * then keeps an exact per-group count.
    *
    * Scale shape: one (key-partition, value-sort) exchange shared by both
    * window functions. Pass real partition keys (language, domain, day):
    * an empty `keyCols` funnels the corpus into ONE sort partition — fine
    * for group-bounded tables, wrong for the raw corpus (same caveat as
    * every exact operator in this module).
    */
  def percentileRank(df: DataFrame, keyCols: Seq[String], valCol: String,
                     tieBreak: Seq[String]): DataFrame = {
    require(tieBreak.nonEmpty,
      "tieBreak must make the order total (e.g. the row id)")
    val part = Window.partitionBy(keyCols.map(col): _*)
    val w = part.orderBy((col(valCol).asc +: tieBreak.map(col(_).asc)): _*)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .withColumn("pct_rank", col("rank").cast("double") / col("n"))
  }

  /** Exact-integer binary-classifier evaluation: Mann-Whitney AUC (with
    * tie handling) plus fixed-width calibration bins. This closes the
    * curation loop: quality classifiers (see q116's inference) gate what
    * a corpus keeps, and an AUC computed with float rank sums is
    * unverifiable across engines — here every output is an integer or a
    * fixed-point PPM ratio of exact integers, replayed bit-for-bit by the
    * oracle.
    *
    * Tie handling doubles everything to stay integral: a tied group at
    * score s (cnt_s rows, pos_s positive, cumBelow_s rows strictly below)
    * gives each positive the average rank cumBelow_s + (cnt_s+1)/2, so
    *   2U = sum_s pos_s * (2*cumBelow_s + cnt_s + 1) - nPos*(nPos+1)
    *   auc_ppm = 2U * 10^6 div (2 * nPos * nNeg).
    *
    * Scale shape: ONE aggregate by score value, then a window over the
    * aggregated table — the single-partition window is bounded by SCORE
    * CARDINALITY (scores are quantized ints by contract), never corpus
    * size. Rank-sum products are decimal(38,0): pos*cumBelow reaches
    * ~n^2, past int64 at corpus scale. Output: one row per calibration
    * bin (`bin` = floor(score/binWidth), exact for negative scores too)
    * with n / n_pos / mean_score_ppm / pos_rate_ppm, plus the global
    * auc_ppm / n_pos_total / n_neg_total replicated on every row.
    */
  def binaryEval(df: DataFrame, scoreCol: String, labelCol: String,
                 binWidth: Int): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    val dec = "decimal(38,0)"
    val perScore = df.groupBy(col(scoreCol).as("score"))
      .agg(count(lit(1)).as("cnt"), sum(col(labelCol).cast("long")).as("pos"))
    val w = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withBelow = perScore
      .withColumn("below", coalesce(sum(col("cnt")).over(w), lit(0L)))
    val ppm = s"cast(1000000 AS $dec)"
    val auc = withBelow.agg(
        sum(col("pos").cast(dec) *
          (col("below").cast(dec) * 2 + col("cnt").cast(dec) + 1)).as("rs2"),
        sum(col("pos")).cast(dec).as("np"),
        sum(col("cnt")).cast(dec).as("n"))
      .selectExpr(
        s"((rs2 - np * (np + 1)) * $ppm) div (np * (n - np) * 2) AS auc_ppm",
        "cast(np AS long) AS n_pos_total",
        "cast(n - np AS long) AS n_neg_total")
    // floor division valid for negative scores: trunc((x - W + 1) / W)
    val bin = when(col("score") >= 0, expr(s"score div $binWidth"))
      .otherwise(expr(s"(score - ${binWidth - 1}) div $binWidth"))
    val bins = perScore.groupBy(bin.as("bin"))
      .agg(sum(col("cnt")).as("n"), sum(col("pos")).as("n_pos"),
        sum(col("score").cast(dec) * col("cnt").cast(dec)).as("ssum"),
        sum(col("pos")).cast(dec).as("posd"),
        sum(col("cnt")).cast(dec).as("cntd"))
      .selectExpr("bin", "n", "n_pos",
        s"(ssum * $ppm) div cntd AS mean_score_ppm",
        s"(posd * $ppm) div cntd AS pos_rate_ppm")
    bins.crossJoin(broadcast(auc))
  }

  /** Kendall tau-a ranking-churn monitor between two snapshots of a ranked
    * list (e.g. yesterday's vs today's top-k hosts by PageRank): one row
    * with the common-key count, concordant/discordant pair counts (exact
    * integers) and tau = (C - D) / (n(n-1)/2). Restricted to keys present
    * in BOTH lists; rank values must be unique per list (they are ranks).
    *
    * INTENDED FOR TOP-K LISTS: pair enumeration is the k^2/2 self-join of
    * the common keys — bounded by the list length, never by the corpus the
    * ranks were computed from. Feed it rankings, not raw tables.
    */
  def kendallTau(a: DataFrame, b: DataFrame, keyCol: String,
                 rankCol: String, maxRows: Long = 30000L): DataFrame = {
    requireSampleSized(a, "kendallTau", maxRows)
    requireSampleSized(b, "kendallTau", maxRows)
    val l = a.select(col(keyCol).as("_k"), col(rankCol).as("_ra"))
    val r = b.select(col(keyCol).as("_k"), col(rankCol).as("_rb"))
    val common = l.join(r, "_k")
    val pairs = common.as("x").join(common.as("y"), col("x._k") < col("y._k"))
      .select((((col("x._ra") - col("y._ra")) > 0) ===
        ((col("x._rb") - col("y._rb")) > 0)).as("_conc"))
    val counts = pairs.agg(
      sum(when(col("_conc"), 1L).otherwise(0L)).as("concordant"),
      sum(when(col("_conc"), 0L).otherwise(1L)).as("discordant"))
    counts.crossJoin(common.agg(count(lit(1)).as("n_common")))
      .select(col("n_common"), col("concordant"), col("discordant"),
        ((col("concordant") - col("discordant")).cast("double") /
          expr("cast((n_common * (n_common - 1)) div 2 as double)")).as("tau"))
  }

  /** Lag-k autocorrelation of day-granular counts per key — the
    * seasonality detector for crawl/traffic volumes (lag 7 = weekly
    * rhythm). Daily counts are integers, so every Pearson sum (sx, sy,
    * sxy, sxx, syy) is an exact bigint and r is a pure function of them:
    * r = (n*sxy - sx*sy) / (sqrt(n*sxx - sx^2) * sqrt(n*syy - sy^2)) —
    * IEEE sqrt is correctly rounded, so an external engine reproduces r
    * bit-exactly. Pairs align by EXACT day offset (a self-join on
    * (key, day - lagDays)), not by row position, so missing days never
    * shift the alignment. Keys with zero variance on either side emit
    * NULL r (flat series have no correlation). Output per key:
    * (key, n_pairs, r).
    *
    * Scale shape: events collapse to per-(key, day) counts first (the only
    * event-volume shuffle, map-side combined); everything after runs on
    * day-granular series bounded by days-of-history per key.
    */
  def lagAutocorr(df: DataFrame, keyCol: String, tsCol: String,
                  lagDays: Int): DataFrame = {
    require(lagDays >= 1, "lagDays must be >= 1")
    val daily = df.select(col(keyCol).as("key"),
        expr(s"unix_millis(cast(`$tsCol` as timestamp)) div 86400000").as("_d"))
      .groupBy(col("key"), col("_d")).agg(count(lit(1)).as("_n"))
    val x = daily.select(col("key"), col("_d"), col("_n").as("_x"))
    val y = daily.select(col("key"), (col("_d") + lagDays).as("_d"), col("_n").as("_y"))
    val sums = x.join(y, Seq("key", "_d"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"),
        sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"))
    val varX = (col("n_pairs") * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val varY = (col("n_pairs") * col("_syy") - col("_sy") * col("_sy")).cast("double")
    sums.select(col("key"), col("n_pairs"),
      when(varX > 0 && varY > 0,
        (col("n_pairs") * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
          (sqrt(varX) * sqrt(varY))).as("r"))
  }

  /** Per-key OLS trend of daily event counts — "is this domain's crawl
    * volume growing or shrinking, and how fast?" Day indices are REBASED
    * to each key's first observed day before the sums (slope is
    * shift-invariant; intercept becomes the fitted count at the key's
    * first day), so every OLS sum is a small exact bigint: with x ≤ 2^15
    * (90 years of daily history) and per-(key,day) counts ≤ ~10^8 the
    * largest product n_days*sxy stays under 2^63. slope = num/den, r² =
    * (num/den)*(num/var_y) — each a pure function of the bigint sums with
    * a FIXED double-op order, so an external engine reproduces them
    * bit-exactly. Keys with a single day (or all counts equal AND flat x)
    * emit NULL slope/intercept; r² additionally NULL when var_y = 0.
    *
    * Scale shape: events collapse to per-(key, day) counts in ONE
    * map-side-combined aggregate (the only event-volume shuffle); the
    * rebase window and OLS sums run on the day-granular table, bounded by
    * keys × days-of-history.
    */
  def linearTrend(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val daily = df.select(col(keyCol).as("key"),
        expr(s"unix_millis(cast(`$tsCol` as timestamp)) div 86400000").as("_d"))
      .groupBy(col("key"), col("_d")).agg(count(lit(1)).as("_n"))
    val based = daily.withColumn("_x",
      col("_d") - min(col("_d")).over(Window.partitionBy(col("key"))))
    val sums = based.groupBy(col("key")).agg(
      count(lit(1)).as("n_days"),
      sum(col("_x")).as("_sx"), sum(col("_n")).as("_sy"),
      sum(col("_x") * col("_n")).as("_sxy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_n") * col("_n")).as("_syy"))
    val num  = col("n_days") * col("_sxy") - col("_sx") * col("_sy")
    val den  = col("n_days") * col("_sxx") - col("_sx") * col("_sx")
    val varY = col("n_days") * col("_syy") - col("_sy") * col("_sy")
    val slope = num.cast("double") / den.cast("double")
    sums.select(col("key"), col("n_days"),
      when(den > 0, slope).as("slope"),
      when(den > 0,
        (col("_sy").cast("double") - slope * col("_sx").cast("double")) /
          col("n_days").cast("double")).as("intercept"),
      when(den > 0 && varY > 0,
        slope * (num.cast("double") / varY.cast("double"))).as("r2"))
  }

  /** Pearson chi-squared test of independence between two categorical
    * columns — "does the event mix depend on the weekday?", "is language
    * independent of the source domain class?". Emits the FULL R×C grid
    * (zero-observed cells included — they contribute their expected count
    * to the statistic), each cell's observed n (exact integer), expected
    * count n_r*n_c/N (one double division of exact bigints), chi² term
    * (n-e)²/e, and the total chi² + degrees of freedom (R-1)(C-1) repeated
    * per row. The total is a LEFT-TO-RIGHT fold over (row, col)-sorted
    * terms — never an order-free float sum — so an external engine
    * replays it bit-exactly.
    *
    * Scale shape: one combiner-friendly aggregate collapses the corpus to
    * observed cells; marginals, the R×C grid (a cross join of the two
    * category tables — category-bounded, NOT corpus-bounded) and the fold
    * all run on category-sized data. Callers own the sanity of R×C (a
    * chi² over two high-cardinality ID columns is statistically
    * meaningless before it is expensive).
    */
  def chiSquared(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(col(rowCol).as("row_cat"), col(colCol).as("col_cat"))
      .agg(count(lit(1)).as("n"))
    val rt = cells.groupBy(col("row_cat")).agg(sum(col("n")).as("_nr"))
    val ct = cells.groupBy(col("col_cat")).agg(sum(col("n")).as("_nc"))
    val tot = cells.agg(sum(col("n")).as("_nt"),
      count_distinct(col("row_cat")).as("_r"),
      count_distinct(col("col_cat")).as("_c"))
    val grid = rt.crossJoin(ct)
      .join(cells, Seq("row_cat", "col_cat"), "left")
      .select(col("row_cat"), col("col_cat"), col("_nr"), col("_nc"),
        coalesce(col("n"), lit(0L)).as("n"))
      .crossJoin(tot)
    val expected = (col("_nr") * col("_nc")).cast("double") / col("_nt").cast("double")
    val dev = col("n").cast("double") - col("expected")
    val withTerm = grid.withColumn("expected", expected)
      .withColumn("chi2_term", dev * dev / col("expected"))
    val total = withTerm.agg(
      expr("""aggregate(sort_array(collect_list(struct(row_cat, col_cat, chi2_term))),
             |cast(0.0 as double), (acc, x) -> acc + x.chi2_term)""".stripMargin)
        .as("chi2"))
    withTerm.crossJoin(total)
      .select(col("row_cat"), col("col_cat"), col("n"), col("expected"),
        col("chi2_term"), col("chi2"),
        ((col("_r") - 1) * (col("_c") - 1)).as("dof"))
  }

  /** EXACT heavy hitters (all values with global count >= minCount) in two
    * passes, without ever shuffling the full distinct-value set — the
    * scale answer to `groupBy(value).count().where(n >= T)`, whose
    * exchange carries one row per distinct value per map partition (for
    * Zipf-tailed token data, almost the whole corpus).
    *
    * Pass 1 runs a Misra-Gries summary (`summaryK` counters, bounded
    * memory) inside each partition — one of the rare genuinely imperative
    * per-partition kernels, so mapPartitions is the right vehicle — and
    * emits only (value, count, decrementRounds) survivors. A value absent
    * from a partition's summary occurred there at most d_p times (its
    * insertions minus <= d_p decrements would otherwise have survived),
    * and a present value is undercounted by at most d_p, so
    * true(v) <= sum_present(cnt) + D with D = sum_p d_p: candidates =
    * survivors with cnt_sum + D >= minCount are a LOSSLESS superset of
    * the true heavy hitters, bounded by partitions x summaryK. Pass 2
    * exact-counts ONLY the candidates (a candidate semi-join prunes the
    * corpus before its one combiner-friendly shuffle) and keeps
    * n >= minCount — so the OUTPUT is exact and deterministic even though
    * MG eviction order is not.
    *
    * Soundness guard: when D >= minCount the summaries cannot certify
    * that an ABSENT value is not a heavy hitter, so the candidate
    * prefilter would silently drop true hitters. D is read back as one
    * driver-side scalar (a bounded action); if it breaches, the operator
    * falls back to the naive exact aggregate — always-correct output,
    * with the pruning a pure optimization. Size summaryK ≳ a few x
    * n_partition/minCount to stay on the pruned path.
    *
    * Returns (value, n) — exactly `HAVING count(*) >= minCount` over the
    * NON-NULL values (nulls are dropped up front; see the body comment).
    */
  def frequentItems(df: DataFrame, valCol: String, minCount: Long,
                    summaryK: Int = 4096): DataFrame = {
    require(minCount >= 1 && summaryK >= 1, "need minCount >= 1, summaryK >= 1")
    // NULLs are excluded up front: the MG summary reuses value=null as its
    // rounds-sentinel row and the pruned path filters isNotNull, so a null
    // heavy hitter could otherwise surface only on the fallback path —
    // output would then depend on partition layout. Excluding nulls makes
    // both paths agree (SQL HAVING-count semantics ignore nulls anyway).
    val vals = df.select(col(valCol).cast("string").as("value"))
      .where(col("value").isNotNull)
    val spark = vals.sparkSession
    import spark.implicits._
    val summaries = vals.as[String].mapPartitions { it =>
      val counts = new java.util.HashMap[String, Long](summaryK * 2)
      var rounds = 0L
      it.foreach { v =>
        if (counts.containsKey(v)) {
          counts.put(v, counts.get(v) + 1L)
        } else if (counts.size < summaryK) {
          counts.put(v, 1L)
        } else { // decrement-all round: k counters + the arriving value
          rounds += 1L
          val iter = counts.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            if (e.getValue == 1L) iter.remove() else e.setValue(e.getValue - 1L)
          }
        }
      }
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
      counts.forEach((v, c) => out += ((pid, v, c, rounds)))
      if (out.isEmpty && rounds > 0L) out += ((pid, null, 0L, rounds))
      out.iterator
    }.toDF("_pid", "value", "_cnt", "_dp").persist()
    val totalErr = summaries.select(col("_pid"), col("_dp")).distinct()
      .agg(coalesce(sum(col("_dp")), lit(0L))).collect()(0).getLong(0)
    val exact =
      if (totalErr >= minCount) {
        // summaries can't certify absence — prune nothing (see scaladoc)
        vals.groupBy(col("value")).agg(count(lit(1)).as("n"))
      } else {
        // candidates are (partitions x summaryK)-bounded: localCheckpoint
        // materializes them eagerly and cuts the lineage back to pass 1,
        // so the summaries cache can drop and pass 2 never re-runs MG
        val candidates = summaries.where(col("value").isNotNull)
          .groupBy(col("value")).agg(sum(col("_cnt")).as("_lo"))
          .where(col("_lo") + totalErr >= minCount)
          .select(col("value"))
          .localCheckpoint()
        vals.join(candidates, Seq("value"))
          .groupBy(col("value")).agg(count(lit(1)).as("n"))
      }
    summaries.unpersist()
    exact.where(col("n") >= minCount)
  }

  /** Leave-fold-out target encoding with additive smoothing (the
    * leakage-safe categorical encoder of Micci-Barreca 2001's target
    * encoding, in its standard K-fold out-of-fold form — published
    * method): a category's encoding for a row in fold f uses ONLY rows
    * of that category OUTSIDE f, so a row never sees its own target:
    *
    *   enc_milli = ((S_c − s_cf) · 1000 + m · prior_milli)
    *               div (N_c − n_cf + m)
    *
    * with S_c/N_c the category's target sum/count, s_cf/n_cf the
    * category×fold portion, prior_milli = (S · 1000) div N the global
    * mean, and m >= 1 the smoothing pseudo-count. All EXACT integer
    * arithmetic (milli fixed point, div) — an external engine replays
    * every encoding bit-for-bit, and a category confined to one fold
    * degrades cleanly to the prior. Folds are md5-deterministic from the
    * id (no RNG state): fold = u64(md5(seed : id)[0:8]) % nFolds.
    *
    * Output: (idCol, catCol, fold, enc_milli). Scale shape: two
    * combiner aggregates (category-sized and category×fold-sized) joined
    * back by (cat, fold) — the corpus shuffles once on the slim
    * (id, cat, fold, target) projection, encodings ride a
    * dimension-table join.
    */
  def targetEncodeLFO(df: DataFrame, idCol: String, catCol: String,
                      targetCol: String, nFolds: Int = 5,
                      smoothing: Long = 20L,
                      seed: String = "te"): DataFrame = {
    require(nFolds >= 2, "need at least two folds")
    require(smoothing >= 1, "smoothing pseudo-count must be >= 1")
    val fold = (conv(substring(md5(concat(lit(seed), lit(":"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") % nFolds)
      .as("fold")
    val slim = df.select(col(idCol), col(catCol).as("_cat"),
      col(targetCol).cast("long").as("_y"), fold)
    val byCat = slim.groupBy(col("_cat"))
      .agg(sum(col("_y")).as("_sc"), count(lit(1)).as("_nc"))
    val byCatFold = slim.groupBy(col("_cat"), col("fold"))
      .agg(sum(col("_y")).as("_scf"), count(lit(1)).as("_ncf"))
    val prior = slim.agg(
      expr("sum(_y) * 1000 div count(1)").as("_prior_milli"))
    slim
      .join(byCatFold, Seq("_cat", "fold"))
      .join(byCat, Seq("_cat"))
      .crossJoin(broadcast(prior))
      .select(col(idCol), col("_cat").as(catCol), col("fold"),
        expr(s"""((_sc - _scf) * 1000 + $smoothing * _prior_milli)
                | div (_nc - _ncf + $smoothing)""".stripMargin)
          .as("enc_milli"))
  }

  /** Exact Pearson correlation matrix over INTEGER-valued feature columns
    * (counts, flags, integer scores) — the feature-redundancy screen run
    * before training a quality classifier: a |r| ~ 1 pair means one
    * column is noise-free linear baggage. All F + F(F+1)/2 moment sums
    * are exact bigints computed in ONE map-side-combined aggregate over a
    * single corpus pass (no per-pair jobs, no shuffle beyond the one-row
    * aggregate); each r is then a pure function of the sums with the same
    * fixed double-op order as [[lagAutocorr]], so an external engine
    * reproduces every cell bit-exactly. Zero-variance columns yield NULL
    * r (including their diagonal). Overflow headroom: n * sum(x*y) must
    * stay under 2^63 — fine for count-valued features (say |x| <= 10^4)
    * up to ~10^10 rows; rescale upstream features, not this operator.
    *
    * Returns the upper triangle incl. diagonal: (col_a, col_b, n, r) for
    * a <= b in `cols` order — F(F+1)/2 rows from one aggregate row.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    require(cols.distinct.size == cols.size, "columns must be distinct")
    val c = cols.map(n => col(n).cast("long"))
    val firstAgg = count(lit(1)).as("_n")
    val sumAggs = cols.indices.map(i => sum(c(i)).as(s"_s$i"))
    val prodAggs = for { i <- cols.indices; j <- i until cols.size }
      yield sum(c(i) * c(j)).as(s"_p${i}_$j")
    val agged = df.agg(firstAgg, (sumAggs ++ prodAggs): _*)
    def variance(i: Int) =
      col("_n") * col(s"_p${i}_$i") - col(s"_s$i") * col(s"_s$i")
    val pairs = for { i <- cols.indices; j <- i until cols.size } yield {
      val num = col("_n") * col(s"_p${i}_$j") - col(s"_s$i") * col(s"_s$j")
      val r = when(variance(i) > 0 && variance(j) > 0,
        num.cast("double") /
          (sqrt(variance(i).cast("double")) * sqrt(variance(j).cast("double"))))
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"), r.as("r"))
    }
    agged.select(col("_n").as("n"), explode(array(pairs: _*)).as("_pair"))
      .select(col("_pair.col_a").as("col_a"), col("_pair.col_b").as("col_b"),
        col("n"), col("_pair.r").as("r"))
  }

  /** Welch's unequal-variance two-sample t-test over an INTEGER-valued
    * metric — "did the mean quality score move between slice A and slice
    * B?" without assuming equal variances (corpus slices never have
    * them). Per-group n / sum / sum-of-squares are exact bigints from ONE
    * map-side-combined aggregate; mean, sample variance, t and the
    * Welch-Satterthwaite dof are then pure functions of the six integers
    * with a FIXED double-op order (each written as the minimal chain of
    * divisions), so an external engine reproduces them bit-exactly:
    *
    *   var   = (n*ss - s*s) / (n*(n-1))      one division
    *   se_g  = var_g / n_g                   one division each
    *   t     = (mean_a - mean_b) / sqrt(se_a + se_b)
    *   dof   = (se_a + se_b)^2 / (se_a^2/(n_a-1) + se_b^2/(n_b-1))
    *
    * Returns one row (n_a, n_b, mean_a, mean_b, var_a, var_b, t, dof);
    * t/dof NULL when either group has n < 2 or both variances are zero.
    * Rows whose group matches neither label are ignored.
    */
  def welchTest(df: DataFrame, groupCol: String, valCol: String,
                groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "groups must differ")
    val v = col(valCol).cast("long")
    def tagged(cond: org.apache.spark.sql.Column, tag: String) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      coalesce(sum(when(cond, v)), lit(0L)).as(s"_s_$tag"),
      coalesce(sum(when(cond, v * v)), lit(0L)).as(s"_ss_$tag"))
    val isA = col(groupCol) === groupA
    val isB = col(groupCol) === groupB
    val aggs = tagged(isA, "a") ++ tagged(isB, "b")
    val both = df.where(isA || isB).agg(aggs.head, aggs.tail: _*)
    def mean(t: String) = col(s"_s_$t").cast("double") / col(s"n_$t").cast("double")
    def vr(t: String) =
      (col(s"n_$t") * col(s"_ss_$t") - col(s"_s_$t") * col(s"_s_$t")).cast("double") /
        (col(s"n_$t") * (col(s"n_$t") - 1)).cast("double")
    val seA = vr("a") / col("n_a").cast("double")
    val seB = vr("b") / col("n_b").cast("double")
    val se = seA + seB
    val defined = col("n_a") >= 2 && col("n_b") >= 2
    both.select(col("n_a"), col("n_b"),
      when(col("n_a") >= 1, mean("a")).as("mean_a"),
      when(col("n_b") >= 1, mean("b")).as("mean_b"),
      when(col("n_a") >= 2, vr("a")).as("var_a"),
      when(col("n_b") >= 2, vr("b")).as("var_b"),
      when(defined && se > 0, (mean("a") - mean("b")) / sqrt(se)).as("t"),
      when(defined && se > 0,
        (se * se) / (seA * seA / (col("n_a") - 1).cast("double") +
          seB * seB / (col("n_b") - 1).cast("double"))).as("dof"))
  }

  /** Winsorized mean per key over an INTEGER metric: values clamp to the
    * key's EXACT discrete [pLo, pHi] quantiles (the [[quantilesDisc]]
    * element rule — thresholds are actual group elements, never
    * interpolated floats) before averaging — the dataset-card robust mean
    * that a handful of 100 MB outlier pages cannot drag. Both means are
    * one double division of exact bigint sums, so every output value is
    * engine-reproducible; pLo/pHi must be dyadic rationals per the
    * quantilesDisc contract.
    *
    * Scale shape: the threshold table ([[quantilesDisc]]'s one window
    * over a slim (key, value) projection) is key-bounded and BROADCAST
    * back; the clamp + sums are one combiner-friendly aggregate over the
    * same slim projection. Returns (keys..., lo, hi, n, mean_raw,
    * winsorized_mean).
    */
  def winsorizedMean(df: DataFrame, keyCols: Seq[String], valCol: String,
                     pLo: Double, pHi: Double): DataFrame = {
    require(0.0 <= pLo && pLo < pHi && pHi <= 1.0, "need 0 <= pLo < pHi <= 1")
    val keys = keyCols.map(col)
    val thr = quantilesDisc(df, keyCols, valCol, Seq(pLo, pHi))
      .groupBy(keys: _*).agg(
        min(when(col("q") === pLo, col(s"${valCol}_q"))).as("_lo"),
        min(when(col("q") === pHi, col(s"${valCol}_q"))).as("_hi"))
    val v = col(valCol).cast("long")
    val clamped = greatest(col("_lo"), least(col("_hi"), v))
    df.select(keys :+ col(valCol): _*)
      .join(broadcast(thr), keyCols)
      .groupBy(keys: _*)
      .agg(min(col("_lo")).as("lo"), min(col("_hi")).as("hi"),
        count(lit(1)).as("n"),
        sum(v).as("_s"), sum(clamped).as("_sw"))
      .select(keys ++ Seq(col("lo"), col("hi"), col("n"),
        (col("_s").cast("double") / col("n").cast("double")).as("mean_raw"),
        (col("_sw").cast("double") / col("n").cast("double"))
          .as("winsorized_mean")): _*)
  }

  /** Deterministic permutation test for a difference in group means —
    * the finite-sample significance check with zero RNG state: per
    * (row, rep), an md5 coin ([[graft.ops.Reporting.dpCounts]] draw)
    * reassigns the row to side A or B; each rep's mean difference is a
    * pair of exact bigint ratios; the p-value is the fraction of reps
    * whose |permuted diff| ≥ |observed diff| (with the standard +1/(B+1)
    * smoothing so p is never 0). Bit-exact replay by any SQL engine.
    *
    * Output one row: n_a, n_b, diff_obs, n_extreme, p_value. Scale
    * shape: one B-way explode of a slim (id, value, side) projection +
    * a B-row aggregate — the [[bootstrapMeanCI]] cost shape.
    */
  def permutationTestMean(df: DataFrame, idCol: String, valCol: String,
                          groupCol: String, groupA: String, groupB: String,
                          b: Int = 64, seed: String = "pt"): DataFrame = {
    require(b >= 2, "need at least 2 permutation reps")
    val slim = df
      .where(col(groupCol) === groupA || col(groupCol) === groupB)
      .select(col(idCol).cast("string").as("_id"),
        col(valCol).cast("long").as("_v"),
        (col(groupCol) === groupA).as("_isA"))
    val obs = slim.agg(
      sum(when(col("_isA"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("_isA"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("_isA"), col("_v")).otherwise(0L)).as("_sa"),
      sum(when(!col("_isA"), col("_v")).otherwise(0L)).as("_sb"))
      .withColumn("diff_obs",
        col("_sa").cast("double") / col("n_a").cast("double") -
          col("_sb").cast("double") / col("n_b").cast("double"))
      .drop("_sa", "_sb")
    val reps = slim.withColumn("_r", explode(sequence(lit(1), lit(b))))
    val rank = conv(substring(md5(concat_ws("\u0001", col("_id"),
      col("_r").cast("string"), lit(seed)).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val toA = (rank % 2) === 0
    val perRep = reps.withColumn("_pa", toA)
      .groupBy(col("_r"))
      .agg(sum(when(col("_pa"), 1L).otherwise(0L)).as("_na"),
        sum(when(!col("_pa"), 1L).otherwise(0L)).as("_nb"),
        sum(when(col("_pa"), col("_v")).otherwise(0L)).as("_sa"),
        sum(when(!col("_pa"), col("_v")).otherwise(0L)).as("_sb"))
      .where(col("_na") > 0L && col("_nb") > 0L)
      .select((col("_sa").cast("double") / col("_na").cast("double") -
        col("_sb").cast("double") / col("_nb").cast("double")).as("_d"))
    obs.crossJoin(
        perRep.crossJoin(obs.select(col("diff_obs").as("_o")))
          .agg(coalesce(sum(when(abs(col("_d")) >= abs(col("_o")), 1L)
            .otherwise(0L)), lit(0L)).as("n_extreme"),
            count(lit(1)).as("_nreps")))
      .withColumn("p_value",
        (col("n_extreme") + 1).cast("double") /
          (col("_nreps") + 1).cast("double"))
      .drop("_nreps")
  }

  /** Capture–recapture population estimate from two overlapping crawls:
    * treat crawl A and crawl B as two "captures" of the same underlying
    * population (the reachable web, a site's URL space) and estimate its
    * size from the overlap — Chapman's bias-corrected
    * (n_a+1)(n_b+1) div (m+1) − 1 as EXACT integer floor arithmetic,
    * plus the naive Lincoln–Petersen n_a·n_b/m (one double division,
    * NULL at m = 0). The standard "how much of the web are we seeing"
    * answer when full enumeration is impossible.
    *
    * Scale shape: two distinct-counts + one semi-join count on slim id
    * projections; output is one row.
    */
  def captureRecapture(a: DataFrame, b: DataFrame, idCol: String): DataFrame = {
    val ia = a.select(col(idCol).as("_id")).distinct()
    val ib = b.select(col(idCol).as("_id")).distinct()
    val na = ia.agg(count(lit(1)).as("n_a"))
    val nb = ib.agg(count(lit(1)).as("n_b"))
    val m = ia.join(ib, Seq("_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
    na.crossJoin(nb).crossJoin(m)
      .withColumn("chapman_estimate",
        expr("((n_a + 1) * (n_b + 1)) div (n_overlap + 1) - 1"))
      .withColumn("lp_estimate",
        when(col("n_overlap") > 0,
          (col("n_a") * col("n_b")).cast("double") /
            col("n_overlap").cast("double")))
  }

  /** Wilcoxon signed-rank test on PAIRED integer samples (before/after
    * per entity): zero differences drop (standard), |diff| gets DOUBLED
    * average tie ranks (2·rank_min + ties − 1 — exact integers, the
    * [[spearman]] device), and the statistic is
    *
    *   W'₊ = Σ_{diff>0} r'ᵢ  (= 2·W₊, exact bigint),  μ' = n(n+1)/2,
    *   Var' = [2n(n+1)(2n+1) − Σ_g (t_g³ − t_g)] / 12,
    *   z = (W'₊ − μ') / sqrt(Var')
    *
    * with one fixed-order division chain — the paired drift test when
    * before/after measurements share entities (re-crawled pages, A/B on
    * the same hosts), where Welch/MW would waste the pairing. Output one
    * row: n (non-zero pairs), w_plus2 (the doubled statistic), z (NULL
    * when Var' = 0). Ranking uses a single-partition window — the
    * [[spearman]] samples-and-lists contract.
    */
  def wilcoxonSignedRank(df: DataFrame, beforeCol: String,
                         afterCol: String,
                         maxRows: Long = 10000000L): DataFrame = {
    requireSampleSized(df, "wilcoxonSignedRank", maxRows)
    val d = (col(afterCol).cast("long") - col(beforeCol).cast("long"))
    val nz = df.select(d.as("_d")).where(col("_d") =!= 0L)
      .withColumn("_a", abs(col("_d")))
    // partitionBy(lit(0)) is semantically the global frame (every row in
    // one constant group) but keeps the partition spec non-empty, so the
    // in-contract path does not trip WindowExec's corpus warning
    val ranked = nz
      .withColumn("_r2",
        rank().over(Window.partitionBy(lit(0)).orderBy(col("_a"))) * 2 +
        count(lit(1)).over(Window.partitionBy(col("_a"))) - 1)
    val agg = ranked.agg(
      count(lit(1)).as("n"),
      sum(when(col("_d") > 0, col("_r2")).otherwise(0L)).as("w_plus2"))
    // tie correction needs group sizes, not ranks — compute separately
    val ties = nz.groupBy(col("_a")).agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(col("_t") * col("_t") * col("_t") - col("_t")),
        lit(0L)).as("_tc"))
    agg.crossJoin(ties)
      .withColumn("_mu2", expr("(n * (n + 1)) div 2"))
      .withColumn("_var2",
        ((col("n") * (col("n") + 1) * (col("n") * 2 + 1) * 2 - col("_tc"))
          .cast("double") / lit(12.0)))
      .select(col("n"), col("w_plus2"),
        when(col("_var2") > 0.0,
          (col("w_plus2") - col("_mu2")).cast("double") / sqrt(col("_var2")))
          .as("z"))
  }

  /** Two-sample Kolmogorov–Smirnov distance per key, EXACTLY: with
    * cumulative counts (ca, cb) at each distinct value (ties fully
    * absorbed — the ECDF is right-continuous),
    *
    *   D = max |ca·n_b − cb·n_a| / (n_a · n_b)
    *
    * where the max runs over an exact INTEGER numerator — no float ECDF
    * subtraction to disagree about — and the one division happens at the
    * end. The distribution-drift companion to [[graft.ops.Diff.psiDrift]]:
    * PSI needs binning choices, KS does not. Output: keys..., n_a, n_b,
    * d_num (the integer max), ks_stat; NULL stat when either side is
    * empty.
    *
    * Scale shape: one combiner groupBy on (key, value) then one per-key
    * cumulative window over DISTINCT values — the window length is the
    * value cardinality, not the row count.
    */
  def ksTest(df: DataFrame, keyCols: Seq[String], valCol: String,
             groupCol: String, groupA: String, groupB: String): DataFrame = {
    val keys = keyCols.map(col)
    val perValue = df
      .where(col(groupCol) === groupA || col(groupCol) === groupB)
      .groupBy(keys :+ col(valCol).as("_v"): _*)
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("_a"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("_b"))
    val w = Window.partitionBy(keys: _*).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy(keys: _*)
    val cum = perValue
      .withColumn("_ca", sum(col("_a")).over(w))
      .withColumn("_cb", sum(col("_b")).over(w))
      .withColumn("_na", sum(col("_a")).over(whole))
      .withColumn("_nb", sum(col("_b")).over(whole))
    cum.groupBy(keys: _*)
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        max(abs(col("_ca") * col("_nb") - col("_cb") * col("_na")))
          .as("d_num"))
      .withColumn("ks_stat",
        when(col("n_a") > 0 && col("n_b") > 0,
          col("d_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double")))
  }

  /** Theil–Sen robust slope per key: the DISCRETE median (quantile_disc
    * element rule, q75 precedent) of all pairwise slopes
    * (x_j − x_i) / (t_j − t_i) over the (ts-unique) series — the trend
    * magnitude that one outlier day cannot drag, pairing with
    * [[mannKendall]]'s drift verdict. Each slope is ONE double division
    * of exact longs; the median picks an actual slope element, so the
    * result is engine-reproducible bit-for-bit.
    *
    * Same ROLLED-UP-SERIES contract as mannKendall: the pair enumeration
    * is n²/2 per key. Output: keys..., n_pairs, slope (NULL when the
    * series has < 2 points).
    */
  def theilSen(df: DataFrame, keyCols: Seq[String], tsCol: String,
               valCol: String, maxRows: Long = 1000000L): DataFrame = {
    requireSampleSized(df, "theilSen", maxRows)
    val keys = keyCols.map(col)
    val slim = df.select(keys ++ Seq(col(tsCol).cast("long").as("_t"),
      col(valCol).cast("long").as("_x")): _*)
    val slopes = slim.as("a").join(slim.as("b"),
        keyCols.map(k => col(s"a.$k") === col(s"b.$k"))
          .reduceOption(_ && _).getOrElse(lit(true)) &&
          col("a._t") < col("b._t"))
      .select(keyCols.map(k => col(s"a.$k").as(k)) :+
        ((col("b._x") - col("a._x")).cast("double") /
          (col("b._t") - col("a._t")).cast("double")).as("_s"): _*)
    val ranked = slopes
      .withColumn("_rn", row_number().over(
        Window.partitionBy(keys: _*).orderBy(col("_s"))))
      .withColumn("_np", count(lit(1)).over(Window.partitionBy(keys: _*)))
    val med = ranked
      .where(col("_rn") ===
        greatest(lit(1L), ceil(lit(0.5) * col("_np")).cast("long")))
      .select(keys ++ Seq(col("_np").as("n_pairs"), col("_s").as("slope")): _*)
    slim.groupBy(keys: _*).agg(count(lit(1)).as("_n"))
      .join(med, keyCols, "left")
      .select(keys ++ Seq(coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("slope")): _*)
  }

  /** Chi-square term keyness between two corpora — "which terms
    * over-index in A vs B" without libm: per term, the 2×2 contingency
    * (term count vs rest, corpus A vs B) yields
    * X² = N (ad − bc)² / ((a+b)(c+d)(a+c)(b+d)). The chain runs in
    * DOUBLES with a FIXED op order (counts cast first, then det,
    * products, one division) — deterministic and engine-reproducible,
    * and immune to the decimal(38) overflow exact products would hit
    * past ~10⁷ tokens; a ranking statistic needs determinism, not
    * exactness. `direction` is +1 when the term over-indexes in A.
    * Terms below `minCount` total are dropped.
    *
    * Scale shape: two combiner token aggregates (vocabulary-sized
    * output), a full-outer join on the term table, then row-local
    * arithmetic; the corpora never shuffle.
    */
  def chiSquareKeyness(a: DataFrame, b: DataFrame, textCol: String,
                       minCount: Long = 5L): DataFrame = {
    def counts(df: DataFrame): DataFrame = df
      .select(explode(Relevance.words(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    val ca = counts(a).withColumnRenamed("n", "n_a")
    val cb = counts(b).withColumnRenamed("n", "n_b")
    val joined = ca.join(cb, Seq("term"), "full")
      .select(col("term"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .where(col("n_a") + col("n_b") >= minCount)
    val tot = joined.agg(sum(col("n_a")).as("_ta"), sum(col("n_b")).as("_tb"))
    val aa = col("n_a").cast("double")
    val bb = col("n_b").cast("double")
    val cc = (col("_ta") - col("n_a")).cast("double")
    val dd = (col("_tb") - col("n_b")).cast("double")
    val n = (col("_ta") + col("_tb")).cast("double")
    val det = aa * dd - bb * cc
    val den = ((aa + bb) * (cc + dd)) * ((aa + cc) * (bb + dd))
    joined.crossJoin(broadcast(tot))
      .select(col("term"), col("n_a"), col("n_b"),
        when(den > 0.0, (n * (det * det)) / den).as("chi2"),
        signum(det).cast("long").as("direction"))
  }

  /** The Benford log10(1 + 1/d) expectations for d = 1..9 as FIXED
    * decimal literals — the [[benfordReport]] contract constants, shared
    * verbatim with any replaying engine (no run-time libm).
    */
  val BenfordExpected: Seq[Double] = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829993,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** Mann-Kendall monotonic-trend test per key over a (ts-unique) series:
    * S = Σ_{i<j} sign(x_j − x_i) in exact integers, tie-corrected
    * variance Var = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18 as ONE
    * double division of exact bigints, and the continuity-corrected
    * z = (S−sign(S)) / sqrt(Var) — the non-parametric "is this metric
    * drifting" answer that [[linearTrend]]'s OLS slope gives
    * parametrically. |z| > 1.96 ≈ 5% two-sided.
    *
    * INTENDED FOR ROLLED-UP SERIES (daily/hourly aggregates): the pair
    * enumeration is a per-key self-join — n²/2 pairs per key, bounded by
    * the series length, never by the raw corpus. Output: keys..., n,
    * s_stat, var_s, z (z NULL when Var = 0 — all values tied or n < 2).
    */
  def mannKendall(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  valCol: String, maxRows: Long = 1000000L): DataFrame = {
    requireSampleSized(df, "mannKendall", maxRows)
    val keys = keyCols.map(col)
    val slim = df.select(keys ++ Seq(col(tsCol).as("_t"),
      col(valCol).cast("long").as("_x")): _*)
    val pairs = slim.as("a").join(slim.as("b"),
        keyCols.map(k => col(s"a.$k") === col(s"b.$k"))
          .reduceOption(_ && _).getOrElse(lit(true)) &&
          col("a._t") < col("b._t"))
      .groupBy(keyCols.map(k => col(s"a.$k").as(k)): _*)
      .agg(sum(signum(col("b._x") - col("a._x")).cast("long")).as("s_stat"))
    val counts = slim.groupBy(keys: _*).agg(count(lit(1)).as("n"))
    val ties = slim.groupBy(keys :+ col("_x"): _*)
      .agg(count(lit(1)).as("_tg"))
      .groupBy(keys: _*)
      .agg(sum(col("_tg") * (col("_tg") - 1) * (col("_tg") * 2 + 5))
        .as("_tiecorr"))
    val joined = counts.join(ties, keyCols).join(pairs, keyCols, "left")
      .select(keys ++ Seq(col("n"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"),
        ((col("n") * (col("n") - 1) * (col("n") * 2 + 5) - col("_tiecorr"))
          .cast("double") / lit(18.0)).as("var_s")): _*)
    joined.withColumn("z",
      when(col("var_s") > 0.0,
        (col("s_stat") - signum(col("s_stat")).cast("long")).cast("double") /
          sqrt(col("var_s"))))
  }

  /** Benford first-digit audit of a positive integer metric — the
    * fabricated-data / synthetic-dump smell test: one row per leading
    * digit 1..9 with the observed count, observed share (one division),
    * the Benford expectation log10(1 + 1/d) as FIXED DECIMAL LITERALS
    * (shared verbatim with any replaying engine — no libm at run time),
    * and the signed deviation. Values < 1 are excluded (no leading
    * digit); the exclusion count is every caller's row count minus
    * Σ n. One combiner groupBy on a 9-value key; zero windows.
    */
  def benfordReport(df: DataFrame, valCol: String): DataFrame = {
    val expected = BenfordExpected
    val v = col(valCol).cast("long")
    val digit = substring(v.cast("string"), 1, 1).cast("long")
    val counts = df.where(v >= 1L)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    val digits = df.sparkSession.range(1, 10).select(col("id").as("digit"))
    val exp = expected.zipWithIndex.foldRight(lit(Double.NaN)) {
      case ((e, i), acc) => when(col("digit") === (i + 1), lit(e)).otherwise(acc)
    }
    val tot = counts.agg(coalesce(sum(col("n")), lit(0L)).as("_tot"))
    digits.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(tot))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        when(col("_tot") > 0,
          coalesce(col("n"), lit(0L)).cast("double") / col("_tot").cast("double"))
          .as("share"),
        exp.as("expected_share"))
      .withColumn("deviation", col("share") - col("expected_share"))
  }

  /** Exact decision-stump feature ranking: for every (feature, candidate
    * threshold) pair, the weighted Gini impurity of the split
    * `feature <= t` vs `> t` against a categorical label — "which signal
    * separates the classes best", the curation-classifier feature audit.
    * Candidate thresholds are the feature's EXACT discrete quantiles
    * ([[quantilesDisc]], dyadic qs), so the whole computation is
    * count-based:
    *
    *   weighted_gini = [ (nL² − Σ_c nL_c²) / nL + (nR² − Σ_c nR_c²) / nR ] / n
    *
    * with every numerator an exact bigint and the three divisions in
    * fixed order — engine-replayable. A side with 0 rows contributes 0.
    * Lower = better split; 0 = pure sides.
    *
    * Output: (feature, q, threshold, n_left, n_right, weighted_gini).
    * Scale shape: per feature, ONE slim (value, label) projection joined
    * to a broadcast |qs|-row threshold table, then a combiner groupBy
    * with output bounded by |features| × |qs| × 2 × |labels|. The
    * threshold pass itself is a corpus-level discrete quantile — a
    * single per-feature sort (the [[quantilesDisc]] global-group
    * contract); at 100 TB compute thresholds on a stratified sample or
    * per partition key, exactly as that scaladoc prescribes.
    */
  def giniSplits(df: DataFrame, labelCol: String, featureCols: Seq[String],
                 qs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    val perFeature = featureCols.map { f =>
      val thr = quantilesDisc(df.select(col(f), col(labelCol)), Nil, f, qs)
        .select(col("q"), col(s"${f}_q").cast("long").as("thr"))
      val sided = df.select(col(f).cast("long").as("_v"),
          col(labelCol).cast("string").as("_y"))
        .crossJoin(broadcast(thr))
        .withColumn("_side", when(col("_v") <= col("thr"), "L").otherwise("R"))
        .groupBy(col("q"), col("thr"), col("_side"), col("_y"))
        .agg(count(lit(1)).as("_n"))
      val dec = "decimal(38,0)"
      val bySide = sided.groupBy(col("q"), col("thr"), col("_side"))
        .agg(sum("_n").as("_ns"),
          sum(col("_n").cast(dec) * col("_n").cast(dec)).as("_sq"))
      bySide.groupBy(col("q"), col("thr"))
        .agg(
          coalesce(sum(when(col("_side") === "L", col("_ns"))), lit(0L))
            .as("n_left"),
          coalesce(sum(when(col("_side") === "R", col("_ns"))), lit(0L))
            .as("n_right"),
          coalesce(sum(when(col("_side") === "L",
            col("_ns").cast(dec) * col("_ns").cast(dec) - col("_sq"))),
            lit(0L).cast(dec)).as("_gl"),
          coalesce(sum(when(col("_side") === "R",
            col("_ns").cast(dec) * col("_ns").cast(dec) - col("_sq"))),
            lit(0L).cast(dec)).as("_gr"))
        .select(lit(f).as("feature"), col("q"), col("thr").as("threshold"),
          col("n_left"), col("n_right"),
          ((when(col("n_left") > 0,
              col("_gl").cast("double") / col("n_left").cast("double"))
              .otherwise(lit(0.0)) +
            when(col("n_right") > 0,
              col("_gr").cast("double") / col("n_right").cast("double"))
              .otherwise(lit(0.0))) /
            (col("n_left") + col("n_right")).cast("double"))
            .as("weighted_gini"))
    }
    perFeature.reduce(_ unionByName _)
  }

  /** Exact one-sided CUSUM change-point statistic per key: with
    * d_i = x_i − target − slack over the (ts, tie)-ordered series,
    *
    *   S_k = max(0, S_{k−1} + d_k)  =  P_k − min(0, P_1..P_k)
    *
    * via the prefix-sum identity, so the recursive definition becomes TWO
    * stock window functions (prefix sum + running min) — pure bigint
    * arithmetic, no recursion, replayable by any SQL engine with the same
    * ORDER BY. Rows where S crosses `threshold` flag `cusum_alarm` — the
    * sequential drift detector (a sustained upward shift accumulates;
    * isolated spikes decay back through the max(0, ·) floor) that
    * complements q158's per-day burst z-scores.
    *
    * Output: input columns + cusum (long) + cusum_alarm. Scale shape: one
    * per-key window over a slim projection; parallelism = key count.
    * `tieBreak` must make the order total or the prefix is ambiguous.
    */
  def cusum(df: DataFrame, keyCols: Seq[String], tsCol: String,
            valCol: String, target: Long, slack: Long,
            threshold: Long, tieBreak: Seq[String] = Nil): DataFrame = {
    require(threshold > 0, "threshold must be > 0")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val d = col(valCol).cast("long") - lit(target) - lit(slack)
    df.withColumn("_p", sum(d).over(w))
      .withColumn("cusum", col("_p") - least(lit(0L), min(col("_p")).over(w)))
      .withColumn("cusum_alarm", col("cusum") > threshold)
      .drop("_p")
  }

  /** Fixed cumulative thresholds for the deterministic Poisson(1)
    * resampling draw in [[bootstrapMeanCI]] (k = 0..6; above the last →
    * weight 7). Hard-coded decimal literals — NOT computed — so an
    * external engine pasting the same literals reproduces every weight
    * bit-for-bit (math.exp is not contractually identical across
    * platforms; these constants are the contract).
    */
  val PoissonCdf1: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712)

  /** Deterministic Poisson bootstrap CI for the mean of an INTEGER metric
    * — error bars on a corpus statistic with zero RNG state: resample
    * weight for (row, rep) is the Poisson(1) inverse-CDF of
    * u = md5(id, rep, seed) (the [[graft.ops.Reporting.dpCounts]] draw
    * pattern), each rep's mean is one double division of exact bigint
    * sums, and the CI bounds are EXACT discrete quantiles of the B rep
    * means (dyadic loQ/hiQ, quantile_disc element rule). Fully replayable
    * by an external SQL engine; reruns are bit-identical.
    *
    * Output one row: n, mean, ci_lo, ci_hi, n_boot. Scale shape: one
    * B-way explode of a slim (id, value) projection + a B-row aggregate —
    * cost is B scans' worth of combiner aggregation, no window over the
    * corpus (the rep-means table is B rows).
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valCol: String,
                      b: Int = 32, seed: String = "bs",
                      loQ: Double = 0.125, hiQ: Double = 0.875): DataFrame = {
    require(b >= 2, "need at least 2 bootstrap reps")
    require(0.0 < loQ && loQ < hiQ && hiQ <= 1.0, "need 0 < loQ < hiQ <= 1")
    val slim = df.select(col(idCol).cast("string").as("_id"),
      col(valCol).cast("long").as("_v"))
    val reps = slim.withColumn("_r", explode(sequence(lit(1), lit(b))))
    val rank = conv(substring(md5(concat_ws("\u0001", col("_id"),
      col("_r").cast("string"), lit(seed)).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val u = (rank.cast("double") + lit(0.5)) / lit(4294967296.0)
    val wgt = PoissonCdf1.zipWithIndex.foldRight(lit(PoissonCdf1.size.toLong)) {
      case ((thr, k), acc) => when(u < thr, lit(k.toLong)).otherwise(acc)
    }
    val means = reps.withColumn("_w", wgt)
      .groupBy(col("_r"))
      .agg(sum(col("_w") * col("_v")).as("_s"), sum(col("_w")).as("_n"))
      .where(col("_n") > 0L)
      .select((col("_s").cast("double") / col("_n").cast("double")).as("_m"))
    val ranked = means
      .withColumn("_rn", row_number().over(Window.orderBy(col("_m"))))
      .withColumn("_nb", count(lit(1)).over(Window.partitionBy()))
    val ci = ranked.agg(
      min(when(col("_rn") ===
        greatest(lit(1L), ceil(lit(loQ) * col("_nb")).cast("long")),
        col("_m"))).as("ci_lo"),
      min(when(col("_rn") ===
        greatest(lit(1L), ceil(lit(hiQ) * col("_nb")).cast("long")),
        col("_m"))).as("ci_hi"),
      count(lit(1)).as("n_boot"))
    val full = df.agg(count(lit(1)).as("n"),
      (sum(col(valCol).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("mean"))
    full.crossJoin(ci)
  }

  /** Spearman rank correlation (tie-aware) between two numeric columns:
    * Pearson over DOUBLED average tie ranks — 2·avgrank = 2·rank_min +
    * ties − 1 stays an exact integer, so every accumulated sum is exact
    * decimal(38,0) arithmetic and the only floating ops are the final
    * fixed-order divisions/sqrts (engine-reproducible bit-for-bit).
    * Returns one row: n, rho (NULL when either column is constant).
    *
    * INTENDED FOR SAMPLES AND RANKED LISTS (the [[kendallTau]] contract):
    * ranking uses two single-partition windows, so n must fit one task —
    * feed it top-k tables or drawn samples, not the raw corpus. Exact-sum
    * headroom: 4n⁴ < 10³⁸ holds to n ≈ 10⁹, far past the window's reach.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String,
               maxRows: Long = 10000000L): DataFrame = {
    requireSampleSized(df, "spearman", maxRows)
    val dec = "decimal(38,0)"
    // partitionBy(lit(0)): global frame with a non-empty partition spec —
    // same rows, no WindowExec single-partition warning in-contract
    def doubled(c: String): Column =
      (rank().over(Window.partitionBy(lit(0)).orderBy(col(c))) * 2 +
        count(lit(1)).over(Window.partitionBy(col(c))) - 1).cast(dec)
    val ranked = df.select(col(xCol), col(yCol))
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn("_rx", doubled(xCol))
      .withColumn("_ry", doubled(yCol))
    val agg = ranked.agg(
      count(lit(1)).cast(dec).as("_n"),
      sum(col("_rx")).as("_sx"), sum(col("_ry")).as("_sy"),
      sum(col("_rx") * col("_rx")).as("_sxx"),
      sum(col("_ry") * col("_ry")).as("_syy"),
      sum(col("_rx") * col("_ry")).as("_sxy"))
    val num = (col("_n") * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val dx = (col("_n") * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val dy = (col("_n") * col("_syy") - col("_sy") * col("_sy")).cast("double")
    agg.select(col("_n").cast("long").as("n"),
      when(dx > 0 && dy > 0, num / (sqrt(dx) * sqrt(dy))).as("rho"))
  }

  /** Multi-class classification report from (label, prediction) pairs:
    * one row per class with exact integer counts — n_true (row sum),
    * n_pred (column sum), tp — and precision / recall / f1 as SINGLE
    * double divisions of those bigints, so every value is replayable by an
    * external engine. f1 uses the algebraic identity
    * 2·tp / (n_true + n_pred) (the harmonic mean of precision and recall
    * without the intermediate p·r rounding), and a class never predicted
    * (or never true) yields NULL precision (recall) rather than 0/0.
    *
    * Companion to q155's [[binaryEval]]: that op ranks scores (AUC /
    * calibration); this one grades hard label assignments — the quality
    * gate for a lang-id or topic classifier before its labels route
    * corpus curation.
    *
    * Scale shape: ONE combiner groupBy(label, pred) — the shuffle is the
    * confusion matrix, |classes|² rows, regardless of corpus size — then
    * class-level conditional sums over that tiny table. Output is ordered
    * downstream by the caller; rows = distinct labels ∪ predictions.
    */
  def classificationReport(df: DataFrame, labelCol: String,
                           predCol: String): DataFrame = {
    val conf = df.groupBy(col(labelCol).as("_l"), col(predCol).as("_p"))
      .agg(count(lit(1)).as("_n"))
    // one row per class present on either axis
    val classes = conf.select(col("_l").as("clazz"))
      .union(conf.select(col("_p"))).distinct()
    val byTrue = conf.groupBy(col("_l").as("clazz"))
      .agg(sum("_n").as("n_true"),
        sum(when(col("_l") === col("_p"), col("_n")).otherwise(0L)).as("tp"))
    val byPred = conf.groupBy(col("_p").as("clazz"))
      .agg(sum("_n").as("n_pred"))
    classes.join(byTrue, Seq("clazz"), "left").join(byPred, Seq("clazz"), "left")
      .select(col("clazz"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision",
        when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred").cast("double")))
      .withColumn("recall",
        when(col("n_true") > 0,
          col("tp").cast("double") / col("n_true").cast("double")))
      .withColumn("f1",
        when(col("n_true") + col("n_pred") > 0,
          (col("tp") * 2).cast("double") /
            (col("n_true") + col("n_pred")).cast("double")))
  }

  /** Inter-rater / classifier-vs-gold agreement: one row with n, n_agree,
    * accuracy (= observed agreement p_o), expected chance agreement p_e
    * and Cohen's kappa = (p_o − p_e) / (1 − p_e). p_e is
    * Σ_c n_true_c · n_pred_c / n², kept in exact bigints until the one
    * division (overflows only past n ≈ 3·10⁹ — eval sets are orders of
    * magnitude smaller; the op is for graded samples, not the corpus).
    * The kappa division chain is fixed-order IEEE double ops, so an
    * external engine writing the same expressions reproduces it bit-exact.
    * Degenerate case p_e = 1 (both raters constant) yields NULL kappa.
    *
    * Scale shape: same |classes|²-row confusion-matrix shuffle as
    * [[classificationReport]], then a single-row aggregate of it.
    */
  def agreementStats(df: DataFrame, labelCol: String,
                     predCol: String): DataFrame = {
    val conf = df.groupBy(col(labelCol).as("_l"), col(predCol).as("_p"))
      .agg(count(lit(1)).as("_n"))
    val byTrue = conf.groupBy(col("_l").as("_c")).agg(sum("_n").as("_nt"))
    val byPred = conf.groupBy(col("_p").as("_c")).agg(sum("_n").as("_np"))
    val cross = byTrue.join(byPred, Seq("_c"), "full")
      .agg(sum(coalesce(col("_nt"), lit(0L)) * coalesce(col("_np"), lit(0L)))
        .as("_sumprod"))
    val tot = conf.agg(sum("_n").as("n"),
      sum(when(col("_l") === col("_p"), col("_n")).otherwise(0L)).as("n_agree"))
    val po = col("n_agree").cast("double") / col("n").cast("double")
    val pe = col("_sumprod").cast("double") / (col("n") * col("n")).cast("double")
    tot.crossJoin(cross)
      .select(col("n"), col("n_agree"), po.as("accuracy"), pe.as("expected_agreement"))
      .withColumn("kappa",
        when(col("expected_agreement") < 1.0,
          (col("accuracy") - col("expected_agreement")) /
            (lit(1.0) - col("expected_agreement"))))
  }

  /** Wald's sequential probability ratio test per key over a Bernoulli
    * stream: after t trials with k successes the log-likelihood ratio is
    *
    *   llr_t = k·ln(p1/p0) + (t−k)·ln((1−p1)/(1−p0))
    *
    * and the test stops at the first t where llr ≥ upper (accept H1:p=p1)
    * or llr ≤ lower (accept H0:p=p0). k and t are exact window COUNTS, so
    * llr is two double multiplies + one add per row from integers — no
    * accumulated float recursion — and any engine given the same four
    * double constants replays every comparison bit-for-bit (pass the
    * [[sprtWeights]] values into the external SQL as literals, the
    * [[PoissonCdf1]] pattern: ln is not contractually identical across
    * libm implementations, so the CONSTANTS are the contract, not the
    * formula).
    *
    * The first crossing is selected with an integer min over
    * m = 2·t + (llr ≥ upper), so "which bound, and when" travels through
    * one aggregate with no argmin struct tricks an external engine might
    * order differently.
    *
    * Output per key: n_trials, n_success, decided_at (null = no decision),
    * decision ('accept_h1' | 'accept_h0' | 'continue'). Scale shape: one
    * per-key window over a slim projection + one per-key aggregate;
    * parallelism = key count. `tieBreak` must make the order total.
    */
  def sprt(df: DataFrame, keyCols: Seq[String], tsCol: String,
           successCol: String, p0: Double, p1: Double,
           lower: Double, upper: Double,
           tieBreak: Seq[String] = Nil): DataFrame = {
    require(0 < p0 && p0 < 1 && 0 < p1 && p1 < 1 && p0 != p1,
      "p0, p1 must be distinct probabilities in (0, 1)")
    require(lower < 0 && upper > 0, "need lower < 0 < upper log-bounds")
    val (cSucc, cFail) = sprtWeights(p0, p1)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val t = count(lit(1)).over(w)
    val k = sum(when(col(successCol), 1L).otherwise(0L)).over(w)
    val llr = k.cast("double") * lit(cSucc) +
      (t - k).cast("double") * lit(cFail)
    val m = when(llr >= upper || llr <= lower,
      t * 2 + when(llr >= upper, 1L).otherwise(0L))
    df.select(keyCols.map(col) :+ col(successCol).as("_s") :+
        t.as("_t") :+ k.as("_k") :+ m.as("_m"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("_t")).as("n_trials"), max(col("_k")).as("n_success"),
        min(col("_m")).as("_mm"))
      .select(keyCols.map(col) :+ col("n_trials") :+ col("n_success") :+
        expr("_mm div 2").as("decided_at") :+
        when(col("_mm").isNull, "continue")
          .when(col("_mm") % 2 === 1, "accept_h1")
          .otherwise("accept_h0").as("decision"): _*)
  }

  /** The two SPRT per-trial log-likelihood increments (success, failure)
    * for H0:p=p0 vs H1:p=p1 — computed ONCE on the JVM and treated as the
    * cross-engine contract (interpolate into external SQL as literals).
    */
  def sprtWeights(p0: Double, p1: Double): (Double, Double) =
    (math.log(p1 / p0), math.log((1 - p1) / (1 - p0)))

  /** Calibration (reliability) table for a scored binary classifier:
    * scores arrive in exact FIXED-POINT milli-units (0..1000 — the
    * deterministic form a score column should take at 100 TB anyway; one
    * double division happens per BIN, not per row), bin b of `bins` is
    * `min(score·bins div 1000, bins−1)` (equal-width, top edge closed),
    * and each bin reports exact counts plus mean_score, frac_pos and the
    * signed calibration gap — every double a single division/subtraction
    * of exact bigints, so the table is bit-replayable and the weighted
    * |gap| sum is the standard ECE.
    *
    * Output per non-empty bin: bin, n, sum_score_milli, n_pos,
    * mean_score, frac_pos, gap (frac_pos − mean_score). Scale shape: one
    * `bins`-row combiner aggregate over a slim projection — no window, no
    * shuffle beyond the k-row exchange.
    */
  def calibrationBins(df: DataFrame, scoreMilliCol: String,
                      labelCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, "need at least 2 bins")
    val b = least(expr(s"cast($scoreMilliCol as bigint) * $bins div 1000"),
      lit(bins - 1L))
    df.select(b.as("bin"), col(scoreMilliCol).cast("long").as("_s"),
        col(labelCol).cast("boolean").as("_y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_s")).as("sum_score_milli"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"))
      .withColumn("mean_score", col("sum_score_milli").cast("double") /
        (col("n") * 1000L).cast("double"))
      .withColumn("frac_pos",
        col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("gap", col("frac_pos") - col("mean_score"))
  }

  /** Forecast evaluation per key against the one-step NAIVE baseline —
    * the honest "is the model better than copying yesterday" scorecard:
    * over the (ts, tie)-ordered series, MAE of the prediction and MAE of
    * the naive lag-1 forecast are EXACT integer sums of absolute errors
    * (rows without a lag — each key's first — are excluded from BOTH so
    * the comparison is like-for-like), and
    *
    *   MASE = mae_pred / mae_naive
    *
    * is one division of two one-division doubles. mase is null when the
    * naive error is 0 (a constant series can't be beaten honestly).
    *
    * Output per key: n (scored rows), sum_abs_err, sum_abs_naive_err,
    * mae_pred, mae_naive, mase. Scale shape: one per-key window (lag) +
    * one combiner aggregate. */
  def forecastEval(df: DataFrame, keyCols: Seq[String], tsCol: String,
                   actualCol: String, predCol: String,
                   tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val a = col(actualCol).cast("long")
    val p = col(predCol).cast("long")
    val naive = lag(a, 1).over(w)
    val scored = df
      .select(keyCols.map(col) :+ a.as("_a") :+ p.as("_p") :+
        naive.as("_n"): _*)
      .where(col("_n").isNotNull)
    scored.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(abs(col("_a") - col("_p"))).as("sum_abs_err"),
        sum(abs(col("_a") - col("_n"))).as("sum_abs_naive_err"))
      .withColumn("mae_pred",
        col("sum_abs_err").cast("double") / col("n").cast("double"))
      .withColumn("mae_naive",
        col("sum_abs_naive_err").cast("double") / col("n").cast("double"))
      .withColumn("mase", when(col("sum_abs_naive_err") > 0,
        (col("sum_abs_err").cast("double") / col("n").cast("double")) /
          (col("sum_abs_naive_err").cast("double") /
            col("n").cast("double"))))
  }

  /** Mann–Whitney rank-sum test + Cliff's delta between two groups —
    * the unpaired nonparametric companion to [[wilcoxonSignedRank]]
    * (and the robust alternative to [[welchTest]] when outliers own the
    * mean): DOUBLED integer tie ranks (the [[spearman]] device) keep the
    * rank sum exact, `u2 = 2·U_A = R_A² − n_a(n_a+1)` stays a bigint,
    * Cliff's effect size falls out as `u2/(n_a·n_b) − 1` (one division),
    * and the tie-corrected normal z uses the fixed textbook variance —
    * divisions and one IEEE sqrt, replayable anywhere.
    *
    * Sample-scale contract (the [[spearman]] caveat): the rank windows
    * are global — run it per stratum at corpus scale, not over one
    * unbounded group. Output one row: n_a, n_b, u2, cliffs_delta, z.
    */
  def mannWhitney(df: DataFrame, groupCol: String, valCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val slim = df
      .where(col(groupCol).isin(groupA, groupB) && col(valCol).isNotNull)
      .select((col(groupCol) === groupA).as("_isA"),
        col(valCol).cast("long").as("_v"))
    val dbl = (rank().over(Window.orderBy(col("_v"))) * 2 +
      count(lit(1)).over(Window.partitionBy(col("_v"))) - 1).cast("long")
    val agg = slim.withColumn("_dr", dbl).agg(
      sum(when(col("_isA"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("_isA"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("_isA"), col("_dr")).otherwise(0L)).as("_ra2"))
    val ties = slim.groupBy(col("_v")).agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(col("_t") * col("_t") * col("_t") - col("_t")),
        lit(0L)).as("_tcorr"))
    val u2 = col("_ra2") - col("n_a") * (col("n_a") + 1)
    val n = col("n_a") + col("n_b")
    val prodD = (col("n_a") * col("n_b")).cast("double")
    val varU = prodD / 12.0 *
      ((n + 1).cast("double") -
        col("_tcorr").cast("double") / (n * (n - 1)).cast("double"))
    val z = (u2.cast("double") / 2.0 - prodD / 2.0) / sqrt(varU)
    agg.crossJoin(ties)
      .select(col("n_a"), col("n_b"), u2.as("u2"),
        (u2.cast("double") / prodD - 1.0).as("cliffs_delta"),
        when(col("n_a") > 0 && col("n_b") > 0 && varU > 0.0, z).as("z"))
  }

  /** Difference-in-differences point estimate: with a treated/control
    * flag and a pre/post flag, DiD = (ȳ_T,post − ȳ_T,pre) −
    * (ȳ_C,post − ȳ_C,pre) — the standard "parallel trends" causal read
    * of a rollout (did the new crawler policy change fetch latency
    * beyond what the control fleet drifted). Four cell means, each ONE
    * double division of exact bigint sums; the estimate is three IEEE
    * subtractions. Cells with no rows make the estimate null rather
    * than silently zero.
    *
    * Output one row: n per cell, mean per cell (t_pre, t_post, c_pre,
    * c_post), did. Scale shape: one combiner aggregate, no shuffle
    * beyond the single-row exchange. */
  def diffInDiff(df: DataFrame, treatedCol: String, postCol: String,
                 valCol: String): DataFrame = {
    def cell(tag: String, cond: Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, col(valCol).cast("long")).otherwise(0L)).as(s"_s_$tag"))
    val t = col(treatedCol).cast("boolean")
    val p = col(postCol).cast("boolean")
    val cells = cell("t_pre", t && !p) ++ cell("t_post", t && p) ++
      cell("c_pre", !t && !p) ++ cell("c_post", !t && p)
    def mean(tag: String) = when(col(s"n_$tag") > 0,
      col(s"_s_$tag").cast("double") / col(s"n_$tag").cast("double"))
    df.agg(cells.head, cells.tail: _*)
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
        col("n_c_post"), mean("t_pre").as("mean_t_pre"),
        mean("t_post").as("mean_t_post"), mean("c_pre").as("mean_c_pre"),
        mean("c_post").as("mean_c_post"))
      .withColumn("did",
        (col("mean_t_post") - col("mean_t_pre")) -
          (col("mean_c_post") - col("mean_c_pre")))
  }

  /** Wilson score lower bound per key — the "sort by rating" rule that
    * doesn't let 1-for-1 beat 480-for-500: with p̂ = k/n and a FIXED z
    * literal (caller-supplied, default 1.96; the constant is part of the
    * contract, not derived from any erf), the bound is the closed-form
    *
    *   (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    *
    * — divisions, multiplies and one correctly-rounded sqrt, all
    * bit-replayable. Keys with n = 0 are absent by construction.
    *
    * Output per key: n, n_success, p_hat, wilson_lb. Scale shape: one combiner
    * aggregate + a narrow row expression. */
  def wilsonLowerBound(df: DataFrame, keyCols: Seq[String],
                       successCol: String, z: Double = 1.96): DataFrame = {
    require(z > 0, "z must be positive")
    val agged = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col(successCol), 1L).otherwise(0L)).as("n_success"))
    val n = col("n").cast("double")
    val p = col("n_success").cast("double") / n
    val z2 = lit(z * z)
    val lb = (p + z2 / (lit(2.0) * n) -
      lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))) /
      (lit(1.0) + z2 / n)
    agged.withColumn("p_hat", p).withColumn("wilson_lb", lb)
  }

  /** Kaplan–Meier survival estimator per key over (duration, event)
    * observations (how long until a page goes stale / a user churns /
    * a crawl stops revisiting — right-censored rows carry
    * `eventCol = false`): at each distinct duration t with d events out
    * of n at risk, S(t) multiplies by (n−d)/n, events-before-censoring
    * at equal t (the textbook convention). The risk counts are EXACT
    * suffix sums over the per-(key, t) aggregate; the survival curve is
    * a deterministic LEFT-FOLD product over the sorted factor list (the
    * [[graft.temporal.Windows.ewmaHalf]] recipe — IEEE multiply/divide
    * replayed in order by a recursive-CTE oracle is bit-identical).
    *
    * Bounded-group contract: distinct durations per key are collected to
    * one array (time-grid-bounded, not corpus-bounded). Output per
    * (key, t): n_at_risk, n_events, n_censored, survival. Scale shape:
    * one combiner aggregate to the (key, t) grid, one per-key window
    * over the grid, one per-key fold.
    */
  def kaplanMeier(df: DataFrame, keyCols: Seq[String], durationCol: String,
                  eventCol: String): DataFrame = {
    val perT = df
      .select(keyCols.map(col) :+ col(durationCol).cast("long").as("t") :+
        col(eventCol).cast("boolean").as("_e"): _*)
      .groupBy(keyCols.map(col) :+ col("t"): _*)
      .agg(sum(when(col("_e"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("_e"), 1L).otherwise(0L)).as("c"))
    val wDesc = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val risked = perT.withColumn("n", sum(col("d") + col("c")).over(wDesc))
    val folded = risked
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(struct(col("t"), col("d"), col("c"),
        col("n")))).as("_seq"))
      .withColumn("_s", expr(
        "aggregate(_seq, cast(array() as array<double>), (acc, e) -> " +
          "acc || array(if(size(acc) = 0, 1.0d, element_at(acc, -1)) * " +
          "(cast(e.n - e.d as double) / cast(e.n as double))))"))
    folded
      .select(keyCols.map(col) :+ col("_s") :+
        posexplode(col("_seq")).as(Seq("_i", "_e")): _*)
      .select(keyCols.map(col) :+ col("_e.t").as("t") :+
        col("_e.n").as("n_at_risk") :+ col("_e.d").as("n_events") :+
        col("_e.c").as("n_censored") :+
        element_at(col("_s"), col("_i") + 1).as("survival"): _*)
  }

  /** Burstiness index of a keyed event stream — the Goh–Barabási
    * B = (σ−μ)/(σ+μ) over inter-event gaps: −1 ≈ perfectly periodic
    * (crawler-friendly cadence), 0 ≈ Poisson, →1 ≈ bursty (event storms,
    * bot bursts). Gap moments are EXACT integer window sums; μ, σ and B
    * are a fixed handful of IEEE divisions plus one correctly-rounded
    * sqrt ([[graft.ops.Relevance.itemSimilarity]]'s argument), so any
    * engine replays them bit-for-bit. Variance uses the population form
    * Σg²/n − μ² (deterministic; documented in preference to a second
    * pass). Keys with < 2 gaps report null std/burstiness.
    *
    * Output per key: n_gaps, sum_gap_s, mean_gap_s, std_gap_s,
    * burstiness. Scale shape: one per-key window for the lag + one
    * combiner aggregate. */
  def burstiness(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val sec = col(tsCol).cast("timestamp").cast("long")
    val gap = (sec - lag(sec, 1).over(w)).as("_g")
    val gaps = df.select(keyCols.map(col) :+ gap: _*)
      .where(col("_g").isNotNull)
    val agged = gaps.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_gaps"), sum(col("_g")).as("sum_gap_s"),
        sum(col("_g") * col("_g")).as("_sq"))
    val m = col("sum_gap_s").cast("double") / col("n_gaps").cast("double")
    val variance = col("_sq").cast("double") / col("n_gaps").cast("double") -
      (col("sum_gap_s").cast("double") / col("n_gaps").cast("double")) *
        (col("sum_gap_s").cast("double") / col("n_gaps").cast("double"))
    val s = sqrt(greatest(variance, lit(0.0)))
    agged
      .withColumn("mean_gap_s", m)
      .withColumn("std_gap_s", when(col("n_gaps") >= 2, s))
      .withColumn("burstiness",
        when(col("n_gaps") >= 2 && (s + m) > 0.0, (s - m) / (s + m)))
      .drop("_sq")
  }

  /** 2×2 exposure/outcome table with risk and odds ratios — the
    * epidemiology read of a rollout ("exposed to the new parser → parse
    * failure?"): exact cell counts a/b/c/d, each reported ratio ONE
    * division (or a ratio of two one-division doubles), nulls where a
    * marginal or denominator cell is 0 rather than infinities.
    *
    * Output one row: n_exposed_pos (a), n_exposed_neg (b),
    * n_control_pos (c), n_control_neg (d), risk_exposed, risk_control,
    * relative_risk, odds_ratio. One combiner aggregate. */
  def twoByTwo(df: DataFrame, exposedCol: String,
               outcomeCol: String): DataFrame = {
    val e = col(exposedCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    val agged = df.agg(
      sum(when(e && o, 1L).otherwise(0L)).as("n_exposed_pos"),
      sum(when(e && !o, 1L).otherwise(0L)).as("n_exposed_neg"),
      sum(when(!e && o, 1L).otherwise(0L)).as("n_control_pos"),
      sum(when(!e && !o, 1L).otherwise(0L)).as("n_control_neg"))
    val a = col("n_exposed_pos"); val b = col("n_exposed_neg")
    val c = col("n_control_pos"); val d = col("n_control_neg")
    val riskE = when(a + b > 0,
      a.cast("double") / (a + b).cast("double"))
    val riskC = when(c + d > 0,
      c.cast("double") / (c + d).cast("double"))
    agged
      .withColumn("risk_exposed", riskE)
      .withColumn("risk_control", riskC)
      .withColumn("relative_risk",
        when(riskC.isNotNull && riskC > 0.0 && riskE.isNotNull,
          riskE / riskC))
      .withColumn("odds_ratio", when(b > 0 && c > 0 && d > 0,
        (a.cast("double") * d.cast("double")) /
          (b.cast("double") * c.cast("double"))))
  }

  /** Cohen's d standardized mean difference between two groups — the
    * effect SIZE the [[welchTest]] p-value deliberately doesn't tell
    * you: d = (x̄_A − x̄_B) / s_pooled with the pooled SAMPLE variance
    * ((n_A−1)s²_A + (n_B−1)s²_B)/(n_A+n_B−2), every s² a fixed ratio of
    * exact integer sums (n·Σx² − (Σx)² over n(n−1)), one sqrt. Null
    * when either group has < 2 rows or the pooled variance is 0.
    *
    * Output one row: n_a, n_b, mean_a, mean_b, d. One combiner
    * aggregate. */
  def cohensD(df: DataFrame, groupCol: String, valCol: String,
              groupA: String, groupB: String): DataFrame = {
    def cell(tag: String, cond: Column) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$tag"),
      sum(when(cond, col(valCol).cast("long")).otherwise(0L))
        .as(s"_s_$tag"),
      sum(when(cond, col(valCol).cast("long") * col(valCol).cast("long"))
        .otherwise(0L)).as(s"_q_$tag"))
    val g = col(groupCol)
    val cells = cell("a", g === groupA) ++ cell("b", g === groupB)
    val agged = df.where(g.isin(groupA, groupB))
      .agg(cells.head, cells.tail: _*)
    def mean(t: String) =
      col(s"_s_$t").cast("double") / col(s"n_$t").cast("double")
    def ss(t: String) = // (n-1)*s^2 = sum_sq - sum^2/n, exact-rational form
      (col(s"_q_$t").cast("double") -
        col(s"_s_$t").cast("double") * col(s"_s_$t").cast("double") /
          col(s"n_$t").cast("double"))
    val pooledVar = (ss("a") + ss("b")) /
      (col("n_a") + col("n_b") - 2).cast("double")
    agged.select(col("n_a"), col("n_b"), mean("a").as("mean_a"),
        mean("b").as("mean_b"),
        when(col("n_a") >= 2 && col("n_b") >= 2 && pooledVar > 0.0,
          (mean("a") - mean("b")) / sqrt(pooledVar)).as("d"))
  }

  /** Matthews correlation coefficient from a binary confusion matrix —
    * the single classifier number that survives class imbalance
    * (accuracy and F1 both don't): with exact tp/tn/fp/fn counts,
    * MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)), one sqrt
    * over a product of bigints (cast to double BEFORE multiplying so
    * 10⁹-row cells cannot overflow int64). Null when any marginal is 0.
    *
    * Output one row: tp, tn, fp, fn, mcc. One combiner aggregate. */
  def mcc(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val p = col(predCol).cast("boolean")
    val agged = df.agg(
      sum(when(y && p, 1L).otherwise(0L)).as("tp"),
      sum(when(!y && !p, 1L).otherwise(0L)).as("tn"),
      sum(when(!y && p, 1L).otherwise(0L)).as("fp"),
      sum(when(y && !p, 1L).otherwise(0L)).as("fn"))
    val denom = sqrt((col("tp") + col("fp")).cast("double") *
      (col("tp") + col("fn")).cast("double") *
      (col("tn") + col("fp")).cast("double") *
      (col("tn") + col("fn")).cast("double"))
    agged.withColumn("mcc", when(denom > 0.0,
      (col("tp").cast("double") * col("tn").cast("double") -
        col("fp").cast("double") * col("fn").cast("double")) / denom))
  }

  /** Exact 1-D earth mover's (Wasserstein-1) distance between two
    * integer distributions — the ORDINAL drift metric PSI and the KS
    * statistic both flatten (PSI ignores how FAR mass moved, KS only
    * sees the worst point): W₁ = ∫|F_a − F_b| dx over the merged value
    * grid, computed as the exact bigint
    *
    *   Σ_gaps |cum_a·n_b − cum_b·n_a| · Δx   /   (n_a·n_b)
    *
    * (cross-multiplied CDFs — no per-term fractions to re-add in engine
    * order; ONE terminal division). Value-grid contract: the cumulative
    * window runs over DISTINCT values (quantize first if continuous).
    *
    * Output one row: n_a, n_b, emd_scaled (the bigint numerator), emd.
    */
  def emd1d(a: DataFrame, b: DataFrame, valCol: String): DataFrame = {
    def side(df: DataFrame, tag: String) = df
      .select(col(valCol).cast("long").as("_v"))
      .groupBy(col("_v")).agg(count(lit(1)).as(s"_c$tag"))
    val grid = side(a, "a").join(side(b, "b"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
    val w = Window.orderBy(col("_v"))
    val cum = grid
      .withColumn("_cuma", sum(col("_ca")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_cumb", sum(col("_cb")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_dx", lead(col("_v"), 1).over(w) - col("_v"))
    val na = cum.agg(max(col("_cuma")).as("n_a"),
      max(col("_cumb")).as("n_b"))
    // the per-gap products accumulate in decimal(38,0): with large side
    // counts and a wide value grid the plain int64 sum could silently wrap
    // (Spark non-ANSI). The decimal sum is exact; the bigint OUTPUT cast
    // yields NULL (never garbage) in the pathological > 2^63 case, while
    // emd divides the decimal directly and stays correct regardless.
    cum.crossJoin(broadcast(na))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        coalesce(sum(when(col("_dx").isNotNull,
          (abs(col("_cuma") * col("n_b") - col("_cumb") * col("n_a")) *
            col("_dx")).cast("decimal(38,0)"))),
          lit(0L).cast("decimal(38,0)")).as("_emd_dec"))
      .withColumn("emd", col("_emd_dec").cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
      .select(col("n_a"), col("n_b"),
        col("_emd_dec").cast("bigint").as("emd_scaled"), col("emd"))
  }

  /** Wald–Wolfowitz RUNS TEST per key — "are the above/below-median days
    * randomly ordered, or does the crawler alternate/streak?": over the
    * (ts, tie)-ordered boolean series with n₁ trues and n₀ falses in n
    * rows, the run count R (exact, the [[cusum]]-style lag+sum pass)
    * compares against μ = 2n₁n₀/n + 1 and σ² = (μ−1)(μ−2)/(n−1); too
    * FEW runs = streaky, too MANY = oscillating. μ, σ, z are a fixed
    * handful of IEEE divisions + one sqrt from exact integers —
    * replayable; keys with n₁·n₀ = 0 (constant series) report null z.
    *
    * Output per key: n, n_true, n_runs, z. Scale shape: one per-key
    * window + one combiner aggregate. */
  def runsTest(df: DataFrame, keyCols: Seq[String], tsCol: String,
               flagCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val f = col(flagCol).cast("boolean")
    val newRun = when(lag(f, 1).over(w).isNull ||
      !(lag(f, 1).over(w) <=> f), 1L).otherwise(0L)
    val agged = df
      .select(keyCols.map(col) :+ f.as("_f") :+ newRun.as("_nr"): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col("_f"), 1L).otherwise(0L)).as("n_true"),
        sum(col("_nr")).as("n_runs"))
    val n = col("n").cast("double")
    val prod = (col("n_true") * (col("n") - col("n_true"))).cast("double")
    val mu = lit(2.0) * prod / n + 1.0
    val variance = (mu - 1.0) * (mu - 2.0) / (n - 1.0)
    agged.withColumn("z",
      when(col("n_true") > 0 && col("n_true") < col("n") && col("n") > 1 &&
        variance > 0.0,
        (col("n_runs").cast("double") - mu) / sqrt(variance)))
  }

  /** Full autocorrelation table at lags 1..k per key — [[lagAutocorr]]
    * widened to the ACF a seasonality hunt reads (the lag-7 spike IS the
    * weekly cycle): one |lags|-way window pass computes every lag column
    * in a single sort, then exact integer moment sums per (key, lag)
    * feed the same fixed correlation formula.
    *
    * Output per (key, lag): n_pairs, r (null when either side is
    * constant). Scale shape: ONE per-key window (all lag columns share
    * the sort) + one combiner aggregate over the exploded (key, lag)
    * pairs. */
  def acfTable(df: DataFrame, keyCols: Seq[String], tsCol: String,
               valCol: String, maxLag: Int,
               tieBreak: Seq[String] = Nil): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, "need 1 <= maxLag <= 64")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(tsCol) +: tieBreak.map(col)).map(_.asc): _*)
    val v = col(valCol).cast("long")
    val lagged = df.select(keyCols.map(col) :+ v.as("_x") :+
      array((1 to maxLag).map(k => lag(v, k).over(w)): _*).as("_ls"): _*)
    val exploded = lagged
      .select(keyCols.map(col) :+ col("_x") :+
        posexplode(col("_ls")).as(Seq("_k", "_y")): _*)
      .where(col("_y").isNotNull)
      .withColumn("lag", col("_k") + 1)
    val agged = exploded.groupBy(keyCols.map(col) :+ col("lag"): _*)
      .agg(count(lit(1)).as("n_pairs"), sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"), sum(col("_x") * col("_x")).as("_sxx"),
        sum(col("_y") * col("_y")).as("_syy"),
        sum(col("_x") * col("_y")).as("_sxy"))
    val nn = col("n_pairs")
    val num = (nn * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val dx = (nn * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val dy = (nn * col("_syy") - col("_sy") * col("_sy")).cast("double")
    agged.select(keyCols.map(col) :+ col("lag").cast("long").as("lag") :+
      col("n_pairs") :+
      when(dx > 0.0 && dy > 0.0, num / (sqrt(dx) * sqrt(dy))).as("r"): _*)
  }

  /** Pinball (quantile) loss of a quantile FORECAST at τ = qNum/qDen —
    * [[forecastEval]]'s companion for P90-style predictions, where MAE
    * is the wrong ruler: per row, loss·qDen = max(qNum·(a−p),
    * (qNum−qDen)·(a−p)) is an exact INTEGER, so the corpus sum is
    * order-free bigint arithmetic and only the final mean divides. A
    * well-calibrated τ-quantile forecast minimizes exactly this.
    *
    * Output one row per group (keyCols may be empty): n,
    * sum_loss_scaled (×qDen), mean_loss (one division by n·qDen).
    */
  def pinballLoss(df: DataFrame, keyCols: Seq[String], actualCol: String,
                  predCol: String, qNum: Long, qDen: Long): DataFrame = {
    require(qDen > 0 && qNum > 0 && qNum < qDen,
      "need 0 < qNum < qDen (tau strictly inside (0,1))")
    val e = col(actualCol).cast("long") - col(predCol).cast("long")
    val scaled = greatest(lit(qNum) * e, lit(qNum - qDen) * e)
    val agged =
      if (keyCols.isEmpty)
        df.agg(count(lit(1)).as("n"), sum(scaled).as("sum_loss_scaled"))
      else df.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(scaled).as("sum_loss_scaled"))
    agged.withColumn("mean_loss",
      col("sum_loss_scaled").cast("double") /
        (col("n") * qDen).cast("double"))
  }

  /** Percentile of each row's value within a REFERENCE population's
    * empirical CDF — score normalization against a fixed cohort ("where
    * does this crawl's doc length sit in last month's distribution"),
    * exactly: n_le = |{r in ref : r ≤ v}| by an as-of-style lookup into
    * the reference's cumulative value table, percentile = n_le/N one
    * division. Values below the reference minimum read 0.
    *
    * Bounded-grid contract: the DISTINCT reference values must be
    * broadcast-bounded (quantize scores first — the grid IS the
    * resolution); the cumulative window runs over that grid only, and
    * the lookup is a broadcast inequality join + per-row max, never a
    * corpus×corpus product.
    *
    * Output: idCol, value, n_le, ref_n, ref_percentile. */
  def referencePercentile(ref: DataFrame, df: DataFrame, idCol: String,
                          valCol: String): DataFrame = {
    val r = ref.select(col(valCol).cast("long").as("_v"))
    val cum = r.groupBy(col("_v")).agg(count(lit(1)).as("_c"))
      .withColumn("_cum", sum(col("_c")).over(
        Window.orderBy(col("_v"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("_v"), col("_cum"))
    val n = r.agg(count(lit(1)).as("_refn"))
    df.select(col(idCol), col(valCol).cast("long").as("_b"))
      .join(broadcast(cum), col("_v") <= col("_b"), "left")
      .groupBy(col(idCol), col("_b"))
      .agg(max(struct(col("_v"), col("_cum"))).as("_m"))
      .crossJoin(broadcast(n))
      .select(col(idCol), col("_b").as("value"),
        coalesce(col("_m._cum"), lit(0L)).as("n_le"),
        col("_refn").as("ref_n"),
        (coalesce(col("_m._cum"), lit(0L)).cast("double") /
          col("_refn").cast("double")).as("ref_percentile"))
  }

  /** Knee/elbow point of an integer curve — "where does the quality-score
    * histogram bend", the automated threshold pick: the point maximizing
    * distance to the chord between the curve's endpoints. The true
    * distance divides by ‖chord‖, constant across points, so the ARGMAX
    * is decided entirely by the integer cross-product numerator
    *
    *   |(x₂−x₁)(y₁−y) − (x₁−x)(y₂−y₁)|
    *
    * — exact bigint, no floats anywhere; ties break to the smaller x.
    *
    * Curve-scale contract: feed an AGGREGATED curve (histogram, rank-
    * frequency table), not raw rows — the argmax is a TakeOrdered(1)
    * over curve-sized data. `xCol` must be unique. Output one row:
    * x_knee, y_knee, dist_num. */
  def kneePoint(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val pts = df.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
    val ends = pts.agg(min(col("_x")).as("_x1"),
      expr("min_by(_y, _x)").as("_y1"), max(col("_x")).as("_x2"),
      expr("max_by(_y, _x)").as("_y2"))
    val d = abs((col("_x2") - col("_x1")) * (col("_y1") - col("_y")) -
      (col("_x1") - col("_x")) * (col("_y2") - col("_y1")))
    pts.crossJoin(broadcast(ends))
      .select(col("_x").as("x_knee"), col("_y").as("y_knee"),
        d.as("dist_num"))
      .orderBy(col("dist_num").desc, col("x_knee").asc)
      .limit(1)
  }

  /** Expected calibration error as ONE exact-rational number — the
    * [[calibrationBins]] table collapsed without float accumulation:
    * per bin, n·|frac_pos − mean_score| = |1000·n_pos − Σscore| / 1000n
    * · n, so
    *
    *   ECE = Σ_bins |1000·n_pos_b − Σscore_b|  /  (1000·N)
    *
    * — the numerator is an exact bigint sum (no per-bin doubles to
    * re-add in engine-specific order), the whole statistic is one
    * terminal division. Same fixed-point milli-score contract as the
    * table op.
    *
    * Output one row: n, bins_used, ece. Scale shape: one bins-row
    * combiner aggregate + a bins-row reduction. */
  def ece(df: DataFrame, scoreMilliCol: String, labelCol: String,
          bins: Int = 10): DataFrame = {
    val b = calibrationBins(df, scoreMilliCol, labelCol, bins)
    b.agg(sum(col("n")).as("n"), count(lit(1)).as("bins_used"),
        sum(abs(lit(1000L) * col("n_pos") - col("sum_score_milli")))
          .as("_num"))
      .withColumn("ece", col("_num").cast("double") /
        (lit(1000L) * col("n")).cast("double"))
      .drop("_num")
  }

  /** Quantile normalization across groups (the batch-effect correction
    * from expression arrays, applied to corpus scores: make every group's
    * score DISTRIBUTION identical to the pooled one so cross-group
    * thresholds mean the same thing). Each row's within-group rank r of n
    * maps to the pooled sorted value at 0-based index
    *
    *   idx = ((2r − 1) · N) div (2n)
    *
    * — the exact integer midpoint rule (r=1 → low tail, r=n → index < N),
    * so the mapping is pure bigint arithmetic over two rank tables and
    * replays anywhere; no interpolation, no float percentiles.
    *
    * Scale shape: within-group ranks are per-group windows; the POOLED
    * rank is computed with the [[graft.ops.Dedup.sortedNeighborPairs]]
    * range-partition discipline (local row_number + broadcast partition
    * offsets — never a single-partition global window); the map-in is one
    * integer equi-join on idx. (value, id) must be totally ordered per
    * group — `idCol` breaks value ties deterministically.
    *
    * Output: idCol, groupCol, value (long), normalized (long — a value
    * drawn from the pooled multiset). */
  def quantileNormalize(df: DataFrame, groupCol: String, valCol: String,
                        idCol: String): DataFrame = {
    val slim = df.select(col(idCol).as("_id"), col(groupCol).as("_g"),
      col(valCol).cast("long").as("_v"))
    // pooled global rank, range-partitioned (no single-partition window)
    val sorted = slim.select(col("_v"), col("_g"), col("_id"))
      .repartitionByRange(col("_v"), col("_g"), col("_id"))
      .withColumn("_pid", spark_partition_id())
    val local = sorted.withColumn("_r", row_number().over(
      Window.partitionBy(col("_pid"))
        .orderBy(col("_v"), col("_g"), col("_id"))))
    val sizes = local.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
    val offs = sizes.withColumn("_off",
      coalesce(sum(col("_n")).over(Window.orderBy(col("_pid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    val pooled = local.join(broadcast(offs), "_pid")
      .select((col("_off") + col("_r") - 1).as("_idx"),
        col("_v").as("_pooled_v"))
    val n = slim.agg(count(lit(1)).as("_total"))
    val wg = Window.partitionBy(col("_g"))
    val ranked = slim
      .withColumn("_r", row_number().over(
        wg.orderBy(col("_v"), col("_id"))))
      .withColumn("_gn", count(lit(1)).over(wg))
      .crossJoin(broadcast(n))
      .withColumn("_idx", expr("((2 * _r - 1) * _total) div (2 * _gn)"))
    ranked.join(pooled, Seq("_idx"))
      .select(col("_id").as(idCol), col("_g").as(groupCol),
        col("_v").as("value"), col("_pooled_v").as("normalized"))
  }
}
