package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{DataType, LongType}

import graft.functions._

/** Corpus deduplication operators for training-data curation. All return
  * DataFrames (composable); all are shuffle-shaped for scale:
  *
  *  - exact:       one hash-groupBy (map-side combine applies)
  *  - minHashLsh:  banded signatures -> bucket self-join (only rows sharing
  *                 a (band, bucket) meet) -> signature/Jaccard verify
  *  - simHash:     4x16-bit chunk banding (pigeonhole: hamming<=3 pairs must
  *                 share a chunk) -> popcount verify
  *  - embeddingCosine: hyperplane-LSH buckets -> exact cosine verify
  *  - prefixJaccard / ngramJaccard: prefix-filtered shingle index -> exact
  *                 Jaccard verify; ngramJaccard first drops hot shingles
  *  - winnowedOverlap / weightedJaccard: df-capped fingerprint / word
  *                 index -> per-pair overlap aggregate
  *
  * Every near-duplicate pair operator above blocks the same way
  * ([[sharedKeyPairs]]): one key row per doc and block, a self-join on the
  * key, each pair once. Pair outputs are canonicalized (idA < idB). Cluster
  * assignment (connected components over the dup graph) is iterative
  * min-label propagation with a bounded round count — the standard
  * large-graph CC pattern expressed in DataFrames.
  */
object Dedup {

  /** Per-key cluster stats only: (dup_key, dup_cluster_size, canonical_id).
    * Pure hash aggregation over a slim (id, key) projection — map-side
    * combine applies, nothing but ids and 16-byte keys ever shuffles. The
    * scale-preferred form when the payload isn't needed downstream.
    */
  def exactStats(df: DataFrame, idCol: String, textCol: String,
                 keyFn: Column => Column = c => md5(c.cast("binary"))): DataFrame =
    df.select(col(idCol), keyFn(col(textCol)).as("dup_key"))
      .groupBy(col("dup_key"))
      .agg(count(lit(1)).as("dup_cluster_size"), min(col(idCol)).as("canonical_id"))

  /** Exact dedup on a key (default md5 of the raw text). Returns the input
    * with `dup_key`, `dup_cluster_size`, `is_canonical` (the min-id row per
    * key wins — deterministic).
    *
    * Shape: annotations come from [[exactStats]] (slim aggregate, map-side
    * combine) and join back on dup_key — the payload crosses ONE exchange as
    * join input instead of being buffered and sorted inside a window
    * operator, and AQE can pick/skew-split the join at runtime.
    */
  def exact(df: DataFrame, idCol: String, textCol: String,
            keyFn: Column => Column = c => md5(c.cast("binary"))): DataFrame = {
    val keyed = df.withColumn("dup_key", keyFn(col(textCol)))
    val ann = exactStats(df, idCol, textCol, keyFn)
      .withColumnRenamed("dup_key", "_ann_key")
    // null-SAFE join key: rows with a null dedup key (null text) must form
    // their own cluster like any other, not silently vanish through an
    // inner equi-join where null never equals null
    keyed.join(ann, keyed("dup_key") <=> ann("_ann_key"))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
      .select(df.columns.map(col) ++
        Seq(col("dup_key"), col("dup_cluster_size"), col("is_canonical")): _*)
  }

  /** Exact dedup keeping only canonical rows. */
  def exactDistinct(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exact(df, idCol, textCol).where(col("is_canonical"))
      .drop("dup_cluster_size", "is_canonical")

  /** Incremental exact dedup: dedup an incoming shard against the corpus
    * ingested so far WITHOUT touching the corpus itself. `seenKeys` is the
    * key-only ledger of everything already ingested (a `keyCol` column of
    * 16-byte md5 hex keys — the ONLY state the incremental path reads; the
    * corpus payload stays wherever it was written). Returns the incoming
    * rows surviving BOTH gates — canonical within the batch (min-id per
    * key, the same rule as [[exact]]) and unseen against the ledger — with
    * `dup_key` attached, so the caller appends exactly these keys to the
    * ledger before the next shard. Re-ingesting an already-seen shard is
    * therefore idempotent: every row anti-joins away.
    *
    * Shape for 100 TB: continuous ingestion must never re-dedup the whole
    * corpus — this path's cost is O(shard) plus one anti-join against a
    * key table that hash-partitions on the key. Nothing but 16-byte keys
    * and the surviving shard payload ever shuffles; AQE broadcasts the
    * shard side when it is small against the ledger.
    */
  def exactIncremental(incoming: DataFrame, seenKeys: DataFrame,
                       idCol: String, textCol: String,
                       keyCol: String = "dup_key"): DataFrame = {
    val canon = exact(incoming, idCol, textCol).where(col("is_canonical"))
      .drop("dup_cluster_size", "is_canonical")
    // null-safe anti join: a null-keyed row (null text) is dropped iff the
    // ledger records a null key, symmetric with exact()'s null handling
    canon.join(seenKeys.select(col(keyCol).as("_seen_key")),
      col("dup_key") <=> col("_seen_key"), "left_anti")
  }

  /** LINE-level exact dedup (the C4 / RefinedWeb boilerplate-removal pass):
    * a line whose corpus-wide occurrence count exceeds `maxDf` is removed
    * from EVERY document (nav bars, cookie banners, share buttons — text
    * that repeats across pages is template, not content). Lines shorter
    * than `minLineLen` characters never participate (blank separator lines
    * are structure, not boilerplate, and would otherwise all vanish).
    *
    * Returns the input plus `text_dedup` (surviving lines joined by \n, in
    * original order), `n_lines`, `n_lines_kept`. Deterministic — no RNG,
    * no "keep first occurrence" tie to document order.
    *
    * Shape for 100 TB: the exploded stream carries only (id, pos, 16-byte
    * md5-of-line) — the line TEXT never leaves its row. Frequency is one
    * hash aggregate on the key (map-side combine), the dropped-position
    * list is corpus-duplicate-bounded and joins back on id (AQE picks
    * broadcast when slim), and reassembly is a row-local array filter by
    * position over the original text — the payload crosses the one
    * join-back exchange and is never grouped, sorted or windowed.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 maxDf: Long = 1L, minLineLen: Int = 1): DataFrame = {
    val arr = split(col(textCol), "\n", -1)
    val lines = df
      .select(col(idCol).as("_ld_id"),
        posexplode(arr).as(Seq("_ld_pos", "_ld_line")))
      .where(length(col("_ld_line")) >= minLineLen)
      .select(col("_ld_id"), col("_ld_pos"),
        md5(col("_ld_line").cast("binary")).as("_ld_key"))
    val common = lines.groupBy(col("_ld_key"))
      .agg(count(lit(1)).as("_ld_n"))
      .where(col("_ld_n") > maxDf)
      .select(col("_ld_key"))
    val drops = lines.join(common, "_ld_key")
      .groupBy(col("_ld_id"))
      .agg(collect_list(col("_ld_pos")).as("_ld_drops"))
    val dropsArr = coalesce(col("_ld_drops"), typedLit(Array.empty[Int]))
    val keptArr = filter(arr, (_, i) => !array_contains(dropsArr, i))
    df.join(drops, col(idCol) === col("_ld_id"), "left")
      .withColumn("text_dedup", concat_ws("\n", keptArr))
      .withColumn("n_lines", size(arr).cast("long"))
      .withColumn("n_lines_kept", size(keptArr).cast("long"))
      .drop("_ld_id", "_ld_drops")
  }

  /** Exact duplicated-SPAN removal at k-token granularity — the
    * "deduplicating training data" exact-substring operation (Lee et al.
    * 2022) reshaped for Spark: suffix arrays need co-resident corpora, but
    * any duplicated span of >= k tokens contains a duplicated ALIGNED
    * k-shingle at every offset, so shingle-level keep-first removal cuts
    * exactly the repeated span occurrences (at the cost of also cutting
    * shorter k-token coincidences — k tunes that tradeoff; Lee et al. use
    * 50 BPE tokens, this operator's unit is whitespace tokens).
    *
    * Semantics: tokenize on whitespace; every k-token shingle that occurs
    * more than once in the corpus keeps its FIRST occurrence — the minimum
    * (id, pos) in a deterministic total order — and every token covered by
    * any OTHER occurrence is cut from its document. Internal repetition
    * (the same shingle twice in one document) dedups the same way. Returns
    * the input plus `text_span_dedup` (kept tokens joined by single
    * spaces — inter-token whitespace is normalized by reassembly),
    * `n_tokens`, `n_tokens_kept`. Deterministic; docs under k tokens pass
    * through untouched.
    *
    * Shape for 100 TB: the shingle stream carries (id, pos, 16-byte md5)
    * — never the text. Owner election is ONE hash aggregate
    * (min(struct(id,pos)) + count, map-side combine applies); only
    * duplicated occurrences (corpus-duplicate-bounded) survive the filter
    * and join back on id; coverage + reassembly are row-local array HOFs
    * over the original tokens. The payload crosses the one join-back
    * exchange and is never grouped, sorted or windowed — the same shape
    * as [[dedupLines]] one granularity down.
    */
  def spanDedup(df0: DataFrame, idCol: String, textCol: String,
                k: Int = 50): DataFrame = {
    require(k > 1, "k must be > 1 (k=1 would cut every repeated token)")
    val df = Fanout.ensure(df0)
    val toks = split(trim(col(textCol)), "\\s+")
    val sh = df
      .select(col(idCol).as("_sd_id"), toks.as("_sd_toks"))
      .select(col("_sd_id"), posexplode(expr(
        // array(..) let-binding: stops CollapseProject from inlining the
        // tokenizer into the per-shingle lambda (see winnowedOverlapPairs)
        s"""element_at(transform(array(_sd_toks), _tt ->
           |  transform(slice(_tt, 1, greatest(size(_tt) - ${k - 1}, 0)),
           |    (x, i) -> md5(cast(concat_ws(' ', slice(_tt, i + 1, $k))
           |      AS binary)))), 1)"""
          .stripMargin)).as(Seq("_sd_pos", "_sd_key")))
    // owner election: one combiner-friendly aggregate; keys occurring once
    // (the overwhelming mass) die here and never join anything
    val owners = sh.groupBy(col("_sd_key"))
      .agg(min(struct(col("_sd_id"), col("_sd_pos"))).as("_sd_owner"),
        count(lit(1)).as("_sd_n"))
      .where(col("_sd_n") > 1)
      .select(col("_sd_key"), col("_sd_owner"))
    // non-owner occurrences of duplicated shingles -> per-doc cut list
    val drops = sh.join(owners, "_sd_key")
      .where(col("_sd_id") =!= col("_sd_owner._sd_id") ||
        col("_sd_pos") =!= col("_sd_owner._sd_pos"))
      .groupBy(col("_sd_id"))
      .agg(collect_list(col("_sd_pos")).as("_sd_drops"))
    val dropsArr = coalesce(col("_sd_drops"), typedLit(Array.empty[Int]))
    val keptArr = filter(toks, (_, i) =>
      !exists(dropsArr, p => p <= i && i < p + k))
    df.join(drops, col(idCol) === col("_sd_id"), "left")
      .withColumn("text_span_dedup", concat_ws(" ", keptArr))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_tokens_kept", size(keptArr).cast("long"))
      .drop("_sd_id", "_sd_drops")
  }

  /** Band/bucket explosion of a (_id, _sig) frame: (band, bucket, id) —
    * the bucket is the [[graft.functions.lsh_bands]] hash of the band's
    * signature slice. Shared by every LSH path so banding stays
    * bit-identical across batch / incremental / pre-materialized entry
    * points, whose bucket joins key on (bucket, band): the 64-bit bucket
    * leads the sort, not the band's few values.
    */
  private def bandedFromSigs(sigs: DataFrame, numBands: Int): DataFrame =
    sigs.select(posexplode(lsh_bands(col("_sig"), numBands)).as(Seq("_band", "_bucket")),
      col("_id"))

  /** The blocking step of every keyed pair operator: `rows` (`_id`, the
    * `keys` columns, a payload) meet their own frame on equal keys, each
    * unordered pair once per shared key row (`x._id < y._id`). Callers read
    * `x.*` / `y.*`, then `distinct` (a pair can share several keys, and a
    * repeated input id repeats its pairs) or aggregate per pair. Both join
    * sides are one plan, so a shuffle join reads ONE exchange of `rows`
    * (Spark reuses the identical exchange for the second side), and a join
    * hint on `rows` holds for both sides. Work is the sum of squared block
    * sizes: callers bound hot keys before ([[dropHotKeys]], bucket caps).
    */
  private def sharedKeyPairs(rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.as("x").join(rows.as("y"),
      keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
        col("x._id") < col("y._id"))

  /** Attaches `rows` (`_id` plus `cols`) to both sides of an (id_a, id_b)
    * pair frame, once on each id: column `c` arrives as `c + "a"` and
    * `c + "b"`. Inner joins, so a repeated id repeats its pairs.
    */
  private def attachBothSides(pairs: DataFrame, rows: DataFrame, cols: Seq[String]): DataFrame = {
    def side(s: String) = rows.select(col("_id").as(s"id_$s") +: cols.map(c => col(c).as(c + s)): _*)
    pairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
  }

  /** Postings per `key` value: one combinable count (a hot key's postings
    * collapse to one counter per map task before the exchange).
    */
  private def keyCounts(postings: DataFrame, key: String): DataFrame =
    postings.groupBy(col(key)).agg(count(lit(1)).as("_df"))

  /** `postings` without the ones whose `key` occurs in more than `maxDf`
    * postings (stopword shingles, boilerplate fingerprints: their pair
    * fan-out is quadratic in df). The hot set joins by `left_anti` with no
    * broadcast hint: it is usually tiny (Zipf head) and AQE broadcasts it
    * then, but its worst case is postings/maxDf — corpus-scaled — where a
    * forced broadcast would exhaust the driver and a shuffled anti-join
    * degrades gracefully.
    */
  private def dropHotKeys(postings: DataFrame, key: String, maxDf: Int): DataFrame =
    postings.join(keyCounts(postings, key).where(col("_df") > maxDf).select(col(key)),
      Seq(key), "left_anti")

  /** MinHash + LSH near-duplicate PAIRS: (id_a, id_b, est_jaccard) with
    * est_jaccard >= threshold. numBands divides numHashes; rowsPerBand =
    * numHashes/numBands controls the S-curve.
    *
    * Shape (guide §2.3/§8 — decide with small rows, attach payloads once):
    * the signature pass is materialized ONCE (localCheckpoint, shard of
    * (id, 8·numHashes bytes)); the bucket self-join carries only
    * (band, bucket, id) — the previous shape dragged the full signature
    * array through BOTH sides of the exchange, numBands copies each — and
    * the signatures are re-attached by id to the candidate-bounded distinct
    * pair set for the estimate.
    */
  def minHashPairs(df0: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, numBands: Int = 32,
                   threshold: Double = 0.7, shingleSize: Int = 5): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val df = Fanout.ensure(df0)
    val sigs = df.select(col(idCol).as("_id"),
      minhash_signature(col(textCol), numHashes, shingleSize).as("_sig"))
      .localCheckpoint()

    // self-join within (band, bucket); skew-bounded: a bucket only contains
    // near-identical docs by construction. distinct BEFORE the estimate:
    // est_jaccard is a function of (id_a, id_b), so collapsing multi-band
    // agreement first computes it once per pair, not once per shared band.
    val cands = sharedKeyPairs(bandedFromSigs(sigs, numBands), Seq("_bucket", "_band"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"))
      .distinct()
    attachBothSides(cands, sigs, Seq("_sig"))
      .select(col("id_a"), col("id_b"),
        minhash_estimate(col("_siga"), col("_sigb")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      // pair-bounded; preserves the exact pre-refactor semantics when the
      // input carries duplicate ids (the sig join-back would fan out)
      .distinct()
  }

  /** SimHash near-duplicate pairs with hamming distance <= maxHamming
    * (maxHamming <= 3 guaranteed complete by 4-chunk pigeonhole).
    * tokenHash "md5" uses the SQL-mirrorable signature (exact DuckDB oracle),
    * "fnv" the fast one; any other value is rejected.
    */
  def simHashPairs(df0: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, tokenHash: String = "fnv"): DataFrame = {
    val sig = GraftShim.column(SimHash64(GraftShim.expression(col(textCol)), tokenHash))
    val df = Fanout.ensure(df0)
    val sigs = df.select(col(idCol).as("_id"), sig.as("_sh"))
    val chunked = sigs.select(col("_id"), col("_sh"),
      posexplode(array((0 until 4).map(k =>
        shiftrightunsigned(col("_sh"), k * 16).bitwiseAND(lit(0xffffL))): _*)).as(Seq("_chunk", "_ckey")))
    sharedKeyPairs(chunked, Seq("_chunk", "_ckey"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        bit_count(col("x._sh").bitwiseXOR(col("y._sh"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard pairs via a df-capped shingle index: shingles in
    * more than `maxShingleDf` documents are dropped first ([[dropHotKeys]];
    * stopword shingles would otherwise create quadratic fanout), then
    * [[prefixJaccardPairs]]' candidate-and-verify body runs on what is
    * left. The reported jaccard is
    * |prunedA ∩ prunedB| / (fullA + fullB - |prunedA ∩ prunedB|): pruning
    * can only LOSE pairs (and lower scores) through shared hot shingles,
    * so set `maxShingleDf` at or above the corpus's largest shingle df, or
    * use [[prefixJaccardPairs]], to get the exact predicate. A qualifying
    * pair (jaccard >= t > 0) has pruned-set Jaccard >= reported >= t, so
    * the prefix filter over pruned sets cannot drop it.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, threshold: Double = 0.8,
                        maxShingleDf: Int = 100): DataFrame = {
    val posted = shinglePostings(shingleSets(df, idCol, textCol, n))
    // the pruned per-doc order is materialized ONCE: it feeds the index
    // AND both verify sides
    val perDoc = canonicalOrder(posted, dropHotKeys(posted, "_g", maxShingleDf)).localCheckpoint()
    prefixFilteredJaccard(perDoc, perDoc, threshold)
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING (SSJoin, Chaudhuri et
    * al. ICDE'06; the candidate stage of PPJoin, Xiao et al. WWW'08) — the
    * LOSSLESS scale path next to [[ngramJaccardPairs]]'s df cap, which
    * prunes hot shingles and can lose pairs. Principle: order every
    * document's shingle set by one global canonical order (ascending
    * document frequency, shingle as tie-break — rarest first); if
    * J(x,y) >= t then x and y must share a shingle inside each one's first
    * `|x| - ceil(t*|x|) + 1` shingles, so only that prefix needs indexing.
    * Because the canonical order puts RARE shingles in the prefix, the
    * postings lists being self-joined are the short ones — the Zipf head
    * that forces q37's cap never enters the index here at all.
    * Candidates are verified exactly, so the output equals the brute-force
    * Jaccard predicate.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 5, threshold: Double = 0.8): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0,1]")
    // ONE shingling pass (the nearDupDedup materialization discipline):
    // the projection feeds the postings AND both verify sides
    val sh = shingleSets(df, idCol, textCol, n).where(col("_size") > 0).localCheckpoint()
    val posted = shinglePostings(sh)
    prefixFilteredJaccard(canonicalOrder(posted, posted), sh.withColumnRenamed("_sh", "_set"),
      threshold)
  }

  /** (_id, _sh = the doc's sorted distinct n-shingles, _size = their count). */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Fanout.ensure(df)
      .select(col(idCol).as("_id"), shingles(col(textCol), n).as("_sh"))
      .withColumn("_size", size(col("_sh")))

  /** (_id, _size, _g = one shingle) postings of a [[shingleSets]] frame. */
  private def shinglePostings(sets: DataFrame): DataFrame =
    sets.select(col("_id"), col("_size"), explode(col("_sh")).as("_g"))

  /** Per doc of `indexed` (a subset of the `posted` postings: whole
    * shingles dropped, or none): `_ord`, its indexed shingles in the
    * canonical order (df in `posted`, shingle); `_set`, the same shingles
    * sorted; `_size`, its FULL shingle count. The canonical sort is
    * doc-local (`sort_array` after a collect_list bounded by the doc's own
    * shingle count) and df is one combiner-friendly aggregate.
    */
  private def canonicalOrder(posted: DataFrame, indexed: DataFrame): DataFrame =
    indexed.join(keyCounts(posted, "_g"), Seq("_g"))
      .groupBy(col("_id"))
      .agg(sort_array(collect_list(struct(col("_df"), col("_g")))).as("_ord"),
        sort_array(collect_list(col("_g"))).as("_set"),
        min(col("_size")).as("_size"))

  /** The candidate-and-verify body of the prefix-filtered Jaccard
    * operators. `ord` is a [[canonicalOrder]] frame; `sets` holds each
    * doc's `_set` and `_size` for the verify. A doc's PRUNED size (the
    * length of its `_ord`) sets its prefix length and the suffix bound of
    * the positional filter; its FULL size (`_size`) sets the overlap that
    * bound must reach and the reported Jaccard. With nothing pruned the two
    * sizes are equal.
    *
    * The prefix keeps `|x| - floor(t*|x|) + 1` shingles (floor, not ceil:
    * one longer than canonical, so float dust in `t*|x|` can only ADD
    * candidates). Candidates share >= 1 prefix shingle; the pair groupBy
    * collapses multi-shingle agreement AND computes the PPJoin positional
    * filter: for a qualifying pair the first shared canonical token g0 lies
    * in both prefixes with NO common token before it, so
    * |X ∩ Y| <= min(|X| - pos_x(g0), |Y| - pos_y(g0)) (0-based), and both
    * position minima are achieved at g0 (canonical positions are monotone
    * in the global order). Pairs whose bound cannot reach t(|X|+|Y|)/(1+t)
    * are dropped before the verify; the 1e-9 slack makes float dust only
    * ever ADD candidates. The verify is ONE merge scan per candidate
    * (`sorted_common_count`) over the two sets, joined for candidate ids
    * only.
    */
  private def prefixFilteredJaccard(ord: DataFrame, sets: DataFrame,
                                    threshold: Double): DataFrame = {
    val prefixed = ord
      .select(col("_id"), col("_size"), size(col("_ord")).as("_sp"),
        posexplode(slice(expr("transform(_ord, x -> x._g)"), lit(1),
          least(size(col("_ord")),
            size(col("_ord")) - floor(lit(threshold) * size(col("_ord"))).cast("int") + 1))))
      .select(col("_id"), col("_size"), col("_sp"), col("pos").as("_p"), col("col").as("_g"))
    val cands = sharedKeyPairs(prefixed, Seq("_g"))
      .groupBy(col("x._id").as("id_a"), col("y._id").as("id_b"),
        col("x._size").as("_sa"), col("y._size").as("_sb"),
        col("x._sp").as("_spa"), col("y._sp").as("_spb"))
      .agg(min(col("x._p")).as("_px"), min(col("y._p")).as("_py"))
      .where(least(col("_spa") - col("_px"), col("_spb") - col("_py")).cast("double") *
        (1.0 + threshold) >= lit(threshold) * (col("_sa") + col("_sb")).cast("double") - 1e-9)
      .select(col("id_a"), col("id_b"))
    attachBothSides(cands, sets, Seq("_set", "_size"))
      .withColumn("_common", sorted_common_count(col("_seta"), col("_setb")))
      .select(col("id_a"), col("id_b"),
        (col("_common").cast("double") /
          (col("_sizea") + col("_sizeb") - col("_common")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Embedding near-duplicate pairs: hyperplane-LSH buckets (multi-probe via
    * `tables` independent hash tables), exact cosine verify.
    *
    * Hot buckets (dense embedding regions) are capped at `maxBucketRows` —
    * in-bucket work is quadratic, so one degenerate bucket would dominate the
    * stage at scale. Capping is NEVER silent: oversized buckets are counted
    * eagerly (a tiny aggregate over the signature stage) and logged; a pair
    * lost to a cap in one table is still found by any of the other
    * `tables-1` independent tables that bucket it more finely.
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.95, bits: Int = 12,
                           tables: Int = 4, maxBucketRows: Int = 4096): DataFrame = {
    val sigs = df.select(col(idCol).as("_id"), col(vecCol).as("_v"),
      posexplode(array((0 until tables).map(t =>
        hyperplane_sig(col(vecCol), bits, 1000L + t)): _*)).as(Seq("_t", "_bucket")))
    // oversized-bucket audit: ONE map-side-combined aggregate over (table,
    // bucket) — shuffles combined counters, never rows/vectors — reused
    // both for the log and to bound the join via a broadcast anti-join
    // (the previous shape paid an extra full signature pass for the count
    // plus a Window that dragged every vector through an exchange)
    val ovAgg = sigs.groupBy(col("_t"), col("_bucket"))
      .agg(count(lit(1)).as("_bsz")).where(col("_bsz") > maxBucketRows)
      .select(col("_t"), col("_bucket"))
    // the oversized set is driver-bounded (<= rows/maxBucketRows * tables
    // keys, two scalars each) and feeds a broadcast anyway — collecting it
    // once replaces the previous persist() that was never unpersisted and
    // accumulated cached partitions across calls for the session lifetime
    val ovRows = ovAgg.collect()
    if (ovRows.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"embeddingCosinePairs: dropped ${ovRows.length} oversized LSH buckets " +
          s"(> $maxBucketRows rows); raise bits/maxBucketRows to recover them")
    val bounded =
      if (ovRows.isEmpty) sigs
      else {
        val ovLocal = df.sparkSession.createDataFrame(
          java.util.Arrays.asList(ovRows: _*), ovAgg.schema)
        sigs.join(broadcast(ovLocal), Seq("_t", "_bucket"), "left_anti")
      }
    sharedKeyPairs(bounded, Seq("_t", "_bucket"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        cosine_similarity(col("x._v"), col("y._v")).as("cosine"))
      .where(col("cosine") >= threshold)
      .distinct()
  }

  /** Benchmark-contamination pairs: (corpus_id, benchmark_id, containment)
    * where containment = |shingles(doc) ∩ shingles(bench)| / |shingles(bench)|
    * >= threshold — the test-set-overlap check a training corpus runs before
    * release (n-gram containment of the EVALUATION doc, so a long web page
    * that embeds a whole benchmark item is caught even though its Jaccard
    * is tiny).
    *
    * Scale shape: the benchmark side is small by contract (an eval set), so
    * its exploded postings BROADCAST; the corpus is never shuffled — only
    * matched postings (rare) reach the pair aggregation, which map-side
    * combines. Both shingle sets are distinct, so each common shingle
    * contributes exactly one matched row and count(*) = |intersection|.
    */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         benchIdCol: String, benchTextCol: String,
                         n: Int = 8, threshold: Double = 0.5): DataFrame = {
    val c = corpus.select(col(idCol).as("_cid"), explode(shingles(col(textCol), n)).as("_g"))
    val b = benchmark
      .select(col(benchIdCol).as("_bid"), shingles(col(benchTextCol), n).as("_bsh"))
      .where(size(col("_bsh")) > 0)
      .select(col("_bid"), size(col("_bsh")).as("_bsize"), explode(col("_bsh")).as("_g"))
    c.join(broadcast(b), Seq("_g"))
      .groupBy(col("_cid"), col("_bid"), col("_bsize"))
      .agg(count(lit(1)).as("_common"))
      .select(col("_cid").as("corpus_id"), col("_bid").as("benchmark_id"),
        (col("_common").cast("double") / col("_bsize").cast("double")).as("containment"))
      .where(col("containment") >= threshold)
  }

  /** Corpus minus contaminated docs (any benchmark containment >= threshold). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    benchIdCol: String, benchTextCol: String,
                    n: Int = 8, threshold: Double = 0.5): DataFrame = {
    // no broadcast hint: the contaminated-id set is corpus-bounded in the
    // worst case (AQE broadcasts it when it is small, the usual case)
    val bad = contaminationPairs(corpus, benchmark, idCol, textCol,
      benchIdCol, benchTextCol, n, threshold)
      .select(col("corpus_id")).distinct()
    corpus.join(bad, corpus(idCol) === bad("corpus_id"), "left_anti")
  }

  /** Connected components over duplicate pairs: iterative min-label
    * propagation PLUS pointer jumping, until fixpoint or maxIters. Returns
    * (id, cluster_id).
    *
    * Each round a node adopts min(self, min over neighbors, label-of-label):
    * the neighbor step is classic min-label propagation; the label-of-label
    * hop is pointer jumping (labels always form a forest rooted at component
    * minima, so following one parent pointer per round halves the remaining
    * path length — the same doubling that makes large-star/small-star
    * converge in O(log diameter) instead of O(diameter) on chain-shaped dup
    * graphs; ClustersSpec proves a 64-node path converges in <= 7 rounds).
    * Both paths below stop after `maxIters` rounds, so a graph the cap
    * cannot close gets the same partial labels from either.
    *
    * Shape: the pair list is materialized ONCE (eager, pair-sized) and the
    * size observed on that checkpoint decides the path ([[LocalDispatch]]):
    * the dup GRAPH is pair-sized, not corpus-sized. When it has at most
    * [[LocalDispatch.CcKey]] directed edges (each pair row counts as two)
    * and integral, non-null ids, one collect brings it to the driver, which
    * replays the same rounds on primitive arrays ([[localClusters]]).
    * Otherwise the distributed rounds run over the distinct edge list,
    * materialized once: two label-sized joins + ONE Spark job per round (the
    * convergence flag rides the aggregate over the round's checkpoint).
    * OptR06Spec and DedupIdentitySpec pin local ≡ distributed, the latter
    * also under the round cap.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIters: Int = 10): DataFrame =
    components(pairs, idA, idB, maxIters).fold(_.frame(pairs.sparkSession), identity)

  /** `frame` plus `cluster_id`: the [[clusters]] label of its `idCol` over
    * the graph `pairs` (`id_a`, `id_b`), or the id itself when no pair names
    * it — a left join onto the labels and `coalesce(cluster_id, id)`. A null
    * id gets a null label. When the dup graph went to the driver and its
    * labelling (two longs per node) fits `spark.sql.autoBroadcastJoinThreshold`,
    * the labels attach by a row-local lookup ([[graft.functions.ComponentLabel]])
    * instead of a join: every task holds the whole literal, so it gets no
    * more room than a relation Spark would broadcast.
    */
  private[ops] def withClusterId(frame: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    components(pairs, "id_a", "id_b", 10) match {
      case Left(local) if local.bytes <= GraftShim.broadcastThreshold(frame.sparkSession) =>
        frame.withColumn("cluster_id", local.lookup(col(idCol)))
      case found =>
        val labels = found.fold(_.frame(pairs.sparkSession), identity)
          .select(col("id").as("_cc_id"), col("cluster_id").as("_cc_label"))
        frame.join(labels, col(idCol) === col("_cc_id"), "left")
          .select(frame.columns.map(col) :+
            coalesce(col("_cc_label"), col(idCol)).as("cluster_id"): _*)
    }

  /** Component labels held on the driver: the sorted node ids, each one's
    * label, and the id type of the pairs.
    */
  private final class LocalLabels(ids: Array[Long], labels: Array[Long], idType: DataType) {
    /** Size of the labelling as a [[graft.functions.ComponentLabel]] literal. */
    def bytes: Long = 16L * ids.length

    def frame(spark: SparkSession): DataFrame = {
      import spark.implicits._
      ids.indices.map(i => (ids(i), labels(i))).toDF("id", "cluster_id")
        .select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }

    def lookup(id: Column): Column = GraftShim.column(graft.functions.ComponentLabel(
      GraftShim.expression(id.cast(LongType)), ids, labels)).cast(idType)
  }

  /** The components of [[clusters]]: on the driver when [[LocalDispatch]]
    * brought the dup graph there, else the distributed (id, cluster_id)
    * rounds.
    */
  private def components(pairs: DataFrame, idA: String, idB: String,
                         maxIters: Int): Either[LocalLabels, DataFrame] = {
    val ids = pairs.select(col(idA).as("a"), col(idB).as("b"))
    // small dup graph with integral ids: the same rounds on the driver ([[LocalDispatch]])
    val (p, _, local) = LocalDispatch.materialize(ids, LocalDispatch.CcKey, edgesPerRow = 2,
      eligible = ids.schema.fields.forall(f => LocalDispatch.integral(f.dataType)))
    val directed = p.unionByName(p.select(col("b").as("a"), col("a").as("b"))).distinct()
    val idType = directed.schema("a").dataType
    if (local.nonEmpty) {
      val g = LocalGraph(local.get)
      return Left(new LocalLabels(g.ids, localClusters(g, maxIters).map(g.ids(_)), idType))
    }
    // over the bound, or null / non-integral ids: the distributed rounds
    // over the distinct edge list, materialized once for all of them
    val edges = directed.localCheckpoint()
    var labels = edges.select(col("a").as("id"))
      .distinct()
      .withColumn("cluster_id", col("id"))
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val neighborMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("id"))
        .agg(min(col("cluster_id")).as("_nmin"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("_old"),
          least(col("cluster_id"), coalesce(col("_nmin"), col("cluster_id"))).as("_c1"))
      // pointer jumping: look up the (previous round's) label OF my new
      // label — labels are node ids, so every _c1 has an entry in `labels`
      val next = stepped.join(
          labels.select(col("id").as("_pid"), col("cluster_id").as("_c2")),
          col("_c1") === col("_pid"), "left")
        .select(col("id"), col("_old"),
          least(col("_c1"), coalesce(col("_c2"), col("_c1"))).as("cluster_id"))
      // EAGER localCheckpoint every round: materializes AND cuts lineage
      // to an RDD leaf, so the next round's job (and AQE's per-stage
      // replanning) sees a flat plan — carrying cached-but-lineage-bearing
      // frames instead makes plan compilation grow with the round count
      // and dominate the operator (the bfsDepth/hitsInt pathology)
      val updated = next.localCheckpoint()
      // the convergence flag is a trivial scan of the materialized leaf
      val changedRow = updated
        .agg(sum(when(col("cluster_id") =!= col("_old"), 1L).otherwise(0L))).head()
      val changed = !changedRow.isNullAt(0) && changedRow.getLong(0) > 0
      labels = updated.select(col("id"), col("cluster_id"))
      converged = !changed
      iter += 1
    }
    Right(labels)
  }

  /** The rounds of [[clusters]] on the driver over the undirected edges of
    * `g`: per node, the index of its label. Ids sort like the index, so min
    * over labels is min over indexes, and each round is the distributed
    * one: neighbour minimum, then one pointer-jumping hop through the
    * previous round's labels; stop when no label changes or after
    * `maxIters` rounds.
    */
  private def localClusters(g: LocalGraph, maxIters: Int): Array[Int] = {
    val (n, ia, ib) = (g.n, g.src, g.dst)
    var label = Array.tabulate(n)(identity)
    var next = new Array[Int](n)
    val nmin = new Array[Int](n)
    var iter = 0
    var changed = true
    while (iter < maxIters && changed) {
      System.arraycopy(label, 0, nmin, 0, n)
      var e = 0
      while (e < ia.length) {
        val (u, v) = (ia(e), ib(e))
        if (label(v) < nmin(u)) nmin(u) = label(v)
        if (label(u) < nmin(v)) nmin(v) = label(u)
        e += 1
      }
      changed = false
      var i = 0
      while (i < n) {
        next(i) = math.min(nmin(i), label(nmin(i)))
        if (next(i) != label(i)) changed = true
        i += 1
      }
      val t = label; label = next; next = t
      iter += 1
    }
    label
  }

  /** The END-TO-END near-duplicate dedup pipeline — the flagship corpus op
    * assembled from this module's stages, each run once per call:
    *
    *   ONE shingling pass, materialized as (_sid, _sh)
    *     -> MinHash-LSH candidates ([[candidatePairsPre]]: one signature per
    *        document, one shuffle of the banded rows read by both sides of
    *        the bucket self-join; docs with no shingle never enter a bucket)
    *     -> EXACT shingle-Jaccard verify at `jaccard` (LSH recall is a
    *        probabilistic 1 at sane banding; the verify makes the pair set
    *        exactly {J >= jaccard}, so downstream is deterministic)
    *     -> connected components over the dup graph ([[clusters]]: the pair
    *        list materialized once, its observed size picks the driver or
    *        the distributed rounds)
    *     -> labels attached to the ids of the shingle projection
    *        ([[withClusterId]]: a row-local lookup when the graph went to
    *        the driver and its labels fit the broadcast threshold, a join
    *        otherwise), then canonical selection: min
    *        id per component, or — when `keepByCol` names a score
    *        column on `df` — the component's best row by (score desc
    *        NULLS LAST, id asc), the production
    *        policy of keeping the longest/highest-quality variant instead
    *        of the accidental smallest id. The scored path is two
    *        map-side-combined aggregates (max score per cluster, then min
    *        id among the null-safe score ties) — NO cluster-partitioned
    *        window, so a pathological giant cluster (one template
    *        replicated across a crawl) spreads across tasks like any
    *        other aggregate instead of concentrating in one sort
    *        partition. Only this path reads `df` again (for the score).
    *
    * Output: one row PER INPUT ROW — (idCol, cluster_id, cluster_size,
    * kept). Singletons are their own cluster of size 1; `kept` marks the
    * canonical row (exactly one per cluster), so `where(col("kept"))` IS
    * the deduplicated corpus and the rest is the audit trail.
    *
    * Scale shape: the text reduces to signatures/shingle arrays before
    * anything wide; pairs are bucket-bounded; CC runs on the pair-graph
    * (dup-sized, not corpus-sized); the labelling joins carry ids only.
    * The cluster-size aggregate (map-side combined) joins back on the label.
    */
  def nearDupDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, numBands: Int = 32,
                   shingleSize: Int = 5, jaccard: Double = 0.8,
                   keepByCol: Option[String] = None): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    // ONE tokenization/shingling pass over the corpus: the banding
    // signature is DERIVED from the shingle array (TextKernels factoring,
    // bit-identical to minhash_signature(text)), and the materialized
    // (id, shingles) projection feeds banding, both sides of the exact
    // verify and the labelling.
    val pre = Fanout.ensure(df).select(col(idCol).as("_sid"),
      shingles(col(textCol), shingleSize).as("_sh"))
      .localCheckpoint()
    nearDupDedupPre(df, pre, idCol, numHashes, numBands, jaccard, keepByCol)
  }

  /** Rows of a (_sid, _sh) projection that can verify against anything:
    * a doc under `shingleSize` words (or with null text) has no shingle, so
    * its signature is all Long.MaxValue and every such doc would share one
    * bucket in every band — k of them a k(k-1)/2-pair hot spot that the
    * verify then rejects whole. Banding and verify both read this.
    */
  private def withShingles(pre: DataFrame): DataFrame = pre.where(size(col("_sh")) > 0)

  /** Banded (band, bucket, _id) rows of a (_sid, _sh) projection: one
    * signature per row, derived from the shingles.
    */
  private def bandedPre(pre: DataFrame, numHashes: Int, numBands: Int): DataFrame =
    bandedFromSigs(
      withShingles(pre).select(col("_sid").as("_id"),
        minhash_from_shingles(col("_sh"), numHashes).as("_sig")),
      numBands)

  /** LSH candidates of a pre-materialized (_sid, _sh) projection: the
    * distinct (id_a < id_b) pairs sharing any (band, bucket). The banded
    * frame is computed and shuffled ONCE ([[sharedKeyPairs]]), so each
    * signature is computed once — a broadcast self-join would evaluate it
    * on both of its sides. The sort-merge hint keeps the planner from
    * broadcasting one side and keeps the join streaming at any size.
    */
  private[graft] def candidatePairsPre(pre: DataFrame, numHashes: Int,
                                       numBands: Int): DataFrame =
    sharedKeyPairs(bandedPre(pre, numHashes, numBands).hint("merge"), Seq("_bucket", "_band"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"))
      .distinct()

  /** LSH candidate generation + exact shingle-Jaccard verify from a
    * pre-materialized (_sid, _sh) projection — the shared pair stage of
    * [[nearDupDedupPre]] and the q48 dup-cluster query. The LSH candidate
    * set at banding threshold 0 is the set of pairs sharing any
    * (band, bucket). Output: verified (id_a, id_b), one row per matching
    * pair of projection rows (a duplicated id can repeat a pair).
    */
  private[graft] def verifiedPairsPre(pre: DataFrame, numHashes: Int,
                                      numBands: Int, jaccard: Double): DataFrame = {
    val sh = withShingles(pre).select(col("_sid").as("_id"), col("_sh").as("_s"))
    attachBothSides(candidatePairsPre(pre, numHashes, numBands), sh, Seq("_s"))
      .where(jaccard_sorted(col("_sa"), col("_sb")) >= jaccard)
      .select(col("id_a"), col("id_b"))
  }

  /** [[nearDupDedup]] from a PRE-materialized (_sid, _sh) shingle
    * projection of `df` (one row per `df` row) — the entry point
    * [[nearDupIncremental]] uses so the within-shard dedup reuses the
    * shard's one shingling pass instead of re-tokenizing. Semantics
    * identical to [[nearDupDedup]]; the labels attach to `pre`'s ids, and
    * `df` is read only for `keepByCol`.
    */
  private[ops] def nearDupDedupPre(df: DataFrame, pre: DataFrame,
                                   idCol: String, numHashes: Int,
                                   numBands: Int, jaccard: Double,
                                   keepByCol: Option[String]): DataFrame = {
    val labeled = withClusterId(pre.select(col("_sid").as(idCol)), idCol,
      verifiedPairsPre(pre, numHashes, numBands, jaccard))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val base = labeled.join(sizes, Seq("cluster_id"))
    keepByCol match {
      case None =>
        base.select(col(idCol), col("cluster_id"), col("cluster_size"),
          (col(idCol) === col("cluster_id")).as("kept"))
      case Some(sc) =>
        // argmax by (score desc, id asc) as aggregates, not a window: a
        // giant cluster must never become one task's sort partition
        val scored = base
          .join(df.select(col(idCol), col(sc).as("_keep_score")), Seq(idCol))
        val bestScore = scored.groupBy(col("cluster_id"))
          .agg(max(col("_keep_score")).as("_best_score"))
        // <=> so an all-NULL-score cluster still keeps its min id (max()
        // ignores nulls, and score desc orders nulls last)
        val winner = scored.join(bestScore, Seq("cluster_id"))
          .where(col("_keep_score") <=> col("_best_score"))
          .groupBy(col("cluster_id")).agg(min(col(idCol)).as("_keep_id"))
        scored.join(winner, Seq("cluster_id"))
          .select(col(idCol), col("cluster_id"), col("cluster_size"),
            (col(idCol) === col("_keep_id")).as("kept"))
    }
  }

  /** Winnowed fingerprint overlap — SUBSTRING-level partial-duplicate
    * detection (Schleimer/Wilkerson/Aiken 2003, the MOSS winnowing
    * algorithm — published method). Doc-level Jaccard (minHash / ngram)
    * misses a copied paragraph inside an otherwise-different page; this
    * finds it, with the winnowing guarantee: any shared token run of
    * length >= windowW + k - 1 contributes at least one COMMON fingerprint
    * to both documents.
    *
    * Fingerprints: hash every word k-gram (first 32 md5 bits — the repo's
    * standard oracle-replayable hash), slide a window of `windowW`
    * consecutive k-gram hashes and keep each window's MIN; the document's
    * fingerprint set is the distinct mins (a document with fewer than
    * windowW k-grams contributes the min over what it has; no k-grams —
    * no fingerprints). Pairs sharing >= minShared distinct fingerprints
    * are emitted as (id_a, id_b, shared_fps), id_a < id_b.
    *
    * Scale shape: fingerprinting is a narrow per-row projection of
    * built-in array HOFs (~|tokens| x windowW comparisons; the
    * deque-optimal scan would not change what gets read or shuffled), and
    * winnowing's expected density is 2/(windowW+1) fingerprints per
    * token, so the inverted index is a FRACTION of the all-shingles q37
    * index. Hot fingerprints (site boilerplate) are dropped
    * ([[dropHotKeys]], maxFpDf) BEFORE the postings self-join fan-out,
    * which carries only (id, fingerprint) — text never rides an exchange.
    */
  def winnowedOverlapPairs(df0: DataFrame, idCol: String, textCol: String,
                           k: Int = 4, windowW: Int = 5, minShared: Int = 2,
                           maxFpDf: Int = 1000): DataFrame = {
    require(k > 0 && windowW > 0, "k and windowW must be positive")
    require(minShared > 0, "minShared must be positive")
    val df = Fanout.ensure(df0)
    // LET-BINDING via single-element transform closures: the word array
    // and the k-gram hash array are each bound as a lambda VARIABLE, so
    // downstream slices reference a materialized array instead of
    // re-evaluating the regexp/md5 chain per window position. Plain
    // `withColumn` stages get inlined by CollapseProject into the window
    // lambdas — observed as an O(positions²) regexp blow-up in the
    // filter/generate stage at bench scale.
    val fpExpr =
      s"""element_at(transform(
         |  array(regexp_extract_all(lower($textCol), '[a-z0-9_'']+', 0)),
         |  _ww -> element_at(transform(
         |    array(transform(slice(_ww, 1, greatest(size(_ww) - ${k - 1}, 0)),
         |      (x, i) -> cast(conv(substring(md5(cast(
         |        concat_ws(' ', slice(_ww, i + 1, $k)) AS binary)), 1, 8),
         |        16, 10) AS bigint))),
         |    _hh -> array_distinct(CASE
         |      WHEN size(_hh) = 0 THEN cast(array() AS array<bigint>)
         |      WHEN size(_hh) <= $windowW THEN array(array_min(_hh))
         |      ELSE transform(sequence(1, size(_hh) - ${windowW - 1}),
         |             j -> array_min(slice(_hh, j, $windowW)))
         |    END)), 1)), 1)""".stripMargin
    val fps = df.select(col(idCol).as("_id"), expr(fpExpr).as("_fp"))
      .select(col("_id"), explode(col("_fp")).as("_g"))
    sharedKeyPairs(dropHotKeys(fps, "_g", maxFpDf), Seq("_g"))
      .groupBy(col("x._id").as("id_a"), col("y._id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Incremental NEAR-dup dedup against a ledger of already-kept documents
    * — the MinHash/LSH dual of [[exactIncremental]], for continuous
    * ingestion: a new shard never re-dedups the corpus. One row per
    * incoming row, `status` in:
    *
    *  - `ledger_dup`: exact shingle-Jaccard >= `jaccard` against some
    *    ledger document; `dup_of` = the smallest matching ledger id.
    *  - `shard_dup`: survives the ledger but loses the within-shard
    *    [[nearDupDedup]] canonical selection; `dup_of` = its cluster
    *    canonical (min id).
    *  - `kept`: append to the corpus (and to the ledger) — re-ingesting a
    *    kept document later lands it in `ledger_dup`, so ingestion is
    *    idempotent one similarity notch up from exactIncremental.
    *
    * Scale shape: both sides reduce to banded signature buckets before
    * anything wide; the corpus-sized ledger is PROBED by a (band, bucket)
    * equi-join — never all-pairs, never broadcast — and the exact shingle
    * verify touches candidate pairs only. Cost is O(shard work) + the
    * bucket-join fan-in; the ledger's text is read but never self-joined.
    */
  def nearDupIncremental(incoming: DataFrame, ledger: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 128, numBands: Int = 32,
                         shingleSize: Int = 5, jaccard: Double = 0.8): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    // ONE tokenization/shingling pass over the SHARD, materialized
    // (localCheckpoint, shard-sized (id, shingles)): banding signatures
    // derive from the shingle array (bit-identical TextKernels factoring),
    // and ledger verify + within-shard dedup read the same projection.
    // The previous shape re-ran the signature kernel from raw text three
    // times (shard banding, shard verify side, and again inside the
    // within-shard nearDupDedup) — the dominant cost of the operator
    // (round-5 verdict item 1). The corpus-sized ledger is NOT
    // materialized: its banding pass reduces it to slim signatures, and
    // its verify pass shingles only the candidate-bounded sliver (the
    // semi-join below).
    val preIn = Fanout.ensure(incoming).select(col(idCol).as("_sid"),
      shingles(col(textCol), shingleSize).as("_sh"))
      .localCheckpoint()
    val fanLedger = Fanout.ensure(ledger)
    val preLedBand = fanLedger.select(col(idCol).as("_sid"),
      shingles(col(textCol), shingleSize).as("_sh"))
    // candidate (shard, ledger) id pairs — shard-bounded; materialized
    // because BOTH the verify-side semi-join below and the verify join
    // itself consume it (one banding pass over the ledger, not two).
    // Shingle-less docs enter neither banding pass (see withShingles).
    val cands = bandedPre(preIn, numHashes, numBands).withColumnRenamed("_id", "_in")
      .join(bandedPre(preLedBand, numHashes, numBands).withColumnRenamed("_id", "_led"),
        Seq("_bucket", "_band"))
      .select(col("_in"), col("_led")).distinct()
      .localCheckpoint()
    // the exact verify needs ledger SHINGLES only for CANDIDATE ledger
    // docs (the join below is inner on _led): semi-join the ledger to the
    // candidate ids BEFORE the shingle kernel, so the second ledger pass
    // tokenizes a candidate-bounded sliver instead of the whole corpus —
    // the previous shape ran a second FULL-ledger shingling pass. The
    // ledger is still never materialized; the banding pass reduces it to
    // slim signatures, exactly as before.
    val preLedCand = fanLedger
      .join(cands.select(col("_led").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("_sid"), shingles(col(textCol), shingleSize).as("_sh"))
    // shard-bounded (one row per duplicated incoming id) and consumed by
    // THREE downstream subtrees (the output union, the survivor anti-join,
    // the pre-projection anti-join) — materialize once or every consumer
    // re-instantiates the whole ledger banding + verify pipeline
    val ledgerDups = cands
      .join(preIn.select(col("_sid").as("_in"), col("_sh").as("_sa")), Seq("_in"))
      .join(preLedCand.select(col("_sid").as("_led"), col("_sh").as("_sb")), Seq("_led"))
      .where(size(col("_sa")) > 0 && size(col("_sb")) > 0 &&
        jaccard_sorted(col("_sa"), col("_sb")) >= jaccard)
      .groupBy(col("_in")).agg(min(col("_led")).as("dup_of"))
      .localCheckpoint()
    val rest = incoming.join(ledgerDups.select(col("_in").as(idCol)),
      Seq(idCol), "left_anti")
    val preRest = preIn.join(ledgerDups.select(col("_in").as("_sid")),
      Seq("_sid"), "left_anti")
    val within = nearDupDedupPre(rest, preRest, idCol, numHashes, numBands,
      jaccard, keepByCol = None)
    ledgerDups
      .select(col("_in").as(idCol), lit("ledger_dup").as("status"), col("dup_of"))
      .unionByName(within.select(col(idCol),
        when(col("kept"), lit("kept")).otherwise(lit("shard_dup")).as("status"),
        when(col("kept"), lit(null)).otherwise(col("cluster_id")).as("dup_of")))
  }

  /** Blocked edit-distance fuzzy pairs: all (id_a < id_b) pairs whose
    * strings are within `maxDist` Levenshtein edits — record-linkage over
    * titles / product names / URLs without an all-pairs pass.
    *
    * Blocking is LOSSLESS by construction: `levenshtein(a,b) <= d` implies
    * `|len(a)-len(b)| <= d`, so with bucket width `d+1` a matching pair's
    * length buckets differ by at most one. The left side explodes to its
    * three candidate buckets {b-1, b, b+1}, the right side keeps its one
    * real bucket — each pair meets EXACTLY once (the right bucket is a
    * single value) and no pair is missed. Output: (id_a, id_b, dist).
    *
    * The verify predicate uses Spark's thresholded levenshtein (banded
    * O(d*n) instead of O(n^2) per pair, exact for dist <= maxDist).
    *
    * Scale shape: one shuffle on the length bucket; candidate fanout is
    * sum over buckets of |bucket| x |adjacent|, bounded by the length
    * histogram, never |corpus|^2. Length blocking alone leaves hot buckets
    * when lengths concentrate — compose with a cheap second key (e.g.
    * first token) passed via `extraKey` to split them.
    */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String, maxDist: Int,
                 extraKey: Option[Column] = None): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val width = maxDist + 1
    val base = df.select(col(idCol).as("_fid"), col(strCol).as("_fs"),
      floor(length(col(strCol)) / lit(width)).cast("long").as("_fb"),
      extraKey.getOrElse(lit(0)).as("_fk"))
    val l = base.select(col("_fid").as("_lid"), col("_fs").as("_ls"), col("_fk"),
      explode(array(col("_fb") - 1, col("_fb"), col("_fb") + 1)).as("_fb"))
    val r = base.select(col("_fid").as("_rid"), col("_fs").as("_rs"),
      col("_fk"), col("_fb"))
    l.join(r, Seq("_fk", "_fb"))
      .where(col("_lid") < col("_rid"))
      .withColumn("dist", levenshtein(col("_ls"), col("_rs"), maxDist))
      .where(col("dist") >= 0)
      .select(col("_lid").as("id_a"), col("_rid").as("id_b"),
        col("dist").cast("long").as("dist"))
  }

  /** Sorted-neighborhood blocking (Hernandez & Stolfo, SIGMOD'95): sort the
    * corpus by a blocking key and emit every pair of rows within `window`
    * POSITIONS of each other in that global order — the classic
    * record-linkage candidate generator for keys where edit-distance
    * buckets don't apply (names, normalized titles, URL paths). Output:
    * (id_a, id_b, rank_a, rank_b) with rank_b - rank_a in [1, window] over
    * the total order (sortKey, id) — ties are deterministic.
    *
    * The global rank is computed WITHOUT a single-partition window — the
    * usual scale-killer for this operator: range-repartition on
    * (sortKey, id) gives a distributed sort whose partitions tile the total
    * order; ranks are per-partition row_numbers (parallel window over
    * spark_partition_id) plus cumulative partition-size offsets (one tiny
    * aggregate — rows per PARTITION, broadcast back). Pairing is then a
    * block-adjacent equi-join: with block = (rank-1) div window, any pair
    * within `window` positions lies in the same or adjacent block, so each
    * left row joins exactly blocks {b, b+1} — fanout 2, no distinct needed.
    * Output size is corpus x window, by construction.
    */
  def sortedNeighborPairs(df: DataFrame, idCol: String, sortCol: String,
                          window: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val sorted = df.select(col(idCol).as("_id"), col(sortCol).as("_k"))
      .repartitionByRange(col("_k"), col("_id"))
      .withColumn("_pid", spark_partition_id())
    val local = sorted.withColumn("_r",
      row_number().over(Window.partitionBy(col("_pid"))
        .orderBy(col("_k"), col("_id"))))
    // partition-size table: one row per range partition; the cumulative
    // offset window is over THAT table, never over the corpus
    val sizes = local.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
    val offs = sizes.withColumn("_off",
      coalesce(sum(col("_n")).over(Window.orderBy(col("_pid"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    val ranked = local.join(broadcast(offs), "_pid")
      .select(col("_id"), (col("_off") + col("_r")).as("_rank"))
      .withColumn("_b", expr(s"(_rank - 1) div $window"))
    val left = ranked.select(col("_id").as("id_a"), col("_rank").as("rank_a"),
      explode(array(col("_b"), col("_b") + 1)).as("_b"))
    val right = ranked.select(col("_id").as("id_b"), col("_rank").as("rank_b"), col("_b"))
    left.join(right, "_b")
      .where((col("rank_b") - col("rank_a")).between(1, window))
      .select(col("id_a"), col("id_b"), col("rank_a"), col("rank_b"))
  }

  /** Weighted (multiset) Jaccard pairs over word COUNTS — the similarity
    * [[ngramJaccardPairs]]'s set semantics underestimates for repetitive
    * pages: J_w = Σ_t min(c_a(t), c_b(t)) / Σ_t max(c_a(t), c_b(t)), with
    * Σmax = tot_a + tot_b − Σmin, so only the shared-token join is ever
    * computed and every part is an exact bigint (one terminal division).
    * The word index is df-capped ([[dropHotKeys]]; the cap trades
    * hot-token postings for a lower-bounded score; set it above the
    * corpus max-df to make the score exact).
    *
    * Output: id_a, id_b, min_sum, weighted_jaccard (≥ threshold). Scale
    * shape: token counts by combiner groupBy, hot-token anti-join, one
    * postings self-join bounded by pruned df, totals joined in by id. */
  def weightedJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double = 0.5,
                           maxTokenDf: Int = 1000): DataFrame = {
    val counts = df.select(col(idCol).as("_id"), explode(Relevance.words(col(textCol))).as("_t"))
      .groupBy(col("_id"), col("_t")).agg(count(lit(1)).as("_c"))
    val tot = counts.groupBy(col("_id")).agg(sum(col("_c")).as("_tot"))
    val shared = sharedKeyPairs(dropHotKeys(counts, "_t", maxTokenDf), Seq("_t"))
      .groupBy(col("x._id").as("id_a"), col("y._id").as("id_b"))
      .agg(sum(least(col("x._c"), col("y._c"))).as("min_sum"))
    attachBothSides(shared, tot, Seq("_tot"))
      .select(col("id_a"), col("id_b"), col("min_sum"),
        (col("min_sum").cast("double") /
          (col("_tota") + col("_totb") - col("min_sum")).cast("double"))
          .as("weighted_jaccard"))
      .where(col("weighted_jaccard") >= threshold)
  }

  /** Fellegi–Sunter record-linkage scoring over blocked candidate pairs:
    * candidates meet by an equi-join on `blockCol` (choose blocks that
    * bound candidate counts — the [[fuzzyPairs]] blocking discipline), and
    * each pair scores Σ over fields of an integer MILLI-weight — the
    * agreement weight (≈ log₂(m/u) pre-scaled by the caller) when the
    * field values are null-safe-equal, the disagreement weight otherwise.
    * Keeping the log-odds weights as caller-supplied integers makes every
    * score an exact bigint sum (no libm log in the comparison path — the
    * [[graft.ops.Stats.sprtWeights]] constants-are-the-contract rule) and
    * the threshold a pure integer predicate.
    *
    * Output: id_a, id_b, n_agree, score_milli for pairs with
    * score_milli ≥ minScoreMilli. Scale shape: one equi-join on the block
    * key + a narrow per-pair expression; no window, no cross product
    * outside a block.
    */
  def linkageScore(a: DataFrame, b: DataFrame, idColA: String,
                   idColB: String, blockCol: String,
                   fields: Seq[(String, Long, Long)],
                   minScoreMilli: Long): DataFrame = {
    require(fields.nonEmpty, "need at least one compared field")
    val la = a.select(col(idColA).as("id_a") +: col(blockCol).as("_blk") +:
      fields.map { case (f, _, _) => col(f).as(s"_a_$f") }: _*)
    val lb = b.select(col(idColB).as("id_b") +: col(blockCol).as("_blk") +:
      fields.map { case (f, _, _) => col(f).as(s"_b_$f") }: _*)
    val agree = fields.map { case (f, _, _) => col(s"_a_$f") <=> col(s"_b_$f") }
    val score = fields.zip(agree).map { case ((_, wa, wd), eq) =>
      when(eq, lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    val nAgree = agree.map(eq => when(eq, 1L).otherwise(0L)).reduce(_ + _)
    la.join(lb, Seq("_blk"))
      .select(col("id_a"), col("id_b"), nAgree.as("n_agree"),
        score.as("score_milli"))
      .where(col("score_milli") >= minScoreMilli)
  }
}
