package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.ops.{Dedup, Similarity}
import graft.temporal.{AsOfJoin, Windows}

/** Driver contract — 289 queries spanning every implemented operator family
  * (SURVEY.md §2) plus the training-data curation surface, EACH with an
  * exact DuckDB oracle in `oracleSql` (no rows-only checks). Groups:
  * q01-q04 relational core, q05-q11 temporal/windows, q12-q20 dedup/text/
  * ANN, q21-q29 the gbdc CNF kernel surface, q30-q33 WCNF/OPB families,
  * q34/q40 distribution+degree statistics, q35 iso_hash2, q36 cnf2bip,
  * q37 exact ngram pairs, q38/q39 wcnf-iso/pqbf hashes, q41 Structured
  * Streaming sessions, q42-q49 corpus curation (decontaminate, PII,
  * repetition, sampling, packing, multimodal decode, CC clusters,
  * passages), q50 the END-TO-END FeatureJob pipeline, q51 the SQL-registry
  * path, q52 the pruned PageTable layout, q53 salted aggregation, q54 the
  * BPE-ish token estimator, q55/q56/q57 the reference's own golden fixtures
  * (xz-compressed payloads decompressed in-plan, constants hard-coded from
  * the reference tree), q58 real-codec multimodal decode (PNG/JPEG/WAV),
  * q59 the deterministic resource envelope (limit/timeout/ok outcomes),
  * q60 the S4 split sink (content-addressed text + feature tables,
  * written then read back and re-joined on the content hash), q61 IVF ANN
  * through the distributed treeAggregate Lloyd trainer (exact at
  * nProbe == nCentroids), q62 decompress_auto magic-byte dispatch across
  * all four stream codecs (xz/gzip/bzip2/zstd) in one binary column, q63
  * the storage-partitioned join (both sides bucketed by url — the merge
  * join plans zero Exchange; plan-asserted in BucketedJoinSpec), q64
  * streaming watermark-scoped dedup (dropDuplicatesWithinWatermark
  * replayed over four micro-batches — the streaming dual of q12), q65
  * URL structure features (RE2-portable parse, registrable-domain key,
  * path depth — the domain-level curation keys), q66 LINE-level dedup
  * (C4/RefinedWeb boilerplate removal — corpus-common lines stripped from
  * every doc, slim (id,pos,md5) explode + row-local reassembly), q67
  * per-domain caps (md5-rank deterministic keep-k per url_domain), q68
  * composite quality gate (Gopher rule family with per-rule reasons), q69
  * incremental shard-vs-ledger dedup (idempotent re-ingestion), q70
  * HTML -> text extraction (the `html: binary` -> `text` stage; ordered
  * RE2-portable grammar, byte-identical against the oracle's replay), q71
  * revisit change detection (per-url simhash bit distance to the previous
  * crawl snapshot — lag-only, zero temporal leakage), q72 SCD2 validity
  * intervals (valid_from/valid_to/is_current per snapshot — the storage-side
  * dual of the as-of join), q73 outlink extraction (web-graph edge list
  * with base-url resolution), q74 exact-integer PageRank (fixed-point
  * bigint iterations — partitioning/fold-order independent, oracle unrolls
  * the same iterations as CTEs), q75 exact discrete quantiles (the
  * quantile_disc element rule, dyadic qs), q76 deterministic shuffle-shard
  * deal (pure function of seed+id, no global sort), q77 out-of-vocabulary
  * stats vs the corpus's own deterministic top-100 vocabulary, q78 custom
  * keyed streaming state (flatMapGroupsWithState revisit/change counters
  * across four micro-batches vs the pure-window batch dual), q79 as-of
  * join under a max-staleness tolerance (too-stale matches degrade to
  * unmatched nulls — feature-store point-in-time semantics), q80 crawl
  * cadence (median inter-revisit gap), q81 the END-TO-END curation
  * pipeline (extract -> line-dedup -> quality gate -> dedup -> sample in
  * one DAG), q82 corpus snapshot diff (added/removed/changed/unchanged
  * between crawl days), q83 exact-integer tf-idf top-k terms (fixed-point
  * rational idf — bit-exact across engines), q84 anchor extraction
  * (outlinks with anchor text), q85 host-level inlink features (inlinks /
  * distinct source hosts / external share per target host), q86
  * quantile-based feature binning (within-key quartiles from the exact
  * discrete thresholds), q87 the mergeable HLL distinct sketch (custom
  * TypedImperativeAggregate; per-language estimates plus a '*' row from
  * MERGING the per-language sketches, the estimate one exact int128
  * division the oracle replays), q88 URL canonicalization (ordered
  * RE2-portable grammar: case-fold, default-port strip, tracking-param
  * drop, query sort, fragment drop), q89 count-min sketch frequency
  * estimates (never-underestimate visible under deliberate collisions,
  * every cell replayed), q90 Bloom-filter decontamination (zero false
  * negatives, deterministic false positives replayed bit-for-bit), q91
  * term co-occurrence with exact-integer PMI-style lift, q92 the
  * END-TO-END near-dup dedup pipeline (LSH -> exact verify -> CC ->
  * canonical selection; one row per input doc with cluster_id /
  * cluster_size / kept), q93 bigram-coverage fluency (second-order oov
  * against the corpus's own top-50 bigram vocabulary), q94 deterministic
  * mixture upsampling (fixed-point domain weights, md5 fractional coin —
  * the realized training mix is a pure function of seed+id), q95 the HLL
  * sketch as Structured Streaming STATE (per-day distinct estimates whose
  * register buffers merge across micro-batches in the state store), q96
  * greedy token-budget selection (the global score-ordered prefix sum
  * decomposed into score-level offsets + within-score windows), q97
  * DSIR-style hashed importance weights (fixed-point density-ratio
  * scoring against a target subset, decimal(38,0) products + div), q98
  * winnowed fingerprint overlap (MOSS winnowing — substring-level
  * partial-dup pairs doc-level Jaccard can't see), q99 near-dup dedup with
  * quality-scored canonical selection (keep the best variant, not the
  * smallest id), q100 incremental near-dup dedup against a ledger
  * (ledger_dup / shard_dup / kept statuses — idempotent continuous
  * ingestion), q101 robots-style URL policy (longest-prefix match, deny
  * wins ties, broadcast rule table), q102 the temporal-leakage audit
  * (per-user n_leaks over q09's production as-of output — the oracle
  * recomputes the point-in-time join independently and must agree
  * n_leaks = 0 everywhere), q103 incremental PageTable merge (recrawl
  * delta upserted by (url, warc_ts) with only touched (p_day, p_bucket)
  * partitions rewritten; read-back equals a from-scratch reconstruction),
  * q104 WARC container ingestion (ISO 28500 parse + gzip member framing),
  * q105 exact duplicated-span removal (Lee et al. k-token keep-first),
  * q106 robots.txt parsing + RFC 9309 crawl policy, q107 C4 line-level
  * cleaning (oracle re-implements the filter in DuckDB lambdas), q108
  * rendezvous (HRW) minimal-movement shard routing, q109 blocked
  * delta-encoded postings-list export (the Lucene-style search-index
  * sink), q110 canonical web-text normalization (Unicode NFC + control
  * strip + whitespace collapse — the byte-identity contract for web pages,
  * oracled against DuckDB's independent utf8proc NFC), q111 entity-safe
  * deterministic train/val/test split (pure function of the key — all
  * revisits of one entity share a split), q112 hashing-trick sparse
  * feature export (signed 32-bit-md5 buckets at fixed dim), q113
  * fixed-point smoothed bigram-LM fluency (the CCNet-style reference-
  * corpus scorer: LM trained on the corpus's English split, every doc
  * scored with add-one smoothing — unseen bigrams AND unseen contexts
  * bind), q114 BPE merge-pair statistics (round-1 corpus-weighted symbol
  * pair counts — the tokenizer-trainer's decision table), q115 BPE
  * segmentation statistics under a fixed merge list (the exact greedy
  * left-to-right encoder fold; merges chosen with disjoint alphabets so
  * the oracle can replay fires as non-overlapping regex counts), q116
  * fastText-style linear classifier inference (signed hashed features x
  * broadcast weight table, integer dot product), q117 real pixel-raster
  * decode (exact channel sums, closed-form PNG oracle), q118
  * exact-integer BM25 top-k (saturation + length normalization as one
  * decimal(38,0) rational), q119 UT1-style phrase blocklist
  * (token-boundary L-gram matching, broadcast phrase table), q120 the
  * ML-ready feature-matrix assembly (five operator families composed in
  * one DAG; one wide row per document), q121-q152 the extended curation/
  * analytics families (mixture targeting, tokenizer-aware packing,
  * SemDeDup, PQ, RRF fusion, fuzzy join, real PCM/pixel decode, robust
  * stats, boilerplate/repetition/k-anonymity/diversity/readability
  * gates, Zipf, integer HITS, priority sampling, JSON ingest, range
  * join, graph clustering stats, funnel/cohort/transition analytics,
  * constraint gate, salted join, crosstab — per-query comments below),
  * q153 the mergeable log2-histogram quantile sketch, q154 the Z-order
  * layout key (codegen'd Morton interleave + per-z-range skipping
  * index), q155 exact-integer classifier evaluation (rank-sum AUC +
  * calibration bins), q156 the quantile sketch as streaming state
  * (per-day percentiles merging across micro-batches), q157 last-touch
  * attribution (one window pass, no inequality self-join), q158
  * trailing-window burst detection (cross-multiplied integer flag),
  * q159 lossless prefix-filtered set-similarity join, q160 key-skew
  * diagnostic (exact Gini from count-of-counts), q161 PSI drift
  * monitor, q162 sorted-neighborhood blocking (distributed global
  * rank), q163 OLAP CUBE volume rollup, q164 market-basket association
  * rules, q165 Kendall-tau ranking churn, q166 lag-7 daily
  * autocorrelation (exact-bigint Pearson sums), q167 per-key OLS volume
  * trend, q168 chi-squared independence (full grid + fold-ordered
  * total), q169 multi-source BFS crawl depth, q170 exact two-pass heavy
  * hitters (Misra-Gries candidates + exact verify), q171 stream-static
  * broadcast enrichment, q172 trailing-window distinct actors
  * (contribution explosion), q173 exact Pearson correlation matrix
  * (one-pass bigint moments), q174 seeded differentially-private counts
  * (replayable Laplace), q175 vocabulary coverage curve (TakeOrdered
  * top-k), q176 Welch's t-test (one-pass conditional sums), q177 IR
  * ranking metrics (exact dyadic RBP/RR/P@k; ln-based nDCG kept
  * JVM-internal), q178 exact join-size preflight, q179 winsorized mean
  * (exact discrete-quantile clamp), q180 top-k membership churn, q181
  * inter-event gap log2 histogram (length(bin(gap))-1, no libm), q182-q183
  * classification report + Cohen's kappa (confusion-matrix-sized shuffle),
  * q184 exact column profile (one Expand pass), q185 k-core (unrolled-peel
  * oracle), q186 interval-overlap join (bucketed, dedup-free), q187
  * longest repeated substring (suffix-sort max-LCP), q188 GIF/BMP header
  * decode, q189 interval coalescing (running-max islands), q190 CDC
  * changelog apply, q191 tie-aware Spearman rho (doubled integer ranks),
  * q192 watermarked stream-stream join (±bound, MemoryStream replay),
  * q193 byte-weighted discrete quantiles (cumulative-weight rule), q194
  * degree assortativity (HUGEINT moments), q195 Unicode script mix
  * (explicit BMP ranges), q196 Bloom semi-join reduction (runtime-filter
  * pattern, exact result at any filter size), q197 nearest-snapshot join
  * (argmin either direction, tie to backward), q198 graph reciprocity,
  * q199 deterministic Poisson-bootstrap CI (md5 draw, exact replays),
  * q200 exact CUSUM drift detector (prefix-sum identity), q201 schema
  * drift report (pure driver metadata), q202 exact Gini decision-stump
  * feature ranking, q203 JPEG EXIF orientation (APP1/TIFF walk), q204
  * PERMISSIVE CSV ingestion with a quarantine channel, q205 RFM
  * quartile segmentation (exact discrete-quantile bins), q206
  * Mann-Kendall trend test (tie-corrected, exact integers), q207
  * time-weighted step-series mean, q208 WebP header decode (VP8X/VP8L/
  * VP8 grammars), q209 Benford first-digit audit (literal expectations),
  * q210 Theil-Sen robust slope (discrete median of pair slopes), q211
  * chi-square term keyness, q212 Newman modularity, q213 epoch-aligned
  * grid resampling with forward fill, q214 exact two-sample KS distance, q215 HTML page-metadata extraction, q216 FLAC/MP3 audio metadata decode, q217 Wilcoxon signed-rank (paired, doubled tie ranks), q218 consecutive-day streaks, q219 capture-recapture population estimate, q220 snapshot time travel (append-only manifests), q221 linear-interpolated grid resampling, q222 HTML table-structure stats, q223 deterministic permutation test for a group-mean difference, q224 SCD Type 2 history build, q225 classifier calibration table, q226 Wald SPRT sequential test, q227 U-shaped multi-touch attribution, q228 grid-bucketed spatial neighbor pairs, q229 exact dyadic EWMA fold, q230 Fellegi-Sunter record-linkage scoring, q231 quantile normalization across groups, q232 state-run RLE timelines, q233 Pareto contribution cut, q234 sentence segmentation stats, q235 DBSCAN density clustering, q236 deterministic word dropout, q237 deterministic negative sampling, q238 minority-size class rebalancing, q239 item-item cosine similarity, q240 personalized PageRank, q241 Kaplan-Meier survival, q242 burstiness index, q243 entry/exit/bounce pages, q244 difference-in-differences, q245 Wilson lower-bound ranking, q246 exponential-backoff revisit scheduling, q247 politeness token bucket, q248 canonical-chain pointer jumping, q249 Mann-Whitney rank-sum with Cliff's delta, q250 three-way merge reconciliation, q251 weighted multiset Jaccard near-dups, q252 Gini concentration coefficient, q253 forecast scorecard vs naive baseline, q254 URL path-hierarchy rollup, q255 single-number expected calibration error, q256 stationary event-type mix, q257 histogram knee point, q258 Luhn checksum validity, q259 quality-threshold sweep, q260 fixed-point embedding centroids, q261 reference-population percentile (exact ECDF), q262 Boruvka minimum spanning tree, q263 weighted multi-source shortest paths, q264 range-digest table reconciliation, q265 MinHash audience overlap, q266 pinball quantile-forecast loss, q267 Wald-Wolfowitz runs test, q268 autocorrelation table, q269 exact 1-D earth mover's distance, q270 point-in-time trailing-window count join, q271 Cohen's d effect size, q272 Matthews correlation coefficient, q273 2x2 risk/odds ratios, q274 time-to-next-event labels, q275 markdown structure stats, q276 BPE segmentation at production merge count (206-merge rank table, merge-count-independent kernel), q277 BPE trainer end-to-end (hand-derived 6-round trace incl. tie-break), q278 ISO-BMFF sample-table walk (exact per-track frame counts/bytes/durations, codec-free), q279 Aho-Corasick substring blocklist (cost independent of pattern count), q280 density-smoothed content extraction (3-line densometric gate, zero shuffle), q281 purged walk-forward split with embargo (leakage-safe CV partitioner, exact integer bins), q282 b-bit MinHash near-dup estimation (16x-compressed sketch, collision-corrected estimator, full md5 oracle replay), q283 random projection (Achlioptas md5-parity signs, exact fixed-point JL map), q284 leave-fold-out target encoding (leakage-safe categorical encoder, md5 folds, milli integer chain), q285 MMR re-ranking (greedy relevance-vs-redundancy, milli-exact Jaccard penalties, hand-derived trace), q286 real video frame-content decode (AVI walk + per-frame raster sums for intra-frame codecs), q287 G.711 compressed-audio sample decode (ITU expansion chains, javax.sound-validated), q288 consistent-hash ring sharding (vnode successor assignment, minimal-movement audit), q289 Hilbert-curve layout key (locality-optimal clustering, recursive-CTE oracle).
  *
  * Oracle discipline: numeric outputs avoid cross-engine float-summation
  * hazards (integer cents / exact-dyadic folds / bit-identical per-row
  * double expressions); kernel-family oracles hard-code constants derived
  * BY HAND (or by compiling the reference's own header — q35) from the
  * reference semantics, never from engine output.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Deterministic DIMACS document derived from `orders` — the same
    * construction exists as SQL in [[cnfBaseCte]], so the gbdc kernel surface
    * (normalize / gbd_hash / features / clause parse / sanicheck, q21-q25)
    * gets hard DuckDB oracles. Variable ranges are DISJOINT per clause slot
    * (a<b<c<d) so the document is structurally tautology/duplicate-free and
    * every expected feature is closed-form in the four ints:
    *
    *   c q21
    *   p cnf 650 3
    *   a -b 0
    *   c ±d -a 0     (d positive iff o_orderkey even)
    *   b 0
    */
  private def syntheticCnf(s: SparkSession, dir: String): DataFrame = {
    val sd = when(col("pos_d"), col("d").cast("string"))
      .otherwise(concat(lit("-"), col("d")))
    t(s, dir, "orders").select(col("o_orderkey").as("id"),
        (col("o_orderkey") % 191 + 2).as("a"),
        (col("o_custkey") % 189 + 200).as("b"),
        ((col("o_orderkey") + col("o_custkey")) % 187 + 400).as("c"),
        (col("o_orderkey") % 41 + 600).as("d"),
        (col("o_orderkey") % 2 === 0).as("pos_d"),
        col("o_custkey").as("cust"),
        col("o_orderdate").as("odate"))
      .withColumn("text", concat(
        lit("c q21\np cnf 650 3\n"),
        col("a"), lit(" -"), col("b"), lit(" 0\n"),
        col("c"), lit(" "), sd, lit(" -"), col("a"), lit(" 0\n"),
        col("b"), lit(" 0\n")))
  }

  /** [[syntheticCnf]] range-partitioned and sorted on id BEFORE the kernel
    * projection (see q21's plan note).
    */
  private def sortedCnfBase(s: SparkSession, dir: String): DataFrame =
    syntheticCnf(s, dir)
      .repartitionByRange(32, col("id"))
      .sortWithinPartitions(col("id"))

  /** Deterministic WCNF document on the same base ints: one hard clause
    * (a v -b) and one weight-d soft clause (c). Even rows use the NEW
    * format (`h` prefix, no p-line), odd rows the OLD format
    * (`p wcnf v c top` with weight >= top meaning hard) — so the
    * old-top->h conversion (GBDHash.h:147-207) is driver-exercised, and
    * both formats parse to the same logical instance while their HASH
    * streams differ by exactly the reference's notfirst-after-h quirk
    * (no separator after an `h` clause; see Dimacs.normalizeWcnf).
    */
  private def sortedWcnfBase(s: SparkSession, dir: String): DataFrame =
    syntheticCnf(s, dir)
      .withColumn("text",
        when(col("pos_d"), concat(
          lit("c q30\nh "), col("a"), lit(" -"), col("b"), lit(" 0\n"),
          col("d"), lit(" "), col("c"), lit(" 0\n")))
        .otherwise(concat(
          lit("c q30\np wcnf 650 2 "), col("d") + 1, lit("\n"),
          col("d") + 1, lit(" "), col("a"), lit(" -"), col("b"), lit(" 0\n"),
          col("d"), lit(" "), col("c"), lit(" 0\n"))))
      .repartitionByRange(32, col("id"))
      .sortWithinPartitions(col("id"))

  /** Deterministic OPB document: a `min:` objective with coefficients
    * (2, a) and four constraints hitting each classification branch of
    * OPBBaseFeatures.cc:73-131 — one clause, one >= cardinality, one
    * general >= pseudo-Boolean (coefficient a), one = cardinality.
    */
  private def sortedOpbBase(s: SparkSession, dir: String): DataFrame =
    syntheticCnf(s, dir)
      .withColumn("text", concat(
        lit("* q32\nmin: +2 x1 +"), col("a"), lit(" x2 ;\n"),
        lit("+1 x1 +1 x2 +1 x3 >= 1 ;\n"),
        lit("+1 x1 +1 x2 >= 2 ;\n"),
        lit("+"), col("a"), lit(" x1 +1 x3 >= "), col("a"), lit(" ;\n"),
        lit("+1 x2 +1 x3 = 1 ;\n")))
      .repartitionByRange(32, col("id"))
      .sortWithinPartitions(col("id"))

  /** SQL twin of [[syntheticCnf]] (DuckDB): base ints + the gbd-hash-form
    * normalized text ("literals single-spaced, clauses 0-terminated,
    * comment/header dropped" — GBDHash.h:30-50 grammar).
    */
  private val cnfBaseCte: String =
    """base AS (
      |  SELECT o_orderkey AS id,
      |    o_orderkey % 191 + 2 AS a, o_custkey % 189 + 200 AS b,
      |    (o_orderkey + o_custkey) % 187 + 400 AS c, o_orderkey % 41 + 600 AS d,
      |    (o_orderkey % 2 = 0) AS pos_d,
      |    o_custkey AS cust, o_orderdate AS odate
      |  FROM orders),
      |norm AS (
      |  SELECT id, a, b, c, d, pos_d, cust, odate,
      |    cast(a AS varchar) || ' -' || cast(b AS varchar) || ' 0 ' ||
      |    cast(c AS varchar) || ' ' ||
      |    (CASE WHEN pos_d THEN cast(d AS varchar) ELSE '-' || cast(d AS varchar) END) ||
      |    ' -' || cast(a AS varchar) || ' 0 ' || cast(b AS varchar) || ' 0' AS norm_text
      |  FROM base)""".stripMargin

  /** Flagship: the text-curation pipeline over the documents table —
    * quality + language-id + token stats + exact-dup clustering.
    */
  def entry(spark: SparkSession): DataFrame = {
    val docs = t(spark, "/root/testdata/sf0.001", "documents")
    Dedup.exact(docs, "doc_id", "text")
      .withColumn("q", text_quality(col("text")))
      .select(col("doc_id"), col("lang"), col("dup_key"), col("dup_cluster_size"),
        col("q.n_tokens").as("n_tokens"), col("q.quality_score").as("quality_score"),
        lang_id(col("text")).getField("lang").as("lang_detected"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (scan/filter/agg/join/top-k) ----
    // Money outputs are bigint cents (cast(round(x*100) as bigint)) on BOTH
    // sides: integer sums are cross-engine exact and hash-stable, where
    // decimal renderings are not (round-1 q01/q02/q03/q10 hash_match
    // failures were representation-only — VERDICT.md "What's wrong" #1).
    // Every oracled aggregate also carries a total ORDER BY on its keys.
    "q01_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_join_broadcast" -> ((s, dir) => {
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region")
      customer
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("customers"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("sum_acctbal_cents"))
        .orderBy(col("r_name"), col("n_name"))
    }),
    "q03_topk_latest_order" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("timestamp").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(col("o_totalprice") * 100).cast("long").as("total_cents"))
        .orderBy(col("o_custkey"))
    }),
    "q04_filter_pushdown" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") && col("l_quantity") > 25)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_price"))
    }),

    // ---- temporal / window family ----
    "q05_lag_delta" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          (col("value") - lag(col("value"), 1).over(w)).as("value_delta"))
    }),
    "q06_backfill" -> ((s, dir) => {
      val masked = t(s, dir, "events")
        .withColumn("v", when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      Windows.backfill(masked, Seq("user_id"), "ts", Seq("v"))
        .select(col("event_id"), col("user_id"), col("v_filled"))
    }),
    "q07_sessionize" -> ((s, dir) => {
      Windows.sessionize(t(s, dir, "events"), Seq("user_id"), "ts", gapSeconds = 1800)
        .select(col("event_id"), col("user_id"), col("session_no"))
    }),
    "q08_session_stats" -> ((s, dir) => {
      Windows.sessionStats(
        Windows.sessionize(t(s, dir, "events"), Seq("user_id"), "ts", gapSeconds = 1800),
        Seq("user_id"), "ts")
        .select(col("user_id"), col("session_no"), col("session_revisits"), col("session_duration_s"))
    }),
    "q09_asof" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val clicks = events.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      AsOfJoin.asOfBucketed(clicks, purchases, Seq("user_id"), "ts", "pts", lit(86400))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"), col("pts").as("purchase_ts"))
    }),
    "q10_rolling" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-4, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          sum(round(col("value") * 1000000).cast("long")).over(w).as("roll5_sum_micros"),
          count(lit(1)).over(w).as("roll5_cnt"))
        .orderBy(col("event_id"))
    }),
    "q11_latest_dedup" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    }),

    // ---- text curation over documents ----
    "q12_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("dup_key"))
        .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("cluster_size"))
    }),
    "q13_token_stats" -> ((s, dir) => {
      t(s, dir, "documents").where(length(col("text")) > 0)
        .select(col("doc_id"), token_count(trim(col("text"))).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_actual"))
    }),
    "q14_lang_hist" -> ((s, dir) => {
      t(s, dir, "documents").groupBy(col("lang")).agg(count(lit(1)).as("docs"))
    }),
    "q15_char_classes" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("digit_chars"),
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").as("lower_chars"),
        length(regexp_replace(col("text"), "[^ ]", "")).cast("long").as("space_chars"))
    }),

    // ---- dedup / similarity (LSH candidates exact-verified, so every pair
    //      set equals an exact predicate a DuckDB oracle can recompute) ----
    "q16_minhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      // deterministic near-duplicates derived from the input: one token prepended
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      val union = docs.unionByName(mutated)
      // banding at threshold 0 = raw LSH candidates; the EXACT 3-shingle
      // Jaccard filter then decides — so the output is exactly
      // {pairs with exact J >= 0.8} provided banding recall is ~1 at the
      // threshold. 32 bands x 2 rows: a pair at exactly J=0.8 misses all
      // bands with P = (1-0.8^2)^32 ~ 6e-15, so equality with the exact
      // oracle cannot hinge on a marginal pair's luck (16x4 banding left
      // that at ~2e-4). NOTE: engine tokenization (Unicode letter/digit)
      // and the oracle's [a-z0-9_']+ regex agree because the driver corpus
      // is ASCII by construction — both q16/q17 oracles assume that.
      val cands = Dedup.minHashPairs(union, "id", "text",
        numHashes = 64, numBands = 32, threshold = 0.0, shingleSize = 3)
      val sh = union.select(col("id"), shingles(col("text"), 3).as("_sh"))
      cands
        .join(sh.select(col("id").as("id_a"), col("_sh").as("_sa")), Seq("id_a"))
        .join(sh.select(col("id").as("id_b"), col("_sh").as("_sb")), Seq("id_b"))
        .where(size(col("_sa")) > 0 && size(col("_sb")) > 0 &&
          jaccard_sorted(col("_sa"), col("_sb")) >= 0.8)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q17_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", col("text"), lit("suffixtoken")).as("text"))
      // md5 token hash -> the DuckDB oracle recomputes the identical
      // signature; 4x16 pigeonhole banding is COMPLETE for hamming <= 3, so
      // the pair set is exactly {hamming(simhash_a, simhash_b) <= 3}
      Dedup.simHashPairs(docs.unionByName(mutated), "id", "text",
        maxHamming = 3, tokenHash = "md5")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q18_knn_bruteforce" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(vecs.where(col("vec_id") < 10), vecs,
        "vec_id", "vec_id", "embedding", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "q19_ann_ivf" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      // nProbe == nCentroids exercises the full IVF machinery (train, narrow
      // assignment, probe join, top-k) with an EXACT contract: result must
      // equal brute-force top-k, which DuckDB recomputes independently
      Similarity.ivfTopK(vecs.where(col("vec_id") < 10), vecs,
        "vec_id", "vec_id", "embedding", "embedding", k = 3, nCentroids = 8, nProbe = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "q20_embedding_dedup" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings").select(col("vec_id").as("id"), col("embedding"))
      val scaled = vecs.select((col("id") + 100000L).as("id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      // hyperplane signs are invariant under positive scaling, so every
      // >=0.999 pair co-buckets in ALL tables — the LSH output equals the
      // exact all-pairs predicate the oracle computes
      Dedup.embeddingCosinePairs(vecs.unionByName(scaled), "id", "embedding",
        threshold = 0.999, bits = 10, tables = 4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- gbdc kernel surface over the synthetic DIMACS column (q21-q25):
    //      normalize / gbd_hash / base features / clause parse / sanicheck,
    //      each with a closed-form DuckDB oracle ----
    "q21_gbd_hash" -> ((s, dir) => {
      // Ordered-output kernel pattern: explicit range repartition + in-
      // partition sort on the CHEAP base, kernels projected above it. The
      // sort lives below the kernel so the range sampler never evaluates
      // it (a plain orderBy above the kernel re-runs it on every sampled
      // row), and the EXPLICIT partition count keeps AQE from coalescing
      // the kernel stage by (compressed) byte size — kernel cost is
      // per-row, which size-based coalescing cannot see.
      sortedCnfBase(s, dir)
        .select(col("id"), gbd_hash(col("text")).as("gbd"))
    }),
    "q22_cnf_features" -> ((s, dir) => {
      val f = cnf_features(col("text"))
      sortedCnfBase(s, dir).select(col("id"),
          f.getField("clauses").cast("long").as("clauses"),
          f.getField("variables").cast("long").as("variables"),
          f.getField("bytes").cast("long").as("bytes"),
          f.getField("ccs").cast("long").as("ccs"),
          f.getField("cls1").cast("long").as("cls1"),
          f.getField("cls2").cast("long").as("cls2"),
          f.getField("cls3").cast("long").as("cls3"),
          f.getField("horn").cast("long").as("horn"),
          f.getField("invhorn").cast("long").as("invhorn"),
          f.getField("positive").cast("long").as("positive"),
          f.getField("negative").cast("long").as("negative"))
    }),
    "q23_normalize" -> ((s, dir) => {
      sortedCnfBase(s, dir)
        .select(col("id"), normalize_cnf(col("text")).as("norm_text"))
    }),
    "q24_clause_parse" -> ((s, dir) => {
      // ParseClauses through relational HOFs: structure + literal aggregates
      val parsed = sortedCnfBase(s, dir)
        .withColumn("_cl", cnf_clauses(col("text")))
      parsed.select(col("id"),
          size(col("_cl")).cast("long").as("n_clauses"),
          size(flatten(col("_cl"))).cast("long").as("n_lits"),
          aggregate(flatten(col("_cl")), lit(0L), (acc, x) => acc + x).as("sum_lits"),
          aggregate(flatten(col("_cl")), lit(0L),
            (acc, x) => greatest(acc, abs(x).cast("long"))).as("max_abs_lit"))
    }),
    "q25_sanicheck" -> ((s, dir) => {
      val sc = cnf_sanicheck(col("text"))
      sortedCnfBase(s, dir).select(col("id"),
          sc.getField("head_vars").cast("long").as("head_vars"),
          sc.getField("head_clauses").cast("long").as("head_clauses"),
          sc.getField("norm_vars").cast("long").as("norm_vars"),
          sc.getField("norm_clauses").cast("long").as("norm_clauses"),
          sc.getField("whitespace_normalised").cast("long").as("whitespace_normalised"),
          sc.getField("has_comment").cast("long").as("has_comment"),
          sc.getField("sani_vars").cast("long").as("sani_vars"),
          sc.getField("sani_clauses").cast("long").as("sani_clauses"),
          sc.getField("has_tautological_clause").cast("long").as("has_tautological_clause"),
          sc.getField("has_duplicate_literals").cast("long").as("has_duplicate_literals"),
          sc.getField("has_empty_clause").cast("long").as("has_empty_clause"))
    }),
    "q26_gate_features" -> ((s, dir) => {
      // Gate recognition over the synthetic doc. Its gate structure is
      // CLOSED-FORM (derived by hand from GateAnalyzer semantics, not from
      // engine output): unit (b) roots a MONO gate for b (fwd = clause 1,
      // input a), whose frontier then gates a MONO a (clause 1 is already
      // consumed, so a's blocked-set check is vacuous; fwd = clause 2),
      // leaving c/d ungated. So per row: 2 gates (both MONO), 1 root,
      // levels b=1, a=2, and n_vars = max var = d. The oracle hard-codes
      // exactly these derived integers.
      val g = cnf_gate_features(col("text"))
      sortedCnfBase(s, dir).select(col("id"),
          g.getField("n_vars").cast("long").as("n_vars"),
          g.getField("n_gates").cast("long").as("n_gates"),
          g.getField("n_roots").cast("long").as("n_roots"),
          g.getField("n_none").cast("long").as("n_none"),
          g.getField("n_generic").cast("long").as("n_generic"),
          g.getField("n_mono").cast("long").as("n_mono"),
          g.getField("n_and").cast("long").as("n_and"),
          g.getField("n_or").cast("long").as("n_or"),
          g.getField("levels_max").cast("long").as("levels_max"),
          g.getField("levels_mono_min").cast("long").as("levels_mono_min"),
          g.getField("levels_mono_max").cast("long").as("levels_mono_max"))
    }),
    "q27_iso_hash" -> ((s, dir) => {
      // Degree-sequence isomorphism hash (ISOHash.h:41-75). The synthetic
      // doc's degree multiset is CLOSED-FORM and polarity-canonical: a and
      // b see one positive and one negative occurrence each -> (1,1); c is
      // (0,1); d is (0,1) after the pos>=neg swap WHATEVER pos_d is; all
      // other vars have zero degree and are gap-dropped. Sorted lex and
      // serialized "%u %u " that is the byte string "0 1 0 1 1 1 1 1 ",
      // so the oracle recomputes md5 of that literal itself.
      sortedCnfBase(s, dir)
        .select(col("id"), iso_hash(col("text")).as("iso"))
    }),
    "q28_cnf2kis" -> ((s, dir) => {
      // Derived-instance transform (cnf2kis.h:27-44). Closed-form on the
      // synthetic doc, derived from the REFERENCE semantics by hand:
      // nodes = sum of clause sizes = 2+3+1 = 6; edges = (in-clause
      // cliques 1+3+0) + (opposite-literal products: a 1x1, b 1x1) = 6,
      // doubled for reflexivity = 12; k = nClauses = 3.
      val kk = kis_transform(col("text"))
      sortedCnfBase(s, dir).select(col("id"),
          kk.getField("nodes").cast("long").as("kis_nodes"),
          kk.getField("edges").cast("long").as("kis_edges"),
          kk.getField("k").cast("long").as("kis_k"))
    }),
    "q29_sanitize" -> ((s, dir) => {
      // Sanitizing transform (cnf2cnf.cc:43-86): the input doc gains a
      // duplicate-literal clause "b b 0" (dedups to "b 0") and a
      // tautological clause "a -a 0" (dropped), so the sanitized text is
      // closed-form: reheadered to (max var = d, 4 clauses), literals in
      // first-occurrence order.
      val doc5 = concat(
        lit("c q29\np cnf 650 5\n"),
        col("a"), lit(" -"), col("b"), lit(" 0\n"),
        col("c"), lit(" "),
        when(col("pos_d"), col("d").cast("string"))
          .otherwise(concat(lit("-"), col("d"))),
        lit(" -"), col("a"), lit(" 0\n"),
        col("b"), lit(" 0\n"),
        col("b"), lit(" "), col("b"), lit(" 0\n"),
        col("a"), lit(" -"), col("a"), lit(" 0\n"))
      sortedCnfBase(s, dir)
        .select(col("id"), sanitize_cnf(doc5).as("sani"))
    }),

    // ---- WCNF / OPB kernel families (round-3 driver visibility for
    //      S2 format dispatch, N3/N4 hashes, A5/A6 features) ----
    "q30_wcnf_hash" -> ((s, dir) => {
      // hash streams (closed-form, Dimacs.normalizeWcnf semantics):
      //   new format: "h {a} -{b} 0{d} {c} 0"   (no notfirst after h)
      //   old format: "h {a} -{b} 0 {d} {c} 0"  (weighted branch sets it)
      sortedWcnfBase(s, dir)
        .select(col("id"), gbd_hash_wcnf(col("text")).as("wcnf_hash"))
    }),
    "q31_wcnf_features" -> ((s, dir) => {
      // closed form: hard {a,-b} + soft(w=d) {c}; nVars = c (variables are
      // counted across hard AND soft clauses); cdegree runs over BOTH
      // clauses (sizes [2,1] -> mean 1.5) which pins the reference quirk
      // that soft clause sizes enter h_vcg_cdegree (WCNFBaseFeatures.cc:
      // 214-229) — a hard-only cdegree would read mean 2.0
      val f = wcnf_features(col("text"))
      sortedWcnfBase(s, dir).select(col("id"),
        f.getField("h_clauses").cast("long").as("h_clauses"),
        f.getField("variables").cast("long").as("variables"),
        f.getField("h_cls1").cast("long").as("h_cls1"),
        f.getField("h_cls2").cast("long").as("h_cls2"),
        f.getField("h_horn").cast("long").as("h_horn"),
        f.getField("h_invhorn").cast("long").as("h_invhorn"),
        f.getField("h_positive").cast("long").as("h_positive"),
        f.getField("h_negative").cast("long").as("h_negative"),
        f.getField("s_clauses").cast("long").as("s_clauses"),
        f.getField("s_weight_sum").cast("long").as("s_weight_sum"),
        f.getField("s_cls1").cast("long").as("s_cls1"),
        f.getField("s_weight_mean").as("s_weight_mean"),
        f.getField("s_weight_variance").as("s_weight_variance"),
        f.getField("s_weight_min").as("s_weight_min"),
        f.getField("s_weight_max").as("s_weight_max"),
        f.getField("s_weight_entropy").as("s_weight_entropy"),
        f.getField("h_vcg_cdegree_mean").as("h_vcg_cdegree_mean"),
        f.getField("h_vcg_cdegree_variance").as("h_vcg_cdegree_variance"),
        f.getField("h_vcg_cdegree_min").as("h_vcg_cdegree_min"),
        f.getField("h_vcg_cdegree_max").as("h_vcg_cdegree_max"),
        f.getField("h_vcg_cdegree_entropy").as("h_vcg_cdegree_entropy"))
    }),
    "q32_opb_features" -> ((s, dir) => {
      // constraint classification closed-form (one per branch); variables =
      // max var index + 1 = 4 (the reference's Var(var+1) quirk); objective
      // coefficient stats over {2, a} are exact dyadic doubles, and the
      // a == 2 case exerces the trunc-key presence quirk of the double
      // entropy histogram (CaptureDistribution.cc:48-60)
      val f = opb_features(col("text"))
      sortedOpbBase(s, dir).select(col("id"),
        f.getField("constraints").cast("long").as("constraints"),
        f.getField("variables").cast("long").as("variables"),
        f.getField("pbs_ge").cast("long").as("pbs_ge"),
        f.getField("pbs_eq").cast("long").as("pbs_eq"),
        f.getField("cards_ge").cast("long").as("cards_ge"),
        f.getField("cards_eq").cast("long").as("cards_eq"),
        f.getField("clauses").cast("long").as("clauses"),
        f.getField("assignments").cast("long").as("assignments"),
        f.getField("trivially_unsat").cast("long").as("trivially_unsat"),
        f.getField("obj_terms").cast("long").as("obj_terms"),
        f.getField("obj_max_val").as("obj_max_val"),
        f.getField("obj_min_val").as("obj_min_val"),
        f.getField("obj_coeffs_mean").as("obj_coeffs_mean"),
        f.getField("obj_coeffs_variance").as("obj_coeffs_variance"),
        f.getField("obj_coeffs_min").as("obj_coeffs_min"),
        f.getField("obj_coeffs_max").as("obj_coeffs_max"),
        f.getField("obj_coeffs_entropy").as("obj_coeffs_entropy"))
    }),
    "q33_opb_hash" -> ((s, dir) => {
      // normalized stream (Dimacs.normalizeOpb): statements concatenated
      // with no separator, objective tokens space-PREFIXED, constraint
      // tokens space-SUFFIXED — closed form in the oracle
      sortedOpbBase(s, dir)
        .select(col("id"), gbd_hash_opb(col("text")).as("opb_hash"))
    }),

    // ---- distribution statistics (A1) driver-visible: a doc whose
    //      clause-size and clause-balance distributions are non-degenerate
    //      with exact-dyadic stats and exactly-1.0 two-category entropy ----
    "q34_dist_stats" -> ((s, dir) => {
      // doc: unit clause {b} + (even rows) {a,-b} | (odd rows) {a,-b,c}.
      // vcg_cdegree = sizes [1,s]: incremental mean 1+(s-1)/2, variance
      // ((s-1)/2)^2 (both dyadic-exact under the reference's sorted fold,
      // CaptureDistribution.cc:76-90); two equal-count categories make the
      // scaled entropy EXACTLY (0.5+0.5)/log2(2) = 1.0 in ieee754.
      // balancecls = [0, 1] | [0, 0.5] likewise; its 0.5-value row also
      // walks the double-histogram presence quirk ((int64)0.5 == key 0).
      val doc = concat(
        lit("c q34\np cnf 650 2\n"),
        col("b"), lit(" 0\n"),
        col("a"), lit(" -"), col("b"),
        when(col("pos_d"), lit("")).otherwise(concat(lit(" "), col("c"))),
        lit(" 0\n"))
      val f = cnf_features(doc)
      sortedCnfBase(s, dir).select(col("id"),
        f.getField("clauses").cast("long").as("clauses"),
        f.getField("variables").cast("long").as("variables"),
        f.getField("vcg_cdegree_mean").as("vcg_cdegree_mean"),
        f.getField("vcg_cdegree_variance").as("vcg_cdegree_variance"),
        f.getField("vcg_cdegree_min").as("vcg_cdegree_min"),
        f.getField("vcg_cdegree_max").as("vcg_cdegree_max"),
        f.getField("vcg_cdegree_entropy").as("vcg_cdegree_entropy"),
        f.getField("balancecls_mean").as("balancecls_mean"),
        f.getField("balancecls_variance").as("balancecls_variance"),
        f.getField("balancecls_min").as("balancecls_min"),
        f.getField("balancecls_max").as("balancecls_max"),
        f.getField("balancecls_entropy").as("balancecls_entropy"))
    }),

    // ---- iso_hash2 (N9) driver-visible: fixed 4-var docs whose WL+XXH3
    //      digests were derived INDEPENDENTLY by compiling the reference's
    //      own ISOHash2.h (tools/isohash2_oracle.md) and are hard-coded in
    //      the oracle, the q27 pattern ----
    "q35_iso_hash2" -> ((s, dir) => {
      val doc = when(col("pos_d"),
          lit("p cnf 4 3\n1 -2 0\n3 4 -1 0\n2 0\n"))
        .otherwise(lit("p cnf 4 4\n1 -2 0\n3 4 -1 0\n2 0\n4 0\n"))
      sortedCnfBase(s, dir)
        .select(col("id"), iso_hash2(doc).as("iso2"))
    }),

    // ---- cnf2bip derived-instance transform (q28's sibling) ----
    "q36_cnf2bip" -> ((s, dir) => {
      // closed form on the synthetic doc (cnf2bip.cc:10-36 over the
      // SANITIZED clause form): nodes = nVars + nClauses = d + 3, edges =
      // total literals = 6; edge direction by literal sign, clause nodes
      // numbered d+1..d+3, literals in per-clause (var, sign) sorted order
      val bb = bip_transform(col("text"))
      sortedCnfBase(s, dir).select(col("id"),
        bb.getField("nodes").cast("long").as("bip_nodes"),
        bb.getField("edges").cast("long").as("bip_edges"),
        bb.getField("text").as("bip_text"))
    }),

    // ---- exact n-gram Jaccard pairs via the inverted shingle index
    //      (df-pruning disabled by a high cap -> output equals the exact
    //      Jaccard predicate the oracle recomputes) ----
    "q37_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      Dedup.ngramJaccardPairs(docs.unionByName(mutated), "id", "text",
        n = 3, threshold = 0.8, maxShingleDf = 1000000)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- the remaining hash kernels (N8 wcnf iso-hash, N5 pqbf hash) ----
    "q38_wcnf_iso_hash" -> ((s, dir) => {
      // closed-form degree multisets (ISOHash.h:79-163) for hard {a,-b} +
      // soft(w=d) {c}: hard canonical degrees (0,1)x2; combined degrees add
      // the soft occurrence WEIGHTED by the reference's ++deg += weight
      // quirk -> c gets (0, d+1); stream "0 1 0 1 softs 0 1 0 1 0 {d+1} "
      sortedWcnfBase(s, dir)
        .select(col("id"), iso_hash_wcnf(col("text")).as("wcnf_iso"))
    }),
    "q39_pqbf_hash" -> ((s, dir) => {
      // QDIMACS doc = the q21 CNF matrix under an e/a quantifier prefix;
      // the hash stream (GBDHash.h:53-80) is the CNF stream with "e "/"a "
      // line markers kept — closed form in the oracle
      val sd = when(col("pos_d"), col("d").cast("string"))
        .otherwise(concat(lit("-"), col("d")))
      val doc = concat(
        lit("c q39\np cnf 650 3\ne "), col("a"), lit(" "), col("b"), lit(" 0\na "),
        col("c"), lit(" "), col("d"), lit(" 0\n"),
        col("a"), lit(" -"), col("b"), lit(" 0\n"),
        col("c"), lit(" "), sd, lit(" -"), col("a"), lit(" 0\n"),
        col("b"), lit(" 0\n"))
      sortedCnfBase(s, dir)
        .select(col("id"), gbd_hash_pqbf(doc).as("pqbf_hash"))
    }),

    // ---- A4 graph-degree distributions + J1 clause-degree join,
    //      driver-visible: a fixed-shape doc whose sorted degree arrays are
    //      [0 x (b-1), 1, 2] (vdegree, hornvars), [0 x (b-1), 2, 3] (vg)
    //      and [2, 3] (cg = the within-doc occurrence-count join). The
    //      oracle REPLICATES the reference's incremental fold step by step
    //      (zeros keep m=0 and v=mean^2, then two more fold steps) —
    //      bit-identical double arithmetic, not a rounded approximation ----
    "q40_degree_stats" -> ((s, dir) => {
      val doc = concat(
        lit("c q40\np cnf 650 2\n"),
        col("b"), lit(" 0\n"),
        col("a"), lit(" -"), col("b"), lit(" 0\n"))
      val f = cnf_features(doc)
      sortedCnfBase(s, dir).select(col("id"),
        f.getField("ccs").cast("long").as("ccs"),
        f.getField("hornvars_mean").as("hornvars_mean"),
        f.getField("hornvars_variance").as("hornvars_variance"),
        f.getField("hornvars_min").as("hornvars_min"),
        f.getField("hornvars_max").as("hornvars_max"),
        f.getField("hornvars_entropy").as("hornvars_entropy"),
        f.getField("vcg_vdegree_mean").as("vcg_vdegree_mean"),
        f.getField("vcg_vdegree_variance").as("vcg_vdegree_variance"),
        f.getField("vcg_vdegree_min").as("vcg_vdegree_min"),
        f.getField("vcg_vdegree_max").as("vcg_vdegree_max"),
        f.getField("vcg_vdegree_entropy").as("vcg_vdegree_entropy"),
        f.getField("vg_degree_mean").as("vg_degree_mean"),
        f.getField("vg_degree_variance").as("vg_degree_variance"),
        f.getField("vg_degree_min").as("vg_degree_min"),
        f.getField("vg_degree_max").as("vg_degree_max"),
        f.getField("vg_degree_entropy").as("vg_degree_entropy"),
        f.getField("cg_degree_mean").as("cg_degree_mean"),
        f.getField("cg_degree_variance").as("cg_degree_variance"),
        f.getField("cg_degree_min").as("cg_degree_min"),
        f.getField("cg_degree_max").as("cg_degree_max"),
        f.getField("cg_degree_entropy").as("cg_degree_entropy"))
    }),

    // ---- §2.10 streaming driver-visible: the events table REPLAYED
    //      through a real Structured Streaming query (MemoryStream ->
    //      session_window -> memory sink) in four micro-batches, so session
    //      state must merge across batches. Complete mode needs no
    //      watermark and the finite replay emits exactly the final session
    //      set. session_window SPLITS at gap >= 1800s (strict; the oracle
    //      mirrors that in exact integer microseconds). ----
    "q41_stream_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      // the collect() is the REPLAY HARNESS (it builds the MemoryStream
      // feed), not part of the operator — Streaming.sessions consumes any
      // unbounded source; a production job points readStream at the corpus
      val rows = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)))
      val mem = MemoryStream[(Long, java.sql.Timestamp)](
        org.apache.spark.sql.Encoders.product[(Long, java.sql.Timestamp)], s.sqlContext)
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach(b => mem.addData(b.toSeq))
      val sess = graft.streaming.Streaming.sessions(
        mem.toDF().toDF("user_id", "ts"), "user_id", "ts", "1800 seconds",
        watermarkDelay = None)
      val sink = "q41_sessions_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val query = sess.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try query.processAllAvailable() finally query.stop()
      }
      // materialize the (session-count-sized) sink into a local DataFrame and
      // DROP the catalog entry: each invocation would otherwise leak a
      // driver-memory table holding the full result for the session lifetime
      // (bench runs this query 3 timed reps + warmup)
      val sinkDf = s.table(sink)
      val result = s.createDataFrame(
        java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema)
      s.catalog.dropTempView(sink)
      result
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("session_revisits"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- training-corpus curation beyond dedup: decontamination, PII
    //      scrubbing, repetition-based quality signals ----
    "q42_decontaminate" -> ((s, dir) => {
      // benchmark = every doc_id % 100 < 3 doc, one token prepended (an
      // eval item pasted into a web page); containment of the BENCHMARK's
      // 3-shingle set in each corpus doc, exact pairs >= 0.5
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = corpus.where(col("doc_id") % 100 < 3)
        .select(col("doc_id").as("bench_id"),
          concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      Dedup.contaminationPairs(corpus, bench, "doc_id", "text", "bench_id", "text",
        n = 3, threshold = 0.5)
        .orderBy(col("corpus_id"), col("benchmark_id"))
    }),
    "q43_pii_scrub" -> ((s, dir) => {
      // deterministic PII injected per row (the synthetic corpus itself is
      // clean), then the codegen'd regexp scrub: counts BEFORE redaction +
      // md5 of the scrubbed text (slim, hash-stable output)
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com at 10.1."),
          (col("doc_id") % 200).cast("string"), lit(".7 card 4111222233334444 ok")).as("text"))
      graft.ops.Curation.scrubPii(withPii, "text")
        .select(col("doc_id"),
          col("n_email").cast("long").as("n_email"),
          col("n_ip").cast("long").as("n_ip"),
          col("n_card").cast("long").as("n_card"),
          md5(col("text_scrubbed").cast("binary")).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    }),
    "q44_repetition_stats" -> ((s, dir) => {
      // three-line doc (text, text again, its first 20 chars) exercises the
      // duplicate-line path; word stats run over the real per-doc text
      val doc = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), col("text"), substring(col("text"), 1, 20)).as("text"))
      graft.ops.Curation.repetitionStats(doc, "text")
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          col("dup_word_frac"), col("mean_word_len"), col("n_lines"), col("dup_line_frac"))
        .orderBy(col("doc_id"))
    }),
    "q45_stratified_sample" -> ((s, dir) => {
      // deterministic language rebalancing: keep 50% of 'en', 25% of the
      // rest, decided by each row's md5 rank — integer thresholds
      // 2147483648 / 1073741824 hard-coded identically in the oracle
      graft.ops.Curation.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang", Map("en" -> 0.5), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    "q46_pack_sequences" -> ((s, dir) => {
      // per-shard prefix-sum packing into 4096-token bins; shard is a
      // deterministic mod so the oracle can reproduce it (the engine's
      // production path shards by FeatureJob.shardCol)
      val docs = t(s, dir, "documents").where(length(col("text")) > 0)
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          token_count(trim(col("text"))).as("n_tokens"))
      graft.ops.Curation.packSequences(docs, "shard", "doc_id", "n_tokens", 4096L)
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("pack_tokens_before"), col("pack_bin"))
        .orderBy(col("doc_id"))
    }),
    "q47_multimodal_decode" -> ((s, dir) => {
      // the multimodal decode stage (typed Dataset -> bounded-byte
      // mapPartitions batches) driven end-to-end; the oracle checks the
      // REAL machinery outputs (byte length + SHA-256 content address) —
      // the stub codec's pseudo-metadata fields are deliberately excluded
      import s.implicits._
      val media = t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (col("doc_id") % 3 + 1).cast("int")).as("kind"),
          col("text").cast("binary").as("payload"))
        .as[graft.ops.Multimodal.MediaRow]
      graft.ops.Multimodal.decode(media, batchBytes = 1L << 20).toDF()
        .select(col("media_id"), col("kind"), col("byte_len"), col("content_sha"),
          col("ok").cast("long").as("ok"))
        .orderBy(col("media_id"))
    }),
    "q48_dup_clusters" -> ((s, dir) => {
      // connected components over the EXACT near-dup pair set of q16 —
      // min-label propagation whose fixpoint (min id per component) the
      // oracle recomputes independently via a recursive-CTE transitive
      // closure
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      val union = docs.unionByName(mutated)
      // ONE shingling pass (the nearDupDedup materialization): the LSH
      // candidate stage at banding threshold 0 (the est_jaccard >= 0.0
      // filter was vacuous) and both exact-verify sides read the same
      // projection — the previous shape ran the shingle kernel three times
      val pre = graft.ops.Fanout.ensure(union)
        .select(col("id").as("_sid"), shingles(col("text"), 3).as("_sh"))
        .localCheckpoint()
      val pairs = Dedup.verifiedPairsPre(pre, numHashes = 64, numBands = 32,
        jaccard = 0.8)
      Dedup.clusters(pairs)
        .orderBy(col("id"))
    }),
    "q49_passages" -> ((s, dir) => {
      // RAG/embedding chunking: 128-word passages at stride 64 (start
      // offsets 0, 64, 128, ... while < word count; short tail kept)
      graft.ops.Curation.passages(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", windowWords = 128, strideWords = 64)
        .orderBy(col("doc_id"), col("passage_no"))
    }),

    // ---- §2.9 END-TO-END: the actual FeatureJob.pipeline (fused
    //      identity+features extract -> ONE url repartition + sort ->
    //      sessionize + lag deltas) driver-oracled over a synthetic pages
    //      table built from orders: url = customer, warc_ts = orderdate +
    //      orderkey MICROseconds (unique, order-preserving, same second),
    //      text = the q21 CNF doc. Every output field is closed-form:
    //      instance_id = md5(norm stream), clauses = 3, sessions split on
    //      the 6h gap = date changes, lag(clauses) is 3.0 except each
    //      url's first row (unique ts -> deterministic). ----
    "q50_feature_pipeline" -> ((s, dir) => {
      // repartition BELOW the kernel (q21's pattern): the sf tables are
      // single-row-group parquet files, so without an exchange the whole
      // extract stage would fuse into ONE scan task (measured 12 s -> ~2 s)
      val pages = syntheticCnf(s, dir).repartition(32, col("id")).select(
        col("id"),
        concat(lit("cust-"), col("cust")).as("url"),
        timestamp_micros(
          col("odate").cast("timestamp").cast("long") * 1000000L + col("id")).as("warc_ts"),
        col("text"))
      val out = graft.runtime.FeatureJob.pipeline(pages,
        graft.runtime.FeatureJob.Config(outDir = "unused", lagFeatures = Seq("clauses")))
      out.select(col("id"), col("url"), col("warc_ts"),
          col("instance_id"), col("status"),
          col("features.clauses").cast("long").as("clauses"),
          col("session_no").cast("long").as("session_no"),
          col("session_id"),
          col("clauses_prev"), col("clauses_delta"))
        .orderBy(col("id"))
    }),

    // ---- §2.11 through the REAL SQL surface: functions resolved by the
    //      FunctionRegistry (GraftExtensions), parsed from SQL text — not
    //      the Column facade the other kernel queries use ----
    "q51_sql_registration" -> ((s, dir) => {
      graft.GraftExtensions.register(s) // idempotent (registry replace)
      sortedCnfBase(s, dir).createOrReplaceTempView("q51_docs")
      s.sql("""SELECT id, gbd_hash(text) AS gbd, iso_hash(text) AS iso,
               normalize_cnf(text) AS norm FROM q51_docs""")
    }),

    // ---- S3/S5 driven end-to-end: the Iceberg-style
    //      days(warc_ts) x bucket(url) layout written once per session
    //      (write-once/query-many table semantics), then a day+bucket
    //      PRUNED read — both predicates land on partition columns ----
    "q52_pagetable_prune" -> ((s, dir) => {
      val path = q52Path.synchronized {
        q52Path.getOrElseUpdate(dir, {
          val p = java.nio.file.Files.createTempDirectory("graft_q52").toString
          val pages = syntheticCnf(s, dir).select(
            concat(lit("cust-"), col("cust")).as("url"),
            // month-truncated ts keeps the day-partition count ~80 instead
            // of ~2400 (the sf corpus spans 7 years of order dates)
            date_trunc("month", col("odate").cast("timestamp")).as("warc_ts"),
            col("id"), col("a"))
          graft.sources.PageTable.write(pages, p, nBuckets = 4)
          p
        })
      }
      graft.sources.PageTable.readPruned(s, path,
          dayFrom = Some(9500), urls = Seq("cust-1", "cust-7"), nBuckets = 4)
        .select(col("id"), col("url"), col("warc_ts"), col("a"))
        .orderBy(col("id"))
    }),

    // ---- §4.3 skew tooling: the two-phase SALTED aggregation must equal
    //      the plain group-by the oracle computes — salting correctness is
    //      value-checked, not just shape-checked ----
    "q53_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedAgg(
        t(s, dir, "events").select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents")),
        Seq("user_id"), salt = 16)(
        partial = g => g.agg(count(lit(1)).as("_c"), sum(col("cents")).as("_s")),
        merge = g => g.agg(sum(col("_c")).as("cnt"), sum(col("_s")).as("sum_cents")))
        .orderBy(col("user_id"))
    }),

    // ---- the BPE-ish token estimator (subword budget: ceil(len/4) per
    //      word-char run + 1 per other non-whitespace char) — the oracle
    //      recomputes the identical arithmetic; the [A-Za-z0-9_'] word
    //      class equals the kernel's Unicode one on this ASCII corpus
    //      (same assumption q16/q17 document) ----
    "q54_bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          token_count(trim(col("text"))).as("n_ws"),
          token_count_bpe(col("text")).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),

    // ---- the reference's OWN regression contract, driver-visible: golden
    //      fixtures enter the plan as xz-COMPRESSED bytes (exactly as the
    //      reference ships them), are decompressed in-plan (S1 ingestion,
    //      StreamBuffer.h:106-124 analog), and every oracle constant comes
    //      from the REFERENCE TREE — md5 filename prefixes (q55) and
    //      expected_records/*.txt values (q56/q57) — never from the engine.
    "q55_golden_hashes" -> ((s, dir) => {
      import s.implicits._
      val G = graft.sources.GoldenFixtures
      // the FUSED ingestion kernel (decompress → parse → hash in one
      // evaluation, FeatureJob's Config.codec path), not the composed
      // gbd_hash(decompress_auto(...)) — both are public API; driving the
      // fused one here makes the production compressed-corpus path the
      // thing the golden filenames certify
      G.hashNamed.map(n => (n.substring(0, 32), G.bytes(n)))
        .toDF("file_hash", "payload")
        .select(col("file_hash"),
          cnf_extract(col("payload"), graft.functions.DocExtract.DefaultMaxBytes,
            graft.functions.DocExtract.DefaultMaxOps, graft.core.Compression.Auto)
            .getField("instance_id").as("gbd"))
        .orderBy(col("file_hash"))
    }),
    "q56_golden_cnf" -> ((s, dir) => {
      // cnf_test.cnf.xz through decompress → base features + gate features;
      // the integer-valued fields of expected_records/cnf_base.txt:1-18 and
      // cnf_gates.txt:1-6 (exactly representable in doubles → exact longs)
      import s.implicits._
      val G = graft.sources.GoldenFixtures
      Seq((G.CnfTest, G.bytes(G.CnfTest)))
        .toDF("file", "payload")
        .select(col("file"), decompress_xz(col("payload")).as("doc"))
        .select(col("file"), cnf_features(col("doc")).as("f"),
          cnf_gate_features(col("doc")).as("g"))
        .select(col("file"),
          col("f.clauses").cast("long").as("clauses"),
          col("f.variables").cast("long").as("variables"),
          col("f.bytes").cast("long").as("bytes"),
          col("f.ccs").cast("long").as("ccs"),
          col("f.cls1").cast("long").as("cls1"),
          col("f.cls2").cast("long").as("cls2"),
          col("f.cls3").cast("long").as("cls3"),
          col("f.cls8").cast("long").as("cls8"),
          col("f.cls10p").cast("long").as("cls10p"),
          col("f.horn").cast("long").as("horn"),
          col("f.invhorn").cast("long").as("invhorn"),
          col("f.positive").cast("long").as("positive"),
          col("f.negative").cast("long").as("negative"),
          col("g.n_vars").cast("long").as("n_vars"),
          col("g.n_gates").cast("long").as("n_gates"),
          col("g.n_roots").cast("long").as("n_roots"),
          col("g.n_none").cast("long").as("n_none"),
          col("g.n_mono").cast("long").as("n_mono"))
    }),
    "q57_golden_wcnf_opb" -> ((s, dir) => {
      // wcnf_test + opb_test in long (file, feature, value) form so both
      // format families share one schema; counts and min/max fields only
      // (selections of exact inputs — exact longs on both sides)
      import s.implicits._
      val G = graft.sources.GoldenFixtures
      def unpivot(f: org.apache.spark.sql.Column, names: Seq[String]) =
        explode(array(names.map(n =>
          struct(lit(n).as("feature"), f.getField(n).cast("long").as("value"))): _*))
      val wNames = Seq("h_clauses", "variables", "h_cls1", "h_cls2", "h_cls3", "h_cls4",
        "h_horn", "h_invhorn", "h_positive", "h_negative",
        "s_clauses", "s_weight_sum", "s_cls1", "s_weight_min", "s_weight_max",
        "h_vcg_cdegree_min", "h_vcg_cdegree_max", "h_vcg_vdegree_min", "h_vcg_vdegree_max",
        "h_vg_degree_min", "h_vg_degree_max", "h_cg_degree_min", "h_cg_degree_max")
      val oNames = Seq("constraints", "variables", "pbs_ge", "pbs_eq", "cards_ge", "cards_eq",
        "clauses", "assignments", "trivially_unsat", "obj_terms", "obj_max_val", "obj_min_val",
        "obj_coeffs_min", "obj_coeffs_max")
      val w = Seq((G.WcnfTest, G.bytes(G.WcnfTest))).toDF("file", "payload")
        .select(col("file"), wcnf_features(decompress_auto(col("payload"))).as("f"))
        .select(col("file"), unpivot(col("f"), wNames).as("fv"))
      val o = Seq((G.OpbTest, G.bytes(G.OpbTest))).toDF("file", "payload")
        .select(col("file"), opb_features(decompress_auto(col("payload"))).as("f"))
        .select(col("file"), unpivot(col("f"), oNames).as("fv"))
      w.unionByName(o)
        .select(col("file"), col("fv.feature").as("feature"), col("fv.value").as("value"))
        .orderBy(col("file"), col("feature"))
    }),

    // ---- REAL codecs through the multimodal decode stage: actual PNG/JPEG
    //      streams (javax.imageio) and canonical PCM WAVs built closed-form,
    //      so every dimension/channel/duration in the oracle is known BY
    //      CONSTRUCTION; a corrupt container yields the structured ok=false
    //      row. Dispatch is by magic bytes (id 6's payload claims PNG and
    //      fails to decode). ----
    "q58_real_codecs" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val rows = Seq(
        M.MediaRow(1L, "image", M.MediaGen.pngBytes(17, 9)),
        M.MediaRow(2L, "image", M.MediaGen.pngBytes(33, 21, alpha = true)),
        M.MediaRow(3L, "image", M.MediaGen.jpegBytes(24, 16)),
        M.MediaRow(4L, "audio", M.MediaGen.wavBytes(1, 8000, 16000)),
        M.MediaRow(5L, "audio", M.MediaGen.wavBytes(2, 44100, 44100)),
        M.MediaRow(6L, "image",
          Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 42, 42)),
        // video: the REAL ISO BMFF box walk (mvhd duration, tkhd 16.16
        // dims) — no frame decode; and a corrupt container (ftyp magic,
        // garbage box size) -> ok=0
        M.MediaRow(7L, "video", M.MediaGen.mp4Bytes(640, 360, 2500)),
        M.MediaRow(8L, "video",
          Array[Byte]('x', 'x', 'x', 'x', 'f', 't', 'y', 'p', 1, 2, 3, 4)))
      M.decode(rows.toDS(), batchBytes = 1L << 20).toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("duration_ms"),
          col("ok").cast("long").as("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- the FULL ResourceLimits outcome channel (Main.cc:177-191),
    //      driver-visible: per-id doc construction makes the byte budget
    //      bind (comment-padded), the op budget bind (dense literal tail:
    //      op-big at few bytes), or neither — and the oracle derives every
    //      status from the CONSTRUCTION (id mod 3), independent of the
    //      engine. Deterministic: same outcome on every executor/retry. ----
    "q59_resource_envelope" -> ((s, dir) => {
      val docs = syntheticCnf(s, dir).withColumn("text",
        when(col("id") % 3 === 0,
          concat(col("text"), repeat(lit("1 -2 0\n"), 50))) // 106 lits, ~400 B
        .when(col("id") % 3 === 1,
          concat(lit("c "), repeat(lit("x"), 5000), lit("\n"), col("text")))
        .otherwise(col("text")))
      graft.runtime.FeatureJob
        .extractStage(docs.repartition(32, col("id")), "cnf",
          maxDocBytes = 4096, maxDocOps = 100L)
        .select(col("id"), col("status"),
          col("instance_id").isNotNull.cast("long").as("has_id"))
        .orderBy(col("id"))
    }),

    // ---- S4 driven end-to-end: the derived corpus is WRITTEN as the two
    //      split tables (content-addressed zstd text + payload-free
    //      features, Main.cc:296-380's separated streams) then READ BACK
    //      and re-joined on the content hash — the oracle recomputes every
    //      column (provenance hash, content hash, metadata, derived-text
    //      length) closed-form from the doc construction ----
    "q60_split_sink" -> ((s, dir) => {
      val path = q60Path.synchronized {
        q60Path.getOrElseUpdate(dir, {
          val p = java.nio.file.Files.createTempDirectory("graft_q60").toString
          val derived = graft.ops.Transforms.bipartite(sortedCnfBase(s, dir), "text")
            .select(col("id"), col("hash"), col("to_cnf"), col("derived_text"),
              col("bip_nodes"), col("bip_edges"))
          graft.ops.Transforms.writeSplit(derived, p)
          p
        })
      }
      val (text, feats) = graft.ops.Transforms.readSplit(s, path)
      feats.join(text, Seq("hash"))
        .select(col("id"), col("hash"), col("to_cnf"),
          col("bip_nodes").cast("long").as("bip_nodes"),
          col("bip_edges").cast("long").as("bip_edges"),
          length(col("derived_text")).cast("long").as("text_len"))
        .orderBy(col("id"))
    }),

    // ---- q61: IVF ANN through the DISTRIBUTED treeAggregate Lloyd trainer
    //      (the 100-TB codebook path — nCentroids=256 crosses the
    //      8-samples-per-centroid dispatch threshold, so training runs one
    //      whole-corpus pass per iteration instead of a driver sample);
    //      nProbe == nCentroids keeps the exact-equals-brute-force contract,
    //      so codebook quality never enters the oracle comparison ----
    "q61_ann_ivf_distributed" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      // query set is SF-INVARIANT (50 ids) — the query side is small by
      // contract and broadcasts; the old `vec_id >= 490` qualifier grew
      // the query set with the corpus, turning the probe stage into an
      // accidental queries-x-corpus cross product at larger sf
      Similarity.ivfTopK(vecs.where(col("vec_id") < 50), vecs,
        "vec_id", "vec_id", "embedding", "embedding",
        k = 5, nCentroids = 256, nProbe = 256)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- q62: decompress_auto's magic-byte dispatch across ALL FOUR stream
    //      codecs in one column (the reference accepts any libarchive filter,
    //      StreamBuffer.h:106-124 — not just xz). Harness side: each
    //      document's text arrives as compressed BINARY with the codec
    //      rotating by doc_id; the graded operator is the per-row detect +
    //      decode, whose round-trip the oracle certifies from the PLAIN
    //      table (md5 + length of the original text) ----
    "q62_decompress_multicodec" -> ((s, dir) => {
      // the compressed corpus is WRITTEN ONCE per JVM (the graded operator
      // is the per-row detect + decode on read; re-compressing the corpus
      // on every invocation would time the harness, not the op) — parquet
      // with codec=uncompressed so the payload bytes stay exactly ours
      val compPath = q62Path.synchronized {
        q62Path.getOrElseUpdate(dir, {
          import s.implicits._
          val p = java.nio.file.Files.createTempDirectory("graft_q62").toString + "/data"
          // NOTE: the module is referenced statically INSIDE the lambda — an
          // outer `val C = Compression` alias would be captured by value and
          // fail task serialization (the module doesn't extend Serializable)
          val codecs = Array(graft.core.Compression.Xz, graft.core.Compression.Gzip,
            graft.core.Compression.Bzip2, graft.core.Compression.Zstd)
          t(s, dir, "documents").select(col("doc_id"), col("text"))
            .as[(Long, String)]
            .map { case (id, text) =>
              val codec = codecs((id % 4).toInt)
              (id, codec, graft.core.Compression.compress(
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8), codec))
            }.toDF("doc_id", "codec", "payload")
            .write.option("compression", "uncompressed").parquet(p)
          p
        })
      }
      val comp = s.read.parquet(compPath)
      comp.select(col("doc_id"), col("codec"),
        md5(decompress_auto(col("payload"))).as("text_md5"),
        length(decompress_auto(col("payload")).cast("string")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- q63: the STORAGE-PARTITIONED JOIN (north-rule item): pages and
    //      a per-url profile table are both written in PageTable's bucketed
    //      layout (Iceberg bucket(N, url) stand-in, write-once/join-many),
    //      so the sort-merge join's distribution requirement is satisfied
    //      by the SCANS — zero Exchange on either side (plan-asserted in
    //      BucketedJoinSpec; here the VALUES are what the oracle checks,
    //      against a plain join of the source tables) ----
    "q63_bucketed_join" -> ((s, dir) => {
      val (pagesT, profT) = q63Tables.synchronized {
        q63Tables.getOrElseUpdate(dir, {
          val base = java.nio.file.Files.createTempDirectory("graft_q63").toString
          val suffix = java.lang.Integer.toHexString(dir.hashCode)
          val pages = t(s, dir, "orders").select(
            concat(lit("cust-"), col("o_custkey")).as("url"),
            col("o_orderkey").as("id"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"))
          val prof = t(s, dir, "customer").select(
            concat(lit("cust-"), col("c_custkey")).as("url"),
            col("c_mktsegment").as("segment"))
          val pt = s"graft_q63_pages_$suffix"
          val ft = s"graft_q63_prof_$suffix"
          graft.sources.PageTable.writeBucketed(pages, pt, s"$base/pages", "url", nBuckets = 8)
          graft.sources.PageTable.writeBucketed(prof, ft, s"$base/prof", "url", nBuckets = 8)
          (pt, ft)
        })
      }
      // merge hint: at sf the profile side is broadcast-small, which would
      // sidestep the graded plan shape; at 100 TB neither side broadcasts
      // and THIS is the join that must not re-shuffle the corpus
      s.table(pagesT).hint("merge").join(s.table(profT), "url")
        .select(col("id"), col("url"), col("segment"), col("price_cents"))
        .orderBy(col("id"))
    }),

    // ---- q64: §2.10 streaming dedup driver-visible — the events stream
    //      REPLAYED through dropDuplicatesWithinWatermark in four
    //      micro-batches (stateful dedup across batch boundaries), the
    //      streaming dual of q12's exact dedup. The replay's watermark
    //      delay covers the whole corpus span so no state evicts and no
    //      row is late: the emitted key set is exactly
    //      DISTINCT(user_id, event_type). At production scale the delay
    //      is what BOUNDS the state (keys older than the horizon evict),
    //      which a plain streaming dropDuplicates cannot do. ----
    "q64_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // collect() is the REPLAY HARNESS (builds the MemoryStream feed),
      // not part of the operator — production points readStream here
      val rows = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts").cast("timestamp"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      val mem = MemoryStream[(Long, String, java.sql.Timestamp)](
        org.apache.spark.sql.Encoders.product[(Long, String, java.sql.Timestamp)],
        s.sqlContext)
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach(b => mem.addData(b.toSeq))
      val deduped = graft.streaming.Streaming.dedupWithinWatermark(
          mem.toDF().toDF("user_id", "event_type", "ts"),
          "ts", "3650 days", "user_id", "event_type")
        // project the event time away AFTER dedup: which duplicate's ts
        // survives depends on intra-batch row order, the key set does not
        .select(col("user_id"), col("event_type"))
      val sink = "q64_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val query = deduped.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try query.processAllAvailable() finally query.stop()
      }
      // materialize and DROP the catalog entry (same leak discipline as q41)
      val sinkDf = s.table(sink)
      val result = s.createDataFrame(
        java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema)
      s.catalog.dropTempView(sink)
      result.orderBy(col("user_id"), col("event_type"))
    }),

    // ---- q65: URL structure features (domain-level curation keys). The
    //      corpus has no url column, so both sides build the SAME url
    //      string deterministically from document fields; the graded part
    //      is the RE2-portable parse (scheme/host/path), the registrable-
    //      domain approximation, path depth and the query flag. ----
    "q65_url_features" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("https://www."), col("source"), lit(".example.com/docs/"),
          col("lang"), lit("/d"), col("doc_id").cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?ref=r"), (col("doc_id") % 7).cast("string")))
            .otherwise(lit(""))).as("url"))
      graft.ops.Curation.urlFeatures(urls, "url")
        .select(col("doc_id"), col("url"), col("url_scheme"), col("url_host"),
          col("url_domain"), col("url_path"), col("url_depth"), col("url_has_query"))
        .orderBy(col("doc_id"))
    }),

    // ---- q66: LINE-level dedup (C4/RefinedWeb boilerplate removal). The
    //      corpus is documents text wrapped in deterministic template lines
    //      (a nav bar on every page, a rotating footer shared across docs,
    //      a blank separator): corpus-common lines must vanish from every
    //      doc, blanks and unique bodies survive in order. The exploded
    //      stream carries only (id, pos, md5-of-line) — the text never
    //      leaves its row until the row-local array-filter reassembly. ----
    "q66_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        concat(
          lit("NAV: home | about | contact\n"),
          col("text"), lit("\n\n"),
          when(col("doc_id") % 3 === 0, lit("share on social media"))
            .otherwise(concat(lit("p"), (col("doc_id") % 11).cast("string")))).as("text"))
      graft.ops.Dedup.dedupLines(docs, "doc_id", "text")
        .select(col("doc_id"), col("text_dedup"), col("n_lines"), col("n_lines_kept"))
        .orderBy(col("doc_id"))
    }),

    // ---- q67: per-domain cap (keep <= 3 docs per registrable domain,
    //      md5-rank deterministic) over urlFeatures' domain key. Output is
    //      bounded by #domains x k regardless of corpus size; the ranking
    //      window sees only (domain, id). ----
    "q67_domain_cap" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("https://"), col("source"), (col("doc_id") % 13).cast("string"),
          lit(".org/a/b")).as("url"))
      val dom = graft.ops.Curation.urlFeatures(urls, "url")
        .select(col("doc_id"), col("url_domain"))
      graft.ops.Curation.capPerKey(dom, "doc_id", "url_domain", k = 3)
        .select(col("doc_id"), col("url_domain"), col("key_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- q68: composite quality gate (Gopher/FineWeb rule family). The
    //      corpus is documents text with deterministic adversarial suffixes
    //      so every rule branch binds: doc_id%7 appends 30 numeric tokens
    //      (drags alpha_word_frac under 0.8 and mean_word_len down),
    //      doc_id%11 appends four identical lines (dup_line_frac 0.6), and
    //      the natural 10..99-word spread makes minWords=30 and the
    //      stop-word rule split both ways. ----
    "q68_quality_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" "), repeat(lit("9 "), 29), lit("9"))).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit("\nREPEATED\nREPEATED\nREPEATED\nREPEATED")).otherwise(lit("")))
          .as("text"))
      graft.ops.Curation.qualityFilter(docs, "text",
        minWords = 30, maxWords = 10000, minStopwordHits = 1)
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("dup_line_frac"), col("alpha_word_frac"), col("stopword_hits"),
          col("qf_keep"), col("qf_reasons"))
        .orderBy(col("doc_id"))
    }),

    // ---- q69: incremental shard-vs-ledger dedup. Ledger = md5 keys of
    //      every doc_id%5 text (the corpus so far); incoming = doc_id%2
    //      docs, with doc_id%3 rows rewritten to four rotating templates so
    //      the shard carries internal duplicate clusters. Survivors must be
    //      canonical within the shard AND unseen in the ledger — docs
    //      re-ingesting their own already-ledgered text (doc_id%10, %3!=0)
    //      anti-join away, proving idempotent re-ingestion. ----
    "q69_incremental_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents")
      val seen = base.where(col("doc_id") % 5 === 0)
        .select(md5(col("text").cast("binary")).as("dup_key"))
      val incoming = base.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit("tpl "), (col("doc_id") % 4).cast("string")))
            .otherwise(col("text")).as("text"))
      graft.ops.Dedup.exactIncremental(incoming, seen, "doc_id", "text")
        .select(col("doc_id"), col("dup_key"))
        .orderBy(col("doc_id"))
    }),

    // ---- q70: HTML -> text extraction (the stage that turns the input
    //      table's `html: binary` into the `text` column every other
    //      operator consumes). Each doc is wrapped in a full page whose
    //      boilerplate exercises every rule of the fixed grammar: a script
    //      body containing a bare `<` (must vanish BEFORE tag stripping),
    //      a style block, a comment, block tags, and all five core
    //      entities incl. a literal `&amp;` inside text. The oracle builds
    //      the IDENTICAL page from the same table and applies the same
    //      ordered RE2 chain — byte-identical extracted text. ----
    "q70_html_extract" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><!-- snap "), id, lit(" --><head><title>Doc</title>"),
        lit("<style>p{color:red}</style>"),
        lit("<script type=\"text/javascript\">var x = 1 < 2;</script></head>"),
        lit("<body><h1>Title &amp; "), id, lit("</h1><p>"),
        col("text"),
        lit("</p><div>tail &lt;ok&gt; &quot;q&#39;s&quot;&nbsp;end</div><br></body></html>"))
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), html.cast("binary").as("html"))
      graft.ops.Curation.htmlExtract(pages, "html")
        .select(col("doc_id"), col("extracted_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- q71: revisit change detection — per url, the simhash bit
    //      distance of each crawl snapshot to the PREVIOUS one (lag only:
    //      zero temporal leakage by construction). Two snapshots per doc:
    //      the original and a revisit that is byte-identical for even ids
    //      (hamming 0 against its pair) and one-token-edited for odd ids
    //      (small hamming); consecutive docs on the same url differ wholly
    //      (large hamming). The oracle recomputes the md5 simhash from
    //      scratch and lags it with a window. ----
    "q71_revisit_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.select((col("doc_id") * 2).as("snap_id"),
        (col("doc_id") % 100).as("url_key"), col("text"))
      val edit = docs.select((col("doc_id") * 2 + 1).as("snap_id"),
        (col("doc_id") % 100).as("url_key"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" minoredit"))).as("text"))
      Windows.revisitDiff(base.unionByName(edit), Seq("url_key"), "snap_id",
          "text", maxHamming = 3)
        .select(col("url_key"), col("snap_id"), col("hamming"), col("changed"))
        .orderBy(col("url_key"), col("snap_id"))
    }),

    // ---- q72: SCD2 validity intervals over crawl revisits — each
    //      (user, ts) snapshot valid until the key's next snapshot
    //      (exclusive), newest row open-ended. Materialized intervals turn
    //      later point-in-time lookups into plain range predicates — the
    //      storage-side dual of the as-of join (q09). ----
    "q72_snapshot_intervals" -> ((s, dir) => {
      Windows.snapshotIntervals(t(s, dir, "events"), Seq("user_id"), "ts")
        .select(col("user_id"), col("ts"), col("valid_from"), col("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("ts"))
    }),

    // ---- q73: outlink extraction (web-graph edge construction). Each page
    //      carries five anchors that split the grammar: an absolute https
    //      href (kept as-is), a host-relative href (resolved against the
    //      page's scheme://host), a fragment href (row emitted, target
    //      null), an <a> with no href and a single-quoted href (no row —
    //      the contract is double-quoted hrefs only). Binary html input
    //      exercises the UTF-8 cast path. ----
    "q73_extract_links" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<p>see <a href=\"https://ref"), ((col("doc_id") + 1) % 13).cast("string"),
        lit(".org/a\">x</a> and <a class=\"c\" href=\"/local/"), id,
        lit("\">y</a><a href=\"#frag\">z</a><a name=\"n\">w</a>"),
        lit("<a href='sq.html'>v</a></p>"))
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
          lit(".org/p/"), id).as("url"),
        html.cast("binary").as("html"))
      graft.ops.Curation.extractLinks(pages, "doc_id", "html", "url")
        .select(col("doc_id"), col("link_no"), col("href"), col("target_url"))
        .orderBy(col("doc_id"), col("link_no"))
    }),

    // ---- q74: EXACT-INTEGER PageRank, four synchronous iterations over a
    //      deterministic 50-node link graph (production composes
    //      extractLinks -> domain ids -> pageRankInt). Fixed-point bigint
    //      arithmetic makes the result independent of partitioning and
    //      fold order, so the oracle reproduces it bit-for-bit by
    //      unrolling the same four iterations as CTEs. ----
    "q74_pagerank" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 1) % 50).as("dst"))
      val e2 = d.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 3 + 2) % 50).as("dst"))
      graft.ops.Graph.pageRankInt(e1.unionByName(e2), "src", "dst", iters = 4)
        .orderBy(col("node"))
    }),

    // ---- q75: exact discrete quantiles (doc-length quartiles per
    //      language) — the quantile_disc rule (element at max(1,
    //      ceil(q*n))), dyadic qs so q*n is float-exact in both engines.
    //      Always an actual group element, never an interpolated float. ----
    "q75_quantiles" -> ((s, dir) => {
      graft.ops.Stats.quantilesDisc(t(s, dir, "documents"), Seq("lang"),
          "n_chars", Seq(0.25, 0.5, 0.75))
        .orderBy(col("lang"), col("q"))
    }),

    // ---- q76: deterministic training-data shuffle into shards — the
    //      permutation is a pure function of (seed, id), no global sort,
    //      no RNG state; the oracle re-deals the identical permutation. ----
    "q76_shuffle_shards" -> ((s, dir) => {
      graft.ops.Curation.shuffleShards(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          seed = "epoch7", nShards = 8)
        .select(col("doc_id"), col("shard"), col("shard_pos"))
        .orderBy(col("doc_id"))
    }),

    // ---- q77: out-of-vocabulary stats against the corpus's own top-100
    //      vocabulary (freq desc, token asc tie-break — deterministic at
    //      the boundary). Integer counts only; the oracle rebuilds the
    //      same vocabulary and recounts. ----
    "q77_oov_stats" -> ((s, dir) => {
      graft.ops.Curation.oovStats(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 100)
        .orderBy(col("doc_id"))
    }),

    // ---- q78: ARBITRARY keyed state in Structured Streaming
    //      (flatMapGroupsWithState) — running revisit/change counters per
    //      key, state carried ACROSS four micro-batches (the replay feeds
    //      batches in global ts order, honoring the operator's cross-batch
    //      ordering contract; production relies on the watermark). The
    //      oracle is the pure-window batch computation: row_number +
    //      running sum of the lag-change flag. ----
    "q78_stream_changes" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // collect() is the REPLAY HARNESS (builds the MemoryStream feed), not
      // part of the operator — keyedChanges consumes any unbounded source
      val rows = t(s, dir, "events")
        .select(col("user_id").cast("string"), col("ts").cast("timestamp"),
          col("event_type"))
        .orderBy(col("ts"), col("user_id"), col("event_type"))
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2)))
      val mem = MemoryStream[(String, java.sql.Timestamp, String)](
        org.apache.spark.sql.Encoders.product[(String, java.sql.Timestamp, String)],
        s.sqlContext)
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach(b => mem.addData(b.toSeq))
      val changes = graft.streaming.Streaming.keyedChanges(mem.toDS())
      val sink = "q78_changes_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val query = changes.toDF().writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try query.processAllAvailable() finally query.stop()
      }
      val sinkDf = s.table(sink)
      val result = s.createDataFrame(
        java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema)
      s.catalog.dropTempView(sink)
      result
        .select(col("url"), col("warc_ts"), col("instance_id"),
          col("revisit_no"), col("change_no"), col("changed"))
        .orderBy(col("url"), col("warc_ts"))
    }),

    // ---- q79: as-of join with a MAX-STALENESS tolerance (feature-store
    //      point-in-time semantics): q09's join, but a purchase older than
    //      12h no longer qualifies — the probe comes back unmatched with
    //      null payload, identical to having no history at all. Filtering
    //      the latest candidate is equivalent to bounding the search
    //      (earlier rows are staler). Staleness is whole epoch seconds on
    //      both sides, which the oracle replicates with floor(epoch()). ----
    "q79_asof_tolerance" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val clicks = events.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      AsOfJoin.asOfBucketed(clicks, purchases, Seq("user_id"), "ts", "pts",
          lit(86400), toleranceSeconds = Some(43200L))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value").as("purchase_value"), col("pts").as("purchase_ts"),
          col("_asof_matched").as("matched"))
        .orderBy(col("event_id"))
    }),

    // ---- q80: crawl cadence — per-key MEDIAN inter-revisit gap, the
    //      composition Windows.delta ∘ Stats.quantilesDisc (the number a
    //      recrawl scheduler budgets from). Gaps are whole epoch seconds
    //      (floored per row, then differenced), exactly replicable. ----
    "q80_crawl_cadence" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts_s", col("ts").cast("timestamp").cast("long"))
      val gaps = Windows.delta(ev, Seq("user_id"), "ts", "ts_s")
        .where(col("ts_s_delta").isNotNull)
      graft.ops.Stats.quantilesDisc(gaps, Seq("user_id"), "ts_s_delta", Seq(0.5))
        .select(col("user_id"), col("q"), col("ts_s_delta_q").as("median_gap_s"))
        .orderBy(col("user_id"))
    }),

    // ---- q81: the END-TO-END CURATION PIPELINE (the corpus-prep dual of
    //      q50's feature pipeline): html -> extracted text -> C4 line
    //      dedup (which PROVABLY strips the page template: the boilerplate
    //      lines 'Doc' and the tail div appear in all 500 pages, so
    //      maxDf=1 removes them from every doc while each unique headline
    //      survives) -> composite quality gate -> exact dedup (min-id
    //      canonical) -> deterministic stratified sample. One DAG, one
    //      chained oracle recomputing every stage. ----
    "q81_curation_pipeline" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><!-- snap "), id, lit(" --><head><title>Doc</title>"),
        lit("<style>p{color:red}</style>"),
        lit("<script type=\"text/javascript\">var x = 1 < 2;</script></head>"),
        lit("<body><h1>Title &amp; "), id, lit("</h1><p>"),
        col("text"),
        lit("</p><div>tail &lt;ok&gt; &quot;q&#39;s&quot;&nbsp;end</div><br></body></html>"))
      val pages = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        html.cast("binary").as("html"))
      val extracted = graft.ops.Curation.htmlExtract(pages, "html").drop("html")
      val cleaned = graft.ops.Dedup.dedupLines(extracted, "doc_id",
          "extracted_text", maxDf = 1)
        .withColumnRenamed("text_dedup", "clean_text")
        .drop("extracted_text", "n_lines", "n_lines_kept")
      val gated = graft.ops.Curation.qualityFilter(cleaned, "clean_text",
          minWords = 20, maxWords = 10000, minStopwordHits = 1)
        .where(col("qf_keep"))
      val canon = graft.ops.Dedup.exactDistinct(gated, "doc_id", "clean_text")
      graft.ops.Curation.stratifiedSample(canon, "doc_id", "lang",
          Map("en" -> 0.5), defaultRate = 0.25)
        .select(col("doc_id"), col("lang"), col("n_words"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // ---- q82: corpus snapshot diff between two crawl days — the
    //      incremental-crawl bookkeeping that bounds recompute to churn.
    //      doc_id%4==3 exists only in day2 (added), %4==1 only in day1
    //      (removed); of the common keys, %8==0 re-crawled with an edit
    //      (changed), the rest byte-identical (unchanged). ----
    "q82_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val day1 = docs.where(col("doc_id") % 4 =!= 3)
        .select(col("doc_id"), col("text"))
      val day2 = docs.where(col("doc_id") % 4 =!= 1)
        .select(col("doc_id"),
          when(col("doc_id") % 8 === 0, concat(col("text"), lit(" updated")))
            .otherwise(col("text")).as("text"))
      graft.ops.Diff.snapshotDiff(day1, day2, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- q83: exact-integer tf-idf top-5 terms per document. The idf
    //      weight is the fixed-point rational (1e6 * N) div df — integer
    //      multiply/divide only (same discipline as q74's PageRank), so
    //      the scores and the (score desc, term asc) cut are bit-exact
    //      across engines. ----
    "q83_tfidf_topk" -> ((s, dir) => {
      graft.ops.Relevance.tfidfTopK(t(s, dir, "documents"), "doc_id", "text",
          k = 5)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- q84: anchor extraction (outlinks WITH anchor text — the
    //      off-page relevance signal). Five anchors per page split the
    //      grammar: absolute href (kept), host-relative (resolved),
    //      fragment (row kept, target null), nested-markup body (SKIPPED —
    //      the plain-text-body grammar is deterministic in both engines),
    //      and a self link. ----
    "q84_anchor_links" -> ((s, dir) => {
      graft.ops.Curation.extractAnchors(q84Pages(s, dir), "doc_id", "html", "url")
        .select(col("doc_id"), col("link_no"), col("href"), col("anchor_text"),
          col("target_url"))
        .orderBy(col("doc_id"), col("link_no"))
    }),

    // ---- q85: host-level inlink features over the q84 anchor edges —
    //      inlinks / distinct source hosts / external inlinks per target
    //      host. ref* hosts collect only external links, site* hosts only
    //      self-traffic (local + self anchors), so both branches of the
    //      external test bind. ----
    "q85_host_inlinks" -> ((s, dir) => {
      val links = graft.ops.Curation.extractAnchors(q84Pages(s, dir),
        "doc_id", "html", "url")
        .join(q84Pages(s, dir).select(col("doc_id"), col("url")), Seq("doc_id"))
      graft.ops.Graph.inlinkFeatures(links, "url", "target_url")
        .orderBy(col("host"))
    }),

    // ---- q86: quantile-based feature binning — each doc's n_chars becomes
    //      its within-language quartile (0..3), thresholds the EXACT
    //      discrete quantiles of q75, comparison strict >, so the binning
    //      is bit-exact across engines. ----
    "q86_quantile_bins" -> ((s, dir) => {
      graft.ops.Stats.binByQuantiles(t(s, dir, "documents"), Seq("lang"),
          "n_chars", Seq(0.25, 0.5, 0.75))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("n_chars_bin"))
        .orderBy(col("doc_id"))
    }),

    // ---- q87: mergeable HLL distinct sketch — estimated distinct
    //      content hashes per language, plus a '*' total row whose sketch
    //      is the MERGE of the per-language sketches (the rollup path:
    //      coarser groupings without rescanning data). The estimate is
    //      ONE integer division of exact integers (no float harmonic
    //      mean), so the oracle reproduces it bit-for-bit in int128 SQL.
    //      p=5 keeps the raw estimator in its valid regime at sf-scale
    //      cardinalities (~100/key); production default is p=12. ----
    "q87_hll_distinct" -> ((s, dir) => {
      val vals = t(s, dir, "documents")
        .select(col("lang"), md5(col("text").cast("binary")).as("h"))
      val sketches = vals.groupBy(col("lang"))
        .agg(hll_sketch(col("h"), 5).as("_sk"),
          countDistinct(col("h")).as("exact_distinct"))
      val perLang = sketches.select(col("lang"),
        hll_estimate(col("_sk")).as("est_distinct"), col("exact_distinct"))
      val total = sketches.agg(hll_estimate(hll_merge(col("_sk"))).as("est_distinct"))
        .crossJoin(vals.agg(countDistinct(col("h")).as("exact_distinct")))
        .select(lit("*").as("lang"), col("est_distinct"), col("exact_distinct"))
      perLang.unionByName(total).orderBy(col("lang"))
    }),

    // ---- q88: URL canonicalization — six deterministic messy variants
    //      split every grammar branch (case-folding, default vs non-default
    //      port, tracking-param drop + query sort, fragment drop, empty
    //      path, unparseable -> null). ----
    "q88_canonical_urls" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val k = (col("doc_id") % 7).cast("string")
      val url = when(col("doc_id") % 6 === 0,
          concat(lit("HTTP://Example"), k, lit(".COM:80/Path/"), id,
            lit("?b=2&utm_source=x&a=1#frag")))
        .when(col("doc_id") % 6 === 1, concat(lit("https://site"), k, lit(".org:443/")))
        .when(col("doc_id") % 6 === 2,
          concat(lit("https://site"), k, lit(".org:8080/x?gclid="), id))
        .when(col("doc_id") % 6 === 3, concat(lit("https://site"), k, lit(".org")))
        .when(col("doc_id") % 6 === 4,
          concat(lit("http://a"), k, lit(".b/p?fbclid=9&z="), id, lit("&ref=feed")))
        .otherwise(concat(lit("not a url "), id))
      graft.ops.Curation.canonicalizeUrl(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")), "url")
        .select(col("doc_id"), col("url"), col("canonical_url"))
        .orderBy(col("doc_id"))
    }),

    // ---- q89: count-min sketch frequency estimates — per-language token
    //      CMS at width 16 x depth 4 (small width on purpose: the corpus's
    //      ~31 distinct tokens collide, so the never-underestimate property
    //      is visible, est >= exact with both replayed exactly). Probes
    //      cover frequent, mid, and absent tokens. ----
    "q89_cms_counts" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("lang"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z0-9_']+"), lit(0)))
          .as("tok"))
      val sketches = toks.groupBy(col("lang")).agg(cms_sketch(col("tok"), 16, 4).as("_sk"))
      // '*' = the per-language sketches MERGED (elementwise counter sum) —
      // identical to a whole-corpus build, the rollup path driver-visible
      val merged = sketches.agg(cms_merge(col("_sk")).as("_sk"))
        .select(lit("*").as("lang"), col("_sk"))
      val probes = Seq("the", "table", "data", "xylophone", "value")
      val probeDf = s.createDataFrame(probes.map(Tuple1(_))).toDF("probe")
      val exact = toks.select(lit("*").as("lang"), col("tok"))
        .unionByName(toks)
        .join(broadcast(probeDf), col("tok") === col("probe"))
        .groupBy(col("lang"), col("probe")).agg(count(lit(1)).as("_ex"))
      sketches.unionByName(merged).crossJoin(broadcast(probeDf))
        .withColumn("est_count", cms_query(col("_sk"), col("probe")))
        .join(exact, Seq("lang", "probe"), "left")
        .select(col("lang"), col("probe"), col("est_count"),
          coalesce(col("_ex"), lit(0L)).as("exact_count"))
        .orderBy(col("lang"), col("probe"))
    }),

    // ---- q90: Bloom-filter decontamination — the reference set becomes a
    //      fixed 32-byte bitset (256 bits, k=3, deliberately tight so
    //      false positives OCCUR and are verified): probes that hit the
    //      filter include every true member (zero false negatives) plus
    //      deterministic false positives the oracle replays bit-for-bit.
    //      At 100 TB this is how a bench/ledger set too big to broadcast
    //      raw probes the corpus: m/8 bytes regardless of set size. ----
    "q90_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.where(col("doc_id") % 31 === 0)
        .select((col("doc_id") % 2).as("_shard"),
          concat(lit("bench item "), col("doc_id").cast("string")).as("b"))
      // build per-shard filters, then MERGE (bitwise OR) — bit-identical
      // to a whole-set build (spec-proven), the rollup path driver-visible
      val bloom = bench.groupBy(col("_shard"))
        .agg(bloom_agg(col("b"), 256, 3).as("_bl"))
        .agg(bloom_merge(col("_bl")).as("_bloom"))
      val probes = docs.select(col("doc_id"),
        concat(lit("bench item "), (col("doc_id") % 97).cast("string")).as("_v"))
      probes.crossJoin(broadcast(bloom))
        .withColumn("in_bloom", bloom_contains(col("_bloom"), col("_v")))
        .join(bench.select(col("b").as("_v")).distinct().withColumn("_hit", lit(true)),
          Seq("_v"), "left")
        .select(col("doc_id"), col("in_bloom"),
          coalesce(col("_hit"), lit(false)).as("actually_in"))
        .orderBy(col("doc_id"))
    }),

    // ---- q91: document-level term co-occurrence with exact-integer lift
    //      ((1e6 * N * n_ab) div (n_a * n_b) — the PMI argument as one
    //      fixed-point division), vocabulary-bounded pair space. ----
    "q91_cooccurrence" -> ((s, dir) => {
      graft.ops.Relevance.cooccurrence(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 20, minPairCount = 5L)
        .orderBy(col("term_a"), col("term_b"))
    }),

    // ---- q92: the END-TO-END near-dup dedup pipeline (the corpus-dedup
    //      dual of q81): LSH candidates -> exact Jaccard verify -> CC
    //      clusters -> min-id canonical selection, ONE row per input doc
    //      with (cluster_id, cluster_size, kept). Every original+mutated
    //      pair collapses to a 2-cluster keeping the original; unique
    //      docs are singletons keeping themselves. ----
    "q92_neardup_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      Dedup.nearDupDedup(docs.unionByName(mutated), "id", "text",
          numHashes = 64, numBands = 32, shingleSize = 3, jaccard = 0.8)
        .orderBy(col("id"))
    }),

    // ---- q93: bigram-coverage fluency — second-order oov (word salad
    //      passes unigram checks but its word PAIRS are corpus-rare);
    //      top-50 corpus bigram vocabulary, integer counts only. ----
    "q93_bigram_coverage" -> ((s, dir) => {
      graft.ops.Curation.bigramCoverage(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 50)
        .orderBy(col("doc_id"))
    }),

    // ---- q94: deterministic mixture upsampling (domain reweighting):
    //      en 2.5x (2-3 copies), zh 0.5x (0-1), others 1.0x exactly —
    //      the multi-copy, fractional-coin, and exact-integer paths all
    //      bind; the realized corpus is a pure function of (seed, id). ----
    "q94_mixture_upsample" -> ((s, dir) => {
      val w = when(col("lang") === "en", 2500L)
        .when(col("lang") === "zh", 500L)
        .otherwise(1000L)
      graft.ops.Curation.upsampleByWeight(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), w.as("w_milli")),
          "doc_id", "w_milli", seed = "mix1")
        .select(col("doc_id"), col("lang"), col("copy_no"))
        .orderBy(col("doc_id"), col("copy_no"))
    }),

    // ---- q95: the HLL sketch as STRUCTURED STREAMING STATE — per-day
    //      distinct-user estimates where the binary register buffer lives
    //      in the state store and merges across four micro-batches (the
    //      same elementwise max that merges shards in batch). The oracle
    //      replays the registers per UTC-day window in SQL. ----
    "q95_stream_distinct_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // collect() is the REPLAY HARNESS (builds the MemoryStream feed) —
      // windowedDistinctSketch consumes any unbounded source
      val rows = t(s, dir, "events")
        .select(col("user_id").cast("string"), col("ts").cast("timestamp"))
        .orderBy(col("ts"), col("user_id"))
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1)))
      val mem = MemoryStream[(String, java.sql.Timestamp)](
        org.apache.spark.sql.Encoders.product[(String, java.sql.Timestamp)],
        s.sqlContext)
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach(b => mem.addData(b.toSeq))
      val agg = graft.streaming.Streaming.windowedDistinctSketch(
        mem.toDF().toDF("uid", "ts"), "ts", "uid", "1 day", p = 5,
        watermarkDelay = None)
      val sink = "q95_sketch_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val query = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try query.processAllAvailable() finally query.stop()
      }
      val sinkDf = s.table(sink)
      val result = s.createDataFrame(
        java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema)
      s.catalog.dropTempView(sink)
      result.orderBy(col("window_start"))
    }),

    // ---- q96: greedy token-budget selection — the global (score desc,
    //      id asc) inclusive prefix sum decomposed into score-level
    //      offsets + within-score windows (never one global window).
    //      Score is the quantized distinct-word percent (0-100, so score
    //      ties bind across documents), tokens the word count — integers
    //      only, and the 20k budget cuts mid-corpus so kept and rejected
    //      rows both exist. ----
    "q96_token_budget" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"),
          regexp_extract_all(lower(col("text")), lit("[a-z0-9_']+"), lit(0)).as("_w"))
        .select(col("doc_id"), size(col("_w")).cast("long").as("n_tokens"),
          when(size(col("_w")) === 0, 0L)
            .otherwise(expr("(100L * size(array_distinct(_w))) div size(_w)"))
            .as("score"))
      graft.ops.Curation.selectByTokenBudget(base, "doc_id", "n_tokens",
          "score", budgetTokens = 20000L)
        .select(col("doc_id"), col("score"), col("n_tokens"),
          col("cum_tokens"), col("kept"))
        .orderBy(col("doc_id"))
    }),

    // ---- q97: DSIR-style hashed importance weights — every product in
    //      decimal(38,0), div truncation, md5 buckets: the fixed-point
    //      density-ratio score replays exactly in HUGEINT SQL. Target
    //      distribution = the corpus's own English rows. ----
    "q97_importance_weights" -> ((s, dir) => {
      graft.ops.Curation.importanceWeights(
          t(s, dir, "documents").withColumn("is_en", col("lang") === "en"),
          "doc_id", "text", "is_en", nBuckets = 64)
        .orderBy(col("doc_id"))
    }),

    // ---- q98: winnowed fingerprint overlap (MOSS) — SUBSTRING-level
    //      partial-dup pairs doc-level Jaccard can't see. maxFpDf lifted
    //      above the corpus size so the output equals the oracle's exact
    //      fingerprint-set predicate (q37 precedent: production keeps the
    //      boilerplate cap). ----
    "q98_winnow_overlap" -> ((s, dir) => {
      // 400-doc slice: with the df cap disabled for oracle exactness, the
      // pair fan-out is sum(df^2) over fingerprints — on this tiny-vocab
      // synthetic corpus that grows quadratically in corpus size while
      // proving nothing extra about the predicate. Production keeps the
      // cap and never sees the quadratic blow-up.
      graft.ops.Dedup.winnowedOverlapPairs(
          t(s, dir, "documents").where(col("doc_id") < 400),
          "doc_id", "text", k = 4, windowW = 5, minShared = 2,
          maxFpDf = 1000000)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- q99: near-dup dedup with QUALITY-scored canonical selection —
    //      the production policy (keep the longest/best variant, not the
    //      accidental smallest id). Same corpus as q92; the mutated copies
    //      are LONGER, so `kept` flips to them wherever q92 kept the
    //      original — the scored path visibly diverges from min-id, and
    //      exact-dup clusters (equal lengths) exercise the id tie-break. ----
    "q99_neardup_keepby" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      Dedup.nearDupDedup(
          docs.unionByName(mutated)
            .withColumn("quality", length(col("text")).cast("long")),
          "id", "text", numHashes = 64, numBands = 32, shingleSize = 3,
          jaccard = 0.8, keepByCol = Some("quality"))
        .orderBy(col("id"))
    }),

    // ---- q100: INCREMENTAL near-dup dedup against a ledger — continuous
    //      ingestion never re-dedups the corpus. The shard carries all
    //      three outcomes by construction: mutated ledger near-dups
    //      (ledger_dup where J >= 0.8, decided by the oracle's exact
    //      predicate), synthetic novel docs (kept), and a second copy of
    //      each novel doc (shard_dup canonicalized to the first). ----
    "q100_neardup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val ids = col("id").cast("string")
      val synth = concat_ws(" ", lit("novel"), ids, lit("alpha"), ids,
        lit("beta"), ids, lit("gamma"), ids, lit("delta"), ids)
      val mutated = docs.select((col("id") + 200000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      val novel1 = docs.select((col("id") + 500000L).as("id"), synth.as("text"))
      val novel2 = docs.select((col("id") + 600000L).as("id"), synth.as("text"))
      Dedup.nearDupIncremental(
          mutated.unionByName(novel1).unionByName(novel2), docs,
          "id", "text", numHashes = 64, numBands = 32, shingleSize = 3,
          jaccard = 0.8)
        .orderBy(col("id"))
    }),

    // ---- q101: robots-style URL policy — longest matching path_prefix
    //      per exact host decides, deny wins length ties, no rule means
    //      allowed. Three-level override chain (/docs/ allow -> /docs/zh
    //      deny -> /docs/zh/d1 re-allow) plus unmatched /raw paths. ----
    "q101_url_policy" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"),
        concat(col("source"), lit(".example.com")).as("host"),
        when(col("doc_id") % 11 === 0,
          concat(lit("/raw/d"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/docs/"), col("lang"), lit("/d"),
            col("doc_id").cast("string"))).as("path"))
      val rules = t(s, dir, "documents")
        .select(concat(col("source"), lit(".example.com")).as("host")).distinct()
        .select(col("host"), explode(array(
          struct(lit("/docs/").as("path_prefix"), lit(true).as("allow")),
          struct(lit("/docs/zh").as("path_prefix"), lit(false).as("allow")),
          struct(lit("/docs/zh/d1").as("path_prefix"), lit(true).as("allow"))))
          .as("r"))
        .select(col("host"), col("r.path_prefix"), col("r.allow"))
      graft.ops.Curation.applyUrlPolicy(pages, "host", "path", rules)
        .orderBy(col("doc_id"))
    }),

    // ---- q102: the ZERO-TEMPORAL-LEAKAGE contract as a driver-visible
    //      query — audit q09's production as-of output per user; the
    //      oracle recomputes the point-in-time join independently and must
    //      agree n_leaks = 0 at every entity (and that n_matched agrees
    //      row for row). ----
    "q102_leakage_audit" -> ((s, dir) => {
      val events = t(s, dir, "events")
      val clicks = events.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = events.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("value"))
      val joined = AsOfJoin.asOfBucketed(clicks, purchases, Seq("user_id"),
        "ts", "pts", lit(86400))
      AsOfJoin.leakageAudit(joined, Seq("user_id"), "ts", "pts")
        .orderBy(col("user_id"))
    }),

    // ---- q103: incremental MERGE into the Iceberg-style pages layout —
    //      a recrawl delta (replacements at existing (url, warc_ts) keys +
    //      inserts on a brand-new day) upserted with only the touched
    //      (p_day, p_bucket) partitions rewritten (mtime-asserted in
    //      PageTableSpec); the read-back corpus must equal the oracle's
    //      from-scratch reconstruction. ----
    "q103_pagetable_merge" -> ((s, dir) => {
      def pages(df: DataFrame) = df.select(
        concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
          lit(".org/p/"), col("doc_id").cast("string")).as("url"),
        timestamp_seconds(lit(1600000000L) + (col("doc_id") % 45) * 86400L)
          .as("warc_ts"),
        col("lang"), col("n_chars"))
      val path = q103Path.synchronized {
        q103Path.getOrElseUpdate(dir, {
          val p = java.nio.file.Files.createTempDirectory("graft_q103").toString
          val docs = t(s, dir, "documents")
          graft.sources.PageTable.write(pages(docs), p, nBuckets = 4)
          val repl = pages(docs.where(col("doc_id") % 10 === 0))
            .withColumn("n_chars", col("n_chars") + 1000000L)
          val ins = docs.where(col("doc_id") % 10 === 1).select(
            concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
              lit(".org/p/"), col("doc_id").cast("string")).as("url"),
            timestamp_seconds(lit(1600000000L) + 100L * 86400L + col("doc_id"))
              .as("warc_ts"),
            col("lang"), col("n_chars"))
          graft.sources.PageTable.mergeDelta(s, p, repl.unionByName(ins),
            nBuckets = 4)
          p
        })
      }
      graft.sources.PageTable.read(s, path)
        .select(col("url"), col("warc_ts"), col("lang"), col("n_chars"))
        .orderBy(col("url"), col("warc_ts"))
    }),

    // ---- q104: WARC container ingestion — the Common-Crawl wire format.
    //      Eight WARC files are assembled from the documents table with
    //      pure built-ins (header strings + Content-Length framing +
    //      ordered binary-fold concatenation), the odd-numbered files are
    //      additionally gzip-wrapped (the member framing CC ships), then
    //      warc_records parses them back and the record metadata must
    //      equal the oracle's direct reconstruction from documents. ----
    "q104_warc_ingest" -> ((s, dir) => {
      import s.implicits._
      val docs = t(s, dir, "documents")
      val payload = encode(col("text"), "UTF-8")
      val header = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:md5:"),
        md5(payload), lit(">\r\nWARC-Date: "),
        date_format(timestamp_seconds(lit(1600000000L) + col("doc_id")),
          "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        lit("\r\nWARC-Target-URI: https://crawl.example/doc/"),
        col("doc_id").cast("string"),
        lit("\r\nContent-Length: "), octet_length(payload).cast("string"),
        lit("\r\n\r\n"))
      val rec = concat(encode(header, "UTF-8"), payload,
        encode(lit("\r\n\r\n"), "UTF-8"))
      val files = docs
        .select((col("doc_id") % 8).as("file_id"),
          struct(col("doc_id"), rec.as("rec")).as("sr"))
        .groupBy(col("file_id"))
        .agg(aggregate(array_sort(collect_list(col("sr"))),
          lit(Array.emptyByteArray),
          (acc, x) => concat(acc, x.getField("rec"))).as("bytes"))
        .as[(Long, Array[Byte])]
        .map { case (id, b) =>
          (id, if (id % 2 == 1) graft.core.Compression.compress(b, "gzip") else b)
        }.toDF("file_id", "bytes")
      files
        .select(col("file_id"),
          posexplode(warc_records(col("bytes"))).as(Seq("pos", "r")))
        .select(col("file_id"), col("pos"), col("r.target_uri"),
          col("r.warc_date"), col("r.content_length"),
          md5(col("r.payload")).as("payload_md5"))
        .orderBy(col("file_id"), col("pos"))
    }),

    // ---- q105: exact duplicated-span removal (Lee et al. exact-substring
    //      dedup at k-token granularity): every 8-token shingle occurring
    //      more than once corpus-wide keeps its first (id, pos) occurrence;
    //      all other occurrences are cut from their documents' token
    //      streams. The oracle recomputes owner election with window
    //      functions and reassembles kept tokens relationally. ----
    "q105_span_dedup" -> ((s, dir) => {
      graft.ops.Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", k = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_tokens_kept"),
          col("text_span_dedup"))
        .orderBy(col("doc_id"))
    }),

    // ---- q106: robots.txt crawl policy end-to-end — raw RFC 9309 files
    //      (groups, comments, CRLF, empty directives, wildcard + $
    //      patterns) parsed per host, decisions per page via the
    //      longest-pattern/allow-ties precedence. Three host classes:
    //      no robots at all, a *-only file, and a file where the GraftBot
    //      group suppresses the * group. The oracle states every decision
    //      in closed form from (doc_id % 13, doc_id % 6). ----
    "q106_robots_policy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val h = col("doc_id") % 13
      val pages = docs.select(col("doc_id"),
        concat(lit("site"), h.cast("string"), lit(".org")).as("host"),
        when(col("doc_id") % 6 === 0, concat(lit("/public/a"), col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 1, concat(lit("/public/private/"), col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 2, lit("/tmp/keep"))
          .when(col("doc_id") % 6 === 3, concat(lit("/tmp/keep"), col("doc_id").cast("string")))
          .when(col("doc_id") % 6 === 4, concat(lit("/star/"), col("doc_id").cast("string")))
          .otherwise(concat(lit("/free/"), col("doc_id").cast("string"))).as("path"))
      val hosts = docs.select((col("doc_id") % 13).as("h")).distinct()
        .where(col("h") % 5 =!= 0) // h%5==0: no robots.txt published
      val robots = hosts.select(
        concat(lit("site"), col("h").cast("string"), lit(".org")).as("rhost"),
        when(col("h") % 3 === 0, lit(
          "User-agent: *\r\nDisallow: /star/\r\nAllow: /star/open$\r\n"))
          .otherwise(concat(
            lit("# policy\r\nSitemap: https://site"), col("h").cast("string"),
            lit(".org/sitemap.xml\r\nDisallow: /pre-group\r\n\r\n" +
              "User-agent: otherbot\r\nDisallow: /\r\n\r\n" +
              "User-agent: GraftBot\r\nAllow: /public/   # comment\r\n" +
              "Disallow: /public/private*\r\nDisallow: /tmp/\r\n" +
              "Allow: /tmp/keep$\r\nDisallow:\r\n\r\n" +
              "User-agent: *\r\nDisallow: /everything/\r\n"))).as("rtext"))
      graft.ops.Robots.applyPolicy(pages, "host", "path",
          robots, "rhost", "rtext", "graftbot")
        .select(col("doc_id"), col("host"), col("path"), col("allowed"),
          col("matched_pattern"))
        .orderBy(col("doc_id"))
    }),

    // ---- q107: C4 line-level cleaning over a constructed corpus that
    //      exercises every rule (short line, javascript line, no terminal
    //      punctuation, brace page, lorem-ipsum page, under-3-sentences
    //      page). The oracle RE-IMPLEMENTS the filter in SQL (list_filter
    //      lambdas) over the identically-constructed text. ----
    "q107_c4_filter" -> ((s, dir) => {
      val id = col("doc_id")
      val base = concat(
        lit("Document "), id.cast("string"),
        lit(" opens with a clean first sentence.\n"),
        lit("It continues with a second good sentence right here!\n"),
        lit("A third sentence keeps the page over the limit."))
      val extra1 = when(id % 4 === 0, lit("\ntiny line."))
        .when(id % 4 === 1, lit("\nPlease enable JavaScript to continue browsing."))
        .when(id % 4 === 2, lit("\nno terminal punctuation on this line"))
        .otherwise(lit(""))
      val extra2 = when(id % 7 === 0, lit("\nif (x) { y(); }")).otherwise(lit(""))
      val extra3 = when(id % 11 === 0, lit("\nLorem ipsum dolor sit amet today."))
        .otherwise(lit(""))
      val text = when(id % 13 === 0, lit("One lonely sentence only."))
        .otherwise(concat(base, extra1, extra2, extra3))
      val src = t(s, dir, "documents").select(id, text.as("text"))
      graft.ops.Curation.c4Filter(src, "text")
        .select(col("doc_id"), col("c4_text"), col("n_lines"),
          col("n_lines_kept"), col("n_sentences"), col("c4_reasons"),
          col("c4_keep"))
        .orderBy(col("doc_id"))
    }),

    // ---- q108: rendezvous (HRW) shard routing — minimal-movement shard
    //      assignment; the oracle recomputes the per-(doc, shard) md5
    //      tournament relationally and picks each doc's winner. ----
    "q108_rendezvous_shard" -> ((s, dir) => {
      graft.ops.Curation.rendezvousShard(
          t(s, dir, "documents").select(col("doc_id")),
          "doc_id", (0 until 7).map(i => s"s$i"))
        .orderBy(col("doc_id"))
    }),

    // ---- q109: blocked postings-list export (search-index sink) —
    //      delta-encoded (gap, tf) entries within doc-range blocks; the
    //      driver explodes the arrays and the oracle recomputes gaps with
    //      lag windows over the same (term, doc, tf) stream. ----
    "q109_postings_blocks" -> ((s, dir) => {
      graft.ops.Relevance.postingsBlocks(
          t(s, dir, "documents"), "doc_id", "text", blockSpan = 64L)
        .select(col("term"), col("block"), col("df_block"), col("cf_block"),
          posexplode(col("postings")).as(Seq("pos", "p")))
        .select(col("term"), col("block"), col("df_block"), col("cf_block"),
          col("pos"), col("p.gap").as("gap"), col("p.tf").as("tf"))
        .orderBy(col("term"), col("block"), col("pos"))
    }),

    // ---- q110: canonical web-text normalization — NFC + control strip +
    //      whitespace collapse, the web-page byte-identity contract. The
    //      per-doc_id suffixes exercise every pass: combining-accent and
    //      Hangul-jamo composition, CRLF/CR, C0/C1/DEL controls, tab runs,
    //      spaces adjacent to newlines, blank-line capping. The oracle's
    //      NFC is DuckDB's utf8proc — an independent implementation. ----
    "q110_normalize_webtext" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val dirty = concat(col("text"),
        when(m === 0, lit(" Café \r\nxy"))
          .when(m === 1, lit("Åb\t\tc\n\n\n\nd"))
          .when(m === 2, lit("가 ko e"))
          .otherwise(lit("x \n \n  yz")))
      t(s, dir, "documents").select(col("doc_id"),
          normalize_webtext(dirty).as("norm_text"))
        .orderBy(col("doc_id"))
    }),

    // ---- q111: entity-safe deterministic train/val/test split — the
    //      assignment is a pure function of the KEY (source), so all rows
    //      of one entity share a split and corpus growth never moves an
    //      existing key. ----
    "q111_split_assign" -> ((s, dir) => {
      graft.ops.Curation.assignSplit(t(s, dir, "documents"), "source",
          Seq(("train", 8L), ("val", 1L), ("test", 1L)))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ---- q112: hashing-trick sparse feature export — signed md5 buckets
    //      at fixed dim=64; one map-side-combined (id, bucket) aggregate.
    //      ----
    "q112_hashed_features" -> ((s, dir) => {
      graft.ops.Relevance.hashedFeatures(
          t(s, dir, "documents"), "doc_id", "text", dim = 64)
        .orderBy(col("doc_id"), col("bucket"))
    }),

    // ---- q113: fixed-point smoothed bigram-LM fluency — the CCNet shape:
    //      LM counts from the corpus's OWN English split, every document
    //      scored against them, so non-English rows hit the unseen-bigram
    //      and unseen-context smoothing paths. Exact integers throughout
    //      ((scale*(c2+1)) div (c1+V)); the oracle replays the same
    //      rationals relationally. ----
    "q113_lm_fluency" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Lm.bigramFluency(docs, "doc_id", "text",
          lmDf = Some(docs.where(col("lang") === "en")))
        .orderBy(col("doc_id"))
    }),

    // ---- q114: BPE merge-pair statistics (tokenizer-trainer round 1) —
    //      corpus-frequency-weighted adjacent character-pair counts over
    //      the vocabulary, top-20 with a (freq desc, pair asc) tie-break
    //      so the cut is deterministic. ----
    "q114_bpe_pairs" -> ((s, dir) => {
      graft.ops.Lm.bpePairStats(t(s, dir, "documents"), "text")
        .orderBy(col("freq").desc, col("pair").asc)
        .limit(20)
    }),

    // ---- q115: BPE segmentation statistics under a FIXED merge list —
    //      the exact greedy left-to-right encoder fold (not the estimator).
    //      The merges use pairwise-disjoint character alphabets, so each
    //      merge's fire count equals the word's non-overlapping substring
    //      count and the oracle replays the fold as regex counts:
    //      n_subwords = chars - fires, n_single_chars = chars - 2*fires. ----
    "q115_bpe_segment" -> ((s, dir) => {
      graft.ops.Lm.bpeSegmentStats(t(s, dir, "documents"), "doc_id", "text",
          Seq(("t", "h"), ("e", "r"), ("o", "n")))
        .orderBy(col("doc_id"))
    }),

    // ---- q116: linear classifier inference (fastText-style quality gate)
    //      — q112's signed hashed features against a deterministic md5
    //      weight table (model-sized, broadcast), integer dot product,
    //      label = score > 0. Featureless docs score 0/false. ----
    "q116_classifier_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = graft.ops.Relevance.hashedFeatures(docs, "doc_id", "text",
        dim = 64)
      val weights = s.range(64).select(col("id").as("bucket"),
        (conv(substring(md5(concat(lit("w"), col("id").cast("string"))
            .cast("binary")), 1, 8), 16, 10).cast("long") % 2001L - 1000L)
          .as("weight"))
      graft.ops.Lm.linearScore(docs, feats, weights, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- q117: REAL pixel-raster decode — exact integer channel sums over
    //      javax.imageio rasters. PNG is lossless, so the oracle recomputes
    //      every sum CLOSED-FORM from the generator's fill function
    //      ((x*31 + y*17) & 0xffffff), never from the engine; the 2200-wide
    //      image pushes values past 2^16 so the red channel binds too.
    //      Undecodable payload -> ok=false zeros. ----
    "q117_image_pixels" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val rows = Seq(
        M.MediaRow(1L, "image", M.MediaGen.pngBytes(17, 9)),
        M.MediaRow(2L, "image", M.MediaGen.pngBytes(8, 6, alpha = true)),
        M.MediaRow(3L, "image", M.MediaGen.pngBytes(2200, 3)),
        M.MediaRow(4L, "image", Array[Byte](0x89.toByte, 'P', 'N', 'G', 0)))
      M.imagePixelStats(rows.toDS()).toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"),
          col("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- q118: exact-integer BM25 top-k — tf-saturation + length
    //      normalization as one decimal(38,0) rational (the idf LOG stays
    //      caller-side, q83 precedent); the oracle replays the identical
    //      HUGEINT arithmetic. ----
    "q118_bm25" -> ((s, dir) => {
      graft.ops.Relevance.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          k = 3)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- q119: UT1-style phrase blocklist — token-boundary L-gram
    //      matching (no substring false positives), mixed 1-word and
    //      2-word phrases, broadcast phrase table, threshold gate. ----
    "q119_blocklist" -> ((s, dir) => {
      graft.ops.Curation.blocklistHits(t(s, dir, "documents"), "doc_id",
          "text", Seq("slow", "batch batch", "merge slow", "nosuch phrase"),
          blockAt = 3L)
        .orderBy(col("doc_id"))
    }),

    // ---- q120: ML-ready FEATURE-MATRIX assembly — five operator families
    //      composed in ONE DAG (split assignment, LM fluency, hashed-
    //      feature norms, classifier inference, blocklist gate) into one
    //      wide row per document: the export a training pipeline hands to
    //      the trainer. Every column integer/boolean/string; the oracle
    //      stitches the same five (individually proven) relational blocks. ----
    "q120_feature_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = graft.ops.Curation.assignSplit(docs, "source",
          Seq(("train", 8L), ("val", 1L), ("test", 1L)))
        .select(col("doc_id"), col("split"))
      val fluency = graft.ops.Lm.bigramFluency(docs, "doc_id", "text",
          lmDf = Some(docs.where(col("lang") === "en")))
        .select(col("doc_id"), col("n_bigrams"), col("p_sum"))
      val feats = graft.ops.Relevance.hashedFeatures(docs, "doc_id", "text",
        dim = 64)
      val norms = feats.groupBy(col("doc_id")).agg(
        sum(abs(col("value"))).as("_l1"), count(lit(1)).as("_nb"))
      val weights = s.range(64).select(col("id").as("bucket"),
        (conv(substring(md5(concat(lit("w"), col("id").cast("string"))
            .cast("binary")), 1, 8), 16, 10).cast("long") % 2001L - 1000L)
          .as("weight"))
      val clf = graft.ops.Lm.linearScore(docs, feats, weights, "doc_id")
      val gate = graft.ops.Curation.blocklistHits(docs, "doc_id", "text",
          Seq("slow", "batch batch"), blockAt = 3L)
        .select(col("doc_id"), col("blocked"))
      docs.select(col("doc_id"), col("lang"))
        .join(split, Seq("doc_id")).join(fluency, Seq("doc_id"))
        .join(norms, Seq("doc_id"), "left")
        .join(clf, Seq("doc_id")).join(gate, Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("split"),
          col("n_bigrams"), col("p_sum"),
          coalesce(col("_l1"), lit(0L)).as("feat_l1"),
          coalesce(col("_nb"), lit(0L)).as("n_feat_buckets"),
          col("score"), col("label"), col("blocked"))
        .orderBy(col("doc_id"))
    }),

    // ---- q121: rebalance to a TARGET language mixture under a token
    //      budget (DoReMi-lite with given shares): per-domain fixed-point
    //      weights from the corpus's own token counts, realized with the
    //      q94 md5 coin. es/fr carry no target share and drop; the weight
    //      table is domain-sized and broadcast. ----
    "q121_mixture_target" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(length(col("text")) > 0)
        .select(col("doc_id"), col("lang"),
          token_count(trim(col("text"))).as("n_tokens"))
      graft.ops.Curation.mixtureToTarget(docs, "doc_id", "lang", "n_tokens",
          Seq(("en", 500L), ("zh", 300L), ("de", 200L)),
          budgetTokens = 20000L, seed = "mixT")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("w_raw_milli"), col("w_milli"), col("copy_no"))
        .orderBy(col("doc_id"), col("copy_no"))
    }),

    // ---- q122: TOKENIZER-AWARE sequence packing — q46's per-shard
    //      prefix-sum packer driven by q115's exact BPE subword counts
    //      instead of the whitespace estimator: bins measured in REAL
    //      tokens under the trained merges. ----
    "q122_pack_subwords" -> ((s, dir) => {
      val segs = graft.ops.Lm.bpeSegmentStats(
          t(s, dir, "documents").where(length(col("text")) > 0),
          "doc_id", "text", Seq(("t", "h"), ("e", "r"), ("o", "n")))
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          col("n_subwords"))
      graft.ops.Curation.packSequences(segs, "shard", "doc_id",
          "n_subwords", 2048L)
        .select(col("doc_id"), col("shard"), col("n_subwords"),
          col("pack_tokens_before"), col("pack_bin"))
        .orderBy(col("doc_id"))
    }),

    // ---- q123: SemDeDup — semantic dedup bounded by embedding clusters.
    //      q20's scaled-copy corpus (every vector + a 1.001x twin) through
    //      the cluster-then-pairwise path: the twin co-clusters with its
    //      original (cosine is scale-invariant) and the only >=0.999 pairs
    //      are the twin pairs, so the output is closed-form checkable and
    //      the oracle replays assignment + pairing + keep policy exactly.
    //      Codebook = the four seed embeddings (bounded driver collect —
    //      the given-codebook contract, same as q124). ----
    "q123_semdedup" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val scaled = vecs.select((col("id") + 100000L).as("id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val seeds = vecs.where(col("id") < 4).orderBy(col("id")).collect()
        .map(_.getSeq[Float](1).toArray)
      graft.ops.Similarity.semDedup(vecs.unionByName(scaled), "id", "embedding",
          seeds, threshold = 0.999)
        .orderBy(col("id"))
    }),

    // ---- q124: product quantization — each 64-dim vector becomes 8
    //      sub-codes against per-subspace codebooks sliced from the same
    //      four seed embeddings; pq_packed is the exact-integer bucket key.
    //      Encoding is a zero-shuffle narrow map (codebooks ride inside
    //      the expression). ----
    "q124_pq_encode" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val seeds = vecs.where(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("vec_id"), col("embedding")).collect()
        .map(_.getSeq[Float](1).toArray)
      val codebooks = Array.tabulate(8)(m => seeds.map(_.slice(m * 8, m * 8 + 8)))
      graft.ops.Similarity.pqEncode(vecs, "vec_id", "embedding", codebooks)
        .select(col("vec_id"),
          array_join(col("pq_code").cast("array<string>"), " ").as("pq_code"),
          col("pq_packed"))
        .orderBy(col("vec_id"))
    }),

    // ---- q125: hybrid retrieval — the BM25 candidate list (exact-integer
    //      scores, q118's statistics) and the ANN candidate list (cosine
    //      to doc 0's embedding) fused with exact-integer reciprocal-rank
    //      fusion. Each list is capped at 100 candidates, so a doc can sit
    //      in one or both lists (n_lists distinguishes). ----
    "q125_rrf_hybrid" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bm = graft.ops.Relevance.bm25QueryScores(
          t(s, dir, "documents"), "doc_id", "text", Seq("merge", "slow"))
        .withColumn("query_id", lit(0L))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("score_fp").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 100)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val vecs = t(s, dir, "embeddings")
      val ann = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 0L),
          vecs, "vec_id", "vec_id", "embedding", "embedding", k = 100)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").cast("long").as("rank"))
      graft.ops.Relevance.rrfFuse(Seq(bm, ann), "query_id", "doc_id", "rank")
        .select(col("query_id"), col("doc_id"), col("n_lists"),
          col("rrf_fp"), col("rank"))
        .orderBy(col("rank"))
    }),

    // ---- q126: blocked edit-distance fuzzy join over part names —
    //      lossless length-bucket blocking (width d+1, explode {b-1,b,b+1}
    //      on one side only, so each pair meets exactly once), thresholded
    //      banded levenshtein verify. ----
    "q126_fuzzy_join" -> ((s, dir) => {
      val parts = t(s, dir, "part").where(col("p_partkey") < 500)
      Dedup.fuzzyPairs(parts, "p_partkey", "p_name", maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- q127: REAL PCM sample decode — RIFF chunk walk + PCM16LE sample
    //      stream to exact integer loudness stats. PCM is lossless, so the
    //      oracle replays the generator's sample function (i*257 mod 32768)
    //      over range() without touching the engine. Mono, stereo, and a
    //      truncated-garbage payload (ok=false channel). ----
    "q127_audio_pcm" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val rows = Seq(
        M.MediaRow(1L, "audio", M.MediaGen.wavBytes(1, 8000, 8000)),
        M.MediaRow(2L, "audio", M.MediaGen.wavBytes(2, 16000, 4000)),
        M.MediaRow(3L, "audio", "RIFFxxxxWAVEgarbage".getBytes("US-ASCII")))
      M.audioPcmStats(rows.toDS()).toDF()
        .select(col("media_id"), col("channels").cast("long").as("channels"),
          col("sample_rate"), col("n_samples"), col("peak_abs"),
          col("sum_abs"), col("sum_sq"), col("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- q128: perceptual dHash over the real decoded raster — integer
    //      box-cell downscale to 9x8, row-difference bits, emitted as two
    //      32-bit halves. PNG is bit-exact, so the oracle recomputes the
    //      full hash closed-form from the generator fill function
    //      ((x*31+y*17) & 0xffffff). A sub-9x8 thumbnail exercises the
    //      ok=false channel. ----
    "q128_image_dhash" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val rows = Seq(
        M.MediaRow(1L, "image", M.MediaGen.pngBytes(64, 64)),
        M.MediaRow(2L, "image", M.MediaGen.pngBytes(65, 64)),
        M.MediaRow(3L, "image", M.MediaGen.pngBytes(17, 9)),
        M.MediaRow(4L, "image", M.MediaGen.pngBytes(8, 6)))
      M.imageDHash(rows.toDS()).toDF()
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("dhash_hi"), col("dhash_lo"), col("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- q129: robust per-language length outliers via MAD — discrete-
    //      quantile median and deviation (actual group elements, integer
    //      arithmetic end to end), the heavy-tail-safe curation gate. ----
    "q129_mad_outliers" -> ((s, dir) => {
      graft.ops.Stats.madOutliers(t(s, dir, "documents"), Seq("lang"),
          "n_chars", k = 2L)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("med"),
          col("abs_dev"), col("mad"), col("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // ---- q130: dataset-card rollup — every prefix granularity of
    //      (lang, source) in ONE aggregate pass (Spark rollup grouping
    //      sets; map-side expansion, one shuffle), grouping()-selected
    //      '(all)' sentinels so null dim values never masquerade as
    //      subtotals. ----
    "q130_dataset_card" -> ((s, dir) => {
      graft.ops.Reporting.datasetCard(t(s, dir, "documents"),
          Seq("lang", "source"), Seq(("n_chars", "sum_chars")))
        .select(col("lang"), col("source"), col("gid").cast("long").as("gid"),
          col("n_rows"), col("sum_chars"))
        .orderBy(col("gid"), col("lang"), col("source"))
    }),

    // ---- q131: largest-remainder crawl-budget apportionment — integer
    //      Hamilton quotas over per-source corpus mass; the allocation
    //      sums EXACTLY to the (prime) budget, remainders break ties to
    //      the smaller key. Host-aggregate-sized input; the corpus pass
    //      is the upstream groupBy. ----
    "q131_crawl_budget" -> ((s, dir) => {
      val hosts = t(s, dir, "documents").groupBy(col("source"))
        .agg(sum(col("n_chars")).as("w"))
      graft.ops.Reporting.apportionBudget(hosts, "source", "w",
          budget = 99991L)
        .select(col("source"), col("w"), col("base"), col("rem"), col("alloc"))
        .orderBy(col("source"))
    }),

    // ---- q132: per-HOST boilerplate line removal — a deterministic
    //      multi-line page corpus (shared nav/footer lines injected per
    //      source, body lines carved from the document text) runs through
    //      the CCNet-style host-template stripper: lines on >= 50% of a
    //      host's pages go, unique body lines stay, original order kept. ----
    "q132_host_boilerplate" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), col("source"),
        concat_ws("\n", lit("nav: home | about | contact"),
          regexp_replace(col("text"), lit(" value "), lit("\n")),
          concat(lit("(c) 2026 "), col("source"))).as("page_text"))
      graft.ops.Curation.stripHostBoilerplate(pages, "doc_id", "source",
          "page_text", fracMilli = 500L, minPages = 2L)
        .select(col("doc_id"), col("source"), col("text_clean"),
          col("n_lines_removed"), col("n_lines_kept"))
        .orderBy(col("doc_id"))
    }),

    // ---- q133: Gopher n-gram repetition signals — most-frequent word
    //      bigram (ties to the smallest, via min over (-cnt, gram) struct
    //      ordering), its char fraction, and the duplicated-bigram char
    //      mass; all fractions single int/int double divisions. ----
    "q133_ngram_repetition" -> ((s, dir) => {
      graft.ops.Curation.ngramRepetition(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    }),

    // ---- q134: k-anonymity release gate — QI = (lang, n_chars mod 499);
    //      groups under k=3 rows get their QI masked to '*', group size
    //      and decision exported for audit. Null-safe join-back so a null
    //      QI combination masks like any other rare group. ----
    "q134_k_anonymize" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("source"), pmod(col("n_chars"), lit(499L)).as("len_b"))
      graft.ops.Reporting.kAnonymize(d, Seq("lang", "len_b"), k = 3L)
        .orderBy(col("doc_id"))
    }),

    // ---- q135: Simpson source-diversity per language — exact int64
    //      parts (n_total, n_dims, sum of squared source counts) plus the
    //      derived concentration / effective-source-count doubles; the
    //      entropy-free diversity metric an external engine reproduces
    //      bit-for-bit. ----
    "q135_diversity" -> ((s, dir) => {
      graft.ops.Reporting.simpsonDiversity(t(s, dir, "documents"),
          "lang", "source")
        .orderBy(col("lang"))
    }),

    // ---- q136: Flesch reading-ease — words/sentences/vowel-group
    //      syllable counts as exact integers, score as fixed-order
    //      row-local double arithmetic. ----
    "q136_readability" -> ((s, dir) => {
      graft.ops.Curation.readability(
          t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"), col("flesch"))
        .orderBy(col("doc_id"))
    }),

    // ---- q137: lexical diversity — exact token/type/hapax counts per doc
    //      plus single-division TTR and hapax fraction. ----
    "q137_lexical_diversity" -> ((s, dir) => {
      graft.ops.Curation.lexicalDiversity(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // ---- q138: encoding-artifact gate — deterministic corpus with
    //      mojibake / U+FFFD / control bytes injected on doc_id residues
    //      (the synthetic text is clean, so the defect is constructed
    //      identically on both sides); counts are exact regexp-run
    //      integers, suspect is a pure int64 threshold compare. ----
    "q138_encoding_artifacts" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7L)) === 0L,
            lit(" Ã©lÃ©gant â€” caffÃ¨ 10Â°")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13L)) === 0L,
            lit(" �lost")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11L)) === 0L,
            lit("\u0001")).otherwise(lit(""))).as("text"))
      graft.ops.Curation.encodingArtifacts(d, "text", perMilli = 5L)
        .select(col("doc_id"), col("n_mojibake"), col("n_replacement"),
          col("n_ctrl"), col("suspect"))
        .orderBy(col("doc_id"))
    }),

    // ---- q139: exact-integer exponentially-decayed rolling sum (EWMA
    //      family) — base-1/2 per revisit step, 8-step tail, int64
    //      fixed-point; the oracle unrolls the same 8 lag terms. Tie-break
    //      on event_id makes the per-user order total. ----
    "q139_decayed_value" -> ((s, dir) => {
      Windows.decayedSum(t(s, dir, "events"), Seq("user_id"), "ts", "value",
          k = 8, scale = 100L, tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("value_decayed"))
        .orderBy(col("event_id"))
    }),

    // ---- q140: Zipf rank-frequency table of the corpus vocabulary —
    //      exact counts, total (freq desc, word) order at the top-N
    //      boundary, rank*freq int64, freq_ratio a single division. ----
    "q140_zipf_table" -> ((s, dir) => {
      graft.ops.Stats.zipfTable(t(s, dir, "documents"), "text", topN = 200)
        .orderBy(col("rank"))
    }),

    // ---- q141: exact-integer HITS over the same deterministic 50-node
    //      link graph as q74 — per-iteration max-rescale keeps everything
    //      int64; the oracle unrolls 3 synchronous iterations. ----
    "q141_hits" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 1) % 50).as("dst"))
      val e2 = d.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 3 + 2) % 50).as("dst"))
      graft.ops.Graph.hitsInt(e1.unionByName(e2), "src", "dst", iters = 3)
        .orderBy(col("node"))
    }),

    // ---- q142: DLT priority sampling — weighted (by n_chars) top-k with
    //      a deterministic md5-derived 60-bit uniform and integer-division
    //      priorities; no float pow whose ulp could flip the boundary. ----
    "q142_priority_sample" -> ((s, dir) => {
      graft.ops.Curation.prioritySample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 100)
        .orderBy(col("doc_id"))
    }),

    // ---- q143: schema-on-read JSON sidecar ingestion — from_json over the
    //      events props column with an explicit DDL schema (the Spark-native
    //      path; no UDF, codegen'd JsonToStructs), then an exact-count
    //      histogram by (event_type, k). ----
    "q143_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"), col("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("k"))
    }),

    // ---- q144: bucketed RANGE JOIN — 120 deterministic integer bands
    //      (some overlapping), probe values from doc_id arithmetic; the
    //      engine equi-joins on buckets + residual BETWEEN, the oracle is
    //      the plain theta-join. All integers. ----
    "q144_range_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val iv = d.select((col("doc_id") % 120).as("iv_id")).distinct()
        .withColumn("lo", col("iv_id") * 40)
        .withColumn("hi", col("iv_id") * 40 + (col("iv_id") % 3) * 25 + 30)
      val probe = d.select(col("doc_id"), ((col("doc_id") * 13) % 5000).as("v"))
      graft.ops.RangeJoin.bucketed(probe, iv, "v", "lo", "hi",
          bucketWidth = 32)
        .select(col("doc_id"), col("v"), col("iv_id"), col("lo"), col("hi"))
        .orderBy(col("doc_id"), col("iv_id"))
    }),

    // ---- q145: exact triangle counts + local clustering coefficient over
    //      a deterministic 40-node undirected graph — integer parts plus
    //      one double division per row. ----
    "q145_triangles" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 40).as("src"),
        ((col("doc_id") * 7 + 1) % 40).as("dst"))
      val e2 = d.select((col("doc_id") % 40).as("src"),
        ((col("doc_id") * 11 + 3) % 40).as("dst"))
      graft.ops.Graph.triangleStats(e1.unionByName(e2), "src", "dst")
        .orderBy(col("node"))
    }),

    // ---- q146: percentile-rank normalization of doc length per language
    //      — row_number with doc_id tie-break (total order), pct = rank/n
    //      single division. ----
    "q146_percentile_rank" -> ((s, dir) => {
      graft.ops.Stats.percentileRank(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), "n_chars", tieBreak = Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rank"),
          col("n"), col("pct_rank"))
        .orderBy(col("doc_id"))
    }),

    // ---- q147: ordered funnel view -> click -> purchase over the event
    //      log — greedy earliest-reach (== SQL chained min(ts) WHERE
    //      ts > prev), strict ordering; integer user counts plus two
    //      single divisions per step. ----
    "q147_funnel" -> ((s, dir) => {
      graft.ops.Behavior.funnelReach(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy(col("step_no"))
    }),

    // ---- q148: weekly cohort retention — cohort = Monday-start week of
    //      the user's first event; distinct-(user, week) activity. ----
    "q148_cohort_retention" -> ((s, dir) => {
      graft.ops.Behavior.cohortRetention(t(s, dir, "events"), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // ---- q149: first-order Markov transition matrix of event types within
    //      each user's (ts, event_id)-ordered stream. ----
    "q149_transitions" -> ((s, dir) => {
      graft.ops.Behavior.transitionMatrix(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type")
        .orderBy(col("from_type"), col("to_type"))
    }),

    // ---- q150: declarative data-quality gate — every metric an exact
    //      int/int division or an exact min cast, so the doubles reproduce
    //      bit-for-bit in any engine. ----
    "q150_constraints" -> ((s, dir) => {
      val langs = Seq("en", "de", "fr", "es", "zh")
      graft.ops.Reporting.constraintReport(t(s, dir, "documents"), Seq(
        ("text_complete",
          count(col("text")).cast("double") / count(lit(1)),
          (m: org.apache.spark.sql.Column) => m === 1.0),
        ("doc_id_unique",
          count_distinct(col("doc_id")).cast("double") / count(lit(1)),
          (m: org.apache.spark.sql.Column) => m === 1.0),
        ("n_chars_min", min(col("n_chars")).cast("double"),
          (m: org.apache.spark.sql.Column) => m >= 1.0),
        ("lang_domain",
          sum(col("lang").isin(langs.map(lit): _*).cast("long")).cast("double") /
            count(lit(1)),
          (m: org.apache.spark.sql.Column) => m === 1.0)))
    }),

    // ---- q151: salted shuffle join == plain equi-join (the oracle IS the
    //      plain join) — probe salt from doc_id, build side replicated
    //      across 8 salt buckets. ----
    "q151_salted_join" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val build = d.groupBy(col("lang")).agg(count(lit(1)).as("lang_docs"))
      graft.ops.Skew.saltedJoin(d.select(col("doc_id"), col("lang")), build,
          Seq("lang"), "doc_id", salt = 8)
        .select(col("doc_id"), col("lang"), col("lang_docs"))
        .orderBy(col("doc_id"))
    }),

    // ---- q152: exact contingency table source x lang with an explicit,
    //      deterministic column set. ----
    "q152_crosstab" -> ((s, dir) => {
      graft.ops.Reporting.crosstab(t(s, dir, "documents"), "source", "lang",
          Seq("de", "en", "es", "fr", "zh"))
        .orderBy(col("source"))
    }),

    // ---- q153: mergeable log2-histogram quantile sketch — p50/p90/p99 of
    //      n_chars per language plus a '*' row whose sketch is the MERGE of
    //      the per-language sketches (coarser rollups without rescanning
    //      data — the quantile member of the q87/q89/q90 sketch family).
    //      The bucket grammar (s=5 sub-bucket bits) and the permille rank
    //      targets are pure integer arithmetic, so the oracle replays every
    //      bucket index and the cumulative rank walk exactly. ----
    "q153_quantile_sketch" -> ((s, dir) => {
      val sketches = t(s, dir, "documents").groupBy(col("lang"))
        .agg(qsketch_agg(col("n_chars"), 5).as("_sk"))
      val star = sketches.agg(qsketch_merge(col("_sk")).as("_sk"))
        .select(lit("*").as("lang"), col("_sk"))
      sketches.unionByName(star)
        .select(col("lang"), qsketch_count(col("_sk")).as("n_values"),
          qsketch_quantile(col("_sk"), lit(500)).as("p50"),
          qsketch_quantile(col("_sk"), lit(900)).as("p90"),
          qsketch_quantile(col("_sk"), lit(990)).as("p99"))
        .orderBy(col("lang"))
    }),

    // ---- q154: Z-order layout key — events keyed by the Morton interleave
    //      of (user_id mod 1024, crawl-day mod 512), then bucketed into
    //      2^10-wide z-ranges (the file-assignment rule of a zorder-written
    //      table). Per-bucket min/max of BOTH dimensions is the
    //      data-skipping index the layout exists for: every bucket's a-span
    //      and b-span are <= 32 (5 low bits of each dimension per z-range),
    //      so scans filtered on either dimension prune buckets. The
    //      interleave is fully codegen'd (doGenCode, no CodegenFallback)
    //      and the oracle replays it as pow2 arithmetic. ----
    "q154_zorder_layout" -> ((s, dir) => {
      val e = t(s, dir, "events").selectExpr(
        "user_id % 1024 AS a",
        // ts is TIMESTAMP_NTZ; the session timezone is pinned UTC, so the
        // cast is the identity epoch mapping and matches DuckDB's epoch_ms
        "(unix_millis(cast(ts AS timestamp)) div 86400000) % 512 AS b")
      e.select(col("a"), col("b"), zorder_key(col("a"), col("b")).as("zkey"))
        .groupBy(shiftright(col("zkey"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("a")).as("a_min"), max(col("a")).as("a_max"),
          min(col("b")).as("b_min"), max(col("b")).as("b_max"))
        .orderBy(col("bucket"))
    }),

    // ---- q155: exact-integer classifier evaluation — Mann-Whitney AUC
    //      with tie handling plus fixed-width calibration bins over a
    //      deterministic scored/labelled corpus (scores deliberately
    //      coarse so tied groups dominate and the averaged-rank path is
    //      what's being verified). Every output is an integer or a PPM
    //      ratio of exact integers. ----
    "q155_classifier_eval" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        ((col("n_chars") % 40) +
          when(col("doc_id") % 3 === 0, 15).otherwise(0)).as("score"),
        (col("doc_id") % 3 === 0).cast("int").as("label"))
      graft.ops.Stats.binaryEval(d, "score", "label", binWidth = 10)
        .orderBy(col("bin"))
    }),

    // ---- q156: the quantile sketch as STRUCTURED STREAMING STATE — per-
    //      UTC-day p50/p90/p99 of event value (quantized to cents:
    //      floor(value*100) is the same IEEE double op in every engine)
    //      where the counter buffer lives in the state store and merges
    //      across four micro-batches. The streaming dual of q153, as q95
    //      is of q87. ----
    "q156_stream_quantile_sketch" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // collect() is the REPLAY HARNESS (builds the MemoryStream feed) —
      // windowedQuantileSketch consumes any unbounded source
      val rows = t(s, dir, "events")
        .selectExpr("cast(floor(value * 100) AS long) AS v",
          "cast(ts AS timestamp) AS ts")
        .orderBy(col("ts"), col("v"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)))
      val mem = MemoryStream[(Long, java.sql.Timestamp)](
        org.apache.spark.sql.Encoders.product[(Long, java.sql.Timestamp)],
        s.sqlContext)
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach(b => mem.addData(b.toSeq))
      val agg = graft.streaming.Streaming.windowedQuantileSketch(
        mem.toDF().toDF("v", "ts"), "ts", "v", "1 day", subBucketBits = 5,
        watermarkDelay = None)
      val sink = "q156_qsk_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val query = agg.writeStream.format("memory").queryName(sink)
          .outputMode("complete").start()
        try query.processAllAvailable() finally query.stop()
      }
      val sinkDf = s.table(sink)
      val result = s.createDataFrame(
        java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema)
      s.catalog.dropTempView(sink)
      result.orderBy(col("window_start"))
    }),

    // ---- q157: last-touch attribution — each purchase attributed to the
    //      user's most recent click within 6 hours, in ONE window pass
    //      (running latest-touch via last(...ignoreNulls) over a ROWS
    //      frame) instead of the quadratic inequality self-join; epoch-ms
    //      integers throughout. ----
    "q157_last_touch" -> ((s, dir) => {
      graft.ops.Behavior.lastTouch(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type",
          touchType = "click", convType = "purchase",
          maxGapMs = 6L * 3600 * 1000)
        .orderBy(col("event_id"))
    }),

    // ---- q158: trailing-window burst detection — per (event_type, day)
    //      counts flagged against 7x the trailing 7-day baseline by
    //      cross-multiplied integers (no float mean), empty baseline
    //      bursts iff active. ----
    "q158_burst_days" -> ((s, dir) => {
      graft.ops.Behavior.burstDays(t(s, dir, "events"),
          "event_type", "ts", baselineDays = 7, factor = 2)
        .orderBy(col("key"), col("day"))
    }),

    // ---- exact Jaccard pairs via LOSSLESS prefix filtering (SSJoin) —
    //      same predicate as q37 but the index holds only canonical-order
    //      prefixes (rare shingles), no df cap to tune; threshold 0.6
    //      exercises the longer-prefix regime ----
    "q159_prefix_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id").as("id"), col("text"))
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      Dedup.prefixJaccardPairs(docs.unionByName(mutated), "id", "text",
        n = 3, threshold = 0.6)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- one-row key-skew diagnostic (exact Gini from the count-of-counts
    //      histogram — the oracle derives the same number via the naive
    //      per-key rank formula, an independent derivation) ----
    "q160_skew_report" -> ((s, dir) =>
      graft.ops.Skew.skewReport(t(s, dir, "events"), Seq("event_type"))),

    // ---- PSI drift monitor between two corpus snapshots (even/odd doc_id
    //      halves as the two "crawl days"; lang as the monitored mix) ----
    "q161_psi_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Diff.psiDrift(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), "lang")
        .orderBy(col("category"))
    }),

    // ---- sorted-neighborhood candidate pairs over (text-prefix, doc_id)
    //      order: window 4 positions, global rank built from range
    //      partitions + offsets (never a single-partition window) ----
    "q162_sorted_neighbors" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 20).as("blk"))
      Dedup.sortedNeighborPairs(docs, "doc_id", "blk", window = 4)
        .orderBy(col("rank_a"), col("rank_b"))
    }),

    // ---- OLAP CUBE rollup: crawl volume by (event_type, day) at all four
    //      aggregation levels in one pass; gid derived from the rolled-up
    //      NULLs (columns are never null in data, so it's unambiguous and
    //      engine-agnostic) ----
    "q163_volume_cube" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("unix_millis(cast(ts as timestamp)) div 86400000").as("day"),
        col("user_id"))
      ev.cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("users"))
        .withColumn("gid",
          (col("event_type").isNull.cast("int") * 2 +
            col("day").isNull.cast("int")).cast("bigint"))
        .orderBy(col("gid"), col("event_type"), col("day"))
    }),

    // ---- directional association rules over (user, event_type) baskets:
    //      exact integer counts, ratios as single double divisions ----
    "q164_assoc_rules" -> ((s, dir) =>
      graft.ops.Behavior.associationRules(
          t(s, dir, "events"), "user_id", "event_type")
        .orderBy(col("antecedent"), col("consequent"))),

    // ---- Kendall-tau ranking churn between the even-day and odd-day
    //      top-20 user rankings (exact concordant/discordant integers) ----
    "q165_rank_churn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("unix_millis(cast(ts as timestamp)) div 86400000").as("day"))
      def top20(half: Column => Column): DataFrame =
        ev.where(half(col("day"))).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("n").desc, col("user_id"))))
          .where(col("rnk") <= 20).select(col("user_id"), col("rnk"))
      graft.ops.Stats.kendallTau(
        top20(d => d % 2 === 0), top20(d => d % 2 === 1), "user_id", "rnk")
    }),

    // ---- weekly-rhythm detector: lag-7 autocorrelation of daily counts
    //      per event_type (all Pearson sums exact bigints) ----
    "q166_lag_autocorr" -> ((s, dir) =>
      graft.ops.Stats.lagAutocorr(t(s, dir, "events"), "event_type", "ts", 7)
        .orderBy(col("key"))),

    // ---- volume-trend detector: per event_type OLS slope of daily counts
    //      (day rebased to the key's first day; all sums exact bigints) ----
    "q167_linear_trend" -> ((s, dir) =>
      graft.ops.Stats.linearTrend(t(s, dir, "events"), "event_type", "ts")
        .orderBy(col("key"))),

    // ---- chi-squared independence: event mix vs weekday over the full
    //      R x C grid, fold-ordered total + dof ----
    "q168_chi2_weekday" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        (expr("unix_millis(cast(ts as timestamp)) div 86400000") % 7).as("dow"))
      graft.ops.Stats.chiSquared(ev, "event_type", "dow")
        .orderBy(col("row_cat"), col("col_cat"))
    }),

    // ---- crawl depth from seed nodes: multi-source BFS over the q74 link
    //      graph, frontier-expansion rounds (first discovery = shortest) ----
    "q169_bfs_depth" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val edges = d.select((col("doc_id") % 50).as("src"),
          ((col("doc_id") * 7 + 1) % 50).as("dst"))
        .unionByName(d.select((col("doc_id") % 50).as("src"),
          ((col("doc_id") * 3 + 2) % 50).as("dst")))
      val seeds = s.createDataFrame(Seq(Tuple1(0L), Tuple1(1L))).toDF("node")
      graft.ops.Graph.bfsDepth(edges, "src", "dst", seeds, "node", maxDepth = 6)
        .orderBy(col("node"))
    }),

    // ---- exact heavy hitters in two passes (per-partition Misra-Gries
    //      candidates + exact verify); output = plain HAVING n >= 200 ----
    "q170_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .where(col("tok") =!= "")
      graft.ops.Stats.frequentItems(toks, "tok", minCount = 200L, summaryK = 64)
        .orderBy(col("value"))
    }),

    // ---- stream-static enrichment: per-micro-batch broadcast left join
    //      against a static severity dimension; 'error' is deliberately
    //      missing from the dimension (NULL passthrough, rows never drop) ----
    "q171_stream_enrich" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // collect() is the REPLAY HARNESS (builds the MemoryStream feed),
      // not part of the operator — production points readStream here
      val rows = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val mem = MemoryStream[(Long, Long, String)](
        org.apache.spark.sql.Encoders.product[(Long, Long, String)],
        s.sqlContext)
      rows.grouped(math.max(1, rows.length / 4 + 1)).foreach(b => mem.addData(b.toSeq))
      val dim = s.createDataFrame(Seq(
          ("click", 1L), ("view", 2L), ("signup", 3L), ("purchase", 4L)))
        .toDF("event_type", "severity")
      val enriched = graft.streaming.Streaming.enrichStatic(
        mem.toDF().toDF("event_id", "user_id", "event_type"),
        dim, Seq("event_type"))
      val sink = "q171_enrich_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val query = enriched.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try query.processAllAvailable() finally query.stop()
      }
      val sinkDf = s.table(sink)
      val result = s.createDataFrame(
        java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema)
      s.catalog.dropTempView(sink)
      result.orderBy(col("event_id"))
    }),

    // ---- exact trailing 7-day active users per observed day, via
    //      contribution explosion (fanout 7) over distinct (user, day) ----
    "q172_sliding_distinct" -> ((s, dir) =>
      graft.ops.Behavior.slidingDistinct(t(s, dir, "events"), "ts", "user_id", 7)
        .orderBy(col("day"))),

    // ---- feature-redundancy screen: exact Pearson matrix over per-user
    //      event-type count features (all moments exact bigints, one pass) ----
    "q173_corr_matrix" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map(tp =>
        sum(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"n_$tp"))
      val perUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(aggs.head, aggs.tail: _*)
      graft.ops.Stats.corrMatrix(perUser, types.map("n_" + _))
        .orderBy(col("col_a"), col("col_b"))
    }),

    // ---- epsilon-DP published counts with SEEDED (replayable) Laplace
    //      noise: u from a 32-bit md5 rank, one ln() per key ----
    "q174_dp_counts" -> ((s, dir) =>
      graft.ops.Reporting.dpCounts(t(s, dir, "events"), Seq("event_type"),
          epsNum = 1L, epsDen = 1L, seed = "dp2026")
        .orderBy(col("event_type"))),

    // ---- tokenizer-vocabulary sizing: exact token-mass coverage at
    //      candidate vocab sizes (TakeOrdered top-k, never a full sort) ----
    "q175_vocab_coverage" -> ((s, dir) =>
      graft.ops.Lm.vocabCoverage(t(s, dir, "documents"), "text", Seq(4, 16, 64))
        .orderBy(col("vocab_size"))),

    // ---- did mean doc length move between en and de? Welch's unequal-
    //      variance t from six exact bigints in one pass ----
    "q176_welch_ttest" -> ((s, dir) =>
      graft.ops.Stats.welchTest(t(s, dir, "documents"), "lang", "n_chars",
        "en", "de")),

    // ---- IR ranking metrics per query (lang): the EXACT dyadic columns
    //      (RBP p=1/2, reciprocal rank, P@k) — nDCG stays JVM-internal
    //      (StrictMath ln is 1 ulp off libm; see Relevance scaladoc) ----
    "q177_ranking_metrics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val run = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
        .where(col("rank") <= 10)
        .withColumn("rel", col("doc_id") % 3)
      graft.ops.Relevance.rankingMetrics(run, "lang", "rank", "rel", k = 10)
        .select(col("query"), col("rbp"), col("rr"), col("p_at_k"))
        .orderBy(col("query"))
    }),

    // ---- exact join-size preflight: per-key n_l*n_r products over the
    //      two key aggregates, top contributors + '*' total ----
    "q178_join_preflight" -> ((s, dir) =>
      graft.ops.Skew.joinSizeEstimate(
          t(s, dir, "events").select((col("user_id") % 100).as("k")),
          t(s, dir, "documents").select((col("doc_id") % 150).as("k")),
          "k", topN = 5)
        .orderBy(col("pairs").desc, col("key"))),

    // ---- robust doc-length mean per language: clamp at the exact
    //      discrete [p25, p75] group quantiles, then one division ----
    "q179_winsorized_mean" -> ((s, dir) =>
      graft.ops.Stats.winsorizedMean(t(s, dir, "documents"), Seq("lang"),
          "n_chars", 0.25, 0.75)
        .orderBy(col("lang"))),

    // ---- membership churn between the even/odd-day top-20 user sets
    //      (the order-blind companion to q165's Kendall tau) ----
    "q180_topk_churn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("unix_millis(cast(ts as timestamp)) div 86400000").as("day"))
      def top20(half: Column => Column): DataFrame =
        ev.where(half(col("day"))).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("n").desc, col("user_id"))))
          .where(col("rnk") <= 20).select(col("user_id"))
      graft.ops.Diff.topkChurn(
        top20(d => d % 2 === 0), top20(d => d % 2 === 1), "user_id")
    }),

    // ---- inter-event gap distribution per user: exact ms gaps bucketed
    //      by floor(log2) via length(bin(gap))-1, no libm ----
    "q181_gap_histogram" -> ((s, dir) =>
      graft.ops.Behavior.gapHistogram(t(s, dir, "events"), "user_id", "ts",
          "event_id")
        .orderBy(col("log2_bucket"))),

    // ---- classifier eval on hard labels: per-class P/R/F1 from a
    //      deterministic corrupted-lang predictor (q155's AUC companion) ----
    "q182_classification_report" -> ((s, dir) =>
      graft.ops.Stats.classificationReport(
          t(s, dir, "documents").select(col("lang").as("y"), predLang.as("p")),
          "y", "p")
        .orderBy(col("clazz"))),

    // ---- Cohen's kappa for the same predictor: chance-corrected
    //      agreement in exact bigints until the final divisions ----
    "q183_agreement" -> ((s, dir) =>
      graft.ops.Stats.agreementStats(
        t(s, dir, "documents").select(col("lang").as("y"), predLang.as("p")),
        "y", "p")),

    // ---- exact per-column profile of the documents table (int/string
    //      columns only — float min/max text is not engine-portable) ----
    "q184_column_profile" -> ((s, dir) =>
      graft.ops.Reporting.columnProfile(t(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column"))),

    // ---- k-core of the q74-style residue link graph: simultaneous-peel
    //      rounds are deterministic, so the oracle unrolls the same peels ----
    "q185_kcore" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // sparse residue periphery (deg ~4) + dense circulant C24(1,2,3)
      // core: at k=5 the periphery cascades away over two rounds
      val e1 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 7 + 1) % 60).as("dst"))
      val e2 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 3 + 2) % 60).as("dst"))
      val core = Seq(1, 2, 3).map(o => d.select((col("doc_id") % 24).as("src"),
        ((col("doc_id") % 24 + o) % 24).as("dst")))
      graft.ops.Graph.kCore(core.foldLeft(e1.unionByName(e2))(_ unionByName _),
          "src", "dst", k = 5, maxRounds = 16)
        .orderBy(col("node"))
    }),

    // ---- bucketed interval-overlap join (sessions-vs-outages shape):
    //      equi-join on covering buckets, pair emitted once at the bucket
    //      of max(lo_a, lo_b) ----
    "q186_interval_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val as = d.where(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("a_id"),
          ((col("doc_id") * 13) % 1000).as("a_lo"),
          ((col("doc_id") * 13) % 1000 + col("doc_id") % 37).as("a_hi"))
      val bs = d.where(col("doc_id") % 25 === 7)
        .select(col("doc_id").as("b_id"),
          ((col("doc_id") * 29) % 1000).as("b_lo"),
          ((col("doc_id") * 29) % 1000 + col("doc_id") % 23).as("b_hi"))
      graft.ops.RangeJoin.overlap(as, bs, "a_lo", "a_hi", "b_lo", "b_hi",
          bucketWidth = 32)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // ---- exact longest-repeated-substring length (suffix-sort max-LCP,
    //      capped at 200 code points) — the long-block repetition signal ----
    "q187_longest_repeat" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.longest_repeat_len(col("text"), 200)
            .as("repeat_len"))
        .orderBy(col("doc_id"))),

    // ---- GIF/BMP header decode through the batched media pipeline:
    //      hand-built container bytes, closed-form oracle ----
    "q188_media_dims" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      def gif(ver: Char, w: Int, h: Int): Array[Byte] =
        s"GIF8${ver}a".getBytes("US-ASCII") ++ Array[Byte](
          (w & 255).toByte, (w >> 8).toByte, (h & 255).toByte, (h >> 8).toByte,
          0, 0, 0)
      def bmp(w: Int, h: Int, bpp: Int): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(30)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(30).putInt(0).putInt(26)
        bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(bpp.toShort)
        bb.array()
      }
      val rows = Seq(
        M.MediaRow(1L, "image", gif('9', 320, 200)),
        M.MediaRow(2L, "image", gif('7', 12, 7)),
        M.MediaRow(3L, "image", bmp(64, 48, 24)),
        M.MediaRow(4L, "image", bmp(9, -4, 32)), // top-down rows: |height|
        M.MediaRow(5L, "image", gif('9', 0, 3))) // corrupt: zero width
      M.decode(rows.toDS()).toDF()
        .select(col("media_id"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"), col("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- gaps-and-islands interval coalescing: event windows
    //      [ts, ts + (event_id%7) minutes] merged per user bucket ----
    "q189_merge_intervals" -> ((s, dir) => {
      val iv = t(s, dir, "events").select(
        (col("user_id") % 20).as("k"),
        expr("unix_millis(cast(ts as timestamp))").as("s0"),
        (expr("unix_millis(cast(ts as timestamp))") +
          (col("event_id") % 7) * 60000L).as("e0"))
      graft.temporal.Windows.mergeIntervals(iv, Seq("k"), "s0", "e0")
        .orderBy(col("k"), col("interval_start"))
    }),

    // ---- CDC MERGE INTO: latest-seq changelog row wins, deletes drop ----
    "q190_apply_changelog" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.select(col("doc_id"), col("source"), col("n_chars"))
      val c1 = d.where(col("doc_id") % 5 === 0).select(col("doc_id"),
        lit(1L).as("seq"), lit("upsert").as("op"), col("source"),
        (col("n_chars") + 1000).as("n_chars"))
      val c2 = d.where(col("doc_id") % 5 === 0).select(col("doc_id"),
        lit(2L).as("seq"),
        when(col("doc_id") % 3 === 0, lit("delete")).otherwise(lit("upsert"))
          .as("op"),
        col("source"), (col("n_chars") + 2000).as("n_chars"))
      graft.ops.Diff.applyChangelog(base, c1.unionByName(c2), "doc_id",
          "seq", "op")
        .orderBy(col("doc_id"))
    }),

    // ---- tie-aware Spearman: doubled integer ranks, exact decimal sums ----
    "q191_spearman" -> ((s, dir) =>
      graft.ops.Stats.spearman(
        t(s, dir, "documents").select(col("n_chars").as("x"),
          (col("n_chars") + col("doc_id") % 100).as("y")),
        "x", "y")),

    // ---- stream-STREAM join within ±900 s (impression-to-click shape):
    //      two MemoryStream replays, inner join, bounded state ----
    "q192_stream_join" -> ((s, dir) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp"), col("event_id"))
        .orderBy(col("ts")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      def feed(parity: Int): DataFrame = {
        val rows = ev.filter(_._3 % 2 == parity)
        val mem = MemoryStream[(Long, java.sql.Timestamp, Long)](
          org.apache.spark.sql.Encoders.product[(Long, java.sql.Timestamp, Long)],
          s.sqlContext)
        rows.grouped(math.max(1, rows.length / 4 + 1)).foreach(b => mem.addData(b.toSeq))
        mem.toDF()
      }
      val joined = graft.streaming.Streaming.joinWithin(
        feed(0).toDF("k", "lts", "lid"), feed(1).toDF("k", "rts", "rid"),
        Seq("k"), "lts", "rts", withinSeconds = 900L)
      val sink = "q192_ssj_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withShufflePartitions(s, 8) {
        val query = joined.writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try query.processAllAvailable() finally query.stop()
      }
      val sinkDf = s.table(sink)
      val result = s.createDataFrame(
        java.util.Arrays.asList(sinkDf.collect(): _*), sinkDf.schema)
      s.catalog.dropTempView(sink)
      result.select(col("k"), col("lid"), col("rid"))
        .orderBy(col("k"), col("lid"), col("rid"))
    }),

    // ---- byte-weighted exact discrete quantiles (a giant page counts
    //      by its size, not its row) ----
    "q193_weighted_quantiles" -> ((s, dir) =>
      graft.ops.Stats.weightedQuantilesDisc(t(s, dir, "documents"),
          Seq("lang"), "n_chars", "n_chars", Seq(0.25, 0.5, 0.75))
        .orderBy(col("lang"), col("q"))),

    // ---- degree assortativity of the q185 link graph (one-row shape
    //      diagnostic, exact HUGEINT moments) ----
    "q194_assortativity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 7 + 1) % 60).as("dst"))
      val e2 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 3 + 2) % 60).as("dst"))
      val core = Seq(1, 2, 3).map(o => d.select((col("doc_id") % 24).as("src"),
        ((col("doc_id") % 24 + o) % 24).as("dst")))
      graft.ops.Graph.assortativity(
        core.foldLeft(e1.unionByName(e2))(_ unionByName _), "src", "dst")
    }),

    // ---- Unicode-script mix: deterministic non-Latin suffixes splice
    //      Cyrillic/Han fragments into the corpus ----
    "q195_script_mix" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" мир"))
            .when(col("doc_id") % 4 === 1, lit(" 中文"))
            .otherwise(lit(""))).as("text"))
      graft.ops.Curation.scriptMix(d, "text")
        .select(col("doc_id"), col("n_latin"), col("n_digit"),
          col("n_cyrillic"), col("n_han"), col("mixed_latin_cyrillic"))
        .orderBy(col("doc_id"))
    }),

    // ---- Bloom-prefiltered semi-join == exact semi-join (runtime-filter
    //      pattern; the tiny filter forces real false-positive scrubbing) ----
    "q196_bloom_semi" -> ((s, dir) => {
      val probe = t(s, dir, "events").select(col("event_id"), col("user_id"))
      val build = t(s, dir, "documents")
        .where(col("doc_id") % 3 === 0 && col("doc_id") < 150)
        .select(col("doc_id").as("user_id"))
      graft.ops.Skew.bloomSemiJoin(probe, build, "user_id",
          mBits = 256, k = 3)
        .orderBy(col("event_id"))
    }),

    // ---- NEAREST-snapshot join (either direction, tie to backward):
    //      events paired with the closest synthetic crawl snapshot ----
    "q197_nearest_join" -> ((s, dir) => {
      val build = t(s, dir, "documents").select(
        (col("doc_id") % 150).as("user_id"),
        timestamp_micros(lit(1704412800000000L) + col("doc_id") * 37000000L)
          .as("ts_b"),
        col("n_chars"))
      val probe = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts").cast("timestamp"))
      graft.temporal.AsOfJoin.nearest(probe, build, Seq("user_id"),
          "ts", "ts_b")
        .select(col("event_id"), col("n_chars"),
          unix_micros(col("ts_b")).as("b_us"), col("_asof_matched"))
        .orderBy(col("event_id"))
    }),

    // ---- reciprocity of the directed residue link graph ----
    "q198_reciprocity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 7 + 1) % 60).as("dst"))
      val e2 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 3 + 2) % 60).as("dst"))
      graft.ops.Graph.reciprocity(e1.unionByName(e2), "src", "dst")
    }),

    // ---- deterministic Poisson-bootstrap CI for mean doc length ----
    "q199_bootstrap_ci" -> ((s, dir) =>
      graft.ops.Stats.bootstrapMeanCI(t(s, dir, "documents"), "doc_id",
        "n_chars", b = 32, seed = "g1", loQ = 0.125, hiQ = 0.875)),

    // ---- exact CUSUM drift detector (prefix-sum identity, no recursion) ----
    "q200_cusum" -> ((s, dir) =>
      graft.ops.Stats.cusum(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 20).as("x")),
        Seq("user_id"), "ts", "x", target = 9L, slack = 1L, threshold = 15L,
        tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("x"), col("cusum"),
          col("cusum_alarm"))
        .orderBy(col("event_id"))),

    // ---- schema drift report (pure metadata, zero scans) ----
    "q201_schema_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val next = d.withColumn("n_chars", col("n_chars").cast("int"))
        .drop("source").withColumn("fetched", lit(true))
      graft.ops.Diff.schemaDiff(d, next).orderBy(col("column"))
    }),

    // ---- decision-stump feature ranking: exact Gini at quartile splits ----
    "q202_gini_splits" -> ((s, dir) =>
      graft.ops.Stats.giniSplits(
        t(s, dir, "documents").select(col("lang").as("y"), col("n_chars"),
          (col("doc_id") % 16).as("f2")),
        "y", Seq("n_chars", "f2"), Seq(0.25, 0.5, 0.75))
        .orderBy(col("feature"), col("q"))),

    // ---- JPEG EXIF orientation (real APP1/TIFF walk, II + MM orders) ----
    "q203_exif_orientation" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val rows = Seq(
        M.MediaRow(1L, "image", M.MediaGen.jpegExifBytes(1)),
        M.MediaRow(2L, "image", M.MediaGen.jpegExifBytes(3, littleEndian = false)),
        M.MediaRow(3L, "image", M.MediaGen.jpegExifBytes(6)),
        M.MediaRow(4L, "image", M.MediaGen.jpegExifBytes(8, littleEndian = false)),
        M.MediaRow(5L, "image", M.MediaGen.jpegBytes(4, 4)), // no EXIF
        M.MediaRow(6L, "image", M.MediaGen.pngBytes(4, 4)))  // not a jpeg
      M.exifOrientations(rows.toDS())
        .select(col("media_id"), col("orientation").cast("long").as("orientation"))
        .orderBy(col("media_id"))
    }),

    // ---- PERMISSIVE CSV ingestion with a quarantine channel: the
    //      %11 rows carry a type-poisoned int field ----
    "q204_csv_quarantine" -> ((s, dir) => {
      val lines = t(s, dir, "documents").select(col("doc_id"),
        concat(col("doc_id").cast("string"), lit(","), col("lang"), lit(","),
          when(col("doc_id") % 11 === 0, lit("x"))
            .otherwise(col("n_chars").cast("string"))).as("line"))
      graft.ops.Curation.csvQuarantine(lines, "line",
          "id LONG, lang STRING, n INT")
        .select(col("doc_id"), col("id"), col("n"), col("quarantined"))
        .orderBy(col("doc_id"))
    }),

    // ---- RFM quartile segmentation over the event log ----
    "q205_rfm" -> ((s, dir) =>
      graft.ops.Behavior.rfmScores(t(s, dir, "events"), "user_id", "ts",
          "value")
        .orderBy(col("entity"))),

    // ---- Mann-Kendall drift test over per-type daily volumes ----
    "q206_mann_kendall" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_millis(cast(ts as timestamp)) div 86400000").as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.ops.Stats.mannKendall(daily, Seq("event_type"), "day", "n_events")
        .orderBy(col("event_type"))
    }),

    // ---- time-weighted mean of a step series (event_id%10 as state) ----
    "q207_time_weighted" -> ((s, dir) =>
      graft.temporal.Windows.timeWeightedMean(
        t(s, dir, "events").select(col("user_id"), col("ts"), col("event_id"),
          (col("event_id") % 10).as("state")),
        Seq("user_id"), "ts", "state", tieBreak = Seq("event_id"))
        .orderBy(col("user_id"))),

    // ---- WebP header decode: all three chunk grammars + alpha flag ----
    "q208_webp_dims" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val rows = Seq(
        M.MediaRow(1L, "image", M.MediaGen.webpBytes("VP8X", 800, 600)),
        M.MediaRow(2L, "image", M.MediaGen.webpBytes("VP8X", 16384, 2, alpha = true)),
        M.MediaRow(3L, "image", M.MediaGen.webpBytes("VP8L", 123, 45)),
        M.MediaRow(4L, "image", M.MediaGen.webpBytes("VP8 ", 320, 240)),
        M.MediaRow(5L, "image", {
          val b = M.MediaGen.webpBytes("VP8L", 9, 9); b(20) = 0; b })) // corrupt
      M.decode(rows.toDS()).toDF()
        .select(col("media_id"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"), col("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- Benford first-digit audit of doc lengths ----
    "q209_benford" -> ((s, dir) =>
      graft.ops.Stats.benfordReport(t(s, dir, "documents"), "n_chars")
        .orderBy(col("digit"))),

    // ---- Theil-Sen robust slope over the q206 daily series ----
    "q210_theil_sen" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_millis(cast(ts as timestamp)) div 86400000").as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.ops.Stats.theilSen(daily, Seq("event_type"), "day", "n_events")
        .orderBy(col("event_type"))
    }),

    // ---- chi-square term keyness between the even/odd-doc corpora ----
    "q211_keyness" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Stats.chiSquareKeyness(
          d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 === 1),
          "text", minCount = 5L)
        .orderBy(col("term"))
    }),

    // ---- modularity of the node%4 partition over the q185 link graph ----
    "q212_modularity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 7 + 1) % 60).as("dst"))
      val e2 = d.select((col("doc_id") % 60).as("src"),
        ((col("doc_id") * 3 + 2) % 60).as("dst"))
      val core = Seq(1, 2, 3).map(o => d.select((col("doc_id") % 24).as("src"),
        ((col("doc_id") % 24 + o) % 24).as("dst")))
      val edges = core.foldLeft(e1.unionByName(e2))(_ unionByName _)
      val assign = s.range(0, 60).select(col("id").as("node"),
        (col("id") % 4).cast("string").as("comm"))
      graft.ops.Graph.modularity(edges, "src", "dst", assign, "node", "comm")
    }),

    // ---- daily-grid resampling with forward fill (as-of per tick) ----
    "q213_resample" -> ((s, dir) =>
      graft.temporal.Windows.resampleGrid(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          (col("event_id") % 10).as("state")),
        Seq("user_id"), "ts", "state", stepMs = 86400000L)
        .orderBy(col("user_id"), col("grid_ms"))),

    // ---- exact two-sample KS distance per language (even vs odd docs) ----
    "q214_ks_test" -> ((s, dir) =>
      graft.ops.Stats.ksTest(
        t(s, dir, "documents").withColumn("side",
          when(col("doc_id") % 2 === 0, lit("A")).otherwise(lit("B"))),
        Seq("lang"), "n_chars", "side", "A", "B")
        .orderBy(col("lang"))),

    // ---- HTML page-metadata extraction (title/description/canonical) ----
    "q215_html_meta" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("<p>plain</p>"))
          .otherwise(concat(lit("<html><head><title> Doc\n"),
            col("doc_id").cast("string"),
            lit(" </title><meta name=\"description\" content=\""),
            col("lang"), lit(" sample\"><link rel=\"canonical\" " +
              "href=\"https://ex.org/d/"),
            col("doc_id").cast("string"), lit("\"></head></html>")))
          .as("html"))
      graft.ops.Curation.htmlMeta(d, "html")
        .select(col("doc_id"), col("title"), col("meta_description"),
          col("canonical_url"))
        .orderBy(col("doc_id"))
    }),

    // ---- FLAC STREAMINFO + MP3 CBR header decode (audio metadata) ----
    "q216_audio_meta" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val rows = Seq(
        M.MediaRow(1L, "audio", M.MediaGen.flacBytes(44100, 2, 44100L)),
        M.MediaRow(2L, "audio", M.MediaGen.flacBytes(8000, 1, 20000L)),
        M.MediaRow(3L, "audio", M.MediaGen.mp3Bytes(128, stereo = true, 16000)),
        M.MediaRow(4L, "audio",
          M.MediaGen.mp3Bytes(64, stereo = false, 8000, id3Pad = 500)),
        M.MediaRow(5L, "audio", {
          val b = M.MediaGen.flacBytes(44100, 2, 1L); b(4) = 0x04; b }))
      M.decode(rows.toDS()).toDF()
        .select(col("media_id"), col("byte_len"),
          col("channels").cast("long").as("channels"),
          col("duration_ms"), col("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- Wilcoxon signed-rank over a paired before/after metric ----
    "q217_wilcoxon" -> ((s, dir) =>
      graft.ops.Stats.wilcoxonSignedRank(
        t(s, dir, "documents").select(col("n_chars").as("before"),
          (col("n_chars") + col("doc_id") % 7 - 3).as("after")),
        "before", "after")),

    // ---- longest consecutive-day streak per user ----
    "q218_streaks" -> ((s, dir) =>
      graft.ops.Behavior.streaks(t(s, dir, "events"), "user_id", "ts")
        .orderBy(col("entity"))),

    // ---- capture-recapture population estimate from two crawl samples ----
    "q219_capture_recapture" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Stats.captureRecapture(
        d.where(col("doc_id") % 3 =!= 0).select(col("doc_id").as("id")),
        d.where(col("doc_id") % 2 === 0).select(col("doc_id").as("id")),
        "id")
    }),

    // ---- snapshot time travel: three commits (append, append, replace),
    //      every version read back frozen ----
    "q220_time_travel" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
      val base = java.nio.file.Files.createTempDirectory("q220").toString + "/t"
      val P = graft.sources.PageTable
      P.writeSnapshot(d.where(col("doc_id") < 300), base)
      P.writeSnapshot(d.where(col("doc_id") >= 300), base)
      P.writeSnapshot(d.where(col("doc_id") < 10), base, append = false)
      val reads = (1 to 3).map { v =>
        P.readSnapshot(s, base, v)
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
          .select(lit(v.toLong).as("version"), col("n"), col("sum_id"))
      }
      reads.reduce(_ unionByName _).orderBy(col("version"))
    }),

    // ---- daily-grid LINEAR interpolation (signal reconstruction;
    //      explicitly not leakage-safe, unlike q213's forward fill) ----
    "q221_resample_lerp" -> ((s, dir) =>
      graft.temporal.Windows.resampleGridLerp(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          (col("event_id") % 10).as("state")),
        Seq("user_id"), "ts", "state", stepMs = 86400000L)
        .orderBy(col("user_id"), col("grid_ms"))),

    // ---- HTML table-structure signals over a constructed corpus ----
    "q222_table_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(lit("<table>"),
            expr("repeat('<tr><td>a</td><td>b</td></tr>', " +
              "cast(doc_id % 4 + 1 AS int))"),
            lit("</table>")))
          .otherwise(lit("<p>prose about a table setting</p>")).as("html"))
      graft.ops.Curation.htmlTableStats(d, "html")
        .select(col("doc_id"), col("n_tables"), col("n_rows"),
          col("n_cells"), col("cells_per_row"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic permutation test: is the en-vs-de mean doc
    //      length difference significant? md5 coin per (row, rep) ----
    "q223_perm_test" -> ((s, dir) =>
      graft.ops.Stats.permutationTestMean(t(s, dir, "documents"),
        "doc_id", "n_chars", "lang", "en", "de", b = 64, seed = "pt")),

    // ---- SCD Type 2 history build from a constructed changelog ----
    "q224_scd2" -> ((s, dir) => {
      val c = t(s, dir, "documents").select(
        (col("doc_id") % 40).as("entity"), col("doc_id").as("seq"),
        when(col("doc_id") % 7 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("op"),
        col("source"), col("n_chars"))
      graft.ops.Diff.scd2(c, "entity", "seq", "op")
        .orderBy(col("entity"), col("valid_from_seq"))
    }),

    // ---- classifier calibration table over a deterministic fixed-point
    //      score (milli-units) with a correlated label ----
    "q225_calibration" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        ((col("doc_id") * 37) % 1001).as("score_milli"),
        (((col("doc_id") * 91) % 1000) <
          ((col("doc_id") * 37) % 1001)).as("y"))
      graft.ops.Stats.calibrationBins(d, "score_milli", "y", bins = 10)
        .orderBy(col("bin"))
    }),

    // ---- Wald SPRT per user over the event stream (H0 p=0.3 vs H1
    //      p=0.6); the two libm log increments are the contract ----
    "q226_sprt" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("ts"),
        col("event_id"), ((col("event_id") % 5) < 2).as("ok"))
      graft.ops.Stats.sprt(e, Seq("user_id"), "ts", "ok", 0.3, 0.6,
          lower = -2.2, upper = 2.2, tieBreak = Seq("event_id"))
        .orderBy(col("user_id"))
    }),

    // ---- U-shaped multi-touch attribution, per-channel rollup of exact
    //      integer micro-credits (order-free sums) ----
    "q227_attribution" -> ((s, dir) =>
      graft.ops.Behavior.attribution(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type", Seq("view", "click"), "purchase",
          valueMicro = 1000000L, model = "position")
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_credited"),
          sum(col("credit_micro")).as("credit_micro"))
        .orderBy(col("channel"))),

    // ---- grid-bucketed spatial neighbor pairs; the oracle is the
    //      BRUTE-FORCE predicate (bucketing is lossless by construction,
    //      so the two must agree exactly) ----
    "q228_grid_neighbors" -> ((s, dir) => {
      val p = t(s, dir, "documents").select(col("doc_id"),
        ((col("doc_id") % 89) * 0.37).as("x"),
        (((col("doc_id") * 7) % 83) * 0.29).as("y"))
      graft.ops.Geo.gridNeighbors(p, "doc_id", "x", "y", eps = 0.75)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- exact α=1/2 EWMA per user (deterministic fold; the oracle
    //      replays the recursion as a recursive CTE) ----
    "q229_ewma" -> ((s, dir) =>
      graft.temporal.Windows.ewmaHalf(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), (col("event_id") % 20).as("x")),
        Seq("user_id"), "ts", "x", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
        .orderBy(col("user_id"), col("event_id"))),

    // ---- Fellegi-Sunter linkage over (lang, length-band) blocks ----
    "q230_linkage" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      def side(m: Int) = d.where(expr("doc_id div 20") % 2 === m).select(
        col("doc_id"),
        concat_ws("|", col("lang"), expr("n_chars div 500")).as("blk"),
        col("source"), expr("n_chars div 100").as("len_bin"),
        substring(col("text"), 1, 1).as("initial"))
      graft.ops.Dedup.linkageScore(side(0), side(1), "doc_id", "doc_id",
          "blk", Seq(("source", 900L, -300L), ("len_bin", 500L, -500L),
            ("initial", 300L, -100L)), minScoreMilli = 700L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- quantile normalization of doc length across languages ----
    "q231_quantile_normalize" -> ((s, dir) =>
      graft.ops.Stats.quantileNormalize(t(s, dir, "documents"), "lang",
          "n_chars", "doc_id")
        .orderBy(col("doc_id"))),

    // ---- run-length encoding of each user's event-type timeline ----
    "q232_state_runs" -> ((s, dir) =>
      graft.temporal.Windows.stateRuns(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), col("event_type")),
        Seq("user_id"), "ts", "event_type", tieBreak = Seq("event_id"))
        .select(col("user_id"), col("run_id"), col("state"),
          unix_millis(col("ts_start").cast("timestamp")).as("start_ms"),
          unix_millis(col("ts_end").cast("timestamp")).as("end_ms"),
          col("n_rows"))
        .orderBy(col("user_id"), col("run_id"))),

    // ---- Pareto cut: which event types carry 80% of the weight ----
    "q233_pareto" -> ((s, dir) =>
      graft.ops.Reporting.paretoCut(
        t(s, dir, "events").select(col("event_type"),
          (col("event_id") % 50).as("w")),
        "event_type", "w", 80L, 100L)
        .orderBy(col("rank"))),

    // ---- sentence segmentation stats over a constructed corpus ----
    "q234_sentence_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(expr("repeat('Word word. ', cast(doc_id % 4 as int))"),
          lit("Tail end!")).as("text"))
      graft.ops.Curation.sentenceStats(d, "text")
        .select(col("doc_id"), col("n_sentences"),
          col("sum_sentence_chars"), col("max_sentence_chars"),
          col("mean_sentence_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- DBSCAN over the q228 point cloud (bucketed candidates + CC
    //      engine-side; the oracle is brute force + recursive closure) ----
    "q235_dbscan" -> ((s, dir) => {
      val p = t(s, dir, "documents").select(col("doc_id"),
        ((col("doc_id") % 89) * 0.37).as("x"),
        (((col("doc_id") * 7) % 83) * 0.29).as("y"))
      graft.ops.Geo.dbscan(p, "doc_id", "x", "y", eps = 0.75, minPts = 3)
        .orderBy(col("id"))
    }),

    // ---- deterministic word dropout over a constructed token stream ----
    "q236_word_dropout" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(0), (col("doc_id") % 6 + 1).cast("int")),
          j => concat(lit("tok"), j))).as("text"))
      graft.ops.Lm.wordDropout(d, "doc_id", "text", dropOneIn = 4,
          seed = "wd")
        .select(col("doc_id"), col("n_tokens"), col("n_kept"),
          col("text_out"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic negative sampling over the dense doc-id space ----
    "q237_negative_samples" -> ((s, dir) =>
      graft.ops.Lm.negativeSamples(t(s, dir, "documents"), "doc_id",
          k = 4, seed = "ns")
        .orderBy(col("doc_id"), col("neg_rank"))),

    // ---- minority-size class rebalancing by md5 rank ----
    "q238_balance_classes" -> ((s, dir) =>
      graft.ops.Curation.balanceClasses(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", seed = "bal")
        .select(col("doc_id"), col("lang"), col("class_n"),
          col("sample_rank"))
        .orderBy(col("doc_id"))),

    // ---- item-item cosine from user co-visitation ----
    "q239_item_similarity" -> ((s, dir) =>
      graft.ops.Relevance.itemSimilarity(
        t(s, dir, "events").select(col("user_id"),
          (col("event_id") % 30).as("item")),
        "user_id", "item", minCo = 2L, topK = 5)
        .orderBy(col("item"), col("rank"))),

    // ---- personalized PageRank from a 3-node seed set over the q74
    //      synthetic link graph ----
    "q240_personalized_pagerank" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val e1 = d.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 1) % 50).as("dst"))
      val e2 = d.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 3 + 2) % 50).as("dst"))
      graft.ops.Graph.personalizedPageRankInt(e1.unionByName(e2),
          "src", "dst", seeds = Seq(0L, 1L, 2L), iters = 4)
        .orderBy(col("node"))
    }),

    // ---- Kaplan-Meier survival per language over synthetic durations ----
    "q241_kaplan_meier" -> ((s, dir) =>
      graft.ops.Stats.kaplanMeier(
        t(s, dir, "documents").select(col("lang"),
          expr("n_chars div 50").as("dur"),
          (col("doc_id") % 3 =!= 0).as("ev")),
        Seq("lang"), "dur", "ev")
        .orderBy(col("lang"), col("t"))),

    // ---- Goh-Barabasi burstiness of each user's event stream ----
    "q242_burstiness" -> ((s, dir) =>
      graft.ops.Stats.burstiness(t(s, dir, "events"), Seq("user_id"),
          "ts", tieBreak = Seq("event_id"))
        .orderBy(col("user_id"))),

    // ---- entry/exit/bounce pages over 6h-gap sessions ----
    "q243_entry_exit" -> ((s, dir) =>
      graft.ops.Behavior.entryExitPages(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), col("event_type")),
        "user_id", "ts", "event_id", "event_type", gapSeconds = 21600L)
        .orderBy(col("page"))),

    // ---- difference-in-differences over a deterministic rollout split ----
    "q244_diff_in_diff" -> ((s, dir) =>
      graft.ops.Stats.diffInDiff(
        t(s, dir, "events").select((col("user_id") % 2 === 0).as("treated"),
          ((col("event_id") % 7) < 3).as("post"),
          (col("event_id") % 40).as("y")),
        "treated", "post", "y")),

    // ---- Wilson lower-bound ranking of event types by success rate ----
    "q245_wilson" -> ((s, dir) =>
      graft.ops.Stats.wilsonLowerBound(
        t(s, dir, "events").select(col("event_type"),
          (col("event_id") % 3 === 0).as("ok")),
        Seq("event_type"), "ok")
        .orderBy(col("event_type"))),

    // ---- exponential-backoff revisit scheduling from change flags ----
    "q246_revisit_schedule" -> ((s, dir) =>
      graft.temporal.Windows.revisitSchedule(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), (col("event_id") % 4 === 0).as("changed")),
        Seq("user_id"), "ts", "changed", baseS = 300L, maxS = 86400L,
        tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("unchanged_run"),
          col("next_interval_s"))
        .orderBy(col("user_id"), col("event_id"))),

    // ---- politeness token bucket per user over the event stream ----
    "q247_token_bucket" -> ((s, dir) =>
      graft.ops.Behavior.tokenBucket(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), (col("event_id") % 150000).as("cost")),
        Seq("user_id"), "ts", "cost", capacity = 200000L,
        refillPerSec = 1L, tieBreak = Seq("event_id"))
        .orderBy(col("user_id"), col("event_id"))),

    // ---- canonical-chain resolution by pointer jumping (chains down to
    //      multiples of 10, plus a constructed 2-cycle) ----
    "q248_canonical_chains" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val chain = d.where(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("f"), (col("doc_id") - 1).as("t"))
      val cyc = d.where(col("doc_id") === 0)
        .select(lit(1000000L).as("f"), lit(1000001L).as("t"))
        .unionByName(d.where(col("doc_id") === 0)
          .select(lit(1000001L).as("f"), lit(1000000L).as("t")))
      graft.ops.Curation.resolveCanonicalChains(
          chain.unionByName(cyc), "f", "t")
        .orderBy(col("url"))
    }),

    // ---- Mann-Whitney + Cliff's delta: en vs de doc lengths ----
    "q249_mann_whitney" -> ((s, dir) =>
      graft.ops.Stats.mannWhitney(t(s, dir, "documents"), "lang",
        "n_chars", "en", "de")),

    // ---- three-way merge of two divergent curation branches ----
    "q250_three_way_merge" -> ((s, dir) => {
      val b = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars"))
      val o = b.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 5 === 0, col("n_chars") + 1000)
            .otherwise(col("n_chars")).as("n_chars"))
      val th = b.select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, col("n_chars") + 2000)
          .otherwise(col("n_chars")).as("n_chars"))
      graft.ops.Diff.threeWayMerge(b, o, th, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // ---- weighted (multiset) Jaccard near-dups over a prefixed-copy
    //      corpus (df cap above corpus max-df => exact) ----
    "q251_weighted_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents").where(col("doc_id") < 150)
      val docs = d.select(col("doc_id").as("id"), col("text"))
        .unionByName(d.select((col("doc_id") + 100000).as("id"),
          concat(lit("prefixtoken "), col("text")).as("text")))
      graft.ops.Dedup.weightedJaccardPairs(docs, "id", "text",
          threshold = 0.5, maxTokenDf = 1000000)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- Gini concentration of event mass across users ----
    "q252_gini" -> ((s, dir) =>
      graft.ops.Reporting.giniCoefficient(
        t(s, dir, "events").select(col("user_id"),
          (col("event_id") % 100).as("w")),
        "user_id", "w")),

    // ---- forecast scorecard vs the naive lag-1 baseline ----
    "q253_forecast_eval" -> ((s, dir) =>
      graft.ops.Stats.forecastEval(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), (col("event_id") % 30).as("a"),
          ((col("event_id") * 7) % 30).as("p")),
        Seq("user_id"), "ts", "a", "p", tieBreak = Seq("event_id"))
        .orderBy(col("user_id"))),

    // ---- URL path-hierarchy rollup over constructed site paths ----
    "q254_path_rollup" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(concat(lit("/s"),
        (col("doc_id") % 4).cast("string"), lit("/p"),
        (col("doc_id") % 6).cast("string"), lit("/q"),
        (col("doc_id") % 3).cast("string")).as("path"))
      graft.ops.Curation.pathRollup(d, "path")
        .orderBy(col("prefix"))
    }),

    // ---- single-number expected calibration error (exact numerator) ----
    "q255_ece" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        ((col("doc_id") * 37) % 1001).as("score_milli"),
        (((col("doc_id") * 91) % 1000) <
          ((col("doc_id") * 37) % 1001)).as("y"))
      graft.ops.Stats.ece(d, "score_milli", "y", bins = 10)
    }),

    // ---- long-run event-type mix by integer power iteration ----
    "q256_stationary" -> ((s, dir) =>
      graft.ops.Behavior.stationaryDistribution(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", iters = 4)
        .orderBy(col("state"))),

    // ---- knee of the doc-length histogram (exact chord argmax) ----
    "q257_knee" -> ((s, dir) => {
      val curve = t(s, dir, "documents")
        .groupBy(expr("n_chars div 20").as("x"))
        .agg(count(lit(1)).as("y"))
      graft.ops.Stats.kneePoint(curve, "x", "y")
    }),

    // ---- Luhn validity over constructed candidate numbers ----
    "q258_luhn" -> ((s, dir) => {
      val c = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("4"), lpad(((col("doc_id") * 2654435761L) %
          1000000000000000L).cast("string"), 15, "0")).as("num"))
      graft.ops.Curation.luhnFlag(c, "num")
        .select(col("doc_id"), col("num"), col("luhn_valid"))
        .orderBy(col("doc_id"))
    }),

    // ---- quality-threshold sweep over doc lengths ----
    "q259_threshold_sweep" -> ((s, dir) =>
      graft.ops.Curation.thresholdSweep(t(s, dir, "documents"),
          "n_chars", Seq(100L, 200L, 300L, 400L, 500L))
        .orderBy(col("threshold"))),

    // ---- exact fixed-point embedding centroids per label ----
    "q260_fixed_centroids" -> ((s, dir) =>
      graft.ops.Similarity.fixedPointCentroids(
        t(s, dir, "embeddings").select(col("label"), col("embedding")),
        "label", "embedding", scale = 1000000L)
        .orderBy(col("group"), col("dim"))),

    // ---- percentile of odd-doc lengths within the even-doc cohort ----
    "q261_reference_percentile" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Stats.referencePercentile(
        d.where(col("doc_id") % 2 === 0)
          .select(expr("n_chars div 10").as("v")),
        d.where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), expr("n_chars div 10").as("v")),
        "doc_id", "v")
        .orderBy(col("doc_id"))
    }),

    // ---- Boruvka minimum spanning tree over a ring+chords graph; the
    //      oracle derives the SAME tree via the minimax-path property ----
    "q262_boruvka_mst" -> ((s, dir) => {
      val base = t(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id").as("i"))
      val ring = base.select(col("i").as("s"),
        ((col("i") + 1) % 40).as("d"), (col("i") + 100).as("w"))
      val chords = base.where(col("i") % 5 === 0)
        .select(col("i").as("s"), ((col("i") * 7 + 3) % 40).as("d"),
          (col("i") + 300).as("w"))
      graft.ops.Graph.boruvkaMst(ring.unionByName(chords), "s", "d", "w")
        .orderBy(col("u"), col("v"))
    }),

    // ---- weighted SSSP from node 0 over the directed ring+chords ----
    "q263_sssp" -> ((s, dir) => {
      val base = t(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id").as("i"))
      val ring = base.select(col("i").as("s"),
        ((col("i") + 1) % 40).as("d"), (col("i") + 100).as("w"))
      val chords = base.where(col("i") % 5 === 0)
        .select(col("i").as("s"), ((col("i") * 7 + 3) % 40).as("d"),
          (col("i") + 300).as("w"))
      graft.ops.Graph.ssspInt(ring.unionByName(chords), "s", "d", "w",
          sources = Seq(0L), maxRounds = 45)
        .orderBy(col("node"))
    }),

    // ---- range-digest reconciliation against a perturbed replica ----
    "q264_range_digest" -> ((s, dir) => {
      val a = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("n_chars"))
      val b = t(s, dir, "documents").where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("source"),
          when(col("doc_id") % 31 === 0, col("n_chars") + 1)
            .otherwise(col("n_chars")).as("n_chars"))
      graft.ops.Diff.rangeDigestDiff(a, b, "doc_id",
          Seq("source", "n_chars"), nBuckets = 16)
        .orderBy(col("bucket"))
    }),

    // ---- MinHash audience overlap between event types ----
    "q265_audience_overlap" -> ((s, dir) =>
      graft.ops.Behavior.audienceOverlap(
        t(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id", h = 32, seed = "ao")
        .orderBy(col("key_a"), col("key_b"))),

    // ---- P75 pinball loss of the q253 synthetic forecast, per user ----
    "q266_pinball" -> ((s, dir) =>
      graft.ops.Stats.pinballLoss(
        t(s, dir, "events").select(col("user_id"),
          (col("event_id") % 30).as("a"),
          ((col("event_id") * 7) % 30).as("p")),
        Seq("user_id"), "a", "p", qNum = 3L, qDen = 4L)
        .orderBy(col("user_id"))),

    // ---- Wald-Wolfowitz runs test on above-median event values ----
    "q267_runs_test" -> ((s, dir) =>
      graft.ops.Stats.runsTest(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), ((col("event_id") % 20) >= 10).as("hi")),
        Seq("user_id"), "ts", "hi", tieBreak = Seq("event_id"))
        .orderBy(col("user_id"))),

    // ---- ACF at lags 1..7 of each user's event-value series ----
    "q268_acf" -> ((s, dir) =>
      graft.ops.Stats.acfTable(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), (col("event_id") % 20).as("x")),
        Seq("user_id"), "ts", "x", maxLag = 7, tieBreak = Seq("event_id"))
        .orderBy(col("user_id"), col("lag"))),

    // ---- exact W1 distance: en vs de doc-length distributions ----
    "q269_emd" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ops.Stats.emd1d(
        d.where(col("lang") === "en").select(col("n_chars")),
        d.where(col("lang") === "de").select(col("n_chars")),
        "n_chars")
    }),

    // ---- PIT feature: clicks in the 7 days before each purchase ----
    "q270_asof_count" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.temporal.AsOfJoin.asOfCount(
        ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts")),
        Seq("user_id"), "ts", "event_id", windowSeconds = 604800L)
        .select(col("user_id"), col("event_id"), col("n_right_in_window"))
        .orderBy(col("event_id"))
    }),

    // ---- Cohen's d effect size: en vs de doc lengths ----
    "q271_cohens_d" -> ((s, dir) =>
      graft.ops.Stats.cohensD(t(s, dir, "documents"), "lang", "n_chars",
        "en", "de")),

    // ---- Matthews correlation of the q182 deterministic classifier ----
    "q272_mcc" -> ((s, dir) =>
      graft.ops.Stats.mcc(
        t(s, dir, "documents").select((col("lang") === "en").as("y"),
          (col("doc_id") % 11 === 0 ||
            (col("lang") === "en" && col("doc_id") % 7 =!= 0)).as("p")),
        "y", "p")),

    // ---- 2x2 risk/odds: long docs exposed, en outcome ----
    "q273_two_by_two" -> ((s, dir) =>
      graft.ops.Stats.twoByTwo(
        t(s, dir, "documents").select((col("n_chars") >= 300).as("e"),
          (col("lang") === "en").as("o")),
        "e", "o")),

    // ---- churn labels: seconds to each user's next purchase ----
    "q274_time_to_event" -> ((s, dir) =>
      graft.temporal.Windows.timeToEvent(
        t(s, dir, "events").select(col("user_id"), col("ts"),
          col("event_id"), col("event_type")),
        Seq("user_id"), "ts", "event_type", "purchase",
        tieBreak = Seq("event_id"))
        .select(col("user_id"), col("event_id"),
          col("label_next_target_s"))
        .orderBy(col("event_id"))),

    // ---- markdown structure stats over a constructed corpus ----
    "q275_markdown_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(
          expr("repeat('## H\n', cast(doc_id % 3 as int))"),
          expr("repeat('- item\n', cast(doc_id % 4 as int))"),
          when(col("doc_id") % 2 === 0, lit("```\nx\n```\n"))
            .otherwise(lit("```\n")),
          expr("repeat('[a](b)', cast(doc_id % 5 as int))")).as("text"))
      graft.ops.Curation.markdownStats(d, "text")
        .select(col("doc_id"), col("n_headings"),
          col("max_heading_depth"), col("n_code_fences"),
          col("fence_unterminated"), col("n_list_items"), col("n_links"))
        .orderBy(col("doc_id"))
    }),

    // ---- q276: BPE segmentation at PRODUCTION merge count — 5 real
    //      merges in two chains + one standalone, padded with a 201-deep
    //      never-firing chain over 'Z' (uppercase cannot appear in the
    //      lowered [a-z0-9_']+ word alphabet), 206 merges total. The old
    //      per-merge nested-fold encoder would compile a 206-deep
    //      expression here and take minutes in analysis alone; the
    //      BpeSegmentWords kernel holds them all in ONE rank table with
    //      per-word cost independent of the merge count. Fires have
    //      closed regex form because the chain alphabets {t,h,e},
    //      {a,n,d}, {o,f} are disjoint: fires(t,h)=count('th'),
    //      fires(th,e)=count('the') (every 'the' substring has its 'th'
    //      already fused and its 'e' still single), etc. ----
    "q276_bpe_segment_scaled" -> ((s, dir) => {
      val pad = (1 to 200).scanLeft(("Z", "Z")) { case ((a, b), _) =>
        (a + b, "Z") }
      val merges = Seq(("t", "h"), ("th", "e"), ("a", "n"), ("an", "d"),
        ("o", "f")) ++ pad
      graft.ops.Lm.bpeSegmentStats(t(s, dir, "documents"), "doc_id", "text",
          merges)
        .orderBy(col("doc_id"))
    }),

    // ---- q277: BPE TRAINER end-to-end (driver-localized incremental
    //      path) over a constructed word distribution whose 6-round merge
    //      trace is hand-derivable — self-pair greedy fold ("aaaa" ->
    //      [aa,aa]), chained merges, and a frequency TIE broken by pair
    //      text ("bc bc" < "d d") are all pinned. Corpus: 10x "aaaa",
    //      7x "bc", 4x "bcbc", 2x "ddd" (one word per document row).
    //      Trace: R1 (a,a) 3*10=30; R2 (b,c) 7+2*4=15 beats (aa,aa) 10;
    //      R3 (aa,aa) 10; R4 (bc,bc) 4 ties (d,d) 4, text asc; R5 (d,d)
    //      4; R6 (dd,d) 2. ----
    "q277_bpe_train" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").where(col("doc_id") < 23)
        .select(when(col("doc_id") < 10, lit("aaaa"))
          .when(col("doc_id") < 17, lit("bc"))
          .when(col("doc_id") < 21, lit("bcbc"))
          .otherwise(lit("ddd")).as("text"))
      val merges = graft.ops.Lm.bpeTrain(corpus, "text", nMerges = 6)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b, f), i) => (i.toLong, a, b, f) }
        .toDF("rank", "lhs", "rhs", "freq")
        .orderBy(col("rank"))
    }),

    // ---- q278: ISO-BMFF SAMPLE TABLES — exact per-track sample counts,
    //      byte totals and durations from an stts/stsz/stsc/stco walk, no
    //      codec: the codec-free answer to "how many frames / how long /
    //      how many bytes" for video+audio containers (closes the r4
    //      verdict's multimodal gap #2; frame-PIXEL decode stays behind
    //      the documented stub). Movie 1: video track (3 stts runs,
    //      constant 1024-byte samples, 5 chunks) + v1-mdhd audio track
    //      (per-sample sizes (i*37)%256); movie 2: valid but trackless;
    //      movie 3: truncated (ok=false channel). All numbers are
    //      closed-form from the generator parameters. ----
    "q278_mp4_sample_tables" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      import M.MediaGen.GenTrack
      val vide = GenTrack(1, "vide", 30000,
        Seq((100, 1001), (50, 1000), (1, 500)), Left(1024), nChunks = 5)
      val soun = GenTrack(2, "soun", 48000, Seq((1000, 1024)),
        Right((0 until 1000).map(i => (i * 37) % 256)), nChunks = 2,
        mdhdV1 = true)
      val movie = M.MediaGen.mp4SampleTableBytes(Seq(vide, soun))
      val rows = Seq(
        M.MediaRow(1L, "video", movie),
        M.MediaRow(2L, "video", M.MediaGen.mp4SampleTableBytes(Seq.empty)),
        M.MediaRow(3L, "video", movie.dropRight(6)))
      M.mp4SampleTables(rows.toDS()).toDF()
        .orderBy(col("media_id"), col("track_id"))
    }),

    // ---- q279: SUBSTRING blocklist gate through ONE Aho-Corasick
    //      automaton — per-doc totals with cost independent of the
    //      pattern-list size (the raw-text complement of q119's
    //      token-L-gram join). The four live patterns are chosen
    //      self-overlap-free, so the oracle's non-overlapping regexp
    //      counts equal AC's overlapping counts exactly; 300 padding
    //      patterns that cannot occur pin the list-size independence. ----
    "q279_substring_blocklist" -> ((s, dir) => {
      val pad = (1 to 300).map(i => s"zzqpad$i")
      graft.ops.Curation.substringBlocklist(t(s, dir, "documents"),
          "doc_id", "text", Seq("the", "and", "ing", "tion") ++ pad,
          blockAt = 20L)
        .orderBy(col("doc_id"))
    }),

    // ---- q280: density-smoothed content extraction (the densometric
    //      core of Kohlschuetter et al. 2010): each document framed by a
    //      nav header line and a footer — a line is content iff it has
    //      words and its 3-line smoothed word count reaches 8, so the
    //      short frame lines drop while the body keeps its run. Pure
    //      array HOFs per row (no Window operator); the oracle replays
    //      the smoothing with DuckDB list lambdas and gaps-and-islands
    //      for the longest run. ----
    "q280_density_content" -> ((s, dir) => {
      val nl = Character.toString(10.toChar)
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("menu home about" + nl), col("text"),
          lit(nl + nl + "contact us")).as("text"))
      graft.ops.Curation.densityContentStats(d, "text", minBlockWords = 8)
        .select(col("doc_id"), col("n_lines"), col("n_content_lines"),
          col("total_words"), col("content_words"), col("content_ratio"),
          col("longest_run"))
        .orderBy(col("doc_id"))
    }),

    // ---- q281: purged walk-forward split with embargo (Lopez de Prado
    //      ch.7, published method) — the leakage-safe CV partitioner for
    //      the temporal feature store: equal-width time bins by exact
    //      integer epoch-ms arithmetic, an embargo band ahead of the
    //      validation fold, and the future never trained on. The split
    //      is a pure function of (min, max, nFolds) — externally
    //      replayable, which IS the leakage audit. ----
    "q281_purged_split" -> ((s, dir) => {
      graft.temporal.Windows.purgedSplit(t(s, dir, "events"), "ts",
          nFolds = 5, valFold = 3, embargoMs = 3600000L)
        .select(col("event_id"), col("fold"), col("role"))
        .orderBy(col("event_id"))
    }),

    // ---- q282: b-bit MinHash near-dup estimation (Li & Konig 2010) —
    //      LSH banding on the full md5 signature (bucket key = the raw
    //      sub-signature), then the similarity estimate from only the low
    //      4 bits per lane with collision correction: the sketch a
    //      10^12-doc dedup actually stores/shuffles is 16x smaller than
    //      the full signature. Every lane is an UNSIGNED md5 min, so the
    //      oracle replays candidates AND estimates bit-exactly. 40 docs
    //      + their prefixtoken mutations (q16's construction) keep the
    //      oracle's full md5 replay bounded. ----
    "q282_bbit_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id").as("id"), col("text"))
      val mutated = docs.select((col("id") + 100000L).as("id"),
        concat_ws(" ", lit("prefixtoken"), col("text")).as("text"))
      graft.ops.Similarity.bbitMinhashPairs(docs.unionByName(mutated),
          "id", "text", numHashes = 64, b = 4, numBands = 16,
          shingleSize = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- q283: database-friendly random projection (Achlioptas 2001) —
    //      embeddings onto 8 md5-parity ±1 sign vectors in fixed point:
    //      the exact-bigint JL map that shrinks what an ANN index
    //      stores/shuffles from 64 floats to 8 integers per doc. Long
    //      format keeps the output scalar for the driver gate. ----
    "q283_random_projection" -> ((s, dir) => {
      graft.ops.Similarity.randomProjection(
          t(s, dir, "embeddings").where(col("vec_id") < 100),
          "vec_id", "embedding", k = 8)
        .orderBy(col("id"), col("dim"))
    }),

    // ---- q284: leave-fold-out target encoding (Micci-Barreca 2001,
    //      K-fold out-of-fold form) — the leakage-safe categorical
    //      encoder: each document's language is encoded by the mean
    //      quality target of OTHER folds' rows of that language, with
    //      additive smoothing toward the global prior; md5-deterministic
    //      folds, all-milli integer arithmetic. ----
    "q284_target_encode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (col("n_chars") % 100L).as("y"))
      graft.ops.Stats.targetEncodeLFO(d, "doc_id", "lang", "y",
          nFolds = 5, smoothing = 20L, seed = "te")
        .orderBy(col("doc_id"))
    }),

    // ---- q285: Maximal Marginal Relevance re-ranking (Carbonell &
    //      Goldstein 1998) — greedy relevance-vs-redundancy selection
    //      with exact milli-Jaccard penalties over a constructed
    //      4-candidate page whose whole trace is hand-derivable: d1 wins
    //      on relevance, its exact duplicate d2 pays the full 1000-milli
    //      redundancy and drops to LAST despite the #2 relevance, the
    //      1/3-overlap d4 pays 333. Result-list contract (driver-local
    //      greedy behind a loud maxRows guard). ----
    "q285_mmr_rerank" -> ((s, dir) => {
      val d = t(s, dir, "documents").where(col("doc_id") < 4)
        .select((col("doc_id") + 1L).as("id"),
          when(col("doc_id") === 0L, "alpha beta gamma delta")
            .when(col("doc_id") === 1L, "alpha beta gamma delta")
            .when(col("doc_id") === 2L, "epsilon zeta eta theta")
            .otherwise("alpha beta gamma zeta").as("text"),
          when(col("doc_id") === 0L, 900L)
            .when(col("doc_id") === 1L, 880L)
            .when(col("doc_id") === 2L, 500L)
            .otherwise(700L).as("rel"))
      graft.ops.Relevance.mmrSelect(d, "id", "text", "rel", k = 4)
        .orderBy(col("rank"))
    }),

    // ---- q286: REAL video FRAME-CONTENT decode — an AVI container walk
    //      feeding each '00dc' frame chunk through the JDK raster codecs:
    //      per-frame exact channel sums for self-contained (PNG/MJPEG-
    //      style) frames, q117's closed-form fill at three geometries, a
    //      garbage frame failing ALONE on its own ok=false row, and a
    //      truncated container collapsing to a marker row. Closes the
    //      frame-content stub for intra-frame codecs; inter-frame codecs
    //      (no JDK codec) remain documented. byte_len is dropped from
    //      the projection (PNG encoder output size is not closed-form).
    "q286_video_frames" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val movie = M.MediaGen.aviBytes(Seq(
        M.MediaGen.pngBytes(17, 9), M.MediaGen.pngBytes(8, 6),
        M.MediaGen.pngBytes(2200, 3), Array.fill(16)(42.toByte)),
        w = 17, h = 9, usPerFrame = 40000)
      val rows = Seq(M.MediaRow(1L, "video", movie),
        M.MediaRow(2L, "video", movie.take(20)))
      M.videoFrameStats(rows.toDS()).toDF()
        .select(col("media_id"), col("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_pixels"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("declared_frames"), col("us_per_frame"), col("ok"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // ---- q287: COMPRESSED-audio SAMPLE-CONTENT decode — G.711 mu-law /
    //      A-law WAVs expanded with the canonical ITU integer chains
    //      (validated byte-for-byte against javax.sound in the spec) into
    //      exact energy statistics. The oracle replays the expansion
    //      formula itself over the generator's byte functions — compressed
    //      audio content is no longer behind the stub; only perceptual
    //      codecs (MP3/AAC frame content) remain documented. ----
    "q287_audio_g711" -> ((s, dir) => {
      import s.implicits._
      val M = graft.ops.Multimodal
      val su = Array.tabulate(2048)(i => ((i * 7) % 256).toByte)
      val sa = Array.tabulate(1024)(i => ((i * 13) % 256).toByte)
      val rows = Seq(
        M.MediaRow(1L, "audio", M.MediaGen.wavG711Bytes("ulaw", 1, 8000, su)),
        M.MediaRow(2L, "audio", M.MediaGen.wavG711Bytes("alaw", 2, 16000, sa)),
        M.MediaRow(3L, "audio", Array.fill(32)(9.toByte)))
      M.audioG711Stats(rows.toDS()).toDF()
        .select(col("media_id"), col("codec"),
          col("channels").cast("long").as("channels"), col("sample_rate"),
          col("n_samples"), col("peak_abs"), col("sum_abs"), col("sum_sq"),
          col("ok"))
        .orderBy(col("media_id"))
    }),

    // ---- q288: consistent-hash ring sharding with virtual nodes
    //      (Karger et al.) — successor-vnode assignment on a 60-bit md5
    //      ring at 4 and 5 shards side by side: the `moved` column IS the
    //      minimal-movement audit (only ranges captured by the new
    //      shard's vnodes change owner — the re-layout bill a mod-N deal
    //      would turn into a full reshuffle). Zero shuffle, zero join:
    //      the sorted ring rides the plan as a literal array. ----
    "q288_consistent_ring" -> ((s, dir) => {
      // consistentShard emits every input column + shard, so the 4- and
      // 5-shard assignments CHAIN into one row-local projection — the
      // previous a4.join(a5, doc_id) self-joined two scans of the same
      // source to concatenate two columns computable side by side
      // (zero-join, zero-exchange now; output identical)
      val d = t(s, dir, "documents").select(col("doc_id"))
      val a4 = graft.ops.Curation.consistentShard(d, "doc_id", nShards = 4)
        .withColumnRenamed("shard", "shard4")
      graft.ops.Curation.consistentShard(a4, "doc_id", nShards = 5)
        .withColumnRenamed("shard", "shard5")
        .withColumn("moved", col("shard4") =!= col("shard5"))
        .orderBy(col("doc_id"))
    }),

    // ---- q289: Hilbert-curve layout key (the locality-optimal sibling
    //      of q154's Z-order: consecutive indexes are ALWAYS grid
    //      neighbors, so per-file min/max spans are tighter and range
    //      scans prune better — HilbertSpec proves the property at
    //      order 4 and that Morton lacks it). The oracle replays the
    //      bit-level curve walk as a recursive CTE. ----
    "q289_hilbert_layout" -> ((s, dir) => {
      val d = t(s, dir, "documents").where(col("doc_id") < 256)
        .select(col("doc_id"), (col("doc_id") % 16).as("x"),
          ((col("doc_id") * 7) % 16).as("y"))
      d.withColumn("hilbert_d",
          graft.functions.hilbert_key(col("x"), col("y"), order = 4))
        .orderBy(col("doc_id"))
    }))

  /** q182/q183's deterministic "noisy classifier": mostly echoes lang but
    * routes doc_id % 7 == 0 to a bogus class and % 11 == 0 to 'en'.
    */
  private def predLang: Column =
    when(col("doc_id") % 7 === 0, lit("xx"))
      .when(col("doc_id") % 11 === 0, lit("en"))
      .otherwise(col("lang"))

  /** q84/q85's deterministic page corpus: five anchors per page that split
    * the anchor grammar (absolute / host-relative / fragment / nested-
    * markup-skipped / self). Binary html exercises the UTF-8 cast path.
    */
  private def q84Pages(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<p><a href=\"https://ref"), ((col("doc_id") + 1) % 13).cast("string"),
      lit(".org/a/"), id, lit("\">Ref Article "), id, lit("</a>"),
      lit("<a href=\"/local/"), id, lit("\" class=\"x\">local "), id, lit("</a>"),
      lit("<a href=\"#frag\">frag</a>"),
      lit("<a href=\"https://skip.org/\"><b>bold</b></a>"),
      lit("<a href=\"https://site"), (col("doc_id") % 13).cast("string"),
      lit(".org/self\">self</a></p>"))
    t(s, dir, "documents").select(col("doc_id"),
      concat(lit("https://site"), (col("doc_id") % 13).cast("string"),
        lit(".org/p/"), id).as("url"),
      html.cast("binary").as("html"))
  }

  /** q52's layout directory per sf dir — written once per JVM. */
  private val q52Path = scala.collection.mutable.Map[String, String]()
  private val q103Path = scala.collection.mutable.Map[String, String]()

  /** q60's split-sink directory per sf dir — written once per JVM. */
  private val q60Path = scala.collection.mutable.Map[String, String]()

  /** q63's bucketed (pages, profile) table names per sf dir — written once
    * per JVM (write-once/join-many storage-partitioned layout).
    */
  private val q63Tables = scala.collection.mutable.Map[String, (String, String)]()

  /** q62's compressed-corpus parquet path per sf dir — written once per JVM
    * (the graded op is decompress-on-read, not the harness's compress).
    */
  private val q62Path = scala.collection.mutable.Map[String, String]()

  /** Scope `spark.sql.shuffle.partitions` around a streaming REPLAY: the
    * state-store partition count is fixed from this conf at query start,
    * and 32 state tasks per micro-batch is pure scheduler overhead for a
    * replay whose whole state fits in one task. Physical-layout knob only —
    * a production stream sizes it to its cluster; results are identical.
    */
  private def withShufflePartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try f finally s.conf.set(key, old)
  }

  /** DuckDB oracles. Aggregates go through explicit decimal casts on both
    * sides so cross-engine float summation cannot drift; orderings carry
    * unique tie-breaks so row sets are deterministic.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |cast(sum(cast(round(l_quantity * 100) AS bigint)) AS bigint) AS sum_qty_cents,
        |cast(sum(cast(round(l_extendedprice * 100) AS bigint)) AS bigint) AS sum_price_cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS customers,
        |cast(sum(cast(round(c_acctbal * 100) AS bigint)) AS bigint) AS sum_acctbal_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q03_topk_latest_order" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |cast(round(o_totalprice * 100) AS bigint) AS total_cents FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY cast(o_orderdate AS timestamp) DESC, o_orderkey DESC) AS rn FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q04_filter_pushdown" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |cast(sum(cast(l_extendedprice AS decimal(18,2))) AS decimal(18,2)) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= timestamp '1996-01-01' AND l_shipdate < timestamp '1997-01-01'
        |AND l_quantity > 25 GROUP BY 1""".stripMargin,
    "q05_lag_delta" ->
      """SELECT event_id, user_id,
        |value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS value_delta
        |FROM events""".stripMargin,
    "q06_backfill" ->
      """SELECT event_id, user_id,
        |last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM events""".stripMargin,
    "q07_sessionize" ->
      """SELECT event_id, user_id,
        |cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS bigint) AS session_no
        |FROM (
        |  SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    OR cast(floor(epoch(ts)) AS bigint) - cast(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS bigint) > 1800
        |    THEN 1 ELSE 0 END AS new_session FROM events) t""".stripMargin,
    "q08_session_stats" ->
      """WITH s AS (
        |  SELECT user_id, ts,
        |  cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS bigint) AS session_no
        |  FROM (
        |    SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR cast(floor(epoch(ts)) AS bigint) - cast(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS bigint) > 1800
        |      THEN 1 ELSE 0 END AS new_session FROM events) t)
        |SELECT user_id, session_no, count(*) AS session_revisits,
        |max(cast(floor(epoch(ts)) AS bigint)) - min(cast(floor(epoch(ts)) AS bigint)) AS session_duration_s
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q09_asof" ->
      """SELECT c.event_id, c.user_id, c.ts, p.value AS purchase_value, p.ts AS purchase_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |LEFT JOIN LATERAL (
        |  SELECT value, ts FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id AND p.ts <= c.ts
        |  ORDER BY p.ts DESC, p.value DESC LIMIT 1) p ON true""".stripMargin,
    "q10_rolling" ->
      """SELECT event_id, user_id,
        |cast(sum(cast(round(value * 1000000) AS bigint)) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS bigint) AS roll5_sum_micros,
        |count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS roll5_cnt
        |FROM events ORDER BY event_id""".stripMargin,
    "q11_latest_dedup" ->
      """SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,
    "q12_exact_dedup" ->
      """SELECT md5(text) AS dup_key, min(doc_id) AS canonical_id, count(*) AS cluster_size
        |FROM documents GROUP BY 1""".stripMargin,
    "q13_token_stats" ->
      """SELECT doc_id, cast(len(string_split_regex(trim(text), '\s+')) AS bigint) AS n_tokens,
        |cast(length(text) AS bigint) AS n_chars_actual
        |FROM documents WHERE length(text) > 0""".stripMargin,
    "q14_lang_hist" ->
      "SELECT lang, count(*) AS docs FROM documents GROUP BY 1",
    "q15_char_classes" ->
      """SELECT doc_id,
        |cast(length(regexp_replace(text, '[^0-9]', '', 'g')) AS bigint) AS digit_chars,
        |cast(length(regexp_replace(text, '[^a-z]', '', 'g')) AS bigint) AS lower_chars,
        |cast(length(regexp_replace(text, '[^ ]', '', 'g')) AS bigint) AS space_chars
        |FROM documents""".stripMargin,
    "q16_minhash_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text FROM documents),
        |words AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM docs),
        |sh AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM words WHERE len(w) >= 3)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM sh a JOIN sh b ON a.id < b.id
        |WHERE len(s_common) > 0 AND
        |  cast(len(s_common) AS double) / cast(len(a.s) + len(b.s) - len(s_common) AS double) >= 0.8
        |ORDER BY 1, 2""".stripMargin
        .replace("s_common", "list_intersect(a.s, b.s)"),
    "q17_simhash_pairs" -> simhashOracleSql,
    "q18_knn_bruteforce" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |row_number() OVER (PARTITION BY a.vec_id
        |  ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rank
        |FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id != a.vec_id
        |QUALIFY rank <= 3""".stripMargin,
    "q19_ann_ivf" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |row_number() OVER (PARTITION BY a.vec_id
        |  ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rank
        |FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND b.vec_id != a.vec_id
        |QUALIFY rank <= 3 ORDER BY 1, 3""".stripMargin,
    "q20_embedding_dedup" ->
      """WITH u AS (
        |  SELECT vec_id AS id, embedding AS v FROM embeddings
        |  UNION ALL SELECT vec_id + 100000,
        |    list_transform(embedding, x -> CAST(x * CAST(1.001 AS REAL) AS REAL)) FROM embeddings)
        |SELECT a.id AS id_a, b.id AS id_b
        |FROM u a JOIN u b ON a.id < b.id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.999
        |ORDER BY 1, 2""".stripMargin,
    "q21_gbd_hash" ->
      s"""WITH $cnfBaseCte
         |SELECT id, md5(norm_text) AS gbd FROM norm ORDER BY id""".stripMargin,
    "q22_cnf_features" ->
      s"""WITH $cnfBaseCte
         |SELECT id,
         |cast(3 AS bigint) AS clauses,
         |cast(d AS bigint) AS variables,
         |cast(6
         |  + 2*(ceil(log10(a)) + 1)           -- a (clause 1) + -a less sign (cl 2)
         |  + 1                                -- the '-' of -a
         |  + 2*(ceil(log10(b)) + 1) + 1       -- -b and b
         |  + ceil(log10(c)) + 1
         |  + (CASE WHEN pos_d THEN 0 ELSE 1 END) + ceil(log10(d)) + 1
         |  AS bigint) AS bytes,
         |cast(d - 3 AS bigint) AS ccs,  -- unused vars 1..d are singleton components: (d-4) + 1 linked

         |cast(1 AS bigint) AS cls1, cast(1 AS bigint) AS cls2, cast(1 AS bigint) AS cls3,
         |cast(CASE WHEN pos_d THEN 3 ELSE 2 END AS bigint) AS horn,
         |cast(CASE WHEN pos_d THEN 2 ELSE 3 END AS bigint) AS invhorn,
         |cast(1 AS bigint) AS positive, cast(0 AS bigint) AS negative
         |FROM norm ORDER BY id""".stripMargin,
    "q23_normalize" ->
      s"""WITH $cnfBaseCte
         |SELECT id, norm_text FROM norm ORDER BY id""".stripMargin,
    "q24_clause_parse" ->
      s"""WITH $cnfBaseCte
         |SELECT id, cast(3 AS bigint) AS n_clauses, cast(6 AS bigint) AS n_lits,
         |cast(c + (CASE WHEN pos_d THEN d ELSE -d END) AS bigint) AS sum_lits,
         |cast(d AS bigint) AS max_abs_lit
         |FROM norm ORDER BY id""".stripMargin,
    "q25_sanicheck" ->
      s"""WITH $cnfBaseCte
         |SELECT id,
         |cast(650 AS bigint) AS head_vars, cast(3 AS bigint) AS head_clauses,
         |cast(d AS bigint) AS norm_vars, cast(3 AS bigint) AS norm_clauses,
         |cast(1 AS bigint) AS whitespace_normalised, cast(1 AS bigint) AS has_comment,
         |cast(d AS bigint) AS sani_vars, cast(3 AS bigint) AS sani_clauses,
         |cast(0 AS bigint) AS has_tautological_clause,
         |cast(0 AS bigint) AS has_duplicate_literals,
         |cast(0 AS bigint) AS has_empty_clause
         |FROM norm ORDER BY id""".stripMargin,
    "q26_gate_features" ->
      // hand-derived gate structure of the synthetic doc (see the query's
      // comment): 2 MONO gates (b at level 1, a at level 2), 1 root,
      // n_vars = max var = d, everything else ungated
      s"""WITH $cnfBaseCte
         |SELECT id,
         |cast(d AS bigint) AS n_vars, cast(2 AS bigint) AS n_gates,
         |cast(1 AS bigint) AS n_roots, cast(d - 2 AS bigint) AS n_none,
         |cast(0 AS bigint) AS n_generic, cast(2 AS bigint) AS n_mono,
         |cast(0 AS bigint) AS n_and, cast(0 AS bigint) AS n_or,
         |cast(2 AS bigint) AS levels_max, cast(1 AS bigint) AS levels_mono_min,
         |cast(2 AS bigint) AS levels_mono_max
         |FROM base ORDER BY id""".stripMargin,
    "q27_iso_hash" ->
      // hand-derived degree sequence (see the query comment): the oracle
      // recomputes the hash from the serialized degree bytes, which are
      // constant for every row of this corpus by construction
      s"""WITH $cnfBaseCte
         |SELECT id, md5('0 1 0 1 1 1 1 1 ') AS iso
         |FROM base ORDER BY id""".stripMargin,
    "q28_cnf2kis" ->
      s"""WITH $cnfBaseCte
         |SELECT id, cast(6 AS bigint) AS kis_nodes,
         |cast(12 AS bigint) AS kis_edges, cast(3 AS bigint) AS kis_k
         |FROM base ORDER BY id""".stripMargin,
    "q29_sanitize" ->
      s"""WITH $cnfBaseCte
         |SELECT id,
         |'p cnf ' || cast(d AS varchar) || ' 4' || chr(10) ||
         |cast(a AS varchar) || ' -' || cast(b AS varchar) || ' 0' || chr(10) ||
         |cast(c AS varchar) || ' ' ||
         |(CASE WHEN pos_d THEN cast(d AS varchar) ELSE '-' || cast(d AS varchar) END) ||
         |' -' || cast(a AS varchar) || ' 0' || chr(10) ||
         |cast(b AS varchar) || ' 0' || chr(10) ||
         |cast(b AS varchar) || ' 0' || chr(10) AS sani
         |FROM base ORDER BY id""".stripMargin,
    "q30_wcnf_hash" ->
      // closed-form normalizeWcnf streams: the new format has NO separator
      // after the `h` clause (the reference's notfirst quirk), the old
      // format (weight top+0/top-1) rewrites to `h` WITH the separator
      s"""WITH $cnfBaseCte
         |SELECT id, md5(CASE WHEN pos_d
         |  THEN 'h ' || cast(a AS varchar) || ' -' || cast(b AS varchar) || ' 0'
         |    || cast(d AS varchar) || ' ' || cast(c AS varchar) || ' 0'
         |  ELSE 'h ' || cast(a AS varchar) || ' -' || cast(b AS varchar) || ' 0 '
         |    || cast(d AS varchar) || ' ' || cast(c AS varchar) || ' 0'
         |END) AS wcnf_hash
         |FROM base ORDER BY id""".stripMargin,
    "q31_wcnf_features" ->
      // hand-derived: hard {a,-b} (cls2, horn+invhorn), soft(w=d) {c}
      // (cls1); nVars = c; soft-weight stats over the singleton {d};
      // cdegree over sizes [1,2]: incremental mean 1.5, variance 0.25,
      // two equal-count categories -> scaled entropy exactly 1.0
      s"""WITH $cnfBaseCte
         |SELECT id,
         |cast(1 AS bigint) AS h_clauses, cast(c AS bigint) AS variables,
         |cast(0 AS bigint) AS h_cls1, cast(1 AS bigint) AS h_cls2,
         |cast(1 AS bigint) AS h_horn, cast(1 AS bigint) AS h_invhorn,
         |cast(0 AS bigint) AS h_positive, cast(0 AS bigint) AS h_negative,
         |cast(1 AS bigint) AS s_clauses, cast(d AS bigint) AS s_weight_sum,
         |cast(1 AS bigint) AS s_cls1,
         |cast(d AS double) AS s_weight_mean, cast(0 AS double) AS s_weight_variance,
         |cast(d AS double) AS s_weight_min, cast(d AS double) AS s_weight_max,
         |cast(0 AS double) AS s_weight_entropy,
         |cast(1.5 AS double) AS h_vcg_cdegree_mean,
         |cast(0.25 AS double) AS h_vcg_cdegree_variance,
         |cast(1 AS double) AS h_vcg_cdegree_min,
         |cast(2 AS double) AS h_vcg_cdegree_max,
         |cast(1 AS double) AS h_vcg_cdegree_entropy
         |FROM base ORDER BY id""".stripMargin,
    "q32_opb_features" ->
      // one constraint per classification branch; variables = max var
      // index + 1 = 4 (Var(var+1) quirk); objective stats over {2, a}
      // are exact dyadic (incremental fold over the sorted pair)
      s"""WITH $cnfBaseCte
         |SELECT id,
         |cast(4 AS bigint) AS constraints, cast(4 AS bigint) AS variables,
         |cast(1 AS bigint) AS pbs_ge, cast(0 AS bigint) AS pbs_eq,
         |cast(1 AS bigint) AS cards_ge, cast(1 AS bigint) AS cards_eq,
         |cast(1 AS bigint) AS clauses, cast(0 AS bigint) AS assignments,
         |cast(0 AS bigint) AS trivially_unsat,
         |cast(2 AS bigint) AS obj_terms,
         |cast(2 + a AS double) AS obj_max_val, cast(0 AS double) AS obj_min_val,
         |2 + (a - 2) / 2.0 AS obj_coeffs_mean,
         |((a - 2) * (a - 2)) / 4.0 AS obj_coeffs_variance,
         |cast(2 AS double) AS obj_coeffs_min, cast(a AS double) AS obj_coeffs_max,
         |cast(CASE WHEN a = 2 THEN 0 ELSE 1 END AS double) AS obj_coeffs_entropy
         |FROM base ORDER BY id""".stripMargin,
    "q33_opb_hash" ->
      // closed-form normalizeOpb stream: statements concatenated with no
      // separator; objective tokens space-prefixed, constraint tokens
      // space-suffixed, relation verbatim, bound as ' <bound>;'
      s"""WITH $cnfBaseCte
         |SELECT id, md5('min: 2 x1 ' || cast(a AS varchar) ||
         |  ' x2;1 x1 1 x2 1 x3 >= 1;1 x1 1 x2 >= 2;' || cast(a AS varchar) ||
         |  ' x1 1 x3 >= ' || cast(a AS varchar) || ';1 x2 1 x3 = 1;') AS opb_hash
         |FROM base ORDER BY id""".stripMargin,
    "q34_dist_stats" ->
      // hand-derived from the reference fold (CaptureDistribution.cc:76-90)
      // over sizes [1,s] and balances [0,x]: mean 1+(s-1)/2 and x/2,
      // variance ((s-1)/2)^2 and (x/2)^2 (second fold step adds zero),
      // min/max = ends, entropy exactly 1.0 (two equal-count categories)
      s"""WITH $cnfBaseCte
         |SELECT id,
         |cast(2 AS bigint) AS clauses,
         |cast(CASE WHEN pos_d THEN b ELSE c END AS bigint) AS variables,
         |CASE WHEN pos_d THEN 1.5 ELSE 2.0 END AS vcg_cdegree_mean,
         |CASE WHEN pos_d THEN 0.25 ELSE 1.0 END AS vcg_cdegree_variance,
         |cast(1 AS double) AS vcg_cdegree_min,
         |CASE WHEN pos_d THEN 2.0 ELSE 3.0 END AS vcg_cdegree_max,
         |cast(1 AS double) AS vcg_cdegree_entropy,
         |CASE WHEN pos_d THEN 0.5 ELSE 0.25 END AS balancecls_mean,
         |CASE WHEN pos_d THEN 0.25 ELSE 0.0625 END AS balancecls_variance,
         |cast(0 AS double) AS balancecls_min,
         |CASE WHEN pos_d THEN 1.0 ELSE 0.5 END AS balancecls_max,
         |cast(1 AS double) AS balancecls_entropy
         |FROM base ORDER BY id""".stripMargin,
    "q35_iso_hash2" ->
      // constants derived INDEPENDENTLY of the engine by compiling the
      // reference's own ISOHash2.h against these exact documents
      // (tools/isohash2_oracle.md records the harness and outputs)
      s"""WITH $cnfBaseCte
         |SELECT id,
         |CASE WHEN pos_d THEN '68a00fa8125d23fc' ELSE 'ad8107aa2190eaa3' END AS iso2
         |FROM base ORDER BY id""".stripMargin,
    "q36_cnf2bip" ->
      // closed-form bipartite incidence doc: clause nodes d+1..d+3, one
      // edge per literal in per-clause (var, sign) sorted order, direction
      // clause->var for positive literals, var->clause for negative
      s"""WITH $cnfBaseCte
         |SELECT id,
         |cast(d + 3 AS bigint) AS bip_nodes, cast(6 AS bigint) AS bip_edges,
         |'c directed bipartite graph representation from cnf' || chr(10) ||
         |'p edge ' || cast(d + 3 AS varchar) || ' 6' || chr(10) ||
         |'e ' || cast(d + 1 AS varchar) || ' ' || cast(a AS varchar) || chr(10) ||
         |'e ' || cast(b AS varchar) || ' ' || cast(d + 1 AS varchar) || chr(10) ||
         |'e ' || cast(a AS varchar) || ' ' || cast(d + 2 AS varchar) || chr(10) ||
         |'e ' || cast(d + 2 AS varchar) || ' ' || cast(c AS varchar) || chr(10) ||
         |(CASE WHEN pos_d
         |  THEN 'e ' || cast(d + 2 AS varchar) || ' ' || cast(d AS varchar)
         |  ELSE 'e ' || cast(d AS varchar) || ' ' || cast(d + 2 AS varchar) END) || chr(10) ||
         |'e ' || cast(d + 3 AS varchar) || ' ' || cast(b AS varchar) || chr(10) AS bip_text
         |FROM base ORDER BY id""".stripMargin,
    "q37_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text FROM documents),
        |words AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM docs),
        |sh AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM words WHERE len(w) >= 3)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  cast(len(s_common) AS double) /
        |  cast(len(a.s) + len(b.s) - len(s_common) AS double) AS jaccard
        |FROM sh a JOIN sh b ON a.id < b.id
        |WHERE len(s_common) > 0 AND
        |  cast(len(s_common) AS double) / cast(len(a.s) + len(b.s) - len(s_common) AS double) >= 0.8
        |ORDER BY 1, 2""".stripMargin
        .replace("s_common", "list_intersect(a.s, b.s)"),
    "q38_wcnf_iso_hash" ->
      // hand-derived degree stream (see the query comment): both hash and
      // combined multisets are closed-form, soft occurrence weighted d+1
      s"""WITH $cnfBaseCte
         |SELECT id,
         |md5('0 1 0 1 softs 0 1 0 1 0 ' || cast(d + 1 AS varchar) || ' ') AS wcnf_iso
         |FROM base ORDER BY id""".stripMargin,
    "q39_pqbf_hash" ->
      // the CNF hash stream with quantifier-prefix markers kept
      s"""WITH $cnfBaseCte
         |SELECT id,
         |md5('e ' || cast(a AS varchar) || ' ' || cast(b AS varchar) || ' 0 a ' ||
         |  cast(c AS varchar) || ' ' || cast(d AS varchar) || ' 0 ' || norm_text) AS pqbf_hash
         |FROM norm ORDER BY id""".stripMargin,
    "q40_degree_stats" ->
      // exact replication of CaptureDistribution's incremental fold over the
      // sorted degree arrays (zeros first: mean stays 0, variance snaps to
      // mean^2 at the first element and stays; then two fold steps each) —
      // every subexpression parenthesized to the reference's op order. The
      // entropy terms mirror p * (ln(p)/ln(2)) and the reverse-sorted
      // accumulation ((0 - s_zero) - s_one) - s_one over counts [b-1, 1, 1].
      s"""WITH $cnfBaseCte,
         |m AS (
         |  SELECT id, b,
         |    (1.0/b) + (2 - (1.0/b))/(b+1) AS vd_mean,
         |    (2.0/b) + (3 - (2.0/b))/(b+1) AS vg_mean,
         |    (cast(b-1 AS double)/(b+1)) * (ln(cast(b-1 AS double)/(b+1))/ln(2)) AS s_zero,
         |    (1.0/(b+1)) * (ln(1.0/(b+1))/ln(2)) AS s_one
         |  FROM base),
         |v2 AS (
         |  SELECT *,
         |    (vd_mean*vd_mean) + ((1-vd_mean)*(1-vd_mean) - (vd_mean*vd_mean))/b AS vd_v2,
         |    (vg_mean*vg_mean) + ((2-vg_mean)*(2-vg_mean) - (vg_mean*vg_mean))/b AS vg_v2,
         |    (((0 - s_zero) - s_one) - s_one) / (ln(3)/ln(2)) AS deg_entropy
         |  FROM m)
         |SELECT id,
         |cast(b - 1 AS bigint) AS ccs,
         |vd_mean AS hornvars_mean,
         |vd_v2 + ((2-vd_mean)*(2-vd_mean) - vd_v2)/(b+1) AS hornvars_variance,
         |cast(0 AS double) AS hornvars_min, cast(2 AS double) AS hornvars_max,
         |deg_entropy AS hornvars_entropy,
         |vd_mean AS vcg_vdegree_mean,
         |vd_v2 + ((2-vd_mean)*(2-vd_mean) - vd_v2)/(b+1) AS vcg_vdegree_variance,
         |cast(0 AS double) AS vcg_vdegree_min, cast(2 AS double) AS vcg_vdegree_max,
         |deg_entropy AS vcg_vdegree_entropy,
         |vg_mean AS vg_degree_mean,
         |vg_v2 + ((3-vg_mean)*(3-vg_mean) - vg_v2)/(b+1) AS vg_degree_variance,
         |cast(0 AS double) AS vg_degree_min, cast(3 AS double) AS vg_degree_max,
         |deg_entropy AS vg_degree_entropy,
         |cast(2.5 AS double) AS cg_degree_mean, cast(0.25 AS double) AS cg_degree_variance,
         |cast(2 AS double) AS cg_degree_min, cast(3 AS double) AS cg_degree_max,
         |cast(1 AS double) AS cg_degree_entropy
         |FROM v2 ORDER BY id""".stripMargin,
    "q41_stream_sessions" ->
      // exact integer-microsecond mirror of session_window's merge rule
      // (split iff ts - prev_ts >= gap); session_start/end = min/max ts
      """WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, ts, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |    OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
        |  THEN 1 ELSE 0 END AS ns FROM e),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY us
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM m)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS session_revisits
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q42_decontaminate" ->
      """WITH corpus AS (SELECT doc_id AS cid, text FROM documents),
        |bench AS (SELECT doc_id AS bid, 'prefixtoken ' || text AS text
        |          FROM documents WHERE doc_id % 100 < 3),
        |cw AS (SELECT cid, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM corpus),
        |bw AS (SELECT bid, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM bench),
        |cs AS (SELECT cid, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM cw WHERE len(w) >= 3),
        |bs AS (SELECT bid, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM bw WHERE len(w) >= 3)
        |SELECT cid AS corpus_id, bid AS benchmark_id,
        |  cast(len(list_intersect(cs.s, bs.s)) AS double) / cast(len(bs.s) AS double) AS containment
        |FROM cs, bs
        |WHERE len(bs.s) > 0 AND
        |  cast(len(list_intersect(cs.s, bs.s)) AS double) / cast(len(bs.s) AS double) >= 0.5
        |ORDER BY 1, 2""".stripMargin,
    "q43_pii_scrub" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' contact user' || cast(doc_id AS varchar) || '@example.com at 10.1.' ||
        |  cast(doc_id % 200 AS varchar) || '.7 card 4111222233334444 ok' AS tx
        |  FROM documents)
        |SELECT doc_id,
        |cast(len(regexp_extract_all(tx, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint) AS n_email,
        |cast(len(regexp_extract_all(tx, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS bigint) AS n_ip,
        |cast(len(regexp_extract_all(tx, '\b\d{16}\b')) AS bigint) AS n_card,
        |md5(regexp_replace(regexp_replace(regexp_replace(tx,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\b\d{16}\b', '<CARD>', 'g')) AS scrubbed_md5
        |FROM t ORDER BY doc_id""".stripMargin,
    "q44_repetition_stats" ->
      """WITH t AS (SELECT doc_id,
        |  text || chr(10) || text || chr(10) || substr(text, 1, 20) AS tx FROM documents),
        |w AS (SELECT doc_id,
        |  list_filter(string_split_regex(tx, '\s+'), x -> x <> '') AS ws,
        |  list_filter(string_split(tx, chr(10)), x -> x <> '') AS ls FROM t)
        |SELECT doc_id,
        |cast(len(ws) AS bigint) AS n_words,
        |cast(len(list_distinct(ws)) AS bigint) AS n_distinct_words,
        |CASE WHEN len(ws) > 0
        |  THEN 1.0 - cast(len(list_distinct(ws)) AS double) / cast(len(ws) AS double)
        |  ELSE 0.0 END AS dup_word_frac,
        |CASE WHEN len(ws) > 0
        |  THEN cast(list_sum(list_transform(ws, x -> length(x))) AS double) / cast(len(ws) AS double)
        |  ELSE 0.0 END AS mean_word_len,
        |cast(len(ls) AS bigint) AS n_lines,
        |CASE WHEN len(ls) > 0
        |  THEN 1.0 - cast(len(list_distinct(ls)) AS double) / cast(len(ls) AS double)
        |  ELSE 0.0 END AS dup_line_frac
        |FROM w ORDER BY doc_id""".stripMargin,
    "q45_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::UBIGINT <
        |  CASE WHEN lang = 'en' THEN 2147483648 ELSE 1073741824 END
        |ORDER BY doc_id""".stripMargin,
    "q46_pack_sequences" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
        |  cast(len(string_split_regex(trim(text), '\s+')) AS bigint) AS n_tokens
        |  FROM documents WHERE length(text) > 0),
        |p AS (SELECT *, cast(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS pack_tokens_before
        |  FROM d)
        |SELECT doc_id, shard, n_tokens, pack_tokens_before,
        |  pack_tokens_before // 4096 AS pack_bin
        |FROM p ORDER BY doc_id""".stripMargin,
    "q47_multimodal_decode" ->
      """SELECT doc_id AS media_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |cast(length(text) AS bigint) AS byte_len,
        |substr(sha256(text), 1, 16) AS content_sha,
        |cast(1 AS bigint) AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q48_dup_clusters" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text FROM documents),
        |words AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM docs),
        |sh AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM words WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM sh a JOIN sh b ON a.id < b.id
        |  WHERE len(list_intersect(a.s, b.s)) > 0 AND
        |    cast(len(list_intersect(a.s, b.s)) AS double) /
        |    cast(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS double) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a)
        |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q49_passages" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws FROM documents),
        |e AS (SELECT doc_id, ws,
        |  unnest(range(0, ((len(ws) - 1) // 64) * 64 + 1, 64)) AS st
        |  FROM w WHERE len(ws) > 0)
        |SELECT doc_id, cast(st // 64 AS bigint) AS passage_no,
        |  array_to_string(list_slice(ws, st + 1, st + 128), ' ') AS passage
        |FROM e ORDER BY doc_id, passage_no""".stripMargin,
    "q50_feature_pipeline" ->
      // the whole pipeline's output recomputed independently: hash from the
      // norm stream, sessions by the floor-second 6h-gap rule, lag(clauses)
      // null exactly on each url's first revisit (timestamps unique by
      // construction: +orderkey MICROseconds keeps date order and the
      // floor second)
      s"""WITH $cnfBaseCte,
         |pg AS (SELECT id, cust,
         |  epoch_us(cast(odate AS timestamp)) + id AS us, norm_text FROM norm),
         |sess AS (SELECT *,
         |  CASE WHEN lag(us) OVER w IS NULL
         |    OR (us // 1000000) - (lag(us) OVER w // 1000000) > 21600
         |  THEN 1 ELSE 0 END AS ns,
         |  row_number() OVER w AS rn
         |  FROM pg WINDOW w AS (PARTITION BY cust ORDER BY us)),
         |g AS (SELECT *, cast(sum(ns) OVER (PARTITION BY cust ORDER BY us
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS bigint) AS session_no
         |  FROM sess)
         |SELECT id, 'cust-' || cast(cust AS varchar) AS url,
         |make_timestamp(us) AS warc_ts,
         |md5(norm_text) AS instance_id, 'ok' AS status,
         |cast(3 AS bigint) AS clauses, session_no,
         |'cust-' || cast(cust AS varchar) || '#' || cast(session_no AS varchar) AS session_id,
         |CASE WHEN rn = 1 THEN NULL ELSE cast(3 AS double) END AS clauses_prev,
         |CASE WHEN rn = 1 THEN NULL ELSE cast(0 AS double) END AS clauses_delta
         |FROM g ORDER BY id""".stripMargin,
    "q51_sql_registration" ->
      s"""WITH $cnfBaseCte
         |SELECT id, md5(norm_text) AS gbd, md5('0 1 0 1 1 1 1 1 ') AS iso,
         |norm_text AS norm FROM norm ORDER BY id""".stripMargin,
    "q52_pagetable_prune" ->
      s"""WITH $cnfBaseCte
         |SELECT id, 'cust-' || cast(cust AS varchar) AS url,
         |cast(date_trunc('month', cast(odate AS timestamp)) AS timestamp) AS warc_ts, a
         |FROM base
         |WHERE cust IN (1, 7)
         |  AND datediff('day', DATE '1970-01-01',
         |        cast(date_trunc('month', cast(odate AS timestamp)) AS date)) >= 9500
         |ORDER BY id""".stripMargin,
    "q53_salted_agg" ->
      """SELECT user_id, count(*) AS cnt,
        |cast(sum(cast(round(value * 100) AS bigint)) AS bigint) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q54_bpe_tokens" ->
      """SELECT doc_id,
        |cast(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(string_split_regex(trim(text), '\s+')) END AS bigint) AS n_ws,
        |cast(
        |  coalesce(list_sum(list_transform(
        |    regexp_extract_all(text, '[A-Za-z0-9_'']+'), w -> (length(w) + 3) // 4)), 0)
        |  + length(regexp_replace(text, '[A-Za-z0-9_'']|\s', '', 'g'))
        |AS bigint) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q55-q57: constants from the REFERENCE TREE (never engine output) —
    // q55 the 32-hex gbd-hash filename prefixes of
    // test/resources/test_files/<md5>-<name>.cnf.xz; q56/q57 the
    // integer-valued rows of test/resources/expected_records/{cnf_base,
    // cnf_gates,wcnf_base,opb_base}.txt (the reference's own regression
    // values for the same fixtures, tests_feature_extraction.cc:37-66)
    "q55_golden_hashes" ->
      """SELECT * FROM (VALUES
        |  ('0297c2a35f116ffd5382aea5b421e6df', '0297c2a35f116ffd5382aea5b421e6df'),
        |  ('246afd75cb97a21144f368c00252a656', '246afd75cb97a21144f368c00252a656'),
        |  ('328da7966b09b2f6e99c93c4e877fbff', '328da7966b09b2f6e99c93c4e877fbff'))
        |AS t(file_hash, gbd) ORDER BY file_hash""".stripMargin,
    "q56_golden_cnf" ->
      """SELECT 'cnf_test.cnf.xz' AS file,
        |CAST(6663 AS BIGINT) AS clauses, CAST(270 AS BIGINT) AS variables,
        |CAST(92378 AS BIGINT) AS bytes, CAST(1 AS BIGINT) AS ccs,
        |CAST(0 AS BIGINT) AS cls1, CAST(1362 AS BIGINT) AS cls2,
        |CAST(5280 AS BIGINT) AS cls3, CAST(12 AS BIGINT) AS cls8,
        |CAST(9 AS BIGINT) AS cls10p, CAST(21 AS BIGINT) AS horn,
        |CAST(6642 AS BIGINT) AS invhorn, CAST(21 AS BIGINT) AS positive,
        |CAST(1890 AS BIGINT) AS negative, CAST(270 AS BIGINT) AS n_vars,
        |CAST(78 AS BIGINT) AS n_gates, CAST(847 AS BIGINT) AS n_roots,
        |CAST(192 AS BIGINT) AS n_none, CAST(78 AS BIGINT) AS n_mono""".stripMargin,
    "q57_golden_wcnf_opb" ->
      """SELECT t.file, t.feature, CAST(t.value AS BIGINT) AS value FROM (VALUES
        |  ('opb_test.opb.xz', 'assignments', 0),
        |  ('opb_test.opb.xz', 'cards_eq', 0),
        |  ('opb_test.opb.xz', 'cards_ge', 0),
        |  ('opb_test.opb.xz', 'clauses', 1581),
        |  ('opb_test.opb.xz', 'constraints', 1581),
        |  ('opb_test.opb.xz', 'obj_coeffs_max', 1),
        |  ('opb_test.opb.xz', 'obj_coeffs_min', 1),
        |  ('opb_test.opb.xz', 'obj_max_val', 634),
        |  ('opb_test.opb.xz', 'obj_min_val', 0),
        |  ('opb_test.opb.xz', 'obj_terms', 634),
        |  ('opb_test.opb.xz', 'pbs_eq', 0),
        |  ('opb_test.opb.xz', 'pbs_ge', 0),
        |  ('opb_test.opb.xz', 'trivially_unsat', 0),
        |  ('opb_test.opb.xz', 'variables', 635),
        |  ('wcnf_test.wcnf.xz', 'h_cg_degree_max', 72),
        |  ('wcnf_test.wcnf.xz', 'h_cg_degree_min', 3),
        |  ('wcnf_test.wcnf.xz', 'h_clauses', 2874),
        |  ('wcnf_test.wcnf.xz', 'h_cls1', 92),
        |  ('wcnf_test.wcnf.xz', 'h_cls2', 468),
        |  ('wcnf_test.wcnf.xz', 'h_cls3', 2252),
        |  ('wcnf_test.wcnf.xz', 'h_cls4', 62),
        |  ('wcnf_test.wcnf.xz', 'h_horn', 1640),
        |  ('wcnf_test.wcnf.xz', 'h_invhorn', 1506),
        |  ('wcnf_test.wcnf.xz', 'h_negative', 426),
        |  ('wcnf_test.wcnf.xz', 'h_positive', 114),
        |  ('wcnf_test.wcnf.xz', 'h_vcg_cdegree_max', 4),
        |  ('wcnf_test.wcnf.xz', 'h_vcg_cdegree_min', 1),
        |  ('wcnf_test.wcnf.xz', 'h_vcg_vdegree_max', 18),
        |  ('wcnf_test.wcnf.xz', 'h_vcg_vdegree_min', 0),
        |  ('wcnf_test.wcnf.xz', 'h_vg_degree_max', 57),
        |  ('wcnf_test.wcnf.xz', 'h_vg_degree_min', 0),
        |  ('wcnf_test.wcnf.xz', 's_clauses', 240),
        |  ('wcnf_test.wcnf.xz', 's_cls1', 240),
        |  ('wcnf_test.wcnf.xz', 's_weight_max', 1),
        |  ('wcnf_test.wcnf.xz', 's_weight_min', 1),
        |  ('wcnf_test.wcnf.xz', 's_weight_sum', 240),
        |  ('wcnf_test.wcnf.xz', 'variables', 1124))
        |AS t(file, feature, value) ORDER BY t.file, t.feature""".stripMargin,
    // q58: every value known BY CONSTRUCTION of the media fixtures (PNG/JPEG
    // pixel dims + color model, WAV header arithmetic: dataBytes*1000/byteRate)
    "q58_real_codecs" ->
      """SELECT CAST(media_id AS BIGINT) AS media_id, kind,
        |CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
        |CAST(channels AS BIGINT) AS channels,
        |CAST(duration_ms AS BIGINT) AS duration_ms, CAST(ok AS BIGINT) AS ok
        |FROM (VALUES
        |  (1, 'image', 17, 9, 3, 0, 1),
        |  (2, 'image', 33, 21, 4, 0, 1),
        |  (3, 'image', 24, 16, 3, 0, 1),
        |  (4, 'audio', 0, 0, 1, 1000, 1),
        |  (5, 'audio', 0, 0, 2, 250, 1),
        |  (6, 'image', 0, 0, 0, 0, 0),
        |  (7, 'video', 640, 360, 0, 2500, 1),
        |  (8, 'video', 0, 0, 0, 0, 0))
        |AS t(media_id, kind, width, height, channels, duration_ms, ok)
        |ORDER BY media_id""".stripMargin,
    // q59: statuses derive from the doc construction (id mod 3), never from
    // the engine — id%3=1 is comment-padded past the 4096-byte cap (limit),
    // id%3=0 appends 50 clauses = 106 literals > the 100-op cap at ~400
    // bytes (timeout), the rest parse clean (ok, instance id present)
    "q59_resource_envelope" ->
      """SELECT o_orderkey AS id,
        |CASE WHEN o_orderkey % 3 = 1 THEN 'limit'
        |     WHEN o_orderkey % 3 = 0 THEN 'timeout'
        |     ELSE 'ok' END AS status,
        |CAST(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS has_id
        |FROM orders ORDER BY id""".stripMargin,
    // q60: the q36 closed-form bip text re-derived, content hash =
    // md5(bip_text), provenance to_cnf = md5(norm stream) — every column
    // independent of the engine's write/read round trip
    "q60_split_sink" ->
      s"""WITH $cnfBaseCte,
         |bip AS (
         |  SELECT id, d,
         |  md5(norm_text) AS to_cnf,
         |  'c directed bipartite graph representation from cnf' || chr(10) ||
         |  'p edge ' || cast(d + 3 AS varchar) || ' 6' || chr(10) ||
         |  'e ' || cast(d + 1 AS varchar) || ' ' || cast(a AS varchar) || chr(10) ||
         |  'e ' || cast(b AS varchar) || ' ' || cast(d + 1 AS varchar) || chr(10) ||
         |  'e ' || cast(a AS varchar) || ' ' || cast(d + 2 AS varchar) || chr(10) ||
         |  'e ' || cast(d + 2 AS varchar) || ' ' || cast(c AS varchar) || chr(10) ||
         |  (CASE WHEN pos_d
         |    THEN 'e ' || cast(d + 2 AS varchar) || ' ' || cast(d AS varchar)
         |    ELSE 'e ' || cast(d AS varchar) || ' ' || cast(d + 2 AS varchar) END) || chr(10) ||
         |  'e ' || cast(d + 3 AS varchar) || ' ' || cast(b AS varchar) || chr(10) AS bip_text
         |  FROM norm)
         |SELECT id, md5(bip_text) AS hash, to_cnf,
         |cast(d + 3 AS bigint) AS bip_nodes, cast(6 AS bigint) AS bip_edges,
         |cast(length(bip_text) AS bigint) AS text_len
         |FROM bip ORDER BY id""".stripMargin,

    // q61: with nProbe == nCentroids the IVF result must equal brute-force
    // top-k, which DuckDB recomputes independently — the distributed-Lloyd
    // codebook influences pruning only, never this output
    "q61_ann_ivf_distributed" ->
      """SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |row_number() OVER (PARTITION BY a.vec_id
        |  ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rank
        |FROM embeddings a JOIN embeddings b ON a.vec_id < 50 AND b.vec_id != a.vec_id
        |QUALIFY rank <= 5 ORDER BY 1, 3""".stripMargin,

    // q62: the oracle never sees the compressed bytes — it certifies the
    // round trip from the PLAIN table (md5 of the UTF-8 text + char length),
    // with the codec label re-derived from the same doc_id rotation
    "q62_decompress_multicodec" ->
      """SELECT doc_id,
        |CASE doc_id % 4 WHEN 0 THEN 'xz' WHEN 1 THEN 'gzip'
        |  WHEN 2 THEN 'bzip2' ELSE 'zstd' END AS codec,
        |md5(text) AS text_md5, cast(length(text) AS bigint) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q63: the bucketed layout must not change the JOIN's semantics — the
    // oracle is the plain join of the two source tables
    "q63_bucketed_join" ->
      """SELECT o_orderkey AS id, 'cust-' || c_custkey AS url,
        |c_mktsegment AS segment,
        |cast(round(o_totalprice * 100) AS bigint) AS price_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY id""".stripMargin,

    // q64: with an un-evictable replay watermark, streaming dedup's key
    // set is exactly the batch DISTINCT
    "q64_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    // q65: the same RE2 patterns on the same constructed url string;
    // depth counts non-empty path segments on both sides
    "q65_url_features" ->
      """WITH u AS (SELECT doc_id,
        |  'https://www.' || source || '.example.com/docs/' || lang || '/d'
        |    || cast(doc_id AS varchar)
        |    || CASE WHEN doc_id % 3 = 0 THEN '?ref=r' || cast(doc_id % 7 AS varchar)
        |       ELSE '' END AS url FROM documents),
        |p AS (SELECT doc_id, url,
        |  regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS url_scheme,
        |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1) AS url_host,
        |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS url_path
        |FROM u)
        |SELECT doc_id, url, url_scheme, url_host,
        |  CASE WHEN len(string_split(url_host, '.')) >= 2
        |    THEN string_split(url_host, '.')[-2] || '.' || string_split(url_host, '.')[-1]
        |    ELSE url_host END AS url_domain,
        |  url_path,
        |  cast(len(list_filter(string_split(url_path, '/'), x -> x <> '')) AS bigint) AS url_depth,
        |  contains(url, '?') AS url_has_query
        |FROM p ORDER BY doc_id""".stripMargin,

    // q66: same template construction; common = non-empty lines whose
    // corpus occurrence count > 1; reassembly = position-ordered list of
    // surviving lines (zipped unnest gives positions); docs losing every
    // line coalesce to ''
    "q66_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |  'NAV: home | about | contact' || chr(10) || text || chr(10) || chr(10) ||
        |  CASE WHEN doc_id % 3 = 0 THEN 'share on social media'
        |       ELSE 'p' || cast(doc_id % 11 AS varchar) END AS text
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
        |lines AS (SELECT doc_id, unnest(arr) AS line,
        |                 unnest(range(1, len(arr)+1)) AS pos FROM ls),
        |common AS (SELECT line FROM lines WHERE length(line) >= 1
        |           GROUP BY line HAVING count(*) > 1),
        |kept AS (SELECT l.doc_id, l.line, l.pos FROM lines l
        |         LEFT JOIN common c USING (line) WHERE c.line IS NULL),
        |agg AS (SELECT doc_id,
        |          array_to_string(list(line ORDER BY pos), chr(10)) AS text_dedup,
        |          count(*) AS n_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.text_dedup, '') AS text_dedup,
        |  cast(len(string_split(d.text, chr(10))) AS bigint) AS n_lines,
        |  cast(coalesce(a.n_kept, 0) AS bigint) AS n_lines_kept
        |FROM d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q67: same domain construction (host has exactly two labels so the
    // registrable domain IS the host); rank = first 8 md5 hex digits of
    // the id string as a uniform integer, tie-broken by id — identical to
    // the engine's md5-rank (q45's portable-rank pattern)
    "q67_domain_cap" ->
      """WITH u AS (SELECT doc_id,
        |  source || cast(doc_id % 13 AS varchar) || '.org' AS url_domain
        |  FROM documents),
        |r AS (SELECT doc_id, url_domain,
        |  row_number() OVER (PARTITION BY url_domain ORDER BY
        |    ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))::UBIGINT,
        |    doc_id) AS key_rank
        |  FROM u)
        |SELECT doc_id, url_domain, cast(key_rank AS bigint) AS key_rank
        |FROM r WHERE key_rank <= 3 ORDER BY doc_id""".stripMargin,

    // q68: same adversarial-suffix construction; every signal recomputed
    // from scratch (int/int double divisions are bit-stable across
    // engines); concat_ws skips the NULL arms of un-failed rules in both
    // engines, so qf_reasons is the fixed-order failed-rule list
    "q68_quality_filter" ->
      """WITH d AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 7 = 0 THEN ' ' || repeat('9 ', 29) || '9' ELSE '' END ||
        |  CASE WHEN doc_id % 11 = 0
        |       THEN chr(10) || 'REPEATED' || chr(10) || 'REPEATED' ||
        |            chr(10) || 'REPEATED' || chr(10) || 'REPEATED'
        |       ELSE '' END AS tx
        |  FROM documents),
        |w AS (SELECT doc_id,
        |  list_filter(string_split_regex(tx, '\s+'), x -> x <> '') AS ws,
        |  list_filter(string_split(tx, chr(10)), x -> x <> '') AS ls FROM d),
        |s AS (SELECT doc_id,
        |  cast(len(ws) AS bigint) AS n_words,
        |  CASE WHEN len(ws) > 0
        |    THEN cast(list_sum(list_transform(ws, x -> length(x))) AS double) / cast(len(ws) AS double)
        |    ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN len(ls) > 0
        |    THEN 1.0 - cast(len(list_distinct(ls)) AS double) / cast(len(ls) AS double)
        |    ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN len(ws) > 0
        |    THEN cast(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS double) / cast(len(ws) AS double)
        |    ELSE 0.0 END AS alpha_word_frac,
        |  cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |    sw -> list_contains(list_transform(ws, x -> lower(x)), sw))) AS bigint) AS stopword_hits
        |  FROM w),
        |r AS (SELECT *, concat_ws(',',
        |  CASE WHEN n_words < 30 THEN 'too_few_words' END,
        |  CASE WHEN n_words > 10000 THEN 'too_many_words' END,
        |  CASE WHEN mean_word_len < 3.0 THEN 'short_words' END,
        |  CASE WHEN mean_word_len > 10.0 THEN 'long_words' END,
        |  CASE WHEN dup_line_frac > 0.30 THEN 'dup_lines' END,
        |  CASE WHEN alpha_word_frac < 0.80 THEN 'low_alpha' END,
        |  CASE WHEN stopword_hits < 1 THEN 'few_stopwords' END) AS qf_reasons
        |  FROM s)
        |SELECT doc_id, n_words, mean_word_len, dup_line_frac, alpha_word_frac,
        |  stopword_hits, qf_reasons = '' AS qf_keep, qf_reasons
        |FROM r ORDER BY doc_id""".stripMargin,

    // q69: ledger/shard construction mirrored; survivors = min-id per key
    // within the shard, anti-joined against the ledger keys
    "q69_incremental_dedup" ->
      """WITH seen AS (SELECT md5(text) AS k FROM documents WHERE doc_id % 5 = 0),
        |inc AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'tpl ' || cast(doc_id % 4 AS varchar)
        |       ELSE text END AS tx
        |  FROM documents WHERE doc_id % 2 = 0),
        |keyed AS (SELECT doc_id, md5(tx) AS k FROM inc),
        |canon AS (SELECT k, min(doc_id) AS doc_id FROM keyed GROUP BY k)
        |SELECT c.doc_id, c.k AS dup_key FROM canon c
        |LEFT JOIN seen s ON c.k = s.k WHERE s.k IS NULL
        |ORDER BY c.doc_id""".stripMargin,

    // q70: the page is rebuilt from the same table and the SAME ordered
    // RE2-portable chain re-applied step by step (CTE per step) —
    // byte-identical extracted text is the contract. chr(10)/chr(34)/
    // chr(39) dodge SQL quoting of newline/quote characters.
    "q70_html_extract" ->
      """WITH pages AS (SELECT doc_id,
        |  '<html><!-- snap ' || cast(doc_id AS varchar) || ' --><head><title>Doc</title>' ||
        |  '<style>p{color:red}</style>' ||
        |  '<script type="text/javascript">var x = 1 < 2;</script></head>' ||
        |  '<body><h1>Title &amp; ' || cast(doc_id AS varchar) || '</h1><p>' || text ||
        |  '</p><div>tail &lt;ok&gt; &quot;q&#39;s&quot;&nbsp;end</div><br></body></html>' AS html
        |  FROM documents),
        |a AS (SELECT doc_id, regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS x FROM pages),
        |b AS (SELECT doc_id, regexp_replace(x, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS x FROM a),
        |c AS (SELECT doc_id, regexp_replace(x, '(?s)<!--.*?-->', '', 'g') AS x FROM b),
        |d AS (SELECT doc_id, regexp_replace(x, '(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol|/title)\b[^>]*>', chr(10), 'g') AS x FROM c),
        |e AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', '', 'g') AS x FROM d),
        |f AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(x,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)), '&#39;', chr(39)),
        |  '&nbsp;', ' '), '&amp;', '&') AS x FROM e),
        |g AS (SELECT doc_id, regexp_replace(x, '[ \t\r\f]+', ' ', 'g') AS x FROM f),
        |h AS (SELECT doc_id, regexp_replace(x, ' ?\n ?', chr(10), 'g') AS x FROM g),
        |i AS (SELECT doc_id, regexp_replace(x, '\n+', chr(10), 'g') AS x FROM h)
        |SELECT doc_id, regexp_replace(x, '^\s+|\s+$', '', 'g') AS extracted_text
        |FROM i ORDER BY doc_id""".stripMargin,

    "q71_revisit_diff" -> revisitDiffOracleSql,

    // q72: SCD2 intervals — lead over (key, ts), newest row open-ended
    "q72_snapshot_intervals" ->
      """SELECT user_id, ts, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
        |FROM events ORDER BY user_id, ts""".stripMargin,

    // q73: identical page rebuilt, hrefs re-extracted with the same RE2
    // pattern (group 1), positions via an indexed list_transform, targets
    // resolved by the same CASE grammar
    "q73_extract_links" ->
      """WITH pages AS (SELECT doc_id,
        |  'https://site' || cast(doc_id % 13 AS varchar) || '.org/p/' || cast(doc_id AS varchar) AS url,
        |  '<p>see <a href="https://ref' || cast((doc_id + 1) % 13 AS varchar) ||
        |  '.org/a">x</a> and <a class="c" href="/local/' || cast(doc_id AS varchar) ||
        |  '">y</a><a href="#frag">z</a><a name="n">w</a>' ||
        |  '<a href=''sq.html''>v</a></p>' AS html FROM documents),
        |ex AS (SELECT doc_id, url, unnest(list_transform(
        |    regexp_extract_all(html, '(?i)<a\b[^>]*\bhref="([^"]*)"', 1),
        |    (x, i) -> {'link_no': cast(i - 1 AS bigint), 'href': x}), recursive := true)
        |  FROM pages)
        |SELECT doc_id, link_no, href,
        |  CASE WHEN regexp_matches(href, '^https?://') THEN href
        |       WHEN href LIKE '/%' AND href NOT LIKE '//%'
        |            AND regexp_extract(url, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1) <> ''
        |       THEN regexp_extract(url, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1) || href
        |       ELSE NULL END AS target_url
        |FROM ex ORDER BY doc_id, link_no""".stripMargin,

    "q74_pagerank" -> pageRankOracleSql,

    // q75: DuckDB's own quantile_disc implements the same max(1, ceil(q*n))
    // element rule; parallel unnests zip positionally
    "q75_quantiles" ->
      """SELECT lang, unnest([0.25, 0.5, 0.75]) AS q,
        |  unnest(quantile_disc(n_chars, [0.25, 0.5, 0.75])) AS n_chars_q
        |FROM documents GROUP BY lang ORDER BY lang, q""".stripMargin,

    // q76: identical md5 deal — shard from the first 8 hex digits,
    // position by (full hash, id) within the shard
    "q76_shuffle_shards" ->
      """WITH h AS (SELECT doc_id,
        |  md5('epoch7' || cast(doc_id AS varchar)) AS hh FROM documents),
        |s AS (SELECT doc_id, hh,
        |  ('0x' || substr(hh, 1, 8))::BIGINT % 8 AS shard FROM h)
        |SELECT doc_id, shard,
        |  cast(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id) AS bigint) AS shard_pos
        |FROM s ORDER BY doc_id""".stripMargin,

    // q77: same tokenizer grammar as the simhash family; vocabulary =
    // top-100 by (count DESC, token ASC); counts are plain integers
    "q77_oov_stats" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS t FROM documents),
        |freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |vocab AS (SELECT t FROM freq ORDER BY c DESC, t ASC LIMIT 100),
        |tc AS (SELECT doc_id, count(*) AS n,
        |  sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS o
        |  FROM tok LEFT JOIN vocab v USING (t) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  cast(coalesce(tc.n, 0) AS bigint) AS n_tokens,
        |  cast(coalesce(tc.o, 0) AS bigint) AS oov_count
        |FROM documents d LEFT JOIN tc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q78: the batch dual of the streaming state machine — row_number is
    // the revisit counter, the running sum of the lag-change flag is the
    // change counter ('' is the operator's empty-state sentinel, so a
    // key's first event always counts as changed)
    "q78_stream_changes" ->
      """WITH e AS (SELECT cast(user_id AS varchar) AS url, ts, event_type FROM events),
        |w AS (SELECT url, ts, event_type,
        |  cast(row_number() OVER (PARTITION BY url ORDER BY ts) AS bigint) AS revisit_no,
        |  CASE WHEN coalesce(lag(event_type) OVER (PARTITION BY url ORDER BY ts), '')
        |       <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM e)
        |SELECT url, ts AS warc_ts, event_type AS instance_id, revisit_no,
        |  cast(sum(chg) OVER (PARTITION BY url ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS bigint) AS change_no,
        |  chg = 1 AS changed
        |FROM w ORDER BY url, warc_ts""".stripMargin,

    // q79: q09's lateral latest-before, post-filtered by the whole-second
    // staleness bound (floor(epoch) on both sides = the engine's
    // epoch-seconds cast); a too-stale match degrades to unmatched nulls
    "q79_asof_tolerance" ->
      """WITH m AS (
        |  SELECT c.event_id, c.user_id, c.ts, p.value, p.ts AS pts
        |  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |  LEFT JOIN LATERAL (
        |    SELECT value, ts FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id AND p.ts <= c.ts
        |    ORDER BY p.ts DESC, p.value DESC LIMIT 1) p ON true)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN ok THEN value END AS purchase_value,
        |  CASE WHEN ok THEN pts END AS purchase_ts,
        |  ok AS matched
        |FROM (SELECT *, pts IS NOT NULL AND
        |  cast(floor(epoch(ts)) AS bigint) - cast(floor(epoch(pts)) AS bigint) <= 43200 AS ok
        |  FROM m)
        |ORDER BY event_id""".stripMargin,

    // q80: floor-seconds per row then lag-difference (the engine's cast
    // order), median via quantile_disc
    "q80_crawl_cadence" ->
      """WITH d AS (SELECT user_id,
        |  cast(floor(epoch(ts)) AS bigint) -
        |  lag(cast(floor(epoch(ts)) AS bigint))
        |    OVER (PARTITION BY user_id ORDER BY ts) AS gap
        |  FROM events)
        |SELECT user_id, cast(0.5 AS double) AS q,
        |  quantile_disc(gap, 0.5) AS median_gap_s
        |FROM d WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q81: every stage recomputed in one CTE chain — q70's extraction
    // grammar, q66's line-df dedup (maxDf=1), q68's quality signals
    // (thresholds 20/10000/3.0/10.0/0.30/0.80/1), q12's min-id canonical,
    // q45's integer sampling thresholds
    "q81_curation_pipeline" ->
      """WITH pages AS (SELECT doc_id, lang,
        |  '<html><!-- snap ' || cast(doc_id AS varchar) || ' --><head><title>Doc</title>' ||
        |  '<style>p{color:red}</style>' ||
        |  '<script type="text/javascript">var x = 1 < 2;</script></head>' ||
        |  '<body><h1>Title &amp; ' || cast(doc_id AS varchar) || '</h1><p>' || text ||
        |  '</p><div>tail &lt;ok&gt; &quot;q&#39;s&quot;&nbsp;end</div><br></body></html>' AS html
        |  FROM documents),
        |a AS (SELECT doc_id, lang, regexp_replace(html, '(?is)<script\b[^>]*>.*?</script>', '', 'g') AS x FROM pages),
        |b AS (SELECT doc_id, lang, regexp_replace(x, '(?is)<style\b[^>]*>.*?</style>', '', 'g') AS x FROM a),
        |c AS (SELECT doc_id, lang, regexp_replace(x, '(?s)<!--.*?-->', '', 'g') AS x FROM b),
        |d AS (SELECT doc_id, lang, regexp_replace(x, '(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol|/title)\b[^>]*>', chr(10), 'g') AS x FROM c),
        |e AS (SELECT doc_id, lang, regexp_replace(x, '(?s)<[^>]*>', '', 'g') AS x FROM d),
        |f AS (SELECT doc_id, lang, replace(replace(replace(replace(replace(replace(x,
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)), '&#39;', chr(39)),
        |  '&nbsp;', ' '), '&amp;', '&') AS x FROM e),
        |g AS (SELECT doc_id, lang, regexp_replace(x, '[ \t\r\f]+', ' ', 'g') AS x FROM f),
        |h AS (SELECT doc_id, lang, regexp_replace(x, ' ?\n ?', chr(10), 'g') AS x FROM g),
        |i AS (SELECT doc_id, lang, regexp_replace(x, '\n+', chr(10), 'g') AS x FROM h),
        |et AS (SELECT doc_id, lang, regexp_replace(x, '^\s+|\s+$', '', 'g') AS et FROM i),
        |ls AS (SELECT doc_id, string_split(et, chr(10)) AS arr FROM et),
        |lines AS (SELECT doc_id, unnest(arr) AS line,
        |               unnest(range(1, len(arr)+1)) AS pos FROM ls),
        |common AS (SELECT line FROM lines WHERE length(line) >= 1
        |           GROUP BY line HAVING count(*) > 1),
        |kept AS (SELECT l.doc_id, l.line, l.pos FROM lines l
        |         LEFT JOIN common cm USING (line) WHERE cm.line IS NULL),
        |cl AS (SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS tx
        |       FROM kept GROUP BY doc_id),
        |cleaned AS (SELECT et.doc_id, et.lang, coalesce(cl.tx, '') AS tx
        |            FROM et LEFT JOIN cl USING (doc_id)),
        |w2 AS (SELECT doc_id, lang, tx,
        |  list_filter(string_split_regex(tx, '\s+'), x -> x <> '') AS ws,
        |  list_filter(string_split(tx, chr(10)), x -> x <> '') AS lsx FROM cleaned),
        |s2 AS (SELECT doc_id, lang, tx,
        |  cast(len(ws) AS bigint) AS n_words,
        |  CASE WHEN len(ws) > 0
        |    THEN cast(list_sum(list_transform(ws, x -> length(x))) AS double) / cast(len(ws) AS double)
        |    ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN len(lsx) > 0
        |    THEN 1.0 - cast(len(list_distinct(lsx)) AS double) / cast(len(lsx) AS double)
        |    ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN len(ws) > 0
        |    THEN cast(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]'))) AS double) / cast(len(ws) AS double)
        |    ELSE 0.0 END AS alpha_word_frac,
        |  cast(len(list_filter(['the','be','to','of','and','that','have','with'],
        |    sw -> list_contains(list_transform(ws, x -> lower(x)), sw))) AS bigint) AS stopword_hits
        |  FROM w2),
        |g2 AS (SELECT doc_id, lang, tx, n_words FROM s2
        |  WHERE NOT (n_words < 20 OR n_words > 10000 OR mean_word_len < 3.0
        |    OR mean_word_len > 10.0 OR dup_line_frac > 0.30
        |    OR alpha_word_frac < 0.80 OR stopword_hits < 1)),
        |k2 AS (SELECT *, md5(tx) AS dup_key FROM g2),
        |canon AS (SELECT dup_key, min(doc_id) AS cid FROM k2 GROUP BY dup_key)
        |SELECT k2.doc_id, k2.lang, k2.n_words, md5(k2.tx) AS clean_md5
        |FROM k2 JOIN canon cn ON k2.dup_key = cn.dup_key AND k2.doc_id = cn.cid
        |WHERE ('0x' || substr(md5(cast(k2.doc_id AS varchar)), 1, 8))::UBIGINT <
        |  CASE WHEN k2.lang = 'en' THEN 2147483648 ELSE 1073741824 END
        |ORDER BY k2.doc_id""".stripMargin,

    // q82: full-outer join of the two day snapshots on the content hash
    "q82_snapshot_diff" ->
      """WITH d1 AS (SELECT doc_id, md5(text) AS old_key FROM documents
        |            WHERE doc_id % 4 <> 3),
        |d2 AS (SELECT doc_id, md5(CASE WHEN doc_id % 8 = 0
        |         THEN text || ' updated' ELSE text END) AS new_key
        |       FROM documents WHERE doc_id % 4 <> 1)
        |SELECT doc_id, old_key, new_key,
        |  CASE WHEN old_key IS NULL THEN 'added'
        |       WHEN new_key IS NULL THEN 'removed'
        |       WHEN old_key = new_key THEN 'unchanged'
        |       ELSE 'changed' END AS diff_status
        |FROM d1 FULL OUTER JOIN d2 USING (doc_id)
        |ORDER BY 1""".stripMargin,

    // q83: same tokenizer grammar; idf is the exact-integer rational
    // (1e6 * N) // df, so score and the (score desc, term asc) top-5 cut
    // replay bit-for-bit
    "q83_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf, df, tf * ((1000000 * n_docs) // df) AS score_int
        |       FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |rk AS (SELECT *, cast(row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score_int DESC, term ASC) AS bigint) AS rank FROM sc)
        |SELECT doc_id, term, tf, df, score_int, rank FROM rk
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // q84: identical page rebuilt; full anchors re-extracted (group 0),
    // href/text re-extracted per anchor, targets resolved by the same
    // CASE grammar as q73
    "q84_anchor_links" ->
      (s"""WITH $q84PagesCte,
         |ex AS (SELECT doc_id, url, unnest(list_transform(
         |    regexp_extract_all(html, '$AnchorReSql', 0),
         |    (x, i) -> {'link_no': cast(i - 1 AS bigint), 'a': x}),
         |    recursive := true) FROM pages)
         |SELECT doc_id, link_no,
         |  regexp_extract(a, '$AnchorReSql', 1) AS href,
         |  regexp_extract(a, '$AnchorReSql', 2) AS anchor_text,
         |  CASE WHEN regexp_matches(regexp_extract(a, '$AnchorReSql', 1), '^https?://')
         |       THEN regexp_extract(a, '$AnchorReSql', 1)
         |       WHEN regexp_extract(a, '$AnchorReSql', 1) LIKE '/%'
         |            AND regexp_extract(a, '$AnchorReSql', 1) NOT LIKE '//%'
         |            AND regexp_extract(url, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1) <> ''
         |       THEN regexp_extract(url, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1)
         |            || regexp_extract(a, '$AnchorReSql', 1)
         |       ELSE NULL END AS target_url
         |FROM ex ORDER BY doc_id, link_no""".stripMargin),

    // q85: the q84 edges aggregated per target host — count / distinct
    // source hosts / external count, all exact integers
    "q85_host_inlinks" ->
      (s"""WITH $q84PagesCte,
         |ex AS (SELECT doc_id, url, unnest(
         |    regexp_extract_all(html, '$AnchorReSql', 1)) AS href FROM pages),
         |res AS (SELECT url,
         |  CASE WHEN regexp_matches(href, '^https?://') THEN href
         |       WHEN href LIKE '/%' AND href NOT LIKE '//%'
         |            AND regexp_extract(url, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1) <> ''
         |       THEN regexp_extract(url, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1) || href
         |       ELSE NULL END AS target_url FROM ex),
         |e AS (SELECT regexp_extract(target_url, '://([^/?#]+)', 1) AS host,
         |             regexp_extract(url, '://([^/?#]+)', 1) AS src_host
         |      FROM res WHERE target_url IS NOT NULL)
         |SELECT host, cast(count(*) AS bigint) AS inlinks,
         |  cast(count(DISTINCT src_host) AS bigint) AS src_hosts,
         |  cast(sum(CASE WHEN src_host <> host THEN 1 ELSE 0 END) AS bigint)
         |    AS external_inlinks
         |FROM e GROUP BY host ORDER BY host""".stripMargin),

    // q86: DuckDB's quantile_disc implements the same element rule as q75;
    // bin = thresholds strictly below the value
    "q86_quantile_bins" ->
      """WITH t AS (SELECT lang, quantile_disc(n_chars, [0.25, 0.5, 0.75]) AS th
        |           FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  cast(length(list_filter(t.th, x -> d.n_chars > x)) AS bigint) AS n_chars_bin
        |FROM documents d JOIN t USING (lang) ORDER BY d.doc_id""".stripMargin,

    // q87: the HLL registers replayed in SQL — 32-bit md5 hash, p=5
    // (idx = h >> 27, rho = 28 - bitlength(w)), the '*' row over the whole
    // corpus (merge of per-lang maxes == max over the union), and the
    // raw estimate as ONE int128 integer division:
    // (alphaNum * m^2 * 2^(q+1)) // (alphaDen * zNum), alpha(32) = 697/1000
    "q87_hll_distinct" ->
      """WITH v AS (SELECT lang, md5(text) AS h FROM documents),
        |g AS (SELECT lang, h FROM v UNION ALL SELECT '*' AS lang, h FROM v),
        |hh AS (SELECT lang, h, ('0x' || substr(md5(h), 1, 8))::BIGINT AS h32 FROM g),
        |r AS (SELECT lang, h32 // 134217728 AS idx,
        |        CASE WHEN h32 % 134217728 = 0 THEN 28
        |             ELSE 28 - length(format('{:b}', h32 % 134217728)) END AS rho
        |      FROM hh),
        |regs AS (SELECT lang, idx, max(rho) AS mr FROM r GROUP BY lang, idx),
        |z AS (SELECT lang, sum((1 << (28 - mr)))::HUGEINT
        |        + (32 - count(*))::HUGEINT * 268435456 AS znum
        |      FROM regs GROUP BY lang),
        |est AS (SELECT lang, cast((697::HUGEINT * 1024 * 268435456)
        |        // (1000::HUGEINT * znum) AS bigint) AS est_distinct FROM z),
        |ex AS (SELECT lang, cast(count(DISTINCT h) AS bigint) AS exact_distinct
        |       FROM g GROUP BY lang)
        |SELECT est.lang, est.est_distinct, ex.exact_distinct
        |FROM est JOIN ex USING (lang) ORDER BY lang""".stripMargin,

    // q88: same construction, same ordered grammar — parts re-extracted,
    // tracking params filtered, remainder sorted, default ports stripped
    // (DuckDB's array_to_string of an empty list is NULL -> coalesce)
    "q88_canonical_urls" ->
      """WITH u AS (SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'HTTP://Example' || cast(doc_id % 7 AS varchar) || '.COM:80/Path/' || cast(doc_id AS varchar) || '?b=2&utm_source=x&a=1#frag'
        |    WHEN 1 THEN 'https://site' || cast(doc_id % 7 AS varchar) || '.org:443/'
        |    WHEN 2 THEN 'https://site' || cast(doc_id % 7 AS varchar) || '.org:8080/x?gclid=' || cast(doc_id AS varchar)
        |    WHEN 3 THEN 'https://site' || cast(doc_id % 7 AS varchar) || '.org'
        |    WHEN 4 THEN 'http://a' || cast(doc_id % 7 AS varchar) || '.b/p?fbclid=9&z=' || cast(doc_id AS varchar) || '&ref=feed'
        |    ELSE 'not a url ' || cast(doc_id AS varchar) END AS url
        |  FROM documents),
        |parts AS (SELECT doc_id, url,
        |  lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS host,
        |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*?:([0-9]+)', 1) AS port,
        |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |  regexp_extract(url, '\?([^#]*)', 1) AS query FROM u),
        |q AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |        x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z0-9_]*|gclid|fbclid|ref)='))), '&'), '') AS cq
        |      FROM parts)
        |SELECT doc_id, url, CASE WHEN scheme = '' OR host = '' THEN NULL ELSE
        |  scheme || '://' || host ||
        |  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |            OR (scheme = 'https' AND port = '443') THEN '' ELSE ':' || port END ||
        |  CASE WHEN path = '' THEN '/' ELSE path END ||
        |  CASE WHEN cq = '' THEN '' ELSE '?' || cq END
        |END AS canonical_url FROM q ORDER BY doc_id""".stripMargin,

    // q89: the CMS cells replayed in SQL — md5-seeded placement
    // (hash_i(v) = first 8 md5 hex of (i || v) mod 16), a DENSE
    // (lang, probe, depth) frame so zero-collision cells keep the min
    // honest, estimate = min over the 4 depth rows
    "q89_cms_counts" ->
      """WITH tok AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS t FROM documents),
        |g AS (SELECT lang, t FROM tok UNION ALL SELECT '*' AS lang, t FROM tok),
        |probes AS (SELECT unnest(['the','table','data','xylophone','value']) AS probe),
        |depths AS (SELECT unnest([0,1,2,3]) AS i),
        |th AS (SELECT lang, t, i,
        |        ('0x' || substr(md5(cast(i AS varchar) || t), 1, 8))::BIGINT % 16 AS pos
        |       FROM g CROSS JOIN depths),
        |ph AS (SELECT probe, i,
        |        ('0x' || substr(md5(cast(i AS varchar) || probe), 1, 8))::BIGINT % 16 AS pos
        |       FROM probes CROSS JOIN depths),
        |frame AS (SELECT l.lang, ph.probe, ph.i, ph.pos
        |          FROM (SELECT DISTINCT lang FROM g) l CROSS JOIN ph),
        |cell AS (SELECT f.lang, f.probe, f.i, count(th.t) AS c
        |         FROM frame f LEFT JOIN th ON th.lang = f.lang AND th.i = f.i AND th.pos = f.pos
        |         GROUP BY f.lang, f.probe, f.i),
        |est AS (SELECT lang, probe, cast(min(c) AS bigint) AS est_count
        |        FROM cell GROUP BY lang, probe),
        |ex AS (SELECT lang, probe, cast(count(*) FILTER (t = probe) AS bigint) AS exact_count
        |       FROM g CROSS JOIN probes GROUP BY lang, probe)
        |SELECT ex.lang, ex.probe, est.est_count, ex.exact_count
        |FROM ex JOIN est USING (lang, probe) ORDER BY lang, probe""".stripMargin,

    // q90: the bloom bitset replayed in SQL — bit positions are the
    // DISTINCT md5-seeded placements of the bench set; a probe is in the
    // filter iff all k=3 of its positions are set (bool_and over a left
    // join). Zero false negatives by construction; the false positives
    // are deterministic and must match too.
    "q90_bloom_decontaminate" ->
      """WITH bench AS (SELECT 'bench item ' || cast(doc_id AS varchar) AS b
        |               FROM documents WHERE doc_id % 31 = 0),
        |ks AS (SELECT unnest([0,1,2]) AS i),
        |bits AS (SELECT DISTINCT
        |    ('0x' || substr(md5(cast(i AS varchar) || b), 1, 8))::BIGINT % 256 AS pos
        |  FROM bench CROSS JOIN ks),
        |probe AS (SELECT doc_id, 'bench item ' || cast(doc_id % 97 AS varchar) AS v FROM documents),
        |pp AS (SELECT doc_id, v, i,
        |    ('0x' || substr(md5(cast(i AS varchar) || v), 1, 8))::BIGINT % 256 AS pos
        |  FROM probe CROSS JOIN ks),
        |hit AS (SELECT doc_id, v, bool_and(bits.pos IS NOT NULL) AS in_bloom
        |        FROM pp LEFT JOIN bits USING (pos) GROUP BY doc_id, v),
        |truth AS (SELECT doc_id, v IN (SELECT b FROM bench) AS actually_in FROM probe)
        |SELECT h.doc_id, h.in_bloom, t.actually_in
        |FROM hit h JOIN truth t USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q91: doc-distinct vocab tokens self-joined per doc; lift is the
    // exact-integer division both engines compute identically
    "q91_cooccurrence" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS t FROM documents),
        |freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |vocab AS (SELECT t FROM freq ORDER BY c DESC, t ASC LIMIT 20),
        |dt AS (SELECT DISTINCT doc_id, t FROM tok WHERE t IN (SELECT t FROM vocab)),
        |marg AS (SELECT t, count(*) AS n_t FROM dt GROUP BY t),
        |pairs AS (SELECT a.t AS term_a, b.t AS term_b, count(*) AS n_ab
        |          FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
        |          GROUP BY a.t, b.t),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT term_a, term_b, ma.n_t AS n_a, mb.n_t AS n_b, n_ab,
        |  (1000000 * n.n_docs * n_ab) // (ma.n_t * mb.n_t) AS lift_int
        |FROM pairs JOIN marg ma ON ma.t = term_a
        |           JOIN marg mb ON mb.t = term_b
        |           CROSS JOIN n
        |WHERE n_ab >= 5 ORDER BY term_a, term_b""".stripMargin,

    // q92: q48's independent transitive closure extended to the full
    // per-row contract — singletons label themselves, sizes are
    // label-group counts, the canonical row is the min id
    "q92_neardup_dedup" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text FROM documents),
        |words AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM docs),
        |sh AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM words WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM sh a JOIN sh b ON a.id < b.id
        |  WHERE len(list_intersect(a.s, b.s)) > 0 AND
        |    cast(len(list_intersect(a.s, b.s)) AS double) /
        |    cast(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS double) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |lab AS (SELECT d.id, coalesce(cl.cluster_id, d.id) AS cluster_id
        |        FROM docs d LEFT JOIN cl USING (id)),
        |sz AS (SELECT cluster_id, cast(count(*) AS bigint) AS cluster_size
        |       FROM lab GROUP BY cluster_id)
        |SELECT lab.id, lab.cluster_id, sz.cluster_size,
        |  lab.id = lab.cluster_id AS kept
        |FROM lab JOIN sz USING (cluster_id) ORDER BY lab.id""".stripMargin,

    // q93: same bigram stream (indexed list_transform), same top-50
    // (count desc, bigram asc) vocabulary, integer counts
    "q93_bigram_coverage" ->
      """WITH words AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
        |       FROM words WHERE len(w) >= 2),
        |freq AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
        |vocab AS (SELECT b FROM freq ORDER BY c DESC, b ASC LIMIT 50),
        |cov AS (SELECT doc_id, count(*) AS n_bigrams,
        |        sum(CASE WHEN v.b IS NULL THEN 0 ELSE 1 END) AS in_vocab
        |        FROM bg LEFT JOIN vocab v USING (b) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  cast(coalesce(cov.n_bigrams, 0) AS bigint) AS n_bigrams,
        |  cast(coalesce(cov.in_vocab, 0) AS bigint) AS in_vocab
        |FROM documents d LEFT JOIN cov USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q94: identical md5 coin (first 8 hex of md5(seed||id) mod 1000),
    // copies = floor + fractional keep, range(copies) replays the fan-out
    "q94_mixture_upsample" ->
      """WITH w AS (SELECT doc_id, lang,
        |  CASE WHEN lang = 'en' THEN 2500 WHEN lang = 'zh' THEN 500
        |       ELSE 1000 END AS wm FROM documents),
        |c AS (SELECT doc_id, lang,
        |  wm // 1000 + CASE WHEN ('0x' || substr(md5('mix1' || cast(doc_id AS varchar)), 1, 8))::BIGINT
        |    % 1000 < wm % 1000 THEN 1 ELSE 0 END AS copies FROM w)
        |SELECT doc_id, lang, unnest(range(copies)) AS copy_no
        |FROM c ORDER BY doc_id, copy_no""".stripMargin,

    // q95: the q87 register replay per UTC-day window — hash is the first
    // 32 md5 bits of the user id string, p=5, estimate one int128 division;
    // window bounds from epoch-floored microseconds
    "q95_stream_distinct_sketch" ->
      """WITH e AS (SELECT cast(user_id AS varchar) AS uid, ts,
        |  (epoch_us(ts) // 86400000000) * 86400000000 AS wus FROM events),
        |hh AS (SELECT wus, uid, ('0x' || substr(md5(uid), 1, 8))::BIGINT AS h32 FROM e),
        |r AS (SELECT wus, h32 // 134217728 AS idx,
        |        CASE WHEN h32 % 134217728 = 0 THEN 28
        |             ELSE 28 - length(format('{:b}', h32 % 134217728)) END AS rho
        |      FROM hh),
        |regs AS (SELECT wus, idx, max(rho) AS mr FROM r GROUP BY wus, idx),
        |z AS (SELECT wus, sum((1 << (28 - mr)))::HUGEINT
        |        + (32 - count(*))::HUGEINT * 268435456 AS znum
        |      FROM regs GROUP BY wus),
        |est AS (SELECT wus, cast((697::HUGEINT * 1024 * 268435456)
        |        // (1000::HUGEINT * znum) AS bigint) AS est_distinct FROM z),
        |cnt AS (SELECT wus, cast(count(*) AS bigint) AS events FROM e GROUP BY wus)
        |SELECT make_timestamp(cnt.wus) AS window_start,
        |  make_timestamp(cnt.wus + 86400000000) AS window_end,
        |  est.est_distinct, cnt.events
        |FROM cnt JOIN est USING (wus) ORDER BY window_start""".stripMargin,

    // q96: the same global (score desc, doc_id asc) inclusive running sum,
    // as ONE window — the oracle is allowed the global sort the engine
    // decomposes away; integer-exact score and cum
    "q96_token_budget" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM documents),
        |b AS (SELECT doc_id, cast(len(w) AS bigint) AS n_tokens,
        |        cast(CASE WHEN len(w) = 0 THEN 0
        |             ELSE (100 * len(list_distinct(w))) // len(w) END AS bigint) AS score
        |      FROM t),
        |c AS (SELECT *, sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b)
        |SELECT doc_id, score, n_tokens, cast(cum AS bigint) AS cum_tokens,
        |  cum <= 20000 AS kept
        |FROM c ORDER BY doc_id""".stripMargin,

    // q97: md5-bucketed token stream; Laplace-smoothed fixed-point weight
    // in HUGEINT with // truncation — bit-for-bit the engine's
    // decimal(38,0) div
    "q97_importance_weights" ->
      """WITH toks AS (SELECT doc_id, tgt,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS b
        |  FROM (SELECT doc_id, lang = 'en' AS tgt,
        |          unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS tok
        |        FROM documents)),
        |counts AS (SELECT b, count(*) AS raw,
        |             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS t
        |           FROM toks GROUP BY b),
        |tot AS (SELECT sum(raw) AS rawtot, sum(t) AS ttot FROM counts),
        |w AS (SELECT b, (1000000::HUGEINT * (t + 1) * (rawtot + 64))
        |        // ((raw + 1)::HUGEINT * (ttot + 64)) AS w
        |      FROM counts, tot),
        |perdoc AS (SELECT doc_id, count(*) AS n_tokens, sum(w) AS imp_sum
        |           FROM toks JOIN w USING (b) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  cast(coalesce(n_tokens, 0) AS bigint) AS n_tokens,
        |  cast(coalesce(imp_sum, 0) AS bigint) AS imp_sum
        |FROM documents d LEFT JOIN perdoc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q98: winnowing replayed with list ops — per-position 4-gram md5
    // hashes, min of each 5-hash window, distinct mins as the fingerprint
    // set, pairs by shared-count
    "q98_winnow_overlap" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w
        |           FROM documents WHERE doc_id < 400),
        |h AS (SELECT doc_id, list_transform(range(1, greatest(len(w) - 3, 0) + 1),
        |        i -> ('0x' || substr(md5(array_to_string(w[i:i+3], ' ')), 1, 8))::BIGINT) AS h
        |      FROM w),
        |fp AS (SELECT doc_id, unnest(list_distinct(CASE
        |         WHEN len(h) = 0 THEN CAST([] AS BIGINT[])
        |         WHEN len(h) <= 5 THEN [list_aggregate(h, 'min')]
        |         ELSE list_transform(range(1, len(h) - 3),
        |                j -> list_aggregate(h[j:j+4], 'min'))
        |       END)) AS g FROM h)
        |SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |  cast(count(*) AS bigint) AS shared_fps
        |FROM fp x JOIN fp y ON x.g = y.g AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // q99: q92's closure with scored canonical selection — argmax
    // (length desc, id asc) per cluster instead of min id
    "q99_neardup_keepby" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text FROM documents),
        |words AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM docs),
        |sh AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM words WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM sh a JOIN sh b ON a.id < b.id
        |  WHERE len(list_intersect(a.s, b.s)) > 0 AND
        |    cast(len(list_intersect(a.s, b.s)) AS double) /
        |    cast(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS double) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |lab AS (SELECT d.id, coalesce(cl.cluster_id, d.id) AS cluster_id
        |        FROM docs d LEFT JOIN cl USING (id)),
        |sz AS (SELECT cluster_id, cast(count(*) AS bigint) AS cluster_size
        |       FROM lab GROUP BY cluster_id),
        |can AS (SELECT lab.id, row_number() OVER (PARTITION BY lab.cluster_id
        |          ORDER BY length(d.text) DESC, lab.id ASC) AS rn
        |        FROM lab JOIN docs d ON lab.id = d.id)
        |SELECT lab.id, lab.cluster_id, sz.cluster_size, can.rn = 1 AS kept
        |FROM lab JOIN sz USING (cluster_id) JOIN can ON lab.id = can.id
        |ORDER BY lab.id""".stripMargin,

    // q100: the incremental contract replayed exactly — incoming-vs-ledger
    // exact-jaccard (min matching ledger id), then q92's recursive closure
    // over the survivors only
    "q100_neardup_incremental" ->
      """WITH RECURSIVE led AS (SELECT doc_id AS id, text FROM documents),
        |inc AS (
        |  SELECT doc_id + 200000 AS id, 'prefixtoken ' || text AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, 'novel ' || cast(doc_id AS varchar) ||
        |    ' alpha ' || cast(doc_id AS varchar) || ' beta ' || cast(doc_id AS varchar) ||
        |    ' gamma ' || cast(doc_id AS varchar) || ' delta ' || cast(doc_id AS varchar)
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 600000, 'novel ' || cast(doc_id AS varchar) ||
        |    ' alpha ' || cast(doc_id AS varchar) || ' beta ' || cast(doc_id AS varchar) ||
        |    ' gamma ' || cast(doc_id AS varchar) || ' delta ' || cast(doc_id AS varchar)
        |  FROM documents),
        |shl AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |        FROM (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM led)
        |        WHERE len(w) >= 3),
        |shi AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |        FROM (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM inc)
        |        WHERE len(w) >= 3),
        |ldup AS (SELECT i.id, min(l.id) AS dup_of
        |         FROM shi i JOIN shl l ON
        |           len(list_intersect(i.s, l.s)) > 0 AND
        |           cast(len(list_intersect(i.s, l.s)) AS double) /
        |           cast(len(i.s) + len(l.s) - len(list_intersect(i.s, l.s)) AS double) >= 0.8
        |         GROUP BY i.id),
        |rest AS (SELECT * FROM shi WHERE id NOT IN (SELECT id FROM ldup)),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM rest a JOIN rest b ON a.id < b.id
        |  WHERE len(list_intersect(a.s, b.s)) > 0 AND
        |    cast(len(list_intersect(a.s, b.s)) AS double) /
        |    cast(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS double) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach(id, r) AS (
        |  SELECT DISTINCT a, a FROM edges
        |  UNION
        |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |lab AS (SELECT i.id, coalesce(cl.cluster_id, i.id) AS cluster_id
        |        FROM inc i LEFT JOIN cl ON i.id = cl.id
        |        WHERE i.id NOT IN (SELECT id FROM ldup))
        |SELECT id, status, dup_of FROM (
        |  SELECT id, 'ledger_dup' AS status, dup_of FROM ldup
        |  UNION ALL
        |  SELECT id, CASE WHEN id = cluster_id THEN 'kept' ELSE 'shard_dup' END,
        |         CASE WHEN id = cluster_id THEN NULL ELSE cluster_id END
        |  FROM lab)
        |ORDER BY id""".stripMargin,

    // q101: longest-prefix policy replayed with a row_number argmin —
    // length desc, deny first, prefix bytewise-largest (the engine's
    // struct-max order)
    "q101_url_policy" ->
      """WITH pages AS (SELECT doc_id, source || '.example.com' AS host,
        |  CASE WHEN doc_id % 11 = 0 THEN '/raw/d' || cast(doc_id AS varchar)
        |       ELSE '/docs/' || lang || '/d' || cast(doc_id AS varchar) END AS path
        |  FROM documents),
        |rules AS (
        |  SELECT DISTINCT source || '.example.com' AS host, r.path_prefix, r.allow
        |  FROM documents,
        |    (VALUES ('/docs/', true), ('/docs/zh', false), ('/docs/zh/d1', true))
        |      AS r(path_prefix, allow)),
        |m AS (SELECT p.doc_id, r.path_prefix, r.allow,
        |        row_number() OVER (PARTITION BY p.doc_id
        |          ORDER BY length(r.path_prefix) DESC, r.allow ASC,
        |                   r.path_prefix DESC) AS rn
        |      FROM pages p JOIN rules r
        |        ON p.host = r.host AND starts_with(p.path, r.path_prefix))
        |SELECT p.doc_id, p.host, p.path, m.path_prefix AS matched_prefix,
        |  coalesce(m.allow, true) AS allowed
        |FROM pages p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,

    // q102: the q09 point-in-time join recomputed independently, then the
    // same per-user audit — n_leaks MUST be 0 everywhere
    "q102_leakage_audit" ->
      """WITH j AS (
        |  SELECT c.user_id, c.ts, p.ts AS pts
        |  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |  LEFT JOIN LATERAL (
        |    SELECT ts FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id AND p.ts <= c.ts
        |    ORDER BY p.ts DESC, p.value DESC LIMIT 1) p ON true)
        |SELECT user_id, cast(count(*) AS bigint) AS n_rows,
        |  cast(count(pts) AS bigint) AS n_matched,
        |  cast(sum(CASE WHEN pts > ts THEN 1 ELSE 0 END) AS bigint) AS n_leaks,
        |  cast(0 AS bigint) AS n_stale
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q103: the merged corpus rebuilt from scratch — base minus replaced
    // keys, plus replacements and the new-day inserts
    "q103_pagetable_merge" ->
      """WITH base AS (SELECT
        |    'https://site' || cast(doc_id % 13 AS varchar) || '.org/p/' || cast(doc_id AS varchar) AS url,
        |    make_timestamp((1600000000 + (doc_id % 45) * 86400) * 1000000) AS warc_ts,
        |    lang, n_chars FROM documents),
        |repl AS (SELECT
        |    'https://site' || cast(doc_id % 13 AS varchar) || '.org/p/' || cast(doc_id AS varchar) AS url,
        |    make_timestamp((1600000000 + (doc_id % 45) * 86400) * 1000000) AS warc_ts,
        |    lang, n_chars + 1000000 AS n_chars FROM documents WHERE doc_id % 10 = 0),
        |ins AS (SELECT
        |    'https://site' || cast(doc_id % 13 AS varchar) || '.org/p/' || cast(doc_id AS varchar) AS url,
        |    make_timestamp((1600000000 + 100 * 86400 + doc_id) * 1000000) AS warc_ts,
        |    lang, n_chars FROM documents WHERE doc_id % 10 = 1),
        |merged AS (
        |  SELECT * FROM base b WHERE NOT EXISTS (
        |    SELECT 1 FROM repl r WHERE r.url = b.url AND r.warc_ts = b.warc_ts)
        |  UNION ALL SELECT * FROM repl
        |  UNION ALL SELECT * FROM ins)
        |SELECT url, warc_ts, lang, n_chars FROM merged
        |ORDER BY url, warc_ts""".stripMargin,

    // q104: record metadata reconstructed directly from documents — the
    // WARC build/parse round trip (incl. gzip member framing) must invert
    "q104_warc_ingest" ->
      """SELECT cast(doc_id % 8 AS bigint) AS file_id,
        |  cast(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1 AS int) AS pos,
        |  'https://crawl.example/doc/' || cast(doc_id AS varchar) AS target_uri,
        |  strftime(make_timestamp((1600000000 + doc_id) * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
        |  cast(octet_length(encode(text)) AS bigint) AS content_length,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY file_id, pos""".stripMargin,

    // q105: owner election recomputed with window functions; reassembly is
    // relational (token table anti-join removed positions, ordered
    // string_agg). '[ \t\n\x0b\f\r]' is Java \s spelled out so RE2 and
    // java.util.regex agree byte-for-byte on the token boundaries.
    "q105_span_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS toks
        |  FROM documents),
        |sh0 AS (SELECT doc_id, toks,
        |               unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS i
        |        FROM d),
        |sh AS (SELECT doc_id, i - 1 AS pos,
        |              md5(array_to_string(toks[i:i+7], ' ')) AS key
        |       FROM sh0),
        |marked AS (SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY key ORDER BY doc_id, pos) AS rn,
        |    count(*) OVER (PARTITION BY key) AS n
        |  FROM sh),
        |drops AS (SELECT doc_id, pos FROM marked WHERE n > 1 AND rn > 1),
        |tok0 AS (SELECT doc_id, unnest(toks) AS tok,
        |                unnest(range(1, len(toks) + 1)) AS p FROM d),
        |tok AS (SELECT doc_id, tok, p - 1 AS tpos FROM tok0),
        |removed AS (SELECT DISTINCT t.doc_id, t.tpos
        |  FROM tok t JOIN drops dr ON t.doc_id = dr.doc_id
        |   AND t.tpos >= dr.pos AND t.tpos < dr.pos + 8),
        |kept AS (SELECT t.doc_id, t.tpos, t.tok
        |  FROM tok t LEFT JOIN removed r
        |    ON t.doc_id = r.doc_id AND t.tpos = r.tpos
        |  WHERE r.doc_id IS NULL),
        |agg AS (SELECT doc_id, count(*) AS cnt,
        |               string_agg(tok, ' ' ORDER BY tpos) AS txt
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, cast(len(d.toks) AS bigint) AS n_tokens,
        |       cast(coalesce(agg.cnt, 0) AS bigint) AS n_tokens_kept,
        |       coalesce(agg.txt, '') AS text_span_dedup
        |FROM d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q106: every decision stated in closed form from the host class
    // (doc_id % 13: absent robots / *-only / GraftBot group) and the path
    // class (doc_id % 6) — the engine must reach each one by actually
    // parsing the files and running longest-pattern precedence
    "q106_robots_policy" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 13 AS h, doc_id % 6 AS c,
        |         'site' || cast(doc_id % 13 AS varchar) || '.org' AS host,
        |         CASE doc_id % 6
        |           WHEN 0 THEN '/public/a' || cast(doc_id AS varchar)
        |           WHEN 1 THEN '/public/private/' || cast(doc_id AS varchar)
        |           WHEN 2 THEN '/tmp/keep'
        |           WHEN 3 THEN '/tmp/keep' || cast(doc_id AS varchar)
        |           WHEN 4 THEN '/star/' || cast(doc_id AS varchar)
        |           ELSE '/free/' || cast(doc_id AS varchar) END AS path
        |  FROM documents)
        |SELECT doc_id, host, path,
        |  CASE WHEN h % 5 = 0 THEN true
        |       WHEN h % 3 = 0 THEN (c <> 4)
        |       ELSE c NOT IN (1, 3) END AS allowed,
        |  CASE WHEN h % 5 = 0 THEN NULL
        |       WHEN h % 3 = 0 THEN (CASE WHEN c = 4 THEN '/star/' END)
        |       ELSE (CASE c WHEN 0 THEN '/public/'
        |                    WHEN 1 THEN '/public/private*'
        |                    WHEN 2 THEN '/tmp/keep$'
        |                    WHEN 3 THEN '/tmp/' END)
        |  END AS matched_pattern
        |FROM p ORDER BY doc_id""".stripMargin,

    // q107: the C4 line filter re-implemented in SQL lambdas over the
    // identically-constructed corpus — an independent second
    // implementation, not a closed-form answer key
    "q107_c4_filter" ->
      """WITH src AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN 'One lonely sentence only.'
        |  ELSE 'Document ' || cast(doc_id AS varchar) ||
        |    ' opens with a clean first sentence.' || chr(10) ||
        |    'It continues with a second good sentence right here!' || chr(10) ||
        |    'A third sentence keeps the page over the limit.' ||
        |    (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'tiny line.'
        |          WHEN doc_id % 4 = 1 THEN chr(10) || 'Please enable JavaScript to continue browsing.'
        |          WHEN doc_id % 4 = 2 THEN chr(10) || 'no terminal punctuation on this line'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'if (x) { y(); }' ELSE '' END) ||
        |    (CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet today.' ELSE '' END)
        |  END AS text FROM documents),
        |ls AS (SELECT doc_id, text, string_split(text, chr(10)) AS arr FROM src),
        |k AS (SELECT doc_id, text, arr,
        |        list_filter(arr, x -> regexp_matches(x, '[.!?"]$')
        |          AND len(list_filter(regexp_split_to_array(trim(x), '[ \t\n\x0b\f\r]+'),
        |                              w -> w <> '')) >= 5
        |          AND NOT contains(lower(x), 'javascript')) AS karr
        |      FROM ls),
        |g AS (SELECT doc_id, text,
        |        -- duckdb: array_to_string([]) is NULL, spark concat_ws is ''
        |        coalesce(array_to_string(karr, chr(10)), '') AS c4_text,
        |        cast(len(arr) AS bigint) AS n_lines,
        |        cast(len(karr) AS bigint) AS n_lines_kept
        |      FROM k),
        |h AS (SELECT *,
        |        cast(len(regexp_extract_all(c4_text, '[.!?]')) AS bigint) AS n_sentences
        |      FROM g)
        |SELECT doc_id, c4_text, n_lines, n_lines_kept, n_sentences,
        |  concat_ws(',',
        |    CASE WHEN contains(text, '{') THEN 'brace' END,
        |    CASE WHEN contains(lower(text), 'lorem ipsum') THEN 'lorem_ipsum' END,
        |    CASE WHEN n_sentences < 3 THEN 'few_sentences' END) AS c4_reasons,
        |  (NOT contains(text, '{') AND NOT contains(lower(text), 'lorem ipsum')
        |    AND n_sentences >= 3) AS c4_keep
        |FROM h ORDER BY doc_id""".stripMargin,

    // q108: the HRW tournament recomputed relationally — unnest the shard
    // list per doc, rank by (md5, name) desc, keep the winner
    "q108_rendezvous_shard" ->
      """WITH sh AS (SELECT unnest(['s0','s1','s2','s3','s4','s5','s6']) AS s),
        |scored AS (SELECT d.doc_id, sh.s,
        |    md5(sh.s || '|' || cast(d.doc_id AS varchar)) AS h
        |  FROM documents d CROSS JOIN sh),
        |ranked AS (SELECT doc_id, s,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn
        |  FROM scored)
        |SELECT doc_id, s AS shard FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // q109: gaps recomputed with lag windows over the (term, doc, tf)
    // stream; first gap in each block is relative to the block base
    "q109_postings_blocks" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2),
        |wb AS (SELECT term, doc_id // 64 AS block, doc_id, tf,
        |    lag(doc_id) OVER (PARTITION BY term, doc_id // 64 ORDER BY doc_id) AS prev,
        |    row_number() OVER (PARTITION BY term, doc_id // 64 ORDER BY doc_id) - 1 AS pos,
        |    count(*) OVER (PARTITION BY term, doc_id // 64) AS df_block,
        |    sum(tf) OVER (PARTITION BY term, doc_id // 64) AS cf_block
        |  FROM tf)
        |SELECT term, cast(block AS bigint) AS block,
        |  cast(df_block AS bigint) AS df_block,
        |  cast(cf_block AS bigint) AS cf_block,
        |  cast(pos AS int) AS pos,
        |  cast(doc_id - coalesce(prev, block * 64) AS bigint) AS gap,
        |  cast(tf AS bigint) AS tf
        |FROM wb ORDER BY term, block, pos""".stripMargin,

    // q110: the oracle rebuilds the dirty input with chr() codepoints
    // (U+0301 combining acute, U+030A combining ring, Hangul jamo
    // U+1100/U+1161, controls 1/133/127) and replays the kernel's
    // documented pass list as sequential global regex_replaces over
    // DuckDB's OWN utf8proc NFC — an independent Unicode implementation.
    "q110_normalize_webtext" ->
      """WITH dirty AS (SELECT doc_id, text ||
        |  CASE doc_id % 4
        |    WHEN 0 THEN ' Cafe' || chr(769) || ' ' || chr(13) || chr(10) || 'x' || chr(1) || 'y'
        |    WHEN 1 THEN 'A' || chr(778) || 'b' || chr(9) || chr(9) || 'c' || repeat(chr(10), 4) || 'd'
        |    WHEN 2 THEN chr(4352) || chr(4449) || ' ko ' || chr(133) || 'e'
        |    ELSE 'x ' || chr(10) || ' ' || chr(10) || '  y' || chr(127) || 'z'
        |  END AS raw FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(
        |    nfc_normalize(
        |      regexp_replace(regexp_replace(raw,
        |        '\r\n?', chr(10), 'g'),
        |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x80-\x9F]', '', 'g')),
        |    '[ \t]+', ' ', 'g'),
        |    ' *\n *', chr(10), 'g'),
        |    '\n\n\n+', chr(10) || chr(10), 'g'),
        |  ' ' || chr(10)) AS norm_text
        |FROM dirty ORDER BY doc_id""".stripMargin,

    // q111: md5-bucket split replayed relationally — same 32-bit rank,
    // same integer mod 10, same cumulative thresholds 8/9
    "q111_split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN ('0x' || substr(md5(source), 1, 8))::UBIGINT % 10 < 8 THEN 'train'
        |       WHEN ('0x' || substr(md5(source), 1, 8))::UBIGINT % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q112: signed hashing trick replayed — bucket from md5 hex 1..8,
    // sign from the parity of hex digit 9
    "q112_hashed_features" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS term
        |  FROM documents),
        |h AS (SELECT doc_id, md5(term) AS hx FROM toks)
        |SELECT doc_id,
        |  cast(('0x' || substr(hx, 1, 8))::UBIGINT % 64 AS bigint) AS bucket,
        |  cast(sum(CASE WHEN ('0x' || substr(hx, 9, 1))::UBIGINT % 2 = 0
        |               THEN 1 ELSE -1 END) AS bigint) AS value
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    // q113: the add-one bigram LM replayed relationally — identical integer
    // rationals (scale 1e6, // truncation), LM side = the en split, V from
    // the en split's distinct tokens, unseen joins coalesce to 0
    "q113_lm_fluency" ->
      """WITH lmw AS (SELECT regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w
        |             FROM documents WHERE lang = 'en'),
        |lmbg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
        |         FROM lmw WHERE len(w) >= 2),
        |c2 AS (SELECT b, count(*) AS c2 FROM lmbg GROUP BY b),
        |c1 AS (SELECT split_part(b, ' ', 1) AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM
        |        (SELECT unnest(w) AS t FROM lmw)),
        |dbg AS (SELECT doc_id, split_part(b, ' ', 1) AS w1, b, count(*) AS n FROM
        |          (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
        |           FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM documents)
        |           WHERE len(w) >= 2)
        |        GROUP BY 1, 2, 3),
        |sc AS (SELECT doc_id, n,
        |         (1000000 * (coalesce(c2.c2, 0) + 1)) // (coalesce(c1.c1, 0) + v.v) AS p_fp
        |       FROM dbg LEFT JOIN c2 USING (b) LEFT JOIN c1 USING (w1) CROSS JOIN v),
        |pd AS (SELECT doc_id, sum(n) AS nb, sum(n * p_fp) AS ps, min(p_fp) AS pm,
        |         sum(CASE WHEN p_fp < 1000 THEN n ELSE 0 END) AS nr
        |       FROM sc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  cast(coalesce(nb, 0) AS bigint) AS n_bigrams,
        |  cast(coalesce(ps, 0) AS bigint) AS p_sum,
        |  cast(coalesce(pm, 0) AS bigint) AS p_min,
        |  cast(coalesce(nr, 0) AS bigint) AS n_rare
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q114: round-1 BPE pair table replayed — word-frequency aggregate,
    // per-word adjacent char pairs weighted by freq, same tie-break
    "q114_bpe_pairs" ->
      """WITH wf AS (SELECT w, count(*) AS freq FROM
        |    (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS w
        |     FROM documents) GROUP BY w),
        |p AS (SELECT unnest(list_transform(range(1, length(w)),
        |        i -> substring(w, i, 1) || ' ' || substring(w, i + 1, 1))) AS pair, freq
        |      FROM wf WHERE length(w) >= 2)
        |SELECT pair, cast(sum(freq) AS bigint) AS freq FROM p GROUP BY pair
        |ORDER BY freq DESC, pair ASC LIMIT 20""".stripMargin,

    // q115: the greedy fold replayed as regex fire counts — valid because
    // the merge alphabets {t,h}/{e,r}/{o,n} are pairwise disjoint, so
    // merges can't chain and each fire is a non-overlapping substring match
    "q115_bpe_segment" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS ws
        |           FROM documents),
        |f AS (SELECT doc_id, len(ws) AS n_words,
        |        coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS chars,
        |        coalesce(list_sum(list_transform(ws, x ->
        |          len(regexp_extract_all(x, 'th')) + len(regexp_extract_all(x, 'er'))
        |          + len(regexp_extract_all(x, 'on')))), 0) AS fires
        |      FROM w)
        |SELECT doc_id, cast(n_words AS bigint) AS n_words,
        |  cast(chars - fires AS bigint) AS n_subwords,
        |  cast(chars - 2 * fires AS bigint) AS n_single_chars
        |FROM f ORDER BY doc_id""".stripMargin,

    // q116: q112's feature table joined to the same md5 weight construction
    // (('0x'||md5-hex-8)::BIGINT % 2001 - 1000), integer dot product
    "q116_classifier_score" ->
      """WITH h AS (SELECT doc_id, md5(tok) AS hx FROM
        |    (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS tok
        |     FROM documents)),
        |f AS (SELECT doc_id,
        |        cast(('0x' || substr(hx, 1, 8))::UBIGINT % 64 AS bigint) AS bucket,
        |        cast(sum(CASE WHEN ('0x' || substr(hx, 9, 1))::UBIGINT % 2 = 0
        |                     THEN 1 ELSE -1 END) AS bigint) AS value
        |      FROM h GROUP BY 1, 2),
        |wts AS (SELECT b AS bucket,
        |          ('0x' || substr(md5('w' || cast(b AS varchar)), 1, 8))::BIGINT % 2001 - 1000 AS weight
        |        FROM range(64) t(b)),
        |sc AS (SELECT doc_id, sum(value * weight) AS score
        |       FROM f JOIN wts USING (bucket) GROUP BY doc_id)
        |SELECT d.doc_id, cast(coalesce(score, 0) AS bigint) AS score,
        |  coalesce(score, 0) > 0 AS label
        |FROM documents d LEFT JOIN sc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q117: the PNG rasters recomputed closed-form — pixel (x, y) carries
    // (x*31 + y*17) & 0xffffff (the generator's fill), pixel index r
    // enumerates x = r % w, y = r // w; PNG decode is bit-exact by spec
    "q117_image_pixels" ->
      """WITH dims AS (SELECT * FROM (VALUES (1, 17, 9), (2, 8, 6), (3, 2200, 3))
        |              AS t(media_id, w, h)),
        |px AS (SELECT d.media_id, d.w, d.h,
        |         ((x.r % d.w) * 31 + (x.r // d.w) * 17) % 16777216 AS v
        |       FROM dims d JOIN range(6600) x(r) ON x.r < d.w * d.h),
        |agg AS (SELECT media_id, w, h, sum(v // 65536) AS sr,
        |          sum((v // 256) % 256) AS sg, sum(v % 256) AS sb
        |        FROM px GROUP BY 1, 2, 3)
        |SELECT cast(media_id AS bigint) AS media_id, cast(w AS bigint) AS width,
        |  cast(h AS bigint) AS height, cast(w * h AS bigint) AS n_pixels,
        |  cast(sr AS bigint) AS sum_r, cast(sg AS bigint) AS sum_g,
        |  cast(sb AS bigint) AS sum_b, true AS ok
        |FROM agg
        |UNION ALL
        |SELECT 4, 0, 0, 0, 0, 0, 0, false
        |ORDER BY media_id""".stripMargin,

    // q118: identical HUGEINT arithmetic — num = tf*2200*1000*T,
    // den = tf*1e6*T + 300000*T + 900000*dl*N, idf = (1e6*(2N-2df+1))//(2df+1)
    "q118_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |               (SELECT sum(tf) FROM tf) AS t_tokens),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl, dfq.df,
        |         (((1000000::HUGEINT * (2*n_docs - 2*df + 1)) // (2*df + 1))
        |           * tf.tf::HUGEINT * 2200 * 1000 * t_tokens)
        |         //
        |         (tf.tf::HUGEINT * 1000000 * t_tokens
        |           + 300000::HUGEINT * t_tokens
        |           + 900000::HUGEINT * dl.dl * n_docs) AS score_fp
        |       FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN tot),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score_fp DESC, term ASC) AS rank FROM sc)
        |SELECT doc_id, term, cast(tf AS bigint) AS tf, cast(dl AS bigint) AS dl,
        |  cast(df AS bigint) AS df, cast(score_fp AS bigint) AS score_fp,
        |  cast(rank AS bigint) AS rank
        |FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // q119: L-gram joins replayed per phrase length (1 and 2); the 2-grams
    // are the same list_transform window q93 uses
    "q119_blocklist" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS ws
        |           FROM documents),
        |g1 AS (SELECT doc_id, unnest(ws) AS p FROM w),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |         i -> ws[i] || ' ' || ws[i+1])) AS p FROM w WHERE len(ws) >= 2),
        |hits AS (SELECT doc_id, p FROM g1 WHERE p IN ('slow')
        |         UNION ALL
        |         SELECT doc_id, p FROM g2 WHERE p IN ('batch batch', 'merge slow', 'nosuch phrase')),
        |pd AS (SELECT doc_id, count(*) AS n, count(DISTINCT p) AS d
        |       FROM hits GROUP BY doc_id)
        |SELECT w.doc_id, cast(coalesce(n, 0) AS bigint) AS n_hits,
        |  cast(coalesce(d, 0) AS bigint) AS n_distinct_phrases,
        |  coalesce(n, 0) >= 3 AS blocked
        |FROM w LEFT JOIN pd USING (doc_id) ORDER BY w.doc_id""".stripMargin,

    // q120: the five proven blocks (q111 split, q113 fluency, q112-derived
    // L1 norm, q116 classifier, q119 gate) stitched into one wide row
    "q120_feature_matrix" ->
      """WITH lmw AS (SELECT regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w
        |             FROM documents WHERE lang = 'en'),
        |lmbg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
        |         FROM lmw WHERE len(w) >= 2),
        |c2 AS (SELECT b, count(*) AS c2 FROM lmbg GROUP BY b),
        |c1 AS (SELECT split_part(b, ' ', 1) AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v FROM (SELECT unnest(w) AS t FROM lmw)),
        |dbg AS (SELECT doc_id, split_part(b, ' ', 1) AS w1, b, count(*) AS n FROM
        |          (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b
        |           FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM documents)
        |           WHERE len(w) >= 2)
        |        GROUP BY 1, 2, 3),
        |flsc AS (SELECT doc_id, n,
        |           (1000000 * (coalesce(c2.c2, 0) + 1)) // (coalesce(c1.c1, 0) + v.v) AS p_fp
        |         FROM dbg LEFT JOIN c2 USING (b) LEFT JOIN c1 USING (w1) CROSS JOIN v),
        |fl AS (SELECT doc_id, sum(n) AS nb, sum(n * p_fp) AS ps FROM flsc GROUP BY doc_id),
        |h AS (SELECT doc_id, md5(tok) AS hx FROM
        |    (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS tok
        |     FROM documents)),
        |f AS (SELECT doc_id,
        |        cast(('0x' || substr(hx, 1, 8))::UBIGINT % 64 AS bigint) AS bucket,
        |        cast(sum(CASE WHEN ('0x' || substr(hx, 9, 1))::UBIGINT % 2 = 0
        |                     THEN 1 ELSE -1 END) AS bigint) AS value
        |      FROM h GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sum(abs(value)) AS l1, count(*) AS nbk FROM f GROUP BY doc_id),
        |wts AS (SELECT b AS bucket,
        |          ('0x' || substr(md5('w' || cast(b AS varchar)), 1, 8))::BIGINT % 2001 - 1000 AS weight
        |        FROM range(64) t(b)),
        |clf AS (SELECT doc_id, sum(value * weight) AS score FROM f JOIN wts USING (bucket) GROUP BY doc_id),
        |gw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS ws FROM documents),
        |ghits AS (SELECT doc_id, p FROM (SELECT doc_id, unnest(ws) AS p FROM gw) WHERE p = 'slow'
        |          UNION ALL
        |          SELECT doc_id, p FROM (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |            i -> ws[i] || ' ' || ws[i+1])) AS p FROM gw WHERE len(ws) >= 2)
        |          WHERE p = 'batch batch'),
        |gt AS (SELECT doc_id, count(*) AS n FROM ghits GROUP BY doc_id)
        |SELECT d.doc_id, d.lang,
        |  CASE WHEN ('0x' || substr(md5(d.source), 1, 8))::UBIGINT % 10 < 8 THEN 'train'
        |       WHEN ('0x' || substr(md5(d.source), 1, 8))::UBIGINT % 10 < 9 THEN 'val'
        |       ELSE 'test' END AS split,
        |  cast(coalesce(fl.nb, 0) AS bigint) AS n_bigrams,
        |  cast(coalesce(fl.ps, 0) AS bigint) AS p_sum,
        |  cast(coalesce(nrm.l1, 0) AS bigint) AS feat_l1,
        |  cast(coalesce(nrm.nbk, 0) AS bigint) AS n_feat_buckets,
        |  cast(coalesce(clf.score, 0) AS bigint) AS score,
        |  coalesce(clf.score, 0) > 0 AS label,
        |  coalesce(gt.n, 0) >= 3 AS blocked
        |FROM documents d
        |LEFT JOIN fl USING (doc_id) LEFT JOIN nrm USING (doc_id)
        |LEFT JOIN clf USING (doc_id) LEFT JOIN gt USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q121: per-language token totals, fixed-point target weights
    // ((share*budget) div T_lang, capped at 100000), q94's md5 coin, and
    // a range() fan-out — the realized mixture replayed end to end
    "q121_mixture_target" ->
      """WITH d AS (SELECT doc_id, lang,
        |  cast(len(string_split_regex(trim(text), '\s+')) AS bigint) AS n_tokens
        |  FROM documents WHERE length(text) > 0),
        |tdom AS (SELECT lang, sum(n_tokens) AS t_dom FROM d GROUP BY lang),
        |tgt AS (SELECT * FROM (VALUES ('en', 500), ('zh', 300), ('de', 200))
        |        AS t(lang, share_milli)),
        |w AS (SELECT tdom.lang,
        |        CASE WHEN t_dom > 0 THEN (share_milli * 20000) // t_dom ELSE 0 END AS w_raw_milli,
        |        least(CASE WHEN t_dom > 0 THEN (share_milli * 20000) // t_dom ELSE 0 END,
        |              100000) AS w_milli
        |      FROM tdom JOIN tgt USING (lang)),
        |c AS (SELECT d.doc_id, d.lang, d.n_tokens, w.w_raw_milli, w.w_milli,
        |        w_milli // 1000 + CASE WHEN
        |          ('0x' || substr(md5('mixT' || cast(doc_id AS varchar)), 1, 8))::BIGINT % 1000
        |          < w_milli % 1000 THEN 1 ELSE 0 END AS copies
        |      FROM d JOIN w USING (lang))
        |SELECT doc_id, lang, n_tokens, cast(w_raw_milli AS bigint) AS w_raw_milli,
        |  cast(w_milli AS bigint) AS w_milli,
        |  unnest(range(cast(copies AS bigint))) AS copy_no
        |FROM c ORDER BY doc_id, copy_no""".stripMargin,

    // q122: q115's exact subword count (regex fire replay, disjoint merge
    // alphabets) feeding q46's per-shard prefix-sum window
    "q122_pack_subwords" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS ws
        |           FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, doc_id % 8 AS shard,
        |        cast(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
        |          - coalesce(list_sum(list_transform(ws, x ->
        |              len(regexp_extract_all(x, 'th')) + len(regexp_extract_all(x, 'er'))
        |              + len(regexp_extract_all(x, 'on')))), 0) AS bigint) AS n_subwords
        |      FROM w),
        |p AS (SELECT *, cast(coalesce(sum(n_subwords) OVER (PARTITION BY shard ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS pack_tokens_before
        |      FROM f)
        |SELECT doc_id, shard, n_subwords, pack_tokens_before,
        |  pack_tokens_before // 2048 AS pack_bin
        |FROM p ORDER BY doc_id""".stripMargin,

    // q123: full SemDeDup replay — argmax-cosine assignment to the four
    // seed centroids (ties -> smallest cid), within-cluster >=0.999 pairs,
    // min-id dominance keep policy
    "q123_semdedup" ->
      """WITH u AS (
        |  SELECT vec_id AS id, embedding AS v FROM embeddings
        |  UNION ALL SELECT vec_id + 100000,
        |    list_transform(embedding, x -> CAST(x * CAST(1.001 AS REAL) AS REAL)) FROM embeddings),
        |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
        |a AS (SELECT u.id, u.v, c.cid,
        |        row_number() OVER (PARTITION BY u.id
        |          ORDER BY list_cosine_similarity(u.v, c.cv) DESC, c.cid) AS rn
        |      FROM u, c QUALIFY rn = 1),
        |d AS (SELECT r.id AS id, min(l.id) AS dup_of
        |      FROM a l JOIN a r ON l.cid = r.cid AND l.id < r.id
        |      WHERE list_cosine_similarity(l.v, r.v) >= 0.999
        |      GROUP BY r.id)
        |SELECT a.id, cast(a.cid AS bigint) AS cluster_id, d.dup_of,
        |  d.dup_of IS NULL AS kept
        |FROM a LEFT JOIN d USING (id) ORDER BY id""".stripMargin,

    // q124: per-subspace argmax over the sliced seed codebooks; packed key
    // via exact integer shifts (K=4 -> multiplier 4^m = 1 << 2m)
    "q124_pq_encode" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
        |m AS (SELECT unnest(range(8)) AS m),
        |s AS (SELECT e.vec_id, m.m, c.cid,
        |        list_cosine_similarity(e.embedding[m.m*8+1 : m.m*8+8],
        |                               c.cv[m.m*8+1 : m.m*8+8]) AS sim
        |      FROM embeddings e CROSS JOIN m CROSS JOIN c),
        |a AS (SELECT vec_id, m, cid,
        |        row_number() OVER (PARTITION BY vec_id, m ORDER BY sim DESC, cid) AS rn
        |      FROM s QUALIFY rn = 1)
        |SELECT vec_id, string_agg(cast(cid AS varchar), ' ' ORDER BY m) AS pq_code,
        |  cast(sum(cid * (1::BIGINT << (2*m))) AS bigint) AS pq_packed
        |FROM a GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // q125: q118's exact-integer BM25 scaffold summed over the two query
    // terms -> ranked list; cosine list to doc 0's embedding; RRF fusion
    // with integer contributions 10^9 // (60 + rank)
    "q125_rrf_hybrid" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |               (SELECT sum(tf) FROM tf) AS t_tokens),
        |sc AS (SELECT tf.doc_id,
        |         (((1000000::HUGEINT * (2*n_docs - 2*df + 1)) // (2*df + 1))
        |           * tf.tf::HUGEINT * 2200 * 1000 * t_tokens)
        |         //
        |         (tf.tf::HUGEINT * 1000000 * t_tokens
        |           + 300000::HUGEINT * t_tokens
        |           + 900000::HUGEINT * dl.dl * n_docs) AS score_fp
        |       FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN tot
        |       WHERE tf.term IN ('merge', 'slow')),
        |bm AS (SELECT 0::BIGINT AS query_id, doc_id, sum(score_fp) AS score
        |       FROM sc GROUP BY 2),
        |bmr AS (SELECT query_id, doc_id,
        |          row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |        FROM bm QUALIFY rank <= 100),
        |ann AS (SELECT 0::BIGINT AS query_id, b.vec_id AS doc_id,
        |          row_number() OVER (ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rank
        |        FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id != 0
        |        QUALIFY rank <= 100),
        |u AS (SELECT query_id, doc_id, 1000000000 // (60 + rank) AS c FROM bmr
        |      UNION ALL SELECT query_id, doc_id, 1000000000 // (60 + rank) FROM ann),
        |f AS (SELECT query_id, doc_id, count(*) AS n_lists, sum(c) AS rrf_fp
        |      FROM u GROUP BY 1, 2)
        |SELECT query_id, doc_id, n_lists, cast(rrf_fp AS bigint) AS rrf_fp,
        |  cast(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_fp DESC, doc_id) AS bigint) AS rank
        |FROM f ORDER BY rank""".stripMargin,

    // q126: the blocking is lossless, so the oracle is the PLAIN predicate
    // — every pair within 3 edits (length prune is implied by the
    // predicate, added only to keep the oracle quadratic term cheap)
    "q126_fuzzy_join" ->
      """WITH p AS (SELECT p_partkey AS id, p_name AS s FROM part WHERE p_partkey < 500)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  cast(levenshtein(a.s, b.s) AS bigint) AS dist
        |FROM p a JOIN p b ON a.id < b.id
        |WHERE abs(length(a.s) - length(b.s)) <= 3 AND levenshtein(a.s, b.s) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // q127: the generator writes sample i = (i*257) mod 32768 (PCM16LE);
    // stats replayed exactly over range(); media 3 is the ok=false row
    "q127_audio_pcm" ->
      """WITH cfg AS (SELECT * FROM (VALUES (1, 1, 8000, 4000), (2, 2, 16000, 2000))
        |             AS t(media_id, ch, rate, n)),
        |s AS (SELECT media_id, ch, rate, n, (x.r * 257) % 32768 AS v
        |      FROM cfg JOIN range(4000) x(r) ON x.r < n)
        |SELECT cast(media_id AS bigint) AS media_id, cast(ch AS bigint) AS channels,
        |  cast(rate AS bigint) AS sample_rate, cast(n AS bigint) AS n_samples,
        |  cast(max(v) AS bigint) AS peak_abs, cast(sum(v) AS bigint) AS sum_abs,
        |  cast(sum(v::HUGEINT * v) AS bigint) AS sum_sq, true AS ok
        |FROM s GROUP BY 1, 2, 3, 4
        |UNION ALL SELECT 3, 0, 0, 0, 0, 0, 0, false
        |ORDER BY media_id""".stripMargin,

    // q128: gray = (r+g+b) div 3 over the fill (x*31+y*17) & 0xffffff,
    // cell = (x*9 div W, y*8 div H), bit(cy*8+cx) = avg(cx) > avg(cx+1),
    // packed as two 32-bit halves; media 4 (8x6) is below 9x8 -> ok=false
    "q128_image_dhash" ->
      """WITH dims AS (SELECT * FROM (VALUES (1, 64, 64), (2, 65, 64), (3, 17, 9))
        |              AS t(media_id, w, h)),
        |px AS (SELECT media_id, w, h, x.r % w AS x, x.r // w AS y,
        |         ((x.r % w) * 31 + (x.r // w) * 17) % 16777216 AS v
        |       FROM dims JOIN range(4225) x(r) ON x.r < w * h),
        |g AS (SELECT media_id, w, h, (x * 9) // w AS cx, (y * 8) // h AS cy,
        |        ((v // 65536) + ((v // 256) % 256) + (v % 256)) // 3 AS gray
        |      FROM px),
        |cell AS (SELECT media_id, w, h, cx, cy, sum(gray) // count(*) AS avg
        |         FROM g GROUP BY 1, 2, 3, 4, 5),
        |bits AS (SELECT l.media_id, l.w, l.h, l.cy * 8 + l.cx AS idx
        |         FROM cell l JOIN cell r ON l.media_id = r.media_id
        |           AND l.cy = r.cy AND r.cx = l.cx + 1
        |         WHERE l.cx < 8 AND l.avg > r.avg),
        |packed AS (SELECT d.media_id, d.w, d.h,
        |    coalesce(sum(CASE WHEN idx >= 32 THEN 1::BIGINT << (idx - 32) ELSE 0 END), 0) AS hi,
        |    coalesce(sum(CASE WHEN idx < 32 THEN 1::BIGINT << idx ELSE 0 END), 0) AS lo
        |  FROM dims d LEFT JOIN bits b USING (media_id)
        |  GROUP BY 1, 2, 3)
        |SELECT cast(media_id AS bigint) AS media_id, cast(w AS bigint) AS width,
        |  cast(h AS bigint) AS height, cast(hi AS bigint) AS dhash_hi,
        |  cast(lo AS bigint) AS dhash_lo, true AS ok
        |FROM packed
        |UNION ALL SELECT 4, 0, 0, 0, 0, false
        |ORDER BY media_id""".stripMargin,

    // q129: quantile_disc is DuckDB's name for the same discrete rule
    // (element at ceil(q*n)); med/mad stay integers so the k*mad boundary
    // is exact
    "q129_mad_outliers" ->
      """WITH med AS (SELECT lang, quantile_disc(n_chars, 0.5) AS med
        |             FROM documents GROUP BY lang),
        |dev AS (SELECT d.doc_id, d.lang, d.n_chars, med.med,
        |          abs(d.n_chars - med.med) AS abs_dev
        |        FROM documents d JOIN med USING (lang)),
        |mad AS (SELECT lang, quantile_disc(abs_dev, 0.5) AS mad
        |        FROM dev GROUP BY lang)
        |SELECT dev.doc_id, dev.lang, dev.n_chars, dev.med, dev.abs_dev,
        |  mad.mad, dev.abs_dev > 2 * mad.mad AS is_outlier
        |FROM dev JOIN mad USING (lang) ORDER BY dev.doc_id""".stripMargin,

    // q130: GROUP BY ROLLUP with the same grouping bitmask convention
    // (first dim = high bit) and grouping()-guarded sentinels
    "q130_dataset_card" ->
      """SELECT CASE WHEN GROUPING(lang) = 1 THEN '(all)' ELSE lang END AS lang,
        |  CASE WHEN GROUPING(source) = 1 THEN '(all)' ELSE source END AS source,
        |  cast(GROUPING(lang, source) AS bigint) AS gid,
        |  count(*) AS n_rows, cast(sum(n_chars) AS bigint) AS sum_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY gid, lang, source""".stripMargin,

    // q131: Hamilton quotas replayed — base = (B*w) div W, the
    // sum(base) shortfall distributed to the largest remainders
    "q131_crawl_budget" ->
      """WITH h AS (SELECT source, sum(n_chars) AS w FROM documents GROUP BY 1),
        |t AS (SELECT (SELECT sum(w) FROM h) AS tw),
        |b AS (SELECT h.source, h.w, (99991 * h.w) // tw AS base,
        |        (99991 * h.w) % tw AS rem FROM h, t),
        |sb AS (SELECT sum(base) AS spent FROM b),
        |r AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC, source) AS rr FROM b)
        |SELECT source, cast(w AS bigint) AS w, cast(base AS bigint) AS base,
        |  cast(rem AS bigint) AS rem,
        |  cast(base + CASE WHEN rr <= 99991 - spent THEN 1 ELSE 0 END AS bigint) AS alloc
        |FROM r, sb ORDER BY source""".stripMargin,

    // q132: same injected page corpus, line doc-frequency per host,
    // >= 50%-of-pages lines stripped, order-preserving reassembly
    "q132_host_boilerplate" ->
      """WITH pg AS (SELECT doc_id, source,
        |    concat_ws(chr(10), 'nav: home | about | contact',
        |      regexp_replace(text, ' value ', chr(10), 'g'),
        |      concat('(c) 2026 ', source)) AS page_text FROM documents),
        |ls AS (SELECT doc_id, source, string_split(page_text, chr(10)) AS ll FROM pg),
        |lines AS (SELECT doc_id, source, i - 1 AS line_no, ll[i] AS line
        |          FROM ls, unnest(range(1, len(ll) + 1)) AS u(i)),
        |docline AS (SELECT DISTINCT source, trim(line) AS t, doc_id
        |            FROM lines WHERE trim(line) <> ''),
        |pages AS (SELECT source, count(DISTINCT doc_id) AS pages FROM pg GROUP BY 1),
        |bad AS (SELECT d.source, d.t
        |        FROM (SELECT source, t, count(*) AS df FROM docline GROUP BY 1,2) d
        |        JOIN pages USING (source)
        |        WHERE pages >= 2 AND d.df * 1000 >= 500 * pages)
        |SELECT l.doc_id, l.source,
        |  coalesce(string_agg(CASE WHEN b.t IS NULL THEN l.line END,
        |                      chr(10) ORDER BY l.line_no), '') AS text_clean,
        |  cast(sum(CASE WHEN b.t IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_lines_removed,
        |  cast(sum(CASE WHEN b.t IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_lines_kept
        |FROM lines l LEFT JOIN bad b ON l.source = b.source AND trim(l.line) = b.t
        |GROUP BY 1, 2 ORDER BY l.doc_id""".stripMargin,

    // q133: bigram counts per doc; top = min over (-cnt, gram) struct,
    // duplicated mass = occurrence-weighted chars of cnt>=2 grams
    "q133_ngram_repetition" ->
      """WITH w AS (SELECT doc_id, length(text) AS chars,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, chars, array_to_string(ws[i:i+1], ' ') AS gram
        |      FROM w, unnest(range(1, len(ws))) AS u(i) WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, chars, gram, count(*) AS cnt FROM g GROUP BY 1,2,3),
        |p AS (SELECT doc_id, chars, min(struct_pack(nc := -cnt, g := gram)) AS m,
        |        sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup
        |      FROM c GROUP BY 1,2)
        |SELECT d.doc_id, p.m.g AS top_ngram,
        |  cast(coalesce(-p.m.nc, 0) AS bigint) AS top_cnt,
        |  coalesce(cast(-p.m.nc * length(p.m.g) AS double) / p.chars, 0.0)
        |    AS top_ngram_char_frac,
        |  coalesce(cast(p.dup AS double) / p.chars, 0.0) AS dup_ngram_char_frac
        |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q134: QI group sizes joined back; groups under k=3 masked to '*'
    "q134_k_anonymize" ->
      """WITH d AS (SELECT doc_id, lang, source, n_chars % 499 AS len_b FROM documents),
        |c AS (SELECT lang, len_b, count(*) AS k_group_n FROM d GROUP BY 1, 2)
        |SELECT doc_id,
        |  CASE WHEN k_group_n < 3 THEN '*' ELSE lang END AS lang,
        |  source,
        |  CASE WHEN k_group_n < 3 THEN '*' ELSE cast(len_b AS varchar) END AS len_b,
        |  cast(k_group_n AS bigint) AS k_group_n,
        |  k_group_n < 3 AS k_suppressed
        |FROM d JOIN c USING (lang, len_b) ORDER BY doc_id""".stripMargin,

    // q135: Simpson parts in exact integers; doubles are single divisions
    "q135_diversity" ->
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT lang, cast(sum(n) AS bigint) AS n_total,
        |  count(*) AS n_dims, cast(sum(n * n) AS bigint) AS sum_sq,
        |  cast(sum(n * n) AS double) / cast(sum(n) * sum(n) AS double) AS simpson,
        |  cast(sum(n) * sum(n) AS double) / cast(sum(n * n) AS double) AS inv_simpson
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // q136: identical regex runs counted, score in the same double op order
    "q136_readability" ->
      """SELECT doc_id,
        |  cast(len(regexp_extract_all(text, '\S+')) AS bigint) AS n_words,
        |  cast(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS bigint) AS n_sentences,
        |  cast(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS bigint) AS n_syllables,
        |  CASE WHEN len(regexp_extract_all(text, '\S+')) > 0 THEN
        |    206.835::double
        |      - 1.015::double * (len(regexp_extract_all(text, '\S+'))::double
        |          / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::double)
        |      - 84.6::double * (greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)::double
        |          / len(regexp_extract_all(text, '\S+'))::double)
        |  END AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q137: word-frequency table per doc; tokens/types/hapax exact,
    // fractions single divisions, wordless docs all-zero
    "q137_lexical_diversity" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, ws[i] AS w FROM w, unnest(range(1, len(ws) + 1)) AS u(i)),
        |c AS (SELECT doc_id, w, count(*) AS cnt FROM t GROUP BY 1, 2),
        |p AS (SELECT doc_id, sum(cnt) AS n_tokens, count(*) AS n_types,
        |        sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n_hapax
        |      FROM c GROUP BY 1)
        |SELECT d.doc_id,
        |  cast(coalesce(p.n_tokens, 0) AS bigint) AS n_tokens,
        |  cast(coalesce(p.n_types, 0) AS bigint) AS n_types,
        |  cast(coalesce(p.n_hapax, 0) AS bigint) AS n_hapax,
        |  coalesce(cast(p.n_types AS double) / p.n_tokens, 0.0) AS ttr,
        |  coalesce(cast(p.n_hapax AS double) / p.n_types, 0.0) AS hapax_frac
        |FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // q138: same residue-injected corpus, same literal-alternation regex
    // counts, same int64 threshold compare
    "q138_encoding_artifacts" ->
      """WITH d AS (SELECT doc_id, concat(text,
        |    CASE WHEN doc_id % 7 = 0 THEN ' Ã©lÃ©gant â€” caffÃ¨ 10Â°' ELSE '' END,
        |    CASE WHEN doc_id % 13 = 0 THEN ' �lost' ELSE '' END,
        |    CASE WHEN doc_id % 11 = 0 THEN chr(1) ELSE '' END) AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len(regexp_extract_all(text, 'Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã±|Ã³|Ã¡|Ã§|â€™|â€œ|â€“|â€”|Â°|Â»|Â«')) AS nm,
        |    len(regexp_extract_all(text, '�')) AS nr,
        |    len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS nc,
        |    length(text) AS chars
        |  FROM d)
        |SELECT doc_id, cast(nm AS bigint) AS n_mojibake,
        |  cast(nr AS bigint) AS n_replacement, cast(nc AS bigint) AS n_ctrl,
        |  (nm + nr + nc > 0) AND ((nm + nr + nc) * 1000 >= 5 * chars) AS suspect
        |FROM c ORDER BY doc_id""".stripMargin,

    // q139: the same 8 lag terms, same fixed-point floor, same weights
    "q139_decayed_value" ->
      """WITH f AS (SELECT event_id, user_id, ts,
        |    cast(floor(value * 100) AS bigint) AS fx
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |  (fx * 128
        |   + coalesce(lag(fx, 1) OVER w, 0) * 64
        |   + coalesce(lag(fx, 2) OVER w, 0) * 32
        |   + coalesce(lag(fx, 3) OVER w, 0) * 16
        |   + coalesce(lag(fx, 4) OVER w, 0) * 8
        |   + coalesce(lag(fx, 5) OVER w, 0) * 4
        |   + coalesce(lag(fx, 6) OVER w, 0) * 2
        |   + coalesce(lag(fx, 7) OVER w, 0)) AS value_decayed
        |FROM f
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    // q140: same tokenization as q137, total (freq desc, word) order at
    // the top-200 cut, rank*freq exact int64, freq_ratio single division
    "q140_zipf_table" ->
      """WITH w AS (SELECT
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |t AS (SELECT ws[i] AS word FROM w, unnest(range(1, len(ws) + 1)) AS u(i)),
        |c AS (SELECT word, count(*) AS freq FROM t GROUP BY 1),
        |top AS (SELECT word, freq FROM c ORDER BY freq DESC, word LIMIT 200),
        |r AS (SELECT word, freq,
        |        row_number() OVER (ORDER BY freq DESC, word) AS rank
        |      FROM top)
        |SELECT rank, word, freq, rank * freq AS rank_x_freq,
        |  cast(freq AS double) / max(freq) OVER () AS freq_ratio
        |FROM r ORDER BY rank""".stripMargin,

    "q141_hits" -> hitsOracleSql,

    // q142: identical 60-bit md5 uniform, identical integer division,
    // identical (priority, doc_id) cut
    "q142_priority_sample" ->
      """SELECT doc_id, weight, priority FROM (
        |  SELECT doc_id, cast(greatest(n_chars, 1) AS bigint) AS weight,
        |    cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))::UBIGINT
        |         // greatest(n_chars, 1) AS bigint) AS priority
        |  FROM documents
        |  ORDER BY priority, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    // q143: same JSON pointer, same int cast, exact counts
    "q143_json_props" ->
      """SELECT event_type, cast(json_extract(props, '$.k') AS int) AS k,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q144: the bucketed equi-join + residual filter must equal the plain
    // theta-join — the oracle IS the theta-join
    "q144_range_join" ->
      """WITH iv AS (SELECT DISTINCT doc_id % 120 AS iv_id FROM documents),
        |i2 AS (SELECT iv_id, iv_id * 40 AS lo,
        |         iv_id * 40 + (iv_id % 3) * 25 + 30 AS hi FROM iv),
        |p AS (SELECT doc_id, (doc_id * 13) % 5000 AS v FROM documents)
        |SELECT p.doc_id, p.v, i2.iv_id, i2.lo, i2.hi
        |FROM p JOIN i2 ON p.v BETWEEN i2.lo AND i2.hi
        |ORDER BY p.doc_id, i2.iv_id""".stripMargin,

    // q145: same canonicalization (a<b, loops dropped, dups collapsed),
    // same ordered wedge join, same single division
    "q145_triangles" ->
      """WITH raw AS (
        |  SELECT doc_id % 40 AS src, (doc_id * 7 + 1) % 40 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 40, (doc_id * 11 + 3) % 40 FROM documents),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM raw WHERE src <> dst),
        |nodes AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |deg AS (SELECT node, count(*) AS degree FROM (
        |          SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        |        GROUP BY node),
        |tri AS (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
        |        FROM e e1 JOIN e e2 ON e1.b = e2.a
        |        JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
        |pn AS (SELECT node, count(*) AS triangles FROM (
        |         SELECT ta AS node FROM tri UNION ALL SELECT tb FROM tri
        |         UNION ALL SELECT tc FROM tri)
        |       GROUP BY node)
        |SELECT n.node, d.degree, coalesce(pn.triangles, 0) AS triangles,
        |  CASE WHEN d.degree < 2 THEN 0.0
        |       ELSE cast(coalesce(pn.triangles, 0) AS double) * 2.0
        |            / cast(d.degree * (d.degree - 1) AS double)
        |  END AS clustering_coeff
        |FROM nodes n JOIN deg d USING (node) LEFT JOIN pn USING (node)
        |ORDER BY n.node""".stripMargin,

    // q146: row_number with total tie-break, pct = rank / n
    "q146_percentile_rank" ->
      """SELECT doc_id, lang, n_chars,
        |  cast(row_number() OVER w AS bigint) AS rank,
        |  cast(count(*) OVER (PARTITION BY lang) AS bigint) AS n,
        |  cast(row_number() OVER w AS double)
        |    / count(*) OVER (PARTITION BY lang) AS pct_rank
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q147: greedy earliest-reach == chained "earliest event of the next
    // type strictly after the previous reach time"
    "q147_funnel" ->
      """WITH r1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |r2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN r1 ON e.user_id = r1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > r1.t1 GROUP BY 1),
        |r3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN r2 ON e.user_id = r2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > r2.t2 GROUP BY 1),
        |c AS (SELECT 1 AS step_no, 'view' AS step,
        |        (SELECT count(*) FROM r1) AS users
        |      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM r2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM r3))
        |SELECT cast(step_no AS bigint) AS step_no, step, users,
        |  CASE WHEN step_no = 1 THEN cast(1.0 AS double)
        |       ELSE cast(users AS double) / lag(users) OVER (ORDER BY step_no)
        |  END AS conversion,
        |  cast(users AS double) / first_value(users) OVER (ORDER BY step_no)
        |    AS overall
        |FROM c ORDER BY step_no""".stripMargin,

    // q148: cohort = Monday-start week of first event; offsets are exact
    // multiples of 7 days so the integer division is lossless
    "q148_cohort_retention" ->
      """WITH weekly AS (SELECT DISTINCT user_id,
        |                  cast(date_trunc('week', ts) AS timestamp) AS week
        |                FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY 1),
        |counts AS (SELECT c.cohort_week,
        |             cast(date_diff('day', c.cohort_week, w.week) // 7 AS bigint)
        |               AS week_offset,
        |             count(*) AS users
        |           FROM weekly w JOIN cohort c ON w.user_id = c.user_id
        |           GROUP BY 1, 2),
        |base AS (SELECT cohort_week, users AS base_users FROM counts
        |         WHERE week_offset = 0)
        |SELECT c.cohort_week, c.week_offset, c.users,
        |  cast(c.users AS double) / b.base_users AS retention
        |FROM counts c JOIN base b ON c.cohort_week = b.cohort_week
        |ORDER BY 1, 2""".stripMargin,

    // q149: lag over the same (user, ts, event_id) total order
    "q149_transitions" ->
      """WITH p AS (SELECT lag(event_type) OVER
        |             (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
        |           event_type AS to_type FROM events),
        |n AS (SELECT from_type, to_type, count(*) AS n FROM p
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS tot FROM n GROUP BY 1)
        |SELECT n.from_type, n.to_type, n.n,
        |  cast(n.n AS double) / t.tot AS p
        |FROM n JOIN t ON n.from_type = t.from_type
        |ORDER BY 1, 2""".stripMargin,

    // q150: every metric is an exact int/int division (or an exact min
    // cast), so the doubles match bit-for-bit
    "q150_constraints" ->
      """WITH m AS (SELECT
        |    cast(count(text) AS double) / count(*) AS m0,
        |    cast(count(DISTINCT doc_id) AS double) / count(*) AS m1,
        |    cast(min(n_chars) AS double) AS m2,
        |    cast(sum(CASE WHEN lang IN ('en','de','fr','es','zh')
        |                  THEN 1 ELSE 0 END) AS double) / count(*) AS m3
        |  FROM documents)
        |SELECT 'text_complete' AS "constraint", m0 AS metric, m0 = 1.0 AS passed FROM m
        |UNION ALL SELECT 'doc_id_unique', m1, m1 = 1.0 FROM m
        |UNION ALL SELECT 'n_chars_min', m2, m2 >= 1.0 FROM m
        |UNION ALL SELECT 'lang_domain', m3, m3 = 1.0 FROM m""".stripMargin,

    // q151: the salted join must equal the plain equi-join — the oracle IS
    // the plain join
    "q151_salted_join" ->
      """SELECT d.doc_id, d.lang, c.lang_docs
        |FROM documents d
        |JOIN (SELECT lang, count(*) AS lang_docs FROM documents GROUP BY 1) c
        |  ON d.lang = c.lang
        |ORDER BY d.doc_id""".stripMargin,

    // q152: pivot == conditional sums with the same explicit column set
    "q152_crosstab" ->
      """SELECT source,
        |  cast(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS bigint) AS de,
        |  cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bigint) AS en,
        |  cast(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS bigint) AS es,
        |  cast(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS bigint) AS fr,
        |  cast(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS bigint) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // q153: the log2-histogram replayed in SQL — bucket index via a pow2
    // table join + integer division (s=5: exact buckets below 64, then
    // (h-5)*32 + v // 2^(h-5)), quantile = lower bound of the first bucket
    // whose cumulative count reaches ceil(n*q/1000) as (n*q+999)//1000,
    // the '*' row over the whole corpus (merge of counter sums == sums
    // over the union)
    "q153_quantile_sketch" ->
      """WITH pow2 AS (SELECT e, cast(pow(2, e) AS BIGINT) AS p FROM range(0, 63) t(e)),
        |v0 AS (SELECT lang, n_chars AS v FROM documents
        |       UNION ALL SELECT '*' AS lang, n_chars AS v FROM documents),
        |b AS (SELECT lang, v, (SELECT max(e) FROM pow2 WHERE p <= v) AS h FROM v0),
        |idx AS (SELECT lang, CASE WHEN v < 64 THEN v
        |          ELSE (h - 5) * 32 + v // (SELECT p FROM pow2 WHERE e = h - 5) END AS i
        |        FROM b),
        |hist AS (SELECT lang, i, count(*) AS c FROM idx GROUP BY 1, 2),
        |cum AS (SELECT lang, i, c,
        |          sum(c) OVER (PARTITION BY lang ORDER BY i) AS cc,
        |          sum(c) OVER (PARTITION BY lang) AS n
        |        FROM hist),
        |q AS (SELECT lang, n, qp,
        |        min(CASE WHEN cc >= (n * qp + 999) // 1000 THEN i END) AS qi
        |      FROM cum CROSS JOIN (VALUES (500), (900), (990)) t(qp)
        |      GROUP BY lang, n, qp),
        |rep AS (SELECT lang, n, qp,
        |        CASE WHEN qi < 64 THEN qi
        |             ELSE (qi - ((qi // 32) - 1) * 32) *
        |                  (SELECT p FROM pow2 WHERE e = (qi // 32) - 1) END AS qv
        |        FROM q)
        |SELECT lang, cast(n AS bigint) AS n_values,
        |  cast(max(CASE WHEN qp = 500 THEN qv END) AS bigint) AS p50,
        |  cast(max(CASE WHEN qp = 900 THEN qv END) AS bigint) AS p90,
        |  cast(max(CASE WHEN qp = 990 THEN qv END) AS bigint) AS p99
        |FROM rep GROUP BY lang, n ORDER BY lang""".stripMargin,

    // q154: the Morton interleave replayed as pow2 arithmetic — bit i of a
    // lands at position 2i (weight p*p for p = 2^i), bit i of b at 2i+1
    // (weight 2*p*p); bucket = zkey div 2^10
    "q154_zorder_layout" ->
      """WITH pow2 AS (SELECT e, cast(pow(2, e) AS BIGINT) AS p FROM range(0, 10) t(e)),
        |d AS (SELECT user_id % 1024 AS a, (epoch_ms(ts) // 86400000) % 512 AS b
        |      FROM events),
        |k AS (SELECT a, b,
        |        (SELECT sum(((a // p) % 2) * p * p + ((b // p) % 2) * 2 * p * p)
        |         FROM pow2) AS zkey
        |      FROM d)
        |SELECT cast(zkey // 1024 AS bigint) AS bucket,
        |  cast(count(*) AS bigint) AS n,
        |  min(a) AS a_min, max(a) AS a_max, min(b) AS b_min, max(b) AS b_max
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    // q155: the doubled rank-sum AUC and the PPM calibration ratios
    // replayed in HUGEINT — 2U = sum_s pos_s*(2*below_s + cnt_s + 1)
    // - nPos*(nPos+1); auc_ppm = 2U * 10^6 // (2*nPos*nNeg)
    "q155_classifier_eval" ->
      """WITH d AS (SELECT (n_chars % 40) +
        |    (CASE WHEN doc_id % 3 = 0 THEN 15 ELSE 0 END) AS score,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS label
        |  FROM documents),
        |ps AS (SELECT score, count(*)::HUGEINT AS cnt, sum(label)::HUGEINT AS pos
        |       FROM d GROUP BY score),
        |cb AS (SELECT score, cnt, pos,
        |         coalesce(sum(cnt) OVER (ORDER BY score
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        |       FROM ps),
        |tot AS (SELECT sum(pos * (2 * below + cnt + 1)) AS rs2,
        |               sum(pos) AS np, sum(cnt) AS n FROM cb),
        |auc AS (SELECT cast((rs2 - np * (np + 1)) * 1000000
        |          // (2 * np * (n - np)) AS bigint) AS auc_ppm,
        |        cast(np AS bigint) AS n_pos_total,
        |        cast(n - np AS bigint) AS n_neg_total FROM tot),
        |bins AS (SELECT score // 10 AS bin, cast(sum(cnt) AS bigint) AS n,
        |        cast(sum(pos) AS bigint) AS n_pos,
        |        cast(sum(score * cnt) * 1000000 // sum(cnt) AS bigint) AS mean_score_ppm,
        |        cast(sum(pos) * 1000000 // sum(cnt) AS bigint) AS pos_rate_ppm
        |      FROM ps GROUP BY 1)
        |SELECT b.bin, b.n, b.n_pos, b.mean_score_ppm, b.pos_rate_ppm,
        |  a.auc_ppm, a.n_pos_total, a.n_neg_total
        |FROM bins b CROSS JOIN auc a ORDER BY b.bin""".stripMargin,

    // q156: the q153 bucket replay per UTC-day window — cents quantization
    // via floor(value*100) (identical IEEE double op), window bounds from
    // epoch-floored microseconds as in q95
    "q156_stream_quantile_sketch" ->
      """WITH pow2 AS (SELECT e, cast(pow(2, e) AS BIGINT) AS p FROM range(0, 63) t(e)),
        |ev AS (SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS wus,
        |              cast(floor(value * 100) AS BIGINT) AS v FROM events),
        |b AS (SELECT wus, v, (SELECT max(e) FROM pow2 WHERE p <= v) AS h FROM ev),
        |idx AS (SELECT wus, CASE WHEN v < 64 THEN v
        |          ELSE (h - 5) * 32 + v // (SELECT p FROM pow2 WHERE e = h - 5) END AS i
        |        FROM b),
        |hist AS (SELECT wus, i, count(*) AS c FROM idx GROUP BY 1, 2),
        |cum AS (SELECT wus, i, sum(c) OVER (PARTITION BY wus ORDER BY i) AS cc,
        |               sum(c) OVER (PARTITION BY wus) AS n FROM hist),
        |q AS (SELECT wus, n, qp,
        |        min(CASE WHEN cc >= (n * qp + 999) // 1000 THEN i END) AS qi
        |      FROM cum CROSS JOIN (VALUES (500), (900), (990)) t(qp)
        |      GROUP BY wus, n, qp),
        |rep AS (SELECT wus, n, qp,
        |        CASE WHEN qi < 64 THEN qi
        |             ELSE (qi - ((qi // 32) - 1) * 32) *
        |                  (SELECT p FROM pow2 WHERE e = (qi // 32) - 1) END AS qv
        |        FROM q)
        |SELECT make_timestamp(wus) AS window_start,
        |  make_timestamp(wus + 86400000000) AS window_end,
        |  cast(n AS bigint) AS n_values,
        |  cast(max(CASE WHEN qp = 500 THEN qv END) AS bigint) AS p500,
        |  cast(max(CASE WHEN qp = 900 THEN qv END) AS bigint) AS p900,
        |  cast(max(CASE WHEN qp = 990 THEN qv END) AS bigint) AS p990
        |FROM rep GROUP BY wus, n ORDER BY window_start""".stripMargin,

    // q157: the running latest-touch replayed with IGNORE NULLS over the
    // same (ts, event_id)-ordered ROWS frame; 6h attribution window in ms
    "q157_last_touch" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, ts,
        |    epoch_ms(ts) AS ms FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |ann AS (SELECT event_id, user_id, event_type, ms AS conv_ms,
        |    last_value(CASE WHEN event_type = 'click' THEN ms END IGNORE NULLS)
        |      OVER w AS t_ms,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER w AS t_id
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id, user_id, conv_ms,
        |  CASE WHEN conv_ms - t_ms <= 21600000 THEN t_id END AS touch_event_id,
        |  CASE WHEN conv_ms - t_ms <= 21600000 THEN t_ms END AS touch_ms,
        |  CASE WHEN conv_ms - t_ms <= 21600000 THEN conv_ms - t_ms END AS gap_ms
        |FROM ann WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // q158: daily counts + integer RANGE frame baseline, the burst flag as
    // the same cross-multiplied comparison (n * 7 > base_n * 2)
    "q158_burst_days" ->
      """WITH daily AS (SELECT event_type AS key, epoch_ms(ts) // 86400000 AS day,
        |    count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT key, day, n,
        |  cast(coalesce(sum(n) OVER (PARTITION BY key ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS bigint) AS base_n,
        |  n * 7 > coalesce(sum(n) OVER (PARTITION BY key ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) * 2 AS is_burst
        |FROM daily ORDER BY key, day""".stripMargin,

    // q159: prefix filtering is lossless, so the oracle is the plain
    // brute-force Jaccard predicate (same shingle grammar as q37, t=0.6)
    "q159_prefix_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text FROM documents),
        |words AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w FROM docs),
        |sh AS (SELECT id, list_distinct(list_transform(range(1, len(w) - 1),
        |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
        |       FROM words WHERE len(w) >= 3)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  cast(len(s_common) AS double) /
        |  cast(len(a.s) + len(b.s) - len(s_common) AS double) AS jaccard
        |FROM sh a JOIN sh b ON a.id < b.id
        |WHERE len(s_common) > 0 AND
        |  cast(len(s_common) AS double) / cast(len(a.s) + len(b.s) - len(s_common) AS double) >= 0.6
        |ORDER BY 1, 2""".stripMargin
        .replace("s_common", "list_intersect(a.s, b.s)"),

    // q160: the naive formulation — rank every key ascending by count and
    // take G = 2*sum(rank*n)/(K*T) - (K+1)/K; ties permute freely inside
    // the rank-weighted sum, so this equals the engine's count-of-counts
    // derivation exactly
    "q160_skew_report" ->
      """WITH pk AS (SELECT event_type AS key, count(*) AS n FROM events GROUP BY 1),
        |r AS (SELECT key, n, row_number() OVER (ORDER BY n, key) AS rk FROM pk),
        |agg AS (SELECT cast(sum(n) AS bigint) AS t, count(*) AS k,
        |        cast(sum(rk * n) AS bigint) AS s FROM r),
        |top AS (SELECT key AS max_key, n AS max_n FROM pk
        |        ORDER BY n DESC, key DESC LIMIT 1)
        |SELECT t AS n_rows, k AS n_keys, max_key, max_n,
        |  cast(max_n AS double) / cast(t AS double) AS top_share,
        |  (2.0 * s) / cast(k * t AS double) - (k + 1.0) / cast(k AS double) AS gini,
        |  (max_n * k + t - 1) // t AS suggested_salt
        |FROM agg, top""".stripMargin,

    // q161: add-one-smoothed PSI; the total is the same left-to-right fold
    // over category-sorted terms the engine uses (list_reduce with a 0.0
    // seed), never an order-free float sum
    "q161_psi_drift" ->
      """WITH r AS (SELECT lang AS category, count(*) AS n_ref FROM documents
        |           WHERE doc_id % 2 = 0 GROUP BY 1),
        |c AS (SELECT lang AS category, count(*) AS n_cur FROM documents
        |      WHERE doc_id % 2 = 1 GROUP BY 1),
        |j AS (SELECT coalesce(r.category, c.category) AS category,
        |        coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |      FROM r FULL OUTER JOIN c ON r.category = c.category),
        |tot AS (SELECT cast(sum(n_ref) AS bigint) AS tr,
        |        cast(sum(n_cur) AS bigint) AS tc, count(*) AS k FROM j),
        |t AS (SELECT category, n_ref, n_cur,
        |        cast(n_ref + 1 AS double) / cast(tr + k AS double) AS p_ref,
        |        cast(n_cur + 1 AS double) / cast(tc + k AS double) AS p_cur
        |      FROM j, tot),
        |t2 AS (SELECT *, (p_ref - p_cur) * ln(p_ref / p_cur) AS psi_term FROM t),
        |psi AS (SELECT list_reduce([cast(0.0 AS double)] ||
        |          list(psi_term ORDER BY category), (a, b) -> a + b) AS psi FROM t2)
        |SELECT category, n_ref, n_cur, p_ref, p_cur, psi_term, psi
        |FROM t2, psi ORDER BY category""".stripMargin,

    // q162: the naive global-window formulation — one rank over the total
    // order, pairs within 4 positions
    "q162_sorted_neighbors" ->
      """WITH r AS (SELECT doc_id AS id,
        |  row_number() OVER (ORDER BY substr(text, 1, 20), doc_id) AS rk
        |  FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b, a.rk AS rank_a, b.rk AS rank_b
        |FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 4
        |ORDER BY 3, 4""".stripMargin,

    // q163: GROUP BY CUBE with the same NULL-derived grouping id
    "q163_volume_cube" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |           user_id FROM events)
        |SELECT event_type, day, count(*) AS n,
        |  count(DISTINCT user_id) AS users,
        |  cast(2 * cast(event_type IS NULL AS int) +
        |       cast(day IS NULL AS int) AS bigint) AS gid
        |FROM e GROUP BY CUBE (event_type, day)
        |ORDER BY gid, event_type, day""".stripMargin,

    // q164: brute-force basket self-join; every ratio the same single
    // double division of integer products
    "q164_assoc_rules" ->
      """WITH b AS (SELECT DISTINCT user_id AS bk, event_type AS it FROM events),
        |ic AS (SELECT it, count(*) AS n FROM b GROUP BY 1),
        |tot AS (SELECT count(DISTINCT bk) AS nb FROM b),
        |p AS (SELECT a.it AS antecedent, c.it AS consequent, count(*) AS n_ab
        |      FROM b a JOIN b c ON a.bk = c.bk WHERE a.it <> c.it GROUP BY 1, 2)
        |SELECT antecedent, consequent, ia.n AS n_a, ib.n AS n_b, n_ab,
        |  cast(n_ab AS double) / cast(nb AS double) AS support,
        |  cast(n_ab AS double) / cast(ia.n AS double) AS confidence,
        |  cast(n_ab * nb AS double) / cast(ia.n * ib.n AS double) AS lift
        |FROM p JOIN ic ia ON ia.it = antecedent
        |       JOIN ic ib ON ib.it = consequent, tot
        |ORDER BY 1, 2""".stripMargin,

    // q165: same two rankings, naive pair enumeration
    "q165_rank_churn" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |ra AS (SELECT user_id,
        |       row_number() OVER (ORDER BY count(*) DESC, user_id) AS rnk
        |       FROM e WHERE day % 2 = 0 GROUP BY user_id QUALIFY rnk <= 20),
        |rb AS (SELECT user_id,
        |       row_number() OVER (ORDER BY count(*) DESC, user_id) AS rnk
        |       FROM e WHERE day % 2 = 1 GROUP BY user_id QUALIFY rnk <= 20),
        |c AS (SELECT ra.user_id AS k, ra.rnk AS r1, rb.rnk AS r2
        |      FROM ra JOIN rb ON ra.user_id = rb.user_id),
        |p AS (SELECT CASE WHEN (x.r1 - y.r1 > 0) = (x.r2 - y.r2 > 0)
        |             THEN 1 ELSE 0 END AS conc
        |      FROM c x JOIN c y ON x.k < y.k),
        |agg AS (SELECT cast(sum(conc) AS bigint) AS concordant,
        |        cast(sum(1 - conc) AS bigint) AS discordant FROM p),
        |n AS (SELECT count(*) AS n_common FROM c)
        |SELECT n_common, concordant, discordant,
        |  cast(concordant - discordant AS double) /
        |  cast((n_common * (n_common - 1)) // 2 AS double) AS tau
        |FROM agg, n""".stripMargin,

    // q166: exact-bigint Pearson sums over day-aligned (d, d-7) pairs
    "q166_lag_autocorr" ->
      """WITH d AS (SELECT event_type AS key, epoch_ms(ts) // 86400000 AS day,
        |           count(*) AS n FROM events GROUP BY 1, 2),
        |j AS (SELECT a.key, a.n AS x, b.n AS y FROM d a JOIN d b
        |      ON a.key = b.key AND a.day = b.day + 7),
        |s AS (SELECT key, count(*) AS n_pairs,
        |      cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
        |      cast(sum(x*y) AS bigint) AS sxy,
        |      cast(sum(x*x) AS bigint) AS sxx,
        |      cast(sum(y*y) AS bigint) AS syy FROM j GROUP BY 1)
        |SELECT key, n_pairs,
        |  CASE WHEN n_pairs*sxx - sx*sx > 0 AND n_pairs*syy - sy*sy > 0 THEN
        |    cast(n_pairs*sxy - sx*sy AS double) /
        |    (sqrt(cast(n_pairs*sxx - sx*sx AS double)) *
        |     sqrt(cast(n_pairs*syy - sy*sy AS double)))
        |  END AS r
        |FROM s ORDER BY key""".stripMargin,

    // q167: identical OLS sums over first-day-rebased day indices; slope,
    // intercept and r2 written with the engine's exact double-op order
    "q167_linear_trend" ->
      """WITH d AS (SELECT event_type AS key, epoch_ms(ts) // 86400000 AS day,
        |           count(*) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT key, day - min(day) OVER (PARTITION BY key) AS x, n FROM d),
        |s AS (SELECT key, count(*) AS nd,
        |      cast(sum(x) AS bigint) AS sx, cast(sum(n) AS bigint) AS sy,
        |      cast(sum(x*n) AS bigint) AS sxy,
        |      cast(sum(x*x) AS bigint) AS sxx,
        |      cast(sum(n*n) AS bigint) AS syy FROM b GROUP BY 1)
        |SELECT key, nd AS n_days,
        |  CASE WHEN nd*sxx - sx*sx > 0 THEN
        |    cast(nd*sxy - sx*sy AS double) / cast(nd*sxx - sx*sx AS double)
        |  END AS slope,
        |  CASE WHEN nd*sxx - sx*sx > 0 THEN
        |    (cast(sy AS double) -
        |     (cast(nd*sxy - sx*sy AS double) / cast(nd*sxx - sx*sx AS double))
        |       * cast(sx AS double)) / cast(nd AS double)
        |  END AS intercept,
        |  CASE WHEN nd*sxx - sx*sx > 0 AND nd*syy - sy*sy > 0 THEN
        |    (cast(nd*sxy - sx*sy AS double) / cast(nd*sxx - sx*sx AS double)) *
        |    (cast(nd*sxy - sx*sy AS double) / cast(nd*syy - sy*sy AS double))
        |  END AS r2
        |FROM s ORDER BY key""".stripMargin,

    // q168: full R x C grid (zero cells included), expected = nr*nc/N as a
    // single double division, total chi2 as the same (row,col)-sorted fold
    "q168_chi2_weekday" ->
      """WITH e AS (SELECT event_type AS row_cat,
        |           (epoch_ms(ts) // 86400000) % 7 AS col_cat FROM events),
        |cells AS (SELECT row_cat, col_cat, count(*) AS n FROM e GROUP BY 1, 2),
        |rt AS (SELECT row_cat, cast(sum(n) AS bigint) AS nr FROM cells GROUP BY 1),
        |ct AS (SELECT col_cat, cast(sum(n) AS bigint) AS nc FROM cells GROUP BY 1),
        |tot AS (SELECT cast(sum(n) AS bigint) AS nt,
        |        count(DISTINCT row_cat) AS r, count(DISTINCT col_cat) AS c
        |        FROM cells),
        |grid AS (SELECT rt.row_cat, ct.col_cat, nr, nc,
        |         cast(coalesce(cells.n, 0) AS bigint) AS n
        |         FROM rt CROSS JOIN ct
        |         LEFT JOIN cells ON cells.row_cat = rt.row_cat
        |                        AND cells.col_cat = ct.col_cat),
        |t AS (SELECT row_cat, col_cat, n,
        |      cast(nr*nc AS double) / cast(nt AS double) AS expected, r, c
        |      FROM grid, tot),
        |t2 AS (SELECT *, (cast(n AS double) - expected) *
        |       (cast(n AS double) - expected) / expected AS chi2_term FROM t),
        |f AS (SELECT list_reduce([cast(0.0 AS double)] ||
        |      list(chi2_term ORDER BY row_cat, col_cat), (a, b) -> a + b)
        |      AS chi2 FROM t2)
        |SELECT row_cat, col_cat, n, expected, chi2_term, chi2,
        |  (r - 1) * (c - 1) AS dof
        |FROM t2, f ORDER BY row_cat, col_cat""".stripMargin,

    // q169: recursive-CTE shortest path with the same depth cap; min(depth)
    // = first-discovery depth because levels advance one hop per step
    "q169_bfs_depth" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst
        |  FROM documents
        |  UNION
        |  SELECT doc_id % 50, (doc_id * 3 + 2) % 50 FROM documents),
        |bfs(node, depth) AS (
        |  SELECT cast(node AS bigint), cast(depth AS bigint)
        |  FROM (VALUES (0, 0), (1, 0)) AS s(node, depth)
        |  UNION
        |  SELECT e.dst, b.depth + 1 FROM bfs b JOIN e ON e.src = b.node
        |  WHERE b.depth < 6)
        |SELECT node, min(depth) AS depth FROM bfs GROUP BY 1 ORDER BY 1""".stripMargin,

    // q170: the definitional form — the engine's MG prefilter is lossless
    // (verified exact), so plain HAVING reproduces it
    "q170_heavy_hitters" ->
      """WITH w AS (SELECT
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |t AS (SELECT ws[i] AS value FROM w, unnest(range(1, len(ws) + 1)) AS u(i))
        |SELECT value, count(*) AS n FROM t GROUP BY 1
        |HAVING count(*) >= 200 ORDER BY 1""".stripMargin,

    // q171: the batch equivalent of the stream-static left join — a CASE
    // over the same four-row dimension, NULL for the missing 'error' type
    "q171_stream_enrich" ->
      """SELECT event_id, user_id, event_type,
        |  CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
        |       WHEN 'signup' THEN 3 WHEN 'purchase' THEN 4 END AS severity
        |FROM events ORDER BY event_id""".stripMargin,

    // q172: identical contribution explosion over distinct (user, day)
    "q172_sliding_distinct" ->
      """WITH p AS (SELECT DISTINCT user_id AS id,
        |           epoch_ms(ts) // 86400000 AS d FROM events),
        |days AS (SELECT DISTINCT d AS day FROM p),
        |c AS (SELECT DISTINCT id, d + i AS day
        |      FROM p, unnest(range(0, 7)) AS u(i))
        |SELECT day, count(*) AS n_distinct FROM c JOIN days USING (day)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q173: generated pair-by-pair from the same moment sums (see
    // corrMatrixOracleSql below) — every r the engine's exact expression
    "q173_corr_matrix" -> corrMatrixOracleSql,

    // q174: same md5-seeded uniform, same Laplace inverse CDF; sign/negate
    // steps are rounding-free so the single ln() is the only libm call
    "q174_dp_counts" ->
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |u AS (SELECT event_type, n,
        |  ((('0x' || substr(md5(event_type || chr(1) || 'dp2026'), 1, 8))::UBIGINT
        |    + 0.5) / 4294967296.0) AS u FROM c)
        |SELECT event_type, n,
        |  cast(n AS double) -
        |    ((1.0 * sign(u - 0.5)) * ln(1.0 - 2.0 * abs(u - 0.5))) AS n_noisy,
        |  1.0 AS epsilon
        |FROM u ORDER BY event_type""".stripMargin,

    // q175: same rank/cumulative construction; least() clamps oversized k
    "q175_vocab_coverage" ->
      """WITH w AS (SELECT
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |t AS (SELECT ws[i] AS tok FROM w, unnest(range(1, len(ws) + 1)) AS u(i)),
        |c AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
        |tot AS (SELECT cast(sum(n) AS bigint) AS T, count(*) AS nt FROM c),
        |r AS (SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM c),
        |cum AS (SELECT rk, cast(sum(n) OVER (ORDER BY rk) AS bigint) AS cn FROM r)
        |SELECT k.vocab_size, cum.cn AS covered_tokens, tot.T AS total_tokens,
        |  cast(cum.cn AS double) / cast(tot.T AS double) AS coverage
        |FROM (VALUES (4), (16), (64)) k(vocab_size), tot
        |JOIN cum ON cum.rk = least(k.vocab_size, tot.nt)
        |ORDER BY 1""".stripMargin,

    // q176: six conditional bigint sums, then the engine's exact division
    // chain (var -> se -> t -> Welch-Satterthwaite dof)
    "q176_welch_ttest" ->
      """WITH s AS (SELECT
        |  cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bigint) AS na,
        |  cast(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS bigint) AS sa,
        |  cast(sum(CASE WHEN lang = 'en' THEN n_chars * n_chars ELSE 0 END) AS bigint) AS ssa,
        |  cast(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS bigint) AS nb,
        |  cast(sum(CASE WHEN lang = 'de' THEN n_chars ELSE 0 END) AS bigint) AS sb,
        |  cast(sum(CASE WHEN lang = 'de' THEN n_chars * n_chars ELSE 0 END) AS bigint) AS ssb
        |  FROM documents WHERE lang IN ('en', 'de')),
        |d AS (SELECT na, nb,
        |  cast(sa AS double) / cast(na AS double) AS ma,
        |  cast(sb AS double) / cast(nb AS double) AS mb,
        |  cast(na * ssa - sa * sa AS double) / cast(na * (na - 1) AS double) AS va,
        |  cast(nb * ssb - sb * sb AS double) / cast(nb * (nb - 1) AS double) AS vb
        |  FROM s),
        |e AS (SELECT *, va / cast(na AS double) AS sea,
        |      vb / cast(nb AS double) AS seb FROM d)
        |SELECT na AS n_a, nb AS n_b, ma AS mean_a, mb AS mean_b,
        |  va AS var_a, vb AS var_b,
        |  CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0 THEN
        |    (ma - mb) / sqrt(sea + seb) END AS t,
        |  CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0 THEN
        |    ((sea + seb) * (sea + seb)) /
        |    (sea * sea / cast(na - 1 AS double) + seb * seb / cast(nb - 1 AS double))
        |  END AS dof
        |FROM e""".stripMargin,

    // q177: the exact dyadic metric columns — RBP terms rel/2^(rank-1)
    // (pure IEEE division by a power of two, no libm), ordered fold
    "q177_ranking_metrics" ->
      """WITH run AS (SELECT lang AS q,
        |  row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rank,
        |  doc_id % 3 AS rel FROM documents QUALIFY rank <= 10)
        |SELECT q AS query,
        |  0.5 * list_reduce([cast(0.0 AS double)] ||
        |    list(cast(rel AS double) / cast(1::BIGINT << (rank - 1) AS double)
        |         ORDER BY rank), (a, b) -> a + b) AS rbp,
        |  1.0 / cast(min(CASE WHEN rel > 0 THEN rank END) AS double) AS rr,
        |  cast(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS double) / 10.0 AS p_at_k
        |FROM run GROUP BY 1 ORDER BY 1""".stripMargin,

    // q178: the definitional per-key product + total row
    "q178_join_preflight" ->
      """WITH l AS (SELECT cast(user_id % 100 AS varchar) AS key,
        |           count(*) AS n_left FROM events GROUP BY 1),
        |r AS (SELECT cast(doc_id % 150 AS varchar) AS key,
        |      count(*) AS n_right FROM documents GROUP BY 1),
        |m AS (SELECT l.key, n_left, n_right, n_left * n_right AS pairs
        |      FROM l JOIN r USING (key)),
        |top AS (SELECT * FROM m ORDER BY pairs DESC, key LIMIT 5),
        |tot AS (SELECT '*' AS key, count(*) AS n_left, count(*) AS n_right,
        |        cast(coalesce(sum(pairs), 0) AS bigint) AS pairs FROM m)
        |SELECT key, cast(n_left AS bigint) AS n_left,
        |  cast(n_right AS bigint) AS n_right, cast(pairs AS bigint) AS pairs
        |FROM top
        |UNION ALL SELECT * FROM tot""".stripMargin,

    // q179: DuckDB's native quantile_disc implements the same element
    // rule (proved by q75); clamp + exact sums + one division each
    "q179_winsorized_mean" ->
      """WITH t AS (SELECT lang, quantile_disc(n_chars, 0.25) AS lo,
        |           quantile_disc(n_chars, 0.75) AS hi
        |           FROM documents GROUP BY 1),
        |j AS (SELECT d.lang, lo, hi, d.n_chars AS v,
        |      greatest(lo, least(hi, d.n_chars)) AS cv
        |      FROM documents d JOIN t USING (lang))
        |SELECT lang, lo, hi, count(*) AS n,
        |  cast(cast(sum(v) AS bigint) AS double) / cast(count(*) AS double)
        |    AS mean_raw,
        |  cast(cast(sum(cv) AS bigint) AS double) / cast(count(*) AS double)
        |    AS winsorized_mean
        |FROM j GROUP BY lang, lo, hi ORDER BY lang""".stripMargin,

    // q180: same two rankings as q165, set algebra over the key sets
    "q180_topk_churn" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |ra AS (SELECT user_id,
        |       row_number() OVER (ORDER BY count(*) DESC, user_id) AS rnk
        |       FROM e WHERE day % 2 = 0 GROUP BY user_id QUALIFY rnk <= 20),
        |rb AS (SELECT user_id,
        |       row_number() OVER (ORDER BY count(*) DESC, user_id) AS rnk
        |       FROM e WHERE day % 2 = 1 GROUP BY user_id QUALIFY rnk <= 20),
        |j AS (SELECT ra.user_id AS ka, rb.user_id AS kb
        |      FROM ra FULL OUTER JOIN rb ON ra.user_id = rb.user_id)
        |SELECT cast(count(ka) AS bigint) AS n_a, cast(count(kb) AS bigint) AS n_b,
        |  cast(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL THEN 1 ELSE 0 END)
        |    AS bigint) AS n_common,
        |  cast(sum(CASE WHEN ka IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_added,
        |  cast(sum(CASE WHEN kb IS NULL THEN 1 ELSE 0 END) AS bigint) AS n_dropped,
        |  cast(sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL THEN 1 ELSE 0 END)
        |    AS double) /
        |  cast(count(ka) + count(kb) -
        |    sum(CASE WHEN ka IS NOT NULL AND kb IS NOT NULL THEN 1 ELSE 0 END)
        |    AS double) AS jaccard
        |FROM j""".stripMargin,

    // q181: identical lag ordering (ts, event_id) and the same
    // length(bin(gap))-1 integer bucket rule
    "q181_gap_histogram" ->
      """WITH g AS (SELECT epoch_ms(ts) -
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ms(ts), event_id) AS gap
        |  FROM events),
        |h AS (SELECT CASE WHEN gap = 0 THEN -1
        |             ELSE length(bin(gap)) - 1 END AS log2_bucket,
        |      count(*) AS n FROM g WHERE gap IS NOT NULL GROUP BY 1),
        |tot AS (SELECT cast(sum(n) AS bigint) AS t FROM h)
        |SELECT log2_bucket, n, cast(n AS double) / cast(t AS double) AS share
        |FROM h, tot ORDER BY 1""".stripMargin,

    // q182: same confusion-matrix algebra; f1 is the single-division
    // identity 2*tp/(n_true+n_pred)
    "q182_classification_report" ->
      s"""WITH pr AS ($predLangSql),
        |conf AS (SELECT y, p, count(*) AS n FROM pr GROUP BY 1, 2),
        |classes AS (SELECT y AS clazz FROM conf
        |            UNION SELECT p FROM conf),
        |bt AS (SELECT y AS clazz, cast(sum(n) AS bigint) AS n_true,
        |       cast(sum(CASE WHEN y = p THEN n ELSE 0 END) AS bigint) AS tp
        |       FROM conf GROUP BY 1),
        |bp AS (SELECT p AS clazz, cast(sum(n) AS bigint) AS n_pred
        |       FROM conf GROUP BY 1)
        |SELECT clazz, coalesce(n_true, 0) AS n_true,
        |  coalesce(n_pred, 0) AS n_pred, coalesce(tp, 0) AS tp,
        |  CASE WHEN coalesce(n_pred, 0) > 0
        |    THEN cast(coalesce(tp, 0) AS double) / cast(n_pred AS double) END
        |    AS precision,
        |  CASE WHEN coalesce(n_true, 0) > 0
        |    THEN cast(coalesce(tp, 0) AS double) / cast(n_true AS double) END
        |    AS recall,
        |  CASE WHEN coalesce(n_true, 0) + coalesce(n_pred, 0) > 0
        |    THEN cast(coalesce(tp, 0) * 2 AS double) /
        |         cast(coalesce(n_true, 0) + coalesce(n_pred, 0) AS double) END
        |    AS f1
        |FROM classes LEFT JOIN bt USING (clazz) LEFT JOIN bp USING (clazz)
        |ORDER BY clazz""".stripMargin,

    // q183: kappa division chain in the identical fixed order
    "q183_agreement" ->
      s"""WITH pr AS ($predLangSql),
        |conf AS (SELECT y, p, count(*) AS n FROM pr GROUP BY 1, 2),
        |bt AS (SELECT y AS c, cast(sum(n) AS bigint) AS nt FROM conf GROUP BY 1),
        |bp AS (SELECT p AS c, cast(sum(n) AS bigint) AS np FROM conf GROUP BY 1),
        |cr AS (SELECT cast(sum(coalesce(nt, 0) * coalesce(np, 0)) AS bigint)
        |       AS sp FROM bt FULL OUTER JOIN bp USING (c)),
        |tot AS (SELECT cast(sum(n) AS bigint) AS n,
        |        cast(sum(CASE WHEN y = p THEN n ELSE 0 END) AS bigint)
        |          AS n_agree FROM conf),
        |x AS (SELECT n, n_agree,
        |      cast(n_agree AS double) / cast(n AS double) AS accuracy,
        |      cast(sp AS double) / cast(n * n AS double) AS expected_agreement
        |      FROM tot, cr)
        |SELECT n, n_agree, accuracy, expected_agreement,
        |  CASE WHEN expected_agreement < 1.0 THEN
        |    (accuracy - expected_agreement) / (1.0 - expected_agreement) END
        |  AS kappa FROM x""".stripMargin,

    // q184: per-column UNION ALL; count(col) vs count(*) gives the null
    // split, distinct/min/max exclude nulls in both engines
    "q184_column_profile" -> Seq("doc_id", "lang", "source", "n_chars").map {
        c =>
          s"""SELECT '$c' AS "column", cast(count(*) AS bigint) AS n,
            |  cast(count(*) - count($c) AS bigint) AS n_null,
            |  cast(count(DISTINCT $c) AS bigint) AS n_distinct,
            |  cast(min($c) AS varchar) AS min_val,
            |  cast(max($c) AS varchar) AS max_val FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\""),

    // q185: the same simultaneous peel unrolled 16 deep (identity after
    // fixpoint, and the engine caps at the same depth)
    "q185_kcore" -> kCoreOracleSql(k = 5, rounds = 16),

    // q186: the definitional theta-join (closed intervals)
    "q186_interval_overlap" ->
      """WITH a AS (SELECT doc_id AS a_id, (doc_id * 13) % 1000 AS a_lo,
        |           (doc_id * 13) % 1000 + doc_id % 37 AS a_hi
        |           FROM documents WHERE doc_id % 25 = 0),
        |b AS (SELECT doc_id AS b_id, (doc_id * 29) % 1000 AS b_lo,
        |      (doc_id * 29) % 1000 + doc_id % 23 AS b_hi
        |      FROM documents WHERE doc_id % 25 = 7)
        |SELECT a_id, a_lo, a_hi, b_id, b_lo, b_hi FROM a JOIN b
        |ON a_lo <= b_hi AND b_lo <= a_hi
        |ORDER BY a_id, b_id""".stripMargin,

    // q187: suffix-sort the capped text, max LCP of ADJACENT suffixes —
    // equal to the engine's value under any lexicographic collation
    // (substr/length count code points in both engines)
    "q187_longest_repeat" ->
      """WITH d AS (SELECT doc_id, substr(text, 1, 200) AS t FROM documents),
        |suf AS (SELECT doc_id, substr(t, g.i, 200) AS s
        |        FROM d, LATERAL (SELECT unnest(generate_series(1, length(t)))
        |                         AS i) g),
        |o AS (SELECT doc_id, s, lag(s) OVER (PARTITION BY doc_id ORDER BY s)
        |      AS p FROM suf),
        |l AS (SELECT doc_id, CASE WHEN p IS NULL THEN 0 ELSE (
        |      SELECT coalesce(max(k.k), 0)
        |      FROM (SELECT unnest(generate_series(1, least(length(s),
        |            length(p)))) AS k) k
        |      WHERE substr(s, 1, k.k) = substr(p, 1, k.k)) END AS lcp FROM o)
        |SELECT doc_id, cast(max(lcp) AS bigint) AS repeat_len
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    // q188: closed-form header fields (gif payloads are 13 bytes,
    // bmp 30; the corrupt zero-width gif lands on the ok=false channel)
    "q188_media_dims" ->
      """SELECT * FROM (VALUES
        |  (cast(1 AS bigint), cast(13 AS bigint), cast(320 AS bigint),
        |   cast(200 AS bigint), cast(3 AS bigint), true),
        |  (2, 13, 12, 7, 3, true),
        |  (3, 30, 64, 48, 3, true),
        |  (4, 30, 9, 4, 4, true),
        |  (5, 13, 0, 0, 0, false))
        |AS t(media_id, byte_len, width, height, channels, ok)
        |ORDER BY media_id""".stripMargin,

    // q189: identical running-max island rule (ties are order-proof: a
    // duplicate row can never reopen past its twin's end)
    "q189_merge_intervals" ->
      """WITH iv AS (SELECT user_id % 20 AS k, epoch_ms(ts) AS s0,
        |            epoch_ms(ts) + (event_id % 7) * 60000 AS e0 FROM events),
        |w AS (SELECT k, s0, e0, max(e0) OVER (PARTITION BY k ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
        |f AS (SELECT k, s0, e0,
        |      CASE WHEN pm IS NULL OR s0 > pm THEN 1 ELSE 0 END AS o FROM w),
        |g AS (SELECT k, s0, e0, sum(o) OVER (PARTITION BY k ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM f)
        |SELECT k, min(s0) AS interval_start, max(e0) AS interval_end,
        |  cast(count(*) AS bigint) AS n_merged
        |FROM g GROUP BY k, isl ORDER BY k, interval_start""".stripMargin,

    // q190: the changelog is constructed so seq 2 always wins — the
    // closed-form result is the %15 deletes dropped, %5 rows bumped +2000
    "q190_apply_changelog" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 2000 ELSE n_chars END
        |    AS n_chars
        |FROM documents WHERE NOT (doc_id % 5 = 0 AND doc_id % 3 = 0)
        |ORDER BY doc_id""".stripMargin,

    // q191: doubled tie ranks in HUGEINT, identical final division chain
    "q191_spearman" ->
      """WITH base AS (SELECT n_chars AS x, n_chars + doc_id % 100 AS y
        |              FROM documents),
        |r AS (SELECT
        |  CAST(rank() OVER (ORDER BY x) * 2 +
        |       count(*) OVER (PARTITION BY x) - 1 AS HUGEINT) AS rx,
        |  CAST(rank() OVER (ORDER BY y) * 2 +
        |       count(*) OVER (PARTITION BY y) - 1 AS HUGEINT) AS ry FROM base),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(rx) AS sx,
        |      sum(ry) AS sy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
        |      sum(rx * ry) AS sxy FROM r)
        |SELECT CAST(n AS bigint) AS n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |        AND CAST(n * syy - sy * sy AS DOUBLE) > 0
        |    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS rho
        |FROM a""".stripMargin,

    // q192: the definitional theta-join at microsecond precision
    "q192_stream_join" ->
      """WITH l AS (SELECT user_id AS k, epoch_us(ts) AS lus, event_id AS lid
        |           FROM events WHERE event_id % 2 = 0),
        |r AS (SELECT user_id AS k, epoch_us(ts) AS rus, event_id AS rid
        |      FROM events WHERE event_id % 2 = 1)
        |SELECT k, lid, rid FROM l JOIN r USING (k)
        |WHERE abs(lus - rus) <= 900000000
        |ORDER BY k, lid, rid""".stripMargin,

    // q193: identical cumulative-weight rule (values pre-merged so ties
    // are order-proof); dyadic qs keep ceil(q*W) float-exact
    "q193_weighted_quantiles" ->
      """WITH pv AS (SELECT lang, n_chars AS v, cast(sum(n_chars) AS bigint)
        |            AS wv FROM documents GROUP BY 1, 2),
        |w AS (SELECT lang, v,
        |      sum(wv) OVER (PARTITION BY lang ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |      sum(wv) OVER (PARTITION BY lang) AS tw FROM pv),
        |e AS (SELECT lang, v, cw, tw, q
        |      FROM w, (SELECT unnest([cast(0.25 AS double),
        |               cast(0.5 AS double), cast(0.75 AS double)]) AS q) qs)
        |SELECT lang, q, min(v) AS n_chars_q FROM e
        |WHERE cw >= cast(ceil(q * tw) AS bigint)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q194: same mirrored simple graph as q185; HUGEINT moments and the
    // identical fixed-order division/sqrt chain
    "q194_assortativity" ->
      """WITH e AS MATERIALIZED (
        |  SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d FROM documents
        |  UNION ALL SELECT doc_id % 60, (doc_id * 3 + 2) % 60 FROM documents
        |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 1) % 24 FROM documents
        |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 2) % 24 FROM documents
        |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 3) % 24 FROM documents),
        |s0 AS MATERIALIZED (SELECT least(s, d) AS a, greatest(s, d) AS b
        |       FROM e WHERE s <> d GROUP BY 1, 2),
        |m0 AS MATERIALIZED (SELECT a, b FROM s0 UNION ALL SELECT b, a FROM s0),
        |deg AS (SELECT a AS node, CAST(count(*) AS HUGEINT) AS d
        |        FROM m0 GROUP BY 1),
        |p AS (SELECT dx.d AS x, dy.d AS y FROM m0
        |      JOIN deg dx ON m0.a = dx.node JOIN deg dy ON m0.b = dy.node),
        |a AS (SELECT CAST(count(*) AS HUGEINT) AS m, sum(x) AS sx,
        |      sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
        |      sum(x * y) AS sxy FROM p)
        |SELECT CAST(m AS bigint) // 2 AS m_edges,
        |  CASE WHEN CAST(m * sxx - sx * sx AS DOUBLE) > 0
        |        AND CAST(m * syy - sy * sy AS DOUBLE) > 0
        |    THEN CAST(m * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(m * syy - sy * sy AS DOUBLE))) END AS r
        |FROM a""".stripMargin,

    // q195: single-char class counts via the length-difference trick;
    // RE2 \x{...} ranges == the engine's explicit BMP ranges
    "q195_script_mix" ->
      """WITH d AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' мир'
        |         WHEN doc_id % 4 = 1 THEN ' 中文' ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
        |    AS n_latin,
        |  length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS n_digit,
        |  length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g'))
        |    AS n_cyrillic,
        |  length(t) - length(regexp_replace(t, '[\x{4E00}-\x{9FFF}]', '', 'g'))
        |    AS n_han,
        |  (length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))) > 0 AND
        |  (length(t) - length(regexp_replace(t, '[\x{0400}-\x{04FF}]', '', 'g'))) > 0
        |    AS mixed_latin_cyrillic
        |FROM d ORDER BY doc_id""".stripMargin,

    // q196: the Bloom stage is pure pushdown — the result is the
    // definitional semi-join
    "q196_bloom_semi" ->
      """SELECT event_id, user_id FROM events
        |WHERE user_id IN (SELECT doc_id FROM documents
        |                  WHERE doc_id % 3 = 0 AND doc_id < 150)
        |ORDER BY event_id""".stripMargin,

    // q197: definitional argmin — ORDER BY (|delta|, ts_b) replicates the
    // tie-to-backward rule; unique build ts per key by construction
    "q197_nearest_join" ->
      """WITH b AS (SELECT doc_id % 150 AS user_id,
        |           make_timestamp(1704412800000000 + doc_id * 37000000)
        |             AS ts_b, n_chars FROM documents)
        |SELECT e.event_id, c.n_chars, epoch_us(c.ts_b) AS b_us,
        |  c.ts_b IS NOT NULL AS _asof_matched
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT b.n_chars, b.ts_b FROM b WHERE b.user_id = e.user_id
        |  ORDER BY abs(epoch_us(e.ts) - epoch_us(b.ts_b)), b.ts_b LIMIT 1)
        |  c ON true
        |ORDER BY e.event_id""".stripMargin,

    // q198: mutual-edge fraction of the distinct simple digraph
    "q198_reciprocity" ->
      """WITH e AS (SELECT DISTINCT s, d FROM (
        |    SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d FROM documents
        |    UNION ALL
        |    SELECT doc_id % 60, (doc_id * 3 + 2) % 60 FROM documents)
        |  WHERE s <> d),
        |r AS (SELECT e1.s FROM e e1 JOIN e e2 ON e1.s = e2.d AND e1.d = e2.s)
        |SELECT cast((SELECT count(*) FROM e) AS bigint) AS n_edges,
        |  cast((SELECT count(*) FROM r) AS bigint) AS n_reciprocal,
        |  cast((SELECT count(*) FROM r) AS double) /
        |    cast((SELECT count(*) FROM e) AS double) AS reciprocity""".stripMargin,

    // q199: full md5 -> u -> Poisson-weight -> rep-mean -> quantile_disc
    // replay; the threshold literals are interpolated from the SAME Scala
    // constants the engine uses
    "q199_bootstrap_ci" -> {
      val t = graft.ops.Stats.PoissonCdf1
      s"""WITH reps AS (SELECT cast(doc_id AS varchar) AS id, n_chars AS v, r
        |  FROM documents, unnest(range(1, 33)) u(r)),
        |uu AS (SELECT v, r,
        |  ((('0x' || substr(md5(id || chr(1) || cast(r AS varchar) || chr(1)
        |     || 'g1'), 1, 8))::UBIGINT + 0.5) / 4294967296.0) AS u FROM reps),
        |w AS (SELECT v, r,
        |  CASE WHEN u < ${t(0)} THEN 0 WHEN u < ${t(1)} THEN 1
        |       WHEN u < ${t(2)} THEN 2 WHEN u < ${t(3)} THEN 3
        |       WHEN u < ${t(4)} THEN 4 WHEN u < ${t(5)} THEN 5
        |       WHEN u < ${t(6)} THEN 6 ELSE 7 END AS w FROM uu),
        |m AS (SELECT r, cast(sum(w * v) AS bigint) AS s,
        |      cast(sum(w) AS bigint) AS n FROM w GROUP BY r),
        |mm AS (SELECT cast(s AS double) / cast(n AS double) AS m
        |       FROM m WHERE n > 0),
        |tot AS (SELECT cast(count(*) AS bigint) AS n,
        |        cast(cast(sum(n_chars) AS bigint) AS double) /
        |          cast(count(*) AS double) AS mean FROM documents)
        |SELECT tot.n, tot.mean, quantile_disc(mm.m, 0.125) AS ci_lo,
        |  quantile_disc(mm.m, 0.875) AS ci_hi,
        |  cast(count(mm.m) AS bigint) AS n_boot
        |FROM tot, mm GROUP BY tot.n, tot.mean""".stripMargin
    },

    // q200: identical prefix-sum identity S = P - min(0, running min P)
    "q200_cusum" ->
      """WITH b AS (SELECT user_id, ts, event_id, event_id % 20 AS x
        |           FROM events),
        |w1 AS (SELECT user_id, ts, event_id, x,
        |       cast(sum(x - 10) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS p
        |       FROM b),
        |w2 AS (SELECT user_id, event_id, x,
        |       cast(p - least(0, min(p) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS bigint) AS cusum
        |       FROM w1)
        |SELECT user_id, event_id, x, cusum, cusum > 15 AS cusum_alarm
        |FROM w2 ORDER BY event_id""".stripMargin,

    // q201: closed-form — the constructed drift is known
    "q201_schema_diff" ->
      """SELECT * FROM (VALUES
        |  ('doc_id', 'bigint', 'bigint', 'unchanged'),
        |  ('fetched', NULL, 'boolean', 'added'),
        |  ('lang', 'string', 'string', 'unchanged'),
        |  ('n_chars', 'bigint', 'int', 'type_changed'),
        |  ('source', 'string', NULL, 'removed'),
        |  ('text', 'string', 'string', 'unchanged'))
        |AS t("column", old_type, new_type, status)
        |ORDER BY "column"""".stripMargin,

    // q202: generated per feature — identical count algebra in HUGEINT,
    // identical fixed-order division chain; quantile_disc == the
    // engine's discrete-element rule (q75/q179 precedent)
    "q202_gini_splits" -> giniOracleSql(
      Seq("n_chars" -> "n_chars", "f2" -> "doc_id % 16"),
      Seq(0.25, 0.5, 0.75)),

    // q203: closed-form orientations; 5 and 6 have none
    "q203_exif_orientation" ->
      """SELECT * FROM (VALUES
        |  (cast(1 AS bigint), cast(1 AS bigint)), (2, 3), (3, 6), (4, 8),
        |  (5, NULL), (6, NULL))
        |AS t(media_id, orientation) ORDER BY media_id""".stripMargin,

    // q204: the poisoned rows are known closed-form — prefix fields
    // parse, the int field nulls, the line quarantines
    "q204_csv_quarantine" ->
      """SELECT doc_id, doc_id AS id,
        |  CASE WHEN doc_id % 11 = 0 THEN NULL
        |       ELSE cast(n_chars AS int) END AS n,
        |  doc_id % 11 = 0 AS quarantined
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q205: identical metric construction; bins = strict > against the
    // three quantile_disc elements per metric
    "q205_rfm" ->
      """WITH pe AS (SELECT user_id AS entity,
        |  max(epoch_ms(ts) // 86400000) AS last,
        |  cast(count(*) AS bigint) AS frequency,
        |  cast(sum(cast(floor(value * 100) AS bigint)) AS bigint)
        |    AS monetary_cents
        |  FROM events GROUP BY 1),
        |mx AS (SELECT max(last) AS maxd FROM pe),
        |base AS (SELECT entity, maxd - last AS recency_days, frequency,
        |         monetary_cents FROM pe, mx),
        |thr AS (SELECT
        |  quantile_disc(recency_days, 0.25) AS r1,
        |  quantile_disc(recency_days, 0.5) AS r2,
        |  quantile_disc(recency_days, 0.75) AS r3,
        |  quantile_disc(frequency, 0.25) AS f1,
        |  quantile_disc(frequency, 0.5) AS f2,
        |  quantile_disc(frequency, 0.75) AS f3,
        |  quantile_disc(monetary_cents, 0.25) AS m1,
        |  quantile_disc(monetary_cents, 0.5) AS m2,
        |  quantile_disc(monetary_cents, 0.75) AS m3 FROM base)
        |SELECT entity, recency_days, frequency, monetary_cents,
        |  cast((CASE WHEN recency_days > r1 THEN 1 ELSE 0 END) +
        |       (CASE WHEN recency_days > r2 THEN 1 ELSE 0 END) +
        |       (CASE WHEN recency_days > r3 THEN 1 ELSE 0 END) AS bigint)
        |    AS r_bin,
        |  cast((CASE WHEN frequency > f1 THEN 1 ELSE 0 END) +
        |       (CASE WHEN frequency > f2 THEN 1 ELSE 0 END) +
        |       (CASE WHEN frequency > f3 THEN 1 ELSE 0 END) AS bigint)
        |    AS f_bin,
        |  cast((CASE WHEN monetary_cents > m1 THEN 1 ELSE 0 END) +
        |       (CASE WHEN monetary_cents > m2 THEN 1 ELSE 0 END) +
        |       (CASE WHEN monetary_cents > m3 THEN 1 ELSE 0 END) AS bigint)
        |    AS m_bin
        |FROM base, thr ORDER BY entity""".stripMargin,

    // q206: identical pair signs, tie correction and fixed-order
    // variance/z chain
    "q206_mann_kendall" ->
      """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  cast(count(*) AS bigint) AS x FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, cast(sum(sign(b.x - a.x)) AS bigint) AS s
        |      FROM daily a JOIN daily b ON a.event_type = b.event_type
        |        AND a.day < b.day GROUP BY 1),
        |c AS (SELECT event_type, cast(count(*) AS bigint) AS n
        |      FROM daily GROUP BY 1),
        |t AS (SELECT event_type,
        |      cast(sum(tg * (tg - 1) * (tg * 2 + 5)) AS bigint) AS corr
        |      FROM (SELECT event_type, x, count(*) AS tg FROM daily
        |            GROUP BY 1, 2) GROUP BY 1),
        |v AS (SELECT c.event_type, n, coalesce(s, 0) AS s_stat,
        |      cast(n * (n - 1) * (n * 2 + 5) - corr AS double) / 18.0 AS var_s
        |      FROM c JOIN t USING (event_type) LEFT JOIN p USING (event_type))
        |SELECT event_type, n, s_stat, var_s,
        |  CASE WHEN var_s > 0 THEN
        |    cast(s_stat - sign(s_stat) AS double) / sqrt(var_s) END AS z
        |FROM v ORDER BY event_type""".stripMargin,

    // q207: identical lead() step weighting at millisecond precision
    "q207_time_weighted" ->
      """WITH s AS (SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |           event_id % 10 AS v FROM events),
        |w AS (SELECT user_id, ms, v,
        |      lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |        AS nxt FROM s)
        |SELECT user_id, cast(count(*) AS bigint) AS n,
        |  cast(max(ms) - min(ms) AS bigint) AS span_ms,
        |  CASE WHEN max(ms) - min(ms) > 0 THEN
        |    cast(sum(CASE WHEN nxt IS NOT NULL THEN v * (nxt - ms)
        |             ELSE 0 END) AS double) /
        |    cast(max(ms) - min(ms) AS double) END AS twa
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    // q208: closed-form container fields; row 5 is the corrupt channel
    "q208_webp_dims" ->
      """SELECT * FROM (VALUES
        |  (cast(1 AS bigint), cast(30 AS bigint), cast(800 AS bigint),
        |   cast(600 AS bigint), cast(3 AS bigint), true),
        |  (2, 30, 16384, 2, 4, true),
        |  (3, 25, 123, 45, 3, true),
        |  (4, 30, 320, 240, 3, true),
        |  (5, 25, 0, 0, 0, false))
        |AS t(media_id, byte_len, width, height, channels, ok)
        |ORDER BY media_id""".stripMargin,

    // q209: literals interpolated from the SAME Scala constants — as
    // QUOTED strings cast to double (a bare decimal literal parses as
    // DECIMAL first and can round differently in the last bit)
    "q209_benford" -> {
      val e = graft.ops.Stats.BenfordExpected
      val evals = e.zipWithIndex
        .map { case (x, i) => s"(${i + 1}, cast('$x' AS double))" }
        .mkString(", ")
      s"""WITH c AS (SELECT cast(substr(cast(n_chars AS varchar), 1, 1)
        |  AS bigint) AS digit, cast(count(*) AS bigint) AS n
        |  FROM documents WHERE n_chars >= 1 GROUP BY 1),
        |tot AS (SELECT cast(coalesce(sum(n), 0) AS bigint) AS t FROM c),
        |d AS (SELECT unnest(range(1, 10)) AS digit),
        |e AS (SELECT * FROM (VALUES $evals) AS e(digit, expected_share))
        |SELECT d.digit, coalesce(n, 0) AS n,
        |  CASE WHEN t > 0 THEN cast(coalesce(n, 0) AS double)
        |    / cast(t AS double) END AS share,
        |  expected_share,
        |  (CASE WHEN t > 0 THEN cast(coalesce(n, 0) AS double)
        |    / cast(t AS double) END) - expected_share AS deviation
        |FROM d JOIN e ON d.digit = e.digit LEFT JOIN c ON d.digit = c.digit,
        |  tot ORDER BY d.digit""".stripMargin
    },

    // q210: pairwise slopes + quantile_disc median (the same discrete
    // element rule)
    "q210_theil_sen" ->
      """WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  cast(count(*) AS bigint) AS x FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |      cast(b.x - a.x AS double) / cast(b.day - a.day AS double) AS s
        |      FROM daily a JOIN daily b ON a.event_type = b.event_type
        |        AND a.day < b.day),
        |m AS (SELECT event_type, cast(count(*) AS bigint) AS n_pairs,
        |      quantile_disc(s, 0.5) AS slope FROM p GROUP BY 1)
        |SELECT c.event_type, coalesce(n_pairs, 0) AS n_pairs, slope
        |FROM (SELECT DISTINCT event_type FROM daily) c
        |LEFT JOIN m USING (event_type) ORDER BY event_type""".stripMargin,

    // q211: identical token grammar and fixed-order double chi2 chain
    "q211_keyness" ->
      """WITH ta AS (SELECT unnest(regexp_extract_all(lower(text),
        |    '[a-z0-9_'']+')) AS term FROM documents WHERE doc_id % 2 = 0),
        |tb AS (SELECT unnest(regexp_extract_all(lower(text),
        |    '[a-z0-9_'']+')) AS term FROM documents WHERE doc_id % 2 = 1),
        |ca AS (SELECT term, cast(count(*) AS bigint) AS n_a FROM ta GROUP BY 1),
        |cb AS (SELECT term, cast(count(*) AS bigint) AS n_b FROM tb GROUP BY 1),
        |j AS (SELECT term, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |      FROM ca FULL OUTER JOIN cb USING (term)
        |      WHERE coalesce(n_a, 0) + coalesce(n_b, 0) >= 5),
        |tot AS (SELECT cast(sum(n_a) AS bigint) AS ta_,
        |        cast(sum(n_b) AS bigint) AS tb_ FROM j)
        |SELECT term, n_a, n_b,
        |  CASE WHEN ((cast(n_a AS double) + cast(n_b AS double)) *
        |             (cast(ta_ - n_a AS double) + cast(tb_ - n_b AS double))) *
        |            ((cast(n_a AS double) + cast(ta_ - n_a AS double)) *
        |             (cast(n_b AS double) + cast(tb_ - n_b AS double))) > 0
        |  THEN (cast(ta_ + tb_ AS double) *
        |        ((cast(n_a AS double) * cast(tb_ - n_b AS double) -
        |          cast(n_b AS double) * cast(ta_ - n_a AS double)) *
        |         (cast(n_a AS double) * cast(tb_ - n_b AS double) -
        |          cast(n_b AS double) * cast(ta_ - n_a AS double)))) /
        |       (((cast(n_a AS double) + cast(n_b AS double)) *
        |         (cast(ta_ - n_a AS double) + cast(tb_ - n_b AS double))) *
        |        ((cast(n_a AS double) + cast(ta_ - n_a AS double)) *
        |         (cast(n_b AS double) + cast(tb_ - n_b AS double)))) END AS chi2,
        |  cast(sign(cast(n_a AS double) * cast(tb_ - n_b AS double) -
        |       cast(n_b AS double) * cast(ta_ - n_a AS double)) AS bigint)
        |    AS direction
        |FROM j, tot ORDER BY term""".stripMargin,

    // q212: same mirrored simple graph + node%4 partition, identical
    // fixed-order Q chain
    "q212_modularity" ->
      """WITH e AS MATERIALIZED (
        |  SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d FROM documents
        |  UNION ALL SELECT doc_id % 60, (doc_id * 3 + 2) % 60 FROM documents
        |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 1) % 24 FROM documents
        |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 2) % 24 FROM documents
        |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 3) % 24 FROM documents),
        |s0 AS MATERIALIZED (SELECT least(s, d) AS a, greatest(s, d) AS b
        |       FROM e WHERE s <> d GROUP BY 1, 2),
        |tagged AS (SELECT a, b, cast(a % 4 AS varchar) AS ca,
        |           cast(b % 4 AS varchar) AS cb FROM s0),
        |m AS (SELECT cast(count(*) AS bigint) AS m_edges,
        |      cast(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS bigint)
        |        AS intotal FROM tagged),
        |deg AS (SELECT c, cast(count(*) AS bigint) AS dc FROM
        |        (SELECT ca AS c FROM tagged UNION ALL SELECT cb FROM tagged)
        |        GROUP BY 1),
        |dt AS (SELECT cast(count(*) AS bigint) AS n_communities,
        |       cast(sum(dc * dc) AS bigint) AS sumdc2 FROM deg)
        |SELECT m_edges, n_communities,
        |  CASE WHEN m_edges > 0 THEN
        |    cast(intotal AS double) / cast(m_edges AS double) -
        |    cast(sumdc2 AS double) /
        |      (cast(m_edges * m_edges AS double) * 4.0) END AS modularity
        |FROM m, dt""".stripMargin,

    // q213: per-tick correlated as-of lookup (ms DESC, v DESC replicates
    // the engine's max-on-tie rule)
    // q214: cumulative counts at distinct values, exact integer numerator
    "q214_ks_test" ->
      """WITH pv AS (SELECT lang, n_chars AS v,
        |  cast(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS bigint)
        |    AS a,
        |  cast(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS bigint)
        |    AS b
        |  FROM documents GROUP BY 1, 2),
        |c AS (SELECT lang, v, a, b,
        |  sum(a) OVER (PARTITION BY lang ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |  sum(b) OVER (PARTITION BY lang ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |  sum(a) OVER (PARTITION BY lang) AS na,
        |  sum(b) OVER (PARTITION BY lang) AS nb FROM pv)
        |SELECT lang, cast(max(na) AS bigint) AS n_a,
        |  cast(max(nb) AS bigint) AS n_b,
        |  cast(max(abs(ca * nb - cb * na)) AS bigint) AS d_num,
        |  CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |    cast(max(abs(ca * nb - cb * na)) AS double) /
        |    cast(max(na) * max(nb) AS double) END AS ks_stat
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // q221: per-tick back (ms DESC, v DESC) and fwd (ms ASC, v ASC)
    // neighbors + the identical fixed-order lerp chain
    "q221_resample_lerp" ->
      """WITH s AS (SELECT user_id, epoch_ms(ts) AS ms, event_id % 10 AS v
        |           FROM events),
        |b AS (SELECT user_id, min(ms) AS lo, max(ms) AS hi FROM s GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(
        |        lo + 86399999 - (lo + 86399999) % 86400000,
        |        hi + 1, 86400000)) AS grid_ms
        |      FROM b
        |      WHERE lo + 86399999 - (lo + 86399999) % 86400000 <= hi),
        |x AS (SELECT g.user_id, g.grid_ms,
        |  (SELECT struct_pack(t := s.ms, v := s.v) FROM s
        |   WHERE s.user_id = g.user_id AND s.ms <= g.grid_ms
        |   ORDER BY s.ms DESC, s.v DESC LIMIT 1) AS bk,
        |  (SELECT struct_pack(t := s.ms, v := s.v) FROM s
        |   WHERE s.user_id = g.user_id AND s.ms >= g.grid_ms
        |   ORDER BY s.ms ASC, s.v ASC LIMIT 1) AS fw
        |  FROM g)
        |SELECT user_id, grid_ms,
        |  CASE WHEN bk IS NULL OR fw IS NULL THEN NULL
        |       WHEN fw.t = bk.t THEN cast(bk.v AS double)
        |       ELSE cast(bk.v AS double) + cast(fw.v - bk.v AS double) *
        |            cast(grid_ms - bk.t AS double) /
        |            cast(fw.t - bk.t AS double) END AS value
        |FROM x ORDER BY user_id, grid_ms""".stripMargin,

    // q222: the constructed tables are closed-form
    "q222_table_stats" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n_tables,
        |  CASE WHEN doc_id % 3 = 0 THEN doc_id % 4 + 1 ELSE 0 END AS n_rows,
        |  CASE WHEN doc_id % 3 = 0 THEN (doc_id % 4 + 1) * 2 ELSE 0 END
        |    AS n_cells,
        |  CASE WHEN doc_id % 3 = 0 THEN 2.0 END AS cells_per_row
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q223: full md5-coin -> per-rep means -> extreme-count replay (the
    // q199 draw machinery with a parity coin instead of a Poisson weight)
    "q223_perm_test" ->
      """WITH slim AS (SELECT cast(doc_id AS varchar) AS id, n_chars AS v,
        |  lang = 'en' AS isa FROM documents WHERE lang IN ('en', 'de')),
        |obs AS (SELECT
        |  cast(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS bigint) AS n_a,
        |  cast(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS bigint) AS n_b,
        |  cast(cast(sum(CASE WHEN isa THEN v ELSE 0 END) AS bigint)
        |      AS double) /
        |    cast(cast(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS bigint)
        |      AS double) -
        |  cast(cast(sum(CASE WHEN NOT isa THEN v ELSE 0 END) AS bigint)
        |      AS double) /
        |    cast(cast(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS bigint)
        |      AS double) AS diff_obs FROM slim),
        |reps AS (SELECT id, v, r FROM slim, unnest(range(1, 65)) u(r)),
        |coin AS (SELECT v, r,
        |  (('0x' || substr(md5(id || chr(1) || cast(r AS varchar) || chr(1)
        |     || 'pt'), 1, 8))::UBIGINT % 2) = 0 AS pa FROM reps),
        |per AS (SELECT r,
        |  cast(sum(CASE WHEN pa THEN 1 ELSE 0 END) AS bigint) AS na,
        |  cast(sum(CASE WHEN NOT pa THEN 1 ELSE 0 END) AS bigint) AS nb,
        |  cast(sum(CASE WHEN pa THEN v ELSE 0 END) AS bigint) AS sa,
        |  cast(sum(CASE WHEN NOT pa THEN v ELSE 0 END) AS bigint) AS sb
        |  FROM coin GROUP BY r),
        |d AS (SELECT cast(sa AS double) / cast(na AS double) -
        |        cast(sb AS double) / cast(nb AS double) AS d
        |      FROM per WHERE na > 0 AND nb > 0),
        |ext AS (SELECT cast(coalesce(sum(CASE WHEN abs(d.d) >=
        |      abs((SELECT diff_obs FROM obs)) THEN 1 ELSE 0 END), 0)
        |    AS bigint) AS n_extreme,
        |  cast(count(*) AS bigint) AS nreps FROM d)
        |SELECT obs.n_a, obs.n_b, obs.diff_obs, ext.n_extreme,
        |  cast(ext.n_extreme + 1 AS double) /
        |    cast(ext.nreps + 1 AS double) AS p_value
        |FROM obs, ext""".stripMargin,

    // q224: the standard lead()-window SCD2 identity
    "q224_scd2" ->
      """WITH c AS (SELECT doc_id % 40 AS entity, doc_id AS seq,
        |  CASE WHEN doc_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op,
        |  source, n_chars FROM documents),
        |w AS (SELECT entity, seq, op, source, n_chars,
        |  lead(seq) OVER (PARTITION BY entity ORDER BY seq) AS vt FROM c)
        |SELECT entity, source, n_chars, cast(seq AS bigint) AS valid_from_seq,
        |  cast(vt AS bigint) AS valid_to_seq, vt IS NULL AS is_current
        |FROM w WHERE op <> 'delete'
        |ORDER BY entity, valid_from_seq""".stripMargin,

    // q225: fixed-point bin arithmetic is pure integer; the three doubles
    // are single divisions/subtractions of exact bigints
    "q225_calibration" ->
      """WITH b AS (SELECT (doc_id * 37) % 1001 AS s,
        |  ((doc_id * 91) % 1000) < ((doc_id * 37) % 1001) AS y
        |  FROM documents),
        |g AS (SELECT least(s * 10 // 1000, 9) AS bin,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(s) AS bigint) AS sum_score_milli,
        |  cast(sum(CASE WHEN y THEN 1 ELSE 0 END) AS bigint) AS n_pos
        |  FROM b GROUP BY 1)
        |SELECT bin, n, sum_score_milli, n_pos,
        |  cast(sum_score_milli AS double) / cast(n * 1000 AS double)
        |    AS mean_score,
        |  cast(n_pos AS double) / cast(n AS double) AS frac_pos,
        |  cast(n_pos AS double) / cast(n AS double) -
        |    cast(sum_score_milli AS double) / cast(n * 1000 AS double)
        |    AS gap
        |FROM g ORDER BY bin""".stripMargin,

    // q226: cumulative integer counts -> the same two interpolated double
    // increments -> integer-encoded first crossing (the engine's
    // sprtWeights values are the literals; ln itself is not the contract)
    "q226_sprt" -> {
      val (cs, cf) = graft.ops.Stats.sprtWeights(0.3, 0.6)
      s"""WITH e AS (SELECT user_id, ts, event_id,
        |  (event_id % 5) < 2 AS s FROM events),
        |w AS (SELECT user_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t,
        |  sum(CASE WHEN s THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
        |  FROM e),
        |m AS (SELECT user_id, t, k,
        |  CASE WHEN cast(k AS double) * ($cs) +
        |            cast(t - k AS double) * ($cf) >= 2.2 THEN t * 2 + 1
        |       WHEN cast(k AS double) * ($cs) +
        |            cast(t - k AS double) * ($cf) <= -2.2 THEN t * 2
        |  END AS m FROM w)
        |SELECT user_id, cast(max(t) AS bigint) AS n_trials,
        |  cast(max(k) AS bigint) AS n_success,
        |  cast(min(m) // 2 AS bigint) AS decided_at,
        |  CASE WHEN min(m) IS NULL THEN 'continue'
        |       WHEN min(m) % 2 = 1 THEN 'accept_h1'
        |       ELSE 'accept_h0' END AS decision
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin
    },

    // q227: full window replay — next-conv stamp, journey size/position,
    // integer div/mod credit, per-channel rollup
    "q227_attribution" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS ms, user_id,
        |  event_type FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |s AS (SELECT user_id, event_id, event_type, ms,
        |  first_value(CASE WHEN event_type = 'purchase' THEN event_id END
        |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS conv
        |  FROM e),
        |tch AS (SELECT user_id, event_id, event_type, ms, conv FROM s
        |  WHERE event_type <> 'purchase' AND conv IS NOT NULL),
        |j AS (SELECT event_type AS channel,
        |  count(*) OVER (PARTITION BY user_id, conv) AS n,
        |  row_number() OVER (PARTITION BY user_id, conv
        |    ORDER BY ms, event_id) AS pos
        |  FROM tch),
        |c AS (SELECT channel,
        |  CASE WHEN n <= 2 THEN 1000000 // n +
        |         CASE WHEN pos <= 1000000 % n THEN 1 ELSE 0 END
        |       WHEN pos = 1 OR pos = n THEN 400000
        |       ELSE 200000 // (n - 2) +
        |         CASE WHEN pos - 1 <= 200000 % (n - 2) THEN 1 ELSE 0 END
        |  END AS credit FROM j)
        |SELECT channel, cast(count(*) AS bigint) AS n_credited,
        |  cast(sum(credit) AS bigint) AS credit_micro
        |FROM c GROUP BY channel ORDER BY channel""".stripMargin,

    // q228: brute-force pair predicate — independently DIFFERENT plan
    // shape from the engine's lossless grid bucketing
    "q228_grid_neighbors" ->
      """WITH p AS (SELECT doc_id,
        |  (doc_id % 89) * cast(0.37 AS double) AS x,
        |  ((doc_id * 7) % 83) * cast(0.29 AS double) AS y FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b ON a.doc_id < b.doc_id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= cast(0.75 AS double) * cast(0.75 AS double)
        |ORDER BY id_a, id_b""".stripMargin,

    // q229: the engine's left fold replayed as a recursive CTE — same
    // op order, so bit-identical doubles even where rounding occurs
    "q229_ewma" ->
      """WITH RECURSIVE e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  cast(event_id % 20 AS double) AS v FROM events),
        |r AS (SELECT user_id, ms, event_id, v,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |    AS rn FROM e),
        |w AS (
        |  SELECT user_id, event_id, v, rn, v AS ewma FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.event_id, r.v, r.rn, (w.ewma + r.v) / 2
        |  FROM w JOIN r ON r.user_id = w.user_id AND r.rn = w.rn + 1)
        |SELECT user_id, event_id, v AS value, ewma FROM w
        |ORDER BY user_id, event_id""".stripMargin,

    // q230: blocked pair join + null-safe agreement sums, all integer
    "q230_linkage" ->
      """WITH s AS (SELECT doc_id,
        |  lang || '|' || cast(n_chars // 500 AS varchar) AS blk,
        |  source, n_chars // 100 AS len_bin,
        |  substr(text, 1, 1) AS initial FROM documents),
        |a AS (SELECT * FROM s WHERE (doc_id // 20) % 2 = 0),
        |b AS (SELECT * FROM s WHERE (doc_id // 20) % 2 = 1),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  (CASE WHEN a.source IS NOT DISTINCT FROM b.source
        |     THEN 1 ELSE 0 END +
        |   CASE WHEN a.len_bin IS NOT DISTINCT FROM b.len_bin
        |     THEN 1 ELSE 0 END +
        |   CASE WHEN a.initial IS NOT DISTINCT FROM b.initial
        |     THEN 1 ELSE 0 END) AS n_agree,
        |  (CASE WHEN a.source IS NOT DISTINCT FROM b.source
        |     THEN 900 ELSE -300 END +
        |   CASE WHEN a.len_bin IS NOT DISTINCT FROM b.len_bin
        |     THEN 500 ELSE -500 END +
        |   CASE WHEN a.initial IS NOT DISTINCT FROM b.initial
        |     THEN 300 ELSE -100 END) AS score_milli
        |  FROM a JOIN b ON a.blk = b.blk)
        |SELECT id_a, id_b, cast(n_agree AS bigint) AS n_agree,
        |  cast(score_milli AS bigint) AS score_milli
        |FROM p WHERE score_milli >= 700 ORDER BY id_a, id_b""".stripMargin,

    // q231: same integer midpoint rule; the pooled rank is a plain global
    // window here (oracle scale), a range-partitioned rank in the engine
    "q231_quantile_normalize" ->
      """WITH s AS (SELECT doc_id, lang, n_chars AS v FROM documents),
        |p AS (SELECT v, row_number() OVER (ORDER BY v, lang, doc_id) - 1
        |        AS idx FROM s),
        |g AS (SELECT doc_id, lang, v,
        |  row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS r,
        |  count(*) OVER (PARTITION BY lang) AS n,
        |  (SELECT count(*) FROM s) AS total FROM s),
        |m AS (SELECT doc_id, lang, v,
        |  ((2 * r - 1) * total) // (2 * n) AS idx FROM g)
        |SELECT m.doc_id, m.lang, cast(m.v AS bigint) AS value,
        |  cast(p.v AS bigint) AS normalized
        |FROM m JOIN p ON m.idx = p.idx ORDER BY m.doc_id""".stripMargin,

    // q232: lag + prefix-sum island id; first row always opens run 1
    "q232_state_runs" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
        |w AS (SELECT user_id, ts, event_id, event_type,
        |  CASE WHEN row_number() OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id) > 1
        |    AND lag(event_type) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id) IS NOT DISTINCT FROM event_type
        |  THEN 0 ELSE 1 END AS chg FROM e),
        |r AS (SELECT user_id, ts, event_type,
        |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM w)
        |SELECT user_id, cast(run_id AS bigint) AS run_id,
        |  event_type AS state, epoch_ms(min(ts)) AS start_ms,
        |  epoch_ms(max(ts)) AS end_ms, cast(count(*) AS bigint) AS n_rows
        |FROM r GROUP BY user_id, run_id, event_type
        |ORDER BY user_id, run_id""".stripMargin,

    // q233: rank/cumulative window over the key-bounded aggregate only
    "q233_pareto" ->
      """WITH k AS (SELECT event_type AS key,
        |  cast(sum(event_id % 50) AS bigint) AS weight
        |  FROM events GROUP BY 1),
        |t AS (SELECT cast(sum(weight) AS bigint) AS total FROM k),
        |r AS (SELECT key, weight,
        |  row_number() OVER (ORDER BY weight DESC, key ASC) AS rank,
        |  sum(weight) OVER (ORDER BY weight DESC, key ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM k)
        |SELECT r.key, r.weight, cast(r.rank AS bigint) AS rank,
        |  cast(r.cum AS bigint) AS cum_weight,
        |  cast(r.weight AS double) / cast(t.total AS double) AS share,
        |  (r.cum - r.weight) * 100 < 80 * t.total AS in_cut
        |FROM r, t ORDER BY rank""".stripMargin,

    // q235: brute-force pairs, textbook deg+1 core rule, min-label
    // closure over core-core edges (the q48 reach idiom), min-core
    // border assignment
    "q235_dbscan" ->
      """WITH RECURSIVE p AS (SELECT doc_id AS id,
        |  (doc_id % 89) * cast(0.37 AS double) AS x,
        |  ((doc_id * 7) % 83) * cast(0.29 AS double) AS y FROM documents),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b
        |  FROM p a JOIN p b ON a.id < b.id
        |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    <= cast(0.75 AS double) * cast(0.75 AS double)),
        |nb AS (SELECT id_a AS id, id_b AS nbr FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr),
        |deg AS (SELECT id, count(*) AS d FROM nb GROUP BY id),
        |core AS (SELECT p.id FROM p LEFT JOIN deg ON p.id = deg.id
        |  WHERE coalesce(deg.d, 0) + 1 >= 3),
        |ce AS (SELECT n.id AS a, n.nbr AS b FROM nb n
        |  WHERE n.id IN (SELECT id FROM core)
        |    AND n.nbr IN (SELECT id FROM core)),
        |reach(id, r) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT reach.id, ce.b FROM reach JOIN ce ON reach.r = ce.a),
        |comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |brd AS (SELECT nb.id, min(comp.cluster_id) AS cluster_id
        |  FROM nb JOIN comp ON nb.nbr = comp.id
        |  WHERE nb.id NOT IN (SELECT id FROM core)
        |  GROUP BY nb.id)
        |SELECT p.id,
        |  CASE WHEN comp.id IS NOT NULL THEN 'core'
        |       WHEN brd.id IS NOT NULL THEN 'border'
        |       ELSE 'noise' END AS role,
        |  cast(coalesce(comp.cluster_id, brd.cluster_id) AS bigint)
        |    AS cluster_id
        |FROM p LEFT JOIN comp ON p.id = comp.id
        |LEFT JOIN brd ON p.id = brd.id
        |ORDER BY p.id""".stripMargin,

    // q236: positional md5 coin re-dealt; tokens reassembled in order
    "q236_word_dropout" ->
      """WITH d AS (SELECT doc_id, doc_id % 6 + 2 AS k FROM documents),
        |tok AS (SELECT doc_id, k, unnest(range(0, k)) AS j FROM d),
        |c AS (SELECT doc_id, j,
        |  ('0x' || substr(md5(cast(doc_id AS varchar) || chr(1) ||
        |     cast(j AS varchar) || chr(1) || 'wd'), 1, 8))::UBIGINT % 4
        |    AS coin FROM tok),
        |kept AS (SELECT doc_id, j FROM c WHERE coin <> 0),
        |g AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg('tok' || cast(j AS varchar), ' ' ORDER BY j)
        |    AS text_out FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, cast(d.k AS bigint) AS n_tokens,
        |  cast(coalesce(g.n_kept, 0) AS bigint) AS n_kept,
        |  coalesce(g.text_out, '') AS text_out
        |FROM d LEFT JOIN g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q237: 12-hex md5 integer mod n, +1 probe on self-collision
    "q237_negative_samples" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |d AS (SELECT doc_id, unnest(range(1, 5)) AS neg_rank
        |      FROM documents),
        |r AS (SELECT doc_id, neg_rank,
        |  ('0x' || substr(md5(cast(doc_id AS varchar) || chr(1) ||
        |     cast(neg_rank AS varchar) || chr(1) || 'ns'), 1, 12))::UBIGINT
        |    % (SELECT n FROM n) AS raw FROM d)
        |SELECT doc_id, cast(neg_rank AS bigint) AS neg_rank,
        |  cast(CASE WHEN raw = doc_id THEN (raw + 1) % (SELECT n FROM n)
        |       ELSE raw END AS bigint) AS neg_id
        |FROM r ORDER BY doc_id, neg_rank""".stripMargin,

    // q238: identical md5 rank + minority count, window replay
    "q238_balance_classes" ->
      """WITH s AS (SELECT doc_id, lang,
        |  md5('bal' || chr(1) || cast(doc_id AS varchar)) AS h
        |  FROM documents),
        |c AS (SELECT lang, cast(count(*) AS bigint) AS class_n FROM s
        |      GROUP BY lang),
        |m AS (SELECT min(class_n) AS minn FROM c),
        |r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
        |  FROM s)
        |SELECT r.doc_id, r.lang, c.class_n,
        |  cast(r.rk AS bigint) AS sample_rank
        |FROM r JOIN c USING (lang), m WHERE r.rk <= m.minn
        |ORDER BY r.doc_id""".stripMargin,

    // q239: incidence-dedup, basket-local pair counts, IEEE sqrt cosine
    "q239_item_similarity" ->
      """WITH b AS (SELECT DISTINCT user_id AS bk, event_id % 30 AS it
        |           FROM events),
        |cnt AS (SELECT it, cast(count(*) AS bigint) AS n FROM b
        |        GROUP BY it),
        |p AS (SELECT a.it AS i, c.it AS j, cast(count(*) AS bigint) AS co
        |  FROM b a JOIN b c ON a.bk = c.bk AND a.it <> c.it
        |  GROUP BY a.it, c.it HAVING count(*) >= 2),
        |sc AS (SELECT p.i, p.j, p.co, ci.n AS n_item, cj.n AS n_other,
        |  cast(p.co AS double) / sqrt(cast(ci.n * cj.n AS double))
        |    AS cos_sim
        |  FROM p JOIN cnt ci ON p.i = ci.it JOIN cnt cj ON p.j = cj.it),
        |r AS (SELECT *, row_number() OVER (PARTITION BY i
        |        ORDER BY cos_sim DESC, j ASC) AS rank FROM sc)
        |SELECT i AS item, j AS other, co, n_item, n_other, cos_sim,
        |  cast(rank AS bigint) AS rank
        |FROM r WHERE rank <= 5 ORDER BY item, rank""".stripMargin,

    // q240: the q74 unrolled-iteration recipe with a seed-gated restart
    "q240_personalized_pagerank" -> pprOracleSql,

    // q244: four CASE-sum cells, one division per mean, three subtracts
    "q244_diff_in_diff" ->
      """WITH b AS (SELECT user_id % 2 = 0 AS t, (event_id % 7) < 3 AS p,
        |  event_id % 40 AS y FROM events),
        |a AS (SELECT
        |  cast(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS bigint)
        |    AS n_t_pre,
        |  cast(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS bigint)
        |    AS n_t_post,
        |  cast(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS bigint)
        |    AS n_c_pre,
        |  cast(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS bigint)
        |    AS n_c_post,
        |  cast(sum(CASE WHEN t AND NOT p THEN y ELSE 0 END) AS bigint)
        |    AS s_t_pre,
        |  cast(sum(CASE WHEN t AND p THEN y ELSE 0 END) AS bigint)
        |    AS s_t_post,
        |  cast(sum(CASE WHEN NOT t AND NOT p THEN y ELSE 0 END) AS bigint)
        |    AS s_c_pre,
        |  cast(sum(CASE WHEN NOT t AND p THEN y ELSE 0 END) AS bigint)
        |    AS s_c_post FROM b),
        |m AS (SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  cast(s_t_pre AS double) / cast(n_t_pre AS double) AS mean_t_pre,
        |  cast(s_t_post AS double) / cast(n_t_post AS double)
        |    AS mean_t_post,
        |  cast(s_c_pre AS double) / cast(n_c_pre AS double) AS mean_c_pre,
        |  cast(s_c_post AS double) / cast(n_c_post AS double)
        |    AS mean_c_post FROM a)
        |SELECT *, (mean_t_post - mean_t_pre) - (mean_c_post - mean_c_pre)
        |  AS did FROM m""".stripMargin,

    // q245: the closed-form bound with the engine's exact z literals
    "q245_wilson" -> {
      val z = 1.96
      s"""WITH a AS (SELECT event_type,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS bigint) AS n_success FROM events GROUP BY event_type),
        |b AS (SELECT *, cast(n AS double) AS nn,
        |  cast(n_success AS double) / cast(n AS double) AS p FROM a)
        |SELECT event_type, n, n_success, p AS p_hat,
        |  (p + ${z * z} / (cast(2 AS double) * nn) -
        |   $z * sqrt(p * (cast(1 AS double) - p) / nn +
        |     ${z * z} / (cast(4 AS double) * nn * nn))) /
        |  (cast(1 AS double) + ${z * z} / nn) AS wilson_lb
        |FROM b ORDER BY event_type""".stripMargin
    },

    // q246: running-max-of-changed-rn run counter, integer shift backoff
    "q246_revisit_schedule" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_id % 4 = 0 AS chg
        |           FROM events),
        |r AS (SELECT user_id, ts, event_id, chg,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    AS rn FROM e),
        |m AS (SELECT *, max(CASE WHEN chg THEN rn END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS crn
        |  FROM r)
        |SELECT user_id, event_id,
        |  cast(rn - coalesce(crn, 0) AS bigint) AS unchanged_run,
        |  cast(least(86400, 300 * (1::BIGINT <<
        |    least(rn - coalesce(crn, 0), 30)::int)) AS bigint)
        |    AS next_interval_s
        |FROM m ORDER BY user_id, event_id""".stripMargin,

    // q262: unique-MST via the CUT property — an edge is in the tree iff
    // its weight equals the minimax (bottleneck) path weight between its
    // endpoints, computed by a bottleneck-tracking recursive closure:
    // a genuinely different derivation than Boruvka's contraction
    "q262_boruvka_mst" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id AS i FROM documents WHERE doc_id < 40),
        |ed AS (
        |  SELECT least(i, (i + 1) % 40) AS u,
        |    greatest(i, (i + 1) % 40) AS v, 100 + i AS w FROM base
        |  UNION ALL
        |  SELECT least(i, (i * 7 + 3) % 40),
        |    greatest(i, (i * 7 + 3) % 40), 300 + i FROM base
        |  WHERE i % 5 = 0),
        |bi AS (SELECT u AS a, v AS b, w FROM ed
        |       UNION SELECT v, u, w FROM ed),
        |r(a, b, bw) AS (
        |  SELECT a, b, w FROM bi
        |  UNION
        |  SELECT r.a, bi.b, greatest(r.bw, bi.w)
        |  FROM r JOIN bi ON r.b = bi.a WHERE r.a <> bi.b),
        |mm AS (SELECT a, b, min(bw) AS bot FROM r GROUP BY a, b)
        |SELECT cast(ed.u AS bigint) AS u, cast(ed.v AS bigint) AS v,
        |  cast(ed.w AS bigint) AS w
        |FROM ed JOIN mm ON ed.u = mm.a AND ed.v = mm.b
        |WHERE ed.w = mm.bot ORDER BY u, v""".stripMargin,

    // q275: the constructed markdown is closed-form in doc_id
    "q275_markdown_stats" ->
      """SELECT doc_id,
        |  cast(doc_id % 3 AS bigint) AS n_headings,
        |  cast(CASE WHEN doc_id % 3 > 0 THEN 2 ELSE 0 END AS bigint)
        |    AS max_heading_depth,
        |  cast(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS bigint)
        |    AS n_code_fences,
        |  doc_id % 2 <> 0 AS fence_unterminated,
        |  cast(doc_id % 4 AS bigint) AS n_list_items,
        |  cast(doc_id % 5 AS bigint) AS n_links
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q276: q115's closed regex form extended to the two chains + 'of';
    // the 201 padding merges never fire on [a-z0-9_']+ words, so they do
    // not appear. Chain singles math: a depth-1 fire fuses two singles, a
    // deeper chain fire absorbs one more single into the composite.
    "q276_bpe_segment_scaled" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS ws
        |           FROM documents),
        |f AS (SELECT doc_id, len(ws) AS n_words,
        |        coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS chars,
        |        coalesce(list_sum(list_transform(ws, x ->
        |          len(regexp_extract_all(x, 'th')))), 0) AS c_th,
        |        coalesce(list_sum(list_transform(ws, x ->
        |          len(regexp_extract_all(x, 'the')))), 0) AS c_the,
        |        coalesce(list_sum(list_transform(ws, x ->
        |          len(regexp_extract_all(x, 'an')))), 0) AS c_an,
        |        coalesce(list_sum(list_transform(ws, x ->
        |          len(regexp_extract_all(x, 'and')))), 0) AS c_and,
        |        coalesce(list_sum(list_transform(ws, x ->
        |          len(regexp_extract_all(x, 'of')))), 0) AS c_of
        |      FROM w)
        |SELECT doc_id, cast(n_words AS bigint) AS n_words,
        |  cast(chars - (c_th + c_the + c_an + c_and + c_of) AS bigint)
        |    AS n_subwords,
        |  cast(chars - (2 * c_th + c_the) - (2 * c_an + c_and) - 2 * c_of
        |    AS bigint) AS n_single_chars
        |FROM f ORDER BY doc_id""".stripMargin,

    // q277: the trace is closed-form from the constructed distribution
    // (derivation in the entry comment); constants are arithmetic over the
    // word frequencies (10, 7, 4, 2), never engine output
    "q277_bpe_train" ->
      """SELECT * FROM (VALUES
        |  (cast(0 AS bigint), 'a',  'a',  cast(30 AS bigint)),
        |  (cast(1 AS bigint), 'b',  'c',  cast(15 AS bigint)),
        |  (cast(2 AS bigint), 'aa', 'aa', cast(10 AS bigint)),
        |  (cast(3 AS bigint), 'bc', 'bc', cast(4 AS bigint)),
        |  (cast(4 AS bigint), 'd',  'd',  cast(4 AS bigint)),
        |  (cast(5 AS bigint), 'dd', 'd',  cast(2 AS bigint)))
        |  t(rank, lhs, rhs, freq)
        |ORDER BY rank""".stripMargin,

    // q278: closed-form from the generator parameters — video: n=151,
    // ticks=100*1001+50*1000+500=150600, bytes=151*1024, ms=150600000/30000;
    // audio: per-sample bytes is the SQL sum of the same (i*37)%256 series,
    // ms=1024000000/48000 floored
    "q278_mp4_sample_tables" ->
      """WITH sb AS (SELECT cast(sum((i * 37) % 256) AS bigint) AS b
        |            FROM range(1000) t(i))
        |SELECT * FROM (VALUES
        |  (cast(1 AS bigint), cast(1 AS bigint), 'vide', cast(30000 AS bigint),
        |   cast(150600 AS bigint), cast(5020 AS bigint), cast(151 AS bigint),
        |   cast(154624 AS bigint), cast(150600 AS bigint), cast(3 AS bigint),
        |   cast(1 AS bigint), cast(5 AS bigint), true),
        |  (cast(1 AS bigint), cast(2 AS bigint), 'soun', cast(48000 AS bigint),
        |   cast(1024000 AS bigint), cast(21333 AS bigint), cast(1000 AS bigint),
        |   (SELECT b FROM sb), cast(1024000 AS bigint), cast(1 AS bigint),
        |   cast(1 AS bigint), cast(2 AS bigint), true),
        |  (cast(2 AS bigint), cast(-1 AS bigint), '', cast(0 AS bigint),
        |   cast(0 AS bigint), cast(0 AS bigint), cast(0 AS bigint),
        |   cast(0 AS bigint), cast(0 AS bigint), cast(0 AS bigint),
        |   cast(0 AS bigint), cast(0 AS bigint), true),
        |  (cast(3 AS bigint), cast(-1 AS bigint), '', cast(0 AS bigint),
        |   cast(0 AS bigint), cast(0 AS bigint), cast(0 AS bigint),
        |   cast(0 AS bigint), cast(0 AS bigint), cast(0 AS bigint),
        |   cast(0 AS bigint), cast(0 AS bigint), false))
        |  t(media_id, track_id, handler, timescale, mdhd_ticks, duration_ms,
        |    n_samples, sample_bytes, stts_ticks, n_stts_entries,
        |    n_stsc_entries, n_chunks, ok)
        |ORDER BY media_id, track_id""".stripMargin,

    // q279: the four live patterns have no self-overlap (no proper prefix
    // equals a suffix), so non-overlapping regexp counts == AC counts; the
    // padding patterns never occur in the corpus
    "q279_substring_blocklist" ->
      """WITH c AS (SELECT doc_id,
        |    len(regexp_extract_all(lower(text), 'the')) AS c1,
        |    len(regexp_extract_all(lower(text), 'and')) AS c2,
        |    len(regexp_extract_all(lower(text), 'ing')) AS c3,
        |    len(regexp_extract_all(lower(text), 'tion')) AS c4
        |  FROM documents)
        |SELECT doc_id, cast(c1 + c2 + c3 + c4 AS bigint) AS n_hits,
        |  cast((CASE WHEN c1 > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN c2 > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN c3 > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN c4 > 0 THEN 1 ELSE 0 END) AS bigint)
        |    AS n_patterns_hit,
        |  c1 + c2 + c3 + c4 >= 20 AS blocked
        |FROM c ORDER BY doc_id""".stripMargin,

    // q280: exact replay of the 3-line smoothing with list lambdas
    // (DuckDB lists are 1-based like the op's sequence form); longest run
    // via parallel-unnest + gaps-and-islands
    "q280_density_content" ->
      """WITH d AS (SELECT doc_id,
        |    'menu home about' || chr(10) || text || chr(10) || chr(10) ||
        |      'contact us' AS text FROM documents),
        |w AS (SELECT doc_id, list_transform(str_split(text, chr(10)), ln ->
        |        len(regexp_extract_all(lower(ln), '[a-z0-9_'']+'))) AS wc
        |      FROM d),
        |f AS (SELECT doc_id, wc,
        |        list_transform(range(1, len(wc) + 1), i ->
        |          wc[i] > 0 AND
        |          (CASE WHEN i >= 2 THEN wc[i - 1] ELSE 0 END) + wc[i] +
        |          (CASE WHEN i < len(wc) THEN wc[i + 1] ELSE 0 END) >= 8)
        |          AS ct
        |      FROM w),
        |base AS (SELECT doc_id,
        |    cast(len(list_filter(wc, c -> c > 0)) AS bigint) AS n_lines,
        |    cast(len(list_filter(ct, c -> c)) AS bigint) AS n_content_lines,
        |    cast(coalesce(list_sum(wc), 0) AS bigint) AS total_words,
        |    cast(coalesce(list_sum(list_transform(range(1, len(wc) + 1),
        |      i -> CASE WHEN ct[i] THEN wc[i] ELSE 0 END)), 0) AS bigint)
        |      AS content_words
        |  FROM f),
        |pos AS (SELECT doc_id, unnest(ct) AS c,
        |          unnest(range(1, len(ct) + 1)) AS i FROM f),
        |isl AS (SELECT doc_id,
        |          i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
        |            AS grp
        |        FROM pos WHERE c),
        |lr AS (SELECT doc_id, cast(max(cnt) AS bigint) AS longest_run FROM
        |        (SELECT doc_id, grp, count(*) AS cnt FROM isl
        |         GROUP BY doc_id, grp) GROUP BY doc_id)
        |SELECT b.doc_id, n_lines, n_content_lines, total_words,
        |  content_words,
        |  CASE WHEN total_words > 0 THEN
        |    cast(content_words AS double) / cast(total_words AS double)
        |  END AS content_ratio,
        |  cast(coalesce(lr.longest_run, 0) AS bigint) AS longest_run
        |FROM base b LEFT JOIN lr USING (doc_id) ORDER BY b.doc_id""".stripMargin,

    // q281: same integer bin arithmetic — width = (max-min) div 5 + 1,
    // fold = (ts-min) div width, roles by boundary comparison
    "q281_purged_split" ->
      """WITH b AS (SELECT min(epoch_ms(ts)) AS t0, max(epoch_ms(ts)) AS t1
        |           FROM events),
        |e AS (SELECT event_id, epoch_ms(ts) AS ms FROM events)
        |SELECT event_id,
        |  cast((ms - t0) // ((t1 - t0) // 5 + 1) AS bigint) AS fold,
        |  CASE
        |    WHEN (ms - t0) // ((t1 - t0) // 5 + 1) = 3 THEN 'val'
        |    WHEN ms >= t0 + 4 * ((t1 - t0) // 5 + 1) THEN 'future'
        |    WHEN ms >= t0 + 3 * ((t1 - t0) // 5 + 1) - 3600000 THEN 'embargo'
        |    ELSE 'train'
        |  END AS role
        |FROM e, b ORDER BY event_id""".stripMargin,

    // q282: FULL md5 replay — per (doc, lane k) the UBIGINT min over
    // md5(k || chr(1) || gram) of the word 3-grams; banding buckets keyed
    // by the raw 4-lane sub-signature; 4-bit matches + the corrected
    // estimator, all dyadic arithmetic
    "q282_bbit_minhash" ->
      """WITH docs AS (
        |  SELECT doc_id AS id, text FROM documents WHERE doc_id < 40
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text
        |  FROM documents WHERE doc_id < 40),
        |words AS (SELECT id, regexp_extract_all(lower(text), '[a-z0-9_'']+') AS w
        |          FROM docs),
        |grams AS (SELECT id, unnest(list_transform(range(1, len(w) - 1),
        |            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
        |          FROM words WHERE len(w) >= 3),
        |lanes AS (SELECT id, k,
        |            min(('0x' || substr(md5(cast(k AS varchar) || chr(1) || g),
        |                 1, 16))::UBIGINT) AS h
        |          FROM grams CROSS JOIN range(64) t(k) GROUP BY id, k),
        |sigs AS (SELECT id, list(h ORDER BY k) AS sig FROM lanes GROUP BY id),
        |bands AS (SELECT id, bb, sig[bb * 4 + 1 : bb * 4 + 4] AS key
        |          FROM sigs CROSS JOIN range(16) t(bb)),
        |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |          FROM bands a JOIN bands b
        |            ON a.bb = b.bb AND a.key = b.key AND a.id < b.id),
        |m AS (SELECT id_a, id_b,
        |        cast(len(list_filter(range(1, 65), i ->
        |          (sa.sig[i] & 15) = (sb.sig[i] & 15))) AS bigint) AS matches
        |      FROM cands JOIN sigs sa ON sa.id = id_a
        |                 JOIN sigs sb ON sb.id = id_b)
        |SELECT id_a, id_b, matches,
        |  (cast(matches AS double) / cast(64 AS double)
        |    - cast(1 AS double) / cast(16 AS double))
        |   / (cast(1 AS double) - cast(1 AS double) / cast(16 AS double))
        |    AS j_bbit
        |FROM m ORDER BY id_a, id_b""".stripMargin,

    // q283: same md5-parity signs and fixed-point quantization replayed —
    // every cell is an exact integer sum
    "q283_random_projection" ->
      """WITH v AS (SELECT vec_id AS id, unnest(embedding) AS x,
        |    generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings WHERE vec_id < 100),
        |q AS (SELECT id, i, cast(floor(x::DOUBLE * 1000000) AS bigint) AS qv
        |      FROM v)
        |SELECT id, j AS dim,
        |  cast(sum(CASE WHEN ('0x' || substr(md5('rp:' || j || ':' || i),
        |      1, 8))::UBIGINT % 2 = 0 THEN qv ELSE -qv END) AS bigint)
        |    AS value
        |FROM q CROSS JOIN range(8) t(j)
        |GROUP BY id, j ORDER BY id, dim""".stripMargin,

    // q284: same md5 folds, same milli/div integer chain
    "q284_target_encode" ->
      """WITH s AS (SELECT doc_id, lang AS cat, n_chars % 100 AS y,
        |    ('0x' || substr(md5('te:' || cast(doc_id AS varchar)), 1, 8))
        |      ::UBIGINT % 5 AS fold
        |  FROM documents),
        |bc AS (SELECT cat, sum(y) AS sc, count(*) AS nc FROM s GROUP BY cat),
        |bcf AS (SELECT cat, fold, sum(y) AS scf, count(*) AS ncf
        |        FROM s GROUP BY cat, fold),
        |p AS (SELECT sum(y) * 1000 // count(*) AS prior FROM s)
        |SELECT s.doc_id, s.cat AS lang, cast(s.fold AS bigint) AS fold,
        |  cast(((sc - scf) * 1000 + 20 * prior) // (nc - ncf + 20)
        |    AS bigint) AS enc_milli
        |FROM s JOIN bcf ON s.cat = bcf.cat AND s.fold = bcf.fold
        |       JOIN bc ON s.cat = bc.cat, p
        |ORDER BY s.doc_id""".stripMargin,

    // q285: the greedy trace is closed-form (derivation in the entry
    // comment): step scores are lambda*rel - (1000-lambda)*maxSimMilli
    // with simMilli in {0, 333, 1000} by gram-set construction
    "q285_mmr_rerank" ->
      """SELECT * FROM (VALUES
        |  (cast(1 AS bigint), cast(1 AS bigint), cast(630000 AS bigint),
        |   cast(0 AS bigint)),
        |  (cast(2 AS bigint), cast(4 AS bigint), cast(390100 AS bigint),
        |   cast(333 AS bigint)),
        |  (cast(3 AS bigint), cast(3 AS bigint), cast(350000 AS bigint),
        |   cast(0 AS bigint)),
        |  (cast(4 AS bigint), cast(2 AS bigint), cast(316000 AS bigint),
        |   cast(1000 AS bigint)))
        |  t(rank, id, mmr_milli, max_sim_milli)
        |ORDER BY rank""".stripMargin,

    // q286: q117's closed-form raster arithmetic per frame geometry, plus
    // the garbage-frame and truncated-container constant rows
    "q286_video_frames" ->
      """WITH dims AS (SELECT * FROM (VALUES (0, 17, 9), (1, 8, 6),
        |              (2, 2200, 3)) AS t(fi, w, h)),
        |px AS (SELECT d.fi, d.w, d.h,
        |         ((x.r % d.w) * 31 + (x.r // d.w) * 17) % 16777216 AS v
        |       FROM dims d JOIN range(6600) x(r) ON x.r < d.w * d.h),
        |agg AS (SELECT fi, w, h, sum(v // 65536) AS sr,
        |          sum((v // 256) % 256) AS sg, sum(v % 256) AS sb
        |        FROM px GROUP BY 1, 2, 3)
        |SELECT cast(1 AS bigint) AS media_id, cast(fi AS bigint) AS frame_idx,
        |  cast(w AS bigint) AS width, cast(h AS bigint) AS height,
        |  cast(w * h AS bigint) AS n_pixels, cast(sr AS bigint) AS sum_r,
        |  cast(sg AS bigint) AS sum_g, cast(sb AS bigint) AS sum_b,
        |  cast(4 AS bigint) AS declared_frames,
        |  cast(40000 AS bigint) AS us_per_frame, true AS ok
        |FROM agg
        |UNION ALL SELECT 1, 3, 0, 0, 0, 0, 0, 0, 4, 40000, false
        |UNION ALL SELECT 2, -1, 0, 0, 0, 0, 0, 0, -1, -1, false
        |ORDER BY media_id, frame_idx""".stripMargin,

    // q287: the ITU G.711 expansions as SQL integer chains — mu-law:
    // complement, t = ((u%16)*8+132) << seg, v = ±(t-132); A-law:
    // xor 0x55, segmented mantissa; stats replayed from the same
    // generator byte functions
    "q287_audio_g711" ->
      """WITH uc AS (SELECT (i * 7) % 256 AS c FROM range(2048) t(i)),
        |ud AS (SELECT 255 - c AS u FROM uc),
        |uv AS (SELECT CASE WHEN u >= 128
        |         THEN 132 - (((u % 16) * 8 + 132) << ((u // 16) % 8))
        |         ELSE (((u % 16) * 8 + 132) << ((u // 16) % 8)) - 132
        |       END AS v FROM ud),
        |us AS (SELECT max(abs(v)) AS pk, sum(abs(v)) AS sa,
        |         sum(v * v) AS sq FROM uv),
        |ac AS (SELECT xor((i * 13) % 256, 85) AS a FROM range(1024) t(i)),
        |av AS (SELECT CASE WHEN a >= 128 THEN m ELSE -m END AS v FROM (
        |         SELECT a, CASE (a // 16) % 8
        |           WHEN 0 THEN (a % 16) * 16 + 8
        |           WHEN 1 THEN (a % 16) * 16 + 264
        |           ELSE ((a % 16) * 16 + 264) << ((a // 16) % 8 - 1)
        |         END AS m FROM ac)),
        |as_ AS (SELECT max(abs(v)) AS pk, sum(abs(v)) AS sa,
        |          sum(v * v) AS sq FROM av)
        |SELECT cast(1 AS bigint) AS media_id, 'ulaw' AS codec,
        |  cast(1 AS bigint) AS channels, cast(8000 AS bigint) AS sample_rate,
        |  cast(2048 AS bigint) AS n_samples, cast(pk AS bigint) AS peak_abs,
        |  cast(sa AS bigint) AS sum_abs, cast(sq AS bigint) AS sum_sq,
        |  true AS ok FROM us
        |UNION ALL
        |SELECT 2, 'alaw', 2, 16000, 1024, cast(pk AS bigint),
        |  cast(sa AS bigint), cast(sq AS bigint), true FROM as_
        |UNION ALL
        |SELECT 3, '', 0, 0, 0, 0, 0, 0, false
        |ORDER BY media_id""".stripMargin,

    // q288: the ring replayed — 60-bit md5 vnode positions (15 hex chars,
    // positive in int64), successor = min pos >= key pos else ring min
    "q288_consistent_ring" ->
      """WITH ring AS (SELECT sh, ('0x' || substr(md5('ring:' || sh || ':' || v),
        |      1, 15))::BIGINT AS pos
        |    FROM range(5) s(sh) CROSS JOIN range(64) t(v)),
        |keys AS (SELECT doc_id, ('0x' || substr(md5('ring#' || doc_id), 1, 15))
        |           ::BIGINT AS kp FROM documents),
        |succ4 AS (SELECT k.doc_id, min(r.pos) AS mp FROM keys k
        |          JOIN ring r ON r.sh < 4 AND r.pos >= k.kp GROUP BY 1),
        |succ5 AS (SELECT k.doc_id, min(r.pos) AS mp FROM keys k
        |          JOIN ring r ON r.pos >= k.kp GROUP BY 1),
        |min4 AS (SELECT min(pos) AS mp FROM ring WHERE sh < 4),
        |min5 AS (SELECT min(pos) AS mp FROM ring),
        |a4 AS (SELECT k.doc_id, r.sh AS shard4 FROM keys k
        |       LEFT JOIN succ4 USING (doc_id), min4
        |       JOIN ring r ON r.pos = coalesce(succ4.mp, min4.mp)),
        |a5 AS (SELECT k.doc_id, r.sh AS shard5 FROM keys k
        |       LEFT JOIN succ5 USING (doc_id), min5
        |       JOIN ring r ON r.pos = coalesce(succ5.mp, min5.mp))
        |SELECT a4.doc_id, cast(shard4 AS bigint) AS shard4,
        |  cast(shard5 AS bigint) AS shard5, shard4 <> shard5 AS moved
        |FROM a4 JOIN a5 USING (doc_id) ORDER BY a4.doc_id""".stripMargin,

    // q289: the public-domain xy2d bit walk as a recursive CTE — per
    // level: rx/ry from the current (x, y), d += s*s*((3*rx) xor ry),
    // then the quadrant rotation (reflect iff rx=1 when ry=0, then swap)
    "q289_hilbert_layout" ->
      """WITH RECURSIVE pts AS (
        |  SELECT doc_id, doc_id % 16 AS x0, (doc_id * 7) % 16 AS y0
        |  FROM documents WHERE doc_id < 256),
        |walk(doc_id, x, y, s, d) AS (
        |  SELECT doc_id, x0, y0, 8, cast(0 AS bigint) FROM pts
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN (y & s) > 0 THEN x
        |         WHEN (x & s) > 0 THEN s - 1 - y ELSE y END,
        |    CASE WHEN (y & s) > 0 THEN y
        |         WHEN (x & s) > 0 THEN s - 1 - x ELSE x END,
        |    s // 2,
        |    d + s * s * xor(3 * (CASE WHEN (x & s) > 0 THEN 1 ELSE 0 END),
        |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END)
        |  FROM walk WHERE s > 0)
        |SELECT doc_id, cast(x0 AS bigint) AS x, cast(y0 AS bigint) AS y,
        |  (SELECT d FROM walk w WHERE w.doc_id = pts.doc_id AND w.s = 0)
        |    AS hilbert_d
        |FROM pts ORDER BY doc_id""".stripMargin,

    // q273: four CASE cells, single-division ratios
    "q273_two_by_two" ->
      """WITH b AS (SELECT n_chars >= 300 AS e, lang = 'en' AS o
        |           FROM documents),
        |c AS (SELECT
        |  cast(sum(CASE WHEN e AND o THEN 1 ELSE 0 END) AS bigint)
        |    AS n_exposed_pos,
        |  cast(sum(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS bigint)
        |    AS n_exposed_neg,
        |  cast(sum(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS bigint)
        |    AS n_control_pos,
        |  cast(sum(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)
        |    AS bigint) AS n_control_neg FROM b),
        |m AS (SELECT *,
        |  CASE WHEN n_exposed_pos + n_exposed_neg > 0 THEN
        |    cast(n_exposed_pos AS double) /
        |    cast(n_exposed_pos + n_exposed_neg AS double) END AS re,
        |  CASE WHEN n_control_pos + n_control_neg > 0 THEN
        |    cast(n_control_pos AS double) /
        |    cast(n_control_pos + n_control_neg AS double) END AS rc
        |  FROM c)
        |SELECT n_exposed_pos, n_exposed_neg, n_control_pos,
        |  n_control_neg, re AS risk_exposed, rc AS risk_control,
        |  CASE WHEN rc IS NOT NULL AND rc > 0 AND re IS NOT NULL
        |    THEN re / rc END AS relative_risk,
        |  CASE WHEN n_exposed_neg > 0 AND n_control_pos > 0
        |      AND n_control_neg > 0 THEN
        |    (cast(n_exposed_pos AS double) * cast(n_control_neg AS double))
        |    / (cast(n_exposed_neg AS double) *
        |       cast(n_control_pos AS double)) END AS odds_ratio
        |FROM m""".stripMargin,

    // q274: min of strictly-later target seconds per key (rank self-join)
    "q274_time_to_event" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_ms(ts) // 1000 AS sec FROM events)
        |SELECT l.user_id, l.event_id,
        |  (SELECT min(r.sec) FROM e r WHERE r.user_id = l.user_id
        |    AND r.event_type = 'purchase'
        |    AND (r.sec > l.sec OR (r.sec = l.sec
        |         AND r.event_id > l.event_id))) - l.sec
        |    AS label_next_target_s
        |FROM e l ORDER BY l.event_id""".stripMargin,

    // q271: same exact sum-of-squares identity, one sqrt
    "q271_cohens_d" ->
      """WITH a AS (SELECT
        |  cast(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS bigint)
        |    AS n_a,
        |  cast(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS bigint)
        |    AS n_b,
        |  cast(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END)
        |    AS bigint) AS sa,
        |  cast(sum(CASE WHEN lang = 'de' THEN n_chars ELSE 0 END)
        |    AS bigint) AS sb,
        |  cast(sum(CASE WHEN lang = 'en' THEN n_chars * n_chars
        |    ELSE 0 END) AS bigint) AS qa,
        |  cast(sum(CASE WHEN lang = 'de' THEN n_chars * n_chars
        |    ELSE 0 END) AS bigint) AS qb
        |  FROM documents WHERE lang IN ('en', 'de')),
        |m AS (SELECT *,
        |  cast(sa AS double) / cast(n_a AS double) AS mean_a,
        |  cast(sb AS double) / cast(n_b AS double) AS mean_b,
        |  ((cast(qa AS double) - cast(sa AS double) * cast(sa AS double)
        |      / cast(n_a AS double)) +
        |   (cast(qb AS double) - cast(sb AS double) * cast(sb AS double)
        |      / cast(n_b AS double))) / cast(n_a + n_b - 2 AS double)
        |    AS pv FROM a)
        |SELECT n_a, n_b, mean_a, mean_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND pv > 0 THEN
        |    (mean_a - mean_b) / sqrt(pv) END AS d
        |FROM m""".stripMargin,

    // q272: exact confusion counts, double products before the sqrt
    "q272_mcc" ->
      """WITH b AS (SELECT lang = 'en' AS y,
        |  (doc_id % 11 = 0 OR (lang = 'en' AND doc_id % 7 <> 0)) AS p
        |  FROM documents),
        |c AS (SELECT
        |  cast(sum(CASE WHEN y AND p THEN 1 ELSE 0 END) AS bigint) AS tp,
        |  cast(sum(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)
        |    AS bigint) AS tn,
        |  cast(sum(CASE WHEN NOT y AND p THEN 1 ELSE 0 END) AS bigint)
        |    AS fp,
        |  cast(sum(CASE WHEN y AND NOT p THEN 1 ELSE 0 END) AS bigint)
        |    AS fn FROM b),
        |d AS (SELECT *, sqrt(cast(tp + fp AS double) *
        |  cast(tp + fn AS double) * cast(tn + fp AS double) *
        |  cast(tn + fn AS double)) AS den FROM c)
        |SELECT tp, tn, fp, fn,
        |  CASE WHEN den > 0 THEN
        |    (cast(tp AS double) * cast(tn AS double) -
        |     cast(fp AS double) * cast(fn AS double)) / den END AS mcc
        |FROM d""".stripMargin,

    // q270: correlated trailing-window count on floor seconds — the
    // deliberately DIFFERENT plan (per-row lookup) vs the engine's
    // union-merge single window
    "q270_asof_count" ->
      """SELECT l.user_id, l.event_id,
        |  cast((SELECT count(*) FROM events r
        |    WHERE r.user_id = l.user_id AND r.event_type = 'click'
        |    AND epoch_ms(r.ts) // 1000
        |      BETWEEN epoch_ms(l.ts) // 1000 - 604800
        |      AND epoch_ms(l.ts) // 1000) AS bigint) AS n_right_in_window
        |FROM events l WHERE l.event_type = 'purchase'
        |ORDER BY l.event_id""".stripMargin,

    // q269: merged-grid cross-multiplied CDF gaps, exact bigint numerator
    "q269_emd" ->
      """WITH a AS (SELECT n_chars AS v, count(*) AS ca FROM documents
        |  WHERE lang = 'en' GROUP BY 1),
        |b AS (SELECT n_chars AS v, count(*) AS cb FROM documents
        |  WHERE lang = 'de' GROUP BY 1),
        |g AS (SELECT coalesce(a.v, b.v) AS v,
        |  coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON a.v = b.v),
        |c AS (SELECT v,
        |  sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS cuma,
        |  sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS cumb,
        |  lead(v) OVER (ORDER BY v) - v AS dx FROM g),
        |t AS (SELECT cast(max(cuma) AS bigint) AS n_a,
        |  cast(max(cumb) AS bigint) AS n_b FROM c)
        |SELECT t.n_a, t.n_b,
        |  cast(coalesce(sum(CASE WHEN dx IS NOT NULL THEN
        |    abs(cuma * t.n_b - cumb * t.n_a) * dx END), 0) AS bigint)
        |    AS emd_scaled,
        |  cast(coalesce(sum(CASE WHEN dx IS NOT NULL THEN
        |    abs(cuma * t.n_b - cumb * t.n_a) * dx END), 0) AS double) /
        |    cast(t.n_a * t.n_b AS double) AS emd
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin,

    // q267: lag-change run count + the closed-form mu/sigma/z replay
    "q267_runs_test" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |  (event_id % 20) >= 10 AS f FROM events),
        |w AS (SELECT user_id, f,
        |  CASE WHEN lag(f) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) IS NOT DISTINCT FROM f
        |    AND row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) > 1
        |  THEN 0 ELSE 1 END AS nr FROM e),
        |a AS (SELECT user_id, cast(count(*) AS bigint) AS n,
        |  cast(sum(CASE WHEN f THEN 1 ELSE 0 END) AS bigint) AS n_true,
        |  cast(sum(nr) AS bigint) AS n_runs FROM w GROUP BY user_id),
        |m AS (SELECT *, cast(2 AS double) *
        |  cast(n_true * (n - n_true) AS double) / cast(n AS double)
        |  + cast(1 AS double) AS mu FROM a)
        |SELECT user_id, n, n_true, n_runs,
        |  CASE WHEN n_true > 0 AND n_true < n AND n > 1 AND
        |    (mu - cast(1 AS double)) * (mu - cast(2 AS double)) /
        |      cast(n - 1 AS double) > 0 THEN
        |    (cast(n_runs AS double) - mu) /
        |    sqrt((mu - cast(1 AS double)) * (mu - cast(2 AS double)) /
        |      cast(n - 1 AS double)) END AS z
        |FROM m ORDER BY user_id""".stripMargin,

    // q268: per-lag pair moments, the q191-family fixed formula
    "q268_acf" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_id % 20 AS x
        |           FROM events),
        |rk AS (SELECT user_id, x, row_number() OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id) AS rn FROM e),
        |p AS (SELECT a.user_id, cast(t.lg AS bigint) AS lag,
        |  a.x AS x, b.x AS y
        |  FROM rk a, unnest([1, 2, 3, 4, 5, 6, 7]) t(lg)
        |  JOIN rk b ON b.user_id = a.user_id AND b.rn = a.rn - t.lg),
        |a AS (SELECT user_id, lag, cast(count(*) AS bigint) AS n_pairs,
        |  cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
        |  cast(sum(x * x) AS bigint) AS sxx,
        |  cast(sum(y * y) AS bigint) AS syy,
        |  cast(sum(x * y) AS bigint) AS sxy
        |  FROM p GROUP BY user_id, lag)
        |SELECT user_id, lag, n_pairs,
        |  CASE WHEN cast(n_pairs * sxx - sx * sx AS double) > 0 AND
        |            cast(n_pairs * syy - sy * sy AS double) > 0 THEN
        |    cast(n_pairs * sxy - sx * sy AS double) /
        |    (sqrt(cast(n_pairs * sxx - sx * sx AS double)) *
        |     sqrt(cast(n_pairs * syy - sy * sy AS double))) END AS r
        |FROM a ORDER BY user_id, lag""".stripMargin,

    // q266: the same integer max terms, one terminal division
    "q266_pinball" ->
      """WITH b AS (SELECT user_id, event_id % 30 AS a,
        |  (event_id * 7) % 30 AS p FROM events),
        |g AS (SELECT user_id, cast(count(*) AS bigint) AS n,
        |  cast(sum(greatest(3 * (a - p), -1 * (a - p))) AS bigint)
        |    AS sum_loss_scaled
        |  FROM b GROUP BY user_id)
        |SELECT user_id, n, sum_loss_scaled,
        |  cast(sum_loss_scaled AS double) / cast(n * 4 AS double)
        |    AS mean_loss
        |FROM g ORDER BY user_id""".stripMargin,

    // q265: the same md5 signature grid re-dealt; estimator approximate,
    // computation exact
    "q265_audience_overlap" ->
      """WITH p AS (SELECT DISTINCT event_type AS k, user_id AS u
        |           FROM events),
        |d AS (SELECT k, j,
        |  min(cast(('0x' || substr(md5(cast(j AS varchar) || chr(1) ||
        |    cast(u AS varchar) || chr(1) || 'ao'), 1, 15))::UBIGINT
        |    AS bigint)) AS m
        |  FROM p, unnest(range(1, 33)) t(j) GROUP BY k, j),
        |pr AS (SELECT a.k AS key_a, b.k AS key_b,
        |  cast(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS bigint)
        |    AS n_match
        |  FROM d a JOIN d b ON a.j = b.j AND a.k < b.k
        |  GROUP BY a.k, b.k)
        |SELECT key_a, key_b, n_match, cast(32 AS bigint) AS h,
        |  cast(n_match AS double) / cast(32 AS double) AS jaccard_est
        |FROM pr ORDER BY key_a, key_b""".stripMargin,

    // q264: same md5 bucket + 60-bit xor digests, order-free
    "q264_range_digest" ->
      """WITH a AS (SELECT doc_id, source, n_chars FROM documents),
        |b AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 31 = 0 THEN n_chars + 1 ELSE n_chars END
        |    AS n_chars FROM documents WHERE doc_id % 97 <> 0),
        |da AS (SELECT
        |  cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))
        |    ::UBIGINT % 16 AS bigint) AS bucket,
        |  cast(count(*) AS bigint) AS n_a,
        |  bit_xor(cast(('0x' || substr(md5(cast(doc_id AS varchar) ||
        |    chr(1) || source || chr(1) || cast(n_chars AS varchar)),
        |    1, 15))::UBIGINT AS bigint)) AS digest_a
        |  FROM a GROUP BY 1),
        |db AS (SELECT
        |  cast(('0x' || substr(md5(cast(doc_id AS varchar)), 1, 8))
        |    ::UBIGINT % 16 AS bigint) AS bucket,
        |  cast(count(*) AS bigint) AS n_b,
        |  bit_xor(cast(('0x' || substr(md5(cast(doc_id AS varchar) ||
        |    chr(1) || source || chr(1) || cast(n_chars AS varchar)),
        |    1, 15))::UBIGINT AS bigint)) AS digest_b
        |  FROM b GROUP BY 1)
        |SELECT coalesce(da.bucket, db.bucket) AS bucket,
        |  coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |  digest_a, digest_b,
        |  coalesce(n_a, 0) = coalesce(n_b, 0) AND
        |    digest_a IS NOT DISTINCT FROM digest_b AS matches
        |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
        |ORDER BY bucket""".stripMargin,

    // q263: hop-tracking recursive min-plus closure (cap 45 >= the 39-hop
    // diameter, so the capped min IS the exact distance)
    "q263_sssp" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id AS i FROM documents WHERE doc_id < 40),
        |e AS (
        |  SELECT i AS src, (i + 1) % 40 AS dst, 100 + i AS w FROM base
        |  UNION ALL
        |  SELECT i, (i * 7 + 3) % 40, 300 + i FROM base WHERE i % 5 = 0),
        |r(node, d, h) AS (
        |  SELECT cast(0 AS bigint), cast(0 AS bigint), 0
        |  FROM base WHERE i = 0
        |  UNION
        |  SELECT cast(e.dst AS bigint), r.d + e.w, r.h + 1
        |  FROM r JOIN e ON r.node = e.src WHERE r.h < 45)
        |SELECT node, cast(min(d) AS bigint) AS dist FROM r
        |GROUP BY node ORDER BY node""".stripMargin,

    // q261: correlated exact ECDF counts against the even-doc cohort
    "q261_reference_percentile" ->
      """WITH ref AS (SELECT n_chars // 10 AS v FROM documents
        |  WHERE doc_id % 2 = 0),
        |q AS (SELECT doc_id, n_chars // 10 AS b FROM documents
        |  WHERE doc_id % 2 = 1),
        |n AS (SELECT cast(count(*) AS bigint) AS refn FROM ref)
        |SELECT q.doc_id, cast(q.b AS bigint) AS value,
        |  cast((SELECT count(*) FROM ref WHERE ref.v <= q.b) AS bigint)
        |    AS n_le,
        |  n.refn AS ref_n,
        |  cast((SELECT count(*) FROM ref WHERE ref.v <= q.b) AS double) /
        |    cast(n.refn AS double) AS ref_percentile
        |FROM q, n ORDER BY q.doc_id""".stripMargin,

    // q259: explode x thresholds, exact conditional sums
    "q259_threshold_sweep" ->
      """WITH t AS (SELECT unnest([100, 200, 300, 400, 500]) AS threshold),
        |s AS (SELECT d.n_chars AS s, t.threshold FROM documents d, t)
        |SELECT threshold, cast(count(*) AS bigint) AS n_total,
        |  cast(sum(CASE WHEN s >= threshold THEN 1 ELSE 0 END) AS bigint)
        |    AS n_kept,
        |  cast(sum(CASE WHEN s >= threshold THEN s ELSE 0 END) AS bigint)
        |    AS sum_kept_score,
        |  cast(sum(CASE WHEN s >= threshold THEN 1 ELSE 0 END) AS double)
        |    / cast(count(*) AS double) AS keep_frac
        |FROM s GROUP BY threshold ORDER BY threshold""".stripMargin,

    // q260: unnest + subscripts, floor-quantized exact sums, trunc div
    "q260_fixed_centroids" ->
      """WITH x AS (SELECT label AS grp,
        |  unnest(embedding) AS v,
        |  generate_subscripts(embedding, 1) AS gs FROM embeddings),
        |g AS (SELECT grp, cast(gs - 1 AS bigint) AS dim,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(floor(cast(v AS double) * 1000000) AS bigint))
        |    AS bigint) AS sum_fixed
        |  FROM x GROUP BY grp, gs)
        |SELECT grp AS "group", dim, n, sum_fixed,
        |  sum_fixed // n AS mean_fixed
        |FROM g ORDER BY "group", dim""".stripMargin,

    // q257: same integer cross-product distance, argmax via order/limit
    "q257_knee" ->
      """WITH p AS (SELECT n_chars // 20 AS x,
        |  cast(count(*) AS bigint) AS y FROM documents GROUP BY 1),
        |e AS (SELECT min(x) AS x1, arg_min(y, x) AS y1, max(x) AS x2,
        |  arg_max(y, x) AS y2 FROM p),
        |d AS (SELECT p.x AS x_knee, p.y AS y_knee,
        |  abs((e.x2 - e.x1) * (e.y1 - p.y) - (e.x1 - p.x) * (e.y2 - e.y1))
        |    AS dist_num
        |  FROM p, e)
        |SELECT cast(x_knee AS bigint) AS x_knee, y_knee,
        |  cast(dist_num AS bigint) AS dist_num
        |FROM d ORDER BY dist_num DESC, x_knee ASC LIMIT 1""".stripMargin,

    // q258: the same right-to-left doubled fold, list_transform replay
    "q258_luhn" ->
      """WITH c AS (SELECT doc_id,
        |  '4' || lpad(cast((doc_id * 2654435761) % 1000000000000000
        |    AS varchar), 15, '0') AS num FROM documents),
        |f AS (SELECT doc_id, num, reverse(num) AS r FROM c),
        |s AS (SELECT doc_id, num,
        |  list_sum(list_transform(range(1, length(r) + 1), i ->
        |    CASE WHEN i % 2 = 0 THEN
        |      CASE WHEN (ascii(substring(r, i, 1)) - 48) * 2 > 9
        |        THEN (ascii(substring(r, i, 1)) - 48) * 2 - 9
        |        ELSE (ascii(substring(r, i, 1)) - 48) * 2 END
        |      ELSE ascii(substring(r, i, 1)) - 48 END)) AS t,
        |  length(num) AS l FROM f)
        |SELECT doc_id, num, l BETWEEN 13 AND 19 AND t % 10 = 0
        |  AS luhn_valid
        |FROM s ORDER BY doc_id""".stripMargin,

    // q255: the q225 bins collapsed through the exact-bigint numerator
    "q255_ece" ->
      """WITH b AS (SELECT (doc_id * 37) % 1001 AS s,
        |  ((doc_id * 91) % 1000) < ((doc_id * 37) % 1001) AS y
        |  FROM documents),
        |g AS (SELECT least(s * 10 // 1000, 9) AS bin,
        |  cast(count(*) AS bigint) AS n,
        |  cast(sum(s) AS bigint) AS sum_score_milli,
        |  cast(sum(CASE WHEN y THEN 1 ELSE 0 END) AS bigint) AS n_pos
        |  FROM b GROUP BY 1)
        |SELECT cast(sum(n) AS bigint) AS n,
        |  cast(count(*) AS bigint) AS bins_used,
        |  cast(sum(abs(1000 * n_pos - sum_score_milli)) AS double) /
        |    cast(1000 * sum(n) AS double) AS ece
        |FROM g""".stripMargin,

    // q256: the transition matrix once, then 4 unrolled integer rounds
    "q256_stationary" -> stationaryOracleSql,

    // q253: lag window + exact abs-error sums, like-for-like row set
    "q253_forecast_eval" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_id % 30 AS a,
        |  (event_id * 7) % 30 AS p FROM events),
        |w AS (SELECT user_id, a, p,
        |  lag(a) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nv
        |  FROM e),
        |s AS (SELECT user_id, cast(count(*) AS bigint) AS n,
        |  cast(sum(abs(a - p)) AS bigint) AS sum_abs_err,
        |  cast(sum(abs(a - nv)) AS bigint) AS sum_abs_naive_err
        |  FROM w WHERE nv IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n, sum_abs_err, sum_abs_naive_err,
        |  cast(sum_abs_err AS double) / cast(n AS double) AS mae_pred,
        |  cast(sum_abs_naive_err AS double) / cast(n AS double)
        |    AS mae_naive,
        |  CASE WHEN sum_abs_naive_err > 0 THEN
        |    (cast(sum_abs_err AS double) / cast(n AS double)) /
        |    (cast(sum_abs_naive_err AS double) / cast(n AS double)) END
        |    AS mase
        |FROM s ORDER BY user_id""".stripMargin,

    // q254: list_slice prefixes, empty segments filtered, exact counts
    "q254_path_rollup" ->
      """WITH p AS (SELECT '/s' || cast(doc_id % 4 AS varchar) ||
        |  '/p' || cast(doc_id % 6 AS varchar) ||
        |  '/q' || cast(doc_id % 3 AS varchar) AS path FROM documents),
        |w AS (SELECT list_filter(string_split(path, '/'), x -> x <> '')
        |        AS segs FROM p),
        |e AS (SELECT i,
        |  '/' || array_to_string(list_slice(segs, 1, i), '/') AS prefix
        |  FROM w, unnest(range(1, len(segs) + 1)) AS t(i))
        |SELECT prefix, cast(i AS bigint) AS depth,
        |  cast(count(*) AS bigint) AS n_pages
        |FROM e GROUP BY prefix, i ORDER BY prefix""".stripMargin,

    // q251: token-count CTEs, shared-token min sums, the min/max identity
    "q251_weighted_jaccard" ->
      """WITH docs AS (SELECT doc_id AS id, text FROM documents
        |  WHERE doc_id < 150
        |  UNION ALL SELECT doc_id + 100000, 'prefixtoken ' || text
        |  FROM documents WHERE doc_id < 150),
        |w AS (SELECT id,
        |  unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS t
        |  FROM docs),
        |c AS (SELECT id, t, cast(count(*) AS bigint) AS c FROM w
        |      GROUP BY id, t),
        |tot AS (SELECT id, cast(sum(c) AS bigint) AS tot FROM c
        |        GROUP BY id),
        |sh AS (SELECT a.id AS id_a, b.id AS id_b,
        |  cast(sum(least(a.c, b.c)) AS bigint) AS min_sum
        |  FROM c a JOIN c b ON a.t = b.t AND a.id < b.id
        |  GROUP BY a.id, b.id),
        |j AS (SELECT sh.id_a, sh.id_b, sh.min_sum,
        |  cast(sh.min_sum AS double) /
        |    cast(ta.tot + tb.tot - sh.min_sum AS double)
        |    AS weighted_jaccard
        |  FROM sh JOIN tot ta ON sh.id_a = ta.id
        |  JOIN tot tb ON sh.id_b = tb.id)
        |SELECT * FROM j WHERE weighted_jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // q252: rank-sum identity, tie-order-free; two divisions
    "q252_gini" ->
      """WITH k AS (SELECT user_id AS key,
        |  cast(sum(event_id % 100) AS bigint) AS w FROM events
        |  GROUP BY user_id),
        |r AS (SELECT w, row_number() OVER (ORDER BY w, key) AS i FROM k),
        |a AS (SELECT cast(count(*) AS bigint) AS n_keys,
        |  cast(sum(w) AS bigint) AS total_weight,
        |  cast(sum(i * w) AS bigint) AS s FROM r)
        |SELECT n_keys, total_weight,
        |  CASE WHEN n_keys > 0 AND total_weight > 0 THEN
        |    cast(2 AS double) * cast(s AS double) /
        |      cast(n_keys * total_weight AS double) -
        |    cast(n_keys + 1 AS double) / cast(n_keys AS double) END
        |    AS gini
        |FROM a""".stripMargin,

    // q250: the classic 3-way rule spelled out over presence flags and
    // null-safe field comparisons (base carries every key here)
    "q250_three_way_merge" ->
      """WITH b AS (SELECT doc_id, source, n_chars FROM documents),
        |o AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END
        |    AS n_chars FROM documents WHERE doc_id % 17 <> 0),
        |t AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 7 = 0 THEN n_chars + 2000 ELSE n_chars END
        |    AS n_chars FROM documents),
        |j AS (SELECT b.doc_id AS id, b.source AS bs, b.n_chars AS bn,
        |  o.doc_id IS NOT NULL AS op, o.source AS os, o.n_chars AS onc,
        |  t.doc_id IS NOT NULL AS tp, t.source AS tsrc, t.n_chars AS tn
        |  FROM b LEFT JOIN o ON b.doc_id = o.doc_id
        |  LEFT JOIN t ON b.doc_id = t.doc_id),
        |c AS (SELECT id, op, tp, os, onc, tsrc, tn,
        |  NOT (op AND os IS NOT DISTINCT FROM bs
        |       AND onc IS NOT DISTINCT FROM bn) AS oc,
        |  NOT (tp AND tsrc IS NOT DISTINCT FROM bs
        |       AND tn IS NOT DISTINCT FROM bn) AS tc,
        |  (op = tp) AND (NOT op OR (os IS NOT DISTINCT FROM tsrc
        |       AND onc IS NOT DISTINCT FROM tn)) AS same_ot FROM j)
        |SELECT id AS doc_id,
        |  CASE WHEN NOT oc AND NOT tc THEN 'unchanged'
        |       WHEN NOT oc THEN 'theirs'
        |       WHEN NOT tc THEN 'ours'
        |       WHEN same_ot THEN 'both_same'
        |       ELSE 'conflict' END AS status,
        |  CASE WHEN NOT oc THEN (CASE WHEN tp THEN tsrc END)
        |       WHEN NOT tc THEN (CASE WHEN op THEN os END)
        |       WHEN same_ot THEN (CASE WHEN op THEN os END) END AS source,
        |  CASE WHEN NOT oc THEN (CASE WHEN tp THEN tn END)
        |       WHEN NOT tc THEN (CASE WHEN op THEN onc END)
        |       WHEN same_ot THEN (CASE WHEN op THEN onc END) END
        |    AS n_chars
        |FROM c ORDER BY doc_id""".stripMargin,

    // q249: doubled tie ranks, exact u2, one-division delta, fixed-form
    // tie-corrected z (sqrt is IEEE-exact)
    "q249_mann_whitney" ->
      """WITH s AS (SELECT lang = 'en' AS isa, n_chars AS v
        |           FROM documents WHERE lang IN ('en', 'de')),
        |r AS (SELECT isa,
        |  rank() OVER (ORDER BY v) * 2 + count(*) OVER (PARTITION BY v)
        |    - 1 AS dr FROM s),
        |a AS (SELECT
        |  cast(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS bigint) AS n_a,
        |  cast(sum(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS bigint)
        |    AS n_b,
        |  cast(sum(CASE WHEN isa THEN dr ELSE 0 END) AS bigint) AS ra2
        |  FROM r),
        |tc AS (SELECT cast(coalesce(sum(t * t * t - t), 0) AS bigint)
        |  AS tcorr FROM (SELECT count(*) AS t FROM s GROUP BY v)),
        |j AS (SELECT a.n_a, a.n_b, a.ra2 - a.n_a * (a.n_a + 1) AS u2,
        |  tc.tcorr, a.n_a + a.n_b AS n FROM a, tc),
        |v AS (SELECT *, cast(n_a * n_b AS double) / cast(12 AS double) *
        |  (cast(n + 1 AS double) -
        |   cast(tcorr AS double) / cast(n * (n - 1) AS double)) AS varu
        |  FROM j)
        |SELECT n_a, n_b, u2,
        |  cast(u2 AS double) / cast(n_a * n_b AS double) -
        |    cast(1 AS double) AS cliffs_delta,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND varu > 0 THEN
        |    (cast(u2 AS double) / cast(2 AS double) -
        |     cast(n_a * n_b AS double) / cast(2 AS double)) / sqrt(varu)
        |  END AS z
        |FROM v""".stripMargin,

    // q247: the fold replayed as a recursive CTE — refill, cap, drain
    "q247_token_bucket" ->
      """WITH RECURSIVE e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id,
        |  event_id % 150000 AS c FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ms, event_id) AS rn FROM e),
        |w(user_id, ms, event_id, c, rn, lb, acc, lvl) AS (
        |  SELECT user_id, ms, event_id, c, rn, 200000,
        |    c <= 200000,
        |    CASE WHEN c <= 200000 THEN 200000 - c ELSE 200000 END
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT x.user_id, x.ms, x.event_id, x.c, x.rn,
        |    least(200000, w.lvl + ((x.ms - w.ms) // 1000)),
        |    x.c <= least(200000, w.lvl + ((x.ms - w.ms) // 1000)),
        |    least(200000, w.lvl + ((x.ms - w.ms) // 1000)) -
        |      CASE WHEN x.c <= least(200000, w.lvl +
        |        ((x.ms - w.ms) // 1000)) THEN x.c ELSE 0 END
        |  FROM w JOIN r x ON x.user_id = w.user_id AND x.rn = w.rn + 1)
        |SELECT user_id, cast(ms AS bigint) AS ts_ms, event_id,
        |  cast(c AS bigint) AS cost, cast(lb AS bigint) AS level_before,
        |  acc AS accepted, cast(lvl AS bigint) AS level_after
        |FROM w ORDER BY user_id, event_id""".stripMargin,

    // q248: 2^8 single steps replay the 8 pointer-jumping rounds exactly
    "q248_canonical_chains" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id AS u, doc_id - 1 AS v FROM documents
        |  WHERE doc_id % 10 <> 0
        |  UNION ALL SELECT 1000000, 1000001 FROM documents WHERE doc_id = 0
        |  UNION ALL SELECT 1000001, 1000000 FROM documents WHERE doc_id = 0),
        |mm AS (SELECT u, min(v) AS v FROM m GROUP BY u),
        |r(u, v, d) AS (
        |  SELECT u, v, 1 FROM mm
        |  UNION ALL
        |  SELECT r.u, mm.v, r.d + 1 FROM r JOIN mm ON r.v = mm.u
        |  WHERE r.d < 256),
        |f AS (SELECT u, arg_max(v, d) AS canonical FROM r GROUP BY u)
        |SELECT f.u AS url, f.canonical, t.u IS NULL AS resolved
        |FROM f LEFT JOIN mm t ON f.canonical = t.u
        |ORDER BY url""".stripMargin,

    // q241: suffix-sum risk sets + the same fold product as a recursive
    // CTE (events-before-censoring at equal t is implicit in the grid)
    "q241_kaplan_meier" ->
      """WITH RECURSIVE b AS (SELECT lang, n_chars // 50 AS t,
        |  CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS e
        |  FROM documents),
        |g AS (SELECT lang, t, cast(sum(e) AS bigint) AS d,
        |  cast(sum(1 - e) AS bigint) AS c FROM b GROUP BY lang, t),
        |n AS (SELECT lang, t, d, c,
        |  sum(d + c) OVER (PARTITION BY lang ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
        |  row_number() OVER (PARTITION BY lang ORDER BY t) AS rn FROM g),
        |w AS (
        |  SELECT lang, t, d, c, n, rn,
        |    cast(n - d AS double) / cast(n AS double) AS s
        |  FROM n WHERE rn = 1
        |  UNION ALL
        |  SELECT x.lang, x.t, x.d, x.c, x.n, x.rn,
        |    w.s * (cast(x.n - x.d AS double) / cast(x.n AS double))
        |  FROM w JOIN n x ON x.lang = w.lang AND x.rn = w.rn + 1)
        |SELECT lang, t, cast(n AS bigint) AS n_at_risk, d AS n_events,
        |  c AS n_censored, s AS survival
        |FROM w ORDER BY lang, t""".stripMargin,

    // q242: exact gap moments, the fixed mu/sigma/B formula replayed
    "q242_burstiness" ->
      """WITH e AS (SELECT user_id, ts, event_id,
        |  epoch_ms(ts) // 1000 AS sec FROM events),
        |g AS (SELECT user_id, sec - lag(sec) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS g FROM e),
        |a AS (SELECT user_id, cast(count(*) AS bigint) AS n_gaps,
        |  cast(sum(g) AS bigint) AS sum_gap_s,
        |  cast(sum(g * g) AS bigint) AS sq
        |  FROM g WHERE g IS NOT NULL GROUP BY user_id),
        |s AS (SELECT user_id, n_gaps, sum_gap_s,
        |  cast(sum_gap_s AS double) / cast(n_gaps AS double) AS m,
        |  sqrt(greatest(cast(sq AS double) / cast(n_gaps AS double) -
        |    (cast(sum_gap_s AS double) / cast(n_gaps AS double)) *
        |    (cast(sum_gap_s AS double) / cast(n_gaps AS double)),
        |    cast(0 AS double))) AS sd FROM a)
        |SELECT user_id, n_gaps, sum_gap_s, m AS mean_gap_s,
        |  CASE WHEN n_gaps >= 2 THEN sd END AS std_gap_s,
        |  CASE WHEN n_gaps >= 2 AND sd + m > 0 THEN (sd - m) / (sd + m)
        |    END AS burstiness
        |FROM s ORDER BY user_id""".stripMargin,

    // q243: gap-rule sessions (floor-second deltas, the engine's rule),
    // first/last by (ts, event_id), exact count rollups
    "q243_entry_exit" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type AS pg,
        |  epoch_ms(ts) // 1000 AS sec FROM events),
        |s AS (SELECT *, CASE WHEN lag(sec) OVER w IS NULL
        |    OR sec - lag(sec) OVER w > 21600 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec)),
        |s2 AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY sec
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sid
        |    ORDER BY ts, event_id) AS rf,
        |  row_number() OVER (PARTITION BY user_id, sid
        |    ORDER BY ts DESC, event_id DESC) AS rl,
        |  count(*) OVER (PARTITION BY user_id, sid) AS n FROM s2),
        |per AS (SELECT user_id, sid,
        |  max(CASE WHEN rf = 1 THEN pg END) AS entry_page,
        |  max(CASE WHEN rl = 1 THEN pg END) AS exit_page,
        |  max(n) AS n FROM r GROUP BY user_id, sid),
        |tot AS (SELECT cast(count(*) AS bigint) AS n_sessions FROM per),
        |en AS (SELECT entry_page AS page, cast(count(*) AS bigint)
        |    AS n_entries,
        |  cast(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS bigint)
        |    AS n_bounces FROM per GROUP BY 1),
        |ex AS (SELECT exit_page AS page, cast(count(*) AS bigint)
        |    AS n_exits FROM per GROUP BY 1)
        |SELECT coalesce(en.page, ex.page) AS page,
        |  coalesce(n_entries, 0) AS n_entries,
        |  coalesce(n_exits, 0) AS n_exits,
        |  coalesce(n_bounces, 0) AS n_bounces, tot.n_sessions,
        |  cast(coalesce(n_entries, 0) AS double) /
        |    cast(tot.n_sessions AS double) AS entry_rate,
        |  cast(coalesce(n_exits, 0) AS double) /
        |    cast(tot.n_sessions AS double) AS exit_rate,
        |  CASE WHEN coalesce(n_entries, 0) > 0 THEN
        |    cast(coalesce(n_bounces, 0) AS double) /
        |      cast(n_entries AS double) END AS bounce_rate
        |FROM en FULL OUTER JOIN ex ON en.page = ex.page, tot
        |ORDER BY page""".stripMargin,

    // q234: the constructed corpus is closed-form in doc_id
    "q234_sentence_stats" ->
      """SELECT doc_id, cast(doc_id % 4 + 1 AS bigint) AS n_sentences,
        |  cast(10 * (doc_id % 4) + 9 AS bigint) AS sum_sentence_chars,
        |  cast(CASE WHEN doc_id % 4 > 0 THEN 10 ELSE 9 END AS bigint)
        |    AS max_sentence_chars,
        |  cast(10 * (doc_id % 4) + 9 AS double) /
        |    cast(doc_id % 4 + 1 AS double) AS mean_sentence_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q219: definitional set sizes + the same integer Chapman formula
    "q219_capture_recapture" ->
      """WITH a AS (SELECT DISTINCT doc_id AS id FROM documents
        |           WHERE doc_id % 3 <> 0),
        |b AS (SELECT DISTINCT doc_id AS id FROM documents
        |      WHERE doc_id % 2 = 0),
        |m AS (SELECT cast(count(*) AS bigint) AS n_overlap FROM a
        |      WHERE id IN (SELECT id FROM b))
        |SELECT (SELECT cast(count(*) AS bigint) FROM a) AS n_a,
        |  (SELECT cast(count(*) AS bigint) FROM b) AS n_b, n_overlap,
        |  ((SELECT count(*) FROM a) + 1) * ((SELECT count(*) FROM b) + 1)
        |    // (n_overlap + 1) - 1 AS chapman_estimate,
        |  CASE WHEN n_overlap > 0 THEN
        |    cast((SELECT count(*) FROM a) * (SELECT count(*) FROM b)
        |      AS double) / cast(n_overlap AS double) END AS lp_estimate
        |FROM m""".stripMargin,

    // q220: the three snapshot contents are closed-form over documents
    "q220_time_travel" ->
      """SELECT 1 AS version, cast(count(*) AS bigint) AS n,
        |  cast(sum(doc_id) AS bigint) AS sum_id
        |FROM documents WHERE doc_id < 300
        |UNION ALL
        |SELECT 2, count(*), cast(sum(doc_id) AS bigint) FROM documents
        |UNION ALL
        |SELECT 3, count(*), cast(sum(doc_id) AS bigint) FROM documents
        |WHERE doc_id < 10
        |ORDER BY version""".stripMargin,

    // q217: identical doubled-rank construction and fixed z chain
    "q217_wilcoxon" ->
      """WITH nz AS (SELECT doc_id % 7 - 3 AS dd, abs(doc_id % 7 - 3) AS ad
        |  FROM documents WHERE doc_id % 7 - 3 <> 0),
        |r AS (SELECT dd, cast(rank() OVER (ORDER BY ad) * 2 +
        |      count(*) OVER (PARTITION BY ad) - 1 AS bigint) AS r2 FROM nz),
        |a AS (SELECT cast(count(*) AS bigint) AS n,
        |      cast(sum(CASE WHEN dd > 0 THEN r2 ELSE 0 END) AS bigint)
        |        AS w_plus2 FROM r),
        |tc AS (SELECT cast(coalesce(sum(t * t * t - t), 0) AS bigint) AS c
        |       FROM (SELECT count(*) AS t FROM nz GROUP BY ad)),
        |v AS (SELECT n, w_plus2,
        |      cast(n * (n + 1) * (n * 2 + 1) * 2 - c AS double) / 12.0
        |        AS var2 FROM a, tc)
        |SELECT n, w_plus2,
        |  CASE WHEN var2 > 0 THEN
        |    cast(w_plus2 - (n * (n + 1)) // 2 AS double) / sqrt(var2) END AS z
        |FROM v""".stripMargin,

    // q218: the q189 island rule at day granularity with maxGap 1
    "q218_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id AS entity,
        |  epoch_ms(ts) // 86400000 AS d FROM events),
        |w AS (SELECT entity, d, max(d) OVER (PARTITION BY entity ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM days),
        |f AS (SELECT entity, d,
        |      CASE WHEN pm IS NULL OR d > pm + 1 THEN 1 ELSE 0 END AS o
        |      FROM w),
        |g AS (SELECT entity, d, sum(o) OVER (PARTITION BY entity ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |      FROM f),
        |runs AS (SELECT entity, isl, min(d) AS lo, max(d) AS hi,
        |         count(*) AS nm FROM g GROUP BY 1, 2)
        |SELECT entity, cast(sum(nm) AS bigint) AS n_active_days,
        |  cast(count(*) AS bigint) AS n_streaks,
        |  cast(max(hi - lo + 1) AS bigint) AS longest_streak
        |FROM runs GROUP BY entity ORDER BY entity""".stripMargin,

    // q216: closed-form header fields; mp3 byte_len includes the id3 tag,
    // the duration estimate does not
    "q216_audio_meta" ->
      """SELECT * FROM (VALUES
        |  (cast(1 AS bigint), cast(42 AS bigint), cast(2 AS bigint),
        |   cast(1000 AS bigint), true),
        |  (2, 42, 1, 2500, true),
        |  (3, 16000, 2, 1000, true),
        |  (4, 8510, 1, 1000, true),
        |  (5, 42, 0, 0, false))
        |AS t(media_id, byte_len, channels, duration_ms, ok)
        |ORDER BY media_id""".stripMargin,

    // q215: the constructed metadata is closed-form; title whitespace
    // collapses to one space
    "q215_html_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE 'Doc ' || cast(doc_id AS varchar) END AS title,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE lang || ' sample' END AS meta_description,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE 'https://ex.org/d/' || cast(doc_id AS varchar) END
        |    AS canonical_url
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q213_resample" ->
      """WITH s AS (SELECT user_id, epoch_ms(ts) AS ms, event_id % 10 AS v
        |           FROM events),
        |b AS (SELECT user_id, min(ms) AS lo, max(ms) AS hi FROM s GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(
        |        lo + 86399999 - (lo + 86399999) % 86400000,
        |        hi + 1, 86400000)) AS grid_ms
        |      FROM b
        |      WHERE lo + 86399999 - (lo + 86399999) % 86400000 <= hi)
        |SELECT g.user_id, g.grid_ms,
        |  (SELECT s.v FROM s WHERE s.user_id = g.user_id
        |   AND s.ms <= g.grid_ms ORDER BY s.ms DESC, s.v DESC LIMIT 1)
        |    AS value
        |FROM g ORDER BY user_id, grid_ms""".stripMargin)

  /** q202's oracle, generated per (name, sql-expression) feature. */
  private def giniOracleSql(features: Seq[(String, String)],
                            qs: Seq[Double]): String = {
    val blocks = features.zipWithIndex.map { case ((name, fexpr), i) =>
      val thrUnion = qs.map(q =>
        s"SELECT cast($q AS double) AS q, quantile_disc(v, $q) AS thr FROM f${i}src")
        .mkString("\n        UNION ALL ")
      s"""f${i}src AS (SELECT $fexpr AS v, lang AS y FROM documents),
        |f${i}thr AS ($thrUnion),
        |f${i}sided AS (SELECT t.q, t.thr,
        |  CASE WHEN s.v <= t.thr THEN 'L' ELSE 'R' END AS side, s.y,
        |  count(*) AS n FROM f${i}src s, f${i}thr t GROUP BY 1, 2, 3, 4),
        |f${i}bs AS (SELECT q, thr, side, cast(sum(n) AS HUGEINT) AS ns,
        |  sum(cast(n AS HUGEINT) * cast(n AS HUGEINT)) AS sq
        |  FROM f${i}sided GROUP BY 1, 2, 3),
        |f${i}g AS (SELECT q, thr,
        |  coalesce(sum(CASE WHEN side = 'L' THEN ns END), 0) AS n_left,
        |  coalesce(sum(CASE WHEN side = 'R' THEN ns END), 0) AS n_right,
        |  coalesce(sum(CASE WHEN side = 'L' THEN ns * ns - sq END), 0) AS gl,
        |  coalesce(sum(CASE WHEN side = 'R' THEN ns * ns - sq END), 0) AS gr
        |  FROM f${i}bs GROUP BY 1, 2)""".stripMargin
    }
    val selects = features.zipWithIndex.map { case ((name, _), i) =>
      s"""SELECT '$name' AS feature, q, cast(thr AS bigint) AS threshold,
        |  cast(n_left AS bigint) AS n_left, cast(n_right AS bigint) AS n_right,
        |  ((CASE WHEN n_left > 0
        |      THEN cast(gl AS double) / cast(n_left AS double) ELSE 0.0 END) +
        |   (CASE WHEN n_right > 0
        |      THEN cast(gr AS double) / cast(n_right AS double) ELSE 0.0 END))
        |   / cast(n_left + n_right AS double) AS weighted_gini
        |FROM f${i}g""".stripMargin
    }
    "WITH " + blocks.mkString(",\n") + "\n" +
      selects.mkString("\nUNION ALL\n") + "\nORDER BY feature, q"
  }

  /** q185's unrolled-peel oracle: round i keeps nodes whose degree in the
    * round-(i-1) subgraph is >= k — byte-for-byte the [[graft.ops.Graph.kCore]]
    * peel, repeated `rounds` times (extra rounds past fixpoint are
    * identity, so depth only needs to be >= the engine's cap).
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    // MATERIALIZED: inlined CTEs would expand the peel chain
    // exponentially (each round reads its predecessor three times)
    sb ++= """WITH e AS MATERIALIZED (
      |  SELECT doc_id % 60 AS s, (doc_id * 7 + 1) % 60 AS d FROM documents
      |  UNION ALL SELECT doc_id % 60, (doc_id * 3 + 2) % 60 FROM documents
      |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 1) % 24 FROM documents
      |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 2) % 24 FROM documents
      |  UNION ALL SELECT doc_id % 24, (doc_id % 24 + 3) % 24 FROM documents),
      |s0 AS MATERIALIZED (SELECT least(s, d) AS a, greatest(s, d) AS b
      |       FROM e WHERE s <> d GROUP BY 1, 2),
      |m0 AS MATERIALIZED (SELECT a, b FROM s0 UNION ALL SELECT b, a FROM s0)""".stripMargin
    for (i <- 1 to rounds) sb ++= s""",
      |n$i AS MATERIALIZED (SELECT a AS node FROM m${i - 1} GROUP BY a
      |        HAVING count(*) >= $k),
      |m$i AS MATERIALIZED (SELECT m.a, m.b FROM m${i - 1} m
      |        JOIN n$i x ON m.a = x.node JOIN n$i y ON m.b = y.node)""".stripMargin
    sb ++= s"""
      |SELECT a AS node, cast(count(*) AS bigint) AS core_degree
      |FROM m$rounds GROUP BY 1 ORDER BY 1""".stripMargin
    sb.toString
  }

  /** [[predLang]] as the equivalent DuckDB projection (q182/q183). */
  private val predLangSql: String =
    """SELECT lang AS y,
      |  CASE WHEN doc_id % 7 = 0 THEN 'xx'
      |       WHEN doc_id % 11 = 0 THEN 'en'
      |       ELSE lang END AS p FROM documents""".stripMargin

  /** The q84/q85 page corpus as a DuckDB CTE (must rebuild [[q84Pages]]
    * byte-identically).
    */
  private val q84PagesCte: String =
    """pages AS (SELECT doc_id,
      |  'https://site' || cast(doc_id % 13 AS varchar) || '.org/p/' || cast(doc_id AS varchar) AS url,
      |  '<p><a href="https://ref' || cast((doc_id + 1) % 13 AS varchar) || '.org/a/' || cast(doc_id AS varchar) ||
      |  '">Ref Article ' || cast(doc_id AS varchar) || '</a>' ||
      |  '<a href="/local/' || cast(doc_id AS varchar) || '" class="x">local ' || cast(doc_id AS varchar) || '</a>' ||
      |  '<a href="#frag">frag</a>' ||
      |  '<a href="https://skip.org/"><b>bold</b></a>' ||
      |  '<a href="https://site' || cast(doc_id % 13 AS varchar) || '.org/self">self</a></p>' AS html
      |  FROM documents)""".stripMargin

  /** [[graft.ops.Curation.AnchorRe]] escaped for a DuckDB string literal. */
  private val AnchorReSql: String =
    graft.ops.Curation.AnchorRe.replace("'", "''")

  /** q17 oracle: the md5-token SimHash recomputed in pure SQL — 64 per-bit
    * sign sums over unnested tokens, the signature assembled as a 64-char
    * bit string (bit j at position j; a ubigint shift overflows at bit 63),
    * then exact all-pairs string-hamming <= 3. Generated (64 sums) rather
    * than hand-written. Kernel/SQL signature identity is asserted in
    * TextAnalysisSpec.
    */
  private def simhashOracleSql: String = {
    val sums = (0 until 64)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val bits = (0 until 64)
      .map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""WITH docs AS (
       |  SELECT doc_id AS id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, text || ' suffixtoken' FROM documents),
       |tok AS (SELECT id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS t FROM docs),
       |th AS (SELECT id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok),
       |agg AS (SELECT id, $sums FROM th GROUP BY id),
       |sh AS (SELECT id, ($bits) AS sim FROM agg)
       |SELECT a.id AS id_a, b.id AS id_b,
       |cast(hamming(a.sim, b.sim) AS bigint) AS hamming
       |FROM sh a JOIN sh b ON a.id < b.id
       |WHERE hamming(a.sim, b.sim) <= 3 ORDER BY 1, 2""".stripMargin
  }

  /** q71 oracle: the same generated 64-sum md5 SimHash as [[simhashOracleSql]]
    * over the two-snapshots-per-doc crawl table, then a lag window per url —
    * string-hamming(sim, prev) is positionally identical to the engine's
    * bit_count(sim XOR prev) because both count per-bit sign disagreements.
    */
  private def revisitDiffOracleSql: String = {
    val sums = (0 until 64)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val bits = (0 until 64)
      .map(j => s"CASE WHEN s$j > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""WITH snaps AS (
       |  SELECT doc_id * 2 AS snap_id, doc_id % 100 AS url_key, text FROM documents
       |  UNION ALL SELECT doc_id * 2 + 1, doc_id % 100,
       |    CASE WHEN doc_id % 2 = 0 THEN text ELSE text || ' minoredit' END FROM documents),
       |tok AS (SELECT snap_id, unnest(regexp_extract_all(lower(text), '[a-z0-9_'']+')) AS t FROM snaps),
       |th AS (SELECT snap_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h FROM tok),
       |agg AS (SELECT snap_id, $sums FROM th GROUP BY snap_id),
       |sh AS (SELECT snap_id, ($bits) AS sim FROM agg),
       |j AS (SELECT s.url_key, s.snap_id, sh.sim FROM snaps s JOIN sh USING (snap_id)),
       |l AS (SELECT url_key, snap_id, sim,
       |  lag(sim) OVER (PARTITION BY url_key ORDER BY snap_id) AS prev FROM j)
       |SELECT url_key, snap_id,
       |  CASE WHEN prev IS NULL THEN NULL ELSE cast(hamming(sim, prev) AS bigint) END AS hamming,
       |  CASE WHEN prev IS NULL THEN NULL ELSE hamming(sim, prev) > 3 END AS changed
       |FROM l ORDER BY 1, 2""".stripMargin
  }

  /** q74 oracle: the same four exact-integer PageRank iterations UNROLLED
    * as CTEs (r1..r4). Every intermediate is cast back to BIGINT (DuckDB
    * widens sum() to int128) so each step's truncating division matches the
    * engine's int64 `div` exactly; all values are non-negative, so DuckDB's
    * floor `//` and Spark's truncating `div` agree.
    */
  /** q173's oracle, generated pair-by-pair: one moments CTE (count, per-
    * column sums, upper-triangle product sums — all exact bigints over the
    * per-user count features), then one SELECT per (i <= j) pair computing
    * r with the engine's exact double-op order.
    */
  private def corrMatrixOracleSql: String = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val cols = types.map("n_" + _)
    val caseCols = types.map(tp =>
      s"cast(sum(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END) AS bigint) AS n_$tp")
      .mkString(", ")
    val moments = (cols.map(c => s"cast(sum($c) AS bigint) AS s_$c") ++
      (for { i <- cols.indices; j <- i until cols.size }
        yield s"cast(sum(${cols(i)} * ${cols(j)}) AS bigint) AS p_${i}_$j"))
      .mkString(", ")
    val pairSelects = (for { i <- cols.indices; j <- i until cols.size } yield {
      val (a, b) = (cols(i), cols(j))
      val num = s"(n * p_${i}_$j - s_$a * s_$b)"
      val vi = s"(n * p_${i}_$i - s_$a * s_$a)"
      val vj = s"(n * p_${j}_$j - s_$b * s_$b)"
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
         |  CASE WHEN $vi > 0 AND $vj > 0 THEN
         |    cast($num AS double) /
         |    (sqrt(cast($vi AS double)) * sqrt(cast($vj AS double)))
         |  END AS r FROM s""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH u AS (SELECT user_id, $caseCols FROM events GROUP BY 1),
       |s AS (SELECT count(*) AS n, $moments FROM u)
       |$pairSelects
       |ORDER BY col_a, col_b""".stripMargin
  }

  private def pageRankOracleSql: String = {
    val iters = (1 to 4).map { k =>
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""c$k AS (SELECT e.dst AS node, sum(r.rank_int // o.outdeg) AS s
         |  FROM edges e JOIN $prev r ON e.src = r.node JOIN od o ON e.src = o.node
         |  GROUP BY e.dst),
         |r$k AS (SELECT n.node,
         |  cast(150000000 + (85 * coalesce(c.s, 0)) // 100 AS bigint) AS rank_int
         |  FROM nodes n LEFT JOIN c$k c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
       |  UNION
       |  SELECT doc_id % 50, (doc_id * 3 + 2) % 50 FROM documents),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |od AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |r0 AS (SELECT node, cast(1000000000 AS bigint) AS rank_int FROM nodes),
       |$iters
       |SELECT node, rank_int FROM r4 ORDER BY node""".stripMargin
  }

  /** q240's oracle: [[pageRankOracleSql]]'s recipe with the restart term
    * gated on the seed set {0,1,2} — rank starts at Scale on seeds / 0
    * elsewhere, and only seeds receive the 150000000 base each round.
    */
  private def pprOracleSql: String = {
    val iters = (1 to 4).map { k =>
      val prev = if (k == 1) "r0" else s"r${k - 1}"
      s"""c$k AS (SELECT e.dst AS node, sum(r.rank_int // o.outdeg) AS s
         |  FROM edges e JOIN $prev r ON e.src = r.node JOIN od o ON e.src = o.node
         |  GROUP BY e.dst),
         |r$k AS (SELECT n.node,
         |  cast(CASE WHEN n.node IN (0, 1, 2) THEN 150000000 ELSE 0 END +
         |    (85 * coalesce(c.s, 0)) // 100 AS bigint) AS rank_int
         |  FROM nodes n LEFT JOIN c$k c USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
       |  UNION
       |  SELECT doc_id % 50, (doc_id * 3 + 2) % 50 FROM documents),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |od AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
       |r0 AS (SELECT node,
       |  cast(CASE WHEN node IN (0, 1, 2) THEN 1000000000 ELSE 0 END
       |    AS bigint) AS rank_int FROM nodes),
       |$iters
       |SELECT node, rank_int FROM r4 ORDER BY node""".stripMargin
  }

  /** q256's oracle: Behavior.stationaryDistribution's 4 integer power-
    * iteration rounds unrolled — (π·n) div tot moved per edge, sink
    * states keep their mass.
    */
  private def stationaryOracleSql: String = {
    val iters = (1 to 4).map { k =>
      val prev = s"p${k - 1}"
      s"""mv$k AS (SELECT m.to_type AS state,
         |  sum(p.pi_int * m.n // t._tot) AS s
         |  FROM m JOIN $prev p ON m.from_type = p.state
         |  JOIN tots t ON m.from_type = t.from_type
         |  GROUP BY m.to_type),
         |p$k AS (SELECT st.state,
         |  cast(coalesce(mv.s, 0) +
         |    CASE WHEN st.state IN (SELECT from_type FROM tots) THEN 0
         |         ELSE pv.pi_int END AS bigint) AS pi_int
         |  FROM states st LEFT JOIN mv$k mv USING (state)
         |  JOIN $prev pv USING (state))""".stripMargin
    }.mkString(",\n")
    s"""WITH lagd AS (SELECT user_id,
       |  lag(event_type) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS ft,
       |  event_type AS tt FROM events),
       |m AS (SELECT ft AS from_type, tt AS to_type,
       |  cast(count(*) AS bigint) AS n FROM lagd
       |  WHERE ft IS NOT NULL GROUP BY ft, tt),
       |tots AS (SELECT from_type, cast(sum(n) AS bigint) AS _tot FROM m
       |         GROUP BY from_type),
       |states AS (SELECT from_type AS state FROM m
       |           UNION SELECT to_type FROM m),
       |p0 AS (SELECT state, cast(1000000 AS bigint) AS pi_int
       |       FROM states),
       |$iters
       |SELECT state, pi_int FROM p4 ORDER BY state""".stripMargin
  }

  /** q141's oracle: Graph.hitsInt's 3 synchronous iterations unrolled as
    * CTEs — auth from previous hubs, then hubs from the fresh auths, each
    * side max-rescaled to 1e6 with integer division, exactly the engine's
    * arithmetic.
    */
  private def hitsOracleSql: String = {
    val iters = (1 to 3).map { k =>
      val prevH = if (k == 1) "h0" else s"h${k - 1}"
      s"""ar$k AS (SELECT e.dst AS node, sum(h.hub) AS s
         |  FROM edges e JOIN $prevH h ON e.src = h.node GROUP BY e.dst),
         |am$k AS (SELECT greatest(max(s), 1) AS m FROM ar$k),
         |a$k AS (SELECT n.node,
         |  (1000000 * coalesce(r.s, 0)) // (SELECT m FROM am$k) AS auth
         |  FROM nodes n LEFT JOIN ar$k r USING (node)),
         |hr$k AS (SELECT e.src AS node, sum(a.auth) AS s
         |  FROM edges e JOIN a$k a ON e.dst = a.node GROUP BY e.src),
         |hm$k AS (SELECT greatest(max(s), 1) AS m FROM hr$k),
         |h$k AS (SELECT n.node,
         |  (1000000 * coalesce(r.s, 0)) // (SELECT m FROM hm$k) AS hub
         |  FROM nodes n LEFT JOIN hr$k r USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT doc_id % 50 AS src, (doc_id * 7 + 1) % 50 AS dst FROM documents
       |  UNION
       |  SELECT doc_id % 50, (doc_id * 3 + 2) % 50 FROM documents),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT node, cast(1000000 AS bigint) AS hub FROM nodes),
       |$iters
       |SELECT h3.node, cast(h3.hub AS bigint) AS hub_int,
       |  cast(a3.auth AS bigint) AS auth_int
       |FROM h3 JOIN a3 USING (node) ORDER BY h3.node""".stripMargin
  }
}
