package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Term-relevance features over the document corpus — the retrieval-style
  * signals (salient terms per document) a training-data pipeline uses for
  * topic tagging, near-dup triage and retrieval-augmented sampling.
  *
  * Scoring is EXACT-INTEGER in the same spirit as [[Graph.pageRankInt]]:
  * the inverse-document-frequency weight is the fixed-point rational
  * `(scale * N) div df` rather than a float `ln(N/df)` — every operation is
  * integer multiply / integer divide, so the score is independent of
  * partitioning, fold order, and engine, and an external SQL oracle
  * reproduces it bit-for-bit. (A float idf curve costs nothing more at
  * runtime but makes cross-engine verification impossible: `ln` is not
  * required to be correctly rounded, and 1-ulp disagreements between
  * libm implementations would poison every downstream hash comparison.
  * The linear idf preserves the ranking property that matters — rarer
  * terms weigh more — with a steeper curve than log; callers that want
  * the log curve apply it to the emitted (tf, df, n_docs) integers.)
  */
object Relevance {

  /** Fixed-point idf scale. With score = tf * ((scale * nDocs) div df), the
    * caller must keep scale * nDocs * max(tf) within int64; at web scale
    * (nDocs ~ 1e12) pass scale = 1.
    */
  val Scale: Long = 1000000L

  /** The corpus's word tokenizer: the lowercased `[a-z0-9_']+` runs of
    * `text`, as array<string>. Every Column-form word split in `graft.ops`
    * calls this; SQL texts (lambda bodies, oracles) spell the same regex.
    */
  private[ops] def words(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9_']+"), lit(0))

  /** The non-empty whitespace-separated tokens of `text` (split on `\s+`,
    * the Gopher-rule convention), as array<string>. Every Column-form
    * whitespace split in `graft.ops` whose tokens must be non-empty calls
    * this.
    */
  private[ops] def spaceTokens(text: Column): Column =
    filter(split(text, "\\s+"), w => w =!= "")

  /** Top-`k` salient terms per document by exact-integer tf-idf.
    *
    * Tokens are the corpus's shared grammar ([[words]]: lowercased
    * `[a-z0-9_']+` runs — the same tokenizer the simhash/minhash/oov
    * family uses, so "term" means the same thing across every operator).
    * For each (document, term): tf = occurrences in the document, df =
    * number of documents containing the term, n_docs = rows in `df`, and
    *
    *   score_int = tf * ((scale * n_docs) div df)
    *
    * Output: (idCol, term, tf, df, score_int, rank) for rank 1..k, ranked
    * by (score_int desc, term asc) — the tie-break makes the cut
    * deterministic. Documents with no tokens emit no rows.
    *
    * Scale shape: tf is one map-side-combined aggregate over the slim
    * (id, term) token stream (text never shuffles); df re-aggregates the
    * tf table by term (term-type-bounded, far smaller than the corpus);
    * the tf->df equi-join shuffles only (term, count) pairs; the top-k
    * window partitions by document and sorts each document's DISTINCT
    * terms only. No stage touches the payload after tokenization.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int,
                scale: Long = Scale): DataFrame = {
    require(k > 0, "k must be positive")
    require(scale > 0, "scale must be positive")
    val toks = df.select(col(idCol),
      explode(words(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_int").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score_int", expr(s"tf * ((${scale}L * n_docs) div df)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score_int"), col("rank"))
  }

  /** Document-level term co-occurrence with an exact-integer lift score —
    * the PMI-style association signal (topic structure, collocations,
    * template detection) restricted to the corpus's own top-`vocabSize`
    * vocabulary so the pair space is bounded by construction.
    *
    * For vocabulary terms x < y (bytewise): n_x = documents containing x,
    * n_ab = documents containing both, N = rows in `df`, and
    *
    *   lift_int = (scale * N * n_ab) div (n_a * n_b)
    *
    * — the PMI argument P(x,y)/(P(x)P(y)) as one fixed-point integer
    * division (lift_int > scale means positively associated); callers
    * wanting log-PMI apply it to the emitted integers. Pairs below
    * `minPairCount` are dropped.
    *
    * Output: (term_a, term_b, n_a, n_b, n_ab, lift_int).
    *
    * Scale shape: the token stream reduces to DISTINCT (id, vocab-term)
    * pairs (<= V per document) against a BROADCAST vocabulary; the pair
    * count is a self-join on the document id — per-document fan-out is
    * bounded by V^2 and the output by the vocabulary, not the corpus.
    * Marginals reuse the same distinct stream. Overflow: keep
    * scale * N * max(n_ab) within int64 (at web scale lower `scale`,
    * exactly as [[tfidfTopK]] documents).
    */
  def cooccurrence(df: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int, minPairCount: Long = 1L,
                   scale: Long = Scale): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    require(scale > 0, "scale must be positive")
    val toks = df.select(col(idCol),
      explode(words(col(textCol))).as("term"))
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"))
    val dt = toks.join(broadcast(vocab), Seq("term")).distinct()
    val marg = dt.groupBy(col("term")).agg(count(lit(1)).as("n_t"))
    val pairs = dt.as("a")
      .join(dt.as("b"),
        col(s"a.$idCol") === col(s"b.$idCol") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairCount)
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    pairs
      .join(broadcast(marg.select(col("term").as("term_a"), col("n_t").as("n_a"))),
        Seq("term_a"))
      .join(broadcast(marg.select(col("term").as("term_b"), col("n_t").as("n_b"))),
        Seq("term_b"))
      .crossJoin(broadcast(nDocs))
      .withColumn("lift_int", expr(s"(${scale}L * n_docs * n_ab) div (n_a * n_b)"))
      .select(col("term_a"), col("term_b"), col("n_a"), col("n_b"),
        col("n_ab"), col("lift_int"))
  }

  /** Blocked postings-list export — the search-index sink (retrieval over
    * the curated corpus, RAG serving, contamination lookups): one row per
    * (term, doc-range block) with the block's postings DELTA-ENCODED as
    * array<struct<gap, tf>> in doc-id order (first gap is relative to the
    * block base, so every gap is small and compresses like a real index's
    * varint stream). `df_block` / `cf_block` ride along; global df/cf are
    * one slim groupBy(term) over the block rows.
    *
    * Blocking is what makes this a 100-TB operator: a flat
    * collect_list-per-term dies on stopwords (a corpus-frequency term's
    * postings row would be corpus-sized); with `blockSpan` bounding the
    * doc-id range per row, per-row memory is <= blockSpan entries no
    * matter how hot the term, hot terms fan out across blocks instead of
    * concentrating in one reducer, and readers prune by (term, block)
    * range exactly like Lucene block postings. Shape: token explode ->
    * ONE (term, id) count aggregate (map-side combine) -> ONE
    * (term, block) aggregate whose collect_list is blockSpan-bounded;
    * delta encoding is a row-local array HOF.
    */
  /** Hashing-trick sparse feature export (Weinberger et al. 2009): each
    * document becomes (id, bucket, value) rows with bucket =
    * 32-bit-md5(term) mod `dim` and value = the signed occurrence sum —
    * the sign (parity of the 9th md5 hex digit) makes colliding terms
    * cancel in expectation instead of inflating each other, the property
    * that lets linear models train on a FIXED dim regardless of vocabulary
    * size (no vocab table to build, broadcast, or keep consistent across
    * corpus versions — the feature space never changes when the corpus
    * does).
    *
    * Scale shape: token explode -> ONE (id, bucket) aggregate with
    * map-side combine; the payload never shuffles and output is bounded by
    * min(doc terms, dim) rows per document. Every operation is md5 +
    * integer arithmetic, so an external SQL engine replays it exactly.
    */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String, dim: Int,
                     signed: Boolean = true): DataFrame = {
    require(dim > 0, "dim must be positive")
    val toks = df.select(col(idCol),
      explode(words(col(textCol))).as("term"))
    val h = md5(col("term").cast("binary"))
    val bucket = pmod(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(dim.toLong))
    val sign =
      if (signed)
        when(conv(substring(h, 9, 1), 16, 10).cast("long") % 2 === 0, lit(1L))
          .otherwise(lit(-1L))
      else lit(1L)
    toks.select(col(idCol), bucket.as("bucket"), sign.as("_hf_sign"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("_hf_sign")).as("value"))
  }

  /** Top-`k` terms per document by EXACT-INTEGER BM25 (Robertson/Spärck
    * Jones): the tf-saturation and length-normalization structure is
    * computed exactly as one fixed-point rational; only the idf LOG is
    * left to callers (the same deviation [[tfidfTopK]] documents — `ln`
    * is not correctly-rounded across libms, so the emitted idf_fp keeps
    * the exact BM25 idf ARGUMENT (2N-2df+1)/(2df+1), i.e.
    * (N-df+0.5)/(df+0.5) doubled through).
    *
    * With k1 = k1Milli/1000, b = bMilli/1000, avgdl = T/N (T = total
    * corpus tokens, N = corpus docs), the classic
    *
    *   tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    *
    * multiplied through by 10^6*T becomes the integer ratio
    *
    *   num = tf * (1000+k1Milli) * 1000 * T
    *   den = tf * 10^6 * T + k1Milli*(1000-bMilli)*T + k1Milli*bMilli*dl*N
    *
    * and score_fp = (idf_fp * num) div den, all in decimal(38,0) — at
    * N ~ 10^12, T ~ 10^14 the largest product is ~10^33, inside 38 digits.
    *
    * Output: (idCol, term, tf, dl, df, score_fp, rank), rank 1..k by
    * (score_fp desc, term asc). Scale shape: tf is the one
    * map-side-combined aggregate over the slim token stream; dl and df
    * both derive FROM the tf table; N and T ride a broadcast 1-row
    * aggregate; the top-k window partitions by document over its distinct
    * terms only.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String, k: Int,
               k1Milli: Long = 1200L, bMilli: Long = 750L,
               scale: Long = Scale): DataFrame = {
    require(k > 0, "k must be positive")
    val scored = bm25TermScores(df, idCol, textCol, k1Milli, bMilli, scale)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_fp").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("dl"), col("df"),
        col("score_fp").cast("long").as("score_fp"),
        col("rank").cast("long").as("rank"))
  }

  /** The exact-integer per-(document, term) BM25 table [[bm25TopK]] ranks —
    * shared with [[bm25QueryScores]] so both read the identical score. */
  private def bm25TermScores(df: DataFrame, idCol: String, textCol: String,
                             k1Milli: Long, bMilli: Long,
                             scale: Long): DataFrame = {
    val toks = df.select(col(idCol),
      explode(words(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val totals = df.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("t_tokens")))
    val d38 = "decimal(38,0)"
    val scored = tf.join(dl, Seq(idCol)).join(dfreq, Seq("term"))
      .crossJoin(broadcast(totals))
      .withColumn("idf_fp", expr(
        s"(cast($scale AS $d38) * cast(2*n_docs - 2*df + 1 AS $d38)) div cast(2*df + 1 AS $d38)"))
      .withColumn("score_fp", expr(
        s"""(cast(idf_fp AS $d38)
           |  * cast(tf AS $d38) * cast(${1000L + k1Milli} AS $d38)
           |  * cast(1000 AS $d38) * cast(t_tokens AS $d38))
           |div
           |(cast(tf AS $d38) * cast(1000000 AS $d38) * cast(t_tokens AS $d38)
           |  + cast(${k1Milli * (1000L - bMilli)} AS $d38) * cast(t_tokens AS $d38)
           |  + cast(${k1Milli * bMilli} AS $d38) * cast(dl AS $d38) * cast(n_docs AS $d38))"""
          .stripMargin))
    scored
  }

  /** Per-document BM25 retrieval scores for a bag of query terms: the sum
    * over matching terms of the same exact-integer per-(doc, term) score
    * [[bm25TopK]] ranks (identical df/dl/avgdl statistics — they come from
    * the one shared corpus pass). Documents containing NO query term emit
    * no row, i.e. the output is the match set a retriever returns, not the
    * corpus.
    *
    * Scale shape: the query-term filter is a literal `isin` pushed against
    * the slim (doc, term) score table, so the output is bounded by
    * |matching docs| x |query terms| long before any ranking happens.
    */
  def bm25QueryScores(df: DataFrame, idCol: String, textCol: String,
                      queryTerms: Seq[String],
                      k1Milli: Long = 1200L, bMilli: Long = 750L,
                      scale: Long = Scale): DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    bm25TermScores(df, idCol, textCol, k1Milli, bMilli, scale)
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol))
      .agg(sum(col("score_fp")).cast("long").as("score_fp"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of per-query candidate
    * rankings — the standard glue of hybrid retrieval (BM25 list + ANN
    * list -> one list). Exact-integer: each list contributes
    * `scale div (kRrf + rank)` and a document absent from a list simply
    * contributes nothing (the published semantics), so the fused score is
    * engine-independent.
    *
    * Each input carries (queryCol, idCol, rankCol); output is
    * (queryCol, idCol, n_lists, rrf_fp, rank) ranked per query by
    * (rrf_fp desc, id asc).
    *
    * Scale shape: inputs are CANDIDATE lists (bounded per query by each
    * retriever's k, never corpus-sized); fusion is one union + one
    * (query, id) aggregate with map-side combine + a per-query window over
    * at most sum-of-k candidates.
    */
  def rrfFuse(rankings: Seq[DataFrame], queryCol: String, idCol: String,
              rankCol: String, kRrf: Long = 60L,
              scale: Long = 1000000000L): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contribs = rankings.map { r =>
      r.select(col(queryCol), col(idCol),
        expr(s"cast($scale AS bigint) div (cast($kRrf AS bigint) + cast($rankCol AS bigint))")
          .as("_rrf_c"))
    }.reduce(_ unionByName _)
    val fused = contribs.groupBy(col(queryCol), col(idCol))
      .agg(count(lit(1)).as("n_lists"), sum(col("_rrf_c")).as("rrf_fp"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_fp").desc, col(idCol).asc)
    fused.withColumn("rank", row_number().over(w).cast("long"))
  }

  def postingsBlocks(df: DataFrame, idCol: String, textCol: String,
                     blockSpan: Long = 1L << 20): DataFrame = {
    require(blockSpan > 0, "blockSpan must be positive")
    val toks = df.select(col(idCol).cast("long").as("_pb_id"),
      explode(words(col(textCol))).as("term"))
    val tf = toks.groupBy(col("term"), col("_pb_id"))
      .agg(count(lit(1)).as("_pb_tf"))
    tf.withColumn("block", floor(col("_pb_id") / blockSpan).cast("long"))
      .groupBy(col("term"), col("block"))
      .agg(sort_array(collect_list(struct(col("_pb_id"), col("_pb_tf"))))
          .as("_pb_list"),
        count(lit(1)).as("df_block"),
        sum(col("_pb_tf")).as("cf_block"))
      .withColumn("postings", expr(
        s"""transform(_pb_list, (x, i) -> struct(
           |  x._pb_id - (CASE WHEN i = 0 THEN block * ${blockSpan}L
           |                   ELSE element_at(_pb_list, i)._pb_id END) AS gap,
           |  x._pb_tf AS tf))""".stripMargin))
      .select(col("term"), col("block"), col("df_block"), col("cf_block"),
        col("postings"))
  }

  /** Per-query ranking-quality metrics over a run table (query, rank,
    * rel) — the IR evaluation companion to [[bm25TopK]] and the AUC in
    * `Stats.binaryEval`. Two tiers of reproducibility, deliberately:
    *
    *  - EXACT cross-engine metrics (libm-free — nothing but IEEE
    *    division/addition on dyadic rationals, so ANY engine replays
    *    them bit-for-bit): `rbp` — rank-biased precision (Moffat &
    *    Zobel) with persistence p = 1/2, terms rel_i / 2^(i-1) exact
    *    dyadic, scaled by (1-p) = 0.5 (a power-of-two multiply);
    *    `rr` = 1/(first rank with rel > 0); `p_at_k` = |rel>0| / k.
    *  - ENGINE-deterministic metrics: `dcg`/`idcg`/`ndcg` with the
    *    natural-log discount rel/ln(i+1). Spark 4 routes ln through
    *    StrictMath.log, which disagrees with C libm by 1 ulp on some
    *    inputs (ln(3) among them) — so these columns are deterministic
    *    and test-replayable inside the JVM (the spec checks them against
    *    StrictMath) but are NOT exposed through the driver oracle.
    *    (nDCG itself is log-base-invariant, so the ln choice is purely
    *    cosmetic.)
    *
    * All folds run LEFT-TO-RIGHT over position order — DCG over
    * rank-sorted terms, IDCG over relevance-desc-sorted terms — never an
    * order-free float sum. rr/ndcg are NULL for a query with no relevant
    * document in its top-k (idcg = 0).
    *
    * Ranks must be 1-based and unique per query (they come from the
    * upstream ranker's row_number); k <= 53 so 2^(rank-1) stays an exact
    * long/double. Scale shape: one groupBy(query) collecting at most k
    * (rank, rel) pairs per query — the collected array is CURVE-DEPTH-
    * bounded, not corpus-bounded; all folds are row-local array HOFs
    * after that single exchange.
    */
  def rankingMetrics(df: DataFrame, queryCol: String, rankCol: String,
                     relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 53, "k must be in [1, 53]")
    val g = df.where(col(rankCol) <= k && col(rankCol) >= 1)
      .groupBy(col(queryCol).as("query"))
      .agg(collect_list(struct(col(rankCol).cast("long").as("rank"),
        col(relCol).cast("long").as("rel"))).as("_rr"))
      .withColumn("_byrank", expr("sort_array(_rr)"))
    val rbp = expr(
      """0.5d * aggregate(_byrank, cast(0.0 as double),
        |  (acc, x) -> acc + cast(x.rel as double)
        |    / cast(shiftleft(1L, cast(x.rank - 1 as int)) as double))"""
        .stripMargin)
    val dcg = expr(
      """aggregate(_byrank, cast(0.0 as double),
        |  (acc, x) -> acc + cast(x.rel as double) / ln(cast(x.rank + 1 as double)))"""
        .stripMargin)
    // ideal ordering: relevance desc; position index via the parallel
    // sequence, folded left-to-right
    val idcg = expr(
      """aggregate(sequence(1, size(_byrank)), cast(0.0 as double),
        |  (acc, i) -> acc + cast(element_at(sort_array(_byrank.rel, false), i) as double)
        |    / ln(cast(i + 1 as double)))""".stripMargin)
    val firstRel = expr(
      "array_min(filter(_byrank, x -> x.rel > 0).rank)")
    val nRel = expr("size(filter(_byrank, x -> x.rel > 0))")
    g.select(col("query"),
        rbp.as("rbp"),
        when(firstRel.isNotNull,
          lit(1.0) / firstRel.cast("double")).as("rr"),
        (nRel.cast("double") / lit(k.toDouble)).as("p_at_k"),
        dcg.as("dcg"), idcg.as("idcg"),
        when(idcg > 0, dcg / idcg).as("ndcg"))
  }

  /** Item-item cosine similarity from co-occurrence ("users who visited
    * this host also visited…", related-query mining over sessions): for
    * items a, b appearing in `n_a`, `n_b` baskets and co-occurring in
    * `co`, cos(a,b) = co / √(n_a·n_b) over BINARY incidence vectors. IEEE
    * `sqrt` is correctly rounded, so unlike `ln` the score IS
    * bit-replayable cross-engine ([[Graph.hitsInt]] avoids sqrt only
    * because iterated rescaling compounds; a single terminal sqrt does
    * not). Ties in similarity rank by other-item id ascending.
    *
    * Output per directed (item, other): co, n_item, n_other, cos_sim,
    * rank (1..topK per item). Scale shape: baskets dedup to (basket,
    * item) incidence FIRST; the pair join is basket-local (quadratic in
    * BASKET size, not corpus — cap giant baskets upstream with
    * [[graft.ops.Curation.capPerKey]]); the top-k window partitions by
    * item over the pair table. */
  def itemSimilarity(df: DataFrame, basketCol: String, itemCol: String,
                     minCo: Long = 1L, topK: Int = 10): DataFrame = {
    require(topK >= 1 && minCo >= 1, "topK and minCo must be >= 1")
    val b = df.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct()
    val cnt = b.groupBy(col("_i")).agg(count(lit(1)).as("_n"))
    val pairs = b.join(b.select(col("_b"), col("_i").as("_j")), Seq("_b"))
      .where(col("_i") =!= col("_j"))
      .groupBy(col("_i"), col("_j")).agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val scored = pairs
      .join(cnt.select(col("_i"), col("_n").as("n_item")), Seq("_i"))
      .join(cnt.select(col("_i").as("_j"), col("_n").as("n_other")),
        Seq("_j"))
      .withColumn("cos_sim", col("co").cast("double") /
        sqrt((col("n_item") * col("n_other")).cast("double")))
    val w = Window.partitionBy(col("_i"))
      .orderBy(col("cos_sim").desc, col("_j").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("_i").as("item"), col("_j").as("other"), col("co"),
        col("n_item"), col("n_other"), col("cos_sim"), col("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998,
    * published method): greedily pick k results balancing relevance
    * against redundancy with the already-picked set,
    *
    *   mmr(c) = lambdaMilli * rel(c)
    *            − (1000 − lambdaMilli) * maxSimMilli(c, selected)
    *
    * where simMilli is the EXACT shingle-Jaccard in milli fixed point
    * ((inter * 1000) div union over hashed word n-gram sets) and ties
    * break by id ascending — the whole trace is integer-deterministic
    * and externally replayable. Pass `relCol` pre-scaled to comparable
    * milli units (e.g. 0..1000) for the classic formula; any integer
    * scale works, the trade-off knob is lambdaMilli.
    *
    * RESULT-LIST CONTRACT (the [[graft.ops.Stats]] samples-and-lists
    * discipline): MMR re-ranks a retrieval page, not a corpus — the
    * candidate set is collected to the driver (guard `maxRows`, loud
    * failure past it) and the greedy loop runs locally; k * n exact
    * Jaccards, sub-second for any sane result page. Output:
    * (rank, idCol, mmr_milli, max_sim_milli) in selection order.
    */
  def mmrSelect(df: DataFrame, idCol: String, textCol: String,
                relCol: String, k: Int, lambdaMilli: Long = 700L,
                shingleSize: Int = 3, maxRows: Long = 5000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000, "lambdaMilli in [0,1000]")
    val probe = math.min(maxRows + 1, Int.MaxValue.toLong).toInt
    require(df.limit(probe).count() <= maxRows,
      s"graft.Relevance.mmrSelect: result-list contract breached — more " +
        s"than maxRows=$maxRows candidates. Re-rank a retrieval page, not " +
        "a corpus, or raise maxRows explicitly.")
    val spark = df.sparkSession
    import spark.implicits._
    val cands = df.select(col(idCol).cast("long").as("id"),
        col(relCol).cast("long").as("rel"),
        graft.functions.shingles(col(textCol), shingleSize).as("sh"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      .sortBy(_._1)
    def simMilli(a: Array[Long], b: Array[Long]): Long = {
      if (a.isEmpty && b.isEmpty) return 0L
      var i = 0; var j = 0; var inter = 0L
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1 else j += 1
      }
      val union = a.length.toLong + b.length.toLong - inter
      if (union == 0L) 0L else inter * 1000L / union
    }
    // loud duplicate-id guard (the maxRows-contract style): keying by id
    // below would otherwise silently collapse duplicate candidate rows
    require(cands.map(_._1).distinct.length == cands.length,
      s"mmrSelect: duplicate ids in the candidate set — " +
        s"${cands.length - cands.map(_._1).distinct.length} collisions; " +
        "deduplicate upstream (exact/nearDup) before re-ranking")
    val shOf = cands.map(c => c._1 -> c._3).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.map(c => c._1 -> c): _*)
    var rank = 1L
    while (rank <= k && remaining.nonEmpty) {
      var bestId = -1L; var bestScore = Long.MinValue; var bestSim = 0L
      remaining.valuesIterator.foreach { case (id, rel, sh) =>
        var maxSim = 0L
        selected.foreach { case (_, sid, _, _) =>
          val sm = simMilli(sh, shOf(sid))
          if (sm > maxSim) maxSim = sm
        }
        val score = lambdaMilli * rel - (1000L - lambdaMilli) * maxSim
        if (score > bestScore || (score == bestScore && (bestId < 0 || id < bestId))) {
          bestId = id; bestScore = score; bestSim = maxSim
        }
      }
      selected += ((rank, bestId, bestScore, bestSim))
      remaining.remove(bestId)
      rank += 1
    }
    selected.toSeq.toDF("rank", idCol, "mmr_milli", "max_sim_milli")
  }
}
