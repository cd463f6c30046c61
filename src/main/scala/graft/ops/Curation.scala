package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-text curation transforms beyond dedup/similarity: PII scrubbing and
  * repetition-based quality signals (the Gopher/FineWeb-style filter
  * family). Everything here is BUILT-IN Spark functions — regexp/array
  * HOFs, fully codegen'd, no UDFs and no custom expressions — so the whole
  * stage stays inside WholeStageCodegen and needs zero shuffles (per-row
  * narrow maps over the scan).
  */
object Curation {

  /** Conservative PII patterns chosen to mean the same thing in Java regex
    * (Spark) and RE2 (DuckDB oracle): email, dotted-quad IP, 16-digit card
    * number. Replacement order is part of the contract (email first, so an
    * address containing digits can't be half-rewritten by later passes).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val Card16Re = "\\b\\d{16}\\b"

  /** Redacted text column. */
  def scrubText(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      Card16Re, "<CARD>")

  /** Input + `text_scrubbed` + per-kind redaction counts. Counts are taken
    * BEFORE redaction (regexp_count over the original text), so
    * `n_email + n_ip + n_card == 0` identifies clean rows without a string
    * compare against the scrubbed text.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_email", regexp_count(t, lit(EmailRe)))
      .withColumn("n_ip", regexp_count(t, lit(Ipv4Re)))
      .withColumn("n_card", regexp_count(t, lit(Card16Re)))
      .withColumn("text_scrubbed", scrubText(t))
  }

  /** Deterministic per-stratum downsampling (language/domain rebalancing —
    * the "temperature" resampling step of corpus assembly). Each row's keep
    * decision is a pure function of its id: the first 8 md5 hex digits as a
    * uniform 32-bit rank, kept iff rank < floor(rate * 2^32). Thresholds
    * are computed here as INTEGERS so an external oracle can hard-code the
    * same literals (no float-cast rounding ambiguity), and re-runs /
    * resumes keep exactly the same rows — no RNG state anywhere.
    *
    * Scale shape: a narrow filter over the scan (md5 of the id only — the
    * payload is untouched), no shuffle, no sampleBy() RNG nondeterminism.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    val rank = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    def threshold(rate: Double): Long = (rate * 4294967296L.toDouble).toLong
    val thr = rates.foldLeft(lit(threshold(defaultRate))) { case (acc, (k, rate)) =>
      when(col(strataCol) === k, lit(threshold(rate))).otherwise(acc)
    }
    df.where(rank < thr)
  }

  /** Deterministic class rebalancing to the MINORITY size: every class
    * keeps exactly `min-class-count` rows — the ones with the smallest
    * (md5(seed, id), id) draw — so a skewed label column (lang, quality
    * tier, topic) becomes uniform without RNG state and identically on
    * re-runs. Where [[stratifiedSample]] takes caller-set RATES (keep
    * fraction is known, zero shuffle), this derives the target from the
    * data itself and pays one per-class ranking for exactness.
    *
    * Output: input columns + class_n (pre-balance class size) + sample
    * rank within class; exactly minN rows per class survive. Scale shape:
    * one per-class window over a slim (id, class, hash) projection joined
    * back by id, plus a class-bounded count aggregate broadcast in; the
    * majority class is the hot partition — for approximate balance at
    * extreme skew prefer [[stratifiedSample]] with computed rates.
    */
  def balanceClasses(df: DataFrame, idCol: String, classCol: String,
                     seed: String): DataFrame = {
    val h = md5(concat_ws("", lit(seed), col(idCol).cast("string"))
      .cast("binary"))
    val slim = df.select(col(idCol).as("_bid"), col(classCol).as("_bc"),
      h.as("_bh"))
    // class-bounded count table; eager leaf so minN doesn't re-run the
    // corpus aggregate a second time
    val counts = slim.groupBy(col("_bc")).agg(count(lit(1)).as("class_n"))
      .localCheckpoint()
    val minN = counts.agg(min(col("class_n")).as("_minN"))
    val ranked = slim
      .withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_bc"))
          .orderBy(col("_bh"), col("_bid"))).cast("long"))
      .crossJoin(broadcast(minN))
      .where(col("sample_rank") <= col("_minN"))
      .join(broadcast(counts), Seq("_bc"))
      .select(col("_bid"), col("class_n"), col("sample_rank"))
    df.join(ranked, col(idCol) === col("_bid"))
      .drop("_bid")
  }

  /** Density-smoothed content-block extraction (the densometric idea of
    * Kohlschuetter et al., WSDM 2010 "Boilerplate Detection Using Shallow
    * Text Features", simplified to its word-density core — published
    * method): a LINE is content iff it has words at all AND the 3-line
    * smoothed word count (prev + cur + next, boundaries zero-padded)
    * reaches `minBlockWords` — isolated short lines (nav items,
    * copyright footers, button labels) fail the smoothed threshold while
    * paragraph runs pass it even across a short connector line.
    *
    * Output: input + n_lines (non-empty), n_content_lines, total_words,
    * content_words, content_ratio (one double division; NULL when the
    * document has no words), longest_run (longest consecutive
    * content-line streak, boilerplate-only docs -> 0).
    *
    * Scale shape: pure array HOFs over the in-row line split — the
    * 3-line window is index arithmetic on the per-line word-count array,
    * NOT a Window operator, so the whole op is one codegen'd narrow
    * projection; zero shuffle (the [[markdownStats]] family discipline).
    */
  def densityContentStats(df: DataFrame, textCol: String,
                          minBlockWords: Int = 8): DataFrame = {
    require(minBlockWords >= 1, "minBlockWords must be >= 1")
    // plain concat, not an s-interpolator: the '\\n' must reach the SQL
    // parser as a backslash-n escape, and triple-quote interpolation
    // would eat the backslash
    val wcArr =
      "transform(split(" + textCol + ", '\\n'), ln -> " +
        "size(regexp_extract_all(lower(ln), \"[a-z0-9_']+\", 0)))"
    df
      .withColumn("_wc", expr(wcArr))
      .withColumn("_content", expr(
        s"""transform(sequence(1, size(_wc)), i ->
           |  _wc[i - 1] > 0 AND
           |  coalesce(IF(i >= 2, _wc[i - 2], 0), 0) + _wc[i - 1] +
           |    coalesce(IF(i < size(_wc), _wc[i], 0), 0) >= $minBlockWords)"""
          .stripMargin))
      .withColumn("n_lines", expr("size(filter(_wc, c -> c > 0))").cast("long"))
      .withColumn("n_content_lines",
        expr("size(filter(_content, c -> c))").cast("long"))
      .withColumn("total_words",
        expr("aggregate(_wc, 0L, (a, x) -> a + x)"))
      .withColumn("content_words", expr(
        """aggregate(zip_with(_wc, _content, (w, c) -> IF(c, w, 0)),
          |  0L, (a, x) -> a + x)""".stripMargin))
      .withColumn("content_ratio",
        when(col("total_words") > 0,
          col("content_words").cast("double") /
            col("total_words").cast("double")))
      .withColumn("longest_run", expr(
        """aggregate(_content, named_struct('cur', 0L, 'best', 0L), (a, x) ->
          |  IF(x, named_struct('cur', a.cur + 1L,
          |                     'best', greatest(a.best, a.cur + 1L)),
          |     named_struct('cur', 0L, 'best', a.best)),
          |  a -> a.best)""".stripMargin))
      .drop("_wc", "_content")
  }

  /** Markdown structure stats — the [[htmlTableStats]] sibling for the
    * other big corpus format: ATX heading count (and max depth via the
    * longest leading-# run), fenced code blocks (``` pairs — an odd
    * count flags an unterminated fence), list-item lines and link
    * count, all by line-anchored `regexp_count` over the raw text; pure
    * narrow projection, zero shuffle. Signals feed format-aware
    * curation mixes (code-heavy vs prose-heavy markdown).
    *
    * Output: input + n_headings, max_heading_depth (0 when none),
    * n_code_fences (pairs), fence_unterminated, n_list_items, n_links.
    */
  def markdownStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(pat: String) = regexp_count(t, lit(pat)).cast("long")
    val fences = cnt("(?m)^```")
    val depth = (1 to 6).foldLeft(lit(0L)) { (acc, d) =>
      when(cnt("(?m)^" + "#" * d + "[^#]") > 0, lit(d.toLong))
        .otherwise(acc)
    }
    df.withColumn("n_headings", cnt("(?m)^#{1,6}[^#]"))
      .withColumn("max_heading_depth", depth)
      .withColumn("n_code_fences", (fences / 2).cast("long"))
      .withColumn("fence_unterminated", fences % 2 =!= 0)
      .withColumn("n_list_items", cnt("(?m)^[-*+] "))
      .withColumn("n_links", cnt("\\[[^\\]]*\\]\\([^)]*\\)"))
  }

  /** Filter-threshold sweep: for each candidate cutoff, the exact
    * survivor count, survivor score mass and keep fraction — the
    * one-pass table you hand to [[graft.ops.Stats.kneePoint]] to PICK a
    * quality threshold instead of eyeballing it. A |thresholds|-way
    * explode of a slim score projection + one combiner groupBy; keep
    * the candidate list small (it multiplies the scan, not the corpus).
    *
    * Output per threshold: threshold, n_total, n_kept, sum_kept_score,
    * keep_frac (one division). */
  def thresholdSweep(df: DataFrame, scoreCol: String,
                     thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.distinct == thresholds,
      "thresholds must be non-empty and distinct")
    df.select(col(scoreCol).cast("long").as("_s"))
      .select(col("_s"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("_s") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("_s") >= col("threshold"), col("_s")).otherwise(0L))
          .as("sum_kept_score"))
      .withColumn("keep_frac",
        col("n_kept").cast("double") / col("n_total").cast("double"))
  }

  /** Luhn mod-10 validity flag for candidate card numbers — the
    * precision upgrade on [[scrubPii]]'s 16-digit regex (most random
    * digit runs fail the checksum, so scrubbing can target REAL card
    * shapes and leave order ids alone): right-to-left positional
    * doubling with the −9 carry, summed by an integer HOF fold; valid =
    * sum % 10 == 0 over 13–19 digits. Pure per-row expression, zero
    * shuffle, replayable by any engine with the same transform/fold.
    *
    * Output: input + luhn_valid. `numCol` must be digits-only (pre-strip
    * separators upstream). */
  def luhnFlag(df: DataFrame, numCol: String): DataFrame = {
    val s = reverse(col(numCol).cast("string"))
    val sum = expr(
      s"""aggregate(
         |  transform(sequence(1, length(reverse(cast($numCol as string)))),
         |    i -> if(i % 2 = 0,
         |      if((ascii(substring(reverse(cast($numCol as string)), i, 1))
         |          - 48) * 2 > 9,
         |        (ascii(substring(reverse(cast($numCol as string)), i, 1))
         |          - 48) * 2 - 9,
         |        (ascii(substring(reverse(cast($numCol as string)), i, 1))
         |          - 48) * 2),
         |      ascii(substring(reverse(cast($numCol as string)), i, 1))
         |        - 48)),
         |  0L, (acc, v) -> acc + cast(v as bigint))""".stripMargin)
    df.withColumn("luhn_valid",
      length(s).between(13, 19) && sum % 10 === 0)
  }

  /** URL path-hierarchy rollup: every page contributes a count to EACH
    * cumulative path prefix ("/a", "/a/b", "/a/b/c") — the site-structure
    * view a crawl planner reads ("which sections hold the mass") that a
    * flat per-path groupBy can't answer without N queries. Prefixes are
    * built with a `transform(sequence…)` + `slice` HOF (depth-bounded
    * explode, no UDF); empty segments from '//' or trailing '/' drop.
    *
    * Output: (prefix, depth, n_pages), one row per observed prefix.
    * Scale shape: per-row prefix explode (×path-depth, bounded small) +
    * one combiner groupBy on the prefix — the page payload never moves.
    */
  def pathRollup(df: DataFrame, pathCol: String): DataFrame = {
    val segs = filter(split(col(pathCol), "/"), s => length(s) > 0)
    val prefixes = expr(
      "transform(sequence(1, size(_segs)), i -> " +
        "named_struct('prefix', concat('/', array_join(slice(_segs, 1, i), '/')), " +
        "'depth', cast(i as bigint)))")
    df.select(segs.as("_segs"))
      .where(size(col("_segs")) > 0)
      .select(explode(prefixes).as("_p"))
      .groupBy(col("_p.prefix").as("prefix"), col("_p.depth").as("depth"))
      .agg(count(lit(1)).as("n_pages"))
  }

  /** Resolve rel=canonical / redirect CHAINS to their terminal target by
    * POINTER JUMPING: each round replaces every pointer with its
    * pointer's pointer, so a chain of depth d resolves in ⌈log₂ d⌉
    * label-sized self-joins (maxIters = 8 covers depth 256) instead of d
    * sequential lookups — the [[graft.ops.Dedup.clusters]] scale
    * discipline applied to a functional graph. Multiple outgoing edges
    * per source dedupe to the MIN target (deterministic); a node whose
    * final target still has an outgoing edge after the rounds sits on a
    * CYCLE (or a >256 chain) and reports `resolved = false` — after k
    * rounds the pointer is exactly f^(2^k), which an external engine
    * replays by walking 2^k single steps.
    *
    * Output: url, canonical, resolved. Scale shape: maxIters edge-table
    * self-joins on the pointer key, localCheckpoint per round; the page
    * payload is never touched. */
  def resolveCanonicalChains(edges: DataFrame, fromCol: String,
                             toCol: String, maxIters: Int = 8): DataFrame = {
    require(maxIters >= 1 && maxIters <= 20, "need 1 <= maxIters <= 20")
    val pointers = edges.select(col(fromCol).as("u"), col(toCol).as("v"))
      .groupBy(col("u")).agg(min(col("v")).as("v"))
    // small integral pointer table: the same rounds on the driver ([[LocalDispatch]])
    val (base, _, local) = LocalDispatch.materialize(pointers, LocalDispatch.CcKey,
      eligible = pointers.schema.fields.forall(f => LocalDispatch.integral(f.dataType)))
    if (local.nonEmpty) {
      val spark = edges.sparkSession
      import spark.implicits._
      val g = LocalGraph(local.get)
      // ptr(i): node i's pointer, itself when i has no outgoing edge
      val hasPtr = new Array[Boolean](g.n)
      var ptr = Array.tabulate(g.n)(identity)
      g.src.indices.foreach { j => hasPtr(g.src(j)) = true; ptr(g.src(j)) = g.dst(j) }
      for (_ <- 0 until maxIters) {
        val snap = ptr
        ptr = Array.tabulate(g.n)(i => if (hasPtr(i) && hasPtr(snap(i))) snap(snap(i)) else snap(i))
      }
      return g.ids.indices.filter(hasPtr).map(i => (g.ids(i), g.ids(ptr(i)), !hasPtr(ptr(i))))
        .toDF("url", "canonical", "resolved")
        .select(col("url").cast(base.schema("u").dataType).as("url"),
          col("canonical").cast(base.schema("v").dataType).as("canonical"), col("resolved"))
    }
    var ptr = base
    for (_ <- 0 until maxIters) {
      ptr = ptr
        .join(ptr.select(col("u").as("_v2"), col("v").as("_w")),
          col("v") === col("_v2"), "left")
        .select(col("u"), coalesce(col("_w"), col("v")).as("v"))
        .localCheckpoint()
    }
    ptr
      .join(base.select(col("u").as("_t")), col("v") === col("_t"),
        "left")
      .select(col("u").as("url"), col("v").as("canonical"),
        col("_t").isNull.as("resolved"))
  }

  /** Entity-safe deterministic train/val/test split assignment. The split
    * is a pure function of the KEY (not the row): bucket = 32-bit md5 rank
    * of the key mod sum(weights), mapped to the first split whose
    * cumulative weight exceeds it. So every row sharing a key — all crawl
    * revisits of a url, all near-dup copies routed through a canonical key
    * — lands in the SAME split: the entity-level holdout that stops
    * train/test contamination through alternate snapshots of one page.
    * Also growth-stable: adding rows (or whole new keys) never moves an
    * existing key's assignment, unlike rank-percentile splits which
    * reshuffle the boundary on every corpus extension.
    *
    * Scale shape: row-local expression over the scan, zero shuffle, no RNG
    * state. Replayable bit-for-bit by an external SQL engine (md5 + integer
    * mod + when-cascade). The `mod total` draw has modulo bias below
    * total/2^32 — negligible for split tables (total ~ 10..1000).
    */
  def assignSplit(df: DataFrame, keyCol: String, splits: Seq[(String, Long)],
                  outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(splits.forall(_._2 > 0), "split weights must be positive")
    require(splits.map(_._1).distinct.size == splits.size, "split names must be unique")
    val total = splits.map(_._2).sum
    val bucket = pmod(
      conv(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long"), lit(total))
    val cum = splits.map(_._2).scanLeft(0L)(_ + _).tail
    val assigned = splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), ub), acc) => when(bucket < ub, lit(name)).otherwise(acc)
    }
    df.withColumn(outCol, assigned)
  }

  /** Greedy sequence packing for training batches: rows are packed in
    * `orderCol` order within each shard, and a row goes to bin
    * floor(tokens_before / budget) — the prefix-sum chunking used to cut a
    * corpus into ~budget-token pack groups (long docs straddle a boundary;
    * the downstream packer splits them). Output adds `pack_tokens_before`
    * and `pack_bin`.
    *
    * Scale shape: packing is PER SHARD (one window partition each), so the
    * sort parallelism is the shard count — never a global orderBy. Shard
    * however the corpus is already laid out (e.g. FeatureJob.shardCol).
    *
    * Determinism contract: `orderCol` must be UNIQUE within a shard, or a
    * deterministic tie-break must be supplied via `tieBreak` — tied rows can
    * otherwise swap between runs and move pack_tokens_before/pack_bin,
    * breaking the module's resume/checksum guarantees.
    */
  def packSequences(df: DataFrame, shardCol: String, orderCol: String,
                    tokenCol: String, budgetTokens: Long,
                    tieBreak: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col(orderCol) +: tieBreak.map(col): _*)
    val before = coalesce(
      sum(col(tokenCol)).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    df.withColumn("pack_tokens_before", before.cast("long"))
      // `div`: exact integer division (the `/` operator is double division
      // in both Spark and DuckDB — exactness beats one less cast)
      .withColumn("pack_bin", expr(s"pack_tokens_before div $budgetTokens"))
  }

  private val Window = org.apache.spark.sql.expressions.Window

  /** Overlapping passage windows for embedding/RAG chunking: words split on
    * whitespace, passages of `windowWords` starting at every `strideWords`
    * offset (start positions 0, stride, 2*stride, ... while < word count;
    * the tail passage may be short). One output row per passage:
    * (input columns minus text) + passage_no + passage. Pure array
    * HOFs + posexplode — a narrow per-row flatMap, no shuffle, and the
    * passage count per doc is ceil(words/stride), so output size is
    * corpus-bounded (no quadratic blowup).
    */
  def passages(df: DataFrame, idCol: String, textCol: String,
               windowWords: Int = 128, strideWords: Int = 64): DataFrame = {
    require(strideWords > 0 && windowWords >= strideWords,
      "need windowWords >= strideWords > 0")
    val words = Relevance.spaceTokens(col(textCol))
    val nw = size(words).cast("long")
    // floor((nw-1)/stride)*stride in exact integer arithmetic (`/` on
    // longs is double division in Spark SQL)
    val lastStart = (nw - 1) - pmod(nw - 1, lit(strideWords.toLong))
    val starts = when(nw > 0,
      sequence(lit(0L), lastStart, lit(strideWords.toLong))).otherwise(array())
    // carry EVERY input column except the (usually large) text through to
    // the passage rows — a chunker that silently drops lang/url metadata
    // forces an extra join downstream
    val carried = df.columns.filter(_ != textCol).map(col)
    df.withColumn("_w", words)
      .withColumn("_starts", starts)
      .select(carried :+ col("_w") :+
        posexplode(col("_starts")).as(Seq("passage_no", "_s")): _*)
      .select(carried :+ col("passage_no").cast("long").as("passage_no") :+
        array_join(slice(col("_w"), (col("_s") + 1).cast("int"), lit(windowWords)), " ").as("passage"): _*)
  }

  /** Repetition/shape signals over one document (Gopher-rule family):
    *
    *  - n_words, n_distinct_words, dup_word_frac = 1 - distinct/words
    *  - mean_word_len (exact: integer char sum / word count, both cast)
    *  - n_lines, dup_line_frac (lines split on \n)
    *
    * Words are non-empty runs split on whitespace (`\s+`, the Gopher-rule
    * convention; a tokenizer-grade splitter is
    * [[graft.functions.token_count]]). Fractions are exact int/int double
    * divisions — oracle-stable.
    */
  def repetitionStats(df: DataFrame, textCol: String): DataFrame = {
    val words = Relevance.spaceTokens(col(textCol))
    val lines = filter(split(col(textCol), "\n"), l => l =!= "")
    val nw = size(words).cast("long")
    val nl = size(lines).cast("long")
    df.withColumn("n_words", nw)
      .withColumn("n_distinct_words", size(array_distinct(words)).cast("long"))
      .withColumn("dup_word_frac",
        when(nw > 0, lit(1.0) - col("n_distinct_words").cast("double") / nw.cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("mean_word_len",
        when(nw > 0,
          aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / nw.cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("n_lines", nl)
      .withColumn("dup_line_frac",
        when(nl > 0, lit(1.0) - size(array_distinct(lines)).cast("double") / nl.cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Per-document sentence segmentation stats: sentences split at
    * whitespace AFTER a terminator (`(?<=[.!?])\s+` — the lookbehind
    * keeps the terminator with its sentence), empties dropped. Sentence
    * COUNT and length moments are the cheap fluency signals sitting
    * between [[repetitionStats]]' word level and the document level —
    * wall-of-text pages (one endless "sentence") and listicle fragments
    * (dozens of 3-char ones) both surface here.
    *
    * Output: input + n_sentences, sum_sentence_chars, max_sentence_chars,
    * mean_sentence_chars (one exact division; 0-sentence rows report 0).
    * Scale shape: per-row array HOFs, fully codegen'd, zero shuffle.
    */
  def sentenceStats(df: DataFrame, textCol: String): DataFrame = {
    val sents = filter(split(col(textCol), "(?<=[.!?])\\s+"),
      s => length(s) > 0)
    val n = size(sents).cast("long")
    val sumLen = aggregate(sents, lit(0L), (acc, s) => acc + length(s))
    df.withColumn("n_sentences", n)
      .withColumn("sum_sentence_chars", sumLen)
      .withColumn("max_sentence_chars",
        coalesce(array_max(transform(sents, s => length(s).cast("long"))),
          lit(0L)))
      .withColumn("mean_sentence_chars",
        when(n > 0, sumLen.cast("double") / n.cast("double"))
          .otherwise(lit(0.0)))
  }

  /** URL structure features for web-corpus curation: scheme/host/path
    * split by RE2-portable regexes (NOT java.net parsing — the patterns
    * mean the same thing in any engine, so the op is oracle-stable),
    * registrable-domain approximation (last two host labels — a public-
    * suffix list would refine co.uk-style hosts; documented trade-off),
    * path depth and a query flag. Narrow per-row projection, fully
    * codegen'd, zero shuffle. `url_domain`/`url_host` are the natural
    * keys for domain-level stratification, per-site caps and
    * domain-aware dedup at corpus scale — grouping by them shuffles
    * slim (key, count) pairs, never payloads.
    */
  def urlFeatures(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    val host = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val path = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val labels = split(host, "\\.")
    df.withColumn("url_scheme", scheme)
      .withColumn("url_host", host)
      .withColumn("url_domain",
        when(size(labels) >= 2,
          concat_ws(".", element_at(labels, -2), element_at(labels, -1)))
          .otherwise(host))
      .withColumn("url_path", path)
      .withColumn("url_depth",
        size(filter(split(path, "/"), s => s =!= "")).cast("long"))
      .withColumn("url_has_query", u.contains("?"))
  }

  /** Keep at most `k` rows per key (per-domain caps — a web corpus can't
    * let one mega-site dominate the mixture). Which k survive is a pure
    * function of the row ids: rows rank by the first 8 md5 hex digits of
    * the id (the same deterministic uniform rank [[stratifiedSample]]
    * uses, so caps and rates compose into one reproducible policy),
    * tie-broken by id. Returns the kept rows plus `key_rank` (1..k).
    *
    * Shape for 100 TB: the ranking window runs over a slim (key, id)
    * projection — the payload is never buffered in a window operator. The
    * keeper set is at most (#keys x k) rows, so the join-back is a
    * broadcast under AQE whenever the key space is site-sized; the corpus
    * itself crosses one exchange as join input.
    */
  def capPerKey(df: DataFrame, idCol: String, keyCol: String, k: Int): DataFrame = {
    val rank = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy(col(keyCol)).orderBy(rank, col(idCol))
    val keep = df.select(col(keyCol), col(idCol))
      .withColumn("key_rank", row_number().over(w).cast("long"))
      .where(col("key_rank") <= k)
      .select(col(idCol), col("key_rank"))
    df.join(keep, Seq(idCol))
  }

  /** The Gopher stop-word set (Rae et al. 2021, rule: a quality document
    * contains at least 2 of these).
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Composite document-quality gate (the Gopher/FineWeb rule family as one
    * policy): word-count bounds, mean-word-length bounds, duplicate-line
    * fraction, alphabetic-word fraction, and distinct-stop-word hits.
    * Emits the signals ([[repetitionStats]] plus `alpha_word_frac` and
    * `stopword_hits`), `qf_reasons` (failed rule names comma-joined in
    * fixed rule order, '' when clean) and `qf_keep`. Keeping failures WITH
    * their reasons — rather than filtering inline — is deliberate: corpus
    * curation needs the rejection breakdown (what fraction died to which
    * rule) before committing to a policy, and that audit is a groupBy over
    * this output.
    *
    * All signals are exact integer arithmetic or int/int double divisions
    * (bit-stable across engines), and the whole gate is one codegen'd
    * narrow projection — zero shuffle, which is the only acceptable cost
    * for a first-pass filter that reads every byte of a 100 TB corpus.
    */
  def qualityFilter(df: DataFrame, textCol: String,
                    minWords: Int = 50, maxWords: Int = 100000,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    maxDupLineFrac: Double = 0.30,
                    minAlphaWordFrac: Double = 0.80,
                    stopwords: Seq[String] = GopherStopwords,
                    minStopwordHits: Int = 2): DataFrame = {
    val words = Relevance.spaceTokens(col(textCol))
    val nw = col("n_words")
    val alphaFrac = when(nw > 0,
      size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("double") / nw.cast("double"))
      .otherwise(lit(0.0))
    // distinct stop-word HITS (how many of the set occur), not occurrence
    // count — one 'the' repeated a thousand times is still one hit; a
    // single array_intersect pass, not one scan per stop word
    val hits = coalesce(size(array_intersect(
      array_distinct(transform(words, w => lower(w))),
      array(stopwords.map(lit): _*))), lit(0)).cast("long")
    val out = repetitionStats(df, textCol)
      .withColumn("alpha_word_frac", alphaFrac)
      .withColumn("stopword_hits", hits)
    val rules: Seq[(String, Column)] = Seq(
      "too_few_words" -> (col("n_words") < minWords),
      "too_many_words" -> (col("n_words") > maxWords),
      "short_words" -> (col("mean_word_len") < minMeanWordLen),
      "long_words" -> (col("mean_word_len") > maxMeanWordLen),
      "dup_lines" -> (col("dup_line_frac") > maxDupLineFrac),
      "low_alpha" -> (col("alpha_word_frac") < minAlphaWordFrac),
      "few_stopwords" -> (col("stopword_hits") < minStopwordHits))
    // concat_ws skips nulls, so each rule contributes its name iff it fails
    out.withColumn("qf_reasons",
        concat_ws(",", rules.map { case (n, c) => when(c, lit(n)) }: _*))
      .withColumn("qf_keep", col("qf_reasons") === "")
  }

  /** C4 LINE-level cleaning (Raffel et al. 2020 §2.2) — the per-line
    * companion to the doc-level Gopher rules in [[qualityFilter]]:
    *
    *  - keep only lines ending in terminal punctuation (`.` `!` `?` `"`),
    *  - with at least `minLineWords` whitespace words,
    *  - not mentioning "javascript" (case-insensitive);
    *
    * then the page-level C4 verdicts over what survived: `brace` (raw text
    * contains `{` — code), `lorem_ipsum` (boilerplate filler), and
    * `few_sentences` (< `minSentences` terminal-punctuation marks in the
    * KEPT text — C4 drops pages under 3 sentences). Emits every input
    * column + `c4_text` (kept lines, original order), `n_lines`,
    * `n_lines_kept`, `n_sentences`, `c4_reasons`, `c4_keep`.
    *
    * Scale shape: a pure row-local projection — array HOFs over the line
    * split, zero shuffle, whole-stage-codegen friendly, payload read once.
    */
  def c4Filter(df: DataFrame, textCol: String,
               minLineWords: Int = 5, minSentences: Int = 3): DataFrame = {
    val lines = split(col(textCol), "\n", -1)
    val keptLines = filter(lines, l =>
      l.rlike("[.!?\"]$") &&
        size(Relevance.spaceTokens(l)) >= minLineWords &&
        !lower(l).contains("javascript"))
    val out = df
      .withColumn("c4_text", concat_ws("\n", keptLines))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_lines_kept", size(keptLines).cast("long"))
      .withColumn("n_sentences",
        regexp_count(col("c4_text"), lit("[.!?]")).cast("long"))
    val rules: Seq[(String, Column)] = Seq(
      "brace" -> col(textCol).contains("{"),
      "lorem_ipsum" -> lower(col(textCol)).contains("lorem ipsum"),
      "few_sentences" -> (col("n_sentences") < minSentences))
    out.withColumn("c4_reasons",
        concat_ws(",", rules.map { case (n, c) => when(c, lit(n)) }: _*))
      .withColumn("c4_keep", col("c4_reasons") === "")
  }

  /** HTML -> text extraction (the C4/CommonCrawl WET-style boilerplate
    * strip) as a single codegen'd expression chain — the stage that turns
    * the input table's `html: binary` column into the `text` column
    * downstream kernels consume. The grammar is a fixed, ORDERED regex
    * pipeline chosen to mean the same thing in Java regex (Spark) and RE2
    * (external oracles): no backreferences, no lookaround.
    *
    *  1. script/style element bodies vanish whole (non-greedy dotall —
    *     a `<` inside inline JS must not leak into tag stripping),
    *  2. comments vanish,
    *  3. block-closing tags and `<br>` become newlines (so words from
    *     adjacent paragraphs don't fuse),
    *  4. every remaining tag is dropped,
    *  5. the five HTML core entities decode (amp LAST, or `&amp;lt;`
    *     would double-decode),
    *  6. whitespace normalizes: horizontal runs -> one space, spaces
    *     around newlines trimmed, newline runs -> one newline, ends
    *     trimmed.
    *
    * Scale shape: a narrow per-row projection over the scan — zero
    * shuffle, and the html column is read once (Parquet binary) and never
    * materialized twice. Accepts binary or string input (binary is decoded
    * as UTF-8 by the string cast, matching Spark's binary->string rule).
    */
  def extractHtmlText(html: Column): Column = {
    val s0 = html.cast("string")
    val noScript = regexp_replace(s0, "(?is)<script\\b[^>]*>.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style>", "")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", "")
    val blocks = regexp_replace(noComment,
      "(?i)<(?:br|/p|/div|/h[1-6]|/li|/tr|/table|/ul|/ol|/title)\\b[^>]*>", "\n")
    val noTags = regexp_replace(blocks, "(?s)<[^>]*>", "")
    val ent = replace(replace(replace(replace(replace(replace(noTags,
      lit("&lt;"), lit("<")),
      lit("&gt;"), lit(">")),
      lit("&quot;"), lit("\"")),
      lit("&#39;"), lit("'")),
      lit("&nbsp;"), lit(" ")),
      lit("&amp;"), lit("&"))
    val hspace = regexp_replace(ent, "[ \\t\\r\\f]+", " ")
    val trimmedNl = regexp_replace(hspace, " ?\\n ?", "\n")
    val oneNl = regexp_replace(trimmedNl, "\\n+", "\n")
    regexp_replace(oneNl, "^\\s+|\\s+$", "")
  }

  /** Input + `extracted_text` (see [[extractHtmlText]]). */
  def htmlExtract(df: DataFrame, htmlCol: String): DataFrame =
    Fanout.ensure(df).withColumn("extracted_text", extractHtmlText(col(htmlCol)))

  /** Page-metadata extraction from raw HTML: `title` (first
    * `<title>` element, inner whitespace collapsed), `meta_description`
    * (the content attribute of `<meta name="description" ...>`) and
    * `canonical_url` (the href of `<link rel="canonical" ...>`). All
    * three via RE2-portable regexes ((?is) flags, lazy quantifiers, no
    * lookbehind), so an external engine replays the extraction verbatim;
    * unmatched → NULL. Attribute-ORDER contract: name/rel must precede
    * content/href (the overwhelmingly common serialization; a full
    * attribute parser is a tokenizer, not a regex).
    *
    * Scale shape: three codegen'd regexp_extract over the scan — narrow
    * map, zero shuffle.
    */
  def htmlMeta(df: DataFrame, htmlCol: String): DataFrame = {
    val h = col(htmlCol).cast("string")
    def ex(pattern: String): Column = {
      val m = regexp_extract(h, pattern, 1)
      when(m =!= "", m)
    }
    df.withColumn("title",
        when(regexp_extract(h, TitleRe, 1) =!= "",
          trim(regexp_replace(regexp_extract(h, TitleRe, 1), "\\s+", " "))))
      .withColumn("meta_description", ex(MetaDescRe))
      .withColumn("canonical_url", ex(CanonicalRe))
  }

  /** HTML table-structure signals: counts of <table>/<tr>/<td|th> open
    * tags (case-insensitive) plus cells-per-row — data-heavy pages
    * (specs, stats, schedules) read very differently from prose and many
    * curation mixes cap or boost them. Pure regexp_count, zero shuffle,
    * RE2-portable patterns.
    */
  def htmlTableStats(df: DataFrame, htmlCol: String): DataFrame = {
    val h = col(htmlCol).cast("string")
    def cnt(pat: String): Column = regexp_count(h, lit(pat)).cast("long")
    df.withColumn("n_tables", cnt("(?i)<table[\\s>]"))
      .withColumn("n_rows", cnt("(?i)<tr[\\s>]"))
      .withColumn("n_cells", cnt("(?i)<t[dh][\\s>]"))
      .withColumn("cells_per_row",
        when(col("n_rows") > 0,
          col("n_cells").cast("double") / col("n_rows").cast("double")))
  }

  /** [[htmlMeta]] grammar (public so oracles replay it verbatim). */
  final val TitleRe = "(?is)<title[^>]*>(.*?)</title>"
  final val MetaDescRe =
    "(?is)<meta[^>]*name\\s*=\\s*[\"']description[\"'][^>]*content\\s*=\\s*[\"']([^\"']*)"
  final val CanonicalRe =
    "(?is)<link[^>]*rel\\s*=\\s*[\"']canonical[\"'][^>]*href\\s*=\\s*[\"']([^\"']*)"

  /** Outlink edge extraction — the web-graph construction stage. One output
    * row per DOUBLE-QUOTED `href` attribute of an `<a>` tag, in document
    * order: (idCol, link_no, href, target_url) where target_url resolves
    *   - absolute http(s) hrefs as-is,
    *   - host-relative hrefs (`/path`) against the page's scheme://host
    *     (taken from `baseUrlCol` via the same RE2-portable parse as
    *     [[urlFeatures]]),
    *   - anything else (fragments, mailto:, protocol-relative, quoteless)
    *     to null — a link-graph edge you can't attribute beats a wrong one.
    * Pages with no anchors produce no rows.
    *
    * Scale shape: regexp_extract_all + posexplode — a narrow per-row
    * flatMap whose output is bounded by the anchor count, zero shuffle; the
    * html column is read once. Downstream (group by target domain, join
    * with the page table) decides its own partitioning.
    */
  val HrefRe = "(?i)<a\\b[^>]*\\bhref=\"([^\"]*)\""

  /** href resolution shared by [[extractLinks]] and [[extractAnchors]]:
    * absolute http(s) targets pass through, host-relative paths resolve
    * against the page's scheme://host, everything else (fragment, mailto,
    * protocol-relative, malformed base) stays null.
    */
  private def resolveTarget(href: org.apache.spark.sql.Column,
                            base: org.apache.spark.sql.Column) =
    when(href.rlike("^https?://"), href)
      .when(href.startsWith("/") && !href.startsWith("//") && base =!= "",
        concat(base, href))
      .otherwise(lit(null))

  private def baseOf(urlCol: String) =
    regexp_extract(col(urlCol), "^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)

  def extractLinks(df: DataFrame, idCol: String, htmlCol: String,
                   baseUrlCol: String): DataFrame = {
    val hrefs = regexp_extract_all(col(htmlCol).cast("string"), lit(HrefRe), lit(1))
    df.select(col(idCol), col(baseUrlCol), posexplode(hrefs).as(Seq("link_no", "href")))
      .withColumn("target_url", resolveTarget(col("href"), baseOf(baseUrlCol)))
      .withColumn("link_no", col("link_no").cast("long"))
      .drop(baseUrlCol)
  }

  /** Anchor grammar for [[extractAnchors]]: a double-quoted href anchor
    * whose body is plain text (no nested tags) — group 1 the href, group 2
    * the anchor text. Anchors with markup inside the body are skipped (a
    * full parse is out of scope for a regex grammar; the skip is
    * deterministic and engine-portable — no lookaround/backreferences).
    */
  val AnchorRe = "(?i)<a\\b[^>]*\\bhref=\"([^\"]*)\"[^>]*>([^<]*)</a>"

  /** Outlinks WITH their anchor text — the classic off-page relevance
    * signal (what other pages call this page). One row per matching
    * anchor in document order: (idCol, link_no, href, anchor_text,
    * target_url), targets resolved by the same grammar as
    * [[extractLinks]].
    *
    * Scale shape: identical to extractLinks — regexp_extract_all of the
    * full anchor (group 0) + posexplode, the two groups re-extracted from
    * the bounded per-anchor snippet. Narrow flatMap, zero shuffle, html
    * read once.
    */
  def extractAnchors(df: DataFrame, idCol: String, htmlCol: String,
                     baseUrlCol: String): DataFrame = {
    val anchors = regexp_extract_all(col(htmlCol).cast("string"), lit(AnchorRe), lit(0))
    df.select(col(idCol), col(baseUrlCol), posexplode(anchors).as(Seq("link_no", "_a")))
      .withColumn("href", regexp_extract(col("_a"), AnchorRe, 1))
      .withColumn("anchor_text", regexp_extract(col("_a"), AnchorRe, 2))
      .withColumn("target_url", resolveTarget(col("href"), baseOf(baseUrlCol)))
      .withColumn("link_no", col("link_no").cast("long"))
      .drop(baseUrlCol, "_a")
  }

  /** URL canonicalization — the dedup/join key a crawl corpus needs before
    * any per-url operator means what it says (the same page arrives as
    * `HTTP://Host:80/x?utm_source=a&b=1#f` and `http://host/x?b=1`).
    * Ordered, RE2-portable grammar (no lookaround, so Java regex and an
    * external oracle agree):
    *
    *   1. scheme and host lowercase;
    *   2. default port stripped (http:80, https:443), other ports kept;
    *   3. fragment dropped;
    *   4. tracking params dropped (utm_*, gclid, fbclid, ref), the
    *      remaining query params SORTED bytewise and re-joined — param
    *      order never distinguishes two URLs again;
    *   5. empty path becomes "/".
    *
    * Unparseable URLs (no scheme://host) canonicalize to null — the
    * caller decides whether to drop or keep-as-is. Adds `canonical_url`.
    *
    * Scale shape: one codegen'd narrow projection (regexp parts + array
    * HOFs), zero shuffle.
    */
  def canonicalizeUrl(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val scheme = lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val host = lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)", 1))
    val port = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*?:([0-9]+)", 1)
    val path = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val keptParams = filter(split(query, "&"), x =>
      x =!= "" && !x.rlike("^(utm_[a-z0-9_]*|gclid|fbclid|ref)="))
    val cq = array_join(array_sort(keptParams), "&")
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathPart = when(path === "", lit("/")).otherwise(path)
    val queryPart = when(cq === "", lit("")).otherwise(concat(lit("?"), cq))
    df.withColumn("canonical_url",
      when(scheme === "" || host === "", lit(null))
        .otherwise(concat(scheme, lit("://"), host, portPart, pathPart, queryPart)))
  }

  /** Deterministic training-data shuffle WITHOUT a global sort: each row
    * hashes to a shard (first 8 md5 hex digits of seed||id, mod nShards)
    * and gets a dense position within that shard (rank by the full hash,
    * id tie-break). A trainer reads shards in any order and rows within a
    * shard in `shard_pos` order — the permutation is a pure function of
    * (seed, id): reproducible across runs, resumes, and engines, no RNG
    * state. Changing the seed re-deals every epoch.
    *
    * Scale shape: one wide op — the rows shuffle once into their shard and
    * sort there by a 40-byte (hash, id) key. The payload deliberately RIDES
    * this shuffle: (shard, shard_pos) order is exactly the physical layout
    * an exporter writes (`partitionBy(shard)`, rows pre-sorted), so moving
    * the payload now is the move you'd otherwise pay at write time — no
    * second shuffle, no slim-window-then-join-back detour. Parallelism =
    * nShards; size nShards so a shard's rows fit one task's spill budget.
    * This is the export-side dual of [[stratifiedSample]] (same uniform
    * md5 rank).
    */
  def shuffleShards(df: DataFrame, idCol: String, seed: String, nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val h = md5(concat(lit(seed), col(idCol).cast("string")).cast("binary"))
    val rank32 = conv(substring(h, 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("_h"), col(idCol))
    df.withColumn("_h", h)
      .withColumn("shard", (rank32 % nShards).cast("long"))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .drop("_h")
  }

  /** Rendezvous (highest-random-weight) shard routing — the MINIMAL-
    * MOVEMENT dual of [[shuffleShards]]: each row goes to the shard with
    * the largest md5(shard || '|' || id), so when the shard SET changes
    * (a storage node added, an output fan widened) the only rows that
    * move are the ones the new shard now wins (~1/(n+1) of the corpus);
    * every other row keeps its assignment. A mod-N deal reassigns nearly
    * everything on N -> N+1 — at 100 TB that difference is the whole
    * re-layout bill.
    *
    * Emits every input column + `shard` (the winning name). Row-local
    * (one array HOF over the broadcast-literal shard list), zero shuffle,
    * deterministic and engine-replayable (md5-hex order, name tie-break).
    */
  def rendezvousShard(df: DataFrame, idCol: String, shards: Seq[String]): DataFrame = {
    require(shards.nonEmpty, "shards must be non-empty")
    require(shards.distinct.size == shards.size, "shard names must be unique")
    val arr = array(shards.map(lit): _*)
    val weighted = transform(arr, sh => struct(
      md5(concat(sh, lit("|"), col(idCol).cast("string")).cast("binary")).as("h"),
      sh.as("s")))
    df.withColumn("shard", array_max(weighted).getField("s"))
  }

  /** Consistent-hash RING sharding with virtual nodes (Karger et al.
    * 1997, published method) — the other minimal-movement router next to
    * [[rendezvousShard]]: shards own `vnodesPerShard` md5 positions on a
    * 2^60 ring and a key goes to the SUCCESSOR vnode (smallest position
    * >= the key's position, wrapping to the ring minimum). When a shard
    * is added only the key ranges its vnodes capture move (~1/(n+1) of
    * the corpus, smoothed by the vnodes); rendezvous costs O(shards) per
    * key while the ring costs O(vnodes) per key but gives weighted
    * ownership and range handoff for free — both live here so layout
    * code can pick.
    *
    * Positions are 60-bit md5 prefixes (15 hex chars — positive in an
    * int64, so SIGNED comparisons equal unsigned and any SQL engine
    * replays the ring exactly); vnode position collisions abort at build
    * time rather than silently double-assigning (2^-60-scale event).
    *
    * Emits every input column + `shard` (bigint). Row-local: the sorted
    * ring rides the plan as a literal array (model-sized — shards x
    * vnodes structs), zero shuffle, zero join.
    */
  def consistentShard(df: DataFrame, idCol: String, nShards: Int,
                      vnodesPerShard: Int = 64,
                      seed: String = "ring"): DataFrame = {
    require(nShards >= 1 && vnodesPerShard >= 1, "need shards and vnodes")
    def pos60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val ring = (for {
      sh <- 0 until nShards
      v <- 0 until vnodesPerShard
    } yield (pos60(s"$seed:$sh:$v"), sh.toLong)).sortBy(_._1)
    require(ring.map(_._1).distinct.size == ring.size,
      "vnode position collision — change the seed")
    val keyPos = conv(substring(md5(concat(lit(seed), lit("#"),
      col(idCol).cast("string")).cast("binary")), 1, 15), 16, 10)
      .cast("long")
    // successor lookup is ONE codegen'd binary search over the sorted ring
    // (model-sized arrays riding the expression) — the previous literal
    // array<struct> + interpreted filter/array_min lambda walked all
    // shards*vnodes boxed structs per row and serialized the whole scan
    // stage behind an interpreted projection (q288 bench: ~5 s of
    // single-core eval for 50k rows at 2x320 vnodes)
    df.withColumn("shard", org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.RingSuccessorShard(
        org.apache.spark.sql.graftshim.GraftShim.expression(keyPos),
        ring.map(_._1).toArray, ring.map(_._2).toArray)))
  }

  /** Deterministic mixture upsampling — training-data domain reweighting
    * ("3x Wikipedia, 0.5x CommonCrawl") as a pure function of (seed, id):
    * a row with weight w (FIXED-POINT MILLI, e.g. 2500 = 2.5x) emits
    * floor(w/1000) copies plus one more iff its md5-uniform rank (mod
    * 1000) falls below the fractional part — so expected copies = w/1000
    * exactly, the realized corpus is identical on every run/resume/engine,
    * and changing the seed re-rolls the fractional coin per epoch.
    * Weights < 1000 downsample (w=500 keeps ~half), w=0 drops.
    *
    * Output: one row per emitted copy — every input column + `copy_no`
    * (0-based). Composes with [[shuffleShards]] downstream (shard on
    * (idCol, copy_no)) so copies spread across shards.
    *
    * Scale shape: a narrow flatMap (posexplode of array_repeat) — zero
    * shuffle; output size is sum(w)/1000, decided row-locally. The same
    * md5-rank primitive as [[stratifiedSample]]/[[capPerKey]], so
    * sampling, capping and mixing compose into one reproducible policy.
    */
  def upsampleByWeight(df: DataFrame, idCol: String, weightMilliCol: String,
                       seed: String): DataFrame = {
    val rank = conv(substring(md5(concat(lit(seed), col(idCol).cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("long") % 1000
    val copies = expr(s"cast($weightMilliCol AS bigint) div 1000L") +
      when(rank < col(weightMilliCol) % 1000, 1L).otherwise(0L)
    // Multi-alias the generator output: posexplode's default (pos, col)
    // names would clobber user columns named `pos`/`col` on the
    // rename/drop below.
    df.withColumn("_copies", copies)
      .select(col("*"),
        posexplode(array_repeat(lit(1), col("_copies").cast("int")))
          .as(Seq("copy_no", "_one")))
      .withColumn("copy_no", col("copy_no").cast("long"))
      .drop("_copies", "_one")
  }

  /** Out-of-vocabulary statistics — the cheap LM-free fluency signal: how
    * many of a document's token OCCURRENCES fall outside the corpus's
    * top-`vocabSize` vocabulary (frequency desc, token asc tie-break, so
    * the vocabulary is deterministic). Tokens are the same grammar the
    * simhash/minhash family uses: lowercased `[a-z0-9_']+` runs.
    *
    * Returns one row per input row: (idCol, n_tokens, oov_count) —
    * integers only, so an external oracle reproduces them exactly.
    *
    * Scale shape: token frequency is one map-side-combined hash aggregate
    * over a slim (token) stream; the vocabulary is top-V of it (V rows —
    * corpus-bounded, broadcastable by construction); per-doc counting is
    * the exploded token stream joined against the BROADCAST vocab and
    * re-aggregated by id. The document text never shuffles.
    */
  /** Bigram-coverage fluency — the second-order companion of [[oovStats]]:
    * how many of a document's word BIGRAMS fall inside the corpus's own
    * top-`vocabSize` bigram vocabulary (frequency desc, bigram asc —
    * deterministic at the boundary). Word salad passes a unigram check
    * but fails this one: its word PAIRS are corpus-rare. Integers only
    * (n_bigrams, in_vocab) so the ratio — and any threshold policy — is
    * exactly reproducible.
    *
    * Scale shape: identical to oovStats one order up — bigram frequency is
    * one combiner aggregate over the slim (bigram) stream, the vocabulary
    * is corpus-bounded and BROADCAST, per-doc counting re-aggregates by
    * id; text never shuffles. Zero-bigram docs (0 or 1 words) survive the
    * join-back with zeros.
    */
  def bigramCoverage(df: DataFrame, idCol: String, textCol: String,
                     vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val bgs = df.select(col(idCol), Relevance.words(col(textCol)).as("_w"))
      .select(col(idCol), explode(expr(
        // greatest(.., 0): a 0- or 1-word doc has no bigrams, and slice
        // rejects a negative length outright. The array(_w) let-binding
        // stops CollapseProject from inlining the tokenizer into the
        // lambda (which would re-run it per bigram position).
        """element_at(transform(array(_w), _ww ->
          |  transform(slice(_ww, 1, greatest(size(_ww) - 1, 0)),
          |    (x, i) -> concat(x, ' ', element_at(_ww, i + 2)))), 1)"""
          .stripMargin))
        .as("_bg"))
    val vocab = bgs.groupBy(col("_bg")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("_bg").asc)
      .limit(vocabSize)
      .select(col("_bg"), lit(1).as("_inv"))
    val perDoc = bgs.join(broadcast(vocab), Seq("_bg"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("_inv").isNull, 0L).otherwise(1L)).as("in_vocab"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("in_vocab"), lit(0L)).as("in_vocab"))
  }

  def oovStats(df: DataFrame, idCol: String, textCol: String,
               vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = df.select(col(idCol),
      explode(Relevance.words(col(textCol))).as("_tok"))
    val vocab = toks.groupBy(col("_tok")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("_tok").asc)
      .limit(vocabSize)
      .select(col("_tok"), lit(1).as("_inv"))
    val perDoc = toks.join(broadcast(vocab), Seq("_tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("oov_count"))
    // zero-token documents produce no token rows — join back so every
    // input row is represented (n_tokens = oov_count = 0)
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("oov_count"), lit(0L)).as("oov_count"))
  }

  /** Greedy token-budget corpus selection — "take the best documents until
    * the training budget is spent" as ONE deterministic rule: order the
    * corpus by (scoreCol desc, idCol asc) and keep every row whose
    * INCLUSIVE running token total still fits `budgetTokens`. Emits the
    * audit trail instead of filtering: every input column + `cum_tokens`
    * (the row's inclusive prefix total in that global order) + `kept`;
    * `where(kept)` IS the selected corpus and the rejected rows carry the
    * exact budget position that excluded them.
    *
    * Scale shape — a distributed EXACT prefix sum, never a global
    * single-partition window over the corpus: per-score token totals are
    * one map-side-combined aggregate; the cross-score exclusive offsets
    * are a window over that SCORE-LEVEL table only (scoreCol is
    * contractually a QUANTIZED policy score — tens to thousands of
    * distinct values, so the table is corpus-bounded and BROADCASTS back);
    * the within-score running sum partitions by score. Parallelism of the
    * final window = #distinct scores, so a single hot score value
    * concentrates its rows in one task — quantize no coarser than the
    * policy needs. Ties inside a score break on idCol: the global order
    * (score desc, id asc) is total and engine-independent.
    */
  def selectByTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
                          scoreCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be >= 0")
    val tok = col(tokensCol).cast("long")
    val perScore = df.groupBy(col(scoreCol).as("_s")).agg(sum(tok).as("_stot"))
    // exclusive prefix across scores, descending — score-level rows only
    val offW = Window.orderBy(col("_s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perScore.select(col("_s"),
      coalesce(sum(col("_stot")).over(offW), lit(0L)).as("_off"))
    val inW = Window.partitionBy(col(scoreCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(offsets), col(scoreCol) === col("_s"))
      .withColumn("cum_tokens", (col("_off") + sum(tok).over(inW)).cast("long"))
      .withColumn("kept", col("cum_tokens") <= budgetTokens)
      .drop("_s", "_off")
  }

  /** DSIR-style hashed importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — published method):
    * score each document by how much more likely its tokens are under a
    * TARGET distribution than under the raw corpus, both distributions
    * estimated over `nBuckets` hashed unigram buckets. All arithmetic is
    * fixed-point integer — Laplace-smoothed ratio scaled by `scale`,
    * products carried in decimal(38,0), `div` truncation — so the weights
    * replay bit-for-bit in any engine:
    *
    *   w(b)    = (scale * (target_b + 1) * (rawTotal + nBuckets))
    *             div ((raw_b + 1) * (targetTotal + nBuckets))
    *   imp_sum = sum over token OCCURRENCES of w(bucket(token))
    *
    * `targetCol` is a boolean marking the in-target rows (a trusted
    * high-quality subset); the bucket is the first 32 md5 bits of the
    * token mod nBuckets (the repo's standard oracle-replayable hash).
    * Output: one row per input row — (idCol, n_tokens, imp_sum); rank by
    * imp_sum/n_tokens or feed a normalized imp_sum to
    * [[upsampleByWeight]] as the resampling policy.
    *
    * Scale shape: the token stream is slim (id, bucket, flag); BOTH
    * distributions come from ONE map-side-combined aggregate over it; the
    * weight table is nBuckets rows — BROADCAST; per-doc scoring joins the
    * token stream against that broadcast and re-aggregates by id. Text
    * never shuffles. Overflow audit: scale(1e6) x (t_b+1)(<=1e13) x
    * (rawTotal+nB)(<=1e15) ~ 1e34 < 10^38, so decimal(38,0) carries a
    * 100-TB corpus; the QUOTIENT is ~scale x density-ratio and imp_sum
    * <= n_tokens x max-weight — both comfortably bigint.
    */
  /** Robots-style URL policy — rules are (host, path_prefix, allow) rows;
    * for each page the LONGEST matching path_prefix among its exact-host
    * rules decides (RFC 9309 / Google robots.txt longest-match semantics;
    * on a length tie, deny wins, then the bytewise-largest prefix — a
    * total, engine-independent order; the prefix tie-break can only
    * affect which prefix is REPORTED, never the decision). No matching
    * rule → allowed.
    * Emits every input column + `matched_prefix` (null when no rule
    * matched) + `allowed`; `where(col("allowed"))` filters.
    *
    * Scale shape: ZERO SHUFFLE for the corpus — the policy-sized rule
    * table is packed into ONE broadcast row (collect_list of structs) and
    * the longest-match argmax runs as row-local array HOFs under the
    * broadcast nested-loop join; the page payload never moves. The rule
    * set must be policy-sized (it lives in one array cell); for
    * crawl-scale policies in the millions of rules, join on host first.
    */
  def applyUrlPolicy(df: DataFrame, hostCol: String, pathCol: String,
                     rules: DataFrame): DataFrame = {
    val packed = broadcast(rules.agg(collect_list(struct(
      col("host").cast("string").as("host"),
      col("path_prefix").cast("string").as("path_prefix"),
      col("allow").cast("boolean").as("allow"))).as("_rules")))
    df.crossJoin(packed)
      .withColumn("_best", expr(
        s"""array_max(transform(
           |  filter(_rules, r -> r.host = $hostCol
           |                      AND startswith($pathCol, r.path_prefix)),
           |  r -> struct(length(r.path_prefix) AS l, NOT r.allow AS deny,
           |              r.path_prefix AS p, r.allow AS a)))""".stripMargin))
      .withColumn("matched_prefix", col("_best.p"))
      .withColumn("allowed", coalesce(col("_best.a"), lit(true)))
      .drop("_rules", "_best")
  }

  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        targetCol: String, nBuckets: Int,
                        scale: Long = 1000000L): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(scale > 0, "scale must be positive")
    val toks = df.select(col(idCol), col(targetCol).cast("boolean").as("_tgt"),
        explode(Relevance.words(col(textCol))).as("_tok"))
      .select(col(idCol), col("_tgt"),
        (conv(substring(md5(col("_tok").cast("binary")), 1, 8), 16, 10)
          .cast("long") % nBuckets).as("_b"))
    val counts = toks.groupBy(col("_b")).agg(
      count(lit(1)).as("_raw"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("_t"))
    val totals = counts.agg(sum(col("_raw")).as("_rawTot"), sum(col("_t")).as("_tTot"))
    val weights = counts.crossJoin(broadcast(totals)).select(col("_b"),
      expr(s"""(cast($scale AS decimal(38,0)) * cast(_t + 1 AS decimal(38,0))
              |  * cast(_rawTot + $nBuckets AS decimal(38,0)))
              | div
              |(cast(_raw + 1 AS decimal(38,0))
              |  * cast(_tTot + $nBuckets AS decimal(38,0)))""".stripMargin)
        .as("_w"))
    val perDoc = toks.join(broadcast(weights), Seq("_b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_w")).as("imp_sum"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("imp_sum"), lit(0L)).cast("long").as("imp_sum"))
  }

  /** Rebalance the corpus to a TARGET domain mixture under a token budget
    * (the data-mixing step a training run starts from — DoReMi-lite with
    * given target shares): for each target domain d with share s_d (milli,
    * shares sum to 1000) and corpus token count T_d, the per-document
    * sampling weight is the fixed-point
    *
    *   w_raw_milli(d) = (s_d * budgetTokens) div T_d
    *
    * so the realized expected tokens from d are ~ s_d/1000 * budgetTokens
    * regardless of how over- or under-represented d is in the corpus.
    * Realization uses [[upsampleByWeight]]'s md5 coin — the output corpus
    * is a pure function of (seed, id). Domains absent from `targets` are
    * DROPPED (share 0); scarce domains upsample, abundant ones downsample.
    *
    * `maxWeightMilli` caps runaway upsampling of tiny domains; the cap is
    * NOT silent — both `w_raw_milli` and the applied `w_milli` are emitted
    * so capped domains are visible in the output (and the realized mixture
    * check can attribute the shortfall).
    *
    * Output: input columns + w_raw_milli + w_milli + copy_no.
    *
    * Scale shape: one slim (domain, tokens) aggregate over the corpus; the
    * weight table is domain-count-sized and BROADCAST back; realization is
    * a narrow flatMap. No corpus-sized shuffle anywhere.
    */
  def mixtureToTarget(df: DataFrame, idCol: String, domainCol: String,
                      tokensCol: String, targets: Seq[(String, Long)],
                      budgetTokens: Long, seed: String,
                      maxWeightMilli: Long = 100000L): DataFrame = {
    require(targets.nonEmpty && targets.map(_._2).sum == 1000L,
      "target shares (milli) must sum to 1000")
    require(targets.map(_._1).distinct.size == targets.size,
      "duplicate target domain")
    val spark = df.sparkSession
    import spark.implicits._
    val tgt = targets.toDF(domainCol, "_share_milli")
    val domTok = df.groupBy(col(domainCol))
      .agg(sum(col(tokensCol)).as("_t_dom"))
    val weights = domTok.join(broadcast(tgt), Seq(domainCol))
      // a target domain whose corpus has zero tokens gets weight 0 (its
      // rows drop) rather than a division error — the emitted w_raw_milli
      // makes the unmet target visible
      .withColumn("w_raw_milli", expr(
        s"IF(_t_dom > 0, (_share_milli * ${budgetTokens}L) div _t_dom, 0L)"))
      .withColumn("w_milli", least(col("w_raw_milli"), lit(maxWeightMilli)))
      .select(col(domainCol), col("w_raw_milli"), col("w_milli"))
    upsampleByWeight(df.join(broadcast(weights), Seq(domainCol)),
      idCol, "w_milli", seed)
  }

  /** UT1-style phrase-blocklist gate: count occurrences of each blocklist
    * phrase in each document and flag documents at `blockAt` or more total
    * hits. Phrases are sequences of tokens in the corpus's shared grammar
    * (lowercased `[a-z0-9_']+`); a phrase of L words matches a document's
    * token L-grams EXACTLY — token-boundary-safe by construction, no
    * substring false positives ("ass" never matches "class"), no
    * regex-overlap undercounting.
    *
    * Output: one row per input row — (idCol, n_hits, n_distinct_phrases,
    * blocked).
    *
    * Scale shape: the blocklist is model-sized (UT1 is ~4M entries; far
    * below executor memory as (ngram, length) pairs) and BROADCAST; the
    * document side explodes one L-gram stream per DISTINCT phrase length
    * (typically 1-3), each a narrow projection of the token array —
    * text shuffles never, and the per-doc reduce is map-side combined.
    */
  def blocklistHits(df: DataFrame, idCol: String, textCol: String,
                    phrases: Seq[String], blockAt: Long = 1L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val normed = phrases.map(_.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq)
      .filter(_.nonEmpty).map(ws => (ws.mkString(" "), ws.length)).distinct
    require(normed.nonEmpty, "blocklist must contain at least one phrase")
    val phraseTable = normed.toDF("_phrase", "_len")
    val words = df.select(col(idCol), Relevance.words(col(textCol)).as("_w"))
    val hits = normed.map(_._2).distinct.sorted.map { len =>
      words.where(size(col("_w")) >= len)
        .select(col(idCol), explode(expr(
          // array(_w) let-binding: see bigramCoverage
          s"""element_at(transform(array(_w), _ww ->
             |  transform(sequence(0, size(_ww) - $len),
             |    i -> array_join(slice(_ww, i + 1, $len), ' '))), 1)"""
            .stripMargin))
          .as("_phrase"))
        .join(broadcast(phraseTable.where(col("_len") === len)), Seq("_phrase"))
        .select(col(idCol), col("_phrase"))
    }.reduce(_ unionByName _)
    val perDoc = hits.groupBy(col(idCol)).agg(
      count(lit(1)).as("_n"),
      count_distinct(col("_phrase")).as("_d"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_hits"),
        coalesce(col("_d"), lit(0L)).as("n_distinct_phrases"),
        (coalesce(col("_n"), lit(0L)) >= blockAt).as("blocked"))
  }

  /** SUBSTRING-level blocklist gate over ONE Aho-Corasick automaton —
    * the raw-text complement of [[blocklistHits]]'s token-L-gram join for
    * patterns that are not token-aligned (URLs, obfuscated spellings,
    * scripts without word boundaries). Counts every occurrence of every
    * pattern (overlaps and nested patterns included — AC dictionary
    * semantics) in the LOWERCASED text.
    *
    * Output: one row per input row — (idCol, n_hits, n_patterns_hit,
    * blocked = n_hits >= blockAt).
    *
    * Scale shape: a single narrow projection; per-doc cost is
    * O(|text| + matches) INDEPENDENT of the pattern count (the automaton
    * rides inside the expression like the BPE rank table), so a 100k-entry
    * blocklist costs the same scan as a 10-entry one — no join, no
    * explode, no shuffle, nothing broadcast through the plan.
    */
  def substringBlocklist(df: DataFrame, idCol: String, textCol: String,
                         patterns: Seq[String],
                         blockAt: Long = 1L): DataFrame = {
    val norm = patterns.map(_.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty).distinct
    require(norm.nonEmpty, "blocklist must contain at least one pattern")
    df.select(col(idCol),
        graft.functions.multi_pattern_count(col(textCol), norm).as("_c"))
      .select(col(idCol),
        coalesce(expr("aggregate(_c, 0L, (a, x) -> a + x)"), lit(0L))
          .as("n_hits"),
        coalesce(size(expr("filter(_c, x -> x > 0)")).cast("long"), lit(0L))
          .as("n_patterns_hit"))
      .withColumn("blocked", col("n_hits") >= blockAt)
  }

  /** PER-HOST boilerplate line removal (the CCNet-style complement of the
    * corpus-global line dedup in [[Dedup]]): a line is boilerplate for a
    * host when it appears on at least `fracMilli`/1000 of that host's pages
    * (document frequency, not occurrence count — a line repeated inside ONE
    * page is repetition, not boilerplate) and the host has at least
    * `minPages` pages (tiny hosts can't establish a template). Matching is
    * on the trimmed line; blank/whitespace-only lines are structure and are
    * never removed. The threshold compare is pure int64
    * (`1000 * docFreq >= fracMilli * pages`) — no float ceil ambiguity.
    *
    * Output: (idCol, hostCol, text_clean, n_lines_removed, n_lines_kept)
    * with surviving lines rejoined in original order.
    *
    * Scale shape: the boilerplate set is host-template-sized (lines
    * crossing a 50%-of-pages bar), so the heavy side is the exploded line
    * stream: one distinct+groupBy on slim (host, line-hash-sized) rows for
    * the df counts, a join of exploded lines against the small bad set,
    * and one groupBy(id) reassembly. The full text never shuffles — only
    * its lines, which are the same bytes partitioned finer.
    */
  def stripHostBoilerplate(df: DataFrame, idCol: String, hostCol: String,
                           textCol: String, fracMilli: Long = 500L,
                           minPages: Long = 2L): DataFrame = {
    require(fracMilli > 0 && fracMilli <= 1000, "fracMilli in (0, 1000]")
    val lines = df.select(col(idCol), col(hostCol),
      posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
    val docLine = lines.where(trim(col("line")) =!= "")
      .select(col(hostCol), trim(col("line")).as("_t"), col(idCol)).distinct()
    val pages = df.groupBy(col(hostCol))
      .agg(count_distinct(col(idCol)).as("_pages"))
    val bad = docLine.groupBy(col(hostCol), col("_t"))
      .agg(count(lit(1)).as("_df"))
      .join(pages, Seq(hostCol))
      .where(col("_pages") >= minPages &&
        col("_df") * 1000L >= lit(fracMilli) * col("_pages"))
      .select(col(hostCol).as("_bh"), col("_t"), lit(true).as("_bad"))
    // rename the bad-set's join keys (_bh/_t): lines and bad both descend
    // from df, and same-named refs trip Spark's ambiguous-self-join check
    lines.join(bad, col(hostCol) === col("_bh") &&
        trim(col("line")) === col("_t"), "left")
      .select(col(idCol), col(hostCol), col("line_no"), col("line"),
        coalesce(col("_bad"), lit(false)).as("_bad"))
      .groupBy(col(idCol), col(hostCol))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(!col("_bad"), struct(col("line_no"), col("line"))))),
          s => s("line")), "\n").as("text_clean"),
        sum(when(col("_bad"), 1L).otherwise(0L)).as("n_lines_removed"),
        sum(when(!col("_bad"), 1L).otherwise(0L)).as("n_lines_kept"))
  }

  /** Gopher-style n-gram repetition signals, per document:
    *
    *  - `top_ngram` / `top_cnt`: the most frequent word n-gram (ties to the
    *    lexicographically smallest — deterministic) and its count
    *  - `top_ngram_char_frac`: chars claimed by its occurrences,
    *    `top_cnt * length(top_ngram) / length(text)` — the "fraction of
    *    characters in the most common n-gram" rule
    *  - `dup_ngram_char_frac`: `sum over ngrams with cnt >= 2 of
    *    cnt * length(ngram) / length(text)` — the duplicated-n-gram mass
    *    (occurrence-weighted; overlaps counted per occurrence, the cheap
    *    upper-bound variant of Gopher's position-coverage rule, documented
    *    as such)
    *
    * Words are lowercased non-empty `\s+` splits; n-grams join with single
    * spaces, so every char count is an exact integer and the fractions are
    * single int/int double divisions (oracle-stable). Docs with fewer than
    * n words emit top_cnt = 0 and zero fractions.
    *
    * Scale shape: one explode of the n-gram stream (same bytes as the
    * text, n× replicated) into a (id, ngram) combiner groupBy, then a
    * map-side-combined groupBy(id) reduce — two slim shuffles, the
    * payload text itself never moves.
    */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    require(n >= 1, "n >= 1")
    // sequence(0, size-n) DESCENDS when size < n — guard short docs to an
    // empty gram array (explode drops them; the join-back below restores
    // the row with zeros)
    val grams = df.select(col(idCol), length(col(textCol)).as("_chars"),
      Relevance.spaceTokens(lower(col(textCol))).as("_w"))
      .select(col(idCol), col("_chars"), explode(expr(
        // array(_w) let-binding: see bigramCoverage
        s"""element_at(transform(array(_w), _ww ->
           |  CASE WHEN size(_ww) >= $n
           |  THEN transform(sequence(0, size(_ww) - $n),
           |                 i -> array_join(slice(_ww, i + 1, $n), ' '))
           |  ELSE array() END), 1)""".stripMargin)).as("_g"))
    val counted = grams.groupBy(col(idCol), col("_chars"), col("_g"))
      .agg(count(lit(1)).as("_cnt"))
    // top gram = min over (-cnt, gram): struct comparison is field-wise
    // lexicographic, so this is max count with ties to the SMALLEST gram
    val perDoc = counted.groupBy(col(idCol), col("_chars")).agg(
      min(struct((-col("_cnt")).as("_nc"), col("_g"))).as("_m"),
      sum(when(col("_cnt") >= 2, col("_cnt") * length(col("_g")))
        .otherwise(0L)).as("_dupchars"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("_m")("_g").as("top_ngram"),
        coalesce(-col("_m")("_nc"), lit(0L)).as("top_cnt"),
        coalesce((-col("_m")("_nc")) * length(col("_m")("_g"))
          / col("_chars"), lit(0.0)).as("top_ngram_char_frac"),
        coalesce(col("_dupchars") / col("_chars"), lit(0.0))
          .as("dup_ngram_char_frac"))
  }

  /** Flesch reading-ease from three regexp counts — the classical
    * readability gate (low = academic/dense, high = simple prose; garbage
    * text lands far outside [0, 100] in either direction):
    *
    *   206.835 - 1.015 * words/sentences - 84.6 * syllables/words
    *
    * with words = `\S+` runs, sentences = `[.!?]+` runs (min 1), syllables
    * approximated as `[aeiouy]+` vowel-group runs in the lowercased text
    * (min 1) — the standard cheap heuristic; all three are exact integer
    * counts and the score is row-local double arithmetic, so any regex
    * engine agreeing on the counts reproduces the score bit-for-bit.
    * Zero-word rows emit null score.
    *
    * Scale shape: narrow per-row map over the scan, fully codegen'd, zero
    * shuffles.
    */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val w = regexp_count(t, lit("\\S+"))
    val s = greatest(regexp_count(t, lit("[.!?]+")), lit(1))
    val y = greatest(regexp_count(lower(t), lit("[aeiouy]+")), lit(1))
    df.withColumn("n_words", w.cast("long"))
      .withColumn("n_sentences", s.cast("long"))
      .withColumn("n_syllables", y.cast("long"))
      .withColumn("flesch",
        when(w > 0, lit(206.835)
          - lit(1.015) * (w.cast("double") / s.cast("double"))
          - lit(84.6) * (y.cast("double") / w.cast("double"))))
  }

  /** Lexical-diversity signals per document — the vocabulary-richness
    * complement of the repetition gates (machine-generated spam shows LOW
    * type/token ratio at normal length; keyword-stuffed pages show high
    * hapax mass of gibberish):
    *
    *   n_tokens    = lowercased non-empty `\s+` word occurrences
    *   n_types     = distinct words
    *   n_hapax     = words occurring exactly once
    *   ttr         = n_types / n_tokens        (type/token ratio)
    *   hapax_frac  = n_hapax / n_types
    *
    * Counts are exact integers; the two fractions are single int/int double
    * divisions (oracle-stable). Wordless docs emit all-zero counts and 0.0
    * fractions.
    *
    * Scale shape: one explode of the word stream into a (id, word)
    * combiner groupBy, then a map-side-combined groupBy(id) reduce — two
    * slim shuffles of word-sized rows; the document text never moves.
    */
  def lexicalDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df.select(col(idCol),
        explode(Relevance.spaceTokens(lower(col(textCol)))).as("_w"))
    val typed = words.groupBy(col(idCol), col("_w")).agg(count(lit(1)).as("_cnt"))
    val perDoc = typed.groupBy(col(idCol)).agg(
      sum(col("_cnt")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(when(col("_cnt") === 1L, 1L).otherwise(0L)).as("n_hapax"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        coalesce(col("n_types").cast("double") / col("n_tokens"), lit(0.0)).as("ttr"),
        coalesce(col("n_hapax").cast("double") / col("n_types"), lit(0.0)).as("hapax_frac"))
  }

  /** Mojibake tokens detected by [[encodingArtifacts]]: the UTF-8 bytes of
    * common non-ASCII chars re-decoded as Latin-1 — the classic
    * double-encoding crawl defect. Every alternative is a fixed literal and
    * no alternative is a prefix of another, so leftmost-first (Java regex)
    * and leftmost-longest (RE2) engines count identical non-overlapping
    * matches.
    */
  val MojibakePattern: String =
    "Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã±|Ã³|Ã¡|Ã§|â€™|â€œ|â€“|â€”|Â°|Â»|Â«"

  /** Encoding-artifact detection — the "was this page decoded with the
    * wrong charset?" gate of web-corpus cleaning. Three exact integer
    * counts plus an int64-threshold flag:
    *
    *   n_mojibake    = occurrences of [[MojibakePattern]] literals
    *   n_replacement = U+FFFD replacement characters (decoder gave up)
    *   n_ctrl        = C0 control chars other than tab/newline/CR
    *   suspect       = sum > 0 AND 1000 * sum >= perMilli * n_chars
    *                   (pure int64 compare — no float threshold ambiguity;
    *                    clean and empty docs are never suspect, even at
    *                    perMilli = 0)
    *
    * Scale shape: narrow per-row regexp counting over the scan, fully
    * codegen'd, zero shuffles.
    */
  /** WEIGHTED sampling via priority sampling (Duffield-Lund-Thorup): each
    * row draws a deterministic 60-bit uniform integer u from md5(id) and
    * gets priority u div weight (int64 division); the k smallest priorities
    * are the sample. P(selected) is approximately proportional to weight
    * (exactly the DLT priority-sampling scheme with integer-quantized
    * uniforms), the draw is a pure function of the id — reproducible
    * run-to-run, engine-to-engine, resume-safe — and unlike float
    * u^(1/w) exponential races there is no transcendental whose last ulp
    * could flip a boundary row between engines. Ties (same priority) break
    * on id, so the cut is total.
    *
    * Weights are clamped to >= 1 (a zero/negative weight would divide by
    * zero or invert the order); rows keep (id, weight, priority) so the
    * caller can audit the threshold tau = (k+1)-th priority if needed.
    *
    * Scale shape: a narrow per-row projection (md5 + integer div) then
    * orderBy(...).limit(k) — Spark executes TakeOrdered (per-partition
    * top-k, merge on the driver of k-sized heaps), never a global sort.
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 15),
      16, 10).cast("long")
    val w = greatest(col(weightCol).cast("long"), lit(1L))
    df.select(col(idCol), w.as("weight"), u.as("_u"))
      .withColumn("priority", expr("_u div weight"))
      .drop("_u")
      .orderBy(col("priority").asc, col(idCol).asc)
      .limit(k)
  }

  def encodingArtifacts(df: DataFrame, textCol: String,
                        perMilli: Long = 5L): DataFrame = {
    require(perMilli >= 0, "perMilli >= 0")
    val t = col(textCol)
    val moji = regexp_count(t, lit(MojibakePattern)).cast("long")
    val repl = regexp_count(t, lit("�")).cast("long")
    val ctrl = regexp_count(t,
      lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")).cast("long")
    df.withColumn("n_mojibake", moji)
      .withColumn("n_replacement", repl)
      .withColumn("n_ctrl", ctrl)
      .withColumn("suspect", {
        val total = col("n_mojibake") + col("n_replacement") + col("n_ctrl")
        total > 0L && total * 1000L >= lit(perMilli) * length(t).cast("long")
      })
  }

  /** CSV parsing with a QUARANTINE channel — the ingestion contract for
    * third-party delimited drops: every line parses PERMISSIVEly against
    * `schemaDdl` (e.g. "id LONG, lang STRING, n INT"); a malformed line
    * (type mismatch, short row, broken quoting) keeps whatever prefix
    * parsed, NULLs the rest, preserves the raw line in `_corrupt`, and
    * flags `quarantined = true` — nothing is
    * silently dropped, and the quarantine table is replayable after a
    * schema fix. The good rows flow on typed.
    *
    * Scale shape: `from_csv` is a codegen'd row-local expression over the
    * scan — narrow map, zero shuffle, no UDF; split good/quarantined with
    * two filters downstream (both pushed to the scan).
    */
  def csvQuarantine(df: DataFrame, textCol: String, schemaDdl: String,
                    options: Map[String, String] = Map.empty): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
      .add("_corrupt", org.apache.spark.sql.types.StringType)
    val opts = options ++ Map(
      "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")
    df.withColumn("_p", from_csv(col(textCol), schema, opts))
      .select(df.columns.map(col) :+ col("_p.*"): _*)
      .withColumn("quarantined", col("_corrupt").isNotNull)
  }

  /** Unicode-script mix per document: counts of code points in EXPLICIT
    * BMP ranges (Latin letters, digits, Cyrillic U+0400–04FF, Greek
    * U+0370–03FF, Han U+4E00–9FFF, Arabic U+0600–06FF) plus the
    * latin+cyrillic co-occurrence flag — the homoglyph-spoofing / wrong-
    * language-fragment signal a lang-id score alone hides (a page can be
    * 95% English and still carry a Cyrillic payload). Fixed ranges, not
    * `\p{script=}` classes, so every regex engine agrees on membership.
    *
    * Scale shape: pure codegen'd regexp_count over the scan — narrow map,
    * zero shuffle, no UDF.
    */
  def scriptMix(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(pattern: String): Column = regexp_count(t, lit(pattern)).cast("long")
    df.withColumn("n_latin", cnt("[A-Za-z]"))
      .withColumn("n_digit", cnt("[0-9]"))
      .withColumn("n_cyrillic", cnt("[\\u0400-\\u04FF]"))
      .withColumn("n_greek", cnt("[\\u0370-\\u03FF]"))
      .withColumn("n_han", cnt("[\\u4E00-\\u9FFF]"))
      .withColumn("n_arabic", cnt("[\\u0600-\\u06FF]"))
      .withColumn("mixed_latin_cyrillic",
        col("n_latin") > 0L && col("n_cyrillic") > 0L)
  }
}
