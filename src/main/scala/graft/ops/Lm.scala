package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical language-model operators for corpus curation: a fixed-point
  * smoothed bigram LM (the CCNet-style "score every page against a clean
  * reference corpus" filter), a distributed BPE merge trainer (tokenizer
  * construction over the corpus's own word distribution), and linear
  * classifier inference over hashed features (the fastText-style quality
  * gate).
  *
  * All scores are EXACT-INTEGER in the same spirit as [[Relevance]] and
  * [[Graph.pageRankInt]]: the smoothed conditional probability is the
  * fixed-point rational `(scale * (c2+1)) div (c1+V)` rather than a float,
  * and the per-document score aggregates those integers — so the result is
  * independent of partitioning and fold order, and an external SQL oracle
  * reproduces it bit-for-bit. A float `log p` cross-entropy costs nothing
  * more at runtime but `ln` is not correctly-rounded across libm
  * implementations; callers that want log-space perplexity apply it to the
  * emitted integers. The linear-probability score preserves the filtering
  * property that matters: fluent text (frequent transitions) scores high,
  * gibberish and boilerplate-mangled text scores low.
  */
object Lm {

  /** Fixed-point probability scale: p_fp in [0, Scale] represents
    * p in [0, 1]. With per-bigram joint values n * p_fp summed per
    * document, callers must keep maxDocTokens * Scale within int64 —
    * ample at Scale = 1e6.
    */
  val Scale: Long = 1000000L

  private def words(df: DataFrame, idCol: String, textCol: String) =
    graft.ops.Fanout.ensure(df).select(col(idCol), Relevance.words(col(textCol)).as("_w"))

  /** Per-document fluency under an add-one-smoothed bigram LM trained on
    * `lmDf` (defaults to `df` itself — self-scoring; production passes the
    * clean reference split, e.g. the target-language Wikipedia analog, and
    * scores the whole crawl against it).
    *
    * Model: for each adjacent token pair (w1, w2) in a document,
    *
    *   p_fp(w2|w1) = (scale * (c2(w1 w2) + 1)) div (c1(w1) + V)
    *
    * where c2 = corpus count of the bigram in the LM corpus, c1 = count of
    * w1 as a bigram CONTEXT (sum of c2 over bigrams starting with w1), and
    * V = distinct-token vocabulary size of the LM corpus. Unseen bigrams
    * and unseen contexts take the smoothed floor (scale * 1) div (0 + V) —
    * the standard Laplace estimate, exercised whenever the scored corpus
    * contains tokens the LM corpus lacks.
    *
    * Output, one row per input row (docs with < 2 tokens score zero):
    *   (idCol, n_bigrams, p_sum, p_min, n_rare)
    * where p_sum = sum over the doc's bigram OCCURRENCES of p_fp (so
    * p_sum/n_bigrams is the mean transition probability — the fluency
    * score), p_min = the most surprising transition (0 when no bigrams),
    * and n_rare = occurrences with p_fp < rareBelow (the "how much of this
    * page is gibberish" counter).
    *
    * Scale shape: both corpora reduce to slim (id, bigram) streams — text
    * never shuffles. The LM side collapses to a bigram-type-bounded count
    * table; c1 and the doc-side join are derived FROM that table (no
    * second pass over the LM corpus). The scored side pre-aggregates per
    * (doc, bigram) so the count-table join carries distinct pairs, not
    * occurrences. V rides a broadcast 1-row aggregate — the whole job is
    * one lazy plan, no driver action. At 10^12 docs the bigram-count join
    * is a shuffle equi-join on the bigram key (the table is far too big to
    * broadcast, and AQE handles the head-word skew).
    */
  def bigramFluency(df: DataFrame, idCol: String, textCol: String,
                    lmDf: Option[DataFrame] = None,
                    scale: Long = Scale,
                    rareBelow: Long = Scale / 1000L): DataFrame = {
    require(scale > 0, "scale must be positive")
    val lmWords = words(lmDf.getOrElse(df), idCol, textCol)
    val lmBigrams = lmWords.where(size(col("_w")) >= 2)
      .select(explode(expr(
        """element_at(transform(array(_w), _ww ->
          |  transform(sequence(0, size(_ww) - 2),
          |    i -> struct(_ww[i] AS w1,
          |                concat(_ww[i], ' ', _ww[i + 1]) AS b))), 1)"""
          .stripMargin))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.b").as("b"))
    val c2 = lmBigrams.groupBy(col("b")).agg(count(lit(1)).as("c2"))
    val c1 = c2.select(split(col("b"), " ", 2).getItem(0).as("w1"), col("c2"))
      .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocab = lmWords.select(explode(col("_w")).as("t"))
      .agg(count_distinct(col("t")).as("v"))

    val docWords = words(df, idCol, textCol)
    val docBigrams = docWords.where(size(col("_w")) >= 2)
      .select(col(idCol), explode(expr(
        """element_at(transform(array(_w), _ww ->
          |  transform(sequence(0, size(_ww) - 2),
          |    i -> struct(_ww[i] AS w1,
          |                concat(_ww[i], ' ', _ww[i + 1]) AS b))), 1)"""
          .stripMargin))
        .as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.b").as("b"))
      .groupBy(col(idCol), col("w1"), col("b"))
      .agg(count(lit(1)).as("n"))

    val scored = docBigrams
      .join(c2, Seq("b"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("p_fp", expr(
        s"(${scale}L * (coalesce(c2, 0L) + 1L)) div (coalesce(c1, 0L) + v)"))
    val perDoc = scored.groupBy(col(idCol)).agg(
      sum(col("n")).as("_nb"),
      sum(col("n") * col("p_fp")).as("_ps"),
      min(col("p_fp")).as("_pm"),
      sum(when(col("p_fp") < rareBelow, col("n")).otherwise(0L)).as("_nr"))

    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("_ps"), lit(0L)).as("p_sum"),
        coalesce(col("_pm"), lit(0L)).as("p_min"),
        coalesce(col("_nr"), lit(0L)).as("n_rare"))
  }

  /** Corpus-weighted symbol-pair statistics for one BPE round: every word
    * in the token grammar is split into single-character symbols and each
    * adjacent symbol pair is counted weighted by the word's corpus
    * frequency. Output: (pair, freq) where pair = "a b" (symbols are
    * single characters at round 1, so the space join is unambiguous).
    *
    * Scale shape: the corpus reduces to a word-frequency table (one
    * map-side-combined aggregate over the token stream); the pair explode
    * runs over the VOCABULARY, not the corpus — at web scale the vocab is
    * orders of magnitude smaller than the token stream.
    */
  def bpePairStats(df: DataFrame, textCol: String): DataFrame =
    pairStats(wordTable(df, textCol))

  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Relevance.words(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))

  private def pairStats(vocab: DataFrame): DataFrame =
    vocab.where(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms) - 2), i -> concat(syms[i], ' ', syms[i + 1]))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("freq"))

  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Train `nMerges` BPE merges over the corpus word distribution: each
    * round picks the most frequent adjacent symbol pair (ties broken by
    * pair text ascending — the trainer is deterministic) and rewrites
    * every word's segmentation with the standard greedy left-to-right
    * merge (a fold: if the accumulated tail equals the pair's left symbol
    * and the next symbol is the right, replace the tail with the merged
    * symbol — so "aaa" under merge (a,a) becomes [aa, a], never [a, aa]).
    *
    * Returns the learned merges in order with their frequencies at
    * selection time. Stops early when no pair reaches `minFreq`.
    *
    * Scale shape: the iteration state is the VOCAB table (word, freq,
    * syms) — corpus text is touched exactly once to build it. Each round
    * is one vocab-sized aggregate plus a 1-row argmax collect (the merge
    * decision is inherently global and tiny) plus a narrow rewrite. The
    * vocab is cached and re-cached every round so lineage stays one step
    * deep across hundreds of merges.
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int,
               minFreq: Long = 1L,
               localizeMaxVocab: Long = 2000000L): Seq[(String, String, Long)] = {
    require(nMerges >= 0, "nMerges must be non-negative")
    // The iteration state is the VOCAB (word, freq) table — bounded by the
    // corpus's distinct-word count, not its size. When it fits the driver
    // (localizeMaxVocab rows; ~100 MB at the default), training runs
    // locally with INCREMENTAL pair counts + a lazy-deletion heap: no
    // 1-Spark-job-per-merge, so 30k merges cost 30k heap pops, not 30k
    // jobs. The distributed round loop below remains the fallback for
    // larger-than-driver vocabularies; both paths are bit-identical
    // (same argmax, same (freq desc, pair asc) tie-break — pinned by
    // LmSpec's local-vs-distributed equality case).
    val vocab0 = wordTable(df, textCol)
    if (localizeMaxVocab > 0) {
      // ONE probe job decides AND delivers: collect limit(maxVocab + 1)
      // directly — when the vocab fits, that limit IS the whole vocab, so
      // the previous limit().count() + collect() pair re-ran the wordTable
      // aggregation twice for nothing (round-5 ADVICE item 4); when it
      // does not fit, the oversized probe is discarded and the
      // distributed loop below starts from the same vocab0 plan
      val probe = math.min(localizeMaxVocab + 1, Int.MaxValue.toLong).toInt
      val probed = vocab0.select(col("w"), col("freq")).limit(probe).collect()
      if (probed.length <= localizeMaxVocab)
        return bpeTrainLocal(
          probed.map(r => (r.getString(0), r.getLong(1))), nMerges, minFreq)
    }
    // eager localCheckpoint rather than persist+count: each merge round's
    // frame becomes an RDD leaf, so plan size stays flat across rounds
    // (the bfsDepth/hitsInt AQE-replanning lesson)
    var vocab = vocab0.localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    try {
      var round = 0
      var done = false
      while (round < nMerges && !done) {
        val top = pairStats(vocab)
          .orderBy(col("freq").desc, col("pair").asc)
          .limit(1).collect()
        if (top.isEmpty || top(0).getLong(1) < minFreq) { done = true }
        else {
          val parts = top(0).getString(0).split(" ", 2)
          val (a, b, f) = (parts(0), parts(1), top(0).getLong(1))
          merges += ((a, b, f))
          val (la, lb, lab) = (sqlLit(a), sqlLit(b), sqlLit(a + b))
          // nested IF, not AND: the outer guard must short-circuit so
          // element_at never sees an empty array under ANSI mode
          val next = vocab.withColumn("syms", expr(
            s"""aggregate(syms, cast(array() AS array<string>), (acc, x) ->
               |  IF(size(acc) = 0, array(x),
               |     IF(element_at(acc, -1) = $la AND x = $lb,
               |        concat(slice(acc, 1, size(acc) - 1), array($lab)),
               |        concat(acc, array(x)))))""".stripMargin)).localCheckpoint()
          vocab.unpersist()
          vocab = next
          round += 1
        }
      }
      merges.toSeq
    } finally vocab.unpersist()
  }

  /** Driver-local exact BPE trainer over a collected (word, freq) vocab —
    * the classic incremental algorithm (public Sennrich `learn_bpe.py`
    * shape): adjacent-pair counts are maintained as deltas when a merge
    * rewrites only the words that CONTAIN its pair, and the argmax comes
    * from a max-heap with lazy deletion (stale entries are skipped when
    * their stored count no longer matches). Identical output to the
    * distributed round loop: same greedy left-to-right merge pass, same
    * (freq desc, pair text asc) tie-break, same minFreq stop.
    */
  private def bpeTrainLocal(vocab: Array[(String, Long)], nMerges: Int,
                            minFreq: Long): Seq[(String, String, Long)] = {
    import scala.collection.mutable
    val syms = vocab.map { case (w, _) =>
      val a = new Array[String](w.length)
      var i = 0
      while (i < w.length) { a(i) = String.valueOf(w.charAt(i)); i += 1 }
      a
    }
    val freqs = vocab.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val inWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def wordPairs(a: Array[String]): Iterator[(String, String)] =
      (0 until a.length - 1).iterator.map(i => (a(i), a(i + 1)))
    syms.zipWithIndex.foreach { case (a, wi) =>
      wordPairs(a).foreach { p =>
        counts.updateWith(p) { c => Some(c.getOrElse(0L) + freqs(wi)) }
        inWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
      }
    }
    // max-heap: freq desc, then pair text ("a b") ascending — x ranks
    // below y when its freq is lower, or equal-freq with later pair text
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](
      Ordering.fromLessThan { (x, y) =>
        x._1 < y._1 || (x._1 == y._1 &&
          (x._2 + " " + x._3) > (y._2 + " " + y._3))
      })
    counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    while (out.size < nMerges && heap.nonEmpty) {
      val (f, a, b) = heap.dequeue()
      val cur = counts.getOrElse((a, b), 0L)
      if (cur == f && f >= minFreq) {
        out += ((a, b, f))
        val pair = (a, b)
        val merged = a + b
        val affected = inWords.getOrElse(pair, mutable.BitSet.empty).toArray
        affected.foreach { wi =>
          val oldSyms = syms(wi)
          // one greedy left-to-right pass (identical to the fold / kernel)
          val next = new Array[String](oldSyms.length)
          var outLen = 0
          var k = 0
          while (k < oldSyms.length) {
            if (k < oldSyms.length - 1 && oldSyms(k) == a && oldSyms(k + 1) == b) {
              next(outLen) = merged; k += 2
            } else { next(outLen) = oldSyms(k); k += 1 }
            outLen += 1
          }
          val newSyms = java.util.Arrays.copyOf(next, outLen)
          // delta the pair counts: -old adjacencies, +new adjacencies
          val delta = mutable.HashMap.empty[(String, String), Long]
          wordPairs(oldSyms).foreach(p => delta.updateWith(p)(c => Some(c.getOrElse(0L) - freqs(wi))))
          wordPairs(newSyms).foreach(p => delta.updateWith(p)(c => Some(c.getOrElse(0L) + freqs(wi))))
          delta.foreach { case (p, d) =>
            if (d != 0L) {
              val nc = counts.getOrElse(p, 0L) + d
              if (nc <= 0L) counts.remove(p) else counts.update(p, nc)
              if (nc > 0L) heap.enqueue((nc, p._1, p._2))
            }
          }
          // membership: drop words that lost a pair, add ones that gained
          delta.keysIterator.foreach { p =>
            val has = {
              var found = false
              var k2 = 0
              while (!found && k2 < newSyms.length - 1) {
                found = newSyms(k2) == p._1 && newSyms(k2 + 1) == p._2
                k2 += 1
              }
              found
            }
            if (has) inWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
            else inWords.get(p).foreach(_ -= wi)
          }
          syms(wi) = newSyms
        }
        counts.remove(pair)
        inWords.remove(pair)
      } else if (cur > 0L && cur != f) {
        // stale entry: the live count was re-enqueued when it changed
      } else if (cur == f && f < minFreq) {
        // heap max is below minFreq: nothing better remains
        return out.toSeq
      }
    }
    out.toSeq
  }

  /** Segment each document's words with a fixed merge list (the BPE
    * ENCODER half — exact, not the estimator [[graft.core.TextKernels]]
    * ships for cheap counting) and emit per-document subword statistics:
    *   (idCol, n_words, n_subwords, n_single_chars)
    * n_subwords is the real token count under this tokenizer; a
    * high n_single_chars/n_subwords ratio marks out-of-distribution text
    * (the merges never fire on it).
    *
    * Scale shape: narrow per-row work through ONE
    * [[graft.functions.BpeSegmentWords]] kernel holding the whole
    * merge-rank table — per-word cost is bounded by word length and
    * independent of the merge count (a production tokenizer's 30k-100k
    * merges costs the same per word as 3), and the expression tree stays
    * constant-size so Catalyst analysis never degrades with vocabulary.
    * Semantics are bit-identical to the sequential merge-by-merge greedy
    * fold for training-ordered merge lists (enforced; see the kernel's
    * proof sketch).
    */
  def bpeSegmentStats(df: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(String, String)]): DataFrame = {
    words(df, idCol, textCol)
      .withColumn("_segs", graft.functions.bpe_segment_words(col("_w"), merges))
      .select(col(idCol),
        size(col("_w")).cast("long").as("n_words"),
        coalesce(expr("aggregate(_segs, 0L, (acc, s) -> acc + size(s))"), lit(0L))
          .as("n_subwords"),
        coalesce(expr(
          "aggregate(_segs, 0L, (acc, s) -> acc + size(filter(s, y -> length(y) = 1)))"),
          lit(0L)).as("n_single_chars"))
  }

  /** Linear classifier inference over a sparse feature table — the
    * fastText-style quality/topic gate: score(doc) = sum over the doc's
    * feature buckets of value * weight, label = score > 0. `features` is
    * (idCol, bucketCol, valueCol) as produced by
    * [[Relevance.hashedFeatures]]; `weights` is (bucketCol, weightCol),
    * model-sized. `ids` is the full document set so featureless docs
    * score 0 rather than vanish.
    *
    * Scale shape: the weight table is a few thousand to a few million
    * rows regardless of corpus size — broadcast by construction, so the
    * scoring pass adds NO shuffle beyond the feature aggregate itself,
    * and the per-doc reduce is map-side combined.
    */
  def linearScore(ids: DataFrame, features: DataFrame, weights: DataFrame,
                  idCol: String, bucketCol: String = "bucket",
                  valueCol: String = "value",
                  weightCol: String = "weight"): DataFrame = {
    val scored = features.join(broadcast(weights), Seq(bucketCol))
      .groupBy(col(idCol))
      .agg(sum(col(valueCol) * col(weightCol)).as("_sc"))
    ids.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_sc"), lit(0L)).as("score"),
        (coalesce(col("_sc"), lit(0L)) > 0L).as("label"))
  }

  /** Vocabulary coverage curve: for each candidate vocab size k, the share
    * of corpus token MASS covered by the k most frequent word types —
    * the sizing signal for a tokenizer vocabulary ("32k types cover
    * 99.2%; doubling to 64k buys 0.3 points"). Exact integers
    * throughout; coverage is one double division per requested size.
    *
    * Scale shape: one combiner-friendly token-count aggregate (the only
    * corpus-volume shuffle), a 1-row totals broadcast, and a
    * TakeOrdered top-max(sizes) (per-partition heaps + driver-side-free
    * merge — never a full sort of the type table). The rank window that
    * follows is single-partition by construction but runs over AT MOST
    * max(sizes) rows — the requested curve depth, not the vocabulary.
    * Ties at the boundary break (freq desc, token asc), so the curve is
    * deterministic. Sizes larger than the observed type count clamp to
    * full coverage.
    *
    * Returns (vocab_size, covered_tokens, total_tokens, coverage).
    */
  def vocabCoverage(df: DataFrame, textCol: String, sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 1) &&
      sizes.distinct.size == sizes.size, "sizes must be positive and distinct")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("_n"))
    val tot = counts.agg(sum(col("_n")).cast("long").as("_T"),
      count(lit(1)).as("_nt"))
    val top = counts.orderBy(col("_n").desc, col("tok").asc).limit(sizes.max)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_n").desc, col("tok").asc)
    val cum = top.withColumn("_rk", row_number().over(w))
      .withColumn("_cn", sum(col("_n")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    sizes.map(_.toLong).toDF("vocab_size")
      .crossJoin(broadcast(tot))
      .join(cum, col("_rk") === least(col("vocab_size"), col("_nt")))
      .select(col("vocab_size"), col("_cn").as("covered_tokens"),
        col("_T").as("total_tokens"),
        (col("_cn").cast("double") / col("_T").cast("double")).as("coverage"))
  }

  /** Deterministic word dropout — the masking-style augmentation a
    * contrastive/denoising pretraining pipeline applies, with zero RNG
    * state: token position i of row id drops iff the
    * [[graft.ops.Reporting.dpCounts]]-style md5 draw on
    * (id, i, seed) lands on 0 mod `dropOneIn`. The draw keys on POSITION,
    * not token text, so any engine replays it without agreeing on string
    * hashing. Runs as one positional `filter` HOF per row — narrow,
    * codegen'd, zero shuffle.
    *
    * Output: input + n_tokens, n_kept, text_out (kept tokens re-joined by
    * single spaces). */
  def wordDropout(df: DataFrame, idCol: String, textCol: String,
                  dropOneIn: Int, seed: String): DataFrame = {
    require(dropOneIn >= 2, "dropOneIn must be >= 2")
    val toks = Relevance.spaceTokens(col(textCol))
    val kept = filter(toks, (_, i) =>
      conv(substring(md5(concat_ws("",
        col(idCol).cast("string"), i.cast("string"), lit(seed))
        .cast("binary")), 1, 8), 16, 10).cast("long") % dropOneIn =!= 0)
    df.withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_kept", size(kept).cast("long"))
      .withColumn("text_out", array_join(kept, " "))
  }

  /** Deterministic negative sampling over a DENSE id space [0, n): each
    * anchor id draws `k` negatives, draw j being the md5 integer of
    * (id, j, seed) mod n, with the accidental-positive collision resolved
    * by a +1 (mod n) probe — pure arithmetic, exact replay anywhere, and
    * at corpus scale a narrow `k`-way explode with no join and no
    * shuffle (the id-space size arrives by broadcast).
    *
    * Contract: ids must be dense 0..n−1 (the natural state after
    * [[graft.ops.Curation.shuffleShards]]-style reindexing); `n` is
    * computed from the corpus. Output: idCol, neg_rank (1..k), neg_id.
    */
  def negativeSamples(df: DataFrame, idCol: String, k: Int,
                      seed: String): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val n = df.agg(count(lit(1)).as("_n"))
    val draws = df.select(col(idCol))
      .crossJoin(broadcast(n))
      .withColumn("neg_rank", explode(sequence(lit(1L), lit(k.toLong))))
    val raw = conv(substring(md5(concat_ws("",
      col(idCol).cast("string"), col("neg_rank").cast("string"), lit(seed))
      .cast("binary")), 1, 12), 16, 10).cast("long") % col("_n")
    draws
      .withColumn("_raw", raw)
      .withColumn("neg_id",
        when(col("_raw") === col(idCol).cast("long"),
          (col("_raw") + 1) % col("_n")).otherwise(col("_raw")))
      .select(col(idCol), col("neg_rank"), col("neg_id"))
  }
}
