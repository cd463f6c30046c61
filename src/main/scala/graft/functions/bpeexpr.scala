package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Production-scale BPE encoding kernel: the per-word merge loop with the
  * WHOLE merge-rank table held inside one expression, so per-word cost is
  * bounded by the word length alone — INDEPENDENT of the merge count.
  *
  * The previous encoder compiled one nested `aggregate(...)` fold per merge
  * (expression depth and per-word cost O(#merges) — fine for a handful of
  * merges, fatal for a production tokenizer's 30k-100k). This kernel is the
  * standard encoder loop instead (the shape every production BPE encoder
  * uses, e.g. the public GPT-2 `encoder.py` / Sennrich's `apply_bpe.py`):
  *
  *   repeat: find the LOWEST-RANK bigram present in the word (one scan with
  *   O(1) hash probes), then merge all its occurrences left-to-right in one
  *   pass; stop when no bigram has a rank.
  *
  * Each round shortens the word, so the per-word cost is O(len²) hash
  * probes worst case (len = word length, typically < 20 for `[a-z0-9_']+`
  * tokens) and ZERO dependence on the merge-table size.
  *
  * EXACT-SEMANTICS CONTRACT (pinned by LmSpec's chaining cases): the result
  * is bit-identical to applying the merges ONE AT A TIME in training order,
  * each as the greedy left-to-right fold, PROVIDED the merge list is
  * training-ordered — every merge's two input symbols are single characters
  * or the output of a strictly EARLIER merge ([[BpeKernel.requireTrainingOrdered]]
  * enforces this; `Lm.bpeTrain` output satisfies it by construction).
  * Proof sketch of the equivalence under that contract:
  *   1. Merging pair (a,b) → ab only creates adjacencies involving the new
  *      symbol ab; pairs of two OLD symbols are only ever destroyed.
  *   2. ab is the output of merge r, so by the contract any merge consuming
  *      ab has rank > r: a merge of rank q < r can never become newly
  *      applicable once the minimum present rank has reached r.
  *   3. Hence the min-rank loop fires ranks in strictly increasing order,
  *      and its state when the minimum present rank is r equals the
  *      sequential state after merges 0..r-1.
  *   4. Within one rank, a single left-to-right pass cannot create new
  *      occurrences of its own pair (that would need ab == a or ab == b,
  *      impossible by length), so one pass ≡ the greedy fold of that merge.
  */
object BpeKernel {

  /** Separator for pair keys: a space cannot occur inside `[a-z0-9_']+`
    * word symbols, so `a + Sep + b` is collision-free (bpeTrain's own
    * "a b" pair-text convention).
    */
  private final val Sep = ' '

  /** Validate the training-ordered contract (see class doc): each merge's
    * symbols must be single chars or outputs of strictly earlier merges.
    */
  def requireTrainingOrdered(merges: Seq[(String, String)]): Unit = {
    val outputs = new java.util.HashSet[String]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      require(a.nonEmpty && b.nonEmpty, s"merge $i: empty symbol")
      require(a.length == 1 || outputs.contains(a),
        s"merge $i: left symbol '$a' is neither a single character nor the " +
          "output of an earlier merge — the merge list must be " +
          "training-ordered (bpeTrain output is; hand-built lists must " +
          "list producer merges before consumers)")
      require(b.length == 1 || outputs.contains(b),
        s"merge $i: right symbol '$b' is neither a single character nor the " +
          "output of an earlier merge")
      outputs.add(a + b)
    }
  }

  /** Build the pair → rank table once per expression instance. */
  def rankTable(merges: Seq[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      // first occurrence wins: a duplicate pair later in the list can never
      // fire (sequential semantics: the earlier application already merged
      // every occurrence, and re-listing is a no-op)
      m.putIfAbsent(a + Sep + b, Integer.valueOf(i))
    }
    m
  }

  /** Segment one word; returns the subword symbols in order. */
  def segment(word: String, rank: java.util.HashMap[String, Integer]): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty[String]
    var syms = new Array[String](n)
    var i = 0
    while (i < n) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var len = n
    var continue = len >= 2 && !rank.isEmpty
    while (continue) {
      // find the lowest-rank bigram present
      var best = Int.MaxValue
      var j = 0
      while (j < len - 1) {
        val r = rank.get(syms(j) + Sep + syms(j + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        j += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        // one greedy left-to-right pass merging every occurrence of the
        // best pair (overlaps resolve leftward, exactly like the fold)
        val bestRank = Integer.valueOf(best)
        var out = 0
        var k = 0
        while (k < len) {
          if (k < len - 1 && rank.get(syms(k) + Sep + syms(k + 1)) == bestRank) {
            syms(out) = syms(k) + syms(k + 1)
            k += 2
          } else {
            syms(out) = syms(k)
            k += 1
          }
          out += 1
        }
        len = out
        if (len < 2) continue = false
      }
    }
    if (len == syms.length) syms else java.util.Arrays.copyOf(syms, len)
  }
}

/** The model literal of [[BpeSegmentWords]]: the merge list, whose rank
  * table is built once per task (model-sized).
  */
final class BpeMerges(merges: Seq[(String, String)]) extends KernelModel {
  protected def state: Array[AnyRef] = Array(merges)
  @transient private lazy val rank = BpeKernel.rankTable(merges)

  def bpe_segment_words(words: ArrayData): ArrayData = {
    val out = new Array[Any](words.numElements())
    var i = 0
    while (i < out.length) {
      val w = words.getUTF8String(i)
      val segs =
        if (w == null) Array.empty[String]
        else BpeKernel.segment(w.toString, rank)
      val conv = new Array[Any](segs.length)
      var j = 0
      while (j < segs.length) { conv(j) = UTF8String.fromString(segs(j)); j += 1 }
      out(i) = new GenericArrayData(conv)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** BpeSegmentWords — array<string> of words → array<array<string>> of BPE
  * subword segmentations under a FIXED training-ordered merge list (held in
  * the expression; see [[BpeKernel]] for semantics and cost). Null words
  * map to empty segmentations; a null array maps to null.
  *
  * Scale shape: narrow per-row work with the merge-rank table broadcast
  * inside the serialized expression (model-sized — 100k merges ≈ a few MB);
  * no join, no shuffle, cost independent of the merge count.
  */
case class BpeSegmentWords(child: Expression, merges: Seq[(String, String)])
    extends KernelExpression with UnaryLike[Expression] {
  BpeKernel.requireTrainingOrdered(merges)

  override def prettyName: String = "bpe_segment_words"
  override def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> input, got ${t.simpleString}")
  }

  override lazy val replacement: Expression = invokeModel(new BpeMerges(merges), prettyName,
    Seq(KernelExpression.typed(child, ArrayType(StringType))))

  override protected def withNewChildInternal(newChild: Expression): BpeSegmentWords =
    copy(child = newChild)
}
