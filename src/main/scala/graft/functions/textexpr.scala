package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.TextKernels

/** Entry methods of the text-analysis / similarity kernels, one per SQL
  * function (see [[KernelExpression]]): thin typed adapters over
  * [[TextKernels]], the single source of truth for each kernel.
  */
object TextExprKernels {
  private def longs(a: Array[Long]): ArrayData = UnsafeArrayData.fromPrimitiveArray(a)

  def token_count(s: UTF8String): Long = TextKernels.tokenCountWhitespace(s.toString)
  def token_count_bpe(s: UTF8String): Long = TextKernels.tokenCountBpe(s.toString)
  def normalize_webtext(s: UTF8String): UTF8String =
    UTF8String.fromString(TextKernels.normalizeWebText(s.toString))
  def text_quality(s: UTF8String): InternalRow = {
    val q = TextKernels.quality(s.toString)
    InternalRow(q.nChars, q.nTokens, q.meanTokenLen, q.punctRatio, q.digitRatio,
      q.upperRatio, q.stopwordRatio, q.maxLineLen, q.blankLineRatio, q.score)
  }
  def lang_id(s: UTF8String): InternalRow = {
    val (lang, score) = TextKernels.langId(s.toString)
    InternalRow(UTF8String.fromString(lang), score)
  }
  def minhash_signature(s: UTF8String, numHashes: Int, shingleSize: Int): ArrayData =
    longs(TextKernels.minHashSignature(s.toString, numHashes, shingleSize))
  def minhash_signature_md5(s: UTF8String, numHashes: Int, shingleSize: Int): ArrayData =
    longs(TextKernels.minHashSignatureMd5(s.toString, numHashes, shingleSize))
  def shingles(s: UTF8String, shingleSize: Int): ArrayData =
    longs(TextKernels.shingles(s.toString, shingleSize))
  def minhash_from_shingles(shingles: ArrayData, numHashes: Int): ArrayData =
    longs(TextKernels.minHashFromShingles(shingles.toLongArray(), numHashes))
  /** `xxhash64` of each band's slice, spelled out: Spark's seed 42 folded
    * through `hashLong` over the slice's non-null elements, then `hashInt`
    * of the band number.
    */
  def lsh_bands(sig: ArrayData, numBands: Int): ArrayData = {
    val r = if (sig == null) 0 else sig.numElements() / numBands
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var h = 42L
      var i = b * r
      val end = i + r
      while (i < end) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = XXH64.hashInt(b, h)
      b += 1
    }
    longs(out)
  }
  def simhash64(s: UTF8String): Long = TextKernels.simHash64(s.toString)
  def simhash64_md5(s: UTF8String): Long = TextKernels.simHash64Md5(s.toString)
  def rolling_fingerprint(s: UTF8String): Long = TextKernels.rollingFingerprint(s.toString)
  def longest_repeat_len(s: UTF8String, cap: Int): Long =
    TextKernels.longestRepeatedSubstring(s.toString, cap)
  def jaccard_sorted(a: ArrayData, b: ArrayData): Double =
    TextKernels.jaccardSorted(a.toLongArray(), b.toLongArray())
  def sorted_common_count(a: ArrayData, b: ArrayData): Long =
    TextKernels.sortedCommonCount(a.toLongArray(), b.toLongArray())
  def minhash_estimate(a: ArrayData, b: ArrayData): Double =
    TextKernels.minHashEstimate(a.toLongArray(), b.toLongArray())
  def cosine_similarity(a: ArrayData, b: ArrayData): Double =
    TextKernels.cosine(a.toFloatArray(), b.toFloatArray())
  def hyperplane_sig(v: ArrayData, bits: Int, seed: Long): Long =
    TextKernels.hyperplaneSignature(v.toFloatArray(), bits, seed)
}

/** Text-analysis / similarity expressions for the training-data pipeline
  * (dedup, quality filtering, language id, ANN). Deterministic kernels
  * over a string child, each a call of its [[TextExprKernels]] entry.
  */
trait StringKernelExpression extends KernelExpression with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string input, got ${t.simpleString}")
  }
  /** `TextExprKernels.entry(text, params...)`; params become literals. */
  protected final def textCall(entry: String, params: Any*): Expression =
    call(TextExprKernels, entry, KernelExpression.typed(child, StringType) +: params.map(Literal(_)))
}

/** Whitespace or BPE-ish token count. */
case class TokenCount(child: Expression, mode: String) extends StringKernelExpression {
  require(mode == "whitespace" || mode == "bpe", s"unknown token mode $mode")
  override def dataType: DataType = LongType
  override def prettyName: String = s"token_count_$mode"
  override lazy val replacement: Expression =
    textCall(if (mode == "whitespace") "token_count" else "token_count_bpe")
  override protected def withNewChildInternal(newChild: Expression): TokenCount = copy(child = newChild)
}

object TextQualityExpr {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("mean_token_len", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("digit_ratio", DoubleType, nullable = false),
    StructField("upper_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("max_line_len", LongType, nullable = false),
    StructField("blank_line_ratio", DoubleType, nullable = false),
    StructField("quality_score", DoubleType, nullable = false)))
}

/** Canonical web-text normalization (NFC + control strip + whitespace
  * collapse — [[TextKernels.normalizeWebText]]): the web-page analog of the
  * CNF `normalize_cnf` byte-identity contract. Apply below simhash/minhash/
  * gbd-style content hashes so composed and denormalized Unicode forms of
  * the same page agree on identity.
  */
case class NormalizeWebText(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_webtext"
  override lazy val replacement: Expression = textCall(prettyName)
  override protected def withNewChildInternal(newChild: Expression): NormalizeWebText =
    copy(child = newChild)
}

/** Quality-signal struct (length/punct/stopword heuristics + score). */
case class TextQualityExpr(child: Expression) extends StringKernelExpression {
  override def dataType: StructType = TextQualityExpr.schema
  override def prettyName: String = "text_quality"
  override lazy val replacement: Expression = textCall(prettyName)
  override protected def withNewChildInternal(newChild: Expression): TextQualityExpr = copy(child = newChild)
}

/** Character-trigram language id: struct(lang, score). */
case class LangIdExpr(child: Expression) extends StringKernelExpression {
  override def dataType: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  override def prettyName: String = "lang_id"
  override lazy val replacement: Expression = textCall(prettyName)
  override protected def withNewChildInternal(newChild: Expression): LangIdExpr = copy(child = newChild)
}

/** MinHash signature (array<long>) over word n-gram shingles. */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends StringKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override lazy val replacement: Expression = textCall(prettyName, numHashes, shingleSize)
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature = copy(child = newChild)
}

/** md5-hashed MinHash signature (oracle-mirrorable; UNSIGNED-min lanes).
  * Empty array for docs with fewer than `shingleSize` words.
  */
case class MinHashSignatureMd5(child: Expression, numHashes: Int, shingleSize: Int)
    extends StringKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature_md5"
  override lazy val replacement: Expression = textCall(prettyName, numHashes, shingleSize)
  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureMd5 = copy(child = newChild)
}

/** Sorted distinct hashed word n-gram shingles (array<long>). */
case class ShinglesExpr(child: Expression, shingleSize: Int) extends StringKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingles"
  override lazy val replacement: Expression = textCall(prettyName, shingleSize)
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr = copy(child = newChild)
}

/** MinHash signature derived from an ALREADY-computed shingle array —
  * `minhash_from_shingles(shingles(text, k), n)` is bit-identical to
  * `minhash_signature(text, n, k)` by construction ([[TextKernels]]
  * factoring), so a dedup pipeline that materializes shingles once (the
  * exact-Jaccard verify needs them anyway) derives the banding signature
  * WITHOUT a second tokenization/shingling pass over the text (round-5
  * verdict item 1: the q100 3x signature recompute).
  */
case class MinHashFromShingles(child: Expression, numHashes: Int)
    extends KernelExpression with UnaryLike[Expression] {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_from_shingles"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> input, got ${t.simpleString}")
  }
  override lazy val replacement: Expression = call(TextExprKernels, prettyName,
    Seq(KernelExpression.typed(child, ArrayType(LongType)), Literal(numHashes)))
  override protected def withNewChildInternal(newChild: Expression): MinHashFromShingles =
    copy(child = newChild)
}

/** LSH band buckets of a MinHash signature (array<bigint>, one per band):
  * bucket `b` equals `xxhash64(slice(sig, b * r + 1, r), b)` with
  * `r = size(sig) div numBands`, bit for bit — the banding every LSH path
  * of `Dedup` explodes, as one typed loop instead of an interpreted
  * `transform`/`slice`/`xxhash64` lambda per band. Never null: a null
  * signature hashes like an empty one, as `xxhash64` does.
  */
case class LshBands(child: Expression, numBands: Int)
    extends KernelExpression with UnaryLike[Expression] {
  require(numBands >= 1, s"numBands must be >= 1, got $numBands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bands"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> input, got ${t.simpleString}")
  }
  override lazy val replacement: Expression = call(TextExprKernels, prettyName,
    Seq(KernelExpression.typed(child, ArrayType(LongType)), Literal(numBands)),
    propagateNull = false)
  override protected def withNewChildInternal(newChild: Expression): LshBands =
    copy(child = newChild)
}

/** 64-bit SimHash over word unigrams. tokenHash: "fnv" (fast mix64 path) or
  * "md5" (oracle-mirrorable in ANSI SQL).
  */
case class SimHash64(child: Expression, tokenHash: String = "fnv") extends StringKernelExpression {
  require(tokenHash == "fnv" || tokenHash == "md5", s"unknown simhash token hash $tokenHash")
  override def dataType: DataType = LongType
  override def prettyName: String = if (tokenHash == "md5") "simhash64_md5" else "simhash64"
  override lazy val replacement: Expression = textCall(prettyName)
  override protected def withNewChildInternal(newChild: Expression): SimHash64 = copy(child = newChild)
}

/** Rolling-hash document fingerprint. */
case class RollingFingerprint(child: Expression) extends StringKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"
  override lazy val replacement: Expression = textCall(prettyName)
  override protected def withNewChildInternal(newChild: Expression): RollingFingerprint = copy(child = newChild)
}

/** Longest repeated substring length within the first `cap` code points
  * ([[TextKernels.longestRepeatedSubstring]]) — exact suffix-sort max-LCP,
  * the long-block repetition quality signal.
  */
case class LongestRepeatedSubstring(child: Expression, cap: Int)
    extends StringKernelExpression {
  require(cap >= 1, s"cap must be >= 1, got $cap")
  override def dataType: DataType = LongType
  override def prettyName: String = "longest_repeat_len"
  override lazy val replacement: Expression = textCall(prettyName, cap)
  override protected def withNewChildInternal(newChild: Expression): LongestRepeatedSubstring =
    copy(child = newChild)
}

/** Kernels over two arrays (shingle sets, signatures, embeddings). */
trait BinaryKernelExpression extends KernelExpression with BinaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = TypeCheckResult.TypeCheckSuccess
  /** `TextExprKernels.entry(left, right)` over arrays of `element`. */
  protected final def arrayCall(entry: String, element: DataType): Expression =
    call(TextExprKernels, entry, Seq(left, right).map(KernelExpression.typed(_, ArrayType(element))))
}

/** Exact Jaccard between two sorted shingle arrays. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  override lazy val replacement: Expression = arrayCall(prettyName, LongType)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** |a ∩ b| of two sorted distinct long arrays (merge scan). */
case class SortedCommonCount(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_common_count"
  override lazy val replacement: Expression = arrayCall(prettyName, LongType)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedCommonCount =
    copy(left = l, right = r)
}

/** Fraction of equal components between two MinHash signatures. */
case class MinHashEstimate(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "minhash_estimate"
  override lazy val replacement: Expression = arrayCall(prettyName, LongType)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashEstimate =
    copy(left = l, right = r)
}

/** Cosine similarity of two array<float> embeddings (double accumulation in
  * element order — primitive loop, no HOF boxing).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryKernelExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  override lazy val replacement: Expression = arrayCall(prettyName, FloatType)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket key for cosine similarity. */
case class HyperplaneSig(child: Expression, bits: Int, seed: Long)
    extends KernelExpression with UnaryLike[Expression] {
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  override lazy val replacement: Expression = call(TextExprKernels, prettyName,
    Seq(KernelExpression.typed(child, ArrayType(FloatType)), Literal(bits), Literal(seed)))
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig = copy(child = newChild)
}
