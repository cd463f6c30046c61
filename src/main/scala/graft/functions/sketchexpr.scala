package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One family of the mergeable-sketch layer (HLL distinct counts, count-min
  * frequencies, Bloom membership, log2 quantiles), stated once: its SQL
  * names, the build's input check, `add` of one value, `combine` of two
  * states and the byte layout. [[SketchBuild]] and [[SketchMerge]] are the
  * only two aggregates, and every family runs through them; a family's
  * parameters and empty state live in its [[SketchParams]] case class.
  */
trait SketchFormat[S] extends Serializable {
  def buildName: String
  def mergeName: String
  /** The build's input check (strings unless the family says otherwise). */
  def accepts(t: DataType): Boolean = t == StringType
  def inputKind: String = "a string column"
  /** What a merge input is called in its type-check message. */
  def noun: String = "sketch"
  /** Folds one non-null input value into `sk` in place. */
  def add(sk: S, v: Any): Unit
  /** `into` with `other` folded in; fails on a shape mismatch. */
  def combine(into: S, other: S): S
  def toBytes(sk: S): Array[Byte]
  /** The state of a sketch's bytes; fails on malformed ones. */
  def decode(bytes: Array[Byte]): S
}

object SketchFormat {
  /** The count families' combine: elementwise counter sum. */
  private[functions] def sumInto(into: Array[Long], other: Array[Long]): Unit = {
    var i = 0
    while (i < into.length) { into(i) += other(i); i += 1 }
  }
}

/** A family's build parameters; equal calls build equal aggregates. */
trait SketchParams[S] extends Product with Serializable {
  def format: SketchFormat[S]
  def empty(): S
}

/** Aggregate: a value column -> the sketch of `params` (binary). Partial
  * states travel, and streaming state stores them, as the family's bytes,
  * which are also the result.
  */
case class SketchBuild[S](child: Expression, params: SketchParams[S],
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[S] with UnaryLike[Expression] {
  private def format = params.format

  override def createAggregationBuffer(): S = params.empty()
  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) format.add(buffer, v)
    buffer
  }
  override def merge(buffer: S, other: S): S = format.combine(buffer, other)
  override def eval(buffer: S): Any = format.toBytes(buffer)
  override def serialize(buffer: S): Array[Byte] = format.toBytes(buffer)
  override def deserialize(storage: Array[Byte]): S = format.decode(storage)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == NullType || format.accepts(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${format.buildName} expects ${format.inputKind}, got ${child.dataType.simpleString}")
  override def prettyName: String = format.buildName
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++
    params.productIterator ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)
  override def withNewMutableAggBufferOffset(newOffset: Int): SketchBuild[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchBuild[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchBuild[S] =
    copy(child = newChild)
}

/** Aggregate: merge already-built sketches (binary -> binary) — the rollup
  * path: per-shard/per-day sketches combine into any coarser grouping
  * without rescanning data. The buffer holds the decoded state, so each
  * input is decoded (and checked) once; null and empty inputs are skipped,
  * and the first sketch sets the shape the rest must share. With no sketch
  * at all the result is the empty binary.
  */
case class SketchMerge[S](child: Expression, format: SketchFormat[S],
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Option[S]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Option[S] = None
  override def update(buffer: Option[S], input: InternalRow): Option[S] = child.eval(input) match {
    case null => buffer
    case bytes: Array[Byte] => merge(buffer, deserialize(bytes))
  }
  override def merge(buffer: Option[S], other: Option[S]): Option[S] = (buffer, other) match {
    case (Some(a), Some(b)) => Some(format.combine(a, b))
    case _ => buffer.orElse(other)
  }
  override def eval(buffer: Option[S]): Any = serialize(buffer)
  override def serialize(buffer: Option[S]): Array[Byte] =
    buffer.fold(Array.emptyByteArray)(format.toBytes)
  override def deserialize(storage: Array[Byte]): Option[S] =
    if (storage.isEmpty) None else Some(format.decode(storage))

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"${format.mergeName} expects a binary ${format.noun} column, got ${t.simpleString}")
  }
  override def prettyName: String = format.mergeName
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)
  override def withNewMutableAggBufferOffset(newOffset: Int): SketchMerge[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchMerge[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchMerge[S] =
    copy(child = newChild)
}

/** Mergeable HyperLogLog distinct-count sketch — the cardinality machinery
  * a 100-TB corpus needs where exact COUNT(DISTINCT) is a full shuffle of
  * every key: distinct URLs per domain, distinct tokens per language,
  * distinct simhash buckets per day. The sketch is a fixed 2^p-byte
  * register array; partial aggregation, shuffle, and re-aggregation all
  * move only sketches, and sketches from different shards / days / corpus
  * snapshots MERGE losslessly (elementwise max) — precompute per-partition
  * sketches once, answer any rollup later without touching the data.
  *
  * Everything is engine-portable by construction, in the same spirit as
  * [[graft.ops.Graph.pageRankInt]]'s exact-integer arithmetic:
  *
  *  - the hash is the first 32 bits of MD5 (every SQL engine has md5;
  *    a seeded xxhash would be faster but unverifiable externally);
  *  - the raw-HLL estimate is computed as ONE integer division of exact
  *    integers: Z = sum_j 2^-M[j] over the m registers has denominator
  *    2^(q+1), so alpha_m * m^2 / Z = (alphaNum * m^2 * 2^(q+1)) div
  *    (alphaDen * zNum) with zNum = sum_j 2^(q+1-M[j]) — an external
  *    oracle reproduces the estimate BIT-FOR-BIT in int128 SQL. No float
  *    harmonic mean, no libm, no bias-correction branches that an oracle
  *    would have to re-implement approximately. (The low-range linear-
  *    counting correction needs ln and is deliberately omitted; the raw
  *    estimator's small-cardinality bias is the documented trade for
  *    exact verifiability. Spark's own approx_count_distinct remains the
  *    choice when only a number is needed and nobody external checks it.)
  *
  * Standard-error ~ 1.04/sqrt(2^p); p=12 (4 KiB, ~1.6%) is the default.
  * The 32-bit hash space saturates near 2^32 distincts — at that scale
  * raise the register width by swapping the hash for 64-bit (the register
  * layout is width-agnostic; the oracle then needs int128 hex parsing).
  */
object HllSketch extends SketchFormat[Array[Byte]] {
  val buildName = "hll_sketch"
  val mergeName = "hll_merge"

  /** alpha_m as an exact rational (num, den) — the standard HLL constants. */
  def alpha(m: Int): (Long, Long) = m match {
    case 16 => (673L, 1000L)
    case 32 => (697L, 1000L)
    case 64 => (709L, 1000L)
    case _  => (7213L * m, 10000L * m + 10790L)
  }

  /** First 32 bits of md5(utf8 bytes), as an unsigned value in a Long —
    * exactly `('0x' || substr(md5(v), 1, 8))::BIGINT` in SQL.
    */
  def hash32(bytes: Array[Byte]): Long = {
    val d = MessageDigest.getInstance("MD5").digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Update one register array in place with a hashed value. */
  def add(regs: Array[Byte], h: Long, p: Int): Unit = {
    val q = 32 - p
    val idx = (h >>> q).toInt
    val w = h & ((1L << q) - 1)
    val bitlen = if (w == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(w)
    val rho = (q - bitlen + 1).toByte
    if (rho > regs(idx)) regs(idx) = rho
  }

  /** Exact-integer raw-HLL estimate from a register array; p is implied by
    * the array length (m = 2^p). BigInt intermediates: the numerator
    * alphaNum * m^2 * 2^(q+1) exceeds int64 from p=10 up (int128 in SQL).
    * An all-zero register array encodes cardinality EXACTLY 0 (no value
    * was ever added) — returned as 0 rather than the raw estimator's
    * alpha*m empty-sketch bias.
    */
  def estimate(regs: Array[Byte]): Long = {
    val m = regs.length
    val p = java.lang.Integer.numberOfTrailingZeros(m)
    val qq = 32 - p + 1
    var zNum = BigInt(0)
    var filled = 0
    var j = 0
    while (j < m) {
      if (regs(j) != 0) filled += 1
      zNum += BigInt(1) << (qq - regs(j))
      j += 1
    }
    if (filled == 0) return 0L
    val (aNum, aDen) = alpha(m)
    ((BigInt(aNum) * m * m << qq) / (BigInt(aDen) * zNum)).toLong
  }

  def requireP(p: Int): Unit =
    require(p >= 4 && p <= 16, s"hll precision must be in [4,16], got $p")

  /** Entry of [[HllEstimate]]; an empty sketch estimates 0. */
  def hll_estimate(regs: Array[Byte]): Long =
    if (regs.isEmpty) 0L
    else {
      require((regs.length & (regs.length - 1)) == 0,
        s"hll sketch length must be a power of two, got ${regs.length}")
      estimate(regs)
    }

  def add(regs: Array[Byte], v: Any): Unit =
    add(regs, hash32(v.asInstanceOf[UTF8String].getBytes), Integer.numberOfTrailingZeros(regs.length))

  /** Register max; the precisions must agree. */
  def combine(into: Array[Byte], other: Array[Byte]): Array[Byte] = {
    require(into.length == other.length,
      s"cannot merge hll sketches of different precision " +
        s"(${into.length} vs ${other.length} registers)")
    var i = 0
    while (i < into.length) {
      if (other(i) > into(i)) into(i) = other(i)
      i += 1
    }
    into
  }

  /** The layout is the register array itself, 2^p bytes, p in [4,16]. */
  def toBytes(regs: Array[Byte]): Array[Byte] = regs
  def decode(bytes: Array[Byte]): Array[Byte] = {
    val p = Integer.numberOfTrailingZeros(bytes.length)
    require(bytes.length == 1 << p && p >= 4 && p <= 16, s"malformed hll sketch (len=${bytes.length})")
    bytes.clone()
  }
}

/** HLL parameters: 2^p registers, p in [4,16]. */
case class HllParams(p: Int) extends SketchParams[Array[Byte]] {
  HllSketch.requireP(p)
  def format: SketchFormat[Array[Byte]] = HllSketch
  def empty(): Array[Byte] = new Array[Byte](1 << p)
}

/** Seeded 32-bit hash shared by the CMS and Bloom sketches: the first 32
  * md5 bits of (i || value) — `('0x' || substr(md5(cast(i AS varchar) ||
  * v), 1, 8))::BIGINT` in SQL, so register placement replays externally.
  */
object SeededHash {
  def hash32(seed: Int, v: UTF8String): Long =
    HllSketch.hash32((seed.toString + v.toString).getBytes("UTF-8"))
}

/** Mergeable count-min sketch — the frequency dual of the HLL sketch:
  * per-key token/url/ngram frequency estimates in O(width x depth)
  * counters instead of a full per-value aggregate. Estimates NEVER
  * underestimate (min over depth rows of colliding sums); width bounds
  * the overestimate (~ total_count / width with depth independent
  * trials). Merging is elementwise sum, so per-shard/per-day sketches
  * roll up losslessly. Same engine-portability discipline as the HLL:
  * md5-seeded placement and pure integer counters — an external oracle
  * replays every cell.
  *
  * Layout: [width:int][depth:int][depth*width longs], big-endian.
  */
object CmsCodec extends SketchFormat[(Int, Int, Array[Long])] {
  val buildName = "cms_sketch"
  val mergeName = "cms_merge"

  def encode(w: Int, d: Int, counters: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + counters.length * 8)
    bb.putInt(w).putInt(d)
    counters.foreach(bb.putLong)
    bb.array()
  }
  def decode(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    require(bytes.length >= 8, s"malformed cms sketch (len=${bytes.length})")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val w = bb.getInt; val d = bb.getInt
    require(w > 0 && d > 0 && bytes.length == 8 + w * d * 8,
      s"malformed cms sketch (w=$w d=$d len=${bytes.length})")
    val counters = new Array[Long](w * d)
    var i = 0
    while (i < counters.length) { counters(i) = bb.getLong; i += 1 }
    (w, d, counters)
  }

  def add(sk: (Int, Int, Array[Long]), v: Any): Unit = {
    val s = v.asInstanceOf[UTF8String]
    val w = sk._1
    var i = 0
    while (i < sk._2) {
      sk._3(i * w + (SeededHash.hash32(i, s) % w).toInt) += 1L
      i += 1
    }
  }

  def combine(into: (Int, Int, Array[Long]), other: (Int, Int, Array[Long])): (Int, Int, Array[Long]) = {
    require(into._1 == other._1 && into._2 == other._2, s"cannot merge cms sketches of different " +
      s"shape (${into._1}x${into._2} vs ${other._1}x${other._2})")
    SketchFormat.sumInto(into._3, other._3)
    into
  }

  def toBytes(sk: (Int, Int, Array[Long])): Array[Byte] = encode(sk._1, sk._2, sk._3)

  /** Entry of [[CmsQuery]]: min over the depth rows; an empty sketch (an
    * empty merge) counts 0.
    */
  def cms_query(sketch: Array[Byte], v: UTF8String): Long =
    if (sketch.isEmpty) 0L
    else {
      val (w, d, counters) = decode(sketch)
      var est = Long.MaxValue
      var i = 0
      while (i < d) {
        val c = counters(i * w + (SeededHash.hash32(i, v) % w).toInt)
        if (c < est) est = c
        i += 1
      }
      est
    }
}

/** Count-min parameters: `depth` rows of `width` counters. */
case class CmsParams(width: Int, depth: Int) extends SketchParams[(Int, Int, Array[Long])] {
  require(width > 0 && depth > 0 && width.toLong * depth <= (1 << 24),
    s"cms dimensions out of range (width=$width depth=$depth)")
  def format: SketchFormat[(Int, Int, Array[Long])] = CmsCodec
  def empty(): (Int, Int, Array[Long]) = (width, depth, new Array[Long](width * depth))
}

/** Scalar: (cms sketch, value) -> frequency estimate (min over depth rows).
  * Self-describing — width/depth come from the sketch header.
  */
case class CmsQuery(left: Expression, right: Expression)
  extends KernelExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_query"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType | NullType, StringType | NullType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_query expects (binary sketch, string value), got (${l.simpleString}, ${r.simpleString})")
    }
  override lazy val replacement: Expression = call(CmsCodec, prettyName,
    Seq(KernelExpression.typed(left, BinaryType), KernelExpression.typed(right, StringType)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsQuery =
    copy(left = l, right = r)
}

/** Mergeable Bloom filter — set membership with ZERO false negatives and a
  * bounded false-positive rate (~(1 - e^(-kn/m))^k). The 100-TB use is
  * decontamination and ledger probes where the reference set is too big to
  * broadcast raw: the filter is m/8 bytes regardless of set size, merges
  * by bitwise OR (per-shard builds roll up), and probes are a narrow map
  * over the corpus. md5-seeded bit placement — an external oracle replays
  * the exact bit set, so even the false positives are deterministic and
  * verifiable.
  *
  * Layout: [mBits:int][k:int][mBits/8 bytes], big-endian header.
  */
object BloomCodec extends SketchFormat[(Int, Int, Array[Byte])] {
  val buildName = "bloom_agg"
  val mergeName = "bloom_merge"
  override def noun: String = "filter"

  def encode(mBits: Int, k: Int, bits: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + bits.length)
    bb.putInt(mBits).putInt(k).put(bits)
    bb.array()
  }
  def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 8, s"malformed bloom filter (len=${bytes.length})")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = bb.getInt; val k = bb.getInt
    require(m > 0 && m % 8 == 0 && k > 0 && bytes.length == 8 + m / 8,
      s"malformed bloom filter (m=$m k=$k len=${bytes.length})")
    val bits = new Array[Byte](m / 8)
    bb.get(bits)
    (m, k, bits)
  }

  def add(sk: (Int, Int, Array[Byte]), v: Any): Unit = {
    val s = v.asInstanceOf[UTF8String]
    val bits = sk._3
    var i = 0
    while (i < sk._2) {
      val pos = (SeededHash.hash32(i, s) % sk._1).toInt
      bits(pos >> 3) = (bits(pos >> 3) | (1 << (pos & 7))).toByte
      i += 1
    }
  }

  /** Bitwise OR; the headers must agree. */
  def combine(into: (Int, Int, Array[Byte]), other: (Int, Int, Array[Byte])): (Int, Int, Array[Byte]) = {
    require(into._1 == other._1 && into._2 == other._2, s"cannot merge bloom filters of different " +
      s"shape (m=${into._1},k=${into._2} vs m=${other._1},k=${other._2})")
    val (a, b) = (into._3, other._3)
    var i = 0
    while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    into
  }

  def toBytes(sk: (Int, Int, Array[Byte])): Array[Byte] = encode(sk._1, sk._2, sk._3)

  /** Entry of [[BloomContains]]; an empty filter (an empty merge) holds nothing. */
  def bloom_contains(filter: Array[Byte], v: UTF8String): Boolean =
    filter.nonEmpty && {
      val (m, k, bits) = decode(filter)
      var i = 0
      while (i < k) {
        val pos = (SeededHash.hash32(i, v) % m).toInt
        if ((bits(pos >> 3) & (1 << (pos & 7))) == 0) return false
        i += 1
      }
      true
    }
}

/** Bloom parameters: `mBits` bits (a multiple of 8), `k` probes. */
case class BloomParams(mBits: Int, k: Int) extends SketchParams[(Int, Int, Array[Byte])] {
  require(mBits > 0 && mBits % 8 == 0 && mBits <= (1 << 30),
    s"mBits must be a positive multiple of 8, got $mBits")
  require(k > 0 && k <= 16, s"k must be in [1,16], got $k")
  def format: SketchFormat[(Int, Int, Array[Byte])] = BloomCodec
  def empty(): (Int, Int, Array[Byte]) = (mBits, k, new Array[Byte](mBits / 8))
}

/** Scalar: (bloom bytes, value) -> membership (no false negatives). */
case class BloomContains(left: Expression, right: Expression)
  extends KernelExpression with BinaryLike[Expression] {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType | NullType, StringType | NullType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bloom_contains expects (binary filter, string value), got (${l.simpleString}, ${r.simpleString})")
    }
  override lazy val replacement: Expression = call(BloomCodec, prettyName,
    Seq(KernelExpression.typed(left, BinaryType), KernelExpression.typed(right, StringType)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomContains =
    copy(left = l, right = r)
}

/** Scalar: sketch bytes -> exact-integer raw-HLL cardinality estimate. */
case class HllEstimate(child: Expression) extends KernelExpression with UnaryLike[Expression] {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hll_estimate expects a binary sketch column, got ${t.simpleString}")
  }
  override def prettyName: String = "hll_estimate"
  override lazy val replacement: Expression =
    call(HllSketch, prettyName, Seq(KernelExpression.typed(child, BinaryType)))
  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}

/** Log2-histogram quantile sketch — the rank/quantile member of the
  * mergeable-sketch family (HLL = distinct, CMS = frequency, Bloom =
  * membership). An exact quantile at 100 TB is a global sort; Spark's
  * built-in approx_percentile is a Greenwald-Khanna variant whose result
  * depends on merge order, so no external engine can replay it. This
  * sketch trades both problems for a FIXED bucket grammar in the spirit of
  * HdrHistogram/DDSketch, chosen so every step is integer-exact and an
  * external oracle reproduces the answer bit-for-bit:
  *
  *  - values are non-negative int64s (lengths, token counts, latencies —
  *    curation metrics are counts; real-valued inputs pre-scale to a
  *    fixed-point grid);
  *  - bucket index for v with sub-bucket resolution `s` bits
  *    (h = floor(log2 v)): `v` itself while v < 2^(s+1) (exact buckets),
  *    else `(h-s)*2^s + (v >> (h-s))` — relative bucket width 2^-s,
  *    i.e. a guaranteed <= 2^-s relative rank-value error (s=5 -> 3.2%);
  *  - merge = elementwise counter sum (associative/commutative, so
  *    partial aggregation and cross-shard rollup are lossless);
  *  - quantile(q permille) = lower bound of the first bucket whose
  *    cumulative count reaches ceil(n*q/1000), computed with integer
  *    arithmetic only (q is passed in PERMILLE precisely so the rank
  *    target never touches a float: 0.9*n rounds differently across
  *    engines, (n*900 + 999) div 1000 nowhere).
  *
  * In SQL the bucket index replays as a pow2-table join + integer
  * division, the quantile as a windowed cumulative sum — see q153's
  * oracle. Layout: [s:int][numBuckets:int][count:long x numBuckets],
  * big-endian; numBuckets = (64-s)*2^s covers the full int64 range.
  */
object QSketch extends SketchFormat[(Int, Array[Long])] {
  val buildName = "qsketch_agg"
  val mergeName = "qsketch_merge"
  override def accepts(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
  override def inputKind: String = "an integral column"

  def requireS(s: Int): Unit =
    require(s >= 1 && s <= 8, s"qsketch sub-bucket bits must be in [1,8], got $s")

  def numBuckets(s: Int): Int = (64 - s) << s

  /** Bucket index of non-negative v (0 maps to bucket 0 exactly). */
  def bucketOf(v: Long, s: Int): Int = {
    require(v >= 0L, s"qsketch values must be non-negative, got $v")
    val h = 63 - java.lang.Long.numberOfLeadingZeros(v | 1L)
    if (h <= s) v.toInt
    else (((h - s) << s) + (v >>> (h - s))).toInt
  }

  /** Lower bound (the deterministic representative) of bucket i. */
  def lowerBound(i: Int, s: Int): Long = {
    if (i < (1 << (s + 1))) i.toLong
    else {
      val t = (i >>> s) - 1
      (i.toLong - (t.toLong << s)) << t
    }
  }

  /** quantile(q permille) over a counter array; None when empty. */
  def quantile(counts: Array[Long], s: Int, qPermille: Int): Option[Long] = {
    require(qPermille >= 1 && qPermille <= 1000,
      s"quantile permille must be in [1,1000], got $qPermille")
    var n = 0L
    var i = 0
    while (i < counts.length) { n += counts(i); i += 1 }
    if (n == 0L) return None
    val target = (n * qPermille + 999L) / 1000L
    var cum = 0L
    i = 0
    while (i < counts.length) {
      cum += counts(i)
      if (cum >= target) return Some(lowerBound(i, s))
      i += 1
    }
    None // unreachable: cum == n >= target at the last non-empty bucket
  }

  def encode(s: Int, counts: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + counts.length * 8)
    bb.putInt(s).putInt(counts.length)
    counts.foreach(bb.putLong)
    bb.array()
  }

  def decode(bytes: Array[Byte]): (Int, Array[Long]) = {
    require(bytes.length >= 8, s"malformed qsketch (len=${bytes.length})")
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val s = bb.getInt; val nb = bb.getInt
    require(s >= 1 && s <= 8 && nb == numBuckets(s) &&
      bytes.length == 8 + nb * 8,
      s"malformed qsketch (s=$s buckets=$nb len=${bytes.length})")
    val counts = new Array[Long](nb)
    var i = 0
    while (i < counts.length) { counts(i) = bb.getLong; i += 1 }
    (s, counts)
  }

  /** Entry of [[QSketchQuantile]]; null for an empty sketch. */
  def qsketch_quantile(sketch: Array[Byte], qPermille: Int): java.lang.Long =
    if (sketch.isEmpty) null
    else {
      val (s, counts) = decode(sketch)
      quantile(counts, s, qPermille).map(Long.box).orNull
    }

  /** Entry of [[QSketchCount]]: a null sketch counts 0, like an empty one. */
  def qsketch_count(sketch: Array[Byte]): Long =
    if (sketch == null || sketch.isEmpty) 0L
    else {
      val (_, counts) = decode(sketch)
      var n = 0L; var i = 0
      while (i < counts.length) { n += counts(i); i += 1 }
      n
    }

  // integral widths narrower than long arrive as their own JVM types
  def add(sk: (Int, Array[Long]), v: Any): Unit = {
    val x = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
    }
    sk._2(bucketOf(x, sk._1)) += 1L
  }

  def combine(into: (Int, Array[Long]), other: (Int, Array[Long])): (Int, Array[Long]) = {
    require(into._1 == other._1,
      s"cannot merge qsketches of different resolution (s=${into._1} vs s=${other._1})")
    SketchFormat.sumInto(into._2, other._2)
    into
  }

  def toBytes(sk: (Int, Array[Long])): Array[Byte] = encode(sk._1, sk._2)
}

/** Quantile-sketch parameters: `s` sub-bucket bits, in [1,8]. */
case class QSketchParams(s: Int) extends SketchParams[(Int, Array[Long])] {
  QSketch.requireS(s)
  def format: SketchFormat[(Int, Array[Long])] = QSketch
  def empty(): (Int, Array[Long]) = (s, new Array[Long](QSketch.numBuckets(s)))
}

/** Scalar: (sketch, q permille) -> quantile value (bucket lower bound). */
case class QSketchQuantile(left: Expression, right: Expression)
  extends KernelExpression with BinaryLike[Expression] {
  override def dataType: DataType = LongType
  override def prettyName: String = "qsketch_quantile"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType | NullType, IntegerType | NullType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"qsketch_quantile expects (binary sketch, int permille), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override lazy val replacement: Expression = call(QSketch, prettyName,
    Seq(KernelExpression.typed(left, BinaryType), KernelExpression.typed(right, IntegerType)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): QSketchQuantile =
    copy(left = l, right = r)
}

/** Scalar: sketch -> total count (exact; counters are exact); a null
  * sketch counts 0, so the column stays non-nullable.
  */
case class QSketchCount(child: Expression)
  extends KernelExpression with UnaryLike[Expression] {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"qsketch_count expects a binary sketch column, got ${t.simpleString}")
  }
  override def prettyName: String = "qsketch_count"
  override lazy val replacement: Expression = call(QSketch, prettyName,
    Seq(KernelExpression.typed(child, BinaryType)), propagateNull = false)
  override protected def withNewChildInternal(newChild: Expression): QSketchCount =
    copy(child = newChild)
}
