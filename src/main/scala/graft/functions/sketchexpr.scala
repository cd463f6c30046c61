package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
object HllSketch {
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
}

/** Aggregate: string column -> 2^p-byte HLL register array (binary). */
case class HllSketchAgg(child: Expression, p: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {
  HllSketch.requireP(p)

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](1 << p)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      HllSketch.add(buffer, HllSketch.hash32(v.asInstanceOf[UTF8String].getBytes), p)
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < buffer.length) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = buffer
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hll_sketch expects a string column, got ${t.simpleString}")
  }
  override def prettyName: String = "hll_sketch"
  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}

/** Aggregate: merge already-built sketches (binary -> binary) — the rollup
  * path: per-shard/per-day sketches combine into any coarser grouping
  * without rescanning data. Register widths must agree.
  */
case class HllMergeAgg(child: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  // buffer starts empty and adopts the first sketch's width; a width
  // mismatch afterwards is a caller error (two different precisions)
  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other.clone()
    else {
      require(buffer.length == other.length,
        s"cannot merge hll sketches of different precision " +
          s"(${buffer.length} vs ${other.length} registers)")
      var i = 0
      while (i < buffer.length) {
        if (other(i) > buffer(i)) buffer(i) = other(i)
        i += 1
      }
      buffer
    }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buffer else mergeInto(buffer, v.asInstanceOf[Array[Byte]])
  }
  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hll_merge expects a binary sketch column, got ${t.simpleString}")
  }
  override def prettyName: String = "hll_merge"
  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllMergeAgg =
    copy(child = newChild)
}

/** Seeded 32-bit hash shared by the CMS and Bloom sketches: the first 32
  * md5 bits of (i || value) — `('0x' || substr(md5(cast(i AS varchar) ||
  * v), 1, 8))::BIGINT` in SQL, so register placement replays externally.
  */
object SeededHash {
  def hash32(seed: Int, v: UTF8String): Long =
    HllSketch.hash32((seed.toString + v.toString).getBytes("UTF-8"))
}

/** Count-min sketch codec: binary layout [width:int][depth:int][depth*width
  * longs], big-endian.
  */
object CmsCodec {
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

  /** Entry of [[CmsQuery]]: min over the depth rows. */
  def cms_query(sketch: Array[Byte], v: UTF8String): Long = {
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

/** Mergeable count-min sketch — the frequency dual of the HLL sketch:
  * per-key token/url/ngram frequency estimates in O(width x depth)
  * counters instead of a full per-value aggregate. Estimates NEVER
  * underestimate (min over depth rows of colliding sums); width bounds
  * the overestimate (~ total_count / width with depth independent
  * trials). Merging is elementwise sum, so per-shard/per-day sketches
  * roll up losslessly. Same engine-portability discipline as the HLL:
  * md5-seeded placement and pure integer counters — an external oracle
  * replays every cell.
  */
case class CmsSketchAgg(child: Expression, width: Int, depth: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  require(width > 0 && depth > 0 && width.toLong * depth <= (1 << 24),
    s"cms dimensions out of range (width=$width depth=$depth)")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](width * depth)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      var i = 0
      while (i < depth) {
        buffer(i * width + (SeededHash.hash32(i, s) % width).toInt) += 1L
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = CmsCodec.encode(width, depth, buffer)
  override def serialize(buffer: Array[Long]): Array[Byte] =
    CmsCodec.encode(width, depth, buffer)
  override def deserialize(storage: Array[Byte]): Array[Long] = CmsCodec.decode(storage)._3

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects a string column, got ${t.simpleString}")
  }
  override def prettyName: String = "cms_sketch"
  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
}

/** Aggregate: merge already-built CMS sketches (binary -> binary) — the
  * rollup path: per-shard/per-day frequency sketches combine into any
  * coarser grouping by elementwise counter addition without rescanning
  * data. Headers (width, depth) must agree.
  */
case class CmsMergeAgg(child: Expression,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other.clone()
    else {
      val (w1, d1, acc) = CmsCodec.decode(buffer)
      val (w2, d2, in) = CmsCodec.decode(other)
      require(w1 == w2 && d1 == d2,
        s"cannot merge cms sketches of different shape (${w1}x$d1 vs ${w2}x$d2)")
      var i = 0
      while (i < acc.length) { acc(i) += in(i); i += 1 }
      CmsCodec.encode(w1, d1, acc)
    }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buffer else mergeInto(buffer, v.asInstanceOf[Array[Byte]])
  }
  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cms_merge expects a binary sketch column, got ${t.simpleString}")
  }
  override def prettyName: String = "cms_merge"
  override def withNewMutableAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsMergeAgg =
    copy(child = newChild)
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

/** Bloom codec: [mBits:int][k:int][mBits/8 bytes], big-endian header. */
object BloomCodec {
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

  /** Entry of [[BloomContains]]. */
  def bloom_contains(filter: Array[Byte], v: UTF8String): Boolean = {
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

/** Mergeable Bloom filter — set membership with ZERO false negatives and a
  * bounded false-positive rate (~(1 - e^(-kn/m))^k). The 100-TB use is
  * decontamination and ledger probes where the reference set is too big to
  * broadcast raw: the filter is m/8 bytes regardless of set size, merges
  * by bitwise OR (per-shard builds roll up), and probes are a narrow map
  * over the corpus. md5-seeded bit placement — an external oracle replays
  * the exact bit set, so even the false positives are deterministic and
  * verifiable.
  */
case class BloomAgg(child: Expression, mBits: Int, k: Int,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {
  require(mBits > 0 && mBits % 8 == 0 && mBits <= (1 << 30),
    s"mBits must be a positive multiple of 8, got $mBits")
  require(k > 0 && k <= 16, s"k must be in [1,16], got $k")

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](mBits / 8)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      var i = 0
      while (i < k) {
        val pos = (SeededHash.hash32(i, s) % mBits).toInt
        buffer(pos >> 3) = (buffer(pos >> 3) | (1 << (pos & 7))).toByte
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < buffer.length) { buffer(i) = (buffer(i) | other(i)).toByte; i += 1 }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = BloomCodec.encode(mBits, k, buffer)
  override def serialize(buffer: Array[Byte]): Array[Byte] =
    BloomCodec.encode(mBits, k, buffer)
  override def deserialize(storage: Array[Byte]): Array[Byte] = BloomCodec.decode(storage)._3

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_agg expects a string column, got ${t.simpleString}")
  }
  override def prettyName: String = "bloom_agg"
  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomAgg =
    copy(child = newChild)
}

/** Aggregate: merge already-built Bloom filters (binary -> binary) by
  * bitwise OR — per-shard/per-day membership filters roll up into any
  * coarser grouping without rescanning data. Headers (mBits, k) must
  * agree.
  */
case class BloomMergeAgg(child: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other.clone()
    else {
      val (m1, k1, _) = BloomCodec.decode(buffer)
      val (m2, k2, _) = BloomCodec.decode(other)
      require(m1 == m2 && k1 == k2,
        s"cannot merge bloom filters of different shape (m=$m1,k=$k1 vs m=$m2,k=$k2)")
      var i = 8 // headers verified equal; OR the bit payload in place
      while (i < buffer.length) { buffer(i) = (buffer(i) | other(i)).toByte; i += 1 }
      buffer
    }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buffer else mergeInto(buffer, v.asInstanceOf[Array[Byte]])
  }
  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bloom_merge expects a binary filter column, got ${t.simpleString}")
  }
  override def prettyName: String = "bloom_merge"
  override def withNewMutableAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomMergeAgg =
    copy(child = newChild)
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
object QSketch {
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
}

/** Aggregate: long column -> log2-histogram quantile sketch (binary). */
case class QSketchAgg(child: Expression, s: Int,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {
  QSketch.requireS(s)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](QSketch.numBuckets(s))

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) buffer(QSketch.bucketOf(toLong(v), s)) += 1L
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any = QSketch.encode(s, buffer)
  override def serialize(buffer: Array[Long]): Array[Byte] =
    QSketch.encode(s, buffer)
  override def deserialize(storage: Array[Byte]): Array[Long] =
    QSketch.decode(storage)._2

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType | NullType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"qsketch_agg expects an integral column, got ${t.simpleString}")
  }
  // integral widths narrower than long arrive as their own JVM types
  private lazy val toLong: Any => Long = child.dataType match {
    case LongType => _.asInstanceOf[Long]
    case IntegerType => _.asInstanceOf[Int].toLong
    case ShortType => _.asInstanceOf[Short].toLong
    case _ => _.asInstanceOf[Byte].toLong
  }
  override def prettyName: String = "qsketch_agg"
  override def withNewMutableAggBufferOffset(newOffset: Int): QSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): QSketchAgg =
    copy(child = newChild)
}

/** Aggregate: merge stored qsketches (elementwise sum; `s` must agree). */
case class QSketchMergeAgg(child: Expression,
                           mutableAggBufferOffset: Int = 0,
                           inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  private def mergeInto(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    if (other.isEmpty) buffer
    else if (buffer.isEmpty) other.clone()
    else {
      val (sb, cb) = QSketch.decode(buffer)
      val (so, co) = QSketch.decode(other)
      require(sb == so,
        s"cannot merge qsketches of different resolution (s=$sb vs s=$so)")
      var i = 0
      while (i < cb.length) { cb(i) += co(i); i += 1 }
      QSketch.encode(sb, cb)
    }

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buffer else mergeInto(buffer, v.asInstanceOf[Array[Byte]])
  }
  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] =
    mergeInto(buffer, other)

  override def eval(buffer: Array[Byte]): Any = buffer
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer
  override def deserialize(storage: Array[Byte]): Array[Byte] = storage

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"qsketch_merge expects a binary sketch column, got ${t.simpleString}")
  }
  override def prettyName: String = "qsketch_merge"
  override def withNewMutableAggBufferOffset(newOffset: Int): QSketchMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QSketchMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): QSketchMergeAgg =
    copy(child = newChild)
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
