package graft.core

/** Five-number distribution summary (mean, population variance, min, max,
  * scaled entropy) replicating the reference's exact computation order
  * (gbdc src/util/CaptureDistribution.cc:76-90):
  *
  *  - sort ascending FIRST (the fold order is part of numeric determinism)
  *  - incremental mean  m += (x - m) / (i + 1)
  *  - incremental population variance  v += (d*d - v) / (i + 1)
  *  - min/max = ends of the sorted array
  *  - scaled Shannon entropy with summands sorted by |magnitude| before
  *    summation, divided by log2(#categories) (0 when one category)
  *
  * Two entropy key quirks replicated for allclose parity:
  *  - double distributions (CaptureDistribution.cc:48-60): histogram key is
  *    round(1000*x) half-away-from-zero, but the *presence* check uses the
  *    raw value truncated to int64 — `occurence.count(value)` — so a snap
  *    bucket's count resets to 1 unless trunc(value) happens to be a key.
  *  - integer distributions (CaptureDistribution.cc:62-73): the loop variable
  *    is C `unsigned`, so 64-bit values are truncated to their low 32 bits
  *    before being used as histogram keys.
  *
  * Values are folded as runs (value, count) in ascending order: a small
  * integer range is counted directly, a double distribution of few
  * distinct values is counted by bit pattern, anything else is sorted
  * once. Every value still enters the folds one at a time in sorted order,
  * so results are bit-identical to folding the sorted array.
  *
  * These are doc-local computations: groups are row-sized, so no Spark
  * partial/final aggregation ever touches them (SURVEY.md §4 design rule).
  */
object DistStats {

  /** Emission order matches the reference's `{mean, variance, min, max,
    * entropy}` (CaptureDistribution.cc:87).
    */
  final case class Stats(mean: Double, variance: Double, min: Double, max: Double, entropy: Double)

  val Zero: Stats = Stats(0.0, 0.0, 0.0, 0.0, 0.0)

  /** C++ std::round: half away from zero (scala math.round is half-up). */
  @inline private def cround(x: Double): Double =
    if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)

  private val Ln2 = math.log(2.0)

  /** Entropy from the first `k` occurrence counts: summands p*log2(p)
    * sorted by |x| ascending, negated sum, scaled by log2(K)
    * (CaptureDistribution.cc:30-46).
    */
  private def scaledEntropy(counts: Array[Int], k: Int, total: Long): Double = {
    val summands = new Array[Double](k)
    var i = 0
    while (i < k) {
      val p = counts(i).toDouble / total.toDouble
      summands(i) = p * (math.log(p) / Ln2)
      i += 1
    }
    java.util.Arrays.sort(summands) // all summands <= 0, so ascending |x| = descending value
    var entropy = 0.0
    var j = k - 1
    while (j >= 0) { entropy -= summands(j); j -= 1 }
    val log2k = math.log(k.toDouble) / Ln2
    if (log2k == 0.0) 0.0 else entropy / log2k
  }

  /** One distribution of `n` values, sorted into runs (`values(r)` repeated
    * `counts(r)` times, ascending), with its entropy: everything but the
    * mean/variance folds, which [[foldAll]] runs.
    */
  final class Runs private[DistStats] (capacity: Int, val n: Int) {
    private[DistStats] val values = new Array[Double](capacity)
    private[DistStats] val counts = new Array[Int](capacity)
    private[DistStats] var k = 0
    private[DistStats] var entropy = 0.0
    private[DistStats] def add(x: Double, c: Int): Unit = { values(k) = x; counts(k) = c; k += 1 }
  }

  /** Stats of each distribution, bit-identical to folding them one at a
    * time: mean then variance, one value at a time in sorted order. The
    * folds of different distributions are independent chains of dependent
    * divisions, so they are stepped together (longest first) and the
    * divisions overlap.
    */
  def foldAll(dists: Array[Runs]): Array[Stats] = {
    // non-empty distributions, longest first (stable insertion sort)
    val order = new Array[Int](dists.length)
    var lanes = 0
    var j = 0
    while (j < dists.length) {
      if (dists(j).n > 0) {
        var at = lanes
        while (at > 0 && dists(order(at - 1)).n < dists(j).n) { order(at) = order(at - 1); at -= 1 }
        order(at) = j
        lanes += 1
      }
      j += 1
    }
    // each lane's values in sorted order
    val xs = new Array[Array[Double]](lanes)
    var l = 0
    while (l < lanes) {
      val d = dists(order(l))
      val out = new Array[Double](d.n)
      var at = 0
      var r = 0
      while (r < d.k) {
        java.util.Arrays.fill(out, at, at + d.counts(r), d.values(r))
        at += d.counts(r)
        r += 1
      }
      xs(l) = out
      l += 1
    }
    val means = new Array[Double](lanes)
    val varis = new Array[Double](lanes)
    var active = lanes
    var i = 0
    while (active > 0) {
      while (active > 0 && xs(active - 1).length == i) active -= 1
      l = 0
      while (l < active) {
        val mean = means(l)
        means(l) = mean + (xs(l)(i) - mean) / (i + 1)
        l += 1
      }
      i += 1
    }
    active = lanes
    i = 0
    while (active > 0) {
      while (active > 0 && xs(active - 1).length == i) active -= 1
      l = 0
      while (l < active) {
        val d = xs(l)(i) - means(l)
        val vari = varis(l)
        varis(l) = vari + (d * d - vari) / (i + 1)
        l += 1
      }
      i += 1
    }
    val out = Array.fill(dists.length)(Zero)
    l = 0
    while (l < lanes) {
      val d = dists(order(l))
      out(order(l)) = Stats(means(l), varis(l), d.values(0), d.values(d.k - 1), d.entropy)
      l += 1
    }
    out
  }

  /** A double distribution with more distinct values than half these
    * table slots is sorted whole instead of counted.
    */
  private val CountedSlotBits = 7

  /** Stats over a double distribution. */
  def ofDoubles(values: Array[Double]): Stats =
    foldAll(Array(doubleRuns(java.util.Arrays.copyOf(values, values.length), values.length)))(0)

  /** Stats over an integer (unsigned in the reference) distribution. */
  def ofLongs(values: Array[Long]): Stats = foldAll(Array(longRuns(values)))(0)

  /** Runs of the doubles `values(0 until n)`, which this may reorder. A
    * distribution of few distinct values (by bit pattern, so -0.0 and 0.0
    * stay apart) is counted in a small open-addressing table and only its
    * distinct values are sorted; any other, or one holding a NaN, is sorted
    * whole.
    */
  def doubleRuns(values: Array[Double], n: Int): Runs = {
    var runs = countedRuns(values, n)
    if (runs == null) {
      java.util.Arrays.sort(values, 0, n)
      runs = new Runs(n, n)
      var i = 0
      while (i < n) {
        val bits = java.lang.Double.doubleToRawLongBits(values(i))
        var j = i + 1
        while (j < n && java.lang.Double.doubleToRawLongBits(values(j)) == bits) j += 1
        runs.add(values(i), j - i)
        i = j
      }
    }
    runs.entropy = doubleEntropy(runs)
    runs
  }

  /** Runs of `values(0 until n)` when it holds no NaN and few enough
    * distinct bit patterns, else null.
    */
  private def countedRuns(values: Array[Double], n: Int): Runs = {
    val slots = 1 << CountedSlotBits
    val keys = new Array[Long](slots)
    val counts = new Array[Int](slots)
    var distinct = 0
    var i = 0
    while (i < n) {
      val x = values(i)
      if (java.lang.Double.isNaN(x)) return null
      val bits = java.lang.Double.doubleToRawLongBits(x)
      var h = ((bits * 0x9e3779b97f4a7c15L) >>> (64 - CountedSlotBits)).toInt
      while (counts(h) != 0 && keys(h) != bits) h = (h + 1) & (slots - 1)
      if (counts(h) == 0) {
        if (2 * distinct == slots) return null
        keys(h) = bits
        distinct += 1
      }
      counts(h) += 1
      i += 1
    }
    val distinctValues = new Array[Double](distinct)
    var d = 0
    var h = 0
    while (h < slots) {
      if (counts(h) != 0) { distinctValues(d) = java.lang.Double.longBitsToDouble(keys(h)); d += 1 }
      h += 1
    }
    java.util.Arrays.sort(distinctValues)
    val runs = new Runs(distinct, n)
    d = 0
    while (d < distinct) {
      val bits = java.lang.Double.doubleToRawLongBits(distinctValues(d))
      h = ((bits * 0x9e3779b97f4a7c15L) >>> (64 - CountedSlotBits)).toInt
      while (keys(h) != bits) h = (h + 1) & (slots - 1)
      runs.add(distinctValues(d), counts(h))
      d += 1
    }
    runs
  }

  /** Double-valued distribution entropy with the trunc-key presence quirk
    * (CaptureDistribution.cc:48-60), over sorted runs.
    *
    * Both snap = round(1000x) and trunc = (int64)x are non-decreasing along
    * sorted non-NaN values, so snap keys arrive in ascending order: each key's
    * count lives in one slot of `counts`, and the presence probe is a cursor
    * that only moves forward over the keys seen so far. A run of equal
    * values is one step, taken after its snap key exists: if trunc is a key
    * (snap itself included) every value adds one, otherwise every value
    * resets the count to 1. NaNs sort last with snap = trunc = 0 and are
    * applied against key 0 the same way.
    */
  private def doubleEntropy(runs: Runs): Double = {
    val keys = new Array[Long](runs.k + 1)
    val counts = new Array[Int](runs.k + 1)
    var k = 0
    var cursor = 0
    @inline def present(t: Long): Boolean = {
      while (cursor < k && keys(cursor) < t) cursor += 1
      cursor < k && keys(cursor) == t
    }
    var nan = 0
    var r = 0
    while (r < runs.k) {
      val x = runs.values(r)
      if (java.lang.Double.isNaN(x)) nan += runs.counts(r)
      else {
        val snap = cround(1000.0 * x).toLong
        if (k == 0 || keys(k - 1) != snap) { keys(k) = snap; counts(k) = 0; k += 1 }
        counts(k - 1) = if (present(x.toLong)) counts(k - 1) + runs.counts(r) else 1
      }
      r += 1
    }
    if (nan > 0) {
      var z = 0
      while (z < k && keys(z) != 0L) z += 1
      if (z < k) counts(z) += nan
      else { keys(k) = 0L; counts(k) = nan; k += 1 }
    }
    scaledEntropy(counts, k, runs.n.toLong)
  }

  /** Runs of an integer distribution: a range narrow for its size is
    * counted directly, a wide one sorted once.
    */
  def longRuns(values: Array[Long]): Runs = {
    val n = values.length
    if (n == 0) return new Runs(0, 0)
    var lo = values(0)
    var hi = lo
    var i = 1
    while (i < n) {
      val x = values(i)
      if (x < lo) lo = x else if (x > hi) hi = x
      i += 1
    }
    val span = hi - lo // negative on overflow
    val runs = new Runs(if (span >= 0 && span < n) span.toInt + 1 else n, n)
    if (span >= 0 && span <= math.min(4L * n + 256, 1L << 30)) {
      val hist = new Array[Int](span.toInt + 1)
      i = 0
      while (i < n) { hist((values(i) - lo).toInt) += 1; i += 1 }
      var b = 0
      while (b < hist.length) {
        if (hist(b) > 0) runs.add((lo + b).toDouble, hist(b))
        b += 1
      }
    } else {
      val sorted = java.util.Arrays.copyOf(values, n)
      java.util.Arrays.sort(sorted)
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n && sorted(j) == sorted(i)) j += 1
        runs.add(sorted(i).toDouble, j - i)
        i = j
      }
    }
    runs.entropy =
      // within a range narrower than 2^32 the unsigned-32 key is one-to-one
      if (span >= 0 && span <= 0xffffffffL) scaledEntropy(runs.counts, runs.k, n)
      else {
        val keys = new Array[Long](n)
        i = 0
        while (i < n) { keys(i) = values(i) & 0xffffffffL; i += 1 } // C `unsigned` loop variable
        java.util.Arrays.sort(keys)
        val keyCounts = new Array[Int](n)
        var distinct = 0
        i = 0
        while (i < n) {
          var j = i + 1
          while (j < n && keys(j) == keys(i)) j += 1
          keyCounts(distinct) = j - i
          distinct += 1
          i = j
        }
        scaledEntropy(keyCounts, distinct, n)
      }
    runs
  }
}
