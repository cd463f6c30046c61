package graft.core

/** ISO-hash2 — iterative Weisfeiler–Leman color refinement on the
  * literal–clause incidence structure, re-expressed from
  * /root/reference/src/identify/ISOHash2.h:35-242. Per-document (row-local)
  * algorithm:
  *
  *  - operates on the SANITIZED clause form (CNFFormula.h:126-151 loader:
  *    per-clause literal sort by (var, sign), duplicate-literal removal,
  *    tautological clauses dropped) — NOT the raw scan used by features
  *  - literal colors initialized to 1 (ISOHash2.h:55-57)
  *  - per round: order-invariant clause hash (sum + rotated-xor of mixed
  *    literal colors, xored with size; ISOHash2.h:112-124), scattered back
  *    onto the clause's literals, then a per-variable finalize mixing old
  *    pos/neg colors (ISOHash2.h:126-143)
  *  - stop when the distinct oriented-state count stabilizes, max 31 rounds
  *  - final = XXH3-64 digest of the SORTED canonical per-var state hashes
  *    (ISOHash2.h:220) — CONSTANT parity with the reference: IsoHash2Spec
  *    asserts digests equal to values computed by compiling the reference's
  *    own ISOHash2.h, so values join against existing gbd databases.
  */
object IsoHash2 {

  /** mix64variant13 (ISOHash2.h:72-77) — NOT splitmix64 (no increment). */
  @inline private def fastMix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 30; k *= 0xbf58476d1ce4e5b9L
    k ^= k >>> 27; k *= 0x94d049bb133111ebL
    k ^ (k >>> 31)
  }

  @inline private def rotl64(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))

  private val GOLDEN = 0x9e3779b97f4a7c15L

  /** Sanitized parse (CNFFormula loader semantics) of the raw [[CnfScan]]
    * pool: per-clause sort by (var, sign), dedup, drop tautologies; empty
    * clauses are kept. Returns lits as Lit keys (2*var + sign) flattened with
    * offsets, plus the largest variable id left. Raises
    * [[KernelBudget.KernelMemout]] for a doc past the variable budget, before
    * any key is built: every consumer sizes arrays by variable id.
    */
  def sanitizedParse(buf: Array[Byte]): ClauseDoc = {
    val scan = new CnfScan(buf, hash = false)
    KernelBudget.checkVars(scan.nVars)
    val lits = new Array[Int](scan.nLits)
    val offsets = new Array[Int](scan.nClauses + 1)
    var keys = new Array[Int](16)
    var nLits = 0
    var nClauses = 0
    var nVars = 0
    var c = 0
    while (c < scan.nClauses) {
      val s = scan.offsets(c)
      val n = scan.offsets(c + 1) - s
      if (n > keys.length) keys = new Array[Int](2 * n)
      var i = 0
      while (i < n) {
        val l = scan.lits(s + i)
        keys(i) = (math.abs(l) << 1) | (l >>> 31)
        i += 1
      }
      java.util.Arrays.sort(keys, 0, n)
      // dedup + tautology check on adjacent entries
      var taut = false
      var m = nLits
      i = 0
      while (i < n && !taut) {
        if (m > nLits && keys(i) == lits(m - 1)) () // duplicate
        else if (m > nLits && (keys(i) >> 1) == (lits(m - 1) >> 1)) taut = true
        else { lits(m) = keys(i); m += 1 }
        i += 1
      }
      if (!taut) {
        if (m > nLits) nVars = math.max(lits(m - 1) >> 1, nVars)
        nLits = m
        nClauses += 1
        offsets(nClauses) = nLits
      }
      c += 1
    }
    new ClauseDoc(java.util.Arrays.copyOf(lits, nLits), java.util.Arrays.copyOf(offsets, nClauses + 1), nVars)
  }

  final case class Stats(hash: Long, rounds: Int, stabilized: Boolean)

  /** Run the refinement on a sanitized doc whose lits are Lit keys. */
  def run(doc: ClauseDoc, maxIterations: Int = 31): Stats = {
    val nVars = doc.nVars
    // colors indexed [var][sign]; two ping-pong buffers
    val colors = Array.fill(2)(Array.fill(2 * (nVars + 1))(1L))
    var round = 0
    var prevPartitions = 0L
    var stabilized = false
    val stateBuf = new Array[Long](nVars)

    @inline def stateOriented(p: Long, n: Long): Long = fastMix((p ^ rotl64(n, 1)) + GOLDEN)
    @inline def stateCanonical(p0: Long, n0: Long): Long = {
      var p = p0; var n = n0
      if (java.lang.Long.compareUnsigned(p, n) > 0) { val t = p; p = n; n = t }
      fastMix((p ^ rotl64(n, 1)) + GOLDEN)
    }

    while (round < maxIterations && !stabilized) {
      val oldC = colors(round % 2)
      val newC = colors((round + 1) % 2)
      java.util.Arrays.fill(newC, 0L)

      // scatter clause hashes
      var c = 0
      while (c < doc.nClauses) {
        val s = doc.clauseStart(c)
        val e = doc.clauseEnd(c)
        var a = 0L
        var b = 0L
        var i = s
        while (i < e) {
          val y = fastMix(oldC(doc.lits(i)) + GOLDEN)
          a += y
          b ^= rotl64(y, 23)
          i += 1
        }
        val ch = fastMix(a ^ fastMix(b + 0xbf58476d1ce4e5b9L) ^ (e - s).toLong)
        i = s
        while (i < e) { newC(doc.lits(i)) += ch; i += 1 }
        c += 1
      }

      // finalize per variable (ISOHash2.h:126-143)
      var v = 1
      while (v <= nVars) {
        val oldP = oldC(2 * v)
        val oldN = oldC(2 * v + 1)
        val aggP = newC(2 * v)
        val aggN = newC(2 * v + 1)
        newC(2 * v) = fastMix(oldP + fastMix(aggP) + rotl64(oldN, 1))
        newC(2 * v + 1) = fastMix(oldN + fastMix(aggN) + rotl64(oldP, 1))
        v += 1
      }

      round += 1

      // stabilization: distinct oriented state hashes of the current colors
      val cur = colors(round % 2)
      v = 1
      while (v <= nVars) {
        stateBuf(v - 1) = stateOriented(cur(2 * v), cur(2 * v + 1))
        v += 1
      }
      java.util.Arrays.sort(stateBuf)
      var partitions = if (nVars > 0) 1L else 0L
      var i = 1
      while (i < nVars) {
        if (stateBuf(i) != stateBuf(i - 1)) partitions += 1
        i += 1
      }
      if (partitions == prevPartitions) stabilized = true
      prevPartitions = partitions
    }

    // final canonical state hashes, UNSIGNED-sorted (std::sort on uint64_t),
    // digested. Sign-bit flip turns unsigned order into signed order for
    // Arrays.sort, flipped back before digesting.
    val cur = colors(round % 2)
    var v = 1
    while (v <= nVars) {
      stateBuf(v - 1) = stateCanonical(cur(2 * v), cur(2 * v + 1)) ^ Long.MinValue
      v += 1
    }
    java.util.Arrays.sort(stateBuf)
    v = 0
    while (v < nVars) { stateBuf(v) ^= Long.MinValue; v += 1 }
    Stats(Xxh3.hashLongs(stateBuf), round, stabilized)
  }

  /** Hex form matching the reference's 16-hex zero-padded rendering. */
  def isoHash2(buf: Array[Byte]): String =
    f"${run(sanitizedParse(buf)).hash}%016x"
}
