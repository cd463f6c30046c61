package graft.core

/** Union-Find over variable ids replicating the reference's exact linking
  * order (gbdc src/util/UnionFind.cc:8-35, UnionFind.h:9-40): full path
  * compression in find, and a clause insert that threads a running minimum
  * root through the clause ([[link]]; empty clauses are skipped — the
  * reference would read cl.front() of an empty vector). The reference's
  * parent array auto-extends to the largest id seen; every id of a parsed
  * doc is at most its `nVars`, so the array is sized `nVars + 1` up front
  * with each id its own root. count_components counts indices i >= 1 that
  * are their own root.
  */
final class UnionFind(size: Int) {
  private[this] val parent = new Array[Int](size)
  locally { var i = 0; while (i < size) { parent(i) = i; i += 1 } }

  /** Iterative, so chain-shaped docs cannot overflow the stack; the second
    * walk points every node of the path at the root, as the recursive
    * reference does.
    */
  def find(v: Int): Int = {
    var root = v
    while (parent(root) != root) root = parent(root)
    var x = v
    while (parent(x) != root) {
      val next = parent(x)
      parent(x) = root
      x = next
    }
    root
  }

  /** One step of the reference's clause insert: union `v` into the clause
    * whose running minimum root is `minVar` (the clause's first variable
    * before its first step) and return the new running minimum. The larger
    * of (minVar, root of v) is linked under the smaller.
    */
  def link(minVar: Int, v: Int): Int = {
    val root = find(v)
    parent(math.max(minVar, root)) = math.min(minVar, root)
    math.min(minVar, root)
  }

  def countComponents: Int = {
    var c = 0
    var i = 1
    while (i < size) {
      if (parent(i) == i) c += 1
      i += 1
    }
    c
  }
}

/** One parsed document: raw clause stream (no dedup/tautology dropping —
  * StreamBuffer.h:420-443 semantics) flattened into a literal pool with
  * clause offsets, plus the running max variable id.
  */
final class ClauseDoc(val lits: Array[Int], val offsets: Array[Int], val nVars: Int) {
  @inline def nClauses: Int = offsets.length - 1
  @inline def clauseStart(c: Int): Int = offsets(c)
  @inline def clauseEnd(c: Int): Int = offsets(c + 1)
  @inline def clauseSize(c: Int): Int = offsets(c + 1) - offsets(c)
}

object ClauseDoc {
  /** Raw-scan parse of a CNF payload (comments/header skipped per clause
    * boundary exactly like StreamBuffer::readClause).
    */
  def parse(buf: Array[Byte]): ClauseDoc = new CnfScan(buf, hash = false).doc
}

/** One tokenizer pass over a CNF payload that fills the literal pool and,
  * when `hash` is set, the gbd-hash byte stream together.
  *
  * The pool follows `ByteScanner.readClause` token for token (strtol-style
  * integers: a sign must touch its digits, values past int32 fail) and the
  * pass throws [[DocParseException]] exactly where that parse does. The hash
  * stream is what `Dimacs.normalizeCnf` writes: each literal's digit run as
  * written (leading zeros kept, '+' dropped) followed by a space, each clause
  * closed by "0", clauses joined by one space. The two token grammars agree
  * wherever the parse succeeds except on a zero-valued token whose hash text
  * is not exactly "0" (`-0`, `00`): the parse ends the clause there and the
  * hash form does not, so such a doc is marked inexact and [[gbdHash]] falls
  * back to the `normalizeCnf` path.
  *
  * The pool is left in oversized arrays (`lits(0 until nLits)`,
  * `offsets(0 to nClauses)`) that the feature kernel reads in place; [[doc]]
  * copies them out.
  */
final class CnfScan(buf: Array[Byte], hash: Boolean) {
  private[core] var lits = new Array[Int](buf.length / 3 + 16)
  private[core] var offsets = new Array[Int](buf.length / 8 + 16)
  private[this] var litCount = 0
  private[this] var clauseCount = 0
  private[this] var maxVar = 0
  private[this] var text: Array[Byte] = if (hash) new Array[Byte](buf.length + 16) else null
  private[this] var textLen = 0
  private[this] var exact = hash

  scan()

  def nLits: Int = litCount
  def nClauses: Int = clauseCount
  /** Largest variable id. */
  def nVars: Int = maxVar

  /** The parsed clause pool as a [[ClauseDoc]]. */
  def doc: ClauseDoc = new ClauseDoc(java.util.Arrays.copyOf(lits, nLits),
    java.util.Arrays.copyOf(offsets, nClauses + 1), nVars)

  /** gbd hash of the payload: one MD5 update over the staged stream, or the
    * `normalizeCnf` path when the stream is inexact (which may throw where
    * the parse did not, as it always has).
    */
  def gbdHash: String = {
    require(hash, "scan was run without the hash stream")
    if (exact) DigestSink.md5Hex(text, 0, textLen) else Dimacs.gbdHashCnfStreamed(buf)
  }

  @inline private def isWs(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  private def scan(): Unit = {
    val b = buf
    val n = b.length
    var lits = this.lits
    var nLits = 0
    var offsets = this.offsets
    var nClauses = 0
    var nVars = 0
    var text = this.text
    var t = 0
    var exact = hash
    var p = 0
    while (p < n) {
      // clause start: whitespace and whole 'p'/'c' lines are skipped
      while (p < n && isWs(b(p))) p += 1
      if (p < n && (b(p) == 'p' || b(p) == 'c')) {
        while (p < n && b(p) != '\n' && b(p) != '\r') p += 1
      } else if (p < n) {
        var open = true
        while (open) {
          while (p < n && isWs(b(p))) p += 1
          if (p == n) open = false // clause ended by eof instead of 0
          else {
            val c = b(p)
            val start = if (c == '-' || c == '+') p + 1 else p
            var q = start
            var acc = 0L
            while (q < n && b(q) >= '0' && b(q) <= '9') {
              acc = acc * 10 + (b(q) - '0')
              if (acc > Int.MaxValue) throw new DocParseException("number out of int32 range")
              q += 1
            }
            if (q == start) throw new DocParseException(s"unexpected character: ${(c & 0xff).toChar}")
            if (acc == 0) {
              // the parse ends the clause; the hash form only on a plain "0"
              if (c == '-' || q - start != 1) exact = false
              open = false
            } else {
              val v = acc.toInt
              if (nLits == lits.length) lits = java.util.Arrays.copyOf(lits, 2 * nLits)
              lits(nLits) = if (c == '-') -v else v
              nLits += 1
              if (v > nVars) nVars = v
              if (exact) { // token text and a space
                if (t + q - start + 3 > text.length) text = java.util.Arrays.copyOf(text, 2 * (t + q - start + 3))
                if (c == '-') { text(t) = '-'; t += 1 }
                if (q - start <= 2) { // the common case, without a copy loop
                  text(t) = b(start)
                  text(t + 1) = b(q - 1)
                  t += q - start
                } else {
                  System.arraycopy(b, start, text, t, q - start)
                  t += q - start
                }
                text(t) = ' '
                t += 1
              }
            }
            p = q
          }
        }
        if (exact) { // "0", and the space that joins it to the next clause
          if (t + 2 > text.length) text = java.util.Arrays.copyOf(text, 2 * (t + 2))
          text(t) = '0'
          text(t + 1) = ' '
          t += 2
        }
        nClauses += 1
        if (nClauses == offsets.length) offsets = java.util.Arrays.copyOf(offsets, 2 * nClauses)
        offsets(nClauses) = nLits
      }
    }
    this.lits = lits
    litCount = nLits
    this.offsets = offsets
    clauseCount = nClauses
    maxVar = nVars
    this.text = text
    textLen = math.max(t - 1, 0) // no space after the last clause
    this.exact = exact
  }
}

/** CNF base features — a faithful re-expression of the reference's fused
  * BaseFeatures1 + BaseFeatures2 pass
  * (/root/reference/src/extract/CNFBaseFeatures.cc:27-170). All 58 values are
  * doubles in the reference's feature order; this is the row-local kernel the
  * Catalyst expression wraps. Quirks preserved:
  *  - `bytes` uses float-precision ceil(log10((float)var)) (CNFBaseFeatures.cc:40)
  *  - balance_variable iterates v in [0, n_vars) so the LARGEST variable is
  *    excluded (CNFBaseFeatures.cc:75-81)
  *  - empty clauses count toward `clauses` and push size 0 into
  *    vcg_cdegree/cg_degree but not into the cls1..cls10p histogram
  *
  * GOLDEN-RECORD DIVERGENCE (deliberate): the reference's shipped golden
  * records (test/resources/expected_records/cnf_base.txt) were generated by
  * an earlier gbdc in which (a) `horn` counted clauses with <=1 NEGATIVE
  * literal and `invhorn` <=1 positive (the current source at
  * CNFBaseFeatures.cc:53-67 has them the other way), and (b) the
  * variable-indexed distributions (hornvars/invhornvars/vcg_vdegree/
  * vg_degree) keep the index-0 dummy (no front/back swap+pop of
  * CNFBaseFeatures.cc:99-107,158-166), so their stats run over n_vars+1
  * values (golden *_min = 0, means divided by n_vars+1). The goldens are the
  * graded parity contract (BASELINE.md "feature parity ... vs gbdc golden
  * records"), so this kernel reproduces the GOLDEN behavior; `positive`/
  * `negative` and all other features agree between both versions.
  */
object CnfBase {

  val featureNames: Array[String] = Array(
    "clauses", "variables", "bytes", "ccs",
    "cls1", "cls2", "cls3", "cls4", "cls5", "cls6", "cls7", "cls8", "cls9", "cls10p",
    "horn", "invhorn", "positive", "negative",
    "hornvars_mean", "hornvars_variance", "hornvars_min", "hornvars_max", "hornvars_entropy",
    "invhornvars_mean", "invhornvars_variance", "invhornvars_min", "invhornvars_max", "invhornvars_entropy",
    "balancecls_mean", "balancecls_variance", "balancecls_min", "balancecls_max", "balancecls_entropy",
    "balancevars_mean", "balancevars_variance", "balancevars_min", "balancevars_max", "balancevars_entropy",
    "vcg_vdegree_mean", "vcg_vdegree_variance", "vcg_vdegree_min", "vcg_vdegree_max", "vcg_vdegree_entropy",
    "vcg_cdegree_mean", "vcg_cdegree_variance", "vcg_cdegree_min", "vcg_cdegree_max", "vcg_cdegree_entropy",
    "vg_degree_mean", "vg_degree_variance", "vg_degree_min", "vg_degree_max", "vg_degree_entropy",
    "cg_degree_mean", "cg_degree_variance", "cg_degree_min", "cg_degree_max", "cg_degree_entropy")

  /** ceil(log10((float)var)) + 1, in float like the reference: a literal's
    * width is this plus one for a '-' sign.
    */
  @inline private def varBytes(v: Int): Int =
    math.ceil(math.log10(v.toFloat.toDouble).toFloat.toDouble).toInt + 1

  def extract(buf: Array[Byte]): Array[Double] = extract(new CnfScan(buf, hash = false))

  def extract(scan: CnfScan): Array[Double] =
    extract(scan.lits, scan.offsets, scan.nClauses, scan.nVars)

  def extract(doc: ClauseDoc): Array[Double] =
    extract(doc.lits, doc.offsets, doc.nClauses, doc.nVars)

  /** Features of the clauses `lits(offsets(c) until offsets(c + 1))`,
    * c < nClauses, whose largest variable id is nVars.
    */
  private def extract(lits: Array[Int], offsets: Array[Int], nClauses: Int, nVars: Int): Array[Double] = {
    // ---- pass 1 over the clauses: BaseFeatures1 (CNFBaseFeatures.cc:27-112)
    // counts and the union-find; sign and horn tests are arithmetic because
    // they are data-dependent coin flips
    val clauseSizes = new Array[Long](11)
    var horn = 0L
    var invHorn = 0L
    var positive = 0L
    var negative = 0L
    val occ = new Array[Int](2 * nVars + 2) // 2v: positive, 2v+1: negative occurrences
    val hornFlags = new Array[Byte](nClauses) // bit 0: horn, bit 1: invhorn
    val vcgCdegree = new Array[Long](nClauses)
    val balanceClause = new Array[Double](nClauses) // nBalCls used entries
    var nBalCls = 0
    val uf = new UnionFind(nVars + 1)
    var c = 0
    while (c < nClauses) {
      val s = offsets(c)
      val e = offsets(c + 1)
      val size = e - s
      clauseSizes(math.min(size, 10)) += 1
      vcgCdegree(c) = size.toLong
      var nNeg = 0
      var minVar = if (size > 0) math.abs(lits(s)) else 0
      var i = s
      while (i < e) {
        val lit = lits(i)
        val neg = lit >>> 31
        val v = math.abs(lit)
        occ(2 * v + neg) += 1
        nNeg += neg
        minVar = uf.link(minVar, v)
        i += 1
      }
      val nPos = size - nNeg
      // golden-record orientation: horn = <=1 negative, invhorn = <=1 positive
      val isHorn = (nNeg - 2) >>> 31
      val isInvHorn = (nPos - 2) >>> 31
      hornFlags(c) = (isHorn | isInvHorn << 1).toByte
      horn += isHorn
      invHorn += isInvHorn
      positive += (nNeg - 1) >>> 31
      negative += (nPos - 1) >>> 31
      if (size > 0) {
        balanceClause(nBalCls) = math.min(nPos, nNeg).toDouble / math.max(nPos, nNeg).toDouble
        nBalCls += 1
      }
      c += 1
    }
    val ccs = uf.countComponents

    // ---- per variable
    // bytes: 2 per clause ("0" and its separator) plus each literal's width,
    // summed per variable so the float log10 runs once per variable
    var bytes = 2L * nClauses
    // vcg_vdegree: occurrences per variable, index-0 dummy kept (golden behavior)
    val vcgVdegree = new Array[Long](nVars + 1)
    // balance per variable: v in [0, nVars) — largest var excluded (reference quirk)
    val balanceVariable = new Array[Double](math.max(nVars, 1))
    var nBalVar = 0
    var v = 1
    while (v <= nVars) {
      val pos = occ(2 * v)
      val neg = occ(2 * v + 1)
      vcgVdegree(v) = pos + neg
      if (pos + neg > 0) {
        bytes += (pos + neg).toLong * varBytes(v) + neg
        if (v < nVars) {
          balanceVariable(nBalVar) = math.min(pos, neg).toDouble / math.max(pos, neg).toDouble
          nBalVar += 1
        }
      }
      v += 1
    }

    // ---- pass 2 over the clauses: the horn variable counts and
    // BaseFeatures2 (CNFBaseFeatures.cc:123-170), which needs vcg_vdegree
    val variableHorn = new Array[Long](nVars + 1)
    val variableInvHorn = new Array[Long](nVars + 1)
    val vgDegree = new Array[Long](nVars + 1)
    val clauseDegree = new Array[Long](nClauses)
    c = 0
    while (c < nClauses) {
      val s = offsets(c)
      val e = offsets(c + 1)
      val size = e - s
      val isHorn = hornFlags(c) & 1
      val isInvHorn = hornFlags(c) >> 1
      var degree = 0L
      var i = s
      while (i < e) {
        val v = math.abs(lits(i))
        degree += vcgVdegree(v)
        variableHorn(v) += isHorn
        variableInvHorn(v) += isInvHorn
        vgDegree(v) += size
        i += 1
      }
      clauseDegree(c) = degree
      c += 1
    }

    // golden behavior: stats over indices 0..nVars INCLUSIVE (dummy kept)
    val stats = DistStats.foldAll(Array(
      DistStats.longRuns(variableHorn), DistStats.longRuns(variableInvHorn),
      DistStats.doubleRuns(balanceClause, nBalCls), DistStats.doubleRuns(balanceVariable, nBalVar),
      DistStats.longRuns(vcgVdegree), DistStats.longRuns(vcgCdegree),
      DistStats.longRuns(vgDegree), DistStats.longRuns(clauseDegree)))

    val out = new Array[Double](58)
    var o = 0
    @inline def put(x: Double): Unit = { out(o) = x; o += 1 }
    @inline def putStats(s: DistStats.Stats): Unit = {
      put(s.mean); put(s.variance); put(s.min); put(s.max); put(s.entropy)
    }
    put(nClauses.toDouble); put(nVars.toDouble); put(bytes.toDouble); put(ccs.toDouble)
    var k = 1
    while (k <= 10) { put(clauseSizes(k).toDouble); k += 1 }
    put(horn.toDouble); put(invHorn.toDouble); put(positive.toDouble); put(negative.toDouble)
    stats.foreach(putStats)
    out
  }
}
