package graft.core

import scala.collection.mutable.ArrayBuffer

/** WCNF base features — re-expression of the reference's two-pass extractor
  * (/root/reference/src/extract/WCNFBaseFeatures.cc:11-307). Hard/soft split:
  * new format uses an `h` prefix, old format (`p wcnf v c top`) treats
  * weight >= top as hard. Quirks preserved:
  *  - variables are counted across hard AND soft clauses (resize loop before
  *    the weight check, WCNFBaseFeatures.cc:66-73)
  *  - a weight of 0 in the new format is treated as hard (the `!weight` test,
  *    [[WcnfDoc.featureHard]])
  *  - pass-2 vcg_cdegree includes SOFT clause sizes while vdegree/vg count
  *    hard occurrences only (WCNFBaseFeatures.cc:214-229)
  *  - clause-graph degrees are emitted for hard clauses only
  *    (WCNFBaseFeatures.cc:233-254)
  *  - balance_variable excludes the largest variable (loop v in [0, n_vars))
  */
object WcnfBase {

  val featureNames: Array[String] = Array(
    "h_clauses", "variables",
    "h_cls1", "h_cls2", "h_cls3", "h_cls4", "h_cls5", "h_cls6", "h_cls7", "h_cls8", "h_cls9", "h_cls10p",
    "h_horn", "h_invhorn", "h_positive", "h_negative",
    "h_hornvars_mean", "h_hornvars_variance", "h_hornvars_min", "h_hornvars_max", "h_hornvars_entropy",
    "h_invhornvars_mean", "h_invhornvars_variance", "h_invhornvars_min", "h_invhornvars_max", "h_invhornvars_entropy",
    "h_balancecls_mean", "h_balancecls_variance", "h_balancecls_min", "h_balancecls_max", "h_balancecls_entropy",
    "h_balancevars_mean", "h_balancevars_variance", "h_balancevars_min", "h_balancevars_max", "h_balancevars_entropy",
    "s_clauses", "s_weight_sum",
    "s_cls1", "s_cls2", "s_cls3", "s_cls4", "s_cls5", "s_cls6", "s_cls7", "s_cls8", "s_cls9", "s_cls10p",
    "s_weight_mean", "s_weight_variance", "s_weight_min", "s_weight_max", "s_weight_entropy",
    "h_vcg_cdegree_mean", "h_vcg_cdegree_variance", "h_vcg_cdegree_min", "h_vcg_cdegree_max", "h_vcg_cdegree_entropy",
    "h_vcg_vdegree_mean", "h_vcg_vdegree_variance", "h_vcg_vdegree_min", "h_vcg_vdegree_max", "h_vcg_vdegree_entropy",
    "h_vg_degree_mean", "h_vg_degree_variance", "h_vg_degree_min", "h_vg_degree_max", "h_vg_degree_entropy",
    "h_cg_degree_mean", "h_cg_degree_variance", "h_cg_degree_min", "h_cg_degree_max", "h_cg_degree_entropy")

  /** Parsed WCNF doc: per-clause weight (0 for an `h` clause), whether
    * the clause is hard by syntax (an `h` prefix, or an old-format weight
    * >= top), and the raw literal stream.
    */
  final class WcnfDoc(val lits: Array[Int], val offsets: Array[Int],
                      val weights: Array[Long], val hard: Array[Boolean], val nVars: Int) {
    @inline def nClauses: Int = offsets.length - 1
    /** The extractor's hard test: hard by syntax, or a weight of 0 (the
      * reference's `!weight` test). The isohash keeps weight-0 clauses soft.
      */
    @inline def featureHard(c: Int): Boolean = hard(c) || weights(c) == 0L
  }

  /** The one WCNF reader, shared by the features, the isohash and the
    * fused extract. Each sizes arrays by variable id, so each checks
    * `nVars` against its variable budget after the parse.
    */
  def parse(buf: Array[Byte]): WcnfDoc = {
    val in = new ByteScanner(buf)
    val lits = new IntArrayList(256)
    val offsets = new IntArrayList(64)
    val weights = new ArrayBuffer[Long](64)
    val hard = new ArrayBuffer[Boolean](64)
    val clause = new IntArrayList(32)
    offsets.add(0)
    var top = 0L
    var nVars = 0
    var running = true
    while (running && in.skipWhitespace()) {
      if (in.ch == 'c') {
        if (!in.skipLine()) running = false
      } else if (in.ch == 'p') {
        in.skip(); in.skipWhitespace()
        in.skipString("wcnf")
        in.skipNumber(); in.skipNumber()
        in.readUInt64(); top = in.lastLong
        in.skipLine()
      } else {
        if (in.ch == 'h') {
          in.skip()
          weights += 0L
          hard += true
        } else {
          in.readUInt64()
          weights += in.lastLong
          hard += top > 0 && in.lastLong >= top // old-format hard clause
        }
        in.readClause(clause)
        var i = 0
        while (i < clause.size) {
          val l = clause(i)
          lits.add(l)
          val v = math.abs(l)
          if (v > nVars) nVars = v
          i += 1
        }
        offsets.add(lits.size)
      }
    }
    new WcnfDoc(lits.toArray, offsets.toArray, weights.toArray, hard.toArray, nVars)
  }

  /** Raises [[KernelBudget.KernelMemout]] for a doc past the default
    * variable budget.
    */
  def extract(buf: Array[Byte]): Array[Double] = {
    val doc = parse(buf)
    KernelBudget.checkVars(doc.nVars)
    extract(doc)
  }

  def extract(doc: WcnfDoc): Array[Double] = {
    val nVars = doc.nVars
    val n = doc.nClauses
    val lits = doc.lits

    // ---- BaseFeatures1 (WCNFBaseFeatures.cc:28-169) ----
    val hardSizes = new Array[Long](11)
    val softSizes = new Array[Long](11)
    var nHard = 0L
    var nSoft = 0L
    var weightSum = 0L
    var horn = 0L
    var invHorn = 0L
    var positive = 0L
    var negative = 0L
    val variableHorn = new Array[Long](nVars + 1)
    val variableInvHorn = new Array[Long](nVars + 1)
    val occPos = new Array[Long](nVars + 1)
    val occNeg = new Array[Long](nVars + 1)
    val balanceClause = new ArrayBuffer[Double]
    val softWeights = new ArrayBuffer[Long]

    var c = 0
    while (c < n) {
      val s = doc.offsets(c)
      val e = doc.offsets(c + 1)
      val size = e - s
      if (doc.featureHard(c)) {
        nHard += 1
        hardSizes(math.min(size, 10)) += 1
        var nNeg = 0
        var i = s
        while (i < e) {
          val lit = lits(i)
          if (lit < 0) { nNeg += 1; occNeg(-lit) += 1 } else occPos(lit) += 1
          i += 1
        }
        val nPos = size - nNeg
        // golden-record orientation (see CnfBase divergence note):
        // h_horn = <=1 negative, h_invhorn = <=1 positive
        if (nPos <= 1) {
          if (nPos == 0) negative += 1
          invHorn += 1
          i = s
          while (i < e) { variableInvHorn(math.abs(lits(i))) += 1; i += 1 }
        }
        if (nNeg <= 1) {
          if (nNeg == 0) positive += 1
          horn += 1
          i = s
          while (i < e) { variableHorn(math.abs(lits(i))) += 1; i += 1 }
        }
        if (size > 0) balanceClause += math.min(nPos, nNeg).toDouble / math.max(nPos, nNeg).toDouble
      } else {
        nSoft += 1
        weightSum += doc.weights(c)
        softSizes(math.min(size, 10)) += 1
        softWeights += doc.weights(c)
      }
      c += 1
    }

    val balanceVariable = new ArrayBuffer[Double](nVars)
    var v = 0
    while (v < nVars) { // largest var excluded (reference quirk)
      val pos = occPos(v).toDouble
      val neg = occNeg(v).toDouble
      if (math.max(pos, neg) > 0) balanceVariable += math.min(pos, neg) / math.max(pos, neg)
      v += 1
    }

    // golden behavior: index-0 dummy kept (see CnfBase divergence note)
    val hornStats = DistStats.ofLongs(variableHorn)
    val invHornStats = DistStats.ofLongs(variableInvHorn)
    val balClsStats = DistStats.ofDoubles(balanceClause.toArray)
    val balVarStats = DistStats.ofDoubles(balanceVariable.toArray)
    val weightStats = DistStats.ofLongs(softWeights.toArray)

    // ---- BaseFeatures2 (WCNFBaseFeatures.cc:180-274) ----
    // pass 1: cdegree over ALL clauses; vdegree/vg over hard only
    val vcgCdegree = new Array[Long](n)
    val vcgVdegree = new Array[Long](nVars + 1)
    val vgDegree = new Array[Long](nVars + 1)
    c = 0
    while (c < n) {
      val s = doc.offsets(c)
      val e = doc.offsets(c + 1)
      val size = e - s
      vcgCdegree(c) = size.toLong
      if (doc.featureHard(c)) {
        var i = s
        while (i < e) {
          val vv = math.abs(lits(i))
          vcgVdegree(vv) += 1
          vgDegree(vv) += size.toLong
          i += 1
        }
      }
      c += 1
    }
    // pass 2: clause-graph degree over hard clauses only
    val clauseDegree = new ArrayBuffer[Long]
    c = 0
    while (c < n) {
      if (doc.featureHard(c)) {
        val s = doc.offsets(c)
        val e = doc.offsets(c + 1)
        var degree = 0L
        var i = s
        while (i < e) { degree += vcgVdegree(math.abs(lits(i))); i += 1 }
        clauseDegree += degree
      }
      c += 1
    }
    val cdegStats = DistStats.ofLongs(vcgCdegree)
    // golden behavior: index-0 dummy kept (see CnfBase divergence note)
    val vdegStats = DistStats.ofLongs(vcgVdegree)
    val vgStats = DistStats.ofLongs(vgDegree)
    val cgStats = DistStats.ofLongs(clauseDegree.toArray)

    val out = new Array[Double](featureNames.length)
    var o = 0
    @inline def put(x: Double): Unit = { out(o) = x; o += 1 }
    @inline def putStats(st: DistStats.Stats): Unit = {
      put(st.mean); put(st.variance); put(st.min); put(st.max); put(st.entropy)
    }
    put(nHard.toDouble); put(nVars.toDouble)
    var k = 1
    while (k <= 10) { put(hardSizes(k).toDouble); k += 1 }
    put(horn.toDouble); put(invHorn.toDouble); put(positive.toDouble); put(negative.toDouble)
    putStats(hornStats); putStats(invHornStats); putStats(balClsStats); putStats(balVarStats)
    put(nSoft.toDouble); put(weightSum.toDouble)
    k = 1
    while (k <= 10) { put(softSizes(k).toDouble); k += 1 }
    putStats(weightStats)
    putStats(cdegStats); putStats(vdegStats); putStats(vgStats); putStats(cgStats)
    out
  }
}
