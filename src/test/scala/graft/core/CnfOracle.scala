package graft.core

/** Test-scope oracle: the CNF kernel as it stood before the single-pass
  * rewrite, kept verbatim (two tokenize passes, recursive union-find,
  * sort-based distribution statistics, boxed double histogram). The
  * bit-identity spec compares the production kernel against it; the shared
  * primitives it uses (ByteScanner, IntArrayList, DigestSink, BufferSink)
  * are not part of the rewrite.
  */
object CnfOracle {

  final class UnionFind {
    private[this] var parent = new Array[Int](0)
    private[this] var allocated = 0

    private def ensure(idx: Int): Unit = {
      if (idx >= allocated) {
        if (idx >= parent.length) {
          var cap = if (parent.length == 0) 16 else parent.length
          while (cap <= idx) cap *= 2
          val bigger = new Array[Int](cap)
          System.arraycopy(parent, 0, bigger, 0, allocated)
          parent = bigger
        }
        var j = allocated
        while (j <= idx) { parent(j) = j; j += 1 }
        allocated = idx + 1
      }
    }

    def find(v: Int): Int = {
      ensure(v)
      val p = parent(v)
      if (p == v) v
      else {
        val root = find(p)
        parent(v) = root
        root
      }
    }

    /** Insert one clause of signed DIMACS literals (vars = |lit|). Empty
      * clauses are skipped (the reference would read cl.front() of an empty
      * vector — undefined behavior we do not reproduce).
      */
    def insert(lits: Array[Int], len: Int): Unit = {
      if (len == 0) return
      var minVar = math.abs(lits(0))
      ensure(minVar)
      var i = 0
      while (i < len) {
        val par = find(math.abs(lits(i)))
        if (minVar > par) {
          parent(minVar) = par
          minVar = par
        } else {
          parent(par) = minVar
        }
        i += 1
      }
    }

    def countComponents: Int = {
      var c = 0
      var i = 1
      while (i < allocated) {
        if (find(parent(i)) == i) c += 1
        i += 1
      }
      c
    }
  }

  object ClauseDoc {
    def parse(buf: Array[Byte]): ClauseDoc = {
      val in = new ByteScanner(buf)
      val lits = new IntArrayList(256)
      val offsets = new IntArrayList(64)
      val clause = new IntArrayList(32)
      offsets.add(0)
      var nVars = 0
      while (in.readClause(clause)) {
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
      new ClauseDoc(lits.toArray, offsets.toArray, nVars)
    }
  }

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

    /** sign + ceil(log10((float)var)) + 1, in float like the reference. */
    @inline private def litBytes(lit: Int): Int = {
      val v = math.abs(lit)
      val sign = if (lit < 0) 1 else 0
      val l = math.ceil(math.log10(v.toFloat.toDouble).toFloat.toDouble)
      (sign + l + 1).toInt
    }

    def extract(buf: Array[Byte]): Array[Double] = extract(ClauseDoc.parse(buf))

    def extract(doc: ClauseDoc): Array[Double] = {
      val nVars = doc.nVars
      val nClauses = doc.nClauses

      // ---- BaseFeatures1 (CNFBaseFeatures.cc:27-112) ----
      val clauseSizes = new Array[Long](11)
      var bytes = 0L
      var horn = 0L
      var invHorn = 0L
      var positive = 0L
      var negative = 0L
      val variableHorn = new Array[Long](nVars + 1)
      val variableInvHorn = new Array[Long](nVars + 1)
      val occPos = new Array[Long](nVars + 1)
      val occNeg = new Array[Long](nVars + 1)
      val balanceClause = new Array[Double](nClauses) // primitive; nBalCls used entries
      var nBalCls = 0

      val lits = doc.lits
      var c = 0
      while (c < nClauses) {
        val s = doc.clauseStart(c)
        val e = doc.clauseEnd(c)
        val size = e - s
        clauseSizes(math.min(size, 10)) += 1
        bytes += 2

        var nNeg = 0
        var i = s
        while (i < e) {
          val lit = lits(i)
          bytes += litBytes(lit)
          if (lit < 0) { nNeg += 1; occNeg(-lit) += 1 } else occPos(lit) += 1
          i += 1
        }
        val nPos = size - nNeg
        // golden-record orientation: horn = <=1 negative, invhorn = <=1 positive
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
        if (size > 0) {
          balanceClause(nBalCls) = math.min(nPos, nNeg).toDouble / math.max(nPos, nNeg).toDouble
          nBalCls += 1
        }
        c += 1
      }

      // union-find over clause slices (needs contiguous arrays per clause)
      c = 0
      val tmp = new Array[Int](if (nClauses == 0) 0 else {
        var m = 0; var k = 0
        while (k < nClauses) { m = math.max(m, doc.clauseSize(k)); k += 1 }
        m
      })
      val uf = new UnionFind
      c = 0
      while (c < nClauses) {
        val s = doc.clauseStart(c)
        val size = doc.clauseSize(c)
        if (size > 0) {
          System.arraycopy(lits, s, tmp, 0, size)
          uf.insert(tmp, size)
        }
        c += 1
      }
      val ccs = uf.countComponents

      // balance per variable: v in [0, nVars) — largest var excluded (reference quirk)
      val balanceVariable = new Array[Double](math.max(nVars, 1))
      var nBalVar = 0
      var v = 0
      while (v < nVars) {
        val pos = occPos(v).toDouble
        val neg = occNeg(v).toDouble
        if (math.max(pos, neg) > 0) {
          balanceVariable(nBalVar) = math.min(pos, neg) / math.max(pos, neg)
          nBalVar += 1
        }
        v += 1
      }

      // golden behavior: stats over indices 0..nVars INCLUSIVE (dummy kept)
      val hornStats = DistStats.ofLongs(variableHorn)
      val invHornStats = DistStats.ofLongs(variableInvHorn)
      val balClsStats = DistStats.ofDoubles(java.util.Arrays.copyOf(balanceClause, nBalCls))
      val balVarStats = DistStats.ofDoubles(java.util.Arrays.copyOf(balanceVariable, nBalVar))

      // ---- BaseFeatures2 (CNFBaseFeatures.cc:123-170) ----
      val vcgCdegree = new Array[Long](nClauses)
      val vcgVdegree = new Array[Long](nVars + 1)
      val vgDegree = new Array[Long](nVars + 1)
      c = 0
      while (c < nClauses) {
        val s = doc.clauseStart(c)
        val e = doc.clauseEnd(c)
        val size = e - s
        vcgCdegree(c) = size.toLong
        var i = s
        while (i < e) {
          val vv = math.abs(lits(i))
          vcgVdegree(vv) += 1
          vgDegree(vv) += size.toLong
          i += 1
        }
        c += 1
      }
      val clauseDegree = new Array[Long](nClauses)
      c = 0
      while (c < nClauses) {
        val s = doc.clauseStart(c)
        val e = doc.clauseEnd(c)
        var degree = 0L
        var i = s
        while (i < e) { degree += vcgVdegree(math.abs(lits(i))); i += 1 }
        clauseDegree(c) = degree
        c += 1
      }
      // golden behavior: index-0 dummy kept in the variable-degree stats
      val vdegStats = DistStats.ofLongs(vcgVdegree)
      val cdegStats = DistStats.ofLongs(vcgCdegree)
      val vgStats = DistStats.ofLongs(vgDegree)
      val cgStats = DistStats.ofLongs(clauseDegree)

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
      putStats(hornStats); putStats(invHornStats); putStats(balClsStats); putStats(balVarStats)
      putStats(vdegStats); putStats(cdegStats); putStats(vgStats); putStats(cgStats)
      out
    }
  }

  object DistStats {

    /** Emission order matches the reference's `{mean, variance, min, max,
      * entropy}` (CaptureDistribution.cc:87).
      */
    final case class Stats(mean: Double, variance: Double, min: Double, max: Double, entropy: Double)

    val Zero: Stats = Stats(0.0, 0.0, 0.0, 0.0, 0.0)

    /** C++ std::round: half away from zero (scala math.round is half-up). */
    @inline private def cround(x: Double): Double =
      if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)

    private def meanOf(sorted: Array[Double]): Double = {
      var m = 0.0
      var i = 0
      while (i < sorted.length) { m += (sorted(i) - m) / (i + 1); i += 1 }
      m
    }

    private def varianceOf(sorted: Array[Double], mean: Double): Double = {
      var v = 0.0
      var i = 0
      while (i < sorted.length) {
        val d = sorted(i) - mean
        v += (d * d - v) / (i + 1)
        i += 1
      }
      v
    }

    /** Entropy from occurrence counts: summands p*log2(p) sorted by |x|
      * ascending, negated sum, scaled by log2(K) (CaptureDistribution.cc:30-46).
      */
    private def scaledEntropyFromCounts(counts: java.util.Collection[java.lang.Long], total: Long): Double = {
      val summands = new Array[Double](counts.size)
      var i = 0
      val it = counts.iterator
      while (it.hasNext) {
        val p = it.next().longValue.toDouble / total.toDouble
        summands(i) = p * (math.log(p) / math.log(2.0))
        i += 1
      }
      java.util.Arrays.sort(summands) // all summands <= 0, so ascending |x| = descending value
      // sort by |x| ascending == reverse of natural ascending for non-positive values
      var entropy = 0.0
      var j = summands.length - 1
      while (j >= 0) { entropy -= summands(j); j -= 1 }
      val k = summands.length
      val log2k = math.log(k.toDouble) / math.log(2.0)
      if (log2k == 0.0) 0.0 else entropy / log2k
    }

    /** Double-valued distribution entropy with the trunc-key presence quirk
      * (CaptureDistribution.cc:48-60). `sorted` must already be sorted — the
      * insertion order over the sorted data determines the final histogram.
      */
    private def scaledEntropyDoubles(sorted: Array[Double]): Double = {
      val occ = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      var i = 0
      while (i < sorted.length) {
        val value = sorted(i)
        val snap = cround(1000.0 * value).toLong
        // reference quirk: presence probed with (int64)value, not snap
        if (occ.containsKey(value.toLong)) {
          occ.put(snap, occ.getOrDefault(snap, 0L) + 1L)
        } else {
          occ.put(snap, 1L)
        }
        i += 1
      }
      scaledEntropyFromCounts(occ.values, sorted.length.toLong)
    }

    /** Integer-valued distribution entropy with the unsigned-32 truncation
      * quirk (CaptureDistribution.cc:62-73). Histogram via sort + run-length
      * instead of a boxed map — the hot path at 32 executor threads.
      */
    private def scaledEntropyLongs(values: Array[Long]): Double = {
      val keys = new Array[Long](values.length)
      var i = 0
      while (i < values.length) {
        keys(i) = values(i) & 0xffffffffL // C `unsigned` loop variable
        i += 1
      }
      java.util.Arrays.sort(keys)
      // run lengths -> summands, directly
      var distinct = 0
      i = 0
      while (i < keys.length) {
        var j = i + 1
        while (j < keys.length && keys(j) == keys(i)) j += 1
        keys(distinct) = j - i // reuse buffer for counts
        distinct += 1
        i = j
      }
      val total = values.length.toDouble
      val summands = new Array[Double](distinct)
      i = 0
      while (i < distinct) {
        val p = keys(i).toDouble / total
        summands(i) = p * (math.log(p) / math.log(2.0))
        i += 1
      }
      java.util.Arrays.sort(summands)
      var entropy = 0.0
      var j = summands.length - 1
      while (j >= 0) { entropy -= summands(j); j -= 1 }
      val log2k = math.log(distinct.toDouble) / math.log(2.0)
      if (log2k == 0.0) 0.0 else entropy / log2k
    }

    /** Stats over a double distribution. Consumes (sorts) a copy. */
    def ofDoubles(values: Array[Double]): Stats = {
      if (values.length == 0) return Zero
      val sorted = java.util.Arrays.copyOf(values, values.length)
      java.util.Arrays.sort(sorted)
      val mean = meanOf(sorted)
      Stats(mean, varianceOf(sorted, mean), sorted(0), sorted(sorted.length - 1),
        scaledEntropyDoubles(sorted))
    }

    /** Stats over an integer (unsigned in the reference) distribution. */
    def ofLongs(values: Array[Long]): Stats = {
      if (values.length == 0) return Zero
      val sorted = java.util.Arrays.copyOf(values, values.length)
      java.util.Arrays.sort(sorted)
      var mean = 0.0
      var i = 0
      while (i < sorted.length) { mean += (sorted(i).toDouble - mean) / (i + 1); i += 1 }
      var vari = 0.0
      i = 0
      while (i < sorted.length) {
        val d = sorted(i).toDouble - mean
        vari += (d * d - vari) / (i + 1)
        i += 1
      }
      Stats(mean, vari, sorted(0).toDouble, sorted(sorted.length - 1).toDouble,
        scaledEntropyLongs(sorted))
    }

    def ofInts(values: Array[Int]): Stats = {
      val longs = new Array[Long](values.length)
      var i = 0
      while (i < values.length) { longs(i) = values(i).toLong; i += 1 }
      ofLongs(longs)
    }
  }

  object Dimacs {
    /** Hash-form CNF normalization (gbdc src/identify/GBDHash.h:30-50):
      * comments/header dropped, literals space-joined as written (readNumber
      * keeps '-' and leading zeros, drops '+'), each clause terminated "0",
      * clauses joined by a single space.
      */
    def normalizeCnf(buf: Array[Byte], sink: ByteSink): Unit = {
      val in = new ByteScanner(buf)
      val num = new java.lang.StringBuilder(16)
      var notFirst = false
      while (in.skipWhitespace()) {
        if (in.ch == 'p' || in.ch == 'c') {
          if (!in.skipLine()) return
        } else {
          if (notFirst) sink.put(" ")
          var done = false
          while (!done) {
            num.setLength(0)
            if (!in.readNumber(num)) done = true
            else if (num.length == 1 && num.charAt(0) == '0') done = true
            else {
              sink.putSb(num)
              sink.put(" ")
            }
          }
          sink.put("0")
          notFirst = true
        }
      }
    }

    /** Exact-content instance id: MD5 of the hash-form normalization. */
    def gbdHashCnf(buf: Array[Byte]): String = {
      val sink = new DigestSink
      normalizeCnf(buf, sink)
      sink.hex
    }
  }
}
