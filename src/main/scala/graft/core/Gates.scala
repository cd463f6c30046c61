package graft.core

import scala.collection.mutable

/** Gate-structure recognition + gate features — re-expression of the
  * reference's GateAnalyzer/GateFormula/OccurrenceList/CNFGateFeatures
  * (/root/reference/src/extract/gates/GateAnalyzer.h:41-253,
  * GateFormula.h:32-244, OccurrenceList.h:30-124,
  * CNFGateFeatures.cc:13-126). Row-local kernel over the SANITIZED clause
  * form (CNFFormula loader, shared with IsoHash2.sanitizedParse).
  *
  * The `fSemantic` check (GateAnalyzer.h:227-247) consults an incremental
  * SAT solver ([[Sat.Ipasir]], one instance per analyzed document as in
  * GateAnalyzer.h:63-70). The reference call sequence is transliterated
  * INCLUDING its unterminated post-solve output literal (GateAnalyzer.h:245
  * adds `o.positive()` with no closing 0), which ORs that literal into the
  * first clause of the document's next semantic check — behavior parity
  * over intent (GatesSemanticSpec pins both the verdicts and the leak).
  *
  * Literals are int keys 2*var + sign (sign=1 negative), matching the
  * reference's Lit packing; clauses are sorted by key (CNFFormula loader).
  */
object Gates {

  // GateType constants (GateFormula.h:32-41)
  final val NONE = 0
  final val GENERIC = 1
  final val MONO = 2
  final val AND = 3
  final val OR = 4
  final val TRIV = 5
  final val EQIV = 6
  final val FULL = 7

  @inline private def neg(lit: Int): Int = lit ^ 1
  @inline private def varOf(lit: Int): Int = lit >> 1

  final class Gate {
    var gateType: Int = NONE
    var out: Int = -1
    var fwd: List[Int] = Nil // clause ids
    var bwd: List[Int] = Nil
    var notMono: Boolean = false
    var inp: Array[Int] = Array.emptyIntArray
    @inline def isDefined: Boolean = out != -1
  }

  final class Result(
      val nVars: Int,
      val nGates: Int,
      val nRoots: Int,
      val gateTypeOf: Array[Int], // per var 1..nVars
      val levels: Array[Long]) // size nVars+1 incl. index-0 dummy (golden behavior)

  /** Run the full analysis on a sanitized doc (lits are Lit keys). */
  def analyze(doc: ClauseDoc, maxIterations: Int): Result =
    analyze(doc, maxIterations, new KernelBudget(KernelBudget.Unlimited))

  /** Budgeted analysis: `budget` is charged with clause-literal visits at
    * the super-linear sites (blocked-set pair merges, occurrence-list
    * removals, input-literal insertion scans, semantic clause loads) — the
    * deterministic analog of the reference's per-extraction time limit
    * (ResourceLimits.h:94-197). Exceeding it raises
    * [[KernelBudget.KernelTimeout]], which the expression layer surfaces as
    * `status = "timeout"`. Charging is a pure function of the document, so
    * the outcome is identical on every rerun.
    */
  def analyze(doc: ClauseDoc, maxIterations: Int, budget: KernelBudget): Result = {
    val nVars = doc.nVars
    val nLits = 2 * nVars + 2

    // ---- occurrence list (OccurrenceList.h:30-124) ----
    budget.charge(doc.lits.length.toLong)
    val index = Array.fill(nLits)(new mutable.ArrayBuffer[Int](4))
    var unitc = new mutable.ArrayBuffer[Int]()
    var c = 0
    while (c < doc.nClauses) {
      val size = doc.clauseSize(c)
      if (size == 1) unitc += c
      else {
        var i = doc.clauseStart(c)
        while (i < doc.clauseEnd(c)) {
          index(doc.lits(i)) += c
          i += 1
        }
      }
      c += 1
    }
    var maxLiteral = 2 * nVars + 1 // Lit(nVars, true)

    def removeClauseFromLit(lit: Int, clause: Int): Unit = {
      val list = index(lit)
      if (list.nonEmpty) {
        budget.charge(list.length.toLong)
        // reference removes the first matching instance (OccurrenceList.h:69-84)
        var it = 0
        while (it < list.length && list(it) != clause) it += 1
        if (it >= list.length) it = list.length - 1 // mirrors the unguarded shift when absent
        while (it + 1 < list.length) { list(it) = list(it + 1); it += 1 }
        list.remove(list.length - 1)
      }
    }

    def removeAll(clauses: Iterable[Int]): Unit =
      clauses.foreach { cl =>
        var i = doc.clauseStart(cl)
        while (i < doc.clauseEnd(cl)) {
          removeClauseFromLit(doc.lits(i), cl)
          i += 1
        }
      }

    def estimateRoots(): Seq[Int] = {
      if (unitc.nonEmpty) {
        val result = unitc
        unitc = new mutable.ArrayBuffer[Int]()
        result.toSeq
      } else {
        while (maxLiteral > 0 && index(maxLiteral).isEmpty) maxLiteral -= 1
        if (maxLiteral > 0) {
          val result = index(maxLiteral)
          index(maxLiteral) = new mutable.ArrayBuffer[Int]()
          removeAll(result)
          result.toSeq
        } else Seq.empty
      }
    }

    // ---- gate formula state (GateFormula.h:56-118) ----
    val inputs = new Array[Boolean](nLits)
    val direct = new Array[Boolean](nLits)
    val gates = Array.fill(nVars + 2)(new Gate)
    val roots = new mutable.ArrayBuffer[Int]() // root clause ids

    def isNestedMonotonic(lit: Int): Boolean = !inputs(lit) || !inputs(neg(lit))

    // isBlocked on sorted clauses (OccurrenceList.h:39-44)
    def isBlocked(o: Int, c1: Int, c2: Int): Boolean = {
      var i = doc.clauseStart(c1)
      var j = doc.clauseStart(c2)
      val e1 = doc.clauseEnd(c1)
      val e2 = doc.clauseEnd(c2)
      while (i < e1 && j < e2) {
        val l1 = doc.lits(i)
        val l2 = doc.lits(j)
        if (l1 != o && l1 == neg(l2)) return true
        if (l1 < l2) i += 1 else j += 1
      }
      false
    }

    def isBlockedSet(o: Int): Boolean = {
      val pos = index(o)
      val negl = index(neg(o))
      var i = 0
      while (i < pos.length) {
        var j = 0
        while (j < negl.length) {
          // the quadratic hot spot: pos.length x negl.length sorted merges
          budget.charge((doc.clauseSize(pos(i)) + doc.clauseSize(negl(j))).toLong)
          if (!isBlocked(o, pos(i), negl(j))) return false
          j += 1
        }
        i += 1
      }
      true
    }

    /** Transliteration of GateAnalyzer::getInputLiterals (GateAnalyzer.h:127-151)
      * including its skip-one-literal tail behavior.
      */
    def getInputLiterals(output: Int, clauses: Iterable[Int]): Array[Int] = {
      val inp = new mutable.ArrayBuffer[Int]()
      clauses.foreach { cl =>
        // insertion-scan cost bound: clause length + current sorted-list size
        budget.charge((doc.clauseSize(cl) + inp.length).toLong)
        var pos = 0
        var it = doc.clauseStart(cl)
        val end = doc.clauseEnd(cl)
        var break = false
        while (it < end && !break) {
          val l = doc.lits(it)
          if (l != output) {
            while (pos < inp.length && inp(pos) < l) pos += 1
            if (pos == inp.length) {
              // append all except for ~out and break (reference tail quirk)
              var it2 = it
              while (it2 < end && doc.lits(it2) < output) {
                inp += doc.lits(it2)
                it2 += 1
              }
              it2 += 1 // skips one literal, assumed to be `output`
              while (it2 < end) { inp += doc.lits(it2); it2 += 1 }
              break = true
            } else if (inp(pos) > l) {
              inp.insert(pos, l)
              pos += 1
            } else {
              pos += 1 // duplicate: not inserted
            }
          }
          it += 1
        }
      }
      inp.toArray
    }

    // constrainSameInputVariables (GateAnalyzer.h:153-168)
    def constrainSameInputVariables(o: Int, fwd: Iterable[Int], bwd: Iterable[Int]): Int = {
      val fwdVars = new mutable.HashSet[Int]()
      val bwdVars = new mutable.HashSet[Int]()
      fwd.foreach { cl =>
        var i = doc.clauseStart(cl)
        while (i < doc.clauseEnd(cl)) {
          val l = doc.lits(i)
          if (l != neg(o)) fwdVars += varOf(l)
          i += 1
        }
      }
      var ok = true
      bwd.foreach { cl =>
        var i = doc.clauseStart(cl)
        while (i < doc.clauseEnd(cl) && ok) {
          val l = doc.lits(i)
          if (l != o) {
            val inserted = bwdVars.add(varOf(l))
            if (inserted && !fwdVars.contains(varOf(l))) ok = false
          }
          i += 1
        }
      }
      if (!ok) return 0
      if (fwdVars.size > bwdVars.size) return 0
      fwdVars.size
    }

    def fixedClauseSize(f: Iterable[Int], n: Int): Boolean =
      f.forall(cl => doc.clauseSize(cl) == n)

    // fPattern (GateAnalyzer.h:205-225)
    def fPattern(o: Int, fwd: Iterable[Int], bwd: Iterable[Int], inputSize: Int): Int = {
      val fwdSize = fwd.size
      val bwdSize = bwd.size
      if (fwdSize == 1 && fixedClauseSize(bwd, 2)) {
        if (inputSize == 1) TRIV else OR
      } else if (bwdSize == 1 && fixedClauseSize(fwd, 2)) {
        AND
      } else if (inputSize < 63 && fwdSize.toLong + bwdSize.toLong == (1L << inputSize)) {
        if (fixedClauseSize(fwd, inputSize + 1) && fixedClauseSize(bwd, inputSize + 1)) {
          if (inputSize == 2 && fwdSize == bwdSize) EQIV else FULL
        } else NONE
      } else NONE
    }

    def addGate(gateType: Int, o: Int, fwd: List[Int], bwd: List[Int], inp: Array[Int]): Unit = {
      val gate = gates(varOf(o))
      gate.gateType = gateType
      gate.out = o
      gate.fwd = fwd
      gate.bwd = bwd
      gate.notMono = !isNestedMonotonic(o)
      gate.inp = inp
      var i = 0
      while (i < inp.length) {
        inputs(inp(i)) = true
        direct(inp(i)) = true
        if (gate.notMono) inputs(neg(inp(i))) = true
        i += 1
      }
    }

    // fSemantic (GateAnalyzer.h:227-247): one solver per document, lazily
    // created on the first semantic check (ipasir_init in the ctor is free
    // for docs that never reach this path). Transliteration, including the
    // UNTERMINATED trailing o.positive() (no ipasir_add(S, 0) at :245).
    var solver: Sat.Ipasir = null
    def fSemantic(o: Int): Int = {
      if (solver == null) solver = new Sat.Ipasir()
      val oPos = o & ~1 // o.positive()
      var side = 0
      while (side < 2) { // { fwd, bwd } = { index[~o], index[o] }
        val f = if (side == 0) index(neg(o)) else index(o)
        f.foreach { cl =>
          budget.charge(doc.clauseSize(cl).toLong)
          var i = doc.clauseStart(cl)
          while (i < doc.clauseEnd(cl)) {
            val lit = doc.lits(i)
            if (varOf(lit) != varOf(o)) solver.add(lit)
            else solver.add(oPos)
            i += 1
          }
          solver.add(0)
        }
        side += 1
      }
      solver.assume(oPos | 1) // o.negative()
      val sat = solver.solve()
      solver.add(oPos) // reference leaves this clause open — so do we
      if (!sat) GENERIC else NONE
    }

    // checkAddGate (GateAnalyzer.h:174-200)
    def checkAddGate(out: Int): Boolean = {
      if (index(neg(out)).nonEmpty && isBlockedSet(out)) {
        var gateType = NONE
        if (isNestedMonotonic(out)) gateType = MONO
        else {
          val inputSize = constrainSameInputVariables(out, index(neg(out)), index(out))
          if (inputSize > 0) gateType = fPattern(out, index(neg(out)), index(out), inputSize)
        }
        // semantic fallback (GateAnalyzer.h:189-193): only when both sides
        // have >1 clause (single-clause cases are covered by patterns)
        if (gateType == NONE && index(neg(out)).length > 1 && index(out).length > 1)
          gateType = fSemantic(out)
        if (gateType != NONE) {
          addGate(gateType, out, index(neg(out)).toList, index(out).toList,
            getInputLiterals(neg(out), index(neg(out))))
          return true
        }
      }
      false
    }

    // gate_recognition BFS (GateAnalyzer.h:106-125). The reference's frontier
    // is an unordered_set; we use insertion order (first-seen), which is
    // deterministic and matches the golden record on the reference fixture.
    def gateRecognition(rootLits: Seq[Int]): Unit = {
      var candidates: Seq[Int] = rootLits
      while (candidates.nonEmpty) {
        val frontier = new mutable.LinkedHashSet[Int]()
        candidates.foreach { cand =>
          if (checkAddGate(cand)) {
            val gate = gates(varOf(cand))
            removeAll(gate.fwd)
            removeAll(gate.bwd)
            gate.inp.foreach(frontier += _)
          }
        }
        candidates = frontier.toSeq
      }
    }

    // analyze (GateAnalyzer.h:78-98)
    var rootClauses = estimateRoots()
    var count = 0
    while (count < maxIterations && rootClauses.nonEmpty) {
      val candidates = new mutable.ArrayBuffer[Int]()
      rootClauses.foreach { cl =>
        roots += cl
        var i = doc.clauseStart(cl)
        while (i < doc.clauseEnd(cl)) {
          inputs(doc.lits(i)) = true
          candidates += doc.lits(i)
          i += 1
        }
      }
      gateRecognition(candidates.toSeq)
      rootClauses = estimateRoots()
      count += 1
    }

    // ---- levels BFS (CNFGateFeatures.cc:39-54) ----
    val levels = new Array[Long](nVars + 1)
    var level = 0L
    var current = new mutable.ArrayBuffer[Int]()
    roots.foreach { cl =>
      var i = doc.clauseStart(cl)
      while (i < doc.clauseEnd(cl)) { current += doc.lits(i); i += 1 }
    }
    while (current.nonEmpty) {
      level += 1
      val next = new mutable.ArrayBuffer[Int]()
      current.foreach { lit =>
        val gate = gates(varOf(lit))
        if (gate.isDefined && levels(varOf(lit)) == 0L) {
          levels(varOf(lit)) = level
          gate.inp.foreach(next += _)
        }
      }
      current = next
    }

    val gateTypeOf = new Array[Int](nVars + 1)
    var nGates = 0
    var v = 1
    while (v <= nVars) {
      gateTypeOf(v) = gates(v).gateType
      if (gates(v).isDefined) nGates += 1
      v += 1
    }
    new Result(nVars, nGates, roots.length, gateTypeOf, levels)
  }

  // ---- feature extraction (CNFGateFeatures.cc) ----

  val featureNames: Array[String] = Array(
    "n_vars", "n_gates", "n_roots",
    "n_none", "n_generic", "n_mono",
    "n_and", "n_or", "n_triv", "n_equiv", "n_full") ++
    Seq("levels", "levels_none", "levels_generic", "levels_mono", "levels_and",
      "levels_or", "levels_triv", "levels_equiv", "levels_full")
      .flatMap(p => Seq(s"${p}_mean", s"${p}_variance", s"${p}_min", s"${p}_max", s"${p}_entropy"))

  def extract(buf: Array[Byte]): Array[Double] = extract(buf, KernelBudget.Unlimited)

  /** Budgeted extraction; `maxOps` bounds the analysis work (clause-literal
    * visits). Raises [[KernelBudget.KernelTimeout]] deterministically on a
    * document whose blocked-set structure would blow the budget, and
    * [[KernelBudget.KernelMemout]] on one past the variable budget.
    */
  def extract(buf: Array[Byte], maxOps: Long): Array[Double] =
    extract(buf, new KernelBudget(maxOps))

  /** Ops the analysis charges for this doc (super-linearity diagnostics). */
  def measureOps(buf: Array[Byte]): Long = {
    val budget = new KernelBudget(KernelBudget.Unlimited)
    extract(buf, budget)
    budget.opsUsed
  }

  private def extract(buf: Array[Byte], budget: KernelBudget): Array[Double] = {
    val doc = IsoHash2.sanitizedParse(buf)
    val r = analyze(doc, math.max(1, doc.nVars / 3), budget)

    val counts = new Array[Long](8)
    val perType = Array.fill(8)(new mutable.ArrayBuffer[Long]())
    var v = 1
    while (v <= r.nVars) {
      val t = r.gateTypeOf(v)
      counts(t) += 1
      perType(t) += r.levels(v)
      v += 1
    }
    val out = new Array[Double](featureNames.length)
    var o = 0
    @inline def put(x: Double): Unit = { out(o) = x; o += 1 }
    @inline def putStats(s: DistStats.Stats): Unit = {
      put(s.mean); put(s.variance); put(s.min); put(s.max); put(s.entropy)
    }
    put(r.nVars.toDouble); put(r.nGates.toDouble); put(r.nRoots.toDouble)
    put(counts(NONE).toDouble); put(counts(GENERIC).toDouble); put(counts(MONO).toDouble)
    put(counts(AND).toDouble); put(counts(OR).toDouble); put(counts(TRIV).toDouble)
    put(counts(EQIV).toDouble); put(counts(FULL).toDouble)
    putStats(DistStats.ofLongs(r.levels)) // incl. index-0 dummy (golden behavior)
    for (t <- Seq(NONE, GENERIC, MONO, AND, OR, TRIV, EQIV, FULL))
      putStats(DistStats.ofLongs(perType(t).toArray))
    out
  }
}
