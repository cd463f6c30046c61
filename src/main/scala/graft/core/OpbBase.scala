package graft.core

import scala.collection.mutable.ArrayBuffer

/** OPB (pseudo-Boolean) base features — re-expression of
  * /root/reference/src/extract/OPBBaseFeatures.cc:11-192. Constraint
  * classification via coefficient interval analysis; first `min:` objective
  * wins. Quirks preserved:
  *  - `variables` is max(var_index + 1) (OPBBaseFeatures.cc:33)
  *  - cardinality detection truncates coefficients to int
  *    (OPBBaseFeatures.cc:76-83)
  *  - objective-coefficient stats use the double-entropy snap quirk via
  *    DistStats.ofDoubles
  */
object OpbBase {

  val featureNames: Array[String] = Array(
    "constraints", "variables",
    "pbs_ge", "pbs_eq", "cards_ge", "cards_eq",
    "clauses", "assignments", "trivially_unsat",
    "obj_terms", "obj_max_val", "obj_min_val",
    "obj_coeffs_mean", "obj_coeffs_variance", "obj_coeffs_min", "obj_coeffs_max", "obj_coeffs_entropy")

  /** A coefficient or bound; a doc that ends where one is due, or holds a
    * lone sign there, is malformed.
    */
  private def readNumber(in: ByteScanner): Double = {
    val sb = new java.lang.StringBuilder(16)
    in.readNumber(sb)
    if (sb.length == 0 || sb.charAt(sb.length - 1) == '-') throw new DocParseException("missing number")
    java.lang.Double.parseDouble(sb.toString)
  }

  private final class TermSum(in: ByteScanner) {
    val coeffs = new ArrayBuffer[Double]
    var min = 0.0
    var max = 0.0
    var absMinCoeff: Double = Double.MaxValue
    var maxVar = 0 // Var(var + 1) semantics

    // /root/reference/src/extract/OPBBaseFeatures.cc:11-36
    in.skipWhitespace()
    while (in.ch != ';' && in.ch != '>' && in.ch != '=') {
      if (in.eof) throw new DocParseException("term list without ';' or a relational operator")
      val coeff = readNumber(in)
      in.skipWhitespace()
      if (in.ch == 'x') {
        in.skip()
      } else {
        // '~' negated variable
        in.skip()
        in.skipWhitespace()
        in.skip()
      }
      if (coeff < 0) min += coeff else max += coeff
      absMinCoeff = math.min(math.abs(coeff), absMinCoeff)
      in.readInteger()
      val v = in.lastInt
      if (v + 1 > maxVar) maxVar = v + 1
      coeffs += coeff
      in.skipWhitespace()
    }
  }

  private val REL_GE = 0
  private val REL_EQ = 1

  private final class Constr(in: ByteScanner) {
    val terms = new TermSum(in)
    val rel: Int =
      if (in.ch == '>') { in.skipString(">="); REL_GE }
      else { in.skip(); REL_EQ } // '='
    val bound: Double = readNumber(in)
    in.skipWhitespace()
    if (in.ch == ';') in.skip()

    // OPBBaseFeatures.cc:73-101
    var tautology = false
    var unsat = false
    var assignment = false
    var clause = false
    var card = false
    locally {
      if (terms.coeffs.nonEmpty) {
        val multiplier = math.abs(terms.coeffs.head).toInt
        card = true
        var i = 0
        while (card && i < terms.coeffs.length) {
          if (math.abs(terms.coeffs(i).toInt) != multiplier) card = false
          i += 1
        }
      }
      if (rel == REL_GE) {
        tautology = terms.min >= bound
        unsat = terms.max < bound
        assignment = terms.max - terms.absMinCoeff < bound && terms.max > bound
        clause = bound > terms.min && bound <= terms.min + terms.absMinCoeff
      } else {
        tautology = terms.min == terms.max && terms.min == bound
        unsat = terms.min > bound || terms.max < bound
        assignment = bound == terms.max || bound == terms.min
        clause = false
      }
    }
  }

  def extract(buf: Array[Byte]): Array[Double] = {
    val in = new ByteScanner(buf)
    var nVars = 0
    var nConstraints = 0L
    var nPbsGe = 0L
    var nPbsEq = 0L
    var nCardsGe = 0L
    var nCardsEq = 0L
    var nClauses = 0L
    var nAssignments = 0L
    var triviallyUnsat = false
    var objTerms = 0L
    var objMaxVal = 0.0
    var objMinVal = 0.0
    var objCoeffs: Array[Double] = Array.emptyDoubleArray
    var seenObj = false

    while (in.skipWhitespace()) {
      if (in.ch == '*') {
        in.skipLine()
      } else if (in.ch == 'm') {
        in.skipString("min:")
        if (seenObj) {
          in.skipLine()
        } else {
          seenObj = true
          val obj = new TermSum(in)
          objTerms = obj.coeffs.length.toLong
          objMaxVal = obj.max
          objMinVal = obj.min
          objCoeffs = obj.coeffs.toArray
          if (obj.maxVar > nVars) nVars = obj.maxVar
          in.skipWhitespace()
          if (in.ch == ';') in.skip()
        }
      } else {
        nConstraints += 1
        val constr = new Constr(in)
        if (constr.terms.maxVar > nVars) nVars = constr.terms.maxVar
        if (constr.unsat) triviallyUnsat = true
        if (constr.assignment) nAssignments += 1
        if (constr.clause) nClauses += 1
        else if (constr.card) {
          if (constr.rel == REL_GE) nCardsGe += 1 else nCardsEq += 1
        } else {
          if (constr.rel == REL_GE) nPbsGe += 1 else nPbsEq += 1
        }
      }
    }

    val stats = DistStats.ofDoubles(objCoeffs)
    Array(
      nConstraints.toDouble, nVars.toDouble,
      nPbsGe.toDouble, nPbsEq.toDouble, nCardsGe.toDouble, nCardsEq.toDouble,
      nClauses.toDouble, nAssignments.toDouble, if (triviallyUnsat) 1.0 else 0.0,
      objTerms.toDouble, objMaxVal, objMinVal,
      stats.mean, stats.variance, stats.min, stats.max, stats.entropy)
  }
}
