package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Byte-stream consumer: normalized text flows either into an MD5 digest
  * (identity hashing, never materialized — mirroring the reference's
  * streaming MD5 at /root/reference/src/identify/GBDHash.h:30-50) or into a
  * buffer (the byte-identical normalized-text contract).
  */
trait ByteSink {
  def put(s: String): Unit
  def putSb(sb: java.lang.StringBuilder): Unit
}

final class DigestSink extends ByteSink {
  // MessageDigest.getInstance does a provider lookup per call and
  // MD5.update(byte) has per-call overhead; at 32 executor threads both
  // show up. One cached digest per thread + a local 4 KiB staging buffer.
  private val md = DigestSink.local.get()
  md.reset()
  private val buf = new Array[Byte](4096)
  private var n = 0

  @inline private def flush(): Unit = {
    if (n > 0) { md.update(buf, 0, n); n = 0 }
  }

  @inline private def putByte(b: Byte): Unit = {
    if (n == buf.length) flush()
    buf(n) = b
    n += 1
  }

  def put(s: String): Unit = {
    var i = 0
    while (i < s.length) { putByte(s.charAt(i).toByte); i += 1 }
  }

  def putSb(sb: java.lang.StringBuilder): Unit = {
    var i = 0
    val len = sb.length()
    while (i < len) { putByte(sb.charAt(i).toByte); i += 1 }
  }

  def hex: String = {
    flush()
    DigestSink.toHex(md.digest())
  }
}

object DigestSink {
  private val local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** MD5 hex of `bytes(off until off + len)` with one update call. */
  def md5Hex(bytes: Array[Byte], off: Int, len: Int): String = {
    val md = local.get()
    md.reset()
    md.update(bytes, off, len)
    toHex(md.digest())
  }

  private def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    val hexd = "0123456789abcdef".toCharArray
    var i = 0
    while (i < 16) {
      out(2 * i) = hexd((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexd(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

final class BufferSink(initial: Int = 1024) extends ByteSink {
  private val sb = new java.lang.StringBuilder(initial)
  def put(s: String): Unit = sb.append(s)
  def putSb(b: java.lang.StringBuilder): Unit = sb.append(b)
  def result: String = sb.toString
}

/** Format-grammar normalizers and identity hashes, re-expressed from the
  * reference's streaming forms. Each `normalize*` writes the exact byte
  * stream the reference feeds its MD5, so
  * `md5(normalizeX(text)) == gbdhashX(text)` by construction.
  */
object Dimacs {

  // ---------------------------------------------------------------- CNF

  /** Hash-form CNF normalization (/root/reference/src/identify/GBDHash.h:30-50):
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

  /** Exact-content instance id: MD5 of the hash-form normalization, staged
    * by the single-pass [[CnfScan]]. A doc that scan rejects (the hash form
    * tolerates `- 4`, a dangling sign and int overflow; the clause parse
    * does not) streams through `normalizeCnf` instead.
    */
  def gbdHashCnf(buf: Array[Byte]): String = {
    val scan = try new CnfScan(buf, hash = true) catch { case _: DocParseException => null }
    if (scan != null) scan.gbdHash else gbdHashCnfStreamed(buf)
  }

  /** MD5 of `normalizeCnf` streamed through a [[DigestSink]]. */
  private[core] def gbdHashCnfStreamed(buf: Array[Byte]): String = {
    val sink = new DigestSink
    normalizeCnf(buf, sink)
    sink.hex
  }

  /** PQBF hash form (/root/reference/src/identify/GBDHash.h:53-80):
    * CNF plus 'e'/'a' quantifier-prefix lines.
    */
  def normalizePqbf(buf: Array[Byte], sink: ByteSink): Unit = {
    val in = new ByteScanner(buf)
    val num = new java.lang.StringBuilder(16)
    var notFirst = false
    while (in.skipWhitespace()) {
      if (in.ch == 'p' || in.ch == 'c') {
        if (!in.skipLine()) return
      } else {
        if (notFirst) sink.put(" ")
        if (in.ch == 'e' || in.ch == 'a') {
          sink.put(if (in.ch == 'e') "e " else "a ")
          in.skip()
          in.skipWhitespace()
        }
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

  def gbdHashPqbf(buf: Array[Byte]): String = {
    val sink = new DigestSink
    normalizePqbf(buf, sink)
    sink.hex
  }

  /** WCNF hash form (/root/reference/src/identify/GBDHash.h:147-207): old
    * `p wcnf <v> <c> <top>` weights >= top rewritten to the new `h` prefix;
    * note the reference does NOT set notfirst after an 'h' clause — that
    * quirk is preserved (GBDHash.h:167-178).
    */
  def normalizeWcnf(buf: Array[Byte], sink: ByteSink): Unit = {
    val in = new ByteScanner(buf)
    val num = new java.lang.StringBuilder(16)
    var top = 0L
    var notFirst = false

    def consumeLits(): Unit = {
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
    }

    while (in.skipWhitespace()) {
      if (in.ch == 'c') {
        if (!in.skipLine()) return
      } else if (in.ch == 'p') {
        in.skip(); in.skipWhitespace()
        in.skipString("wcnf")
        in.skipNumber() // vars
        in.skipNumber() // clauses
        in.readUInt64()
        top = in.lastLong
        in.skipLine()
      } else if (in.ch == 'h') {
        in.skip()
        if (notFirst) sink.put(" ")
        sink.put("h ")
        consumeLits()
        // reference quirk: notfirst NOT set here
      } else {
        if (notFirst) sink.put(" ")
        if (top > 0) {
          in.readUInt64()
          val nbr = in.lastLong
          if (nbr >= top) sink.put("h ")
          else {
            sink.put(java.lang.Long.toString(nbr))
            sink.put(" ")
          }
        }
        consumeLits()
        notFirst = true
      }
    }
  }

  def gbdHashWcnf(buf: Array[Byte]): String = {
    val sink = new DigestSink
    normalizeWcnf(buf, sink)
    sink.hex
  }

  /** OPB hash form (/root/reference/src/identify/GBDHash.h:83-143). A doc
    * that ends inside the objective or before a constraint's relational
    * operator is malformed: without the end-of-input check both loops
    * would spin there while the sink grows.
    */
  def normalizeOpb(buf: Array[Byte], sink: ByteSink): Unit = {
    val in = new ByteScanner(buf)
    val num = new java.lang.StringBuilder(16)
    while (in.skipWhitespace()) {
      if (in.ch == '*') {
        if (!in.skipLine()) return
      } else if (in.ch == 'm') {
        sink.put("min:")
        in.skipString("min:")
        in.skipWhitespace()
        while (in.ch != ';') {
          if (in.eof) throw new DocParseException("objective without ';'")
          if (in.ch == 'x') {
            sink.put(" x")
            in.skip()
          } else if (in.ch == '~') {
            sink.put(" ~x")
            in.skip()
            in.skipWhitespace()
            in.skip()
          } else {
            sink.put(" ")
          }
          num.setLength(0)
          in.readNumber(num)
          sink.putSb(num)
          in.skipWhitespace()
        }
        sink.put(";")
        if (in.ch == ';') in.skip()
      } else {
        while (in.ch != '>' && in.ch != '<' && in.ch != '=') {
          if (in.eof) throw new DocParseException("constraint without a relational operator")
          if (in.ch == 'x') {
            sink.put("x")
            in.skip()
          } else if (in.ch == '~') {
            sink.put("~x")
            in.skip()
            in.skipWhitespace()
            in.skip()
          }
          num.setLength(0)
          in.readNumber(num)
          sink.putSb(num)
          sink.put(" ")
          in.skipWhitespace()
        }
        while (in.ch == '>' || in.ch == '<' || in.ch == '=') {
          sink.put(in.ch.toChar.toString)
          in.skip()
        }
        num.setLength(0)
        in.readNumber(num)
        sink.put(" ")
        sink.putSb(num)
        sink.put(";")
        in.skipWhitespace()
        if (in.ch == ';') in.skip()
      }
    }
  }

  def gbdHashOpb(buf: Array[Byte]): String = {
    val sink = new DigestSink
    normalizeOpb(buf, sink)
    sink.hex
  }

  // ------------------------------------------------- file-form normalize

  /** File-form CNF normalization (/root/reference/src/transform/cnf2cnf.cc:15-35):
    * regenerated `p cnf <norm_vars> <norm_clauses>` header, canonical integer
    * formatting, one clause per line terminated "0\n". norm_vars = max |lit|,
    * norm_clauses counts non-empty clauses (CNFSaniCheck.cc:51-57) while the
    * body still prints empty clauses — both reference behaviors preserved.
    */
  def normalizeCnfFile(buf: Array[Byte]): String = {
    // pass 1: norm_vars / norm_clauses (SaniCheck::checkNormalised essentials)
    var normVars = 0
    var normClauses = 0
    locally {
      val in = new ByteScanner(buf)
      val clause = new IntArrayList(32)
      while (in.readClause(clause)) {
        var i = 0
        while (i < clause.size) {
          val v = math.abs(clause(i))
          if (v > normVars) normVars = v
          i += 1
        }
        if (clause.size > 0) normClauses += 1
      }
    }
    val out = new java.lang.StringBuilder(buf.length + 32)
    out.append("p cnf ").append(normVars).append(' ').append(normClauses).append('\n')
    val in = new ByteScanner(buf)
    while (in.skipWhitespace()) {
      if (in.ch == 'c' || in.ch == 'p') {
        if (!in.skipLine()) return out.toString
      } else {
        while (in.readInteger() && in.lastInt != 0) {
          out.append(in.lastInt).append(' ')
        }
        out.append('0').append('\n')
      }
    }
    out.toString
  }

  /** Sanitizing normalization (/root/reference/src/transform/cnf2cnf.cc:43-86):
    * duplicate literals removed preserving first occurrence, tautological
    * clauses dropped (with the reference's skip-to-end-of-line behavior on a
    * mid-clause tautology), header from the sanitized counts.
    */
  def sanitizeCnfFile(buf: Array[Byte]): String = {
    val check = saniCheck(buf, sanitize = true)
    val normVars = check.normVars
    val out = new java.lang.StringBuilder(buf.length + 32)
    out.append("p cnf ").append(check.saniVars).append(' ').append(check.saniClauses).append('\n')

    // stamp mask over signed literals: index lit + normVars + 1
    val mask = new Array[Int](2 * normVars + 2)
    val off = normVars + 1
    val clause = new IntArrayList(32)
    var stamp = 0
    val in = new ByteScanner(buf)
    while (in.skipWhitespace()) {
      if (in.ch == 'c' || in.ch == 'p') {
        if (!in.skipLine()) return out.toString
      } else {
        stamp += 1
        clause.clear()
        var tautological = false
        var reading = true
        while (reading && in.readInteger()) {
          val plit = in.lastInt
          if (plit == 0) reading = false
          else if (mask(-plit + off) == stamp) {
            tautological = true
            reading = false
          } else if (mask(plit + off) != stamp) {
            mask(plit + off) = stamp
            clause.add(plit)
          }
        }
        if (!tautological) {
          var i = 0
          while (i < clause.size) {
            out.append(clause(i)).append(' ')
            i += 1
          }
          out.append('0').append('\n')
        } else {
          in.skipLine()
        }
      }
    }
    out.toString
  }

  // ------------------------------------------------------------ sanicheck

  /** Output of the data-quality scan
    * (/root/reference/src/extract/CNFSaniCheck.cc:18-127).
    */
  final case class SaniCheck(
      headVars: Int, headClauses: Int, normVars: Int, normClauses: Int,
      whitespaceNormalised: Boolean, hasComment: Boolean,
      saniVars: Int, saniClauses: Int,
      hasTautologicalClause: Boolean, hasDuplicateLiterals: Boolean, hasEmptyClause: Boolean)

  def saniCheck(buf: Array[Byte], sanitize: Boolean): SaniCheck = {
    // pass 1: checkNormalised (CNFSaniCheck.cc:18-68). The reference's loop
    // condition `count = skipAndCountWhitespace() || start` assigns the OR
    // result (0/1) to count due to C precedence; replicated literally.
    var headVars = 0
    var headClauses = 0
    var normVars = 0
    var normClauses = 0
    var normalised = true
    var comment = false
    locally {
      val in = new ByteScanner(buf)
      var start = true
      var running = true
      while (running) {
        val count = if (in.skipAndCountWhitespace() != 0 || start) 1 else 0
        if (count == 0) running = false
        else {
          start = false
          normalised &&= (count == 1) // vacuous given the precedence bug; kept literal
          if (in.ch == 'p') {
            in.skipString("p")
            normalised &&= (in.ch == ' ' && in.skipAndCountWhitespace() == 1)
            in.skipString("cnf")
            normalised &&= (in.ch == ' ' && in.skipAndCountWhitespace() == 1)
            if (in.readInteger()) headVars = in.lastInt
            normalised &&= (in.ch == ' ' && in.skipAndCountWhitespace() == 1)
            if (in.readInteger()) headClauses = in.lastInt
            normalised &&= (in.ch == '\n')
          } else if (in.ch == 'c') {
            comment = true
            while (in.ch != '\n' && in.ch != '\r' && !in.eof) {
              if (!in.skip()) running = false
            }
            if (in.eof) running = false
          } else if (in.eof) {
            running = false
          } else {
            normalised &&= ((in.ch >= '0' && in.ch <= '9') || in.ch == '-')
            var len = 0
            var loop = true
            while (loop && in.readInteger()) {
              if (in.lastInt == 0) loop = false
              else {
                len += 1
                normVars = math.max(math.abs(in.lastInt), normVars)
                normalised &&= (in.ch == ' ' && in.skipAndCountWhitespace() == 1)
              }
            }
            if (len > 0) normClauses += 1
            normalised &&= (in.ch == '\n')
            if (in.eof) running = false
          }
        }
      }
    }

    var saniVars = 0
    var saniClauses = 0
    var hasTaut = false
    var hasDupl = false
    var hasEmpty = false
    // pass 2 sizes its mask by normVars: like cnf_features, refuse a doc
    // whose ids pass the variable budget (`2147483647 0` overflows the size)
    if (sanitize && graft.functions.CnfExtract.overVarBudget(normVars,
        graft.functions.CnfExtract.DefaultMaxBytes))
      throw new DocParseException(s"variable $normVars past the variable budget")
    if (sanitize) {
      // pass 2: checkSanitised (CNFSaniCheck.cc:70-120)
      val mask = new Array[Int](2 * normVars + 2)
      val off = normVars + 1
      var stamp = 0
      val in = new ByteScanner(buf)
      while (in.skipWhitespace()) {
        if (in.ch == 'c' || in.ch == 'p') {
          if (!in.skipLine()) return SaniCheck(headVars, headClauses, normVars, normClauses,
            normalised, comment, saniVars, saniClauses, hasTaut, hasDupl, hasEmpty)
        } else {
          var tautological = false
          var clauseMax = 0
          stamp += 1
          var reading = true
          while (reading && in.readInteger()) {
            val plit = in.lastInt
            if (math.abs(plit) > normVars) throw new DocParseException(s"variable ${math.abs(plit)} out of range")
            if (plit == 0) reading = false
            else if (mask(-plit + off) == stamp) {
              tautological = true
              hasTaut = true
              reading = false
            } else if (mask(plit + off) != stamp) {
              mask(plit + off) = stamp
              clauseMax = math.max(math.abs(plit), clauseMax)
            } else {
              hasDupl = true
            }
          }
          if (!tautological) {
            saniClauses += 1
            if (clauseMax == 0) hasEmpty = true
            else saniVars = math.max(clauseMax, saniVars)
          } else {
            in.skipLine()
          }
        }
      }
    }
    SaniCheck(headVars, headClauses, normVars, normClauses, normalised, comment,
      saniVars, saniClauses, hasTaut, hasDupl, hasEmpty)
  }

  // ------------------------------------------------------------- isohash

  /** Degree-sequence isomorphism-invariant hash
    * (/root/reference/src/identify/ISOHash.h:41-75): per-variable (neg,pos)
    * occurrence counts, polarity-canonicalized (larger becomes pos), all-zero
    * variables dropped (gap invariance), sorted lex by (neg,pos), MD5 of the
    * "%u %u " rendering.
    */
  def isoHashCnf(buf: Array[Byte]): String = {
    val in = new ByteScanner(buf)
    var neg = new Array[Long](64)
    var pos = new Array[Long](64)
    var maxVar = 0
    def ensure(v: Int): Unit = {
      if (v >= neg.length) {
        var cap = neg.length
        while (cap <= v) cap *= 2
        neg = java.util.Arrays.copyOf(neg, cap)
        pos = java.util.Arrays.copyOf(pos, cap)
      }
      if (v > maxVar) maxVar = v
    }
    while (in.skipWhitespace()) {
      if (in.ch == 'p' || in.ch == 'c') {
        if (!in.skipLine()) {
          return isoHashFinish(neg, pos, maxVar)
        }
      } else {
        var loop = true
        while (loop && in.readInteger()) {
          val plit = in.lastInt
          val v = math.abs(plit)
          ensure(v)
          if (plit == 0) loop = false
          else if (plit < 0) neg(v) += 1
          else pos(v) += 1
        }
      }
    }
    isoHashFinish(neg, pos, maxVar)
  }

  private def isoHashFinish(neg: Array[Long], pos: Array[Long], maxVar: Int): String = {
    // nodes indexed 1..maxVar in the reference's 0-based degrees vector
    // (resize(abs(plit)) indexes abs(plit)-1, i.e. var v lives at v-1)
    val negs = new Array[Long](maxVar)
    val poss = new Array[Long](maxVar)
    var i = 0
    while (i < maxVar) {
      var n = neg(i + 1)
      var p = pos(i + 1)
      if (p < n) { val t = p; p = n; n = t }
      negs(i) = n
      poss(i) = p
      i += 1
    }
    // lexicographic sort by (neg, pos)
    val idx = (0 until maxVar).sortWith { (a, b) =>
      if (negs(a) != negs(b)) negs(a) < negs(b) else poss(a) < poss(b)
    }
    val md = new DigestSink
    idx.foreach { j =>
      if (!(negs(j) == 0 && poss(j) == 0)) {
        md.put(negs(j).toString)
        md.put(" ")
        md.put(poss(j).toString)
        md.put(" ")
      }
    }
    md.hex
  }

  /** WCNF isohash (/root/reference/src/identify/ISOHash.h:79-163): hard-only
    * degree multiset, then all-clauses multiset with soft occurrences
    * weighted — including the reference's `++deg += weight` quirk
    * (ISOHash.h:128-129) which adds weight+1 per soft occurrence — joined by
    * the literal "softs ".
    */
  private final class Degrees {
    var neg = new Array[Long](64)
    var pos = new Array[Long](64)
    var maxVar = 0
    def ensure(v: Int): Unit = {
      if (v >= neg.length) {
        var cap = neg.length
        while (cap <= v) cap *= 2
        neg = java.util.Arrays.copyOf(neg, cap)
        pos = java.util.Arrays.copyOf(pos, cap)
      }
      if (v > maxVar) maxVar = v
    }
  }

  def isoHashWcnf(buf: Array[Byte]): String = {
    val in = new ByteScanner(buf)
    val hard = new Degrees
    val soft = new Degrees
    var top = 0L
    while (in.skipWhitespace()) {
      if (in.ch == 'c') {
        if (!in.skipLine()) return isoHashWcnfFinish(hard, soft)
      } else if (in.ch == 'p') {
        in.skip(); in.skipWhitespace()
        in.skipString("wcnf")
        in.skipNumber(); in.skipNumber()
        in.readUInt64(); top = in.lastLong
        in.skipLine()
      } else if (in.ch == 'h') {
        in.skip()
        var loop = true
        while (loop && in.readInteger()) {
          val plit = in.lastInt
          val v = math.abs(plit)
          hard.ensure(v)
          if (plit == 0) loop = false
          else if (plit < 0) hard.neg(v) += 1
          else hard.pos(v) += 1
        }
      } else {
        in.readUInt64()
        val weight = in.lastLong
        if (top != 0 && weight >= top) {
          var loop = true
          while (loop && in.readInteger()) {
            val plit = in.lastInt
            val v = math.abs(plit)
            hard.ensure(v)
            if (plit == 0) loop = false
            else if (plit < 0) hard.neg(v) += 1
            else hard.pos(v) += 1
          }
        } else {
          var loop = true
          while (loop && in.readInteger()) {
            val plit = in.lastInt
            val v = math.abs(plit)
            soft.ensure(v)
            if (plit == 0) loop = false
            else if (plit < 0) soft.neg(v) += 1 + weight // reference's ++x += w quirk
            else soft.pos(v) += 1 + weight
          }
        }
      }
    }
    isoHashWcnfFinish(hard, soft)
  }

  private def isoHashWcnfFinish(hard: Degrees, soft: Degrees): String = {
    val n = math.max(hard.maxVar, soft.maxVar)
    // soft_degrees += hard_degrees (ISOHash.h:134-136)
    val allNeg = new Array[Long](n)
    val allPos = new Array[Long](n)
    val hNeg = new Array[Long](n)
    val hPos = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = i + 1
      val hn = if (v <= hard.maxVar) hard.neg(v) else 0L
      val hp = if (v <= hard.maxVar) hard.pos(v) else 0L
      val sn = if (v <= soft.maxVar) soft.neg(v) else 0L
      val sp = if (v <= soft.maxVar) soft.pos(v) else 0L
      // NOTE (ISOHash.h:135-136): hard degrees are added into the soft vector
      // only over the hard vector's length; since both are per-var here the
      // sum covers all vars that appear at all.
      var an = hn + sn
      var ap = hp + sp
      if (ap < an) { val t = ap; ap = an; an = t }
      allNeg(i) = an
      allPos(i) = ap
      var chn = hn
      var chp = hp
      if (chp < chn) { val t = chp; chp = chn; chn = t }
      hNeg(i) = chn
      hPos(i) = chp
      i += 1
    }
    def emit(md: DigestSink, negs: Array[Long], poss: Array[Long]): Unit = {
      val idx = (0 until n).sortWith { (a, b) =>
        if (negs(a) != negs(b)) negs(a) < negs(b) else poss(a) < poss(b)
      }
      idx.foreach { j =>
        if (!(negs(j) == 0 && poss(j) == 0)) {
          md.put(negs(j).toString); md.put(" ")
          md.put(poss(j).toString); md.put(" ")
        }
      }
    }
    val md = new DigestSink
    emit(md, hNeg, hPos)
    md.put("softs ")
    emit(md, allNeg, allPos)
    md.hex
  }
}
