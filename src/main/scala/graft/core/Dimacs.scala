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
    * Printed from the raw clause pool of one [[CnfScan]].
    */
  def normalizeCnfFile(buf: Array[Byte]): String = {
    val scan = new CnfScan(buf, hash = false)
    var normClauses = 0
    var c = 0
    while (c < scan.nClauses) {
      if (scan.offsets(c + 1) > scan.offsets(c)) normClauses += 1
      c += 1
    }
    val out = new java.lang.StringBuilder(buf.length + 32)
    out.append("p cnf ").append(scan.nVars).append(' ').append(normClauses).append('\n')
    var i = 0
    c = 0
    while (c < scan.nClauses) {
      while (i < scan.offsets(c + 1)) {
        out.append(scan.lits(i)).append(' ')
        i += 1
      }
      out.append('0').append('\n')
      c += 1
    }
    out.toString
  }

  /** Sanitizing normalization (/root/reference/src/transform/cnf2cnf.cc:43-86):
    * duplicate literals removed preserving first occurrence, tautological
    * clauses dropped (with the reference's skip-to-end-of-line behavior on a
    * mid-clause tautology), header from the sanitized counts: the body is
    * what [[saniCheck]]'s pass 2 keeps.
    */
  def sanitizeCnfFile(buf: Array[Byte]): String = {
    val body = new java.lang.StringBuilder(buf.length + 32)
    val check = saniCheck(buf, sanitize = true, body)
    body.insert(0, s"p cnf ${check.saniVars} ${check.saniClauses}\n").toString
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

  def saniCheck(buf: Array[Byte], sanitize: Boolean): SaniCheck = saniCheck(buf, sanitize, null)

  /** With `sanitized` given, pass 2 also appends each clause it keeps to
    * it, in the file form of [[sanitizeCnfFile]] without the header.
    */
  private def saniCheck(buf: Array[Byte], sanitize: Boolean,
                        sanitized: java.lang.StringBuilder): SaniCheck = {
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
    if (sanitize) {
      // pass 2: checkSanitised (CNFSaniCheck.cc:70-120); its mask is sized
      // by normVars
      KernelBudget.checkVars(normVars)
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
          val mark = if (sanitized != null) sanitized.length else 0
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
              if (sanitized != null) sanitized.append(plit).append(' ')
            } else {
              hasDupl = true
            }
          }
          if (!tautological) {
            saniClauses += 1
            if (clauseMax == 0) hasEmpty = true
            else saniVars = math.max(clauseMax, saniVars)
            if (sanitized != null) sanitized.append('0').append('\n')
          } else {
            // the reference skips to the end of the line on a mid-clause
            // tautology
            if (sanitized != null) sanitized.setLength(mark)
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
    * (reference src/identify/ISOHash.h:41-75) over the raw clause pool
    * of [[CnfScan]]: per-variable (neg,pos) occurrence counts, see
    * [[putDegrees]].
    */
  def isoHashCnf(buf: Array[Byte]): String = {
    val scan = new CnfScan(buf, hash = false)
    KernelBudget.checkVars(scan.nVars)
    val neg = new Array[Long](scan.nVars + 1)
    val pos = new Array[Long](scan.nVars + 1)
    var i = 0
    while (i < scan.nLits) {
      val lit = scan.lits(i)
      if (lit < 0) neg(-lit) += 1 else pos(lit) += 1
      i += 1
    }
    val md = new DigestSink
    putDegrees(md, neg, pos, scan.nVars)
    md.hex
  }

  /** WCNF isohash (reference src/identify/ISOHash.h:79-163) over
    * [[WcnfBase.parse]]: hard-only degree multiset, then all-clauses
    * multiset with soft occurrences weighted — including the reference's
    * `++deg += weight` quirk (ISOHash.h:128-129) which adds weight+1 per
    * soft occurrence — joined by the literal "softs ". Hard means hard by
    * syntax: unlike the feature extractor, a soft weight of 0 stays soft.
    */
  def isoHashWcnf(buf: Array[Byte]): String = {
    val doc = WcnfBase.parse(buf)
    val n = doc.nVars
    val hardNeg = new Array[Long](n + 1)
    val hardPos = new Array[Long](n + 1)
    val allNeg = new Array[Long](n + 1)
    val allPos = new Array[Long](n + 1)
    var c = 0
    while (c < doc.nClauses) {
      val hard = doc.hard(c)
      val w = doc.weights(c)
      var i = doc.offsets(c)
      while (i < doc.offsets(c + 1)) {
        val lit = doc.lits(i)
        if (hard) { if (lit < 0) hardNeg(-lit) += 1 else hardPos(lit) += 1 }
        else if (lit < 0) allNeg(-lit) += 1 + w
        else allPos(lit) += 1 + w
        i += 1
      }
      c += 1
    }
    // soft_degrees += hard_degrees (ISOHash.h:134-136)
    var v = 1
    while (v <= n) {
      allNeg(v) += hardNeg(v)
      allPos(v) += hardPos(v)
      v += 1
    }
    val md = new DigestSink
    putDegrees(md, hardNeg, hardPos, n)
    md.put("softs ")
    putDegrees(md, allNeg, allPos, n)
    md.hex
  }

  /** The degree multiset of variables 1..n: each (neg(v), pos(v)) pair
    * polarity-canonicalized (the larger count second), all-zero pairs
    * dropped (gap invariance), sorted lex, rendered "%u %u " into `md`.
    */
  private def putDegrees(md: DigestSink, neg: Array[Long], pos: Array[Long], n: Int): Unit = {
    val lo = new Array[Long](n)
    val hi = new Array[Long](n)
    var m = 0
    var v = 1
    while (v <= n) {
      if (neg(v) != 0 || pos(v) != 0) {
        lo(m) = math.min(neg(v), pos(v))
        hi(m) = math.max(neg(v), pos(v))
        m += 1
      }
      v += 1
    }
    (0 until m).sortWith((a, b) => if (lo(a) != lo(b)) lo(a) < lo(b) else hi(a) < hi(b)).foreach { j =>
      md.put(lo(j).toString)
      md.put(" ")
      md.put(hi(j).toString)
      md.put(" ")
    }
  }
}
