package graft.core

/** Parse error over a document payload; carries a short reason.
  * Mirrors the reference's ParserException
  * (/root/reference/src/util/StreamBuffer.h:33-45) but is row-scoped: at the
  * engine level a malformed document yields a null feature row plus a status
  * column instead of aborting the job.
  */
final class DocParseException(msg: String) extends RuntimeException(msg)

/** Forward-only cursor over one document's bytes, replicating the token-level
  * semantics of the reference's StreamBuffer
  * (/root/reference/src/util/StreamBuffer.h:47-444): skipWhitespace, skipLine,
  * skipString, readInteger (strtol semantics), readNumber (digit-string form
  * that drops '+', keeps '-', allows whitespace between sign and digits), and
  * readClause. The reference streams from a 16 KiB decompressing buffer; here
  * the document is one row already in memory, so the cursor is a plain index.
  *
  * Whitespace is C `isspace`: space, \t, \n, \v, \f, \r — NOT the wider
  * Unicode set of Character.isWhitespace.
  */
final class ByteScanner(val buf: Array[Byte]) {
  private[this] var pos: Int = 0
  private[this] val len: Int = buf.length

  /** Value of the last successful readInteger. */
  var lastInt: Int = 0

  /** Value of the last successful readUInt64 (as Long; reference uses uint64
    * but practical weights fit in int64 — values beyond Long.MaxValue throw).
    */
  var lastLong: Long = 0L

  @inline def eof: Boolean = pos >= len
  /** Current character as unsigned int, or -1 at eof (reference returns EOF). */
  @inline def ch: Int = if (pos >= len) -1 else buf(pos) & 0xff

  @inline private def isWs(c: Int): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // \t \n \v \f \r

  @inline private def isDigit(c: Int): Boolean = c >= '0' && c <= '9'

  /** Advance one char; false once past the end (StreamBuffer.h:152-163). */
  @inline def skip(): Boolean = { pos += 1; pos < len }

  /** Skip to end of line, then skip whitespace (StreamBuffer.h:170-182). */
  def skipLine(): Boolean = {
    var c = ch
    while (c != '\n' && c != '\r') {
      if (!skip()) return false
      c = ch
    }
    skipWhitespace()
  }

  /** Skip whitespace; false if eof reached (StreamBuffer.h:189-200). */
  def skipWhitespace(): Boolean = {
    if (eof) return false
    while (isWs(ch)) if (!skip()) return false
    true
  }

  /** Skip whitespace, returning the number skipped (StreamBuffer.h:208-216). */
  def skipAndCountWhitespace(): Int = {
    var count = 0
    if (eof) return count
    while (isWs(ch)) {
      if (!skip()) return count // reference does not count the char consumed at eof
      count += 1
    }
    count
  }

  /** Match and skip `str`; throws when it cannot be matched entirely
    * (StreamBuffer.h:224-241).
    */
  def skipString(str: String): Boolean = {
    if (eof) return false
    var i = 0
    while (i < str.length && ch == str.charAt(i).toInt) {
      i += 1
      if (i == str.length) return skip()
      if (!skip()) throw new DocParseException(s"expected '${str.substring(i)}'")
    }
    throw new DocParseException(s"expected '${str.substring(i)}'")
  }

  /** Skip one number incl. optional sign (StreamBuffer.h:248-281). */
  def skipNumber(): Boolean = {
    if (!skipWhitespace()) return false
    if (ch == '-' || ch == '+') { if (!skip()) return false }
    if (!isDigit(ch)) {
      if (!skipWhitespace()) return false
      if (!isDigit(ch)) throw new DocParseException(s"unexpected character: ${ch.toChar}")
    }
    while (isDigit(ch)) if (!skip()) return true
    true
  }

  /** strtol-style signed int read into lastInt; false at eof before any
    * token; throws on garbage (StreamBuffer.h:289-324).
    */
  def readInteger(): Boolean = {
    if (!skipWhitespace()) return false
    var p = pos
    var neg = false
    var c = buf(p) & 0xff
    if (c == '-' || c == '+') { neg = c == '-'; p += 1 }
    val digitsStart = p
    var acc = 0L
    while (p < len && isDigit(buf(p) & 0xff)) {
      acc = acc * 10 + (buf(p) - '0')
      if (acc > Int.MaxValue) throw new DocParseException("number out of int32 range")
      p += 1
    }
    if (p == digitsStart) throw new DocParseException(s"unexpected character: ${ch.toChar}")
    pos = p
    lastInt = if (neg) (-acc).toInt else acc.toInt
    true
  }

  /** Unsigned 64-bit read into lastLong (StreamBuffer.h:332-367). */
  def readUInt64(): Boolean = {
    if (!skipWhitespace()) return false
    var p = pos
    if (p < len && (buf(p) & 0xff) == '+') p += 1
    val digitsStart = p
    var acc = 0L
    while (p < len && isDigit(buf(p) & 0xff)) {
      acc = acc * 10 + (buf(p) - '0')
      if (acc < 0) throw new DocParseException("number out of uint64(long) range")
      p += 1
    }
    if (p == digitsStart) throw new DocParseException(s"unexpected character: ${ch.toChar}")
    pos = p
    lastLong = acc
    true
  }

  /** Digit-string read (StreamBuffer.h:375-413): keeps '-' and leading
    * zeros, drops '+', tolerates whitespace between sign and digits. Appends
    * into `sb` and returns true, or false at eof. This exact byte form feeds
    * the gbdhash MD5 stream, so leading zeros must survive.
    */
  def readNumber(sb: java.lang.StringBuilder): Boolean = {
    if (!skipWhitespace()) return false
    if (ch == '-') {
      sb.append('-')
      if (!skip()) return false
    } else if (ch == '+') {
      if (!skip()) return false
    }
    if (!isDigit(ch)) {
      if (!skipWhitespace()) return false
      if (!isDigit(ch)) throw new DocParseException(s"unexpected character: ${ch.toChar}")
    }
    while (isDigit(ch)) {
      sb.append(ch.toChar)
      if (!skip()) return true
    }
    true
  }

  /** Read the next clause as signed DIMACS literals into `out`
    * (StreamBuffer.h:420-443): skip leading 'p'/'c' lines, then integers
    * until 0 or eof. Returns false when no clause remains. The raw scan —
    * no literal dedup, no tautology drop (contrast CNFFormula.h:126-151).
    * The WCNF reader reads each clause body with it; CNF docs go through
    * [[CnfScan]], which follows it token for token.
    */
  def readClause(out: IntArrayList): Boolean = {
    out.clear()
    if (eof || !skipWhitespace()) return false
    while (ch == 'p' || ch == 'c') {
      if (!skipLine()) return false
    }
    while (readInteger()) {
      if (lastInt == 0) return true
      out.add(lastInt)
    }
    true // clause terminated by eof instead of 0 still counts
  }
}

/** Minimal growable int array (hot path; avoids boxing). */
final class IntArrayList(initialCapacity: Int = 16) {
  private[this] var arr = new Array[Int](initialCapacity)
  private[this] var n = 0
  @inline def size: Int = n
  @inline def apply(i: Int): Int = arr(i)
  @inline def isEmpty: Boolean = n == 0
  def clear(): Unit = n = 0
  def add(v: Int): Unit = {
    if (n == arr.length) {
      val bigger = new Array[Int](arr.length * 2)
      System.arraycopy(arr, 0, bigger, 0, n)
      arr = bigger
    }
    arr(n) = v
    n += 1
  }
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, n)
  /** Direct backing array access; valid for indices < size. */
  def unsafeArray: Array[Int] = arr
}
