package graft.sources

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Compression, DocParseException}
import graft.functions.DocKernelExpression

/** WARC (ISO 28500) container ingestion — the wire format Common-Crawl-style
  * corpora actually arrive in. The reference consumes one benchmark file per
  * invocation through an auto-decompressing byte stream
  * (/root/reference/src/util/StreamBuffer.h:47-124); the web-scale analog of
  * that "instance file" is one WARC member: versioned header block
  * (`WARC/1.0`, named headers, `Content-Length`), CRLF CRLF, then exactly
  * Content-Length payload bytes, then CRLF CRLF.
  *
  * [[Warc.parse]] is the doc-local kernel: one WARC file's bytes (plain or
  * gzip — Common Crawl gzips each record as its own member and
  * `GZIPInputStream` reads concatenated members natively, matching
  * libarchive's filter bidding) → the ordered record sequence. Malformed
  * framing (bad magic, missing Content-Length, truncated payload) raises
  * [[DocParseException]] so a hostile archive fails the ROW, not the
  * executor — same failure contract as every other doc kernel.
  *
  * Scale shape: WARC files are ~1 GiB with thousands of records; ingestion
  * is `spark.read.format("binaryFile")` (or a binary column) → ONE
  * [[WarcRecordsExpr]] evaluation per file → `posexplode` to record rows.
  * Per-task memory is one file's decompressed bytes (budget-capped), the
  * explode output is corpus-bounded, and everything downstream (hashing,
  * extraction, dedup) sees plain (uri, ts, payload) rows — the container
  * never shuffles.
  */
object Warc {

  /** One parsed record. `date` is the raw WARC-Date header value (ISO 8601);
    * parsing to a timestamp is the caller's cast so a sloppy crawler's
    * nonstandard date cannot fail the container kernel.
    */
  final case class Record(warcType: String, recordId: String, date: String,
                          targetUri: String, contentLength: Long,
                          payload: Array[Byte])

  /** Decompressed-size budget for one WARC file (zip-bomb guard). */
  val DefaultMaxBytes: Int = Compression.DefaultMaxBytes

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Parse one WARC file (auto-detecting gzip/xz/bzip2/zstd wrapping). */
  def parse(bytes: Array[Byte], maxBytes: Int = DefaultMaxBytes): Seq[Record] = {
    val buf = Compression.decompress(bytes, Compression.Auto, maxBytes)
    val out = scala.collection.mutable.ArrayBuffer[Record]()
    var pos = 0
    // skip any inter-record CRLF padding
    @inline def skipCrlf(): Unit =
      while (pos + 1 < buf.length && buf(pos) == '\r' && buf(pos + 1) == '\n')
        pos += 2
    def readLine(): String = {
      val start = pos
      while (pos + 1 < buf.length && !(buf(pos) == '\r' && buf(pos + 1) == '\n'))
        pos += 1
      if (pos + 1 >= buf.length)
        throw new DocParseException("warc: unterminated header line")
      val s = new String(buf, start, pos - start, "UTF-8")
      pos += 2
      s
    }
    skipCrlf()
    while (pos < buf.length) {
      val version = readLine()
      if (!version.startsWith("WARC/"))
        throw new DocParseException(
          s"warc: bad record magic at offset ${pos - version.length - 2}: " +
            version.take(20))
      var warcType, recordId, date, uri = ""
      var len = -1L
      var line = readLine()
      while (line.nonEmpty) {
        val i = line.indexOf(':')
        if (i < 0) throw new DocParseException(s"warc: bad header line: ${line.take(40)}")
        val name = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        name match {
          case "warc-type" => warcType = value
          case "warc-record-id" => recordId = value
          case "warc-date" => date = value
          case "warc-target-uri" => uri = value
          case "content-length" =>
            len = try value.toLong
            catch { case _: NumberFormatException =>
              throw new DocParseException(s"warc: bad Content-Length: $value") }
          case _ => () // unknown headers are legal and ignored
        }
        line = readLine()
      }
      if (len < 0) throw new DocParseException("warc: missing Content-Length")
      if (pos + len > buf.length)
        throw new DocParseException(
          s"warc: truncated payload (need $len bytes, have ${buf.length - pos})")
      val payload = java.util.Arrays.copyOfRange(buf, pos, pos + len.toInt)
      pos += len.toInt
      out += Record(warcType, recordId, date, uri, len, payload)
      skipCrlf()
    }
    out.toSeq
  }

  /** Serialize records to WARC bytes — the write-side inverse of [[parse]]
    * (tests and the driver harness manufacture corpora with it). Record ids
    * default to a content-derived urn so the output is a pure function of
    * the records. `gzipPerRecord` emits Common Crawl's member-per-record
    * framing.
    */
  def build(records: Seq[Record], gzipPerRecord: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      val header = new StringBuilder()
        .append("WARC/1.0\r\n")
        .append("WARC-Type: ").append(r.warcType).append("\r\n")
        .append("WARC-Record-ID: ").append(r.recordId).append("\r\n")
        .append("WARC-Date: ").append(r.date).append("\r\n")
      if (r.targetUri.nonEmpty)
        header.append("WARC-Target-URI: ").append(r.targetUri).append("\r\n")
      header.append("Content-Length: ").append(r.payload.length).append("\r\n\r\n")
      val rec = new java.io.ByteArrayOutputStream()
      rec.write(header.toString.getBytes("UTF-8"))
      rec.write(r.payload)
      rec.write(Crlf); rec.write(Crlf)
      bos.write(
        if (gzipPerRecord) Compression.compress(rec.toByteArray, Compression.Gzip)
        else rec.toByteArray)
    }
    bos.toByteArray
  }

  /** Entry of [[WarcRecordsExpr]]: null for a malformed container. */
  def warc_records(bytes: Array[Byte], maxBytes: Int): ArrayData = {
    val recs = try parse(bytes, maxBytes)
    catch { case _: DocParseException => return null }
    new GenericArrayData(recs.map { r =>
      InternalRow(UTF8String.fromString(r.warcType),
        UTF8String.fromString(r.recordId), UTF8String.fromString(r.date),
        UTF8String.fromString(r.targetUri), r.contentLength, r.payload)
    }.toArray[Any])
  }

  val recordSchema: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))
}

/** `warc_records(bin)` — one WARC file's bytes → array of record structs
  * (see [[Warc]] scaladoc for the scale shape; pair with `posexplode`).
  * Malformed containers evaluate to null (row-level failure), like every
  * doc kernel.
  */
case class WarcRecordsExpr(child: Expression, maxBytes: Int = Warc.DefaultMaxBytes)
    extends DocKernelExpression {
  override def dataType: DataType = ArrayType(Warc.recordSchema, containsNull = false)
  override def prettyName: String = "warc_records"
  override lazy val replacement: Expression = docCall(Warc, prettyName, maxBytes)
  override protected def withNewChildInternal(newChild: Expression): WarcRecordsExpr =
    copy(child = newChild)
}
