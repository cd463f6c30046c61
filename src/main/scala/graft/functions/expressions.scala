package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** Shared plumbing for the doc-local kernel expressions: accepts a string or
  * binary child (the pages table carries both `text:string` and
  * `html:binary`) and calls a pure kernel over the raw bytes, which maps a
  * malformed document to null instead of failing the task — at 10^12-doc
  * scale one bad page must not kill a stage; the pipeline derives a `status`
  * column from the null. The entry methods take the doc as `Array[Byte]`:
  * a string child is cast to binary, which is the `getBytes` the kernels
  * always ran on.
  */
trait DocKernelExpression extends KernelExpression with UnaryLike[Expression] {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType | NullType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string or binary input, got ${t.simpleString}")
  }

  /** `entries.entry(doc bytes, params...)`; params become literals. A
    * kernel declared non-nullable also receives null docs: it maps them to
    * a status row.
    */
  protected final def docCall(entries: AnyRef, entry: String, params: Any*): Expression =
    call(entries, entry,
      (if (child.dataType == BinaryType) child else Cast(child, BinaryType)) +: params.map(Literal(_)),
      propagateNull = nullable)
}

/** Document formats understood by the normalization/identity expressions. */
object DocFormat {
  val Cnf = "cnf"
  val Wcnf = "wcnf"
  val Opb = "opb"
  val Pqbf = "pqbf"
  val all: Seq[String] = Seq(Cnf, Wcnf, Opb, Pqbf)
}

/** Entry methods of the doc kernels, one per SQL function (see
  * [[KernelExpression]]). A malformed doc, or one past the variable budget
  * ([[KernelBudget.checkVars]]), maps to null, or to its status row for the
  * kernels that never return null.
  */
object DocKernels {
  private def orNull[T <: AnyRef](f: => T): T =
    try f catch {
      case _: DocParseException | _: KernelBudget.KernelMemout => null.asInstanceOf[T]
    }
  private def str(s: => String): UTF8String = orNull(UTF8String.fromString(s))
  private def normalized(doc: Array[Byte], normalize: (Array[Byte], BufferSink) => Unit): UTF8String =
    str { val sink = new BufferSink(doc.length + 16); normalize(doc, sink); sink.result }
  // non-copying wrap: fromSeq(array) would defensively copy the 58-79
  // element feature vector ONCE PER ROW through the implicit conversion
  private def row(values: Array[Double]): InternalRow =
    InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(values))

  def normalize_cnf(doc: Array[Byte]): UTF8String = normalized(doc, Dimacs.normalizeCnf)
  def normalize_wcnf(doc: Array[Byte]): UTF8String = normalized(doc, Dimacs.normalizeWcnf)
  def normalize_opb(doc: Array[Byte]): UTF8String = normalized(doc, Dimacs.normalizeOpb)
  def normalize_pqbf(doc: Array[Byte]): UTF8String = normalized(doc, Dimacs.normalizePqbf)
  def normalize_cnf_file(doc: Array[Byte]): UTF8String = str(Dimacs.normalizeCnfFile(doc))
  def sanitize_cnf(doc: Array[Byte]): UTF8String = str(Dimacs.sanitizeCnfFile(doc))

  def gbd_hash(doc: Array[Byte]): UTF8String = str(Dimacs.gbdHashCnf(doc))
  def gbd_hash_wcnf(doc: Array[Byte]): UTF8String = str(Dimacs.gbdHashWcnf(doc))
  def gbd_hash_opb(doc: Array[Byte]): UTF8String = str(Dimacs.gbdHashOpb(doc))
  def gbd_hash_pqbf(doc: Array[Byte]): UTF8String = str(Dimacs.gbdHashPqbf(doc))
  def iso_hash(doc: Array[Byte]): UTF8String = str(Dimacs.isoHashCnf(doc))
  def iso_hash_wcnf(doc: Array[Byte]): UTF8String = str(Dimacs.isoHashWcnf(doc))
  def iso_hash2(doc: Array[Byte]): UTF8String = str(IsoHash2.isoHash2(doc))

  def cnf_features(doc: Array[Byte]): InternalRow = orNull {
    val scan = new CnfScan(doc, hash = false)
    KernelBudget.checkVars(scan.nVars)
    row(CnfBase.extract(scan))
  }
  def wcnf_features(doc: Array[Byte]): InternalRow = orNull(row(WcnfBase.extract(doc)))
  def opb_features(doc: Array[Byte]): InternalRow = orNull(row(OpbBase.extract(doc)))

  private val NoCodec = UTF8String.fromString(Compression.None)
  private def status(parseOk: Boolean, limited: Boolean, timedOut: Boolean,
                     decodeFailed: Boolean): InternalRow =
    InternalRow(null, null, parseOk, limited, timedOut, decodeFailed)

  /** See [[CnfExtract]]; a null doc is a row of all-false flags. */
  def cnf_extract(raw: Array[Byte], maxBytes: Int, maxOps: Long, codec: UTF8String): InternalRow =
    if (raw == null) status(false, false, false, false)
    else if (raw.length > maxBytes) status(false, true, false, false)
    else {
      val doc =
        if (codec == NoCodec) raw
        else try Compression.decompress(raw, codec.toString, maxBytes)
        catch { case _: DocParseException => return status(false, false, false, true) }
      if (doc.length > maxBytes) status(false, true, false, false)
      else try {
        // tokenize once; the literal count IS the op count of the linear
        // kernel loops that follow, so the time budget is checked before any
        // of them, and the variable-array budget before they allocate
        val scan = new CnfScan(doc, hash = true)
        if (scan.nLits.toLong > maxOps) status(true, false, true, false)
        else {
          val hash = scan.gbdHash
          if (KernelBudget.overVars(scan.nVars, maxBytes)) status(true, true, false, false)
          else InternalRow(UTF8String.fromString(hash), row(CnfBase.extract(scan)),
            true, false, false, false)
        }
      } catch {
        case _: DocParseException => status(false, false, false, false)
      }
    }

  def cnf_gate_features(doc: Array[Byte], maxOps: Long): InternalRow =
    try row(Gates.extract(doc, maxOps))
    catch {
      // resource envelope: a doc whose semantic gate checks blow the solver
      // budget — or whose blocked-set structure blows the op budget, or
      // whose ids blow the variable budget — yields null features instead
      // of stalling the task
      case _: DocParseException | _: graft.core.Sat.BudgetExceeded |
           _: KernelBudget.KernelTimeout | _: KernelBudget.KernelMemout => null
    }

  /** See [[GateExtract]]; a null doc has status `null_text`. */
  def cnf_gate_extract(doc: Array[Byte], maxOps: Long): InternalRow = {
    def out(features: InternalRow, status: String) = InternalRow(features, UTF8String.fromString(status))
    if (doc == null) out(null, "null_text")
    else try out(row(Gates.extract(doc, maxOps)), "ok")
    catch {
      case _: DocParseException => out(null, "parse_error")
      case _: graft.core.Sat.BudgetExceeded | _: KernelBudget.KernelTimeout => out(null, "timeout")
      case _: KernelBudget.KernelMemout => out(null, "limit")
    }
  }

  def kis_transform(doc: Array[Byte]): InternalRow = orNull {
    val k = Transforms.cnf2kis(doc)
    InternalRow(UTF8String.fromString(k.text), k.nodes, k.edges, k.k)
  }
  def bip_transform(doc: Array[Byte]): InternalRow = orNull {
    val b = Transforms.cnf2bip(doc)
    InternalRow(UTF8String.fromString(b.text), b.nodes, b.edges)
  }

  private def decompress(payload: Array[Byte], codec: String, maxBytes: Int): Array[Byte] =
    orNull(Compression.decompress(payload, codec, maxBytes))
  def decompress_auto(p: Array[Byte], maxBytes: Int): Array[Byte] = decompress(p, Compression.Auto, maxBytes)
  def decompress_xz(p: Array[Byte], maxBytes: Int): Array[Byte] = decompress(p, Compression.Xz, maxBytes)
  def decompress_gzip(p: Array[Byte], maxBytes: Int): Array[Byte] = decompress(p, Compression.Gzip, maxBytes)
  def decompress_bzip2(p: Array[Byte], maxBytes: Int): Array[Byte] = decompress(p, Compression.Bzip2, maxBytes)
  def decompress_zstd(p: Array[Byte], maxBytes: Int): Array[Byte] = decompress(p, Compression.Zstd, maxBytes)
  def decompress_none(p: Array[Byte], maxBytes: Int): Array[Byte] = decompress(p, Compression.None, maxBytes)

  def cnf_sanicheck(doc: Array[Byte]): InternalRow = orNull {
    val r = Dimacs.saniCheck(doc, sanitize = true)
    @inline def b(x: Boolean): Double = if (x) 1.0 else 0.0
    row(Array(
      r.headVars.toDouble, r.headClauses.toDouble, r.normVars.toDouble, r.normClauses.toDouble,
      b(r.whitespaceNormalised), b(r.hasComment),
      r.saniVars.toDouble, r.saniClauses.toDouble,
      b(r.hasTautologicalClause), b(r.hasDuplicateLiterals), b(r.hasEmptyClause)))
  }

  def cnf_clauses(doc: Array[Byte]): ArrayData = orNull {
    val d = ClauseDoc.parse(doc)
    val clauses = new Array[AnyRef](d.nClauses)
    var c = 0
    while (c < d.nClauses) {
      clauses(c) = new GenericArrayData(java.util.Arrays.copyOfRange(d.lits, d.clauseStart(c), d.clauseEnd(c)))
      c += 1
    }
    new GenericArrayData(clauses)
  }
}

/** NormalizeText — the byte-identical extracted-text contract
  * (BASELINE.json input_hint). Forms:
  *  - "hash": the exact byte stream gbdhash consumes
  *    (/root/reference/src/identify/GBDHash.h:30-50 and format variants)
  *  - "file": regenerated-header one-clause-per-line form
  *    (/root/reference/src/transform/cnf2cnf.cc:15-35, CNF only)
  *  - "sanitize": duplicate-literal/tautology-free file form
  *    (/root/reference/src/transform/cnf2cnf.cc:43-86, CNF only)
  */
case class NormalizeText(child: Expression, format: String, form: String)
    extends DocKernelExpression {
  require(DocFormat.all.contains(format), s"unknown format $format")
  require(Seq("hash", "file", "sanitize").contains(form), s"unknown form $form")
  require(format == DocFormat.Cnf || form == "hash", s"form $form only supported for cnf")

  override def dataType: DataType = StringType
  override def prettyName: String = s"normalize_${format}_$form"
  override lazy val replacement: Expression = docCall(DocKernels, form match {
    case "file" => "normalize_cnf_file"
    case "sanitize" => "sanitize_cnf"
    case _ => s"normalize_$format"
  })
  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

/** GbdHash — exact-content instance id: md5 of the normalized byte stream,
  * computed streaming without materializing the normalized text (mirrors
  * /root/reference/src/identify/GBDHash.h). instance_id = gbd_hash(text).
  */
case class GbdHash(child: Expression, format: String) extends DocKernelExpression {
  require(DocFormat.all.contains(format), s"unknown format $format")

  override def dataType: DataType = StringType
  override def prettyName: String = s"gbd_hash_$format"
  override lazy val replacement: Expression =
    docCall(DocKernels, if (format == DocFormat.Cnf) "gbd_hash" else prettyName)
  override protected def withNewChildInternal(newChild: Expression): GbdHash =
    copy(child = newChild)
}

/** IsoHash — isomorphism-invariant instance id (degree-sequence form,
  * /root/reference/src/identify/ISOHash.h).
  */
case class IsoHash(child: Expression, format: String) extends DocKernelExpression {
  require(format == DocFormat.Cnf || format == DocFormat.Wcnf, s"isohash supports cnf|wcnf, got $format")

  override def dataType: DataType = StringType
  override def prettyName: String = s"iso_hash_$format"
  override lazy val replacement: Expression =
    docCall(DocKernels, if (format == DocFormat.Cnf) "iso_hash" else prettyName)
  override protected def withNewChildInternal(newChild: Expression): IsoHash =
    copy(child = newChild)
}

/** IsoHash2 — Weisfeiler–Leman refinement hash (graft.core.IsoHash2);
  * invariant under clause/variable permutation and polarity flips.
  */
case class IsoHash2Expr(child: Expression) extends DocKernelExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "iso_hash2"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName)
  override protected def withNewChildInternal(newChild: Expression): IsoHash2Expr =
    copy(child = newChild)
}

object FeatureSchemas {
  private def struct(names: Array[String]): StructType =
    StructType(names.map(n => StructField(n, DoubleType, nullable = false)))

  val cnf: StructType = struct(CnfBase.featureNames)
  val wcnf: StructType = struct(WcnfBase.featureNames)
  val opb: StructType = struct(OpbBase.featureNames)
  val gates: StructType = struct(Gates.featureNames)

  val sani: StructType = StructType(Seq(
    StructField("head_vars", DoubleType, nullable = false),
    StructField("head_clauses", DoubleType, nullable = false),
    StructField("norm_vars", DoubleType, nullable = false),
    StructField("norm_clauses", DoubleType, nullable = false),
    StructField("whitespace_normalised", DoubleType, nullable = false),
    StructField("has_comment", DoubleType, nullable = false),
    StructField("sani_vars", DoubleType, nullable = false),
    StructField("sani_clauses", DoubleType, nullable = false),
    StructField("has_tautological_clause", DoubleType, nullable = false),
    StructField("has_duplicate_literals", DoubleType, nullable = false),
    StructField("has_empty_clause", DoubleType, nullable = false)))
}

/** One fused pass producing the full base-feature vector as a struct of
  * doubles in the reference's feature order — the Spark analog of one
  * gbdc extractor invocation per document (SURVEY.md §2.4 A2-A4).
  */
case class ExtractFeatures(child: Expression, format: String) extends DocKernelExpression {
  require(Seq(DocFormat.Cnf, DocFormat.Wcnf, DocFormat.Opb).contains(format),
    s"extract_features supports cnf|wcnf|opb, got $format")

  override def dataType: StructType = format match {
    case DocFormat.Cnf => FeatureSchemas.cnf
    case DocFormat.Wcnf => FeatureSchemas.wcnf
    case _ => FeatureSchemas.opb
  }

  override def prettyName: String = s"${format}_features"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName)
  override protected def withNewChildInternal(newChild: Expression): ExtractFeatures =
    copy(child = newChild)
}

object CnfExtract {
  /** Default per-document byte budget ([[KernelBudget.DefaultMaxBytes]]).
    * Bytes alone do not bound memory, so the same budget also caps each
    * variable-indexed array (see [[overVarBudget]]). Everything else the
    * kernel allocates is linear in the payload, so memory stays a small
    * multiple of the budget.
    */
  val DefaultMaxBytes: Int = KernelBudget.DefaultMaxBytes

  /** [[KernelBudget.overVars]]: the variable budget at this byte budget. */
  def overVarBudget(maxVar: Int, maxBytes: Int): Boolean = KernelBudget.overVars(maxVar, maxBytes)

  /** Default per-document op budget (clause-literal visits — the unit the
    * feature kernels loop over; see [[graft.core.KernelBudget]]). The
    * deterministic TIME-limit analog of ResourceLimits.h next to the byte
    * (memory) cap above: bytes bound allocation, ops bound work, and the
    * two bind independently — a comment-heavy doc is byte-big but op-small,
    * a dense single-digit-literal doc is op-big at few bytes. 1<<26 is ~2s
    * of kernel work per document; the sf corpora use a few thousand ops.
    */
  val DefaultMaxOps: Long = 1L << 26

  val schema: StructType = StructType(Seq(
    StructField("instance_id", StringType, nullable = true),
    StructField("features", FeatureSchemas.cnf, nullable = true),
    StructField("parse_ok", org.apache.spark.sql.types.BooleanType, nullable = false),
    StructField("limited", org.apache.spark.sql.types.BooleanType, nullable = false),
    StructField("timed_out", org.apache.spark.sql.types.BooleanType, nullable = false),
    StructField("decode_failed", org.apache.spark.sql.types.BooleanType, nullable = false)))
}

/** Fused identity + features: one evaluation tokenizes the doc once into
  * both the literal pool and the gbd_hash byte stream ([[CnfScan]]), then
  * computes the full base-feature vector — the per-row hot path of
  * FeatureJob. Never null: a malformed doc yields
  * (null, null, parse_ok=false, ...), a doc over the byte budget — or whose
  * largest variable id would size a variable-indexed array past it —
  * yields limited=true, and a doc over the op budget (total literal count —
  * the exact work unit of the linear feature loops, known after the parse)
  * yields timed_out=true, so the status column needs no second evaluation
  * and one pathological page cannot stall a stage at 10^12-doc scale. Both
  * budgets are deterministic: the same doc gets the same outcome on every
  * executor and every retry (resume-checksum safe).
  *
  * `codec` (default "none") fuses compressed-payload ingestion BELOW the
  * parse: the payload decompresses, parses, hashes, and featurizes in ONE
  * expression evaluation — the Spark analog of the reference's streaming
  * decompressing parse (StreamBuffer.h:106-124), with no decompressed
  * intermediate column ever materialized (and so never shuffled or
  * double-evaluated by projection collapse). A corrupt stream or a blob
  * over the decompressed-size budget yields decode_failed=true — a row
  * outcome, never a task failure. The byte budget applies to the
  * COMPRESSED size first (cheap reject before any inflate work) and the
  * decompressed size second (zip-bomb guard).
  */
case class CnfExtract(child: Expression, maxBytes: Int = CnfExtract.DefaultMaxBytes,
                      maxOps: Long = CnfExtract.DefaultMaxOps,
                      codec: String = Compression.None)
    extends DocKernelExpression {
  require(Compression.codecs.contains(codec), s"unknown codec $codec")
  override def nullable: Boolean = false
  override def dataType: StructType = CnfExtract.schema
  override def prettyName: String = "cnf_extract"
  override lazy val replacement: Expression =
    docCall(DocKernels, prettyName, maxBytes, maxOps, codec)
  override protected def withNewChildInternal(newChild: Expression): CnfExtract =
    copy(child = newChild)
}

/** Gate-structure features (GateAnalyzer; see graft.core.Gates scope note). */
case class GateFeaturesExpr(child: Expression, maxOps: Long = KernelBudget.Unlimited)
    extends DocKernelExpression {
  override def dataType: StructType = FeatureSchemas.gates
  override def prettyName: String = "cnf_gate_features"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName, maxOps)
  override protected def withNewChildInternal(newChild: Expression): GateFeaturesExpr =
    copy(child = newChild)
}

object GateExtract {
  /** Default gate-analysis op budget. The gate analyzer is the one
    * SUPER-linear kernel (blocked-set checks multiply occurrence-list
    * sizes), so unlike the linear kernels its op count cannot be read off
    * the parse — it is charged online ([[graft.core.KernelBudget]]).
    */
  val DefaultMaxOps: Long = 1L << 26

  val schema: StructType = StructType(Seq(
    StructField("features", FeatureSchemas.gates, nullable = true),
    StructField("status", StringType, nullable = false)))
}

/** Gate features with the full structured outcome channel
  * (ok | parse_error | timeout | limit | null_text) — the reference's
  * per-call ResourceLimits contract (Main.cc:177-191) for the analyzer whose
  * work is super-linear in the document. The solver's conflict budget and
  * the analyzer's op budget both surface as `timeout`; a doc whose largest
  * variable id is past the variable budget ([[KernelBudget.checkVars]] at
  * the default byte budget) is `limit`, FeatureJob's word for the same
  * budget. Never null, never a task failure.
  */
case class GateExtract(child: Expression, maxOps: Long = GateExtract.DefaultMaxOps)
    extends DocKernelExpression {
  override def nullable: Boolean = false
  override def dataType: StructType = GateExtract.schema
  override def prettyName: String = "cnf_gate_extract"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName, maxOps)
  override protected def withNewChildInternal(newChild: Expression): GateExtract =
    copy(child = newChild)
}

/** cnf2kis transform: derived k-independent-set document + metadata
  * (/root/reference/src/transform/cnf2kis.h:17-96).
  */
case class KisTransform(child: Expression) extends DocKernelExpression {
  override def dataType: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("nodes", LongType, nullable = false),
    StructField("edges", LongType, nullable = false),
    StructField("k", LongType, nullable = false)))
  override def prettyName: String = "kis_transform"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName)
  override protected def withNewChildInternal(newChild: Expression): KisTransform =
    copy(child = newChild)
}

/** cnf2bip transform: directed bipartite incidence graph document
  * (/root/reference/src/transform/cnf2bip.cc:10-36).
  */
case class BipTransform(child: Expression) extends DocKernelExpression {
  override def dataType: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("nodes", LongType, nullable = false),
    StructField("edges", LongType, nullable = false)))
  override def prettyName: String = "bip_transform"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName)
  override protected def withNewChildInternal(newChild: Expression): BipTransform =
    copy(child = newChild)
}

/** Decompress a compressed payload column (xz/gzip/bzip2/zstd, or
  * magic-byte auto-detection — the Spark analog of the reference's
  * libarchive filter-all ingestion, /root/reference/src/util/StreamBuffer.h:
  * 106-124; see graft.core.Compression). Fuses below the hash/feature
  * kernels: `gbd_hash(decompress_auto(payload))` evaluates both in one
  * narrow projection over the scan, so compressed corpora never
  * materialize a decompressed intermediate column. Corrupt streams and
  * budget violations null the row (status channel), never the task.
  */
case class Decompress(child: Expression, codec: String = Compression.Auto,
                      maxBytes: Int = Compression.DefaultMaxBytes)
    extends DocKernelExpression {
  require(Compression.codecs.contains(codec), s"unknown codec $codec")
  override def dataType: DataType = BinaryType
  override def prettyName: String = s"decompress_$codec"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName, maxBytes)
  override protected def withNewChildInternal(newChild: Expression): Decompress =
    copy(child = newChild)
}

/** Data-quality scan (/root/reference/src/extract/CNFSaniCheck.cc). */
case class SaniCheckExpr(child: Expression) extends DocKernelExpression {
  override def dataType: StructType = FeatureSchemas.sani
  override def prettyName: String = "cnf_sanicheck"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName)
  override protected def withNewChildInternal(newChild: Expression): SaniCheckExpr =
    copy(child = newChild)
}

/** Raw clause structure as array<array<int>> for relational exploration
  * (explode/HOF pipelines); the fused expressions above are the hot path.
  */
case class ParseClauses(child: Expression) extends DocKernelExpression {
  override def dataType: DataType = ArrayType(ArrayType(IntegerType, containsNull = false), containsNull = false)
  override def prettyName: String = "cnf_clauses"
  override lazy val replacement: Expression = docCall(DocKernels, prettyName)
  override protected def withNewChildInternal(newChild: Expression): ParseClauses =
    copy(child = newChild)
}
