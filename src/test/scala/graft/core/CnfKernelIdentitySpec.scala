package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DocExtract, DocFormat}
import graft.pages.PageGen

/** Bit-identity of the single-pass CNF kernel against [[CnfOracle]], the
  * two-pass kernel it replaced: seeded PageGen documents (docScale 1-16),
  * each also run through one token mutation the two token grammars treat
  * differently (sign forms, leading zeros, zero spellings, detached signs,
  * CRLF/tabs, mid-document header/comment lines, a missing final 0, int32
  * overflow, variable ids past the memory budget). Every doc must give the
  * same parse (or the same parse failure), the same gbd hash, the same raw
  * bits of all 58 features and the same fused `cnf_extract` outcome.
  */
class CnfKernelIdentitySpec extends AnyFunSuite {

  /** Deterministic sampling, as in PropertySpec. */
  private def forAll[A](g: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(0x5eedL + i)).foreach(f)
    }

  private val genPage: Gen[String] = for {
    scale <- Gen.choose(1, 16)
    seed <- Gen.choose(0L, 1L << 40)
    url <- Gen.choose(0, 999)
    revisit <- Gen.choose(0, 3)
  } yield PageGen.textOf(PageGen.Config(seed = seed, docScale = scale), url, revisit)

  private val LitTok = """(?<=\s)-?[1-9][0-9]*(?=\s)""".r
  private val ZeroTok = """(?<=\s)0(?=\s|$)""".r

  /** Replace one regex match, chosen by the generator, with f(match). */
  private def atOne(doc: String, re: scala.util.matching.Regex)(f: String => String): Gen[String] = {
    val ms = re.findAllMatchIn(doc).toVector
    if (ms.isEmpty) Gen.const(doc)
    else Gen.choose(0, ms.size - 1).map { i =>
      val m = ms(i)
      doc.substring(0, m.start) + f(m.matched) + doc.substring(m.end)
    }
  }

  private def positive(tok: String): String = tok.stripPrefix("-")

  val mutations: Seq[(String, String => Gen[String])] = Seq(
    "plus sign" -> (d => atOne(d, LitTok)(t => "+" + positive(t))),
    "leading zeros" -> (d => atOne(d, LitTok)(t => if (t.startsWith("-")) "-00" + positive(t) else "00" + t)),
    "zero as -0" -> (d => atOne(d, ZeroTok)(_ => "-0")),
    "zero as 00" -> (d => atOne(d, ZeroTok)(_ => "00")),
    "zero as +0" -> (d => atOne(d, ZeroTok)(_ => "+0")),
    "detached sign" -> (d => atOne(d, LitTok)(t => "- " + positive(t))),
    "dangling sign" -> (d => Gen.const(d.stripTrailing() + " -")),
    "CRLF" -> (d => Gen.const(d.replace("\n", "\r\n"))),
    "tabs" -> (d => Gen.oneOf(d.replace(" ", "\t"), d.replace("  ", "\t \u000b"))),
    "header between clauses" -> (d => atOne(d, ZeroTok)(_ => "0\np cnf 9 9")),
    "comment between clauses" -> (d => atOne(d, ZeroTok)(_ => "0\nc note -0 00\n")),
    "comment mid-clause" -> (d => atOne(d, LitTok)(t => t + "\nc note\n")),
    "missing final 0" -> (d => Gen.const(d.stripTrailing().stripSuffix("0"))),
    "int overflow" -> (d => atOne(d, LitTok)(t => if (t.startsWith("-")) "-2147483649" else "2147483648")),
    "int32 max" -> (d => atOne(d, LitTok)(_ => "2147483647")),
    "var past budget" -> (d => atOne(d, LitTok)(_ => "99999999")),
    "garbage" -> (d => atOne(d, LitTok)(t => t + "x")))

  private val genDoc: Gen[Array[Byte]] = for {
    page <- genPage
    mutated <- Gen.frequency(1 -> Gen.const(page), 4 -> Gen.oneOf(mutations).flatMap(_._2(page)))
  } yield mutated.getBytes("UTF-8")

  private def outcome[A](f: => A): Either[String, A] =
    try Right(f) catch { case e: DocParseException => Left(e.getMessage) }

  private def bits(xs: Array[Double]): Seq[Long] = xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  /** The fused outcome as the parent's cnf_extract computed it, with the
    * oracle kernels; a doc over the variable-array budget is `limit` (the
    * parent failed the task or ran out of heap there).
    */
  private def oracleExtract(buf: Array[Byte]): (String, String, Seq[Long]) =
    outcome(CnfOracle.ClauseDoc.parse(buf)) match {
      case Left(_) => ("parse_error", null, null)
      case Right(doc) => outcome(CnfOracle.Dimacs.gbdHashCnf(buf)) match {
        case Left(_) => ("parse_error", null, null)
        case Right(_) if KernelBudget.overVars(doc.nVars, DocExtract.DefaultMaxBytes) => ("limit", null, null)
        case Right(hash) => ("ok", hash, bits(CnfOracle.CnfBase.extract(doc)))
      }
    }

  private def fusedExtract(buf: Array[Byte]): (String, String, Seq[Long]) = {
    val r = DocExtract(Literal(buf), DocFormat.Cnf).eval(InternalRow.empty).asInstanceOf[InternalRow]
    val status =
      if (r.getBoolean(3)) "limit" else if (r.getBoolean(4)) "timeout"
      else if (!r.getBoolean(2)) "parse_error" else "ok"
    val hash = if (r.isNullAt(0)) null else r.getUTF8String(0).toString
    val features =
      if (r.isNullAt(1)) null
      else { val f = r.getStruct(1, 58); (0 until 58).map(i => java.lang.Double.doubleToRawLongBits(f.getDouble(i))) }
    (status, hash, features)
  }

  test("single-pass kernel is bit-identical to the two-pass oracle on PageGen docs and token mutations") {
    var docs = 0
    var parsed = 0
    forAll(genDoc, 600) { buf =>
      docs += 1
      val parse = outcome(ClauseDoc.parse(buf))
      val oracleParse = outcome(CnfOracle.ClauseDoc.parse(buf))
      assert(parse.map(d => (d.lits.toSeq, d.offsets.toSeq, d.nVars)) ==
        oracleParse.map(d => (d.lits.toSeq, d.offsets.toSeq, d.nVars)), "parse")
      assert(outcome(Dimacs.gbdHashCnf(buf)) == outcome(CnfOracle.Dimacs.gbdHashCnf(buf)), "gbd hash")
      val fused = fusedExtract(buf)
      assert(fused == oracleExtract(buf), s"cnf_extract outcome on:\n${new String(buf, "UTF-8").take(400)}")
      if (fused._1 == "ok") {
        parsed += 1
        assert(bits(CnfBase.extract(buf)) == fused._3, "cnf_features")
      }
    }
    assert(docs == 600 && parsed > 300, s"$parsed of $docs docs parsed")
  }

  test("every mutation is exercised and some change the outcome") {
    val statuses = mutations.map { case (name, m) =>
      val outs = (0 until 20).flatMap { i =>
        genPage.flatMap(m).apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
      }.map(s => fusedExtract(s.getBytes("UTF-8"))._1)
      name -> outs.toSet
    }.toMap
    // a mutation that lands on the header or a comment line changes nothing
    assert(statuses("zero as -0") == Set("ok"), statuses)
    for (m <- Seq("detached sign", "dangling sign", "int overflow", "garbage", "comment mid-clause"))
      assert(statuses(m).contains("parse_error"), m -> statuses(m))
    for (m <- Seq("var past budget", "int32 max"))
      assert(statuses(m).contains("limit"), m -> statuses(m))
  }

  test("distribution stats equal the oracle's on edge-case values") {
    val longs = Seq(
      Array(0L), Array(3L, 1L, 2L), Array(5L, 5L, 5L), Array(-7L, 0L, 7L, 7L),
      Array(Long.MinValue, Long.MaxValue, 0L), Array(1L << 33, 1L, (1L << 33) + 1),
      Array.tabulate(2000)(i => (i * 7919L) % 1000003L), Array.tabulate(500)(i => (i % 13).toLong))
    // bits with NaNs collapsed: which NaN payload survives a fold depends on
    // operand order in the compiled code, not on the algorithm
    def statBits(s: DistStats.Stats): Seq[Long] =
      Seq(s.mean, s.variance, s.min, s.max, s.entropy).map(java.lang.Double.doubleToLongBits)
    def oracleBits(s: CnfOracle.DistStats.Stats): Seq[Long] =
      Seq(s.mean, s.variance, s.min, s.max, s.entropy).map(java.lang.Double.doubleToLongBits)
    for (v <- longs)
      assert(statBits(DistStats.ofLongs(v)) == oracleBits(CnfOracle.DistStats.ofLongs(v)), v.toSeq.take(8))
    val nan = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val doubles = Seq(
      Array(0.0), Array(-0.0, 0.0, 0.0, -0.0), Array(0.0004, 0.0005, 0.0015, 1.0, 1.0),
      Array(-2.5, -0.4, 0.3, 2.5, 999.9995), Array(1.0, Double.NaN, 0.5, nan),
      Array(Double.PositiveInfinity, Double.NegativeInfinity, 0.0),
      Array.tabulate(300)(i => 1.0 / (1 + i % 7)), Array.tabulate(300)(i => i * 0.37 - 40))
    for (v <- doubles)
      assert(statBits(DistStats.ofDoubles(v)) == oracleBits(CnfOracle.DistStats.ofDoubles(v)), v.toSeq.take(8))
  }
}
