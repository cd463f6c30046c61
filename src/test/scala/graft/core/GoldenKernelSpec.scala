package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.Fixtures
import graft.Fixtures.fequal

/** Golden replay of the reference's own regression fixtures
  * (/root/reference/test/tests_feature_extraction.cc:37-66) at the kernel
  * level: every feature must be allclose (rel 1e-5) to
  * test/resources/expected_records.
  */
class GoldenKernelSpec extends AnyFunSuite {

  private def check(names: Array[String], values: Array[Double], golden: Map[String, Double]): Unit = {
    assert(names.length == values.length)
    val produced = names.zip(values).toMap
    val missing = golden.keySet -- produced.keySet
    assert(missing.isEmpty, s"features missing from engine output: $missing")
    for ((k, expected) <- golden) {
      val actual = produced(k)
      assert(fequal(actual, expected), s"$k: engine=$actual golden=$expected")
    }
  }

  test("CNF base features match cnf_base.txt golden (allclose 1e-5)") {
    val buf = Fixtures.resourceBytes("/gbdc/cnf_test.cnf.xz")
    val values = CnfBase.extract(buf)
    check(CnfBase.featureNames, values, Fixtures.goldenRecord("/gbdc/expected_records/cnf_base.txt"))
  }

  test("WCNF base features match wcnf_base.txt golden (allclose 1e-5)") {
    val buf = Fixtures.resourceBytes("/gbdc/wcnf_test.wcnf.xz")
    val values = WcnfBase.extract(buf)
    check(WcnfBase.featureNames, values, Fixtures.goldenRecord("/gbdc/expected_records/wcnf_base.txt"))
  }

  test("OPB base features match opb_base.txt golden (allclose 1e-5)") {
    val buf = Fixtures.resourceBytes("/gbdc/opb_test.opb.xz")
    val values = OpbBase.extract(buf)
    check(OpbBase.featureNames, values, Fixtures.goldenRecord("/gbdc/expected_records/opb_base.txt"))
  }
}

/** Normalization & identity-hash behavior on constructed cases + the
  * scramble corpus: gbdhash is exact-content (changes under reorder),
  * isohash is isomorphism-invariant (stable under scrambles).
  */
class IdentityKernelSpec extends AnyFunSuite {
  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("CNF hash-form normalization: comments dropped, single-space canon") {
    val sink = new BufferSink
    Dimacs.normalizeCnf(b("c comment\np cnf 3 2\n1   -2  0\n\n  2 3 0\n"), sink)
    assert(sink.result == "1 -2 0 2 3 0")
  }

  test("normalization keeps literal digit forms (leading zeros), drops '+'") {
    val sink = new BufferSink
    Dimacs.normalizeCnf(b("p cnf 3 1\n+1 -02 0\n"), sink)
    assert(sink.result == "1 -02 0")
  }

  test("clause spanning lines and missing final 0 still normalize") {
    val sink = new BufferSink
    Dimacs.normalizeCnf(b("1 2\n3 0\n4 5"), sink)
    assert(sink.result == "1 2 3 0 4 5 0")
  }

  test("gbdhash == md5 of normalized text by construction") {
    val doc = b("c x\n1 -2 0 2 3 0\n")
    val sink = new BufferSink
    Dimacs.normalizeCnf(doc, sink)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest(sink.result.getBytes("UTF-8")).map(x => f"${x & 0xff}%02x").mkString
    assert(Dimacs.gbdHashCnf(doc) == expected)
  }

  test("gbdhash changes under clause reorder; isohash does not") {
    val a = b("p cnf 3 2\n1 -2 0\n2 3 0\n")
    val c = b("p cnf 3 2\n2 3 0\n1 -2 0\n")
    assert(Dimacs.gbdHashCnf(a) != Dimacs.gbdHashCnf(c))
    assert(Dimacs.isoHashCnf(a) == Dimacs.isoHashCnf(c))
  }

  test("isohash invariant under polarity flip and variable gaps") {
    val base = b("p cnf 3 2\n1 -2 0\n2 3 0\n")
    val flipped = b("p cnf 3 2\n-1 -2 0\n2 -3 0\n") // flip polarity of vars 1,3
    assert(Dimacs.isoHashCnf(base) == Dimacs.isoHashCnf(flipped))
    val gapped = b("p cnf 30 2\n10 -20 0\n20 30 0\n") // same degree multiset, renamed+gapped
    assert(Dimacs.isoHashCnf(base) == Dimacs.isoHashCnf(gapped))
  }

  test("scrambled/simple corpus: isohash invariant across clause/polarity scrambles of clique") {
    val source = Fixtures.resourceBytes("/gbdc/scrambled_simple/clique_source_cnf.xz")
    val notchanged = Fixtures.resourceBytes("/gbdc/scrambled_simple/clique_notchanged.cnf")
    assert(Dimacs.gbdHashCnf(source) == Dimacs.gbdHashCnf(notchanged),
      "identical content must gbdhash-match regardless of container")
    for (variant <- Seq("p_noindividualflips.cnf", "r_noindividualflips.cnf",
      "P_noindividualflips.cnf", "R_noindividualflips.cnf",
      "pP_noindividualflips.cnf", "rR_noindividualflips.cnf")) {
      val v = Fixtures.resourceBytes(s"/gbdc/scrambled_simple/$variant")
      assert(Dimacs.isoHashCnf(source) == Dimacs.isoHashCnf(v), s"isohash not invariant for $variant")
    }
  }

  test("file-form normalization regenerates header and canonical ints") {
    val out = Dimacs.normalizeCnfFile(b("c hi\np cnf 9 9\n+1  -02   0\n3 1 0"))
    assert(out == "p cnf 3 2\n1 -2 0\n3 1 0\n")
  }

  test("sanitize drops tautologies and duplicate literals, keeps first occurrence") {
    val out = Dimacs.sanitizeCnfFile(b("p cnf 3 3\n1 2 1 0\n1 -1 3 0\n3 2 0\n"))
    assert(out == "p cnf 3 2\n1 2 0\n3 2 0\n")
  }

  test("sanicheck flags") {
    val r = Dimacs.saniCheck(b("p cnf 3 3\nc mid\n1 2 1 0\n1 -1 3 0\n3 2 0\n"), sanitize = true)
    assert(r.headVars == 3 && r.headClauses == 3)
    assert(r.normVars == 3 && r.normClauses == 3)
    assert(r.hasComment)
    assert(r.hasDuplicateLiterals)
    assert(r.hasTautologicalClause)
    assert(!r.hasEmptyClause)
    assert(r.saniClauses == 2)
    assert(r.saniVars == 3)
  }

  test("wcnf old-format top rewriting and the h-clause notfirst quirk") {
    val oldF = b("p wcnf 3 3 10\n10 1 -2 0\n3 2 3 0\n12 -1 0\n")
    val newF = b("h 1 -2 0\n3 2 3 0\nh -1 0\n")
    val oldSink = new BufferSink
    Dimacs.normalizeWcnf(oldF, oldSink)
    // old format always sets notfirst, so clauses are space-joined
    assert(oldSink.result == "h 1 -2 0 3 2 3 0 h -1 0")
    val newSink = new BufferSink
    Dimacs.normalizeWcnf(newF, newSink)
    // reference quirk (GBDHash.h:167-178): an 'h' clause does not set
    // notfirst, so the clause after the FIRST h clause gets no separator
    assert(newSink.result == "h 1 -2 03 2 3 0 h -1 0")
    // isohash has no such quirk: old and new format agree
    assert(Dimacs.isoHashWcnf(oldF) == Dimacs.isoHashWcnf(newF))
  }

  /** `f(doc)` on a daemon thread, failing the test when it has not
    * returned after `seconds`.
    */
  private def within[T](seconds: Int)(f: => T): T = {
    val result = new java.util.concurrent.FutureTask[T](() => f)
    val t = new Thread(result, "kernel-call")
    t.setDaemon(true)
    t.start()
    try result.get(seconds.toLong, java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        t.interrupt()
        fail(s"kernel call still running after $seconds s")
    }
  }

  test("OPB kernels: a truncated term list gives null") {
    import graft.functions.DocKernels
    for (doc <- Seq("1 -2 0", "min: +1 x1", "+1 x1 +2 x2", "min: +1 x1 ;\n+1 x1")) {
      assert(within(10)(DocKernels.normalize_opb(b(doc))) == null, doc)
      assert(within(10)(DocKernels.gbd_hash_opb(b(doc))) == null, doc)
      assert(within(10)(DocKernels.opb_features(b(doc))) == null, doc)
    }
    // a bound or coefficient missing at the end, or a lone sign
    for (doc <- Seq("2147483647 0", "+1 x1 >=", "+1 x1 >= -", "min: -"))
      assert(within(10)(DocKernels.opb_features(b(doc))) == null, doc)
    assert(within(10)(DocKernels.normalize_opb(b("min: +1 x1 ;\n+1 x1 >= 1 ;\n"))).toString ==
      "min: 1 x1;1 x1 >= 1;")
  }

  /** Every CNF and WCNF doc kernel on ids past the variable budget at the
    * default byte budget (null, or `limit` for the status kernels; the
    * text-form kernels size no variable array and give a value) and on ids
    * under it (a value, or `ok`).
    */
  test("doc kernels: huge variable ids give null or limit") {
    import graft.functions.{CnfExtract, DocKernels => K, GateExtract}
    val none = org.apache.spark.unsafe.types.UTF8String.fromString(Compression.None)
    def value(f: Array[Byte] => AnyRef): Array[Byte] => String = d => if (f(d) == null) "null" else "value"
    // (kernel, its outcome on a doc, its outcome past the variable budget)
    val cnf: Seq[(String, Array[Byte] => String, String)] = Seq(
      ("normalize_cnf", value(K.normalize_cnf), "value"),
      ("normalize_cnf_file", value(K.normalize_cnf_file), "value"),
      ("normalize_pqbf", value(K.normalize_pqbf), "value"),
      ("gbd_hash", value(K.gbd_hash), "value"),
      ("gbd_hash_pqbf", value(K.gbd_hash_pqbf), "value"),
      ("cnf_clauses", value(K.cnf_clauses), "value"),
      ("sanitize_cnf", value(K.sanitize_cnf), "null"),
      ("cnf_sanicheck", value(K.cnf_sanicheck), "null"),
      ("iso_hash", value(K.iso_hash), "null"),
      ("iso_hash2", value(K.iso_hash2), "null"),
      ("cnf_features", value(K.cnf_features), "null"),
      ("cnf_gate_features", value(K.cnf_gate_features(_, GateExtract.DefaultMaxOps)), "null"),
      ("kis_transform", value(K.kis_transform), "null"),
      ("bip_transform", value(K.bip_transform), "null"),
      ("cnf_gate_extract", K.cnf_gate_extract(_, GateExtract.DefaultMaxOps).getUTF8String(1).toString, "limit"),
      ("cnf_extract", { d =>
        val r = K.cnf_extract(d, CnfExtract.DefaultMaxBytes, CnfExtract.DefaultMaxOps, none)
        if (r.getBoolean(3)) "limit" else if (r.getBoolean(2)) "ok" else "parse_error"
      }, "limit"))
    val wcnf: Seq[(String, Array[Byte] => String, String)] = Seq(
      ("normalize_wcnf", value(K.normalize_wcnf), "value"),
      ("gbd_hash_wcnf", value(K.gbd_hash_wcnf), "value"),
      ("iso_hash_wcnf", value(K.iso_hash_wcnf), "null"),
      ("wcnf_features", value(K.wcnf_features), "null"))
    def wcnfDoc(id: String) = s"p wcnf 1 1 9\n1 $id 0"
    val table =
      Seq("2147483647", "100000000").flatMap(id => Seq((s"$id 0", cnf, true), (wcnfDoc(id), wcnf, true))) ++
        Seq("8388607", "200000").flatMap(id => Seq((s"$id 0", cnf, false), (wcnfDoc(id), wcnf, false)))
    for ((doc, kernels, past) <- table; (name, outcome, pastOutcome) <- kernels) {
      val want = if (past) pastOutcome else if (pastOutcome == "limit") "ok" else "value"
      assert(within(10)(outcome(b(doc))) == want, s"$name on ${doc.replace("\n", "\\n")}")
    }
    // the ids of the sanitized form fit its literal keys: no wrapped graph
    assert(K.bip_transform(b("8388607 0")).getUTF8String(0).toString ==
      "c directed bipartite graph representation from cnf\np edge 8388608 1\ne 8388608 8388607\n")
    assert(K.sanitize_cnf(b("200000 0")).toString == "p cnf 200000 1\n200000 0\n")
  }
}

/** DistStats exactness: hand-computed cases exercising the reference's fold
  * order and entropy quirks.
  */
class DistStatsSpec extends AnyFunSuite {
  test("empty distribution is all zeros") {
    assert(DistStats.ofDoubles(Array.empty[Double]) == DistStats.Zero)
  }

  test("mean/variance incremental fold over sorted values") {
    val s = DistStats.ofLongs(Array(3L, 1L, 2L))
    assert(fequal(s.mean, 2.0))
    assert(fequal(s.variance, 2.0 / 3.0))
    assert(s.min == 1.0 && s.max == 3.0)
  }

  test("integer entropy: uniform two-category = 1 after scaling") {
    val s = DistStats.ofLongs(Array(1L, 1L, 2L, 2L))
    assert(fequal(s.entropy, 1.0))
  }

  test("single category entropy is 0") {
    assert(DistStats.ofLongs(Array(5L, 5L, 5L)).entropy == 0.0)
  }

  test("double entropy replicates the trunc-key reset quirk") {
    // values in (0,1): trunc(v)=0 is never a key unless some v snaps to 0,
    // so every bucket resets to count 1 -> K distinct snaps, each count 1,
    // total n. With a 0.0 present (sorted first), increments happen.
    val vals = Array(0.5, 0.5, 0.25) // no zero: all counts forced to 1 -> K=2, total=3
    val s = DistStats.ofDoubles(vals)
    // summands: p=1/3 twice -> entropy = -2*(1/3)*log2(1/3), scaled by log2(2)=1
    val expected = 2.0 * (1.0 / 3.0) * (math.log(3.0) / math.log(2.0))
    assert(fequal(s.entropy, expected), s"got ${s.entropy} want $expected")

    val withZero = Array(0.0, 0.5, 0.5, 0.25)
    val s2 = DistStats.ofDoubles(withZero)
    // sorted: 0.0 inserts key 0 count 1; 0.25 -> trunc 0 present -> snap 250 := +1 (1);
    // 0.5 -> snap 500 := 1 then 2. counts {0:1, 250:1, 500:2}, total 4
    val p = Array(0.25, 0.25, 0.5)
    val ent = -p.map(x => x * math.log(x) / math.log(2.0)).sum / (math.log(3.0) / math.log(2.0))
    assert(fequal(s2.entropy, ent), s"got ${s2.entropy} want $ent")
  }
}
