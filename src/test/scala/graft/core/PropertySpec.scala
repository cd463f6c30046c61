package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Metamorphic properties over randomly generated CNF documents
  * (SURVEY.md §5.3): exact-content hash is whitespace/comment-insensitive
  * but order-sensitive; iso hashes are isomorphism-invariant; normalization
  * and sanitization are idempotent.
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampling (no scalatest-scalacheck bridge offline). */
  private def forAll[A](g: Gen[A], n: Int = 120)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)).foreach(f)
    }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 120).foreach { i =>
      for {
        a <- g1.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
        b <- g2.apply(Gen.Parameters.default, org.scalacheck.rng.Seed((i + 7919).toLong))
      } f(a, b)
    }

  private val genClause: Gen[List[Int]] = for {
    len <- Gen.choose(1, 6)
    lits <- Gen.listOfN(len, for {
      v <- Gen.choose(1, 12)
      neg <- Gen.oneOf(true, false)
    } yield if (neg) -v else v)
  } yield lits

  private val genDoc: Gen[List[List[Int]]] = Gen.nonEmptyListOf(genClause).map(_.take(25))

  private def render(doc: List[List[Int]], comments: Boolean, extraWs: Boolean): String = {
    val sb = new StringBuilder
    if (comments) sb.append("c generated\n")
    val nVars = doc.flatten.map(math.abs).maxOption.getOrElse(0)
    sb.append(s"p cnf $nVars ${doc.size}\n")
    doc.zipWithIndex.foreach { case (cl, i) =>
      if (comments && i % 3 == 1) sb.append("c mid comment\n")
      sb.append(cl.mkString(if (extraWs) "  " else " "))
      sb.append(if (extraWs && i % 2 == 0) "  0\n" else " 0\n")
    }
    sb.toString
  }

  private def b(s: String) = s.getBytes("UTF-8")

  test("gbdhash is insensitive to comments and whitespace") {
    forAll(genDoc) { doc =>
      val plain = Dimacs.gbdHashCnf(b(render(doc, comments = false, extraWs = false)))
      val noisy = Dimacs.gbdHashCnf(b(render(doc, comments = true, extraWs = true)))
      assert(plain == noisy)
    }
  }

  test("gbdhash of the file-form normalization equals gbdhash of the original") {
    forAll(genDoc) { doc =>
      val original = render(doc, comments = true, extraWs = true)
      val normalized = Dimacs.normalizeCnfFile(b(original))
      assert(Dimacs.gbdHashCnf(b(original)) == Dimacs.gbdHashCnf(b(normalized)))
    }
  }

  test("file-form normalization is idempotent") {
    forAll(genDoc) { doc =>
      val once = Dimacs.normalizeCnfFile(b(render(doc, comments = true, extraWs = true)))
      assert(Dimacs.normalizeCnfFile(b(once)) == once)
    }
  }

  test("sanitize is idempotent") {
    forAll(genDoc) { doc =>
      val once = Dimacs.sanitizeCnfFile(b(render(doc, comments = false, extraWs = false)))
      assert(Dimacs.sanitizeCnfFile(b(once)) == once)
    }
  }

  test("isohash invariant under clause shuffle + polarity flip; isohash2 under shuffle") {
    forAll(genDoc, Gen.choose(0L, Long.MaxValue)) { (doc, seed) =>
      if (doc.size > 1) {
        val rnd = new scala.util.Random(seed)
        val shuffled = rnd.shuffle(doc)
        val flipVar = 1 + (seed % 12).toInt.abs
        val flipped = shuffled.map(_.map(l => if (math.abs(l) == flipVar) -l else l))
        val base = render(doc, comments = false, extraWs = false)
        val variant = render(flipped, comments = false, extraWs = false)
        // degree-sequence isohash: truly flip-invariant (polarity canonicalized)
        assert(Dimacs.isoHashCnf(b(base)) == Dimacs.isoHashCnf(b(variant)))
        // isohash2: clause order is fully commutative -> shuffle-invariant.
        // Arbitrary per-variable flips are NOT guaranteed by the reference
        // algorithm itself: its stabilization check counts ORIENTED states
        // (ISOHash2.h:158-180), so a flip can change the partition count and
        // the stopping round on adversarial small formulas. The reference's
        // own scramble corpus (replayed in IsoHash2Spec) is the flip
        // contract; here we assert the unconditional shuffle invariance.
        assert(IsoHash2.isoHash2(b(base)) ==
          IsoHash2.isoHash2(b(render(shuffled, comments = false, extraWs = false))))
      }
    }
  }

  test("feature invariants: histogram sums and bounds") {
    forAll(genDoc) { doc =>
      val f = CnfBase.featureNames.zip(CnfBase.extract(b(render(doc, comments = false, extraWs = false)))).toMap
      val histSum = (1 to 9).map(i => f(s"cls$i")).sum + f("cls10p")
      assert(histSum == f("clauses"))
      assert(f("variables") <= 12.0)
      assert(f("ccs") <= f("variables"))
      assert(f("horn") >= f("positive") && f("invhorn") >= f("negative"))
      for (p <- Seq("balancecls", "balancevars")) {
        assert(f(s"${p}_min") >= 0.0 && f(s"${p}_max") <= 1.0)
      }
    }
  }

  /** Every entry method of [[graft.functions.DocKernels]] with its budget
    * and codec arguments at their defaults.
    */
  private lazy val docKernels: Seq[(String, Array[Byte] => AnyRef)] = {
    import graft.functions.{CnfExtract, DocKernels}
    val args: Map[Class[_], AnyRef] = Map(
      classOf[Int] -> Int.box(CnfExtract.DefaultMaxBytes), classOf[Long] -> Long.box(CnfExtract.DefaultMaxOps),
      classOf[org.apache.spark.unsafe.types.UTF8String] ->
        org.apache.spark.unsafe.types.UTF8String.fromString(Compression.None))
    DocKernels.getClass.getMethods.toSeq
      .filter(m => !m.getName.contains("$") && m.getParameterTypes.headOption.contains(classOf[Array[Byte]]) &&
        m.getParameterTypes.tail.forall(args.contains))
      .sortBy(_.getName)
      .map(m => m.getName -> ((doc: Array[Byte]) =>
        try m.invoke(DocKernels, (doc +: m.getParameterTypes.tail.map(args).toSeq): _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }))
  }

  test("byte-mutated golden docs: every doc kernel returns a value, null or its status row") {
    val fixtures = Seq("/gbdc/cnf_test.cnf.xz", "/gbdc/wcnf_test.wcnf.xz", "/gbdc/opb_test.opb.xz")
      .map(graft.Fixtures.resourceBytes)
    assert(docKernels.map(_._1).contains("opb_features") && docKernels.size == 29, docKernels.map(_._1))
    val alphabet = b(" \n-+0123456789cphx~;>=<m:*")
    // up to 4 edits (overwrite, delete or insert a DIMACS/OPB byte), then
    // a cut at a random length
    val edit = for {
      op <- Gen.choose(0, 2)
      at <- Gen.choose(0.0, 1.0)
      byte <- Gen.oneOf(alphabet.toSeq)
    } yield (op, at, byte)
    val genMutant = for {
      doc <- Gen.oneOf(fixtures)
      edits <- Gen.listOfN(4, edit).flatMap(es => Gen.choose(1, 4).map(es.take))
      cut <- Gen.frequency(3 -> Gen.const(1.0), 1 -> Gen.choose(0.0, 1.0))
    } yield {
      val out = edits.foldLeft(doc.toVector) { case (d, (op, at, byte)) =>
        val i = (at * d.length).toInt.min(d.length - 1).max(0)
        op match {
          case 0 if d.nonEmpty => d.updated(i, byte)
          case 1 if d.nonEmpty => d.patch(i, Nil, 1)
          case _ => d.patch(i, Seq(byte), 0)
        }
      }
      out.take((cut * out.length).toInt).toArray
    }
    forAll(genMutant, 200) { doc =>
      docKernels.foreach { case (name, kernel) =>
        val r = try kernel(doc) catch {
          case e: Throwable => fail(s"$name threw $e on ${new String(doc.take(80), "UTF-8")}")
        }
        if (name == "cnf_extract" || name == "cnf_gate_extract") assert(r != null, name)
      }
    }
  }

  test("sanitized parse never contains duplicate literals or tautologies") {
    forAll(genDoc) { doc =>
      val parsed = IsoHash2.sanitizedParse(b(render(doc, comments = false, extraWs = false)))
      var c = 0
      while (c < parsed.nClauses) {
        val lits = (parsed.clauseStart(c) until parsed.clauseEnd(c)).map(parsed.lits(_))
        assert(lits.distinct.size == lits.size)
        assert(lits.map(_ >> 1).distinct.size == lits.size, "tautology survived sanitize")
        c += 1
      }
    }
  }
}
