package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

import graft.{Fixtures, GraftExtensions, SparkSpec}
import graft.core.{Compression, TextKernels}
import graft.pages.PageGen

/** Every kernel expression gives the same result through generated code and
  * through the interpreted path (`spark.sql.codegen.wholeStage=false` with
  * `spark.sql.codegen.factoryMode=NO_CODEGEN`), on null, untyped NULL,
  * empty, golden, hostile and PageGen inputs; and each result column keeps
  * the type and nullability pinned in [[KernelParitySpec.Types]].
  *
  * The input is a repartitioned frame, so `ConvertToLocalRelation` cannot
  * pre-evaluate a projection over it. The untyped-NULL column `n` is an
  * attribute, so the kernels see it at run time rather than folded.
  */
class KernelParitySpec extends SparkSpec {
  import KernelParitySpec._

  private def docs(kind: String, texts: Seq[String]): Seq[(String, String)] = texts.map(kind -> _)

  private lazy val golden = Seq("/gbdc/cnf_test.cnf.xz", "/gbdc/scrambled_simple/clique_notchanged.cnf")
    .map(Fixtures.resourceText)
  private lazy val pages = (1 to 4).flatMap { scale =>
    (0 until 3).map(u => PageGen.textOf(PageGen.Config(seed = scale.toLong, docScale = scale), u, u % 3))
  }
  /** HostileDocSpec's docs plus a WCNF doc whose id is past the variable
    * budget; every CNF, WCNF, PQBF and OPB doc kernel reads them.
    */
  private val hostile = Seq("2147483647 0", "100000000 0", "1 -2 0\n2 0\n",
    "p cnf 650 2\n2 -200 0\n640 -2 0\n", "200000 0", "p wcnf 1 1 9\n1 2147483647 0")
  private val robotsTxt = "User-agent: *\nDisallow: /private\nAllow: /private/ok\n# note\n" +
    "User-agent: graftbot\nDisallow: /*.pdf$\n"
  private val web = Seq("The quick brown fox jumps over the lazy dog. The dog sleeps!",
    "Ünïcödé façade — naïve café, ﬁné text\r\n\r\nsecond   line\u0007", robotsTxt)

  /** (kind, text, payload) rows; the payload is the text's bytes except for
    * the compressed and WARC blobs.
    */
  private lazy val rows: Seq[(String, String, Array[Byte])] = {
    val cnfDoc = golden.last.getBytes("UTF-8")
    val blobs = Seq(Compression.Xz, Compression.Gzip, Compression.Bzip2, Compression.Zstd)
      .map(c => ("blob", null, Compression.compress(cnfDoc, c))) :+
      (("blob", null, graft.sources.Warc.build(Seq(graft.sources.Warc.Record("response", "<urn:uuid:1>",
        "2024-01-01T00:00:00Z", "http://a.example/x", 5L, "hello".getBytes("UTF-8"))))))
    val texts = docs("cnf", golden ++ pages) ++ docs("hostile", hostile) ++
      docs("wcnf", Seq(Fixtures.resourceText("/gbdc/wcnf_test.wcnf.xz"))) ++
      docs("opb", Seq(Fixtures.resourceText("/gbdc/opb_test.opb.xz"))) ++
      docs("pqbf", Seq("p cnf 3 2\na 1 0\ne 2 3 0\n1 -2 0\n2 3 0\n")) ++
      docs("web", web) ++ Seq("empty" -> "", "null" -> null)
    texts.map { case (k, t) => (k, t, if (t == null) null else t.getBytes("UTF-8")) } ++ blobs
  }

  private val shingleSize = 3
  private def words(t: String): Seq[String] = if (t == null) Nil else t.split("\\s+").toSeq.filter(_.nonEmpty)
  private def sketchBytes(i: Int, t: String)(build: Seq[String] => Array[Byte]): Array[Byte] =
    i % 4 match { case 0 => null case 1 => Array.emptyByteArray case _ => build(words(t)) }

  private lazy val input: DataFrame = {
    val n = rows.length
    val texts = rows.map(_._2)
    val data = rows.zipWithIndex.map { case ((kind, text, payload), i) =>
      def sh(t: String) = if (t == null || i % 5 == 0) null else TextKernels.shingles(t, shingleSize).toSeq
      def sig(t: String) = if (t == null || i % 5 == 1) null else TextKernels.minHashSignature(t, 16, shingleSize).toSeq
      def vec(seed: Int) = if (i % 6 == 0) null else Seq.tabulate(8)(j => ((i * 31 + j * seed) % 17 - 8).toFloat)
      val hll = sketchBytes(i, text) { ws =>
        val regs = new Array[Byte](1 << 6)
        ws.foreach(w => HllSketch.add(regs, HllSketch.hash32(w.getBytes("UTF-8")), 6)); regs
      }
      val cms = sketchBytes(i, text) { ws =>
        val c = new Array[Long](16 * 3)
        ws.zipWithIndex.foreach { case (w, j) => c(j % c.length) += w.length.toLong }; CmsCodec.encode(16, 3, c)
      }
      val bloom = sketchBytes(i, text) { ws =>
        val b = new Array[Byte](32); ws.foreach(w => b(math.abs(w.hashCode) % 32) = 0x5a.toByte)
        BloomCodec.encode(256, 3, b)
      }
      val qs = sketchBytes(i, text) { ws =>
        val c = new Array[Long](QSketch.numBuckets(5))
        ws.foreach(w => c(QSketch.bucketOf(w.length.toLong * 37, 5)) += 1L); QSketch.encode(5, c)
      }
      Row(i.toLong, kind, text, payload, null, sh(text), sh(texts((i + 1) % n)),
        sig(text), sig(texts((i + 1) % n)), vec(3), vec(5),
        if (text == null) null else words(text).take(12) :+ null,
        hll, if (i % 4 == 1) null else cms, if (i % 4 == 1) null else bloom, qs,
        if (i % 5 == 0) null else Integer.valueOf(i * 137 % 1000 + 1),
        if (i % 7 == 0) null else java.lang.Long.valueOf(i * 37L % 4096),
        java.lang.Long.valueOf(i * 91L % 4096),
        java.lang.Long.valueOf(i * 0x9e3779b97f4a7c15L),
        Seq("/", "/private/a", "/private/ok/b", "/x.pdf", null)(i % 5))
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("kind", StringType),
      StructField("text", StringType), StructField("bin", BinaryType), StructField("n", NullType),
      StructField("sh_a", ArrayType(LongType, containsNull = false)),
      StructField("sh_b", ArrayType(LongType, containsNull = false)),
      StructField("sig_a", ArrayType(LongType, containsNull = false)),
      StructField("sig_b", ArrayType(LongType, containsNull = false)),
      StructField("vec_a", ArrayType(FloatType, containsNull = false)),
      StructField("vec_b", ArrayType(FloatType, containsNull = false)),
      StructField("words", ArrayType(StringType)),
      StructField("hll", BinaryType), StructField("cms", BinaryType), StructField("bloom", BinaryType),
      StructField("qs", BinaryType), StructField("q", IntegerType),
      StructField("za", LongType), StructField("zb", LongType), StructField("key", LongType),
      StructField("path", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema).repartition(2)
  }

  private val cnfKinds = Seq("cnf", "empty", "null")
  private val anyText = Seq("cnf", "web", "empty", "null")
  private val cnfDocKinds = cnfKinds :+ "hostile"
  private val docKinds: Map[String, Seq[String]] = Map(
    "wcnf_features" -> Seq("wcnf", "hostile", "empty", "null"), "opb_features" -> Seq("opb", "hostile", "null"),
    "normalize_wcnf" -> Seq("wcnf", "hostile", "empty", "null"),
    "gbd_hash_wcnf" -> Seq("wcnf", "hostile", "empty", "null"),
    "iso_hash_wcnf" -> Seq("wcnf", "hostile", "empty", "null"),
    "normalize_opb" -> Seq("opb", "hostile", "empty", "null"), "gbd_hash_opb" -> Seq("opb", "hostile", "empty", "null"),
    "normalize_pqbf" -> Seq("pqbf", "hostile", "empty", "null"),
    "gbd_hash_pqbf" -> Seq("pqbf", "hostile", "empty", "null"),
    "warc_records" -> Seq("blob", "empty", "null")) ++
    Compression.codecs.filter(_ != Compression.None).map(c => s"decompress_$c" -> Seq("blob", "empty", "null"))

  private def sqlCall(name: String, args: String*): Column = expr(s"$name(${args.mkString(", ")})")

  /** (label, kinds, column) for every scalar SQL function of the registry. */
  private lazy val sqlCases: Seq[(String, Seq[String], Column)] = {
    val scalars = GraftExtensions.definitions.map(_._1).filterNot(isAggregate)
    scalars.flatMap { name =>
      val forms: Seq[(Seq[String], Seq[String])] = name match {
        case "normalize_webtext" | "token_count" | "token_count_bpe" | "text_quality" | "lang_id" |
             "simhash64" | "simhash64_md5" | "rolling_fingerprint" =>
          Seq(Seq("text") -> anyText, Seq("n") -> anyText)
        case "longest_repeat_len" =>
          Seq(Seq("text") -> anyText, Seq("text", "7") -> anyText, Seq("n") -> anyText)
        case "jaccard_sorted" => Seq(Seq("sh_a", "sh_b") -> anyText, Seq("n", "sh_b") -> anyText)
        case "minhash_estimate" => Seq(Seq("sig_a", "sig_b") -> anyText, Seq("n", "sig_b") -> anyText)
        case "lsh_bands" =>
          Seq(Seq("sig_a") -> anyText, Seq("sig_a", "4") -> anyText, Seq("sig_a", "3") -> anyText,
            Seq("n", "4") -> anyText)
        case "cosine_similarity" => Seq(Seq("vec_a", "vec_b") -> anyText, Seq("vec_a", "n") -> anyText)
        case "hll_estimate" => Seq(Seq("hll") -> anyText, Seq("n") -> anyText)
        case "qsketch_count" => Seq(Seq("qs") -> anyText, Seq("n") -> anyText)
        case "cms_query" => Seq(Seq("cms", "text") -> anyText, Seq("n", "n") -> anyText)
        case "bloom_contains" => Seq(Seq("bloom", "text") -> anyText, Seq("bloom", "n") -> anyText)
        case "qsketch_quantile" => Seq(Seq("qs", "q") -> anyText, Seq("qs", "n") -> anyText)
        case "zorder_key" => Seq(Seq("za", "zb") -> anyText, Seq("n", "zb") -> anyText)
        case doc =>
          val kinds = docKinds.getOrElse(doc, cnfDocKinds)
          Seq(Seq("text") -> kinds, Seq("bin") -> kinds, Seq("n") -> kinds)
      }
      forms.map { case (args, kinds) => (s"$name(${args.mkString(", ")})", kinds, sqlCall(name, args: _*)) }
    }
  }

  private val centroids = Array(Array.fill(8)(1f), Array.tabulate(8)(j => if (j % 2 == 0) 1f else -1f),
    Array.tabulate(8)(j => j.toFloat))
  private val merges = Seq(("t", "h"), ("th", "e"), ("o", "g"), ("d", "og"))
  private val ring = {
    val pos = Array(-4000000000000000000L, -5L, 77L, 6000000000000000000L)
    (pos, Array(2L, 0L, 1L, 2L))
  }

  /** Sorted node ids and their component labels; most `za` values are no node. */
  private val labels = (Array(0L, 37L, 74L, 111L, 4000L), Array(0L, 0L, 74L, 0L, -1L))

  /** The kernels reachable only through the Column API. */
  private lazy val columnCases: Seq[(String, Seq[String], Column)] = Seq(
    ("cnf_extract(text)", cnfKinds :+ "hostile", cnf_extract(col("text"))),
    ("cnf_extract(bin)", cnfKinds :+ "hostile", cnf_extract(col("bin"))),
    ("cnf_extract(n)", cnfKinds, cnf_extract(col("n"))),
    ("cnf_extract(text, 4096)", cnfKinds :+ "hostile", cnf_extract(col("text"), 4096)),
    ("cnf_extract(text, 4096, 64)", cnfKinds :+ "hostile", cnf_extract(col("text"), 4096, 64L)),
    ("cnf_extract(bin, auto)", Seq("blob", "cnf", "null"),
      cnf_extract(col("bin"), DocExtract.DefaultMaxBytes, DocExtract.DefaultMaxOps, Compression.Auto)),
    ("wcnf_extract(text)", docKinds("wcnf_features"), doc_extract(col("text"), DocFormat.Wcnf)),
    ("wcnf_extract(bin)", docKinds("wcnf_features"), doc_extract(col("bin"), DocFormat.Wcnf)),
    ("wcnf_extract(n)", docKinds("wcnf_features"), doc_extract(col("n"), DocFormat.Wcnf)),
    ("wcnf_extract(text, 4096, 64)", docKinds("wcnf_features"), doc_extract(col("text"), DocFormat.Wcnf, 4096, 64L)),
    ("wcnf_extract(bin, auto)", Seq("blob", "wcnf", "null"),
      doc_extract(col("bin"), DocFormat.Wcnf, codec = Compression.Auto)),
    ("opb_extract(text)", docKinds("opb_features"), doc_extract(col("text"), DocFormat.Opb)),
    ("opb_extract(bin)", docKinds("opb_features"), doc_extract(col("bin"), DocFormat.Opb)),
    ("opb_extract(n)", docKinds("opb_features"), doc_extract(col("n"), DocFormat.Opb)),
    ("opb_extract(text, 4096, 8)", docKinds("opb_features"), doc_extract(col("text"), DocFormat.Opb, 4096, 8L)),
    ("opb_extract(bin, auto)", Seq("blob", "opb", "null"),
      doc_extract(col("bin"), DocFormat.Opb, codec = Compression.Auto)),
    ("shingles(text, 3)", anyText, shingles(col("text"), 3)),
    ("shingles(n, 3)", anyText, shingles(col("n"), 3)),
    ("minhash_signature(text, 16, 3)", anyText, minhash_signature(col("text"), 16, 3)),
    ("minhash_signature_md5(text, 16, 3)", anyText, minhash_signature_md5(col("text"), 16, 3)),
    ("minhash_from_shingles(sh_a, 16)", anyText, minhash_from_shingles(col("sh_a"), 16)),
    ("minhash_from_shingles(n, 16)", anyText, minhash_from_shingles(col("n"), 16)),
    ("sorted_common_count(sh_a, sh_b)", anyText, sorted_common_count(col("sh_a"), col("sh_b"))),
    ("hyperplane_sig(vec_a, 16, 7)", anyText, hyperplane_sig(col("vec_a"), 16, 7L)),
    ("nearest_centroid(vec_a)", anyText, nearest_centroid(col("vec_a"), centroids)),
    ("nearest_centroids(vec_a, 2)", anyText, nearest_centroids(col("vec_a"), centroids, 2)),
    ("multi_pattern_count(text)", anyText, multi_pattern_count(col("text"), Seq("the", "e", "0\n"))),
    ("multi_pattern_count(text, cased)", anyText,
      multi_pattern_count(col("text"), Seq("The", "ï"), lowercase = false)),
    ("bpe_segment_words(words)", anyText, bpe_segment_words(col("words"), merges)),
    ("robots_rules(text)", Seq("web", "empty", "null"), robots_rules(col("text"), "graftbot")),
    ("robots_rules(bin)", Seq("web", "empty", "null"), robots_rules(col("bin"), "otherbot")),
    ("robots_decision(path, rules)", Seq("web", "empty", "null"),
      robots_decision(col("path"), robots_rules(col("text"), "graftbot"))),
    ("hilbert_key(za, zb, 12)", anyText, hilbert_key(col("za"), col("zb"), 12)),
    ("ring_successor_shard(key)", anyText, GraftShim.column(
      RingSuccessorShard(GraftShim.expression(col("key")), ring._1, ring._2))),
    ("component_label(za)", anyText, GraftShim.column(
      ComponentLabel(GraftShim.expression(col("za")), labels._1, labels._2))))

  private lazy val cases = sqlCases ++ columnCases

  private def run(c: Column, kinds: Seq[String], codegen: Boolean): Seq[String] =
    run(c, input.where(col("kind").isin(kinds: _*)), codegen)

  private def run(c: Column, frame: DataFrame, codegen: Boolean): Seq[String] = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    val old = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try frame.select(col("id"), c.as("r")).collect()
      .sortBy(_.getLong(0)).map(r => s"${r.getLong(0)}: ${render(r.get(1))}").toSeq
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("every registry scalar without its own inputs above is a doc kernel") {
    val builders = GraftExtensions.definitions.toMap
    val docNames = sqlCases.collect { case (label, _, _) if label.endsWith("(bin)") => label.stripSuffix("(bin)") }
    docNames.foreach { name =>
      assert(builders(name)(Seq(Literal(null))).isInstanceOf[DocKernelExpression], name)
    }
  }

  test("codegen output equals interpreted output for every kernel") {
    val mismatched = cases.flatMap { case (label, kinds, c) =>
      def attempt(codegen: Boolean) = scala.util.Try(run(c, kinds, codegen)).fold(
        e => Seq(s"failed: ${Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last}"), identity)
      val gen = attempt(codegen = true)
      val interp = attempt(codegen = false)
      assert(gen.nonEmpty, label)
      if (gen == interp && !gen.exists(_.startsWith("failed: "))) None
      else Some(s"$label:\n  codegen     ${gen.diff(interp).take(3)}\n  interpreted ${interp.diff(gen).take(3)}")
    }
    assert(mismatched.isEmpty, mismatched.mkString("\n"))
  }

  test("SQL f(NULL) resolves and agrees on both paths") {
    GraftExtensions.definitions.map(_._1).filterNot(isAggregate).foreach { name =>
      val arity = sqlCases.find(_._1.startsWith(name + "(")).get._1.count(_ == ',') + 1
      val q = s"SELECT $name(${Seq.fill(arity)("NULL").mkString(", ")}) AS r FROM range(2)"
      def runSql(codegen: Boolean) = {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        try spark.sql(q).collect().map(r => render(r.get(0))).toSeq
        finally spark.conf.unset("spark.sql.codegen.wholeStage")
      }
      assert(runSql(codegen = true) == runSql(codegen = false), q)
    }
  }

  test("zorder_key throws the same out-of-range error on both paths") {
    val bad = spark.range(2).select(col("id"), (col("id") - 1).as("a")).repartition(1)
    def message(codegen: Boolean): String = {
      val e = intercept[Exception](run(zorder_key(col("a"), col("a")), bad, codegen))
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last.getMessage
    }
    assert(message(codegen = true) == "zorder_key dimensions must be in [0, 2^31), got (-1, -1)")
    assert(message(codegen = false) == message(codegen = true))
  }

  test("result types and nullability are unchanged") {
    val got = cases.map { case (label, _, c) =>
      label -> typeSig(input.select(c.as("r")).schema("r"))
    }.toMap
    val diffs = got.keySet.union(Types.keySet).toSeq.sorted.filter(k => got.get(k) != Types.get(k))
      .map(k => s"$k: pinned ${Types.get(k)}, got ${got.get(k)}")
    assert(diffs.isEmpty, diffs.mkString("\n"))
  }
}

object KernelParitySpec {
  private def isAggregate(name: String): Boolean =
    Set("hll_sketch", "hll_merge", "cms_sketch", "cms_merge", "bloom_agg", "bloom_merge",
      "qsketch_agg", "qsketch_merge").contains(name)

  /** Comparable text of a collected value: doubles by their bits, bytes as hex. */
  def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** A type with its nullability: `!` marks a non-null field, array element
    * or result; runs of equal struct fields print once with a count.
    */
  def typeSig(f: StructField): String = sig(f.dataType) + (if (f.nullable) "" else "!")

  private def sig(t: DataType): String = t match {
    case ArrayType(e, containsNull) => s"array<${sig(e)}${if (containsNull) "" else "!"}>"
    case StructType(fields) =>
      val parts = fields.toSeq.map(f => sig(f.dataType) + (if (f.nullable) "" else "!"))
      val runs = parts.foldLeft(List.empty[(String, Int)]) {
        case ((p, k) :: rest, q) if p == q => (p, k + 1) :: rest
        case (acc, q) => (q, 1) :: acc
      }.reverse
      runs.map { case (p, k) => if (k == 1) p else s"$p*$k" }.mkString("struct<", ",", ">")
    case other => other.simpleString
  }

  /** Result types at the commit before kernels shared one expression shape,
    * plus the wcnf/opb extract kernels added since.
    */
  val Types: Map[String, String] = Map(
    "bip_transform(bin)" -> "struct<string!,bigint!*2>",
    "bip_transform(n)" -> "struct<string!,bigint!*2>",
    "bip_transform(text)" -> "struct<string!,bigint!*2>",
    "bloom_contains(bloom, n)" -> "boolean",
    "bloom_contains(bloom, text)" -> "boolean",
    "bpe_segment_words(words)" -> "array<array<string!>!>",
    "cms_query(cms, text)" -> "bigint",
    "cms_query(n, n)" -> "bigint",
    "cnf_clauses(bin)" -> "array<array<int!>!>",
    "cnf_clauses(n)" -> "array<array<int!>!>",
    "cnf_clauses(text)" -> "array<array<int!>!>",
    "cnf_extract(bin)" -> "struct<string,struct<double!*58>,boolean!*4>!",
    "cnf_extract(bin, auto)" -> "struct<string,struct<double!*58>,boolean!*4>!",
    "cnf_extract(n)" -> "struct<string,struct<double!*58>,boolean!*4>!",
    "cnf_extract(text)" -> "struct<string,struct<double!*58>,boolean!*4>!",
    "cnf_extract(text, 4096)" -> "struct<string,struct<double!*58>,boolean!*4>!",
    "cnf_extract(text, 4096, 64)" -> "struct<string,struct<double!*58>,boolean!*4>!",
    "cnf_features(bin)" -> "struct<double!*58>",
    "cnf_features(n)" -> "struct<double!*58>",
    "cnf_features(text)" -> "struct<double!*58>",
    "cnf_gate_extract(bin)" -> "struct<struct<double!*56>,string!>!",
    "cnf_gate_extract(n)" -> "struct<struct<double!*56>,string!>!",
    "cnf_gate_extract(text)" -> "struct<struct<double!*56>,string!>!",
    "cnf_gate_features(bin)" -> "struct<double!*56>",
    "cnf_gate_features(n)" -> "struct<double!*56>",
    "cnf_gate_features(text)" -> "struct<double!*56>",
    "cnf_sanicheck(bin)" -> "struct<double!*11>",
    "cnf_sanicheck(n)" -> "struct<double!*11>",
    "cnf_sanicheck(text)" -> "struct<double!*11>",
    "component_label(za)" -> "bigint",
    "cosine_similarity(vec_a, n)" -> "double",
    "cosine_similarity(vec_a, vec_b)" -> "double",
    "decompress_auto(bin)" -> "binary",
    "decompress_auto(n)" -> "binary",
    "decompress_auto(text)" -> "binary",
    "decompress_bzip2(bin)" -> "binary",
    "decompress_bzip2(n)" -> "binary",
    "decompress_bzip2(text)" -> "binary",
    "decompress_gzip(bin)" -> "binary",
    "decompress_gzip(n)" -> "binary",
    "decompress_gzip(text)" -> "binary",
    "decompress_xz(bin)" -> "binary",
    "decompress_xz(n)" -> "binary",
    "decompress_xz(text)" -> "binary",
    "decompress_zstd(bin)" -> "binary",
    "decompress_zstd(n)" -> "binary",
    "decompress_zstd(text)" -> "binary",
    "gbd_hash(bin)" -> "string",
    "gbd_hash(n)" -> "string",
    "gbd_hash(text)" -> "string",
    "gbd_hash_opb(bin)" -> "string",
    "gbd_hash_opb(n)" -> "string",
    "gbd_hash_opb(text)" -> "string",
    "gbd_hash_pqbf(bin)" -> "string",
    "gbd_hash_pqbf(n)" -> "string",
    "gbd_hash_pqbf(text)" -> "string",
    "gbd_hash_wcnf(bin)" -> "string",
    "gbd_hash_wcnf(n)" -> "string",
    "gbd_hash_wcnf(text)" -> "string",
    "hilbert_key(za, zb, 12)" -> "bigint",
    "hll_estimate(hll)" -> "bigint",
    "hll_estimate(n)" -> "bigint",
    "hyperplane_sig(vec_a, 16, 7)" -> "bigint",
    "iso_hash(bin)" -> "string",
    "iso_hash(n)" -> "string",
    "iso_hash(text)" -> "string",
    "iso_hash2(bin)" -> "string",
    "iso_hash2(n)" -> "string",
    "iso_hash2(text)" -> "string",
    "iso_hash_wcnf(bin)" -> "string",
    "iso_hash_wcnf(n)" -> "string",
    "iso_hash_wcnf(text)" -> "string",
    "jaccard_sorted(n, sh_b)" -> "double",
    "jaccard_sorted(sh_a, sh_b)" -> "double",
    "kis_transform(bin)" -> "struct<string!,bigint!*3>",
    "kis_transform(n)" -> "struct<string!,bigint!*3>",
    "kis_transform(text)" -> "struct<string!,bigint!*3>",
    "lang_id(n)" -> "struct<string!,double!>",
    "lang_id(text)" -> "struct<string!,double!>",
    "longest_repeat_len(n)" -> "bigint",
    "lsh_bands(n, 4)" -> "array<bigint!>!",
    "lsh_bands(sig_a)" -> "array<bigint!>!",
    "lsh_bands(sig_a, 3)" -> "array<bigint!>!",
    "lsh_bands(sig_a, 4)" -> "array<bigint!>!",
    "longest_repeat_len(text)" -> "bigint",
    "longest_repeat_len(text, 7)" -> "bigint",
    "minhash_estimate(n, sig_b)" -> "double",
    "minhash_estimate(sig_a, sig_b)" -> "double",
    "minhash_from_shingles(n, 16)" -> "array<bigint!>",
    "minhash_from_shingles(sh_a, 16)" -> "array<bigint!>",
    "minhash_signature(text, 16, 3)" -> "array<bigint!>",
    "minhash_signature_md5(text, 16, 3)" -> "array<bigint!>",
    "multi_pattern_count(text)" -> "array<bigint!>",
    "multi_pattern_count(text, cased)" -> "array<bigint!>",
    "nearest_centroid(vec_a)" -> "int",
    "nearest_centroids(vec_a, 2)" -> "array<int!>",
    "normalize_cnf(bin)" -> "string",
    "normalize_cnf(n)" -> "string",
    "normalize_cnf(text)" -> "string",
    "normalize_cnf_file(bin)" -> "string",
    "normalize_cnf_file(n)" -> "string",
    "normalize_cnf_file(text)" -> "string",
    "normalize_opb(bin)" -> "string",
    "normalize_opb(n)" -> "string",
    "normalize_opb(text)" -> "string",
    "normalize_pqbf(bin)" -> "string",
    "normalize_pqbf(n)" -> "string",
    "normalize_pqbf(text)" -> "string",
    "normalize_wcnf(bin)" -> "string",
    "normalize_wcnf(n)" -> "string",
    "normalize_wcnf(text)" -> "string",
    "normalize_webtext(n)" -> "string",
    "normalize_webtext(text)" -> "string",
    "opb_extract(bin)" -> "struct<string,struct<double!*17>,boolean!*4>!",
    "opb_extract(bin, auto)" -> "struct<string,struct<double!*17>,boolean!*4>!",
    "opb_extract(n)" -> "struct<string,struct<double!*17>,boolean!*4>!",
    "opb_extract(text)" -> "struct<string,struct<double!*17>,boolean!*4>!",
    "opb_extract(text, 4096, 8)" -> "struct<string,struct<double!*17>,boolean!*4>!",
    "opb_features(bin)" -> "struct<double!*17>",
    "opb_features(n)" -> "struct<double!*17>",
    "opb_features(text)" -> "struct<double!*17>",
    "qsketch_count(n)" -> "bigint!",
    "qsketch_count(qs)" -> "bigint!",
    "qsketch_quantile(qs, n)" -> "bigint",
    "qsketch_quantile(qs, q)" -> "bigint",
    "ring_successor_shard(key)" -> "bigint",
    "robots_decision(path, rules)" -> "struct<boolean!,string>",
    "robots_rules(bin)" -> "array<struct<string!,boolean!>!>",
    "robots_rules(text)" -> "array<struct<string!,boolean!>!>",
    "rolling_fingerprint(n)" -> "bigint",
    "rolling_fingerprint(text)" -> "bigint",
    "sanitize_cnf(bin)" -> "string",
    "sanitize_cnf(n)" -> "string",
    "sanitize_cnf(text)" -> "string",
    "shingles(n, 3)" -> "array<bigint!>",
    "shingles(text, 3)" -> "array<bigint!>",
    "simhash64(n)" -> "bigint",
    "simhash64(text)" -> "bigint",
    "simhash64_md5(n)" -> "bigint",
    "simhash64_md5(text)" -> "bigint",
    "sorted_common_count(sh_a, sh_b)" -> "bigint",
    "text_quality(n)" -> "struct<bigint!*2,double!*5,bigint!,double!*2>",
    "text_quality(text)" -> "struct<bigint!*2,double!*5,bigint!,double!*2>",
    "token_count(n)" -> "bigint",
    "token_count(text)" -> "bigint",
    "token_count_bpe(n)" -> "bigint",
    "token_count_bpe(text)" -> "bigint",
    "warc_records(bin)" -> "array<struct<string!*4,bigint!,binary!>!>",
    "warc_records(n)" -> "array<struct<string!*4,bigint!,binary!>!>",
    "warc_records(text)" -> "array<struct<string!*4,bigint!,binary!>!>",
    "wcnf_extract(bin)" -> "struct<string,struct<double!*73>,boolean!*4>!",
    "wcnf_extract(bin, auto)" -> "struct<string,struct<double!*73>,boolean!*4>!",
    "wcnf_extract(n)" -> "struct<string,struct<double!*73>,boolean!*4>!",
    "wcnf_extract(text)" -> "struct<string,struct<double!*73>,boolean!*4>!",
    "wcnf_extract(text, 4096, 64)" -> "struct<string,struct<double!*73>,boolean!*4>!",
    "wcnf_features(bin)" -> "struct<double!*73>",
    "wcnf_features(n)" -> "struct<double!*73>",
    "wcnf_features(text)" -> "struct<double!*73>",
    "zorder_key(n, zb)" -> "bigint",
    "zorder_key(za, zb)" -> "bigint")
}
