package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.GraftShim

/** Column-API facade over the graft Catalyst expressions. Import
  * `graft.functions._` next to `org.apache.spark.sql.functions._`.
  */
package object functions {

  @inline private def col1(f: Expression => Expression)(c: Column): Column =
    GraftShim.column(f(GraftShim.expression(c)))

  /** Byte-identical normalized text (hash form) — the contract column. */
  def normalize_cnf(c: Column): Column = col1(NormalizeText(_, DocFormat.Cnf, "hash"))(c)
  def normalize_wcnf(c: Column): Column = col1(NormalizeText(_, DocFormat.Wcnf, "hash"))(c)
  def normalize_opb(c: Column): Column = col1(NormalizeText(_, DocFormat.Opb, "hash"))(c)
  def normalize_pqbf(c: Column): Column = col1(NormalizeText(_, DocFormat.Pqbf, "hash"))(c)

  /** File-form normalization with regenerated header (cnf2cnf Normaliser). */
  def normalize_cnf_file(c: Column): Column = col1(NormalizeText(_, DocFormat.Cnf, "file"))(c)

  /** Sanitized file form (duplicate literals/tautologies removed). */
  def sanitize_cnf(c: Column): Column = col1(NormalizeText(_, DocFormat.Cnf, "sanitize"))(c)

  /** Exact-content instance id (md5 of normalized stream, streaming). */
  def gbd_hash(c: Column): Column = col1(GbdHash(_, DocFormat.Cnf))(c)
  def gbd_hash_wcnf(c: Column): Column = col1(GbdHash(_, DocFormat.Wcnf))(c)
  def gbd_hash_opb(c: Column): Column = col1(GbdHash(_, DocFormat.Opb))(c)
  def gbd_hash_pqbf(c: Column): Column = col1(GbdHash(_, DocFormat.Pqbf))(c)

  /** Isomorphism-invariant instance id (degree-sequence form). */
  def iso_hash(c: Column): Column = col1(IsoHash(_, DocFormat.Cnf))(c)
  def iso_hash_wcnf(c: Column): Column = col1(IsoHash(_, DocFormat.Wcnf))(c)

  /** Weisfeiler–Leman refinement hash (finer than iso_hash). */
  def iso_hash2(c: Column): Column = col1(IsoHash2Expr(_))(c)

  /** Full base-feature vector as a struct of doubles (one fused pass). */
  def cnf_features(c: Column): Column = col1(ExtractFeatures(_, DocFormat.Cnf))(c)

  /** Fused identity + features + parse/limit/timeout/decode status of a
    * cnf, wcnf or opb doc (FeatureJob hot path); maxBytes = memory budget,
    * maxOps = deterministic time budget, codec = payload compression.
    */
  def doc_extract(c: Column, format: String, maxBytes: Int = DocExtract.DefaultMaxBytes,
                  maxOps: Long = DocExtract.DefaultMaxOps,
                  codec: String = graft.core.Compression.None): Column =
    col1(DocExtract(_, format, maxBytes, maxOps, codec))(c)
  def cnf_extract(c: Column, maxBytes: Int = DocExtract.DefaultMaxBytes,
                  maxOps: Long = DocExtract.DefaultMaxOps,
                  codec: String = graft.core.Compression.None): Column =
    doc_extract(c, DocFormat.Cnf, maxBytes, maxOps, codec)
  def wcnf_features(c: Column): Column = col1(ExtractFeatures(_, DocFormat.Wcnf))(c)
  def opb_features(c: Column): Column = col1(ExtractFeatures(_, DocFormat.Opb))(c)

  /** Data-quality scan struct. */
  def cnf_sanicheck(c: Column): Column = col1(SaniCheckExpr(_))(c)

  /** Gate-structure features (pattern+mono recognition). */
  def cnf_gate_features(c: Column): Column = col1(GateFeaturesExpr(_))(c)

  /** Gate features with the structured outcome channel (ok | parse_error |
    * timeout | null_text); maxOps bounds the analyzer's super-linear work.
    */
  def cnf_gate_extract(c: Column): Column = col1(GateExtract(_))(c)
  def cnf_gate_extract(c: Column, maxOps: Long): Column = col1(GateExtract(_, maxOps))(c)

  /** Derived-instance transforms (struct with text + metadata). */
  def kis_transform(c: Column): Column = col1(KisTransform(_))(c)
  def bip_transform(c: Column): Column = col1(BipTransform(_))(c)

  /** Raw clause structure (array<array<int>>) for relational exploration. */
  def cnf_clauses(c: Column): Column = col1(ParseClauses(_))(c)

  /** BPE segmentation of a word array under a training-ordered merge list:
    * array<string> -> array<array<string>>; the merge-rank table rides in
    * the expression, per-word cost independent of the merge count.
    */
  def bpe_segment_words(c: Column, merges: Seq[(String, String)]): Column =
    col1(BpeSegmentWords(_, merges))(c)

  /** Aho-Corasick multi-pattern occurrence counts: string ->
    * array<bigint> (one count per pattern), O(|text|) per row regardless
    * of pattern count.
    */
  def multi_pattern_count(c: Column, patterns: Seq[String],
                          lowercase: Boolean = true): Column =
    col1(MultiPatternCount(_, patterns, lowercase))(c)

  /** WARC container ingestion: one file's bytes -> array of record structs. */
  def warc_records(c: Column): Column = col1(graft.sources.WarcRecordsExpr(_))(c)

  /** robots.txt (RFC 9309): raw text -> `agent`'s effective rule array. */
  def robots_rules(c: Column, agent: String): Column =
    col1(graft.ops.RobotsRulesExpr(_, agent))(c)

  /** RFC 9309 longest-pattern decision: (path, rules) -> struct(allowed, pattern). */
  def robots_decision(path: Column, rules: Column): Column =
    GraftShim.column(graft.ops.RobotsDecisionExpr(
      GraftShim.expression(path), GraftShim.expression(rules)))

  /** Compressed-payload ingestion (S1): decompress below the kernels. */
  def decompress_auto(c: Column): Column = col1(Decompress(_))(c)
  def decompress_xz(c: Column): Column = col1(Decompress(_, graft.core.Compression.Xz))(c)
  def decompress_gzip(c: Column): Column = col1(Decompress(_, graft.core.Compression.Gzip))(c)
  def decompress_bzip2(c: Column): Column = col1(Decompress(_, graft.core.Compression.Bzip2))(c)
  def decompress_zstd(c: Column): Column = col1(Decompress(_, graft.core.Compression.Zstd))(c)

  // ---- text analysis / similarity (training-data pipeline) ----

  def normalize_webtext(c: Column): Column = col1(NormalizeWebText(_))(c)
  def token_count(c: Column): Column = col1(TokenCount(_, "whitespace"))(c)
  def token_count_bpe(c: Column): Column = col1(TokenCount(_, "bpe"))(c)
  def text_quality(c: Column): Column = col1(TextQualityExpr(_))(c)
  def lang_id(c: Column): Column = col1(LangIdExpr(_))(c)
  def minhash_signature(c: Column, numHashes: Int = 128, shingleSize: Int = 5): Column =
    col1(MinHashSignature(_, numHashes, shingleSize))(c)
  def minhash_signature_md5(c: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    col1(MinHashSignatureMd5(_, numHashes, shingleSize))(c)
  def shingles(c: Column, n: Int = 5): Column = col1(ShinglesExpr(_, n))(c)
  def minhash_from_shingles(c: Column, numHashes: Int = 128): Column =
    col1(MinHashFromShingles(_, numHashes))(c)
  def lsh_bands(sig: Column, numBands: Int = 32): Column = col1(LshBands(_, numBands))(sig)
  def simhash64(c: Column): Column = col1(SimHash64(_))(c)
  def simhash64_md5(c: Column): Column = col1(SimHash64(_, "md5"))(c)
  def rolling_fingerprint(c: Column): Column = col1(RollingFingerprint(_))(c)
  def longest_repeat_len(c: Column, cap: Int = 512): Column =
    col1(LongestRepeatedSubstring(_, cap))(c)
  def jaccard_sorted(a: Column, b: Column): Column =
    GraftShim.column(JaccardSorted(GraftShim.expression(a), GraftShim.expression(b)))
  def sorted_common_count(a: Column, b: Column): Column =
    GraftShim.column(SortedCommonCount(GraftShim.expression(a), GraftShim.expression(b)))
  def minhash_estimate(a: Column, b: Column): Column =
    GraftShim.column(MinHashEstimate(GraftShim.expression(a), GraftShim.expression(b)))
  def cosine_similarity(a: Column, b: Column): Column =
    GraftShim.column(CosineSimilarity(GraftShim.expression(a), GraftShim.expression(b)))
  def hyperplane_sig(c: Column, bits: Int = 16, seed: Long = 42L): Column =
    col1(HyperplaneSig(_, bits, seed))(c)
  def nearest_centroid(c: Column, centroids: Array[Array[Float]]): Column =
    col1(NearestCentroid(_, centroids))(c)
  def nearest_centroids(c: Column, centroids: Array[Array[Float]], n: Int): Column =
    col1(NearestCentroids(_, centroids, n))(c)

  // ---- mergeable sketches (corpus-scale approximate analytics) ----

  private def buildAgg[S](c: Column, params: SketchParams[S]): Column =
    GraftShim.column(SketchBuild(GraftShim.expression(c), params).toAggregateExpression())
  private def mergeAgg[S](c: Column, format: SketchFormat[S]): Column =
    GraftShim.column(SketchMerge(GraftShim.expression(c), format).toAggregateExpression())

  /** HLL register aggregate over a string column (binary, 2^p bytes). */
  def hll_sketch(c: Column, p: Int = 12): Column = buildAgg(c, HllParams(p))

  /** Merge already-built sketches (rollup without rescanning data). */
  def hll_merge(c: Column): Column = mergeAgg(c, HllSketch)

  /** Exact-integer raw-HLL cardinality estimate of a sketch. */
  def hll_estimate(c: Column): Column = col1(HllEstimate(_))(c)

  /** Convenience: estimated COUNT(DISTINCT c) in one aggregate. */
  def hll_distinct(c: Column, p: Int = 12): Column = hll_estimate(hll_sketch(c, p))

  /** Count-min sketch aggregate (binary; merge = elementwise sum). */
  def cms_sketch(c: Column, width: Int, depth: Int): Column = buildAgg(c, CmsParams(width, depth))

  /** Frequency estimate of `v` in a CMS sketch (never underestimates). */
  def cms_query(sketch: Column, v: Column): Column =
    GraftShim.column(CmsQuery(GraftShim.expression(sketch), GraftShim.expression(v)))

  /** Merge stored CMS sketches (elementwise sum; shapes must agree). */
  def cms_merge(c: Column): Column = mergeAgg(c, CmsCodec)

  /** Bloom filter aggregate (binary; merge = bitwise OR). */
  def bloom_agg(c: Column, mBits: Int, k: Int): Column = buildAgg(c, BloomParams(mBits, k))

  /** Membership probe (zero false negatives, deterministic false positives). */
  def bloom_contains(bloom: Column, v: Column): Column =
    GraftShim.column(BloomContains(GraftShim.expression(bloom), GraftShim.expression(v)))

  /** Merge stored Bloom filters (bitwise OR; shapes must agree). */
  def bloom_merge(c: Column): Column = mergeAgg(c, BloomCodec)

  /** Log2-histogram quantile sketch aggregate over a non-negative integral
    * column (binary; merge = counter sum; <= 2^-s relative value error).
    */
  def qsketch_agg(c: Column, s: Int = 5): Column = buildAgg(c, QSketchParams(s))

  /** Merge stored quantile sketches (resolutions must agree). */
  def qsketch_merge(c: Column): Column = mergeAgg(c, QSketch)

  /** Quantile from a sketch; `qPermille` in [1,1000] (500 = median). */
  def qsketch_quantile(sketch: Column, qPermille: Column): Column =
    GraftShim.column(QSketchQuantile(GraftShim.expression(sketch),
      GraftShim.expression(qPermille)))

  /** Exact total value count folded into a sketch. */
  def qsketch_count(c: Column): Column = col1(QSketchCount(_))(c)

  /** Z-order (Morton) layout key of two dimensions in [0, 2^31). */
  def zorder_key(a: Column, b: Column): Column =
    GraftShim.column(ZOrderKey(GraftShim.expression(a), GraftShim.expression(b)))

  /** Hilbert-curve layout key at a fixed order (dims in [0, 2^order)). */
  def hilbert_key(a: Column, b: Column, order: Int): Column =
    GraftShim.column(HilbertKey(GraftShim.expression(a),
      GraftShim.expression(b), order))
}

/** SQL registration via SparkSessionExtensions — enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (works under
  * spark-submit unchanged) or call `GraftExtensions.register(spark)`.
  */
import graft.functions._

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.definitions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
}

object GraftExtensions {
  private def unary(name: String)(f: Expression => Expression): (String, Seq[Expression] => Expression) =
    name -> { args =>
      require(args.length == 1, s"$name expects exactly one argument")
      f(args.head)
    }

  /** The SQL merge aggregate of a sketch family, under its own name. */
  private def sketchMerge(format: SketchFormat[_]): (String, Seq[Expression] => Expression) =
    unary(format.mergeName)(SketchMerge(_, format).toAggregateExpression())

  private def intLit(name: String, e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, t)
        if v != null && (t == org.apache.spark.sql.types.IntegerType ||
          t == org.apache.spark.sql.types.LongType ||
          t == org.apache.spark.sql.types.ShortType ||
          t == org.apache.spark.sql.types.ByteType) =>
      v.toString.toInt
    case other => throw new IllegalArgumentException(
      s"$name expects an integer literal, got $other")
  }

  private[graft] val definitions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    unary("normalize_cnf")(NormalizeText(_, DocFormat.Cnf, "hash")),
    unary("normalize_wcnf")(NormalizeText(_, DocFormat.Wcnf, "hash")),
    unary("normalize_opb")(NormalizeText(_, DocFormat.Opb, "hash")),
    unary("normalize_pqbf")(NormalizeText(_, DocFormat.Pqbf, "hash")),
    unary("normalize_cnf_file")(NormalizeText(_, DocFormat.Cnf, "file")),
    unary("sanitize_cnf")(NormalizeText(_, DocFormat.Cnf, "sanitize")),
    unary("gbd_hash")(GbdHash(_, DocFormat.Cnf)),
    unary("gbd_hash_wcnf")(GbdHash(_, DocFormat.Wcnf)),
    unary("gbd_hash_opb")(GbdHash(_, DocFormat.Opb)),
    unary("gbd_hash_pqbf")(GbdHash(_, DocFormat.Pqbf)),
    unary("iso_hash")(IsoHash(_, DocFormat.Cnf)),
    unary("iso_hash_wcnf")(IsoHash(_, DocFormat.Wcnf)),
    unary("iso_hash2")(IsoHash2Expr(_)),
    unary("cnf_features")(ExtractFeatures(_, DocFormat.Cnf)),
    unary("wcnf_features")(ExtractFeatures(_, DocFormat.Wcnf)),
    unary("opb_features")(ExtractFeatures(_, DocFormat.Opb)),
    unary("cnf_sanicheck")(SaniCheckExpr(_)),
    unary("cnf_gate_features")(GateFeaturesExpr(_)),
    unary("cnf_gate_extract")(GateExtract(_)),
    unary("kis_transform")(KisTransform(_)),
    unary("bip_transform")(BipTransform(_)),
    unary("cnf_clauses")(ParseClauses(_)),
    unary("warc_records")(graft.sources.WarcRecordsExpr(_)),
    unary("decompress_auto")(Decompress(_)),
    unary("decompress_xz")(Decompress(_, graft.core.Compression.Xz)),
    unary("decompress_gzip")(Decompress(_, graft.core.Compression.Gzip)),
    unary("decompress_bzip2")(Decompress(_, graft.core.Compression.Bzip2)),
    unary("decompress_zstd")(Decompress(_, graft.core.Compression.Zstd)),
    unary("normalize_webtext")(NormalizeWebText(_)),
    unary("token_count")(TokenCount(_, "whitespace")),
    unary("token_count_bpe")(TokenCount(_, "bpe")),
    unary("text_quality")(TextQualityExpr(_)),
    unary("lang_id")(LangIdExpr(_)),
    unary("simhash64")(SimHash64(_)),
    unary("simhash64_md5")(SimHash64(_, "md5")),
    unary("rolling_fingerprint")(RollingFingerprint(_)),
    "longest_repeat_len" -> { args =>
      require(args.length == 1 || args.length == 2,
        "longest_repeat_len expects (text) or (text, cap)")
      val cap = if (args.length == 2) intLit("longest_repeat_len cap", args(1)) else 512
      LongestRepeatedSubstring(args(0), cap)
    },
    "jaccard_sorted" -> { args => require(args.length == 2); JaccardSorted(args(0), args(1)) },
    "minhash_estimate" -> { args => require(args.length == 2); MinHashEstimate(args(0), args(1)) },
    "lsh_bands" -> { args =>
      require(args.length == 1 || args.length == 2,
        "lsh_bands expects (signature) or (signature, numBands)")
      val bands = if (args.length == 2) intLit("lsh_bands numBands", args(1)) else 32
      LshBands(args(0), bands)
    },
    "cosine_similarity" -> { args => require(args.length == 2); CosineSimilarity(args(0), args(1)) },
    "hll_sketch" -> { args =>
      require(args.length == 1 || args.length == 2,
        "hll_sketch expects (value) or (value, precision)")
      val p = if (args.length == 2) intLit("hll_sketch precision", args(1)) else 12
      SketchBuild(args.head, HllParams(p)).toAggregateExpression()
    },
    sketchMerge(HllSketch),
    unary("hll_estimate")(HllEstimate(_)),
    "cms_sketch" -> { args =>
      require(args.length == 3, "cms_sketch expects (value, width, depth)")
      SketchBuild(args(0), CmsParams(intLit("cms_sketch width", args(1)),
        intLit("cms_sketch depth", args(2)))).toAggregateExpression()
    },
    "cms_query" -> { args => require(args.length == 2); CmsQuery(args(0), args(1)) },
    sketchMerge(CmsCodec),
    sketchMerge(BloomCodec),
    "bloom_agg" -> { args =>
      require(args.length == 3, "bloom_agg expects (value, mBits, k)")
      SketchBuild(args(0), BloomParams(intLit("bloom_agg mBits", args(1)),
        intLit("bloom_agg k", args(2)))).toAggregateExpression()
    },
    "bloom_contains" -> { args => require(args.length == 2); BloomContains(args(0), args(1)) },
    "qsketch_agg" -> { args =>
      require(args.length == 1 || args.length == 2,
        "qsketch_agg expects (value) or (value, subBucketBits)")
      val s = if (args.length == 2) intLit("qsketch_agg subBucketBits", args(1)) else 5
      SketchBuild(args.head, QSketchParams(s)).toAggregateExpression()
    },
    sketchMerge(QSketch),
    "qsketch_quantile" -> { args => require(args.length == 2); QSketchQuantile(args(0), args(1)) },
    unary("qsketch_count")(QSketchCount(_)),
    "zorder_key" -> { args => require(args.length == 2); ZOrderKey(args(0), args(1)) })

  /** Register into an already-running session (tests, notebooks). */
  def register(spark: SparkSession): Unit =
    definitions.foreach { case (name, builder) =>
      GraftShim.registerFunction(spark,
        FunctionIdentifier(name), new ExpressionInfo("graft", name), builder)
    }
}
