package graft.runtime

import org.apache.spark.sql.functions.col

import graft.{Fixtures, SparkSpec}
import graft.core.Compression
import graft.functions._

/** The outcome channel of the feature stage is the same for every format:
  * each budget gives cnf, wcnf and opb docs the same status through
  * [[FeatureJob.extractStage]], `instance_id` and `features` are set exactly
  * on `ok` rows, and there they equal the format's `gbd_hash_*` and
  * `*_features`.
  */
class ExtractOutcomeSpec extends SparkSpec {
  import spark.implicits._

  /** A doc that parses (4 literals or terms at least), one that does not,
    * and one whose variable id is past the variable budget (OPB sizes no
    * variable-indexed array, so it has none).
    */
  private case class Docs(ok: String, malformed: String, pastVars: Option[String])

  private val formats = Seq(
    "cnf" -> Docs("p cnf 3 2\n1 -2 0\n2 3 0\n", "p cnf 2 1\n1 x 0\n", Some("100000000 0")),
    "wcnf" -> Docs("p wcnf 3 2 10\n10 1 -2 0\n3 2 3 0\n", "p wcnf 2 1 9\n3 1 x 0\n",
      Some("p wcnf 1 1 9\n1 100000000 0")),
    "opb" -> Docs("* #variable= 3 #constraint= 2\nmin: +1 x1 +2 x2 ;\n+1 x1 +1 x2 >= 1 ;\n+1 x2 +1 x3 >= 1 ;\n",
      "+1 x1 +1 x2\n", None))

  private def b(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** url -> (status, instance_id set, features set). */
  private def outcomes(format: String, docs: Seq[(String, Array[Byte])],
                       maxDocBytes: Int = DocExtract.DefaultMaxBytes,
                       maxDocOps: Long = DocExtract.DefaultMaxOps,
                       codec: String = Compression.None): Map[String, (String, Boolean, Boolean)] =
    FeatureJob.extractStage(docs.toDF("url", "text"), format, maxDocBytes, maxDocOps, codec)
      .select("url", "status", "instance_id", "features").collect()
      .map(r => r.getString(0) -> ((r.getString(1), !r.isNullAt(2), !r.isNullAt(3)))).toMap

  private def expect(statuses: (String, String)*): Map[String, (String, Boolean, Boolean)] =
    statuses.map { case (url, s) => url -> ((s, s == "ok", s == "ok")) }.toMap

  for ((format, d) <- formats) test(s"$format: every budget gives the documented status") {
    val comment = if (format == "opb") "* " else "c "
    val padded = comment + "x" * 200 + "\n" + d.ok
    val corrupt = Compression.compress(b(d.ok), Compression.Xz)
    corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 0x5a).toByte

    val plain = Seq("ok" -> b(d.ok), "malformed" -> b(d.malformed), "null" -> null) ++
      d.pastVars.map(v => "past_vars" -> b(v))
    assert(outcomes(format, plain) == expect(Seq("ok" -> "ok", "malformed" -> "parse_error",
      "null" -> "null_text") ++ d.pastVars.map(_ => "past_vars" -> "limit"): _*))
    assert(outcomes(format, Seq("ok" -> b(d.ok), "padded" -> b(padded)), maxDocBytes = 128) ==
      expect("ok" -> "ok", "padded" -> "limit"))
    assert(outcomes(format, Seq("ok" -> b(d.ok)), maxDocOps = 3) == expect("ok" -> "timeout"))
    assert(outcomes(format, Seq("plain" -> b(d.ok), "xz" -> Compression.compress(b(d.ok), Compression.Xz),
      "corrupt" -> corrupt), codec = Compression.Auto) ==
      expect("plain" -> "ok", "xz" -> "ok", "corrupt" -> "decode_error"))
  }

  test("ok rows equal gbd_hash_* and *_features on the golden fixtures") {
    val fixtures = Seq(
      ("cnf", "/gbdc/cnf_test.cnf.xz", gbd_hash _, cnf_features _),
      ("wcnf", "/gbdc/wcnf_test.wcnf.xz", gbd_hash_wcnf _, wcnf_features _),
      ("opb", "/gbdc/opb_test.opb.xz", gbd_hash_opb _, opb_features _))
    for ((format, path, hash, features) <- fixtures) {
      val r = FeatureJob.extractStage(Seq(("g", Fixtures.resourceText(path))).toDF("url", "text"), format)
        .select(col("status"), col("instance_id"), hash(col("text")), col("features"), features(col("text")))
        .head()
      assert(r.getString(0) == "ok" && r.getString(1) == r.getString(2), format)
      // raw double bits, so -0.0 and 0.0 differ
      assert(KernelParitySpec.render(r.get(3)) == KernelParitySpec.render(r.get(4)), format)
    }
  }
}
