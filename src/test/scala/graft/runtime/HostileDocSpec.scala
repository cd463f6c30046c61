package graft.runtime

import graft.{Fixtures, SparkSpec}
import graft.pages.PageGen

/** Hostile CNF docs end in a documented status through the feature stage,
  * never in a task failure: a chain-shaped doc whose union-find path is as
  * long as the doc, and docs whose variable ids would size the
  * variable-indexed arrays past the byte budget.
  */
class HostileDocSpec extends SparkSpec {
  import spark.implicits._

  private def statuses(docs: Seq[(String, String)],
                       maxDocBytes: Int = graft.functions.CnfExtract.DefaultMaxBytes): Map[String, (String, Double)] =
    FeatureJob.extractStage(docs.toDF("url", "text"), "cnf", maxDocBytes)
      .select("url", "status", "features.ccs").collect()
      .map(r => r.getString(0) -> (r.getString(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap

  /** `k+1 k 0` for k = 99999..1, then `100000 0`, under its header:
    * 1,377,808 bytes.
    */
  private val chain: String = {
    val sb = new StringBuilder("p cnf 100000 100000\n")
    var k = 99999
    while (k >= 1) { sb.append(k + 1).append(' ').append(k).append(" 0\n"); k -= 1 }
    sb.append("100000 0\n").toString
  }

  test("chain-shaped doc: status ok, one component, no stack overflow") {
    assert(chain.length == 1377808)
    assert(statuses(Seq("chain" -> chain)) == Map("chain" -> ("ok", 1.0)))
  }

  test("variable ids past the byte budget: status limit, not a failed task") {
    val got = statuses(Seq("max" -> "2147483647 0", "big" -> "100000000 0", "fine" -> "1 -2 0\n2 0\n"))
    assert(got == Map("max" -> ("limit", -1.0), "big" -> ("limit", -1.0), "fine" -> ("ok", 1.0)))
    // a small byte budget still leaves room for sparse ids in a short doc
    val small = statuses(Seq("sparse" -> "p cnf 650 2\n2 -200 0\n640 -2 0\n", "big" -> "200000 0"), 4096)
    assert(small == Map("sparse" -> ("ok", 638.0), "big" -> ("limit", -1.0)))
  }

  private lazy val golden = Seq("/gbdc/cnf_test.cnf.xz", "/gbdc/scrambled_simple/clique_notchanged.cnf")
    .map(p => p -> new String(Fixtures.resourceBytes(p), "UTF-8"))

  test("golden and PageGen docs all stay ok") {
    val pages = (1 to 16).flatMap { scale =>
      val cfg = PageGen.Config(seed = scale.toLong, docScale = scale)
      (0 until 8).map(u => s"s$scale-u$u" -> PageGen.textOf(cfg, u, u % 3))
    }
    val bad = statuses(golden ++ pages).filter(_._2._1 != "ok")
    assert(bad.isEmpty, bad)
  }

  test("cnf_features alone: variable ids past the default budget give null, not a failed task") {
    import org.apache.spark.sql.functions.col
    val docs = Seq("max" -> "2147483647 0", "big" -> "100000000 0", "fine" -> "1 -2 0\n2 0\n") ++ golden
    val got = docs.toDF("url", "text")
      .select(col("url"), graft.functions.cnf_features(col("text")).as("f")).collect()
      .map(r => r.getString(0) -> Option(r.getStruct(1))).toMap
    assert(got("max").isEmpty && got("big").isEmpty)
    // every other doc gets exactly the kernel's feature vector
    (Seq("fine" -> "1 -2 0\n2 0\n") ++ golden).foreach { case (name, text) =>
      val want = graft.core.CnfBase.extract(text.getBytes("UTF-8"))
      val f = got(name).getOrElse(fail(s"$name: null features"))
      assert(want.indices.forall(i => java.lang.Double.doubleToRawLongBits(f.getDouble(i)) ==
        java.lang.Double.doubleToRawLongBits(want(i))), name)
    }
  }
}
