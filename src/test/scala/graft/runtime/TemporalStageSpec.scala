package graft.runtime

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pages.{Page, PageGen}

/** The two-Window temporal stage against [[TemporalStageOracle]], the
  * stage it replaced: the same columns in the same order, the same types
  * and the same rows, on PageGen corpora with hot urls, revisits exactly at
  * and one second past the session gap, null timestamps, payload kept and
  * dropped, and wcnf/opb docs (wcnf has no `clauses` feature). Plus the
  * plan: one Exchange and two Windows.
  */
class TemporalStageSpec extends SparkSpec {
  import spark.implicits._

  private def sameAsOracle(pages: DataFrame, cfg: FeatureJob.Config, what: String): Unit = {
    val got = FeatureJob.pipeline(pages, cfg)
    val exp = TemporalStageOracle.pipeline(pages, cfg)
    assert(got.schema == exp.schema, s"$what: schema\n${got.schema.treeString}\n${exp.schema.treeString}")
    assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty, s"$what: rows differ")
    assert(got.count() == pages.count(), what)
  }

  private def cfg(keepPayload: Boolean = false, format: String = "cnf",
                  gapSeconds: Long = 6 * 3600): FeatureJob.Config =
    FeatureJob.Config(outDir = "unused", keepPayload = keepPayload, format = format,
      sessionGapSeconds = gapSeconds)

  test("PageGen corpora with hot urls ≡ oracle, payload kept and dropped") {
    for (seed <- Seq(7L, 31L); keep <- Seq(false, true)) {
      val pages = PageGen.pages(spark, PageGen.Config(urls = 40, revisitsPerUrl = 5,
        hotUrls = 3, hotFactor = 8, seed = seed, docScale = 2)).toDF()
      sameAsOracle(pages, cfg(keepPayload = keep), s"seed $seed, keepPayload $keep")
    }
  }

  /** One url per case: revisits `gap` apart, `gap + 1` apart, mixed, and
    * rows with a null timestamp beside timed ones.
    */
  private def edgePages(gap: Long, docOf: Int => String): DataFrame = {
    def ts(s: java.lang.Long): Timestamp = if (s == null) null else new Timestamp(s * 1000L)
    val t0 = 1577836800L
    val rows: Seq[(String, java.lang.Long)] =
      (0 until 4).map(i => ("https://at.gap/" -> Long.box(t0 + i * gap))) ++
      (0 until 4).map(i => ("https://past.gap/" -> Long.box(t0 + i * (gap + 1)))) ++
      Seq(0L, gap, 2 * gap + 1, 2 * gap + 2, 4 * gap + 3).map(d => "https://mixed/" -> Long.box(t0 + d)) ++
      Seq[java.lang.Long](null, t0, null, t0 + gap + 1).map("https://nulls/" -> _) ++
      Seq("https://only.null/" -> (null: java.lang.Long))
    rows.zipWithIndex.map { case ((u, s), i) =>
      val text = docOf(i)
      Page(u, ts(s), text.getBytes("UTF-8"), text, "en")
    }.toDF()
  }

  private def cnfDoc(i: Int): String =
    s"p cnf ${3 + i % 5} ${1 + i % 3}\n" + (0 to i % 3).map(k => s"${1 + k} -${2 + k} 0").mkString("\n")

  private def wcnfDoc(i: Int): String =
    s"p wcnf ${3 + i % 4} ${2 + i % 3} 100\n" +
      (0 until 2 + i % 3).map(k => s"${if (k == 0) 100 else k} ${1 + k} -${2 + i % 2} 0").mkString("\n")

  private def opbDoc(i: Int): String = {
    val n = 3 + i % 4
    s"* #variable= $n #constraint= ${1 + i % 2}\nmin: +1 x1 +2 x2 ;\n" +
      (0 to i % 2).map(k => s"+1 x${1 + k} +1 x$n >= 1 ;").mkString("\n") + "\n"
  }

  test("revisits exactly gapSeconds and gapSeconds + 1 apart, null warc_ts ≡ oracle") {
    for (gap <- Seq(3600L, 7200L); keep <- Seq(false, true)) {
      val pages = edgePages(gap, cnfDoc)
      sameAsOracle(pages, cfg(keepPayload = keep, gapSeconds = gap), s"gap $gap, keepPayload $keep")
      // the edge cases are really there: a gap of exactly gapSeconds stays
      // in-session, one second more opens a new one
      val sessions = FeatureJob.pipeline(pages, cfg(gapSeconds = gap))
        .groupBy("url").agg(max("session_no")).as[(String, Long)].collect().toMap
      assert(sessions("https://at.gap/") == 0L && sessions("https://past.gap/") == 3L, sessions)
    }
  }

  test("wcnf and opb formats ≡ oracle; a lag feature absent from the schema is skipped") {
    for ((format, doc) <- Seq("wcnf" -> (wcnfDoc _), "opb" -> (opbDoc _)); keep <- Seq(false, true)) {
      val pages = edgePages(3600L, doc)
      sameAsOracle(pages, cfg(keepPayload = keep, format = format, gapSeconds = 3600L),
        s"$format, keepPayload $keep")
      val out = FeatureJob.pipeline(pages, cfg(format = format))
      assert(out.where(col("status") === "ok").count() > 0, s"$format docs must parse")
      assert(out.columns.contains("variables_delta") &&
        out.columns.contains("clauses_delta") == (format == "opb"), out.columns.toSeq)
    }
  }

  test("the temporal stage plans one Exchange and two Windows") {
    val pages = PageGen.pages(spark, PageGen.Config(urls = 20, revisitsPerUrl = 3,
      hotUrls = 1, hotFactor = 4)).toDF()
    val plan = FeatureJob.pipeline(pages, cfg()).queryExecution.executedPlan
    val nodes = plan.toString.split("\n").map(_.replaceAll("^[\\s:+\\-*()0-9]*", ""))
    assert(nodes.count(_.startsWith("Exchange")) == 1, s"one Exchange expected:\n$plan")
    assert(nodes.count(_.startsWith("Window ")) == 2, s"two Windows expected:\n$plan")
    assert(nodes.count(_.startsWith("Sort ")) == 1, s"one Sort expected:\n$plan")
    // the stage it replaced planned six
    val old = TemporalStageOracle.pipeline(pages, cfg()).queryExecution.executedPlan.toString
      .split("\n").map(_.replaceAll("^[\\s:+\\-*()0-9]*", ""))
    assert(old.count(_.startsWith("Window ")) == 6)
  }
}
