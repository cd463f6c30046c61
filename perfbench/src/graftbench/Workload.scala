package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.pages.{Page, PageGen}
import graft.sources.PageTable

/** Command-line options of one benchmark JVM. `leg` is `main` for a normal
  * run and `scale1` for the one-core weak-scaling leg of `extract_heavy`,
  * which runs the same operation on a quarter of the corpus.
  */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, cores: Int, leg: String) {
  def quarter: Boolean = leg == "scale1"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("cores").toInt,
      kv.getOrElse("leg", "main"))
  }
}

/** A page row with a stable id: `PageGen.pageOf(cfg, id)` plus the id, so
  * workloads can name pages (near-copy sources, dedup ids).
  */
final case class PageRow(page_id: Long, url: String, warc_ts: java.sql.Timestamp,
                         html: Array[Byte], text: String, lang: String) {
  def toPage: Page = Page(url, warc_ts, html, text, lang)
}

object PageRow {
  def of(cfg: PageGen.Config, id: Long): PageRow = {
    val p = PageGen.pageOf(cfg, id)
    PageRow(id, p.url, p.warc_ts, p.html, p.text, p.lang)
  }
}

/** Everything a workload needs in one JVM: the session, the options and a
  * work directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val o: Opts, partitioned: Boolean) {
  def path(rel: String): String = Paths.get(o.work, rel).toString
  def corpus: String = path("corpus")

  /** Seeded corpus: `PageGen` rows (with their ids) plus any extra rows
    * the workload plants, written through `graft.sources.PageTable` in the
    * workload's layout: the partitioned `PageTable.write` layout, or one
    * `PageTable.writeSnapshot` version (hot urls with years of daily
    * revisits would otherwise make thousands of one-row partition files).
    */
  def writeCorpus(cfg: PageGen.Config, extra: Seq[PageRow] = Nil): Long = {
    import spark.implicits._
    val n = PageGen.totalRows(cfg)
    val gen: Dataset[PageRow] = spark.range(n).as[Long].map(id => PageRow.of(cfg, id))
    val all = (if (extra.isEmpty) gen else gen.union(spark.createDataset(extra))).toDF()
    rmrf("corpus")
    if (partitioned) PageTable.write(all, corpus)
    else PageTable.writeSnapshot(all, corpus, append = false)
    n + extra.size
  }

  def readCorpus(): DataFrame =
    if (partitioned) PageTable.read(spark, corpus) else PageTable.readSnapshot(spark, corpus)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rmrf(rel: String): Unit = Ctx.rmrf(Paths.get(path(rel)))

  def sizeMb(rel: String): Double = {
    val p = Paths.get(path(rel))
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / (1024.0 * 1024.0)
      finally s.close()
    }
  }

  /** Text of a seeded sample of corpus docs, for direct kernel calls. */
  def sampleTexts(n: Int): Array[String] = {
    import org.apache.spark.sql.functions._
    readCorpus().where(pmod(xxhash64(col("url"), col("warc_ts"), lit(o.seed)), lit(16)) === 0)
      .select(col("text")).limit(n).collect().map(_.getString(0))
  }
}

object Ctx {
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** One correctness check: its name, whether it held, and what was seen. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload: seeded inputs, one measured operation, the
  * checks of its output and the traced per-layer breakdown.
  */
trait Workload {
  def name: String

  /** Whether the corpus uses the partitioned PageTable layout. */
  def partitioned: Boolean = false

  /** Generate and write the inputs; returns the input rows of one op. */
  def prepare(c: Ctx): Long

  /** Housekeeping before an op, outside its timing. */
  def beforeOp(c: Ctx): Unit = ()

  /** The measured operation. With a tracer, every call into a graft
    * module sits in a span named `<module>.<function>`.
    */
  def op(c: Ctx, t: Option[Tracer]): Unit

  /** Check the output of the last op (or of one more). A traced run
    * passes its tracer, for checks of what it measures beside the op.
    */
  def check(c: Ctx, t: Option[Tracer]): Seq[Check]

  /** Traced per-layer metrics: prefix runs, funnel counts, outcomes. */
  def layers(c: Ctx, t: Tracer): Map[String, Double]

  protected def sp[T](t: Option[Tracer], name: String)(body: => T): T =
    t.fold(body)(_.span(name)(body))

  /** Run `body` `reps` times, each in a root span `name` after a GC, and
    * return the span of median duration.
    */
  protected def medianSpan(t: Tracer, name: String, reps: Int = 3)(body: => Unit): Span = {
    val ss = (1 to reps).map { _ =>
      System.gc()
      t.span(name)(body)
      t.spans.last
    }
    Tracer.median(ss)
  }
}

object Workload {
  val all: Seq[Workload] = Seq(ExtractHeavy, RevisitSkewed, NearDup, StreamChanges)
  def apply(name: String): Workload = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))

  /** True when `a` and `b` agree within rel 1e-5 (NaN only equals NaN). */
  def close(a: Double, b: Double): Boolean =
    if (a.isNaN || b.isNaN) a.isNaN && b.isNaN
    else math.abs(a - b) <= 1e-5 * math.max(math.abs(a), math.abs(b)) + 1e-12

  /** Rows of `a` missing from `b` plus rows of `b` missing from `a`. */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long = {
    val bb = b.select(a.columns.map(col): _*)
    a.exceptAll(bb).count() + bb.exceptAll(a).count()
  }
}
