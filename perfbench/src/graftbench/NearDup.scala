package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TextKernels
import graft.functions.{gbd_hash, minhash_from_shingles, shingles}
import graft.graftbench.DedupShim
import graft.ops.{Dedup, Fanout}
import graft.pages.PageGen

/** The pages corpus plus seeded token-mutated near-copies of a tenth of
  * the pages, through `Dedup.nearDupDedup`. Shuffle joins and the
  * driver-local cluster dispatch dominate; no temporal or CNF-kernel work.
  */
object NearDup extends Workload {
  val name = "neardup"
  // nearDupDedup's defaults, which the traced pair stage passes on
  val NumHashes = 128
  val NumBands = 32
  val ShingleSize = 5
  val Jaccard = 0.8
  /** A planted copy stays at or above this shingle Jaccard to its source. */
  val PlantedJaccard = 0.85

  def config(o: Opts): PageGen.Config = PageGen.Config(
    urls = 400, revisitsPerUrl = 4, hotUrls = 0, hotFactor = 1, seed = o.seed, docScale = 2)

  private var rows = 0L
  /** (copy page_id, source page_id) of every planted near-copy. */
  private var planted: Seq[(Long, Long)] = Nil

  def prepare(c: Ctx): Long = {
    val cfg = config(c.o)
    val n = PageGen.totalRows(cfg)
    val copies = (0L until n).filter(id => new java.util.SplittableRandom(c.o.seed * 7919L + id).nextInt(10) == 0)
      .flatMap(id => nearCopy(cfg, id, c.o.seed)).zipWithIndex.map { case ((src, text), j) =>
        PageRow(n + j, s"${src.url}?copy=$j", src.warc_ts, PageGen.htmlOf(text), text, src.lang) -> src.page_id
      }
    planted = copies.map { case (row, src) => row.page_id -> src }
    rows = c.writeCorpus(cfg, copies.map(_._1))
    rows
  }

  /** A copy of page `id` with about one literal per 120 words renumbered,
    * or None when no such copy keeps the planted Jaccard (short docs).
    */
  private def nearCopy(cfg: PageGen.Config, id: Long, seed: Long): Option[(PageRow, String)] = {
    val src = PageRow.of(cfg, id)
    val rnd = new java.util.SplittableRandom(seed ^ (id * 0x9e3779b97f4a7c15L))
    val lines = src.text.split("\n", -1)
    val clauseLines = lines.indices.filter(i => lines(i).nonEmpty && !"cp".contains(lines(i).head))
    val nVars = lines.find(_.startsWith("p cnf")).map(_.split(" +")(2).toInt).getOrElse(1)
    val words = src.text.split("\\s+").length
    if (clauseLines.isEmpty || nVars < 2) return None
    val want = TextKernels.shingles(src.text, ShingleSize)
    (1 to 3).iterator.map { _ =>
      val out = lines.clone()
      (1 to math.max(1, words / 120)).foreach { _ =>
        val li = clauseLines(rnd.nextInt(clauseLines.size))
        val lits = "-?\\d+".r.findAllMatchIn(out(li)).toIndexedSeq.dropRight(1) // last is the 0
        if (lits.nonEmpty) {
          val m = lits(rnd.nextInt(lits.size))
          val v = m.matched.stripPrefix("-").toInt
          val nv = 1 + (v + rnd.nextInt(nVars - 1)) % nVars // any other variable
          out(li) = out(li).substring(0, m.start) + (if (m.matched.startsWith("-")) "-" else "") +
            nv + out(li).substring(m.end)
        }
      }
      out.mkString("\n")
    }.find { text =>
      val got = TextKernels.shingles(text, ShingleSize)
      val common = TextKernels.sortedCommonCount(want, got).toDouble
      text != src.text && common / (want.length + got.length - common) >= PlantedJaccard
    }.map(src -> _)
  }

  private def pages(c: Ctx): DataFrame = c.readCorpus().select("page_id", "text")

  /** The latest op's labels, materialized for the checks. */
  private var last: DataFrame = _

  override def beforeOp(c: Ctx): Unit = if (last != null) { last.unpersist(); last = null }

  def op(c: Ctx, t: Option[Tracer]): Unit = {
    val in = sp(t, "sources.read")(pages(c))
    last = sp(t, "ops.nearDupDedup")(Dedup.nearDupDedup(in, "page_id", "text")).localCheckpoint()
  }

  private var outcome: Map[String, Double] = Map.empty
  /** Streaming metrics of the traced run's streaming stage. */
  private var streaming: Map[String, Double] = Map.empty

  /** Checks the labels the last measured op left behind. A traced run then
    * also measures and checks the streaming layer beside the op
    * (`StreamChanges.beside`), so that a workload of BENCHMARK.json covers
    * `graft.streaming`.
    */
  def check(c: Ctx, t: Option[Tracer]): Seq[Check] = labelChecks(c) ++ t.toSeq.flatMap { tr =>
    val (cs, m) = StreamChanges.beside(c, tr)
    streaming = m
    cs
  }

  private def labelChecks(c: Ctx): Seq[Check] = {
    val spark = c.spark
    import spark.implicits._
    val out = last
    val perCluster = out.groupBy("cluster_id").agg(sum(col("kept").cast("long")).as("k"))
    val badClusters = perCluster.where(col("k") =!= 1).count()
    val kept = out.where(col("kept")).select("page_id")
    val sharedIds = kept.join(pages(c), "page_id")
      .select(gbd_hash(col("text")).as("iid")).where(col("iid").isNotNull)
      .groupBy("iid").count().where(col("count") > 1).count()
    val plants = planted.toDF("copy_id", "src_id")
    val label = out.select(col("page_id"), col("cluster_id"))
    val strayed = plants
      .join(label.toDF("copy_id", "copy_cluster"), "copy_id")
      .join(label.toDF("src_id", "src_cluster"), "src_id")
      .where(col("copy_cluster") =!= col("src_cluster")).count()
    val keptRows = kept.count()
    outcome = Map("kept" -> keptRows.toDouble, "rows" -> out.count().toDouble)
    Seq(
      Check("one_kept_row_per_cluster", badClusters == 0L, s"$badClusters clusters differ"),
      Check("kept_rows_have_distinct_instance_id", sharedIds == 0L,
        s"$sharedIds instance ids kept twice"),
      Check("planted_copies_join_source_cluster", planted.nonEmpty && strayed == 0L,
        s"${planted.size} planted, $strayed elsewhere"))
  }

  /** nearDupDedup's shingle projection, materialized as the library does. */
  private def shingled(in: DataFrame): DataFrame =
    Fanout.ensure(in).select(col("page_id").as("_sid"),
      shingles(col("text"), ShingleSize).as("_sh")).localCheckpoint()

  private def pairs(pre: DataFrame): DataFrame =
    DedupShim.verifiedPairs(pre, NumHashes, NumBands, Jaccard)

  /** Distinct pairs sharing a (band, bucket): the LSH candidates the
    * verify step filters. Only counted, with the library's banding.
    */
  private def candidateCount(pre: DataFrame): Long = {
    val rowsPerBand = NumHashes / NumBands
    val banded = pre.select(col("_sid").as("_id"),
        minhash_from_shingles(col("_sh"), NumHashes).as("_sig"))
      .select(col("_id"), posexplode(transform(sequence(lit(0), lit(NumBands - 1)), b =>
        xxhash64(slice(col("_sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
        .as(Seq("_band", "_bucket")))
    banded.select(col("_band"), col("_bucket"), col("_id").as("id_a"))
      .join(banded.select(col("_band"), col("_bucket"), col("_id").as("id_b")),
        Seq("_band", "_bucket"))
      .where(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count()
  }

  /** Prefixes of the op, each the median of 3: the read; read + shingling +
    * graft's pair stage; that plus `Dedup.clusters`. A layer's time is the
    * difference between consecutive prefixes, and the op's rest is the
    * labelling joins of `nearDupDedup`.
    */
  def layers(c: Ctx, t: Tracer): Map[String, Double] = {
    val readS = medianSpan(t, "sources.read")(c.noop(pages(c)))
    val pairsS = medianSpan(t, "ops.pairs")(c.noop(pairs(shingled(pages(c)))))
    val clustersS = medianSpan(t, "ops.clusters")(Dedup.clusters(pairs(shingled(pages(c)))).count())
    val opS = Tracer.median(t.named("bench.op"))
    val pre = shingled(pages(c))
    val (nCand, nVer) = (candidateCount(pre).toDouble, pairs(pre).count().toDouble)
    Map(
      "sources.read_s" -> readS.durS,
      "sources.scan_tasks" -> t.agg(readS).tasks.toDouble,
      "sources.bytes_read_mb" -> t.agg(readS).inputMb,
      "ops.pairs_s" -> (pairsS.durS - readS.durS),
      "ops.clusters_s" -> (clustersS.durS - pairsS.durS),
      "ops.dedup_s" -> (opS.durS - clustersS.durS),
      "ops.candidate_pairs" -> nCand,
      "ops.verified_pairs" -> nVer,
      "ops.verify_yield" -> nVer / math.max(1.0, nCand),
      "ops.kept_frac" -> outcome("kept") / math.max(1.0, outcome("rows"))) ++ streaming
  }
}
