package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.TextKernels
import graft.functions._

/** Test-scope oracle: the near-dup pipeline of `Dedup` as it stood before
  * the one-pass rewrite, kept verbatim but for access modifiers (a bucket
  * self-join that evaluates the signature on both sides, a boxed
  * union-find for small dup graphs that ignores `maxIters`, labels read
  * from a second scan of the input), and the MinHash lane loop and the
  * `transform`/`slice`/`xxhash64` banding as they stood before the band
  * kernel. `DedupIdentitySpec` compares the production operators against
  * it.
  */
object DedupOracle {

  /** The scalar MinHash loop: one mix and one compare per lane and shingle. */
  def minHashFromShingles(sh: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var k = 0
      while (k < numHashes) {
        val h = TextKernels.mix64(sh(i) ^ (0xd6e8feb86659fd93L * (k + 1)))
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }

  def bandedFromSigs(sigs: DataFrame, numBands: Int,
                             rowsPerBand: Int): DataFrame =
    sigs.select(col("_id"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)), b =>
          xxhash64(slice(col("_sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
          .as(Seq("_band", "_bucket")))
      .select(col("_band"), col("_bucket"), col("_id"))

  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col(idA).as("a"), col(idB).as("b"))
      .unionByName(pairs.select(col(idB).as("a"), col(idA).as("b")))
      .distinct()
      .persist()
    // SIZE-ADAPTIVE DISPATCH (the bpeTrain localization-probe pattern): the
    // dup GRAPH is pair-sized, not corpus-sized — after banding/verify it is
    // typically orders of magnitude smaller than the corpus. When it fits
    // the documented driver bound, a driver-local union-find computes the
    // identical min-label-per-component answer in one pass instead of
    // O(log diameter) join rounds; past the bound the distributed
    // pointer-jumping path below runs unchanged (the 100-TB shape). The
    // count() action doubles as the cache materialization the first
    // distributed round would have paid anyway, so the probe is free.
    // ClustersSpec pins local-vs-distributed equality on random graphs.
    val localMax = pairs.sparkSession.conf
      .getOption("spark.graft.cc.localEdgeThreshold").map(_.toLong)
      .getOrElse(4L << 20)
    val integralIds = edges.schema("a").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    // one aggregate both counts rows and proves no null endpoint (a null id
    // would not survive a long-getter; the distributed path handles it)
    val probe = edges.agg(count(lit(1)), count(col("a")), count(col("b"))).head()
    val (nEdges, nonNullOk) =
      (probe.getLong(0), probe.getLong(0) == probe.getLong(1) &&
        probe.getLong(0) == probe.getLong(2))
    if (integralIds && nonNullOk && nEdges <= localMax) {
      val idType = edges.schema("a").dataType
      val es = edges.select(col("a").cast("long"), col("b").cast("long"))
        .collect()
      edges.unpersist()
      // union-find with path compression; final label = min node id per root
      val parent = new java.util.HashMap[Long, Long](es.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { x = p; p = parent.getOrDefault(x, x) }
        var y = x0 // path compression
        while (y != x) { val n = parent.get(y); parent.put(y, x); y = n }
        x
      }
      var i = 0
      while (i < es.length) {
        val r = es(i)
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent.put(ra, rb)
        i = i + 1
      }
      val minOfRoot = new java.util.HashMap[Long, Long]()
      val nodes = new java.util.TreeSet[java.lang.Long]()
      i = 0
      while (i < es.length) {
        val a = es(i).getLong(0) // both directions present: a covers all nodes
        nodes.add(a)
        val r = find(a)
        val m = minOfRoot.getOrDefault(r, Long.MaxValue)
        if (a < m) minOfRoot.put(r, a)
        i = i + 1
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size)
      nodes.forEach(n => out += ((n.longValue(), minOfRoot.get(find(n.longValue())))))
      val spark = pairs.sparkSession
      import spark.implicits._
      return out.toSeq.toDF("id", "cluster_id")
        .select(col("id").cast(idType).as("id"),
          col("cluster_id").cast(idType).as("cluster_id"))
    }
    var labels = edges.select(col("a").as("id"))
      .distinct()
      .withColumn("cluster_id", col("id"))
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val neighborMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("id"))
        .agg(min(col("cluster_id")).as("_nmin"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("_old"),
          least(col("cluster_id"), coalesce(col("_nmin"), col("cluster_id"))).as("_c1"))
      // pointer jumping: look up the (previous round's) label OF my new
      // label — labels are node ids, so every _c1 has an entry in `labels`
      val next = stepped.join(
          labels.select(col("id").as("_pid"), col("cluster_id").as("_c2")),
          col("_c1") === col("_pid"), "left")
        .select(col("id"), col("_old"),
          least(col("_c1"), coalesce(col("_c2"), col("_c1"))).as("cluster_id"))
      // EAGER localCheckpoint every round: materializes AND cuts lineage
      // to an RDD leaf, so the next round's job (and AQE's per-stage
      // replanning) sees a flat plan — carrying cached-but-lineage-bearing
      // frames instead makes plan compilation grow with the round count
      // and dominate the operator (the bfsDepth/hitsInt pathology)
      val updated = next.localCheckpoint()
      // the convergence flag is a trivial scan of the materialized leaf
      val changedRow = updated
        .agg(sum(when(col("cluster_id") =!= col("_old"), 1L).otherwise(0L))).head()
      val changed = !changedRow.isNullAt(0) && changedRow.getLong(0) > 0
      labels = updated.select(col("id"), col("cluster_id"))
      converged = !changed
      iter += 1
    }
    edges.unpersist()
    labels
  }

  def nearDupDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 128, numBands: Int = 32,
                   shingleSize: Int = 5, jaccard: Double = 0.8,
                   keepByCol: Option[String] = None): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    // ONE tokenization/shingling pass over the corpus: the banding
    // signature is DERIVED from the shingle array (TextKernels factoring,
    // bit-identical to minhash_signature(text)), and the materialized
    // (id, shingles) projection feeds banding AND both sides of the exact
    // verify. The previous shape ran the signature kernel once and the
    // shingle kernel twice more (once per verify join side) over the text.
    val pre = Fanout.ensure(df).select(col(idCol).as("_sid"),
      shingles(col(textCol), shingleSize).as("_sh"))
      .localCheckpoint()
    nearDupDedupPre(df, pre, idCol, numHashes, numBands, jaccard, keepByCol)
  }

  def verifiedPairsPre(pre: DataFrame, numHashes: Int,
                       numBands: Int, jaccard: Double): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val banded = bandedFromSigs(
      pre.select(col("_sid").as("_id"),
        minhash_from_shingles(col("_sh"), numHashes).as("_sig")),
      numBands, rowsPerBand)
    val a = banded.select(col("_band"), col("_bucket"), col("_id").as("id_a"))
    val b = banded.select(col("_band"), col("_bucket"), col("_id").as("id_b"))
    val cands = a.join(b, Seq("_band", "_bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cands
      .join(pre.select(col("_sid").as("id_a"), col("_sh").as("_sa")), Seq("id_a"))
      .join(pre.select(col("_sid").as("id_b"), col("_sh").as("_sb")), Seq("id_b"))
      .where(size(col("_sa")) > 0 && size(col("_sb")) > 0 &&
        jaccard_sorted(col("_sa"), col("_sb")) >= jaccard)
      .select(col("id_a"), col("id_b"))
  }

  def nearDupDedupPre(df: DataFrame, pre: DataFrame,
                      idCol: String, numHashes: Int,
                      numBands: Int, jaccard: Double,
                      keepByCol: Option[String]): DataFrame = {
    val pairs = verifiedPairsPre(pre, numHashes, numBands, jaccard)
    val labels = clusters(pairs)
    val labeled = df.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val base = labeled.join(sizes, Seq("cluster_id"))
    keepByCol match {
      case None =>
        base.select(col(idCol), col("cluster_id"), col("cluster_size"),
          (col(idCol) === col("cluster_id")).as("kept"))
      case Some(sc) =>
        // argmax by (score desc, id asc) as aggregates, not a window: a
        // giant cluster must never become one task's sort partition
        val scored = base
          .join(df.select(col(idCol), col(sc).as("_keep_score")), Seq(idCol))
        val bestScore = scored.groupBy(col("cluster_id"))
          .agg(max(col("_keep_score")).as("_best_score"))
        // <=> so an all-NULL-score cluster still keeps its min id (max()
        // ignores nulls, and score desc orders nulls last)
        val winner = scored.join(bestScore, Seq("cluster_id"))
          .where(col("_keep_score") <=> col("_best_score"))
          .groupBy(col("cluster_id")).agg(min(col(idCol)).as("_keep_id"))
        scored.join(winner, Seq("cluster_id"))
          .select(col(idCol), col("cluster_id"), col("cluster_size"),
            (col(idCol) === col("_keep_id")).as("kept"))
    }
  }

  def nearDupIncremental(incoming: DataFrame, ledger: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 128, numBands: Int = 32,
                         shingleSize: Int = 5, jaccard: Double = 0.8): DataFrame = {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    val rowsPerBand = numHashes / numBands
    // ONE tokenization/shingling pass over the SHARD, materialized
    // (localCheckpoint, shard-sized (id, shingles)): banding signatures
    // derive from the shingle array (bit-identical TextKernels factoring),
    // and ledger verify + within-shard dedup read the same projection.
    // The previous shape re-ran the signature kernel from raw text three
    // times (shard banding, shard verify side, and again inside the
    // within-shard nearDupDedup) — the dominant cost of the operator
    // (round-5 verdict item 1). The corpus-sized ledger is NOT
    // materialized: its banding pass reduces it to slim signatures, and
    // its verify pass shingles only the candidate-bounded sliver (the
    // semi-join below).
    val preIn = Fanout.ensure(incoming).select(col(idCol).as("_sid"),
      shingles(col(textCol), shingleSize).as("_sh"))
      .localCheckpoint()
    def bandedPre(pre: DataFrame) = bandedFromSigs(
      pre.select(col("_sid").as("_id"),
        minhash_from_shingles(col("_sh"), numHashes).as("_sig")),
      numBands, rowsPerBand)
    val fanLedger = Fanout.ensure(ledger)
    val preLedBand = fanLedger.select(col(idCol).as("_sid"),
      shingles(col(textCol), shingleSize).as("_sh"))
    // candidate (shard, ledger) id pairs — shard-bounded; materialized
    // because BOTH the verify-side semi-join below and the verify join
    // itself consume it (one banding pass over the ledger, not two)
    val cands = bandedPre(preIn).withColumnRenamed("_id", "_in")
      .join(bandedPre(preLedBand).withColumnRenamed("_id", "_led"), Seq("_band", "_bucket"))
      .select(col("_in"), col("_led")).distinct()
      .localCheckpoint()
    // the exact verify needs ledger SHINGLES only for CANDIDATE ledger
    // docs (the join below is inner on _led): semi-join the ledger to the
    // candidate ids BEFORE the shingle kernel, so the second ledger pass
    // tokenizes a candidate-bounded sliver instead of the whole corpus —
    // the previous shape ran a second FULL-ledger shingling pass. The
    // ledger is still never materialized; the banding pass reduces it to
    // slim signatures, exactly as before.
    val preLedCand = fanLedger
      .join(cands.select(col("_led").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("_sid"), shingles(col(textCol), shingleSize).as("_sh"))
    // shard-bounded (one row per duplicated incoming id) and consumed by
    // THREE downstream subtrees (the output union, the survivor anti-join,
    // the pre-projection anti-join) — materialize once or every consumer
    // re-instantiates the whole ledger banding + verify pipeline
    val ledgerDups = cands
      .join(preIn.select(col("_sid").as("_in"), col("_sh").as("_sa")), Seq("_in"))
      .join(preLedCand.select(col("_sid").as("_led"), col("_sh").as("_sb")), Seq("_led"))
      .where(size(col("_sa")) > 0 && size(col("_sb")) > 0 &&
        jaccard_sorted(col("_sa"), col("_sb")) >= jaccard)
      .groupBy(col("_in")).agg(min(col("_led")).as("dup_of"))
      .localCheckpoint()
    val rest = incoming.join(ledgerDups.select(col("_in").as(idCol)),
      Seq(idCol), "left_anti")
    val preRest = preIn.join(ledgerDups.select(col("_in").as("_sid")),
      Seq("_sid"), "left_anti")
    val within = nearDupDedupPre(rest, preRest, idCol, numHashes, numBands,
      jaccard, keepByCol = None)
    ledgerDups
      .select(col("_in").as(idCol), lit("ledger_dup").as("status"), col("dup_of"))
      .unionByName(within.select(col(idCol),
        when(col("kept"), lit("kept")).otherwise(lit("shard_dup")).as("status"),
        when(col("kept"), lit(null)).otherwise(col("cluster_id")).as("dup_of")))
  }
}
