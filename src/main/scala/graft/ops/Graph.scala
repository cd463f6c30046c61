package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over the edge list [[Curation.extractLinks]]
  * produces — the corpus-level quality/spam signals a web pipeline derives
  * from structure rather than content.
  *
  * PageRank here is EXACT-INTEGER: ranks live in fixed-point units of
  * 1/SCALE, every per-iteration update is bigint multiply / integer-div /
  * bigint sum — commutative and associative, so the result is independent
  * of partitioning, fold order, and engine (an external SQL oracle
  * reproduces it bit-for-bit by unrolling the same iterations). Classic
  * double-precision PageRank cannot make that promise: float summation
  * order drifts across engines and run-to-run at scale.
  */
object Graph {

  /** Fixed-point scale: ranks are integers in units of 1e-9. */
  val Scale: Long = 1000000000L

  /** Host of a URL: the authority between `://` and the first `/?#` —
    * the grouping key for site-level link analytics. Empty string when
    * the URL has no scheme://host prefix.
    */
  def hostOf(urlCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(urlCol, "://([^/?#]+)", 1)

  /** Host-level inlink features over a URL edge list (what
    * [[graft.ops.Curation.extractLinks]] / `extractAnchors` emit): for
    * each TARGET host, how often it is linked, from how many distinct
    * source hosts, and how much of that is external (source host differs
    * from target host) — the cheap authority/spam signals of web curation
    * (a host whose inlinks are all self-links is its own fan club).
    * Edges with an unresolvable target (null) are dropped; source URLs
    * without a host count as the empty-string host (still a distinct
    * source, still external).
    *
    * Output: (host, inlinks, src_hosts, external_inlinks).
    *
    * Scale shape: hosts are derived in the same narrow projection that
    * reads the edge, then ONE hash aggregate keyed by target host — the
    * slim (dst_host, src_host) pair stream is all that shuffles, and the
    * count/count-distinct/conditional-sum share the exchange. Hot hosts
    * (every corpus has a google.com) skew this key: at production scale
    * wrap the aggregate in [[Skew]]-style two-phase salting — the
    * count-distinct then needs the exact two-level form (salted distinct
    * pairs, then re-merge) — or cap per-source fan-out upstream.
    */
  def inlinkFeatures(edges: DataFrame, srcUrlCol: String, dstUrlCol: String): DataFrame =
    edges.where(col(dstUrlCol).isNotNull)
      .select(hostOf(col(dstUrlCol)).as("host"), hostOf(col(srcUrlCol)).as("_src_host"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("inlinks"),
        countDistinct(col("_src_host")).as("src_hosts"),
        sum(when(col("_src_host") =!= col("host"), 1L).otherwise(0L))
          .as("external_inlinks"))

  /** Deterministic damped PageRank over `iters` synchronous iterations:
    * [[personalizedPageRankInt]] with every node a seed.
    *
    * Input: an edge list (srcCol, dstCol); duplicate edges are collapsed
    * (the graph is simple). Nodes = src ∪ dst. Every node starts at
    * SCALE (1.0 fixed-point; PageRank is defined up to a constant factor,
    * so the un-normalized start avoids a SCALE div n remainder that an
    * oracle would have to replicate). Per iteration, with damping d =
    * dampNum/dampDen (default 85/100):
    *
    *   contrib(e) = rank(src) div outdeg(src)          — exact integer
    *   rank'(v)   = (SCALE * (dampDen - dampNum)) div dampDen
    *              + (dampNum * sum(contrib over in-edges)) div dampDen
    *
    * Dangling mass (nodes with no out-edges) is dropped, the standard
    * simplification. Overflow headroom: sum(contrib) <= n * SCALE, so
    * dampNum * sum stays within int64 for n < ~1e8 nodes per the default
    * scale; at web scale callers lower Scale accordingly.
    *
    * Scale shape: the rank table is NODE-sized (tiny next to the corpus);
    * each iteration is one join of edges->ranks on src (broadcastable if
    * ranks fit, else a hash join co-partitioned with the edge list) + one
    * shuffle aggregating contributions by dst. Lineage is truncated with
    * a localCheckpoint every iteration (same discipline as
    * [[Dedup.clusters]]).
    *
    * Returns (node, rank_int).
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int = 4, dampNum: Long = 85, dampDen: Long = 100): DataFrame =
    pageRankSchedule(edges, srcCol, dstCol, None, iters, dampNum, dampDen)

  /** Personalized PageRank — [[pageRankInt]] with the teleport mass
    * restricted to a SEED set (topic-/site-conditioned authority: "which
    * pages does the quality seed list endorse, transitively"). Identical
    * exact-integer schedule, except the restart term
    * `Scale·(1−d)` lands only on seed nodes — everything else receives
    * rank purely through in-links — and ranks start at `Scale` on seeds,
    * 0 elsewhere. Dangling mass is dropped, as in [[pageRankInt]] (the
    * documented trade for exact replayability). Same unrolled-CTE oracle
    * recipe; same localCheckpoint-per-iteration lineage discipline.
    *
    * Returns (node, rank_int). Scale shape identical to [[pageRankInt]]:
    * per iteration one edges→ranks join + one slim aggregate; the seed
    * set rides a broadcast semi-join column.
    */
  def personalizedPageRankInt(edges: DataFrame, srcCol: String,
                              dstCol: String, seeds: Seq[Long],
                              iters: Int = 4, dampNum: Long = 85,
                              dampDen: Long = 100): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed node")
    pageRankSchedule(edges, srcCol, dstCol, Some(seeds), iters, dampNum, dampDen)
  }

  /** The schedule of both PageRanks; `seeds = None` makes every node a seed. */
  private def pageRankSchedule(edges: DataFrame, srcCol: String, dstCol: String,
                               seeds: Option[Seq[Long]], iters: Int, dampNum: Long,
                               dampDen: Long): DataFrame = {
    require(iters >= 0 && dampNum >= 0 && dampNum <= dampDen && dampDen > 0)
    val (e, _, local) = LocalDispatch.materialize(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .distinct(), LocalDispatch.GraphKey)
    val baseTerm = Scale * (dampDen - dampNum) / dampDen // exact: driver-side longs
    // small graph: the same integer schedule on the driver ([[LocalDispatch]])
    if (local.nonEmpty) {
      val spark = edges.sparkSession
      import spark.implicits._
      val g = LocalGraph(local.get)
      val isSeed = seeds.fold(Array.fill(g.n)(true)) { s =>
        val a = new Array[Boolean](g.n)
        s.foreach { id => val i = g.indexOf(id); if (i >= 0) a(i) = true }
        a
      }
      val deg = new Array[Long](g.n)
      g.src.foreach(s => deg(s) += 1)
      var rank = Array.tabulate(g.n)(i => if (isSeed(i)) Scale else 0L)
      for (_ <- 0 until iters) {
        val in = new Array[Long](g.n)
        var j = 0
        while (j < g.src.length) { in(g.dst(j)) += rank(g.src(j)) / deg(g.src(j)); j += 1 }
        rank = Array.tabulate(g.n)(i => (if (isSeed(i)) baseTerm else 0L) + dampNum * in(i) / dampDen)
      }
      return g.ids.indices.map(i => (g.ids(i), rank(i))).toDF("node", "rank_int")
    }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .withColumn("_seed", seeds.fold(lit(true))(s => col("node").isin(s.map(Long.box): _*)))
      .persist()
    val outdeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    var ranks = nodes.withColumn("rank_int",
      when(col("_seed"), lit(Scale)).otherwise(lit(0L)))
    // eager localCheckpoint per iteration: materializes AND cuts lineage
    // to an RDD leaf in one job — without it AQE recompiles a plan that
    // grows every iteration (the bfsDepth/hitsInt pathology)
    for (_ <- 0 until iters) {
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("rank_int")), Seq("src"))
        .join(outdeg.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank_int div outdeg")).as("_in"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"), col("_seed"),
          (when(col("_seed"), lit(baseTerm)).otherwise(lit(0L)) +
            expr(s"(${dampNum}L * coalesce(_in, 0L)) div ${dampDen}L"))
            .as("rank_int"))
        .localCheckpoint()
    }
    nodes.unpersist()
    ranks.select(col("node"), col("rank_int"))
  }

  /** Deterministic EXACT-INTEGER HITS (hubs & authorities) — the companion
    * structure signal to [[pageRankInt]]: PageRank measures endorsement
    * flow, HITS separates pages that ARE good sources (authorities) from
    * pages that POINT at good sources (hubs) — link-directory spam scores
    * high hub / low authority, scraped link-farm targets the reverse.
    *
    * Classic HITS normalizes by an L2 norm (sqrt — not reproducible in
    * integer arithmetic). This variant rescales each side to a fixed-point
    * MAX of `scale` per iteration, which preserves the ranking and the
    * relative magnitudes (HITS scores are defined up to a constant factor
    * per side) while keeping every operation int64 multiply / integer-div
    * / sum — partition-, fold-order- and engine-independent, so an external
    * SQL oracle reproduces it bit-for-bit by unrolling the iterations.
    * Per iteration (auth first, from the PREVIOUS hubs, as in the classic
    * synchronous schedule):
    *
    *   auth'(v) = (scale * sum_{(u,v) in E} hub(u))  div max_w auth_raw(w)
    *   hub'(u)  = (scale * sum_{(u,v) in E} auth'(v)) div max_w hub_raw(w)
    *
    * Nodes with no in-edges (resp. out-edges) get authority (resp. hub) 0.
    * Overflow headroom: raw sums are <= maxInDegree * scale, and the
    * rescale multiply <= maxInDegree * scale^2 — int64-safe for
    * maxDegree * scale^2 < 9.2e18 (default scale 1e6 supports degree to
    * ~9e6; at web scale lower `scale` accordingly).
    *
    * Scale shape: per iteration, one edges->scores join + one slim
    * aggregate per side, plus a single-scalar max computed by a tiny agg
    * and attached via broadcast crossJoin (node-table-sized work; the
    * corpus never shuffles). Lineage is truncated via a localCheckpoint
    * of each side every iteration, same discipline as [[pageRankInt]].
    *
    * Returns (node, hub_int, auth_int).
    */
  def hitsInt(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && scale >= 1, "need iters >= 1, scale >= 1")
    val (e, _, local) = LocalDispatch.materialize(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .distinct(), LocalDispatch.GraphKey)
    // small graph: the same int64 rescale schedule on the driver ([[LocalDispatch]])
    if (local.nonEmpty) {
      val spark = edges.sparkSession
      import spark.implicits._
      val g = LocalGraph(local.get)
      // the max becomes `scale` (empty graph guard: 1)
      def rescaled(raw: Array[Long]): Array[Long] = {
        val m = raw.foldLeft(1L)(math.max)
        raw.map(r => scale * r / m)
      }
      var hub = Array.fill(g.n)(scale)
      var auth = new Array[Long](g.n)
      for (_ <- 0 until iters) {
        val rawAuth = new Array[Long](g.n)
        var j = 0
        while (j < g.src.length) { rawAuth(g.dst(j)) += hub(g.src(j)); j += 1 }
        auth = rescaled(rawAuth)
        val rawHub = new Array[Long](g.n)
        j = 0
        while (j < g.src.length) { rawHub(g.src(j)) += auth(g.dst(j)); j += 1 }
        hub = rescaled(rawHub)
      }
      return g.ids.indices.map(i => (g.ids(i), hub(i), auth(i))).toDF("node", "hub_int", "auth_int")
    }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    // rescale raw scores so the max becomes `scale` (empty graph guard: 1)
    def rescaled(raw: DataFrame, outCol: String): DataFrame = {
      val m = raw.agg(greatest(max(col("_s")), lit(1L)).as("_m"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(m))
        .select(col("node"),
          expr(s"(${scale}L * coalesce(_s, 0L)) div _m").as(outCol))
    }
    var hubs = nodes.withColumn("hub_int", lit(scale))
    var auths: DataFrame = null
    // each side becomes an RDD LEAF per iteration (eager localCheckpoint):
    // materialization + lineage cut in one job. Carrying cached-but-
    // lineage-bearing frames instead makes AQE recompile a plan that
    // grows with every iteration — measured as the dominant cost of the
    // whole operator (same pathology fixed in bfsDepth; 44s -> ~2s here).
    for (_ <- 0 until iters) {
      val rawAuth = e.join(hubs.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("hub_int")).as("_s"))
      auths = rescaled(rawAuth, "auth_int").localCheckpoint()
      val rawHub = e.join(auths.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("auth_int")).as("_s"))
      hubs = rescaled(rawHub, "hub_int").localCheckpoint()
    }
    val out = hubs.join(auths, Seq("node"))
      .select(col("node"), col("hub_int"), col("auth_int"))
    nodes.unpersist()
    out
  }

  /** Exact per-node triangle count + local clustering coefficient over the
    * UNDIRECTED simple graph induced by an edge list — the link-farm
    * detector PageRank misses: a farm's members densely interlink
    * (clustering coefficient near 1 at high degree), while organically
    * popular pages have sparse neighborhoods.
    *
    * Edges are canonicalized to (a, b) with a < b (direction and
    * duplicates collapse; self-loops drop). Triangles are enumerated once
    * each via the ordered wedge join (a < b < c):
    *
    *   (a,b) join (b,c) join (a,c)
    *
    * Output per node: (node, degree, triangles, clustering_coeff) with
    * clustering_coeff = 2*T / (d*(d-1)) — integer parts, one double
    * division, 0.0 for degree < 2. Every node of the graph appears.
    *
    * Scale shape: the wedge join shuffles edge-sized rows on single-node
    * keys; its output is wedge-count-sized, which the (a,c) probe
    * immediately filters back to triangle-count-sized. High-degree hubs
    * skew the wedge key (a d-degree node contributes d^2/2 wedges) — at
    * web scale cap degree upstream (a 10^6-degree page's neighborhood is
    * boilerplate, not signal) or let AQE skew-split the join; the ordered
    * (a < b < c) form already halves wedge count vs the naive direction.
    */
  def triangleStats(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val s = col(srcCol).cast("long")
    val d = col(dstCol).cast("long")
    // no persist: the canonical-edge distinct() is an identical subplan in
    // all five uses below, so Catalyst's ReuseExchange materializes its
    // shuffle once — a cache here would pin edge-sized data for the session
    val e = edges.where(s =!= d)
      .select(least(s, d).as("a"), greatest(s, d).as("b"))
      .distinct()
    val nodes = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .distinct()
    val deg = nodes.join(
        e.select(col("a").as("node"))
          .unionByName(e.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("degree")),
        Seq("node"))
    // ordered wedges a < b < c, closed by the (a, c) edge
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"), col("e2.b").as("tc"))
    val perNode = tri.select(col("ta").as("node"))
      .unionByName(tri.select(col("tb").as("node")))
      .unionByName(tri.select(col("tc").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") < 2, lit(0.0))
          .otherwise(coalesce(col("triangles"), lit(0L)).cast("double") * 2.0 /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .as("clustering_coeff"))
    out
  }

  /** Multi-source BFS hop distance from a seed set over the link graph —
    * "how many clicks from the seed hosts is this page?", the classic
    * crawl-depth / frontier-scheduling signal (seed-near pages are
    * higher-trust in most curation schemes).
    *
    * Frontier-expansion rounds: each round joins the CURRENT frontier
    * (only the nodes discovered last round — frontier-sized, never
    * graph-sized) against the edge table and anti-joins out everything
    * already visited. A node's first discovery round IS its shortest
    * distance, so no min-aggregate is ever needed. Rounds are bounded by
    * `maxDepth` and the loop early-exits on an empty frontier — the ONE
    * materializing count() per round doubles as the convergence check.
    *
    * Every round's layer is cut to an RDD leaf with an EAGER
    * localCheckpoint, and the visited set is a lazy union of those leaf
    * layers (disjoint slices of V). Both halves matter empirically: AQE
    * re-plans every stage of every per-round job, and if the loop carries
    * growing join/union lineage that replanning dominates the round (the
    * naive persist-per-round shape measured 4-10x slower on tiny graphs
    * for pure plan-compilation reasons — AQE off collapsed the gap).
    * With leaf layers each round's job sees a flat three-node plan no
    * matter how deep the BFS goes. The final frame is one more
    * localCheckpoint, so the layer RDDs can be released and the caller
    * holds a self-contained (node, depth) table.
    *
    * Scale shape: per round, one frontier-edges equi-join (frontier side
    * naturally small early and late; AQE picks broadcast when it fits) +
    * one |V|-bounded anti-join on payload-free (node, depth) rows. The
    * corpus never enters the loop. Returns (node, depth), reachable nodes
    * only — left-join it back to the page table for the feature column.
    */
  def bfsDepth(edges: DataFrame, srcCol: String, dstCol: String,
               seeds: DataFrame, seedCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be >= 0")
    val (e, _, local) = LocalDispatch.materialize(
      edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
        .distinct(), LocalDispatch.GraphKey)
    // the seed set is collected only when the graph is local
    val (seed, _, localSeeds) = LocalDispatch.materialize(
      seeds.select(col(seedCol).cast("long").as("node")).distinct(), LocalDispatch.GraphKey,
      eligible = local.nonEmpty)
    // small graph and seed set: the same layered BFS on the driver ([[LocalDispatch]])
    if (localSeeds.nonEmpty) {
      val spark = edges.sparkSession
      import spark.implicits._
      val g = LocalGraph(local.get, localSeeds.get.map(_.getLong(0)))
      val (start, adj) = g.outCsr
      val depth = Array.fill(g.n)(-1L)
      var front = localSeeds.get.map(r => g.indexOf(r.getLong(0)))
      front.foreach(i => depth(i) = 0L)
      var d = 0L
      while (d < maxDepth && front.nonEmpty) {
        d += 1
        val next = Array.newBuilder[Int]
        front.foreach { u =>
          var j = start(u)
          while (j < start(u + 1)) {
            if (depth(adj(j)) < 0) { depth(adj(j)) = d; next += adj(j) }
            j += 1
          }
        }
        front = next.result()
      }
      return g.ids.indices.filter(depth(_) >= 0).map(i => (g.ids(i), depth(i))).toDF("node", "depth")
    }
    var frontier = seed
    var visited = seed.withColumn("depth", lit(0L))
    var depth = 0L
    var done = depth >= maxDepth
    while (!done) {
      depth += 1
      val next = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
      val nf = next.localCheckpoint()
      if (nf.isEmpty) done = true
      else {
        visited = visited.unionByName(nf.withColumn("depth", lit(depth)))
        frontier = nf
        done = depth >= maxDepth
      }
    }
    visited.localCheckpoint()
  }

  /** Newman modularity Q of a node→community assignment over the
    * undirected simple graph:
    *
    *   Q = Σ_c [ in_c / m − (deg_c / 2m)² ]
    *
    * computed from exact integer aggregates (within-community edge
    * counts, community degree sums, m = undirected edge count) with a
    * fixed-order double chain — how good a partition (e.g.
    * `Dedup.clusters`' components, or a host grouping) actually is,
    * before anything downstream trusts it. One row: m_edges,
    * n_communities, modularity. Unassigned nodes form singleton
    * communities implicitly (they contribute only the degree term).
    *
    * Scale shape: mirrored-edge join against the node-bounded assignment
    * (twice), two combiner aggregates; no windows.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 assign: DataFrame, nodeCol: String,
                 communityCol: String): DataFrame = {
    val und = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).where(col("a") =!= col("b"))
    val simple = und
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct()
    val asg = assign.select(col(nodeCol).cast("long").as("node"),
      col(communityCol).cast("string").as("_c"))
    // default community = the node itself (singleton)
    val nodes = simple.select(col("a").as("node"))
      .union(simple.select(col("b"))).distinct()
      .join(asg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("_c"), concat(lit("_n"), col("node"))).as("_c"))
    val tagged = simple
      .join(nodes.select(col("node").as("a"), col("_c").as("_ca")), Seq("a"))
      .join(nodes.select(col("node").as("b"), col("_c").as("_cb")), Seq("b"))
    val m = tagged.agg(count(lit(1)).as("m_edges"),
      sum(when(col("_ca") === col("_cb"), 1L).otherwise(0L)).as("_inTotal"))
    // community degree sums from the mirrored edge list
    val mirrored = tagged.select(col("_ca").as("_c"))
      .unionByName(tagged.select(col("_cb").as("_c")))
    val degSum = mirrored.groupBy(col("_c")).agg(count(lit(1)).as("_dc"))
    val degTerm = degSum.agg(count(lit(1)).as("n_communities"),
      sum(col("_dc") * col("_dc")).as("_sumDc2"))
    m.crossJoin(degTerm)
      .select(col("m_edges"), col("n_communities"),
        when(col("m_edges") > 0,
          col("_inTotal").cast("double") / col("m_edges").cast("double") -
            col("_sumDc2").cast("double") /
              ((col("m_edges") * col("m_edges")).cast("double") * 4.0))
          .as("modularity"))
  }

  /** Reciprocity of the DIRECTED simple graph (self-loops and duplicate
    * edges dropped): the fraction of edges whose reverse also exists —
    * near 1 on mutual-link cliques (blogroll rings, link exchanges), near
    * 0 on genuine citation-style linking. One row: n_edges, n_reciprocal,
    * reciprocity (a single bigint/bigint double division).
    *
    * Scale shape: one distinct + one left-semi self-join on the reversed
    * pair — both equi-joins on (a, b); no windows, no cartesian.
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct()
    val recip = e.join(e.select(col("b").as("a"), col("a").as("b")),
      Seq("a", "b"), "left_semi")
    e.agg(count(lit(1)).as("n_edges")).crossJoin(
        recip.agg(count(lit(1)).as("n_reciprocal")))
      .withColumn("reciprocity",
        when(col("n_edges") > 0,
          col("n_reciprocal").cast("double") / col("n_edges").cast("double")))
  }

  /** Degree assortativity of the undirected simple graph: Pearson r over
    * the (deg(a), deg(b)) pairs of every MIRRORED edge (the standard
    * symmetrization). Positive r — hubs link hubs (social cores);
    * negative — hubs link leaves (hub-and-spoke link farms, nav trees).
    * One row: m_edges (undirected count), r.
    *
    * All sums accumulate in decimal(38,0) over exact integer degrees, so
    * the only float ops are the final fixed-order divisions/sqrts —
    * engine-reproducible. r is NULL when degree variance is zero on
    * either endpoint margin (regular graphs).
    *
    * Scale shape: degree table is node-bounded and joins back to the
    * edge list twice (broadcast at dim scale); one aggregate — no window,
    * no self-join beyond the two degree lookups.
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val und = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).where(col("a") =!= col("b"))
    val simple = und
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct()
    val mirrored = simple.unionByName(
      simple.select(col("b").as("a"), col("a").as("b")))
    val deg = mirrored.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
    val pairs = mirrored
      .join(deg.select(col("node").as("a"), col("deg").as("_dx")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("_dy")), Seq("b"))
      .select(col("_dx").cast(dec).as("x"), col("_dy").cast(dec).as("y"))
    val agg = pairs.agg(count(lit(1)).cast(dec).as("_m"),
      sum(col("x")).as("_sx"), sum(col("y")).as("_sy"),
      sum(col("x") * col("x")).as("_sxx"),
      sum(col("y") * col("y")).as("_syy"),
      sum(col("x") * col("y")).as("_sxy"))
    val num = (col("_m") * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val dx = (col("_m") * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val dy = (col("_m") * col("_syy") - col("_sy") * col("_sy")).cast("double")
    agg.select((col("_m").cast("long") / 2).cast("long").as("m_edges"),
      when(dx > 0 && dy > 0, num / (sqrt(dx) * sqrt(dy))).as("r"))
  }

  /** k-core of the UNDIRECTED simple graph under `edges` (direction and
    * duplicate/self edges dropped): iteratively peel every node whose
    * degree in the surviving subgraph is < k until fixpoint — the classic
    * link-farm / well-connectedness signal (spam rings and boilerplate
    * nav clusters live in high cores; genuine long-tail content in low
    * ones). Returns the surviving nodes with their WITHIN-CORE degree.
    *
    * Each peel round is deterministic (drop ALL underdegree nodes
    * simultaneously), so round i's subgraph is a pure function of the
    * input — an external engine unrolling the same peels reproduces the
    * result exactly; extra rounds after fixpoint are identity, so any
    * unroll depth >= the convergence round matches.
    *
    * Scale shape: rounds are edge-sized joins against the (node-bounded)
    * keep-list — one degree aggregate + two semi-joins each —
    * `localCheckpoint`ed per round to cut lineage; the convergence test
    * rides the checkpointed leaf (a cheap count, not a recompute).
    * Peeling needs at most |V| rounds; real web graphs converge in tens.
    * `maxRounds` caps the cost — stopping early yields the same rows an
    * equally-deep unroll produces (document the depth when comparing).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val und = edges.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b")).where(col("a") =!= col("b"))
    val simple = und
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")).distinct()
    var (cur, prevEdges, local) = LocalDispatch.materialize(
      simple.unionByName(simple.select(col("b").as("a"), col("a").as("b"))), LocalDispatch.GraphKey)
    // small graph: the same simultaneous peel on the driver ([[LocalDispatch]])
    if (local.nonEmpty) {
      val spark = edges.sparkSession
      import spark.implicits._
      val g = LocalGraph(local.get)
      def degrees(alive: Array[Int]): Array[Int] = {
        val deg = new Array[Int](g.n)
        alive.foreach(j => deg(g.src(j)) += 1)
        deg
      }
      var alive = g.src.indices.toArray
      var rd = 0
      var dn = alive.isEmpty
      while (!dn && rd < maxRounds) {
        rd += 1
        val deg = degrees(alive)
        val next = alive.filter(j => deg(g.src(j)) >= k && deg(g.dst(j)) >= k)
        dn = next.length == alive.length || next.isEmpty
        alive = next
      }
      val deg = degrees(alive)
      return g.ids.indices.filter(deg(_) > 0).map(i => (g.ids(i), deg(i).toLong))
        .toDF("node", "core_degree")
    }
    var round = 0
    var done = prevEdges == 0L
    while (!done && round < maxRounds) {
      round += 1
      val keep = cur.groupBy(col("a")).agg(count(lit(1)).as("_d"))
        .where(col("_d") >= k).select(col("a").as("node"))
      val next = cur
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
      val n = next.count()
      done = n == prevEdges || n == 0L
      prevEdges = n
      cur = next
    }
    cur.groupBy(col("a").as("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Single-source shortest DISTANCES (integer weights, multi-source) by
    * bounded Bellman–Ford relaxation — [[bfsDepth]]'s weighted sibling:
    * after round k every node holds the exact minimum path weight over
    * paths of ≤ k edges from any source, so with `maxRounds` at least
    * the shortest-path hop diameter the result IS the SSSP (the
    * documented cap contract; unreached-within-cap nodes are absent).
    * Early exit when a round changes nothing (one aggregate on the
    * already-computed join, the [[graft.ops.Dedup.clusters]] discipline).
    *
    * Scale shape: per round one edges⋈distances join + a min combiner;
    * localCheckpoint per round. Weights must be ≥ 0 (relaxation is
    * monotone; negative edges void the cap argument).
    *
    * Output: (node, dist) for nodes reachable within the cap. */
  def ssspInt(edges: DataFrame, srcCol: String, dstCol: String,
              wCol: String, sources: Seq[Long],
              maxRounds: Int = 16): DataFrame = {
    require(sources.nonEmpty, "need at least one source")
    require(maxRounds >= 1 && maxRounds <= 64, "need 1 <= maxRounds <= 64")
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, _, local) = LocalDispatch.materialize(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"), col(wCol).cast("long").as("w"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w")), LocalDispatch.GraphKey)
    // small graph: the same capped-round relaxation on the driver ([[LocalDispatch]])
    if (local.nonEmpty) {
      val g = LocalGraph(local.get, sources.toArray)
      val w = local.get.map(_.getLong(2))
      var dist = new Array[Long](g.n)
      var reached = new Array[Boolean](g.n)
      sources.foreach(s => reached(g.indexOf(s)) = true)
      var r = 0
      var stable = false
      while (r < maxRounds && !stable) {
        val nd = dist.clone()
        val nr = reached.clone()
        var j = 0
        while (j < g.src.length) {
          val s2 = g.src(j)
          val d2 = g.dst(j)
          if (reached(s2) && (!nr(d2) || dist(s2) + w(j) < nd(d2))) {
            nd(d2) = dist(s2) + w(j)
            nr(d2) = true
          }
          j += 1
        }
        stable = java.util.Arrays.equals(nd, dist) && java.util.Arrays.equals(nr, reached)
        dist = nd
        reached = nr
        r += 1
      }
      return g.ids.indices.filter(reached).map(i => (g.ids(i), dist(i))).toDF("node", "dist")
    }
    var dist = sources.distinct.toDF("node")
      .withColumn("dist", lit(0L)).localCheckpoint()
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val relaxed = e.join(dist.select(col("node").as("src"),
          col("dist").as("_d")), Seq("src"))
        .select(col("dst").as("node"), (col("_d") + col("w")).as("dist"))
        .unionByName(dist)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
      val changed = relaxed.join(dist.withColumnRenamed("dist", "_old"),
          Seq("node"), "left")
        .agg(sum(when(col("_old").isNull ||
          col("dist") =!= col("_old"), 1L).otherwise(0L))).head()
      done = changed.isNullAt(0) || changed.getLong(0) == 0L
      dist = relaxed
      rounds += 1
    }
    dist
  }

  /** Minimum spanning forest by BORŮVKA's algorithm — the log-round
    * distributed MST (each round every component grabs its lightest
    * outgoing edge, components merge, count at least halves, so depth-
    * 1M graphs finish in ≤20 rounds of label-sized joins — the shape a
    * sequential Kruskal/Prim union-find can never distribute): site-link
    * backbones, dedup-similarity skeletons, cheapest-connection layouts.
    *
    * Contract: edge weights must be DISTINCT (the classic unique-MST
    * condition — pre-perturb ties with the edge id); parallel edges keep
    * the lightest; self-loops drop. Per round: two label joins stamp
    * components, a min-of-struct per component picks edges (ties
    * impossible by contract), [[graft.ops.Dedup.clusters]] contracts the
    * chosen component graph, labels update by one join. Every
    * intermediate is localCheckpoint-ed (the iterative-op lineage
    * discipline).
    *
    * Output: the forest's edges (u, v, w) with u < v. An external engine
    * verifies via the CUT property: (u,v,w) is in the unique MST iff w
    * equals the MINIMAX (bottleneck) path weight between u and v.
    */
  def boruvkaMst(edges: DataFrame, srcCol: String, dstCol: String,
                 wCol: String, maxRounds: Int = 16): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 32, "need 1 <= maxRounds <= 32")
    val (e0, _, local) = LocalDispatch.materialize(edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("u"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("v"),
        col(wCol).cast("long").as("w"))
      .where(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w")), LocalDispatch.GraphKey)
    // small graph: the same (w, u, v)-ordered rounds on the driver ([[LocalDispatch]])
    if (local.nonEmpty) {
      val spark = edges.sparkSession
      import spark.implicits._
      val g = LocalGraph(local.get)
      val w = local.get.map(_.getLong(2))
      // (w, u, v) order; node indexes sort like the ids
      def lighter(x: Int, y: Int): Boolean =
        if (w(x) != w(y)) w(x) < w(y)
        else if (g.src(x) != g.src(y)) g.src(x) < g.src(y)
        else g.dst(x) < g.dst(y)
      // component labels are node indexes; a union hangs the larger root
      // under the smaller, so a root is the minimum label of its tree
      val comp = Array.tabulate(g.n)(identity)
      val parent = Array.tabulate(g.n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
        r
      }
      val inMst = new Array[Boolean](g.src.length)
      var r = 0
      var stop = false
      while (r < maxRounds && !stop) {
        // lightest outgoing edge per component
        val best = Array.fill(g.n)(-1)
        var j = 0
        while (j < g.src.length) {
          val cu = comp(g.src(j))
          val cv = comp(g.dst(j))
          if (cu != cv) {
            if (best(cu) < 0 || lighter(j, best(cu))) best(cu) = j
            if (best(cv) < 0 || lighter(j, best(cv))) best(cv) = j
          }
          j += 1
        }
        val chosen = best.filter(_ >= 0).distinct
        if (chosen.isEmpty) stop = true
        else {
          // contract: each component of the chosen edges takes its minimum label
          chosen.foreach { j =>
            inMst(j) = true
            val ra = find(comp(g.src(j)))
            val rb = find(comp(g.dst(j)))
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          comp.indices.foreach(i => comp(i) = find(comp(i)))
          r += 1
        }
      }
      return inMst.indices.filter(inMst)
        .map(j => (g.ids(g.src(j)), g.ids(g.dst(j)), w(j))).toDF("u", "v", "w")
    }
    val nodes = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node"))).distinct()
      .localCheckpoint()
    var comp = nodes.withColumn("comp", col("node")).localCheckpoint()
    var mst = e0.where(lit(false)).localCheckpoint()
    var rounds = 0
    var done = false
    while (rounds < maxRounds && !done) {
      val stamped = e0
        .join(comp.select(col("node").as("u"), col("comp").as("cu")),
          Seq("u"))
        .join(comp.select(col("node").as("v"), col("comp").as("cv")),
          Seq("v"))
        .where(col("cu") =!= col("cv"))
      val inc = stamped.select(col("cu").as("c"),
          struct(col("w"), col("u"), col("v")).as("e"))
        .unionByName(stamped.select(col("cv").as("c"),
          struct(col("w"), col("u"), col("v")).as("e")))
      val chosen = inc.groupBy(col("c")).agg(min(col("e")).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))
        .distinct()
        .localCheckpoint()
      if (chosen.isEmpty) done = true
      else {
        mst = mst.unionByName(chosen).localCheckpoint()
        val compEdges = chosen
          .join(comp.select(col("node").as("u"), col("comp").as("ca")),
            Seq("u"))
          .join(comp.select(col("node").as("v"), col("comp").as("cb")),
            Seq("v"))
          .select(col("ca").as("id_a"), col("cb").as("id_b"))
        comp = Dedup.withClusterId(comp, "comp", compEdges)
          .select(col("node"), col("cluster_id").as("comp"))
          .localCheckpoint()
        rounds += 1
      }
    }
    mst
  }
}
