package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planar grid-bucketed spatial operators. Web-corpus uses: IP-geo point
  * clustering, lat/lon dedup of business listings, map-tile heat rollups —
  * anywhere "find nearby points" must not become an all-pairs join.
  *
  * Coordinates are treated as PLANAR doubles (for lat/lon at city scale,
  * pre-project or accept the small-angle approximation; a haversine
  * predicate would drag libm trig into the cross-engine contract, while
  * squared euclidean distance is pure +/−/× — bit-reproducible anywhere).
  */
object Geo {

  /** All unordered pairs of points within `eps` (euclidean): each point is
    * bucketed into an integer grid cell of side `eps`
    * (`floor(x/eps), floor(y/eps)`), the LEFT side is replicated onto its
    * own + 8 neighboring cells, and candidates meet by an equi-join on the
    * cell key — any pair with distance ≤ eps differs by at most 1 in each
    * cell index, so the bucketing is LOSSLESS and the exact
    * `dist² ≤ eps²` filter runs only on per-cell candidates, never on the
    * full cross product. `id_a < id_b` keeps each pair once.
    *
    * Output: id_a, id_b, dist2 (squared distance — kept squared so the
    * whole predicate is polynomial in the inputs). Scale shape: one 9×
    * explode of a slim (id, x, y) projection + one integer-key equi-join;
    * a dense cell is a hot join key (AQE skew split applies) but the
    * candidate set stays neighborhood-local by construction.
    */
  def gridNeighbors(df: DataFrame, idCol: String, xCol: String,
                    yCol: String, eps: Double): DataFrame = {
    require(eps > 0, "eps must be positive")
    val pts = df.select(col(idCol).as("_id"),
      col(xCol).cast("double").as("_x"), col(yCol).cast("double").as("_y"),
      floor(col(xCol).cast("double") / eps).cast("long").as("_cx"),
      floor(col(yCol).cast("double") / eps).cast("long").as("_cy"))
    val offsets = Seq(-1L, 0L, 1L)
    val repl = pts.withColumn("_dx", explode(array(offsets.map(lit): _*)))
      .withColumn("_dy", explode(array(offsets.map(lit): _*)))
      .select(col("_id").as("id_a"), col("_x").as("_xa"),
        col("_y").as("_ya"), (col("_cx") + col("_dx")).as("_jx"),
        (col("_cy") + col("_dy")).as("_jy"))
    val right = pts.select(col("_id").as("id_b"), col("_x").as("_xb"),
      col("_y").as("_yb"), col("_cx").as("_jx"), col("_cy").as("_jy"))
    val d2 = (col("_xa") - col("_xb")) * (col("_xa") - col("_xb")) +
      (col("_ya") - col("_yb")) * (col("_ya") - col("_yb"))
    repl.join(right, Seq("_jx", "_jy"))
      .where(col("id_a") < col("id_b") && d2 <= lit(eps * eps))
      .select(col("id_a"), col("id_b"), d2.as("dist2"))
  }

  /** DBSCAN density clustering, composed from [[gridNeighbors]] (the
    * lossless candidate generator) + [[graft.ops.Dedup.clusters]] (the
    * min-label CC engine): a point is `core` when its eps-neighborhood —
    * point itself included, the textbook count — holds ≥ minPts points;
    * clusters are connected components over CORE-CORE edges labelled by
    * min core id; a non-core point with ≥ 1 core neighbor is `border`,
    * assigned the MIN cluster id among its core neighbors (the
    * deterministic resolution of DBSCAN's classic border ambiguity, which
    * textbook DBSCAN leaves to visit order); everything else is `noise`.
    *
    * Output: id, role ('core'|'border'|'noise'), cluster_id (null for
    * noise). Scale shape: everything downstream of the pair join is
    * pair- or label-sized — degrees by combiner groupBy, CC on the core
    * subgraph only, border assignment one aggregate over core-adjacent
    * pairs; the point payload never re-shuffles.
    */
  def dbscan(df: DataFrame, idCol: String, xCol: String, yCol: String,
             eps: Double, minPts: Int): DataFrame = {
    require(minPts >= 1, "minPts must be >= 1")
    // three consumers (degrees, core-core edges, border adjacency) —
    // materialize the pair join ONCE as an eager leaf (the repo's
    // iterative-op discipline; a bare persist would leak past return)
    val pairs = gridNeighbors(df, idCol, xCol, yCol, eps).localCheckpoint()
    val ids = df.select(col(idCol).as("id"))
    val deg = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("_deg"))
    // marked feeds THREE subtrees (cores, border assignment, the final
    // role select) and coreLabels two — both are id-sized, so eager leaves
    // stop each consumer re-running the degree aggregate / CC pipeline
    val marked = ids.join(deg, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("_deg"), lit(0L)) + 1 >= minPts).as("_core"))
      .localCheckpoint()
    val cores = marked.where(col("_core")).select(col("id"))
    val coreEdges = pairs
      .join(cores.select(col("id").as("id_a")), Seq("id_a"))
      .join(cores.select(col("id").as("id_b")), Seq("id_b"))
    val coreLabels = Dedup.withClusterId(cores, "id", coreEdges).localCheckpoint()
    val nbr = pairs.select(col("id_a").as("id"), col("id_b").as("nbr"))
      .unionByName(pairs.select(col("id_b").as("id"), col("id_a").as("nbr")))
    val borderAssign = marked.where(!col("_core"))
      .join(nbr, Seq("id"))
      .join(coreLabels.select(col("id").as("nbr"), col("cluster_id")),
        Seq("nbr"))
      .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
    marked
      .join(coreLabels.withColumnRenamed("cluster_id", "_cc"),
        Seq("id"), "left")
      .join(borderAssign.withColumnRenamed("cluster_id", "_bc"),
        Seq("id"), "left")
      .select(col("id"),
        when(col("_core"), lit("core"))
          .when(col("_bc").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("_core"), col("_cc")).otherwise(col("_bc"))
          .as("cluster_id"))
  }
}
