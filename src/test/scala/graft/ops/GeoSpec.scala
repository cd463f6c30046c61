package graft.ops

import graft.SparkSpec

class GeoSpec extends SparkSpec {
  import spark.implicits._

  test("gridNeighbors equals brute force; exact-eps boundary kept once") {
    val pts = for (i <- 0 until 60)
      yield (i.toLong, (i % 13) * 0.7, ((i * 5) % 11) * 0.9)
    val eps = 1.5
    val df = pts.toDF("id", "x", "y")
    val r = Geo.gridNeighbors(df, "id", "x", "y", eps).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    val brute = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= eps * eps
    } yield (a._1, b._1, d2)).toSet
    assert(r == brute && r.nonEmpty)
    // pair at distance EXACTLY eps (cells are adjacent): included, once
    val bdf = Seq((1L, 0.0, 0.0), (2L, 1.5, 0.0)).toDF("id", "x", "y")
    val rb = Geo.gridNeighbors(bdf, "id", "x", "y", 1.5).collect()
    assert(rb.length == 1 && rb.head.getDouble(2) == 2.25)
    // negative coordinates bucket correctly (floor, not trunc)
    val ndf = Seq((1L, -0.1, -0.1), (2L, 0.1, 0.1)).toDF("id", "x", "y")
    assert(Geo.gridNeighbors(ndf, "id", "x", "y", 0.5).count() == 1)
  }

  test("dbscan: core/border/noise roles and min-id cluster labels") {
    val pts = Seq(
      (1L, 0.0, 0.0), (2L, 0.5, 0.0), (3L, 0.0, 0.5), (4L, 0.5, 0.5),
      (5L, 1.5, 0.5),     // exactly 1.0 from point 4 only -> border
      (6L, 5.0, 5.0),     // noise
      (7L, 10.0, 10.0), (8L, 10.5, 10.0), (9L, 10.0, 10.5))
      .toDF("id", "x", "y")
    def run() = Geo.dbscan(pts, "id", "x", "y", eps = 1.0, minPts = 3)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1),
        Option(x.get(2)).map(_.asInstanceOf[Long])))
    val expected = Seq(
      (1L, "core", Some(1L)), (2L, "core", Some(1L)),
      (3L, "core", Some(1L)), (4L, "core", Some(1L)),
      (5L, "border", Some(1L)), (6L, "noise", None),
      (7L, "core", Some(7L)), (8L, "core", Some(7L)),
      (9L, "core", Some(7L)))
    assert(run().toSeq == expected)
    // the core labels join from the distributed rounds instead of the driver lookup
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try assert(run().toSeq == expected)
    finally spark.conf.unset("spark.graft.cc.localEdgeThreshold")
    // a lone core pair below minPts degrades to noise, not a cluster
    val sparse = Seq((1L, 0.0, 0.0), (2L, 0.5, 0.0)).toDF("id", "x", "y")
    val rs = Geo.dbscan(sparse, "id", "x", "y", 1.0, 3)
      .collect().map(_.getString(1)).toSet
    assert(rs == Set("noise"))
  }
}
