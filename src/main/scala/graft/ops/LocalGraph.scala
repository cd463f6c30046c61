package graft.ops

import org.apache.spark.sql.Row

/** A graph small enough for the driver ([[LocalDispatch]]), its node ids
  * compacted to a dense index: `ids` holds the sorted distinct ids, and
  * edge `e` runs from node `src(e)` to node `dst(e)`, both indexes into
  * `ids`, in the order the edges were given. Ids sort like their indexes,
  * so a min over ids is a min over indexes, and replays keep per-node
  * state in primitive arrays of length `n`.
  */
private[ops] final class LocalGraph private (val ids: Array[Long], val src: Array[Int],
                                             val dst: Array[Int]) {
  def n: Int = ids.length

  /** Index of `id`, or a negative number when it is not a node. */
  def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)

  /** Out-adjacency in compressed sparse row form: the out-neighbours of
    * node `i` are `(adj(start(i)) until adj(start(i + 1)))`, in edge order.
    */
  def outCsr: (Array[Int], Array[Int]) = {
    val start = new Array[Int](n + 1)
    src.foreach(s => start(s + 1) += 1)
    var i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val adj = new Array[Int](src.length)
    var e = 0
    while (e < src.length) { adj(fill(src(e))) = dst(e); fill(src(e)) += 1; e += 1 }
    (start, adj)
  }
}

private[ops] object LocalGraph {

  /** The graph of the edges `(a(e), b(e))`, with `extra` ids (seeds,
    * sources) as nodes too.
    */
  def apply(a: Array[Long], b: Array[Long], extra: Array[Long]): LocalGraph = {
    val all = new Array[Long](a.length + b.length + extra.length)
    System.arraycopy(a, 0, all, 0, a.length)
    System.arraycopy(b, 0, all, a.length, b.length)
    System.arraycopy(extra, 0, all, a.length + b.length, extra.length)
    java.util.Arrays.sort(all)
    var n = 0
    var r = 0
    while (r < all.length) {
      if (n == 0 || all(r) != all(n - 1)) { all(n) = all(r); n += 1 }
      r += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    new LocalGraph(ids, a.map(java.util.Arrays.binarySearch(ids, _)),
      b.map(java.util.Arrays.binarySearch(ids, _)))
  }

  /** The graph of the edges in columns 0 and 1 of `rows` (longs). */
  def apply(rows: Array[Row], extra: Array[Long] = Array.emptyLongArray): LocalGraph =
    apply(rows.map(_.getLong(0)), rows.map(_.getLong(1)), extra)
}
