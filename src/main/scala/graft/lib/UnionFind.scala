package graft.lib

/**
 * Driver-side union-find with minimum-id roots — the one kernel behind
 * the bounded small-graph tails of [[ConnectedComponents]],
 * `graft.pipeline.Dedup.clusterReps`, the minimum spanning forest's
 * Kruskal and 2-edge-connected components. Path compression +
 * point-smaller: the root of every set is its `ord`-minimum element, so
 * labels match what the distributed fixpoints produce (component minimum).
 */
private[graft] final class UnionFind(ord: Ordering[Any]) {
  private val parent = scala.collection.mutable.HashMap.empty[Any, Any]

  /** The root of `x`'s set (`x` itself if never unioned). */
  def find(x: Any): Any = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Merge the sets of `a` and `b` under the smaller root; false when they
   * were one set already. */
  def union(a: Any, b: Any): Boolean = {
    val ra = find(a); val rb = find(b)
    if (ra == rb) false
    else {
      if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      true
    }
  }
}

private[graft] object UnionFind {

  /** Orderings that match Spark's own comparison semantics for the id
   * types the fast paths support. Strings compare as UTF-8 bytes
   * (unsigned), exactly like Spark's UTF8String / min() — Java's default
   * UTF-16 code-unit order differs for supplementary-plane characters.
   * Returns None for types the caller should route to the distributed
   * path instead. */
  def sparkOrdering(dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] =
    dt match {
      case org.apache.spark.sql.types.StringType => Some(
        new Ordering[Any] {
          def compare(a: Any, b: Any): Int = {
            val x = a.asInstanceOf[String].getBytes("UTF-8")
            val y = b.asInstanceOf[String].getBytes("UTF-8")
            var i = 0
            val n = math.min(x.length, y.length)
            while (i < n) {
              val c = (x(i) & 0xff) - (y(i) & 0xff)
              if (c != 0) return c
              i += 1
            }
            x.length - y.length
          }
        })
      case org.apache.spark.sql.types.LongType =>
        Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
      case org.apache.spark.sql.types.IntegerType =>
        Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
      case _ => None
    }

  /** Union all pairs, then return every touched element mapped to its
   * set's minimum element under `ord`. */
  def minLabels(pairs: Iterator[(Any, Any)], ord: Ordering[Any]): Iterator[(Any, Any)] = {
    val uf = new UnionFind(ord)
    val seen = scala.collection.mutable.LinkedHashSet.empty[Any]
    pairs.foreach { case (a, b) => seen += a; seen += b; uf.union(a, b) }
    seen.iterator.map(v => (v, uf.find(v)))
  }
}
