package graft

/** In-memory union-find: the reference the connected-components specs
  * compare the Spark kernel against. */
object UnionFind {

  /** (id → min id of its component) for every node and every edge
    * endpoint — the (id, component) contract of
    * [[graft.functions.ConnectedComponents.minLabel]]. */
  def minLabels(nodes: Iterable[Long],
      edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    nodes.foreach(find)
    // the smaller root wins, so every root is its component's minimum
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }
}
