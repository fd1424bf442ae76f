package graft

/** Driver-side connected components of an edge list: the independent
  * reference the CC specs check star contraction (and the queries built
  * on it) against. Returns vertex -> its component's minimum vertex,
  * for every vertex that appears in `pairs` — the label contract of
  * `ops.ConnectedComponents.largeStarSmallStar`.
  */
object UnionFind {
  def labels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // union by min root, so every root is its component's minimum
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(v => v -> find(v)).toMap
  }
}
