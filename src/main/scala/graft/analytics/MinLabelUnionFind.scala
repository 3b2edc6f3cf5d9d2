package graft.analytics

/** Driver-side union-find over `Long` labels whose every root is its
  * set's MINIMUM label: `find` compresses paths and `union` hangs the
  * larger root under the smaller. The local tails of the min-label
  * connected-components builders ([[GraphOps.resolvePickForest]], the
  * [[GraphOps.minimumSpanningForest]] Kruskal tail,
  * [[DedupOps.nearDupClusters]]) use it so they return the labels their
  * distributed rounds converge to.
  */
private[analytics] final class MinLabelUnionFind {
  private val parent = scala.collection.mutable.HashMap.empty[Long, Long]

  def find(x: Long): Long = {
    var root = x
    while (parent.getOrElse(root, root) != root) root = parent(root)
    var c = x
    while (parent.getOrElse(c, c) != root) {
      val nx = parent(c); parent(c) = root; c = nx
    }
    root
  }

  /** Merges the sets of `a` and `b`; false when they already were one. */
  def union(a: Long, b: Long): Boolean = {
    val (ra, rb) = (find(a), find(b))
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    ra != rb
  }
}
