package graft.tools

/** The checkers' reference union-find (CcCheck, DropCheck): plain path
  * compression, every union parenting toward the smaller id, so `find`
  * returns the component minimum. Deliberately separate from
  * `IncrementalCluster`'s fold and `Scale.connectedComponents`: a
  * checker must share no code with what it checks.
  */
private[tools] final class Dsu {
  private val parent = scala.collection.mutable.LongMap.empty[Long]
  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    var c = x
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }
  def union(a: Long, b: Long): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    ()
  }
  def nodes: Iterator[Long] = parent.keysIterator
}
