package graft

/** Test-side connected components: a plain union-find over a pair list,
  * each id labeled with the minimum id of its component (singletons label
  * themselves). The reference the cluster-label tests compare both
  * `Dedup.clusterLabels` paths against. */
object ComponentClosure {
  def apply(ids: Iterable[Long], pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(k => k -> find(k)).toMap
  }
}
