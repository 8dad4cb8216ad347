package graft.operators

/** Driver-side connected components, the reference the components specs
  * check against: every node of `edges` mapped to its component's minimum
  * id under `Ordering[T]` (self-pairs make singleton components). */
object UnionFind {
  def apply[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val par = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = par.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); par(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) par(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    par.keys.map(x => x -> find(x)).toMap
  }
}
