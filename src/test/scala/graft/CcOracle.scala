package graft

/** Driver-side min-label propagation, the textbook connected-components
  * algorithm, used as an oracle for `Dedup.connectedComponents`: each round
  * every node takes the least label among itself and its neighbours, so a
  * component of diameter d needs d rounds to settle.
  */
object CcOracle {
  /** Every node of an edge -> the minimum id of its component; throws
    * `IllegalStateException` when the labels have not settled within
    * `maxRounds` rounds.
    */
  def minLabel(edges: Seq[(Long, Long)], maxRounds: Int = Int.MaxValue): Map[Long, Long] = {
    val nbrs = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    var labels = nbrs.map { case (n, _) => n -> n }
    var rounds = 0
    var changed = true
    while (changed) {
      if (rounds == maxRounds) throw new IllegalStateException(s"min-label propagation unsettled after $maxRounds rounds")
      val next = nbrs.map { case (n, ns) => n -> ns.foldLeft(labels(n))((m, x) => math.min(m, labels(x))) }
      changed = next != labels
      labels = next
      rounds += 1
    }
    labels
  }
}
