package perfbench

/** Pair-counting agreement between a predicted clustering and the true
  * one: a pair of ids is predicted when both land in one cluster, true
  * when the generator put them in one cluster. Counted from the
  * contingency table, so a cluster of n ids costs one cell, never n²
  * pairs. Ids missing from `predicted` count as singletons. */
final case class PairCounts(truePairs: Long, predictedPairs: Long, correctPairs: Long) {
  def recall: Double = if (truePairs == 0) 1.0 else correctPairs.toDouble / truePairs
  def precision: Double =
    if (predictedPairs == 0) 1.0 else correctPairs.toDouble / predictedPairs
}

object PairCounts {
  private def pairs(n: Long): Long = n * (n - 1) / 2

  def apply[K](predicted: collection.Map[K, _], truth: collection.Map[K, _]): PairCounts = {
    val ids = truth.keys.toSeq
    def sumPairs(groups: Iterable[Seq[K]]) = groups.iterator.map(g => pairs(g.size.toLong)).sum
    val pred = ids.groupBy(id => predicted.get(id).map(Left(_)).getOrElse(Right(id)))
    val tru = ids.groupBy(truth)
    val cells = ids.groupBy(id => (predicted.get(id).map(Left(_)).getOrElse(Right(id)), truth(id)))
    PairCounts(sumPairs(tru.values), sumPairs(pred.values), sumPairs(cells.values))
  }
}
