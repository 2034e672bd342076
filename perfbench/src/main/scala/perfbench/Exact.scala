package perfbench

/** The benchmark's own brute-force answers, computed without the engine,
  * and the comparisons that turn a wrong engine answer into a failed op.
  */
object Exact {

  /** Score tolerance between the engine and the brute force. */
  val Tol = 1e-6

  /** Cosine in Double with a zero-norm vector scoring 0 — the reference
    * store's definition.
    */
  def cosine(x: Array[Double], q: Array[Double]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < x.length) {
      dot += x(i) * q(i); na += x(i) * x(i); nb += q(i) * q(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** One scored row of an answer: `order` is the engine's tie-break column,
    * `key` identifies the row.
    */
  final case class Hit(order: String, key: String, score: Double)

  /** Exact top-k with the reference's semantics: score descending, ties by
    * ascending `order`, then the threshold applied AFTER the limit.
    */
  def topK(scored: Iterator[Hit], k: Int, threshold: Double): Seq[Hit] = {
    val ord = Ordering.by[Hit, (Double, String)](h => (-h.score, h.order))
    val heap = scala.collection.mutable.PriorityQueue.empty[Hit](ord)
    scored.foreach { h =>
      heap.enqueue(h)
      if (heap.size > k) heap.dequeue()
    }
    heap.dequeueAll.reverse.toSeq.sorted(ord).filter(_.score >= threshold)
  }

  /** None when `got` is a correct top-k answer, else what is wrong with it.
    * Correct means: as many rows as `expected`, the score at every rank
    * within [[Tol]] of the expected one, and every returned row carrying
    * its own true score (so ties at the cut may resolve either way).
    */
  def diff(got: Seq[Hit], expected: Seq[Hit], truth: String => Option[Double]): Option[String] =
    if (got.length != expected.length)
      Some(s"${got.length} rows, expected ${expected.length}")
    else got.zip(expected).zipWithIndex.collectFirst {
      case ((g, e), i) if math.abs(g.score - e.score) > Tol =>
        s"rank ${i + 1}: score ${g.score}, expected ${e.score}"
      case ((g, _), i) if !truth(g.key).exists(t => math.abs(t - g.score) <= Tol) =>
        s"rank ${i + 1}: row ${g.key} scored ${g.score}, its true score is ${truth(g.key)}"
    }

  /** Share of the expected rows that the answer returned. */
  def recall(got: Seq[Hit], expected: Seq[Hit]): Double =
    if (expected.isEmpty) 1.0
    else expected.map(_.key).toSet.intersect(got.map(_.key).toSet).size.toDouble / expected.length
}
