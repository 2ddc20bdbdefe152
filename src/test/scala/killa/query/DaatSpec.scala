package killa.query

import org.scalatest.funsuite.AnyFunSuite

/** Kernel-level properties of the DAAT top-k accumulator (VERDICT r2 #5):
  * the candidate buffer must stay O(k + ties) even under the adversarial
  * ascending-score order, where every admission raises the threshold and
  * strands all earlier entries.
  */
class DaatSpec extends AnyFunSuite {

  test("TopK buffer stays bounded under adversarial ascending scores") {
    val k = 10
    val topk = new Daat.TopK(k)
    val n = 200000
    var i = 0
    var maxBuf = 0
    while (i < n) {
      topk.offer(i.toDouble, i.toLong) // strictly ascending: worst case
      if (topk.bufferedCount > maxBuf) maxBuf = topk.bufferedCount
      i += 1
    }
    // pre-fix this held ~n entries; the compacting buffer stays within the
    // doubling high-water mark of the 4k floor
    assert(maxBuf <= 16 * k + 64, s"buffer grew to $maxBuf for n=$n, k=$k")
    val drained = topk.drain().toSeq.sortBy(-_._2)
    assert(drained.map(_._2) == (n - k until n).reverse.map(_.toDouble))
  }

  test("TopK retains every score tied at the threshold (ties exceed k)") {
    val k = 5
    val topk = new Daat.TopK(k)
    // 3 distinct scores, 1000 docs each, interleaved; top score ties 1000-way
    (0 until 3000).foreach(i => topk.offer((i % 3).toDouble, i.toLong))
    val drained = topk.drain().toSeq
    // threshold is 2.0 (k=5 < 1000 ties) — ALL score-2 docs must survive so
    // the global conv_id tie-break stays exact
    assert(drained.forall(_._2 == 2.0))
    assert(drained.size == 1000, s"lost ties: ${drained.size}")
  }

  test("TopK drain equals brute-force top-k under random order (with compactions)") {
    val k = 7
    val rnd = new scala.util.Random(42)
    val scores = Array.fill(50000)(rnd.nextInt(1000).toDouble)
    val topk = new Daat.TopK(k)
    scores.zipWithIndex.foreach { case (s, i) => topk.offer(s, i.toLong) }
    val got = topk.drain().toSeq.map(_._2).sorted.reverse
    val kth = scores.sorted.reverse.apply(k - 1)
    // drain keeps exactly the docs scoring ≥ the k-th best (ties retained)
    val exp = scores.filter(_ >= kth).sorted.reverse.toSeq
    assert(got == exp)
  }

  test("TopK threshold equals the brute-force k-th best after every offer (ties, floor)") {
    val rnd = new scala.util.Random(7)
    for (k <- Seq(1, 3, Int.MaxValue); floor <- Seq(Double.NegativeInfinity, 40.0); trial <- 0 until 5) {
      // few distinct values ⇒ many ties at the threshold
      val scores = Array.fill(400)(rnd.nextInt(60).toDouble)
      val topk = new Daat.TopK(k, floor)
      val offered = scala.collection.mutable.ArrayBuffer.empty[Double]
      scores.zipWithIndex.foreach { case (s, i) =>
        topk.offer(s, i.toLong)
        offered += s
        val exp =
          if (offered.length < k) floor
          else math.max(floor, offered.sortWith(_ > _).apply(k - 1))
        assert(topk.threshold == exp,
          s"k=$k floor=$floor trial=$trial after ${offered.length} offers")
      }
    }
  }
}
