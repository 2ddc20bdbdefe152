package killa.query

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import killa.model.PostingBlock

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

  // ---- scoreRange: the block-max WAND kernel ----

  private val (k1, b, avgdl) = (1.2, 0.75, 20.0)

  /** One term's postings as ascending (docId, tf, dl). */
  private type Postings = Array[(Long, Long, Long)]

  /** Cut postings into blocks of 4–16 — many block boundaries per list. */
  private def blocksOf(rnd: Random, term: String, ps: Postings): Array[PostingBlock] = {
    val out = Array.newBuilder[PostingBlock]
    var (from, id) = (0, 0L)
    while (from < ps.length) {
      val to = math.min(ps.length, from + 4 + rnd.nextInt(13))
      val s = ps.slice(from, to)
      out += PostingBlock.encode(term, id, ps.length, s.map(_._1), s.map(_._2), s.map(_._3), 0)
      from = to
      id += 1
    }
    out.result()
  }

  /** Same docIds, contents and metadata, but a payload any decode throws on. */
  private def corrupt(blk: PostingBlock): PostingBlock =
    blk.copy(docsBin = Array.empty[Byte], tfsBin = Array.empty[Byte],
      dlsBin = Array.empty[Byte])

  /** The kernel's contract as a brute-force fold: each doc in (lo, hi] scored
    * by summing `Bm25.contrib` in query-term order, then every admission
    * rule, then the top k by (score desc, docId asc).
    */
  private def bruteForce(terms: Array[Postings], weights: Array[Double], lo: Long, hi: Long,
      k: Int, conjunctive: Boolean, exclude: Array[Set[Long]], include: Option[Set[Long]],
      after: (Double, Long), minMatch: Int, floor: Double): Seq[(Long, Double)] = {
    val byDoc = terms.map(_.map(p => p._1 -> p).toMap)
    val docs = terms.flatMap(_.map(_._1)).distinct.filter(d => d > lo && d <= hi).sorted
    docs.toSeq.flatMap { d =>
      var score = 0.0
      var n = 0
      terms.indices.foreach { t =>
        byDoc(t).get(d).foreach { case (_, tf, dl) =>
          score += Bm25.contrib(weights(t), tf, dl, k1, b, avgdl)
          n += 1
        }
      }
      val matched = if (conjunctive) n == terms.length else n >= math.max(1, minMatch)
      val ok = matched && !exclude.exists(_(d)) && include.forall(_(d)) &&
        (score < after._1 || (score == after._1 && d > after._2)) && score >= floor
      if (ok) Some(d -> score) else None
    }.sortBy { case (d, s) => (-s, d) }.take(k)
  }

  /** The union of the per-range kernels over `cuts`' (lo, hi] ranges, as
    * `localTopK` and the range fan-out merge them. `overlapOnly` hands each
    * range only the blocks that overlap it (the fan-out); otherwise every
    * range sees every block (the driver's pooled ranges).
    */
  private def kernel(cuts: Seq[Long], overlapOnly: Boolean, terms: Array[Array[PostingBlock]],
      weights: Array[Double], k: Int, conjunctive: Boolean, exclude: Array[Array[PostingBlock]],
      include: Array[Array[PostingBlock]], after: (Double, Long), minMatch: Int,
      floor: Double): Seq[(Long, Double)] =
    cuts.zip(cuts.tail).flatMap { case (lo, hi) =>
      def in(bs: Array[Array[PostingBlock]]) =
        if (overlapOnly) bs.map(_.filter(blk => blk.firstDoc <= hi && blk.lastDoc > lo)) else bs
      Daat.scoreRange(in(terms), weights, lo, hi, k, conjunctive, k1, b, avgdl, in(exclude),
        after._1, after._2, in(include), minMatch, floor)
    }.sortBy { case (d, s) => (-s, d) }.take(k)

  test("scoreRange equals a brute-force term-order fold over random ranges and blocks") {
    val rnd = new Random(20260611)
    var nonEmpty = 0
    for (trial <- 0 until 240) {
      val maxDoc = 40 + rnd.nextInt(300)
      val docLen = Array.fill(maxDoc + 1)(8L * (1 + rnd.nextInt(4))) // few lengths ⇒ ties
      def postings(p: Double): Postings =
        (0 to maxDoc).filter(_ => rnd.nextDouble() < p)
          .map(d => (d.toLong, 1L + rnd.nextInt(3), docLen(d))).toArray
      val nT = 1 + rnd.nextInt(4)
      val terms = Array.fill(nT)(postings(0.05 + rnd.nextDouble() * 0.6))
      val weights = terms.map(ps => Bm25.weight(maxDoc + 1L, math.max(1L, ps.length), k1))
      val termBlocks = terms.zipWithIndex.map { case (ps, t) => blocksOf(rnd, s"t$t", ps) }
      val exclude = Array.fill(rnd.nextInt(3))(postings(0.1 + rnd.nextDouble() * 0.3))
      val include = if (rnd.nextBoolean()) Some(postings(0.3 + rnd.nextDouble() * 0.6)) else None
      val exBlocks = exclude.map(blocksOf(rnd, "ex", _))
      val incBlocks = include.map(ps => Array(blocksOf(rnd, "inc", ps))).getOrElse(Array.empty)
      val conjunctive = rnd.nextInt(3) == 0
      val minMatch = if (conjunctive) 1 else 1 + rnd.nextInt(nT)
      // range cuts inside blocks as well as between them
      val cuts = -1L +: (0 until rnd.nextInt(4)).map(_ => rnd.nextInt(maxDoc + 1).toLong)
        .distinct.sorted :+ (if (rnd.nextBoolean()) Long.MaxValue else maxDoc.toLong)
      val overlapOnly = rnd.nextBoolean()
      def expect(k: Int, after: (Double, Long), floor: Double) =
        bruteForce(terms, weights, -1L, Long.MaxValue, k, conjunctive, exclude.map(_.map(_._1).toSet),
          include.map(_.map(_._1).toSet), after, minMatch, floor)
      val all = expect(Int.MaxValue, (Double.PositiveInfinity, Long.MinValue), Double.NegativeInfinity)
      if (all.nonEmpty) nonEmpty += 1
      // search-after from an existing row (ties around it are likely), and a
      // floor at an existing score
      val after: (Double, Long) =
        if (all.nonEmpty && rnd.nextBoolean()) all(rnd.nextInt(all.length)).swap
        else (Double.PositiveInfinity, Long.MinValue)
      val floor = if (all.nonEmpty && rnd.nextBoolean()) all(rnd.nextInt(all.length))._2
        else Double.NegativeInfinity
      for (k <- Seq(1, 3, Int.MaxValue)) {
        val exp = expect(k, after, floor)
        val got = kernel(cuts, overlapOnly, termBlocks, weights, k, conjunctive, exBlocks,
          incBlocks, after, minMatch, floor)
        assert(got == exp, s"trial=$trial k=$k conj=$conjunctive mm=$minMatch cuts=$cuts " +
          s"overlapOnly=$overlapOnly after=$after floor=$floor ex=${exclude.length} " +
          s"inc=${include.isDefined}")
      }
    }
    assert(nonEmpty > 150, s"vacuous fixture: $nonEmpty non-empty trials")
  }

  test("blocks pruned on metadata are never decoded") {
    val w = Array(Bm25.weight(1000L, 50L, k1))
    def run(blocks: Array[PostingBlock], hi: Long, k: Int, floor: Double) =
      Daat.scoreRange(Array(blocks), w, -1L, hi, k, false, k1, b, avgdl, floor = floor).toSeq
        .sortBy { case (d, s) => (-s, d) }
    // a decodable block at `at`, `at`+3, `at`+5: two high scores and one low
    def high(id: Long, at: Long) = PostingBlock.encode("t", id, 0,
      Array(at, at + 3, at + 5), Array(6L, 6L, 1L), Array(10L, 12L, 40L), 0)
    def highScores(at: Long) =
      Seq(at -> Bm25.contrib(w(0), 6L, 10L, k1, b, avgdl), (at + 3) -> Bm25.contrib(w(0), 6L, 12L, k1, b, avgdl))
    // a block of low impacts whose payload throws on any decode
    def low(id: Long, docs: Range) = corrupt(PostingBlock.encode("t", id, 0,
      docs.map(_.toLong).toArray, Array.fill(docs.size)(1L), Array.fill(docs.size)(40L), 0))
    val lowBound = w(0) * Bm25.impact(1L, 40L, k1, b, avgdl)
    val floor = (lowBound + highScores(0L).map(_._2).min) / 2
    assert(lowBound < floor)

    // below a floor: the floor seeds the threshold, so the low blocks on
    // either side of the high one fail on their bounds alone
    assert(run(Array(low(0, 0 to 9), high(1, 20), low(2, 30 to 40)), Long.MaxValue, 10, floor) ==
      highScores(20L))

    // a block-max jump: with k = 1 the first block sets a threshold that no
    // later block's bound reaches
    assert(run(Array(high(0, 0), low(1, 10 to 20), low(2, 25 to 60)), Long.MaxValue, 1,
      Double.NegativeInfinity) == highScores(0L).take(1))

    // a block straddling hi with its bound below the floor: its firstDoc ≤ hi
    // is an in-range doc, so its liveness needs no decode either
    assert(run(Array(high(0, 0), low(1, 10 to 30)), 20L, 10, floor) == highScores(0L))
  }
}
