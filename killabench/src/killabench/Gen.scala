package killabench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import killa.model.Turn

/** Seeded generator of everything the engine is fed: the corpus, the query
  * streams and the maintenance batches. A pure function of the seed — the
  * engine only ever sees the generated rows.
  *
  * Vocabulary per turn:
  *  - Zipf(s) over `vocab` ranked words `w<rank>`: head words sit in most
  *    conversations, the long middle gives the mid-frequency terms a flat
  *    vocabulary lacks, and the tail gives terms seen once or twice;
  *  - the hot term "the" in about half of the turns (the skew case);
  *  - `u<conv>x<i>` terms owned by exactly one conversation;
  *  - marker terms (`mkbuild`, `mk<batch>`) whose exact counts the checks know.
  */
object Gen {
  final case class Shape(turnsPerConv: Int = 8, minWords: Int = 6, maxWords: Int = 16,
      vocab: Int = 40000, zipfS: Double = 1.0, hotShare: Double = 0.5,
      uniquePerConv: Int = 2, buildMarkerEvery: Int = 64)

  val Hot = "the"
  val BuildMarker = "mkbuild"
  private val Roles = Array("user", "assistant", "system", "tool")
  private val Tools = Array("", "search", "exec", "")
  private val Epoch = 1704067200000L // 2024-01-01T00:00:00Z, fixed

  /** Stats of a set of conversations, exactly as the engine should count them. */
  final case class Corpus(turns: Array[Turn], numDocs: Long,
      totalTokens: Long, textBytes: Long, df: mutable.HashMap[String, Int]) {
    def distinctTerms: Int = df.size
  }

  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    /** Rank in [1, n]. */
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n, (if (i >= 0) i else -i - 1) + 1)
    }
  }

  private def mix(seed: Long, a: Long, b: Long): Long =
    killa.util.Hashing.splitmix64(seed ^ (a * 0x9E3779B97F4A7C15L) ^ (b * 0xC2B2AE3D27D4EB4FL))

  def convId(i: Int): String = f"c$i%06d"
  def uniqueTerm(conv: String, i: Int): String = s"u${conv}x$i"

  /** The turns of one conversation; `version` > 0 regenerates its content
    * (an update keeps the conversation's own unique terms).
    */
  def conversation(seed: Long, shape: Shape, zipf: Zipf, conv: String, version: Int,
      markers: Seq[String], tsBase: Long): Array[Turn] = {
    val rng = new SplittableRandom(mix(seed, conv.hashCode.toLong, version.toLong))
    Array.tabulate(shape.turnsPerConv) { t =>
      val words = mutable.ArrayBuffer.empty[String]
      val n = shape.minWords + rng.nextInt(shape.maxWords - shape.minWords + 1)
      while (words.length < n) words += s"w${zipf.sample(rng)}"
      if (rng.nextDouble() < shape.hotShare) words(rng.nextInt(words.length)) = Hot
      if (t == 0) {
        words ++= (0 until shape.uniquePerConv).map(uniqueTerm(conv, _))
        words ++= markers
      }
      Turn(conv, t, Roles(t % Roles.length), words.mkString(" "), Tools(t % Tools.length),
        new Timestamp(Epoch + (tsBase + t) * 1000L))
    }
  }

  def stats(turns: Array[Turn]): Corpus = {
    val df = mutable.HashMap.empty[String, Int]
    var tokens = 0L
    var bytes = 0L
    turns.groupBy(_.conv_id).foreach { case (_, ts) =>
      val seen = mutable.HashSet.empty[String]
      ts.foreach { t =>
        val toks = t.text.split(' ').filter(_.nonEmpty)
        tokens += toks.length
        bytes += t.text.getBytes("UTF-8").length
        seen ++= toks
      }
      seen.foreach(w => df(w) = df.getOrElse(w, 0) + 1)
    }
    Corpus(turns, turns.map(_.conv_id).distinct.length.toLong, tokens, bytes, df)
  }

  def corpus(seed: Long, nConvs: Int, shape: Shape): Corpus = {
    val zipf = new Zipf(shape.vocab, shape.zipfS)
    val turns = (0 until nConvs).iterator.flatMap { i =>
      val c = convId(i)
      conversation(seed, shape, zipf, c, 0,
        if (i % shape.buildMarkerEvery == 0) Seq(BuildMarker) else Nil,
        i.toLong * shape.turnsPerConv)
    }.toArray
    stats(turns)
  }

  def expectedBuildMarkers(nConvs: Int, shape: Shape): Long =
    ((nConvs + shape.buildMarkerEvery - 1) / shape.buildMarkerEvery).toLong

  /** Document-frequency ranks (1 = most frequent word) of the words a query
    * set draws from: head to mid frequency, the same ranks for every seed, so
    * every seed's query set does about the same work.
    */
  val QueryRanks: Seq[Int] = Seq(1, 3, 8, 20, 50, 120, 300, 700)

  /** Fixed query shapes over [[QueryRanks]] positions: 1–3 words, head with
    * mid; a leading -1 adds the hot term.
    */
  private val Shapes: Seq[Seq[Int]] = Seq(
    Seq(-1), Seq(0), Seq(1), Seq(2), Seq(3), Seq(4), Seq(5), Seq(6), Seq(7),
    Seq(-1, 3), Seq(-1, 6), Seq(0, 4), Seq(1, 5), Seq(2, 7), Seq(3, 6), Seq(4, 7),
    Seq(0, 7), Seq(1, 3), Seq(-1, 2, 5), Seq(0, 3, 6), Seq(1, 4, 7), Seq(2, 5, 6),
    Seq(-1, 4, 7), Seq(3, 5, 7))

  /** The query set: [[Shapes]] over the words at [[QueryRanks]] of this
    * corpus's df order (each chosen by the seed among its 3 neighbours in
    * rank, ties in df broken by the word). Terms repeat across queries, so
    * a warm reader serves the whole set from its caches.
    */
  def querySet(seed: Long, c: Corpus): IndexedSeq[Seq[String]] = {
    val byDf = c.df.iterator.collect { case (t, d) if t.startsWith("w") => (t, d) }.toArray
      .sortBy { case (t, d) => (-d, t) }
    require(byDf.length > QueryRanks.max + 2, s"only ${byDf.length} words")
    val rng = new SplittableRandom(mix(seed, 17L, 0L))
    val words = QueryRanks.map(r => byDf(r - 1 + rng.nextInt(3))._1)
    Shapes.map(_.map(i => if (i < 0) Hot else words(i))).toIndexedSeq
  }

  /** One maintenance batch: `updates` existing conversations get new content,
    * `inserts` new ones appear, `deletes` disappear; every changed or new
    * conversation carries the batch's marker term.
    */
  final case class Batch(index: Int, marker: String, changed: Array[Turn],
      updated: Seq[String], inserted: Seq[String], deleted: Seq[String]) {
    def expectedMarker: Long = (updated.length + inserted.length).toLong
    def changedTextBytes: Long = changed.map(_.text.getBytes("UTF-8").length.toLong).sum
  }

  /** Batches over a base corpus of `nConvs`; no conversation is touched by
    * two batches, so every batch's expectations are independent.
    */
  def batches(seed: Long, nConvs: Int, shape: Shape, count: Int, updates: Int,
      inserts: Int, deletes: Int): IndexedSeq[Batch] = {
    require(count * (updates + deletes) <= nConvs, "batches would touch a conversation twice")
    val zipf = new Zipf(shape.vocab, shape.zipfS)
    val rng = new SplittableRandom(mix(seed, 29L, count.toLong))
    val order = (0 until nConvs).toArray
    for (i <- order.indices.reverse) {
      val j = rng.nextInt(i + 1); val x = order(i); order(i) = order(j); order(j) = x
    }
    (0 until count).map { b =>
      val slice = order.slice(b * (updates + deletes), (b + 1) * (updates + deletes))
      val upd = slice.take(updates).sorted.map(convId).toSeq
      val del = slice.drop(updates).sorted.map(convId).toSeq
      val ins = (0 until inserts).map(i => f"n$b%03d_$i%05d")
      val marker = s"mk$b"
      val tsBase = (nConvs.toLong + b * 100000L) * shape.turnsPerConv
      val changed = (upd ++ ins).zipWithIndex.flatMap { case (c, i) =>
        conversation(seed, shape, zipf, c, b + 1, Seq(marker),
          tsBase + i.toLong * shape.turnsPerConv)
      }.toArray
      Batch(b, marker, changed, upd, ins, del)
    }
  }
}
