package killa.query

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import killa.{Conf, TestSpark}
import killa.build.IndexWriter
import killa.model.Turn
import killa.synth.Synth

/** The positional index's two shared rules: every phrase / span / interval
  * entry point that needs positions refuses a snapshot without them (and the
  * membership shortcuts still answer there), and a positional scan reads only
  * the position dirs of the terms it asks for.
  */
class PositionalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val conf = Conf(nBuckets = 8, rangeDocs = 16, waveBuckets = 8, blockSize = 16)
  private val epoch = 1704067200000L // 2024-01-01T00:00:00Z

  /** (conv, secondsOffset, text) rows — one turn per conv, ts = epoch + off. */
  private def mkTurns(rows: (String, Int, String)*): DataFrame =
    rows.map { case (c, off, txt) =>
      Turn(c, 0, "user", txt, "", new Timestamp(epoch + off * 1000L))
    }.toDS().toDF()

  private def build(corpus: DataFrame, positions: Boolean = false): IndexReader = {
    val root = TestSpark.freshDir("pos")
    val w = new IndexWriter(spark, root, conf)
    w.fullBuild(corpus, "b0")
    if (positions) w.buildPositions(corpus, "pos1")
    new IndexReader(spark, root, conf)
  }

  private def members(df: DataFrame): Set[String] =
    df.collect().map(_.getString(0)).toSet

  test("no positional index: every positional entry point names buildPositions; membership shortcuts still answer") {
    val r = build(mkTurns(
      ("a", 0, "alpha beta gamma"),
      ("b", 60, "beta alpha delta"),
      ("c", 120, "gamma delta")))
    val positional: Seq[(String, () => DataFrame)] = Seq(
      "phrase" -> (() => r.phrase(Seq("alpha", "beta"))),
      "phrasePrefix" -> (() => r.phrasePrefix(Seq("alpha"), "be")),
      "spanFirst" -> (() => r.spanFirst("alpha", 3)),
      "spanNear" -> (() => r.spanNear(Seq("alpha", "beta"), 1)),
      "spanNearAny" -> (() => r.spanNearAny(Seq(Seq("alpha"), Seq("beta", "delta")), 1)),
      "intervalsOrdered" -> (() => r.intervalsOrdered(Seq("alpha", "beta"), 1)),
      "intervalsAnyOf" -> (() => r.intervalsAnyOf(Seq(Seq("gamma"), Seq("alpha", "beta")), 1)),
      "spanMultiNear" -> (() => r.spanMultiNear("be", 10, Seq("alpha"), 2)),
      "spanNot" -> (() => r.spanNot("alpha", "beta", 1, 1)),
      "spanContaining" -> (() => r.spanContaining("alpha", "gamma", 2, "beta")),
      "spanWithin" -> (() => r.spanWithin("alpha", "gamma", 2, "beta")))
    positional.foreach { case (name, run) =>
      val e = intercept[IllegalStateException](run().collect())
      assert(e.getMessage.contains("IndexWriter.buildPositions"), s"$name: ${e.getMessage}")
    }
    val alpha = members(r.membership("alpha"))
    assert(alpha == Set("a", "b"))
    assert(members(r.phrase(Seq("alpha"))) == alpha)
    assert(members(r.spanNear(Seq("alpha", "alpha"), 1)) == alpha)
    assert(members(r.intervalsOrdered(Seq("alpha"), 1)) == alpha)
    assert(members(r.spanNot("alpha", "", 1, 1)) == alpha)
  }

  test("termPosPaths prunes the positional scan to the terms' position dirs, losslessly") {
    val turns = Synth.transcripts(spark, nConvs = 50, turnsPerConv = 5, seed = 17L).toDF()
    val r = build(turns, positions = true)
    val m = r.manifest.get
    val all = m.posBuckets.keys.toSeq.sorted.flatMap(m.posPath)
    assert(all.size >= 4, s"fixture spread too narrow: ${all.size} position dirs")
    def positionRows(paths: Seq[String], ts: Seq[String]): Set[(String, Long, Int)] =
      spark.read.parquet(paths: _*)
        .where(col("term").isin(ts: _*))
        .select("term", "docId", "np").as[(String, Long, Int)]
        .collect().toSet
    for (ts <- Seq(Seq("query"), Seq("spark", "filter"), Seq("the", "query", "join"))) {
      val pruned = r.termPosPaths(ts)
      assert(pruned.nonEmpty, s"false prune for $ts")
      assert(pruned.size <= ts.size && pruned.size < all.size,
        s"terms $ts pruned to ${pruned.size} of ${all.size} dirs — no pruning?")
      assert(pruned.toSet.subsetOf(all.toSet))
      val want = positionRows(all, ts)
      assert(want.nonEmpty, s"fixture holds none of $ts")
      assert(positionRows(pruned, ts) == want, s"pruned positions diverged for $ts")
    }
    assert(r.termPosPaths(Nil).isEmpty)
    // the phrase kernel (the consumer) still answers on the pruned scan
    assert(members(r.phrase(Seq("the", "query"), 2)).nonEmpty)
  }
}
