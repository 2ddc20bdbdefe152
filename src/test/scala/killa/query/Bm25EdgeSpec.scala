package killa.query

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import killa.{Conf, TestSpark}
import killa.build.IndexWriter
import killa.synth.Synth

/** The edge rules every BM25 entry point shares, checked table-driven across
  * all six of them: null / empty / duplicate terms and mustNot collapse, an
  * empty query or k ≤ 0 is empty, disjunctive minShouldMatch above the
  * distinct term count is empty, a boost ≤ 0 is rejected, and a reader over
  * an empty root answers empty. Each rule runs on every entry point that has
  * the parameter it needs.
  */
class Bm25EdgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val conf = Conf(nBuckets = 8, rangeDocs = 16, waveBuckets = 3, blockSize = 16)

  private lazy val root: String = {
    val r = TestSpark.freshDir("bm25edge")
    new IndexWriter(spark, r, conf)
      .fullBuild(Synth.transcripts(spark, 40, 4, seed = 11L).toDF(), "b0")
    r
  }
  private lazy val reader = new IndexReader(spark, root, conf)
  private lazy val emptyReader = new IndexReader(spark, TestSpark.freshDir("bm25empty"), conf)

  private val vocab = Seq("query", "the", "join")

  /** Corpus statistics equal to the reader's own, so the sharded leg scores
    * like the plain one; an empty root gets a valid stand-in. */
  private def statsOf(r: IndexReader): CorpusStats =
    r.manifest.fold(CorpusStats(1L, 1.0, Map.empty))(m =>
      CorpusStats(m.numDocs, m.avgdl, r.termDf(vocab)))

  private def rows(df: DataFrame): Seq[(String, Double)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** One entry point behind a uniform call: (reader, terms, mustNot, k,
    * minShouldMatch, boosts) → rows in (score desc, conv_id asc) order. The
    * flags say which of k / minShouldMatch / boosts the entry point takes;
    * an argument it does not take is ignored.
    */
  private final case class Entry(name: String, hasK: Boolean, hasMsm: Boolean,
      hasBoosts: Boolean,
      call: (IndexReader, Seq[String], Seq[String], Int, Int, Map[String, Double]) =>
        Seq[(String, Double)]) {
    def apply(r: IndexReader, terms: Seq[String], mustNot: Seq[String] = Nil,
        k: Int = 10, msm: Int = 1,
        boosts: Map[String, Double] = Map.empty): Seq[(String, Double)] =
      call(r, terms, mustNot, k, msm, boosts).sortBy { case (c, s) => (-s, c) }
  }

  private val entries = Seq(
    Entry("bm25TopK", hasK = true, hasMsm = true, hasBoosts = true,
      (r, t, ex, k, msm, bo) =>
        rows(r.bm25TopK(t, k, mustNot = ex, minShouldMatch = msm, boosts = bo))),
    Entry("bm25TopKRows", hasK = true, hasMsm = true, hasBoosts = true,
      (r, t, ex, k, msm, bo) =>
        r.bm25TopKRows(t, k, mustNot = ex, minShouldMatch = msm, boosts = bo).toSeq),
    Entry("bm25TopKRowsStats", hasK = true, hasMsm = true, hasBoosts = true,
      (r, t, ex, k, msm, bo) =>
        r.bm25TopKRowsStats(t, k, statsOf(r), mustNot = ex, minShouldMatch = msm,
          boosts = bo).toSeq),
    // a cursor above every score: the first page
    Entry("bm25TopKAfter", hasK = true, hasMsm = false, hasBoosts = false,
      (r, t, ex, k, _, _) =>
        rows(r.bm25TopKAfter(t, k, "", Double.PositiveInfinity, mustNot = ex))),
    // the filter admits every live conversation
    Entry("bm25TopKFiltered", hasK = true, hasMsm = true, hasBoosts = true,
      (r, t, ex, k, msm, bo) =>
        rows(r.bm25TopKFiltered(t, k, r.allMembers, mustNot = ex,
          minShouldMatch = msm, boosts = bo))),
    Entry("bm25ScoredAll", hasK = false, hasMsm = true, hasBoosts = true,
      (r, t, ex, _, msm, bo) =>
        rows(r.bm25ScoredAll(t, mustNot = ex, minShouldMatch = msm, boosts = bo))))

  private def each(p: Entry => Boolean)(f: Entry => Unit): Unit =
    entries.filter(p).foreach(e => withClue(s"${e.name}: ")(f(e)))

  test("null, empty and duplicate terms and mustNot collapse to the clean query") {
    each(_ => true) { e =>
      val clean = e(reader, Seq("query", "the"), Seq("join"))
      assert(clean.nonEmpty, "vacuous fixture")
      assert(clean != e(reader, Seq("query", "the")), "mustNot excluded nothing")
      assert(e(reader, Seq(null, "", "query", "the", "query"),
        Seq("", null, "join", "join")) == clean)
    }
  }

  test("a query with no usable term is empty") {
    each(_ => true) { e =>
      assert(e(reader, Nil).isEmpty)
      assert(e(reader, Seq(null, "")).isEmpty)
      assert(e(reader, Seq(null, ""), Seq("the")).isEmpty)
    }
  }

  test("k <= 0 is empty") {
    each(_.hasK) { e =>
      assert(e(reader, Seq("query"), k = 1).nonEmpty, "vacuous fixture")
      assert(e(reader, Seq("query"), k = 0).isEmpty)
      assert(e(reader, Seq("query"), k = -1).isEmpty)
    }
  }

  test("disjunctive minShouldMatch above the distinct term count is empty") {
    each(_.hasMsm) { e =>
      // duplicates collapse first: two distinct terms, so 2 matches and 3 cannot
      assert(e(reader, Seq("query", "the", "query"), msm = 2).nonEmpty, "vacuous fixture")
      assert(e(reader, Seq("query", "the", "query"), msm = 3).isEmpty)
    }
  }

  test("a boost <= 0 is rejected, before any other rule") {
    each(_.hasBoosts) { e =>
      Seq(0.0, -1.0).foreach { bad =>
        intercept[IllegalArgumentException](e(reader, Seq("query"), boosts = Map("query" -> bad)))
        intercept[IllegalArgumentException](e(reader, Nil, boosts = Map("query" -> bad)))
        intercept[IllegalArgumentException](e(emptyReader, Seq("query"), k = 0,
          boosts = Map("query" -> bad)))
      }
    }
  }

  test("a reader over an empty root returns empty") {
    assert(emptyReader.manifest.isEmpty)
    each(_ => true) { e =>
      assert(e(emptyReader, Seq("query", "the"), Seq("join")).isEmpty)
    }
  }

  test("bm25TopKRowsStats: an empty corpus-statistics override is empty") {
    val m = reader.manifest.get
    val df = reader.termDf(vocab)
    assert(reader.bm25TopKRowsStats(Seq("query"), 10, statsOf(reader)).nonEmpty,
      "vacuous fixture")
    assert(reader.bm25TopKRowsStats(Seq("query"), 10, CorpusStats(0L, m.avgdl, df)).isEmpty)
    assert(reader.bm25TopKRowsStats(Seq("query"), 10, CorpusStats(m.numDocs, 0.0, df)).isEmpty)
  }
}
