package killa.query

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import killa.{Conf, TestSpark}
import killa.build.IndexWriter
import killa.codec.{Delta, Varint}
import killa.synth.Synth

/** A warm reader's cached blocks are decoded once and then shared, read-only,
  * by every query and every parallel DAAT range. Under concurrent clients on
  * the pooled path every answer must equal the distributed path's (whose
  * blocks are per-task copies), and afterwards the shared blocks' payloads
  * and decoded arrays must still equal a fresh decode.
  */
class SharedBlockSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val conf = Conf(nBuckets = 8, rangeDocs = 16, waveBuckets = 8, blockSize = 16)

  private lazy val root: String = {
    val turns = Synth.transcripts(spark, nConvs = 80, turnsPerConv = 6, seed = 23L).toDF()
    val r = TestSpark.freshDir("sharedblocks")
    new IndexWriter(spark, r, conf).fullBuild(turns, "b0")
    r
  }

  // (terms, conjunctive, mustNot, minShouldMatch)
  private val queries = Seq(
    (Seq("the"), false, Seq.empty[String], 1),
    (Seq("query", "filter", "join"), false, Nil, 1),
    (Seq("query", "filter"), true, Nil, 1),
    (Seq("the", "query"), false, Seq("filter"), 1),
    (Seq("query", "filter", "join"), false, Nil, 2))

  private def run(r: IndexReader, q: (Seq[String], Boolean, Seq[String], Int)): Seq[(String, Double)] =
    r.bm25TopKRows(q._1, 10, q._2, q._3, q._4).toSeq

  test("pooled warm queries from 4 threads equal the distributed path; shared blocks unchanged") {
    val pooled = new IndexReader(spark, root, conf.copy(localParBlocks = 1))
    val dist = new IndexReader(spark, root, conf.copy(localQueryBlocks = 0))
    val expected = queries.map(run(dist, _))
    assert(expected.forall(_.nonEmpty), "vacuous fixture")
    assert(queries.map(run(pooled, _)) == expected, "cold pooled != distributed")
    val terms = queries.flatMap(q => q._1 ++ q._3).distinct
    val cached = terms.map(t => t -> pooled.cachedBlocks(t)).toMap
    assert(cached.values.forall(bs => bs != null && bs.nonEmpty), "terms not cached")
    assert(cached.values.exists(_.length > 1), "no term spans several blocks")

    val clients = Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { c =>
        clients.submit(new Callable[Seq[String]] {
          def call(): Seq[String] = (0 until 50).flatMap { rep =>
            queries.indices.map(i => (i + c + rep) % queries.length).flatMap { i =>
              val got = run(pooled, queries(i))
              if (got == expected(i)) None else Some(s"client $c rep $rep query $i: $got")
            }
          }
        })
      }
      val failures = futures.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(failures.isEmpty, failures.take(3).mkString("; "))
    } finally clients.shutdownNow()

    // the very instances the clients scored are still the cached ones, and
    // equal a fresh read + decode of the store
    terms.foreach { t =>
      val bs = pooled.cachedBlocks(t)
      assert(bs eq cached(t), s"cache entry of $t replaced")
      val fresh = dist.postingBlocks(t).collect().sortBy(_.firstDoc)
      assert(bs.length == fresh.length, s"term=$t")
      bs.zip(fresh).foreach { case (b, f) =>
        val where = s"term=$t block=${b.blockId}"
        assert(b.blockId == f.blockId && b.n == f.n, where)
        assert(b.docsBin.sameElements(f.docsBin) && b.tfsBin.sameElements(f.tfsBin) &&
          b.dlsBin.sameElements(f.dlsBin), s"$where payload")
        assert(b.docs.sameElements(Delta.decode(f.docsBin, f.n)), s"$where docs")
        assert(b.tfs.sameElements(Varint.decode(f.tfsBin, f.n)), s"$where tfs")
        assert(b.dls.sameElements(Varint.decode(f.dlsBin, f.n)), s"$where dls")
      }
    }
  }
}
