package killa

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.jdk.CollectionConverters._

import killa.codec.{Delta, Varint}
import killa.model.{PosRow, PostingBlock}

class CodecSpec extends AnyFunSuite {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  test("varint roundtrip on non-negative longs") {
    samples(Gen.listOf(Gen.chooseNum(0L, Long.MaxValue)), 100).foreach { vs =>
      val arr = vs.toArray
      assert(Varint.decode(Varint.encode(arr), arr.length).sameElements(arr))
    }
  }

  test("varint boundaries") {
    val edges = Array(0L, 127L, 128L, 16383L, 16384L, Int.MaxValue.toLong, Long.MaxValue)
    assert(Varint.decode(Varint.encode(edges), edges.length).sameElements(edges))
  }

  test("delta roundtrip on strictly ascending sequences") {
    samples(Gen.listOf(Gen.chooseNum(1L, 1000000L)), 100).foreach { gaps =>
      val asc = gaps.scanLeft(0L)(_ + _).tail.toArray
      assert(Delta.decode(Delta.encode(asc), asc.length).sameElements(asc))
    }
  }

  test("delta rejects non-ascending input") {
    intercept[IllegalArgumentException] { Delta.encode(Array(5L, 5L)) }
    intercept[IllegalArgumentException] { Delta.encode(Array(5L, 3L)) }
  }

  test("compression is effective on dense docId runs") {
    val dense = Array.tabulate(10000)(i => i.toLong * 2)
    assert(Delta.encode(dense).length < 10000 * 2)
  }

  /** Seeded random block columns: strictly ascending docs, tf and dl ≥ 1. */
  private def randomBlock(rnd: scala.util.Random, n: Int)
      : (Array[Long], Array[Long], Array[Long]) = {
    val docs = new Array[Long](n)
    var d = rnd.nextInt(1000).toLong
    for (i <- 0 until n) { docs(i) = d; d += 1 + rnd.nextInt(5000) }
    (docs, Array.fill(n)(1L + rnd.nextInt(300)), Array.fill(n)(1L + rnd.nextInt(100000)))
  }

  test("PostingBlock.encode: payloads round-trip, stats derive, bytes match the direct codec") {
    val rnd = new scala.util.Random(7L)
    for (n <- Seq(1, 2, Conf.default.blockSize); _ <- 0 until 20) {
      val (docs, tfs, dls) = randomBlock(rnd, n)
      val blk = PostingBlock.encode("t", 3L, 9L, docs, tfs, dls, 5)
      assert(blk.term == "t" && blk.blockId == 3L && blk.df == 9L && blk.bkt == 5)
      assert(blk.n == n && blk.firstDoc == docs.head && blk.lastDoc == docs.last)
      assert(blk.maxTf == tfs.max && blk.minDl == dls.min)
      assert(blk.docsBin.sameElements(Delta.encode(docs)))
      assert(blk.tfsBin.sameElements(Varint.encode(tfs)))
      assert(blk.dlsBin.sameElements(Varint.encode(dls)))
      assert(blk.docs.sameElements(docs) && blk.tfs.sameElements(tfs) && blk.dls.sameElements(dls))
      assert(PostingBlock.decodeDocs(blk.docsBin, n).sameElements(docs))
    }
  }

  test("PosRow.encode: positions round-trip and bytes match the direct codec") {
    val rnd = new scala.util.Random(11L)
    for (n <- Seq(1, 2, Conf.default.blockSize); _ <- 0 until 20) {
      val (positions, _, _) = randomBlock(rnd, n)
      val row = PosRow.encode("t", 4L, positions, 2)
      assert(row.term == "t" && row.docId == 4L && row.np == n && row.bkt == 2)
      assert(row.posBin.sameElements(Delta.encode(positions)))
      assert(PosRow.decode(row.posBin, row.np).sameElements(positions))
    }
  }

  test("only killa.codec and killa.model name the codec in src/main/scala") {
    val base = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(base), s"no source tree at ${base.toAbsolutePath}")
    val owners = Set("killa/codec/", "killa/model/")
    val uses = "\\b(Delta|Varint)\\.".r
    val walk = java.nio.file.Files.walk(base)
    val offenders = try {
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
        .map(p => base.relativize(p).toString.replace('\\', '/'))
        .filterNot(rel => owners.exists(rel.startsWith))
        .filter { rel =>
          val src = new String(java.nio.file.Files.readAllBytes(base.resolve(rel)), "UTF-8")
          uses.findFirstIn(src).isDefined
        }
    } finally walk.close()
    assert(offenders.isEmpty,
      s"the posting/position byte format belongs to killa.model; these files name the codec: $offenders")
  }
}
