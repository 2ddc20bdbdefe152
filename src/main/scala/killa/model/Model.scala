package killa.model

import java.sql.Timestamp

import killa.codec.{Delta, Varint}

/** One turn of a multi-turn conversation transcript — the input row shape
  * (BASELINE.json input_hint). The analog of one line of a watched file in the
  * reference (FileAnalyzer.cs:69-78 reads line-by-line); the conversation
  * (all rows sharing conv_id) is the document, the analog of the file.
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** One (term, doc) postings fact: term frequency across all turns of the
  * conversation plus the doc length (carried inline so posting blocks are
  * self-contained at query time — Lucene-norms style).
  */
final case class TermDoc(term: String, docId: Long, tf: Long, dl: Long, bkt: Int)

/** One immutable posting block in the segment store, and the one owner of
  * the block byte format: the companion's [[PostingBlock.encode]] is the only
  * writer of a block, and `docs`/`tfs`/`dls` plus [[PostingBlock.decodeDocs]]
  * are the only readers. No engine file outside `killa.model` and
  * `killa.codec` names the codec (a `CodecSpec` case checks this).
  *
  * docsBin: delta+varint docIds (ascending); tfsBin/dlsBin: varint.
  * maxTf/minDl give an admissible block-max BM25 impact bound that stays
  * valid even if corpus stats (avgdl, N) drift under incremental maintenance:
  * impact tf/(tf + k1(1-b+b·dl/avgdl)) is increasing in tf and decreasing in
  * dl, so bound(maxTf, minDl) ≥ any member's impact for any avgdl > 0.
  *
  * `docs`/`tfs`/`dls` are the decoded payload, computed at most once per
  * instance, when a DAAT cursor first steps into the block: a reader's
  * cached blocks are decoded once and then shared, read-only, by every later
  * query and every parallel range. They are not part of the row (`@transient`,
  * outside the constructor), so a deserialized copy decodes for itself.
  */
final case class PostingBlock(
    term: String,
    blockId: Long,
    df: Long,
    n: Int,
    firstDoc: Long,
    lastDoc: Long,
    maxTf: Long,
    minDl: Long,
    docsBin: Array[Byte],
    tfsBin: Array[Byte],
    dlsBin: Array[Byte],
    bkt: Int) {
  @transient private[killa] lazy val docs: Array[Long] = PostingBlock.decodeDocs(docsBin, n)
  @transient private[killa] lazy val tfs: Array[Long] = Varint.decode(tfsBin, n)
  @transient private[killa] lazy val dls: Array[Long] = Varint.decode(dlsBin, n)
}

object PostingBlock {

  /** Encode one block from its parallel docId-ascending arrays (non-empty,
    * equal length): `n`, `firstDoc`, `lastDoc`, `maxTf` and `minDl` are
    * derived here, so no caller can disagree with the payload.
    */
  def encode(term: String, blockId: Long, df: Long, docs: Array[Long],
      tfs: Array[Long], dls: Array[Long], bkt: Int): PostingBlock = {
    val n = docs.length
    PostingBlock(term, blockId, df, n, docs(0), docs(n - 1), tfs.max, dls.min,
      Delta.encode(docs), Varint.encode(tfs), Varint.encode(dls), bkt)
  }

  /** The `n` docIds of a `docsBin` payload — for scans that project only
    * `(n, docsBin)` and never materialize a whole block.
    */
  def decodeDocs(docsBin: Array[Byte], n: Int): Array[Long] = Delta.decode(docsBin, n)
}

/** Per-partition build lineage + metrics row (north rule: "resumable from
  * per-partition checkpoints with lineage + doc/term/posting metrics recorded
  * per partition"). One row per term bucket per build/delta batch.
  *
  * status "done" = committed; "failed" = the wave threw — `error` carries the
  * fault (the lineage record the reference's silent swallow lacks,
  * TaskExtensions.cs:7). Resume treats failed buckets as pending and retries.
  */
final case class LedgerRow(
    buildId: String,
    step: String,
    bkt: Int,
    status: String,
    termCount: Long,
    postingCount: Long,
    blockCount: Long,
    bytes: Long,
    wallMs: Long,
    inputVersion: String,
    error: String = "")

/** One positional posting: the ascending global token positions of `term`
  * within document `docId` — position = rank under the stable
  * (turn_idx, token ordinal) order the north rule pins — delta+varint coded.
  * Basis of phrase queries (an extension beyond the reference, which has
  * none; its wildcard TODO is the nearest neighbor). The companion owns the
  * `posBin` format.
  */
final case class PosRow(term: String, docId: Long, np: Int, posBin: Array[Byte], bkt: Int)

object PosRow {

  /** One row from the doc's ascending positions of `term`. */
  def encode(term: String, docId: Long, positions: Array[Long], bkt: Int): PosRow =
    PosRow(term, docId, positions.length, Delta.encode(positions), bkt)

  /** The `np` ascending positions of a `posBin` payload. */
  def decode(posBin: Array[Byte], np: Int): Array[Long] = Delta.decode(posBin, np)
}
