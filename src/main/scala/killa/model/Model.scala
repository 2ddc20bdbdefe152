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

/** Docid-dictionary entry: conv_id → dense Long docId (the analog of the
  * reference's normalized-path document key, PathExtensions.cs:7-12), plus the
  * BM25 document length and the owning source (subscription analog,
  * FileAnalyzer.cs:91-142).
  */
final case class DocEntry(docId: Long, convId: String, dl: Long, source: String)

/** One (term, doc) postings fact: term frequency across all turns of the
  * conversation plus the doc length (carried inline so posting blocks are
  * self-contained at query time — Lucene-norms style).
  */
final case class TermDoc(term: String, docId: Long, tf: Long, dl: Long, bkt: Int)

/** Salted posting run: all (docId, tf, dl) of one (term, docId / rangeDocs)
  * slice — a CONTIGUOUS docId range — docId-sorted, varint-coded. Bounded at
  * rangeDocs postings per task regardless of term hotness (the explicit skew
  * handling demanded by the north rule), and because ranges tile the docId
  * domain in order, each run is independently block-encodable with no
  * cross-run merge.
  *
  * @param salt the range ordinal (docId / rangeDocs)
  */
final case class PostingRun(
    term: String,
    salt: Int,
    n: Int,
    docsBin: Array[Byte],
    tfsBin: Array[Byte],
    dlsBin: Array[Byte])

/** One immutable posting block in the segment store.
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
  @transient private[killa] lazy val docs: Array[Long] = Delta.decode(docsBin, n)
  @transient private[killa] lazy val tfs: Array[Long] = Varint.decode(tfsBin, n)
  @transient private[killa] lazy val dls: Array[Long] = Varint.decode(dlsBin, n)
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
  * none; its wildcard TODO is the nearest neighbor).
  */
final case class PosRow(term: String, docId: Long, np: Int, posBin: Array[Byte], bkt: Int)

/** A scored query hit. Tie order is (score desc, docId asc); docIds are
  * assigned by conv_id rank so this equals (score desc, conv_id asc).
  */
final case class Hit(docId: Long, convId: String, score: Double)
