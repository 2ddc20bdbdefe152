package killa.query

import killa.model.PostingBlock

/** Document-at-a-time scoring over posting blocks within one docId range —
  * the executor-side kernel of the distributed top-k (SURVEY.md §3.1 Spark
  * analog). Skipping uses each block's (firstDoc, lastDoc, maxTf, minDl)
  * metadata, and a block is decoded only when a doc in it is scored, stepped
  * over or sought into; the one block that decodes just to find a position
  * is the initial block straddling the range's low end:
  *
  *  - conjunctive mode (posting-list intersection): driven by max-of-heads;
  *    seeks skip whole blocks on metadata;
  *  - disjunctive mode: block-max WAND pruning (Ding & Suel 2011) —
  *    per-candidate upper bounds skip scoring, and when the SUM of all
  *    current block maxima can't reach the heap threshold, every cursor jumps
  *    to the nearest block end without decoding (whole-block skip). Admission
  *    uses ≥ so score-equal boundary docs are never dropped (SURVEY.md §7.5.1).
  *
  * Scores are summed in query-term order for every doc ⇒ bit-identical to
  * the relational oracle's ordered fold.
  */
object Daat {

  /** The docId of an exhausted cursor: above every real doc, so it never
    * equals a candidate and always wins a max-of-heads.
    */
  private final val End = Long.MaxValue

  /** Cursor over one term's blocks restricted to docId ∈ (lo, hi], its state
    * in three fields set once when it enters a block:
    *  - `cur`: the current docId, [[End]] once exhausted;
    *  - `end`: the block's lastDoc + 1, the block-max jump target;
    *  - `bound`: the block's weighted bound w · impact(maxTf, minDl).
    *
    * The constructor resolves the one block that straddles lo, which decodes
    * to find its first in-range doc. Every later block starts above lo, so
    * `cur = firstDoc` on entry is exact without a decode, and a block whose
    * firstDoc ≤ hi holds an in-range doc: liveness (`cur != End`) is read
    * from metadata alone, also for a block straddling hi.
    *
    * "Decode" is the block's own memo (`PostingBlock.docs`/`tfs`/`dls`): a
    * block is delta+varint-decoded at most once per instance, the first time
    * `tf`/`dl`/`next` or a seek into it needs its arrays, so a block skipped
    * on its bound is never decoded and a warm reader's cached blocks decode
    * once for every later query and parallel range. The cursor only reads
    * them; nothing writes into a block's decoded arrays.
    */
  private final class Cursor(blocks: Array[PostingBlock], lo: Long, hi: Long,
      w: Double, k1: Double, b: Double, avgdl: Double) {
    var cur: Long = End
    var end: Long = End
    var bound: Double = 0.0
    private var bi = 0
    private var i = 0 // position in the current block once it is decoded
    private var docs: Array[Long] = _ // null until the current block decodes
    private var tfs: Array[Long] = _
    private var dls: Array[Long] = _

    enter(blockAfter(0, lo))
    if (cur <= lo) { decode(); scanTo(lo + 1) }

    /** Index of the first block from `j` on whose lastDoc is > `doc`. */
    private def blockAfter(j0: Int, doc: Long): Int = {
      var j = j0
      while (j < blocks.length && blocks(j).lastDoc <= doc) j += 1
      j
    }

    /** Enter block `j` at its start, on metadata alone. */
    private def enter(j: Int): Unit = {
      bi = j
      i = 0
      docs = null
      if (j < blocks.length && blocks(j).firstDoc <= hi) {
        val blk = blocks(j)
        cur = blk.firstDoc
        end = blk.lastDoc + 1
        bound = w * Bm25.impact(blk.maxTf, blk.minDl, k1, b, avgdl)
      } else cur = End
    }

    private def decode(): Unit = {
      val blk = blocks(bi)
      docs = blk.docs
      tfs = blk.tfs
      dls = blk.dls
    }

    /** Step to the first doc ≥ target in the decoded current block, whose
      * lastDoc is ≥ target, so the raw scan ends in-block.
      */
    private def scanTo(target: Long): Unit = {
      var j = i
      while (docs(j) < target) j += 1
      i = j
      cur = if (docs(j) > hi) End else docs(j)
    }

    def tf: Long = { if (docs == null) decode(); tfs(i) }
    def dl: Long = { if (docs == null) decode(); dls(i) }

    def next(): Unit = {
      if (docs == null) decode()
      i += 1
      if (i == docs.length) enter(bi + 1)
      else cur = if (docs(i) > hi) End else docs(i)
    }

    /** Move to the first doc ≥ target. Blocks ending below target are
      * skipped on metadata, and a landing block that starts at or after
      * target stays undecoded.
      */
    def seek(target: Long): Unit = {
      if (cur >= target) return
      if (end <= target) {
        enter(blockAfter(bi + 1, target - 1))
        if (cur >= target) return
      }
      if (docs == null) decode()
      scanTo(target)
    }
  }

  /** Local top-k candidate set with score-tie retention: keeps every doc
    * whose score ties the running k-th-best, so the *global* tie-break
    * (score desc, conv_id asc — applied after the dictionary join) is exact
    * even though postings only carry docIds and docId order stops matching
    * conv_id order once maintenance has appended documents. A doc pruned
    * here scores strictly below ≥ k docs of its own range, so it can never
    * reach the global top-k under any tie-break.
    */
  private[query] final class TopK(k: Int, floor: Double = Double.NegativeInfinity) {
    // binary min-heap of the best ≤ k admitted scores, heap(0) the smallest
    private var heap = new Array[Double](math.max(1, math.min(k, 16)))
    private var heapSize = 0
    // admitted candidates in arrival order, as parallel primitive arrays
    private var bufDocs = new Array[Long](64)
    private var bufScores = new Array[Double](64)
    private var bufSize = 0
    // compaction keeps buf at O(k + ties-at-threshold) even under an
    // adversarial ascending-score order (every admission raises the
    // threshold, stranding earlier entries): evict sub-threshold entries
    // whenever buf outgrows the high-water mark. The mark doubles when a
    // compaction can't shrink (all survivors are genuine ties that drain()
    // must keep), so repeated no-op compactions amortize to O(1) per offer.
    private var compactAt = math.max(4 * k, 64)
    private[query] def bufferedCount: Int = bufSize
    // the floor (ES `min_score`) SEEDS the WAND threshold: block-max skips
    // engage from the first block instead of only after k admissions, and
    // admission `score >= threshold >= floor` makes every drained candidate
    // satisfy the floor by construction — min_score is a pruning GAIN here,
    // never a post-filter. Kept as a field (the scoring loops read it once
    // per candidate) and recomputed only when offer changes the heap:
    // floor while the heap holds < k scores, else max(floor, heap min).
    private var thr = floor
    def threshold: Double = thr
    def offer(score: Double, doc: Long): Unit = {
      if (score >= thr) { // ≥ admits ties (SURVEY.md §7.5.1)
        if (bufSize == bufDocs.length) {
          bufDocs = java.util.Arrays.copyOf(bufDocs, bufSize * 2)
          bufScores = java.util.Arrays.copyOf(bufScores, bufSize * 2)
        }
        bufDocs(bufSize) = doc
        bufScores(bufSize) = score
        bufSize += 1
        if (heapSize < k) {
          push(score)
          if (heapSize == k) thr = math.max(floor, heap(0))
        } else if (score > heap(0)) {
          replaceMin(score)
          thr = math.max(floor, heap(0))
        }
        if (bufSize > compactAt) {
          val t = thr
          var kept = 0
          var i = 0
          while (i < bufSize) {
            if (bufScores(i) >= t) {
              bufDocs(kept) = bufDocs(i)
              bufScores(kept) = bufScores(i)
              kept += 1
            }
            i += 1
          }
          bufSize = kept
          compactAt = math.max(math.max(4 * k, 64), 2 * bufSize)
        }
      }
    }
    def drain(): Iterator[(Long, Double)] = {
      val t = thr
      Iterator.range(0, bufSize).filter(bufScores(_) >= t).map(i => (bufDocs(i), bufScores(i)))
    }

    private def push(score: Double): Unit = {
      if (heapSize == heap.length)
        heap = java.util.Arrays.copyOf(heap, math.min(k.toLong, heapSize * 2L).toInt)
      var i = heapSize
      heapSize += 1
      while (i > 0 && heap((i - 1) >>> 1) > score) {
        heap(i) = heap((i - 1) >>> 1)
        i = (i - 1) >>> 1
      }
      heap(i) = score
    }

    /** Replace the minimum with `score` (> it) and sift down. */
    private def replaceMin(score: Double): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= heapSize) done = true
        else {
          val c = if (l + 1 < heapSize && heap(l + 1) < heap(l)) l + 1 else l
          if (heap(c) < score) { heap(i) = heap(c); i = c }
          else done = true
        }
      }
      heap(i) = score
    }
  }

  /** Score all qualifying docs with docId ∈ (lo, hi]; emit the local top-k
    * (score-ties at the threshold retained).
    *
    * @param termBlocks    per query term (in query order), that term's blocks
    *                      sorted by firstDoc; empty array = term absent.
    * @param weights       per-term premultiplied BM25 weight idf·(k1+1).
    * @param excludeBlocks per must-NOT term, that term's blocks sorted by
    *                      firstDoc: docs holding ANY of these terms are
    *                      filtered out before heap admission. Exclusion
    *                      cursors only ever seek forward (candidates are
    *                      non-decreasing in both modes) and skipped blocks
    *                      never decode; skipping admission keeps the WAND
    *                      threshold conservative, so pruning stays exact.
    * @param includeBlocks admission-time doc-values FILTER (the ES `bool` +
    *                      `filter` context): when non-empty, only docs
    *                      present in at least one include set (in practice
    *                      exactly one — the filter's encoded docId blocks)
    *                      reach the heap. The mirror image of exclusion:
    *                      same forward-only seek, same never-decode skips,
    *                      and skipped admission keeps the WAND threshold a
    *                      conservative lower bound — so the k-th filtered
    *                      result is exact, never a post-filtered hole.
    * @param minMatch      disjunctive-mode minimum_should_match (the ES
    *                      m-of-n bool query): a candidate is admitted only
    *                      when ≥ minMatch query terms are positioned at it.
    *                      Terms are distinct upstream, so the count of
    *                      cursors at the candidate IS the matched-clause
    *                      count. Pruning stays exact: skipping sub-m
    *                      candidates only keeps the WAND threshold
    *                      conservative, and once fewer than minMatch cursors
    *                      remain live NO later doc can reach m matches — the
    *                      scan terminates early (a prune plain WAND lacks).
    *                      ≤ 1 = plain disjunction; ignored in conjunctive
    *                      mode (all terms are required there).
    * @param floor         score floor (the ES `min_score` clause): docs
    *                      scoring below it never reach the heap, and the
    *                      floor seeds the WAND threshold so block-max
    *                      pruning engages from the first block — at true
    *                      corpus scale a selective floor skips most of a
    *                      hot term's postings without decoding them.
    */
  def scoreRange(
      termBlocks: Array[Array[PostingBlock]],
      weights: Array[Double],
      lo: Long, hi: Long, k: Int,
      conjunctive: Boolean,
      k1: Double, b: Double, avgdl: Double,
      excludeBlocks: Array[Array[PostingBlock]] = Array.empty,
      afterScore: Double = Double.PositiveInfinity,
      afterDoc: Long = Long.MinValue,
      includeBlocks: Array[Array[PostingBlock]] = Array.empty,
      minMatch: Int = 1,
      floor: Double = Double.NegativeInfinity): Iterator[(Long, Double)] = {
    val nT = termBlocks.length
    if (conjunctive && termBlocks.exists(_.isEmpty)) return Iterator.empty
    val cursors = Array.tabulate(nT)(t => new Cursor(termBlocks(t), lo, hi, weights(t), k1, b, avgdl))
    // exclusion and include cursors only seek (candidates are non-decreasing
    // in both modes) and never read a bound
    def filterCursors(sets: Array[Array[PostingBlock]]) =
      sets.map(new Cursor(_, lo, hi, 0.0, k1, b, avgdl))
    val exCursors = filterCursors(excludeBlocks)
    val incCursors = filterCursors(includeBlocks)
    // search-after cursor (deep pagination, the Lucene searchAfter analog):
    // admit only docs strictly after (afterScore desc, afterDoc asc) in the
    // result order. Skipped admission never loosens WAND pruning — the heap
    // threshold stays a valid lower bound for the page's top-k, and a doc
    // pruned by its upper bound can never belong to a later page's worth of
    // this page either. Defaults (+Inf, MinValue) admit everything.
    @inline def admitted(score: Double, doc: Long): Boolean =
      score < afterScore || (score == afterScore && doc > afterDoc)
    def holds(cs: Array[Cursor], doc: Long): Boolean = {
      var e = 0
      while (e < cs.length) {
        val c = cs(e)
        if (c.cur < doc) c.seek(doc)
        if (c.cur == doc) return true
        e += 1
      }
      false
    }
    // no include sets = unfiltered; otherwise doc must appear in one of them
    @inline def filtersPass(doc: Long): Boolean =
      !holds(exCursors, doc) && (incCursors.isEmpty || holds(incCursors, doc))
    val heap = new TopK(k, floor)

    if (conjunctive) {
      var done = false
      while (!done) {
        // max of heads; an exhausted cursor (End) ends the intersection
        var target = Long.MinValue
        var t = 0
        while (t < nT) { if (cursors(t).cur > target) target = cursors(t).cur; t += 1 }
        if (target == End) done = true
        else {
          var aligned = true
          t = 0
          while (t < nT && aligned) {
            val c = cursors(t)
            if (c.cur < target) c.seek(target)
            aligned = c.cur == target
            t += 1
          }
          if (aligned) {
            val pass = filtersPass(target)
            var score = 0.0
            t = 0
            while (t < nT) {
              val c = cursors(t)
              if (pass) score += Bm25.contrib(weights(t), c.tf, c.dl, k1, b, avgdl)
              c.next()
              t += 1
            }
            if (pass && admitted(score, target)) heap.offer(score, target)
          }
        }
      }
    } else {
      val mm = math.max(1, minMatch)
      var done = false
      while (!done) {
        // pass 1: live count, σ (the sum of the live blocks' bounds), the
        // nearest block end and the candidate
        var live = 0
        var sigma = 0.0
        var minEnd = End
        var cand = End
        var t = 0
        while (t < nT) {
          val c = cursors(t)
          if (c.cur != End) {
            live += 1
            sigma += c.bound
            if (c.end < minEnd) minEnd = c.end
            if (c.cur < cand) cand = c.cur
          }
          t += 1
        }
        if (live < mm) {
          // fewer than minMatch live cursors ⇒ no future doc can carry m
          // distinct query terms — terminate (an early-out plain WAND lacks)
          done = true
        } else if (sigma < heap.threshold) {
          // block-max WAND jump: no doc before the nearest block end can
          // reach the threshold, so every cursor jumps there on metadata
          t = 0
          while (t < nT) { cursors(t).seek(minEnd); t += 1 }
        } else {
          // pass 2: the bound from the blocks positioned at cand; nAt counts
          // the matched should-clauses for minimum_should_match
          var bound = 0.0
          var nAt = 0
          t = 0
          while (t < nT) {
            val c = cursors(t)
            if (c.cur == cand) { bound += c.bound; nAt += 1 }
            t += 1
          }
          val pass = nAt >= mm && bound >= heap.threshold && filtersPass(cand)
          // pass 3: score in query-term order, each cursor advanced right
          // after it is read (advance only when cand is not scored)
          var score = 0.0
          t = 0
          while (t < nT) {
            val c = cursors(t)
            if (c.cur == cand) {
              if (pass) score += Bm25.contrib(weights(t), c.tf, c.dl, k1, b, avgdl)
              c.next()
            }
            t += 1
          }
          if (pass && admitted(score, cand)) heap.offer(score, cand)
        }
      }
    }
    heap.drain()
  }
}
