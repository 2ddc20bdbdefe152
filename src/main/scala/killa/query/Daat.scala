package killa.query

import killa.model.PostingBlock

/** Document-at-a-time scoring over posting blocks within one docId range —
  * the executor-side kernel of the distributed top-k (SURVEY.md §3.1 Spark
  * analog). Blocks decode lazily; skipping uses their (firstDoc, lastDoc,
  * maxTf, minDl) metadata:
  *
  *  - conjunctive mode (posting-list intersection): driven by max-of-heads;
  *    seek() skips and never decodes non-overlapping blocks;
  *  - disjunctive mode: block-max WAND-style pruning — per-candidate upper
  *    bounds skip scoring, and when the SUM of all current block maxima
  *    can't reach the heap threshold, every cursor jumps to the next block
  *    boundary without decoding (whole-block skip). Admission uses ≥ so
  *    score-equal boundary docs are never dropped (SURVEY.md §7.5.1).
  *
  * Scores are summed in query-term order for every doc ⇒ bit-identical to
  * the relational oracle's ordered fold.
  */
object Daat {

  /** Cursor over one term's blocks restricted to docId ∈ (lo, hi].
    * Decode is TRULY lazy: liveness (`exhausted`), block bounds
    * (`blockMaxImpact`, `blockEndExclusive`) and block-skip seeks all run on
    * block METADATA alone for blocks fully inside (lo, hi]; only `doc`/score
    * access decodes. Before this, every whole-block WAND skip still decoded
    * its landing block (seek → ensureDecoded, advanceBlock → ensureDecoded),
    * so a hot term's full posting list was delta+varint-decoded on every
    * query even when the threshold pruned all of it — measured as the
    * dominant term in hot single-term latency. The only blocks that must
    * decode for exact liveness are the ≤ 2 straddling a range boundary
    * (their in-range slice can be empty); interior blocks are live by
    * construction (every stored posting is a real doc).
    *
    * "Decode" is the block's own memo (`PostingBlock.docs`/`tfs`/`dls`): a
    * block is delta+varint-decoded at most once per instance, the first time
    * any cursor steps into it, so a warm reader's cached blocks decode once
    * and every later query and parallel range reads the same arrays. The
    * cursor only reads them; nothing writes into a block's decoded arrays.
    */
  private final class TermCursor(blocks: Array[PostingBlock], lo: Long, hi: Long) {
    private var bi = 0
    private var i = 0
    private var decoded = false
    private var docs: Array[Long] = _
    private var tfs: Array[Long] = _
    private var dls: Array[Long] = _
    private var dead = false
    skipBlocksBelowLo()

    private def skipBlocksBelowLo(): Unit = {
      while (bi < blocks.length && blocks(bi).lastDoc <= lo) bi += 1
      if (bi >= blocks.length || blocks(bi).firstDoc > hi) dead = true
    }

    /** Decode the current block and position at the first in-range doc;
      * blocks whose in-range slice is empty (boundary straddles only) are
      * passed over without decoding their successors' payloads.
      */
    private def ensureDecoded(): Unit = {
      while (!dead && !decoded) {
        val b = blocks(bi)
        docs = b.docs
        tfs = b.tfs
        dls = b.dls
        i = 0
        while (i < b.n && docs(i) <= lo) i += 1
        decoded = true
        if (i >= b.n) { // whole block ≤ lo (lo-straddle): step to the next
          bi += 1
          decoded = false
          if (bi >= blocks.length || blocks(bi).firstDoc > hi) dead = true
        } else if (docs(i) > hi) dead = true
      }
    }

    /** Leave the current block; decode of the next block is DEFERRED — the
      * caller may skip it wholesale before ever touching a payload byte.
      */
    private def advanceBlock(): Unit = {
      bi += 1
      decoded = false
      if (bi >= blocks.length || blocks(bi).firstDoc > hi) dead = true
    }

    /** Exact liveness, metadata-only for interior blocks: a block with
      * firstDoc > lo and lastDoc ≤ hi contains ≥ 1 in-range doc by
      * construction (all its stored postings are real docs in (lo, hi]).
      * Only boundary-straddling blocks decode to decide.
      */
    def exhausted: Boolean = {
      if (dead) return true
      if (decoded) return false
      val b = blocks(bi)
      if (b.firstDoc > lo && b.lastDoc <= hi) false
      else { ensureDecoded(); dead }
    }

    /** Current docId — metadata-exact without decoding in the deferred
      * states: an undecoded cursor is always positioned at its block's
      * start (advanceBlock and deferred seeks land there), and every seek
      * target / block boundary is > lo, so the first in-range doc IS
      * firstDoc. The only exception is the initial lo-straddling block
      * (firstDoc ≤ lo), which decodes once.
      */
    def doc: Long = {
      if (decoded) return docs(i)
      val b = blocks(bi)
      if (b.firstDoc > lo) b.firstDoc
      else { ensureDecoded(); docs(i) }
    }
    def tf: Long = { if (!decoded) ensureDecoded(); tfs(i) }
    def dl: Long = { if (!decoded) ensureDecoded(); dls(i) }

    def next(): Unit = {
      // stepping INTO a block needs its payload; the guard is inline so the
      // common decoded-state step stays 3 ops (a call per posting measured
      // 3x on dense conjunctive scans)
      if (!decoded) { ensureDecoded(); if (dead) return }
      i += 1
      if (i >= docs.length) advanceBlock()
      else if (docs(i) > hi) dead = true
    }

    /** Seek to the first posting with docId ≥ target. Whole blocks with
      * lastDoc < target are skipped via metadata, and a landing block whose
      * firstDoc ≥ target stays UNDECODED (every doc in it already satisfies
      * the seek — decode happens only if scoring later touches it).
      */
    def seek(target: Long): Unit = {
      if (dead) return
      if (decoded) {
        if (docs(i) >= target) return
        if (blocks(bi).lastDoc >= target) {
          // target lives in the current decoded block (lastDoc is a real
          // doc ≥ target, so this raw scan always terminates in-block —
          // no per-step next() call overhead on the dense-intersection path)
          var j = i
          while (docs(j) < target) j += 1
          i = j
          if (docs(i) > hi) dead = true
          return
        }
      }
      if (blocks(bi).lastDoc < target) {
        decoded = false
        while (bi < blocks.length && blocks(bi).lastDoc < target) bi += 1
        if (bi >= blocks.length || blocks(bi).firstDoc > hi) { dead = true; return }
      }
      if (blocks(bi).firstDoc >= target) return // block start ≥ target: defer decode
      ensureDecoded()
      if (dead) return
      if (docs(i) >= target) return
      // the landing block's lastDoc ≥ target (skip-loop exit condition), so
      // this raw scan terminates in-block, no per-step call overhead
      var j = i
      while (docs(j) < target) j += 1
      i = j
      if (docs(i) > hi) dead = true
    }

    // memoized per block: the disjunctive loop re-reads the bound every
    // candidate (sigma + per-candidate bound), which recomputed the same
    // division thousands of times per block before this cache
    private var impactBi = -1
    private var impactVal = 0.0

    /** Admissible impact bound of the CURRENT block (no decode needed). */
    def blockMaxImpact(k1: Double, b: Double, avgdl: Double): Double = {
      if (impactBi != bi) {
        val blk = blocks(bi)
        impactVal = Bm25.impact(blk.maxTf, blk.minDl, k1, b, avgdl)
        impactBi = bi
      }
      impactVal
    }

    /** First docId after the current block (block-skip jump target). */
    def blockEndExclusive: Long = blocks(bi).lastDoc + 1
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
    val cursors = termBlocks.map(new TermCursor(_, lo, hi))
    val exCursors = excludeBlocks.map(new TermCursor(_, lo, hi))
    val nEx = exCursors.length
    val incCursors = includeBlocks.map(new TermCursor(_, lo, hi))
    val nInc = incCursors.length
    // search-after cursor (deep pagination, the Lucene searchAfter analog):
    // admit only docs strictly after (afterScore desc, afterDoc asc) in the
    // result order. Skipped admission never loosens WAND pruning — the heap
    // threshold stays a valid lower bound for the page's top-k, and a doc
    // pruned by its upper bound can never belong to a later page's worth of
    // this page either. Defaults (+Inf, MinValue) admit everything.
    @inline def admitted(score: Double, doc: Long): Boolean =
      score < afterScore || (score == afterScore && doc > afterDoc)
    def excluded(doc: Long): Boolean = {
      var e = 0
      while (e < nEx) {
        val c = exCursors(e)
        if (!c.exhausted) {
          c.seek(doc)
          if (!c.exhausted && c.doc == doc) return true
        }
        e += 1
      }
      false
    }
    // no include sets = unfiltered; otherwise doc must appear in one of them
    // (include cursors seek forward only — candidates are non-decreasing)
    def included(doc: Long): Boolean = {
      if (nInc == 0) return true
      var e = 0
      while (e < nInc) {
        val c = incCursors(e)
        if (!c.exhausted) {
          c.seek(doc)
          if (!c.exhausted && c.doc == doc) return true
        }
        e += 1
      }
      false
    }
    val heap = new TopK(k, floor)

    // closure-free liveness probes: these run once per candidate in the
    // hottest serving loop — `forall`/`count` allocated a lambda per call
    @inline def allLive(): Boolean = {
      var t = 0
      while (t < nT) { if (cursors(t).exhausted) return false; t += 1 }
      true
    }
    @inline def liveCount(): Int = {
      var n = 0
      var t = 0
      while (t < nT) { if (!cursors(t).exhausted) n += 1; t += 1 }
      n
    }

    if (conjunctive) {
      while (allLive()) {
        var target = Long.MinValue
        var t = 0
        while (t < nT) { if (cursors(t).doc > target) target = cursors(t).doc; t += 1 }
        var aligned = true
        t = 0
        while (t < nT && aligned) {
          cursors(t).seek(target)
          if (cursors(t).exhausted) return heap.drain()
          if (cursors(t).doc != target) aligned = false
          t += 1
        }
        if (aligned) {
          if (!excluded(target) && included(target)) {
            var score = 0.0
            t = 0
            while (t < nT) {
              score += Bm25.contrib(weights(t), cursors(t).tf, cursors(t).dl, k1, b, avgdl)
              t += 1
            }
            if (admitted(score, target)) heap.offer(score, target)
          }
          t = 0
          while (t < nT) { cursors(t).next(); t += 1 }
        }
      }
    } else {
      val mm = math.max(1, minMatch)
      var live = liveCount()
      // fewer than minMatch live cursors ⇒ no future doc can carry m distinct
      // query terms — terminate (an early-out plain WAND doesn't have)
      while (live >= mm) {
        // block-max WAND jump: if even the sum of ALL live cursors' current
        // block maxima can't reach the threshold, no doc before the nearest
        // block boundary can qualify — jump every cursor there (skipped
        // blocks are never decoded)
        var sigma = 0.0
        var minEnd = Long.MaxValue
        var t = 0
        while (t < nT) {
          if (!cursors(t).exhausted) {
            sigma += weights(t) * cursors(t).blockMaxImpact(k1, b, avgdl)
            if (cursors(t).blockEndExclusive < minEnd) minEnd = cursors(t).blockEndExclusive
          }
          t += 1
        }
        if (sigma < heap.threshold) {
          t = 0
          while (t < nT) { if (!cursors(t).exhausted) cursors(t).seek(minEnd); t += 1 }
        } else {
          var cand = Long.MaxValue
          t = 0
          while (t < nT) {
            if (!cursors(t).exhausted && cursors(t).doc < cand) cand = cursors(t).doc
            t += 1
          }
          // per-candidate bound from the blocks actually positioned at cand;
          // nAt counts the matched should-clauses for minimum_should_match
          var bound = 0.0
          var nAt = 0
          t = 0
          while (t < nT) {
            if (!cursors(t).exhausted && cursors(t).doc == cand) {
              bound += weights(t) * cursors(t).blockMaxImpact(k1, b, avgdl)
              nAt += 1
            }
            t += 1
          }
          if (nAt >= mm && bound >= heap.threshold && !excluded(cand) && included(cand)) {
            var score = 0.0
            t = 0
            while (t < nT) {
              if (!cursors(t).exhausted && cursors(t).doc == cand) {
                score += Bm25.contrib(weights(t), cursors(t).tf, cursors(t).dl, k1, b, avgdl)
              }
              t += 1
            }
            if (admitted(score, cand)) heap.offer(score, cand)
          }
          t = 0
          while (t < nT) {
            if (!cursors(t).exhausted && cursors(t).doc == cand) cursors(t).next()
            t += 1
          }
        }
        live = liveCount()
      }
    }
    heap.drain()
  }
}
