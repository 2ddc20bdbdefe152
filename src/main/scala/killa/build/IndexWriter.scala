package killa.build

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import killa.Conf
import killa.model._
import killa.store.{Manifest, SegmentStore}
import killa.tokenize.Tokenize
import killa.util.Hashing

/** Batch index build: transcripts → forward index (doc → term/tf) →
  * range-salted posting aggregation → delta+varint posting blocks → bucketed
  * segment store with manifest snapshots.
  *
  * This is the Spark re-architecture of the reference's Subscribe backfill
  * (FileAnalyzer.cs:91-142: enumerate files → per-file ParseTokens →
  * Indexer.Add) — same invariant (the inverted index is a pure function of
  * the forward index, Indexer.cs:117-123), enforced by construction as a
  * deterministic batch dataflow instead of mutation events.
  *
  * Scale design (SURVEY.md §3.2): two posting-volume shuffles — (1)
  * groupBy(conv_id, term) tf with map-side partial aggregation, (2) posting
  * runs keyed (term, docId / rangeDocs) so a hot term ("the" in half of
  * 10^12 turns) never puts more than rangeDocs postings on one task, at run
  * build OR block emission (ranges are contiguous docId slices, so blocks
  * build per range with no cross-range merge — see [[IndexWriter.buildBlocks]]).
  * Build work is wave-partitioned by term bucket: each wave commits segments
  * + ledger rows + a new manifest version, giving kill/resume at bucket
  * grain and reference-style partial visibility mid-build
  * (FileAnalyzerTests.cs:289-317).
  */
final class IndexWriter(spark: SparkSession, root: String, conf: Conf = Conf.default) {
  import IndexWriter._

  private def fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def timing(msg: String): Unit =
    if (sys.env.contains("KILLA_BUILD_TIMING")) System.err.println(s"[killa-timing] $msg")

  /** Build (or resume) a full index over `turns`. Returns the final manifest.
    *
    * @param maxWaves test hook for kill/resume: stop after N waves (the build
    *                 is then incomplete; calling fullBuild again resumes from
    *                 the ledger and produces byte-identical final segments).
    * @param waveHook test hook called with the wave's first bucket before the
    *                 wave runs — lets specs inject a wave fault and assert
    *                 the failed-status ledger capture + retry-on-resume.
    */
  def fullBuild(
      turns: DataFrame,
      buildId: String,
      source: String = "default",
      maxWaves: Int = Int.MaxValue,
      waveHook: Int => Unit = _ => ()): Option[Manifest] = {
    val tPrep0 = System.nanoTime()
    val (desc, fwdInMem, prepCleanup) = prepareForward(turns, buildId, source)
    timing(s"prepareForward ${(System.nanoTime() - tPrep0) / 1e9}s")
    val done = Ledger.doneBuckets(spark, root, buildId, "segments")
    val pending = (0 until conf.nBuckets).filterNot(done)
    // A manifest already at root that THIS build did not commit (a fresh
    // build over a previously-populated root) must not be merged into: its
    // docsDirs/forwardDirs/stats describe the old corpus while the new
    // buckets carry docIds from a fresh dictionary — queries would join new
    // docIds against the old docs log. Only a resume (this buildId already
    // committed waves, per the ledger) chains onto the latest manifest; a
    // fresh build starts from a manifest derived from its own BuildDesc and
    // REPLACES the old index at its first wave commit.
    var manifest: Option[Manifest] =
      if (done.nonEmpty) SegmentStore.latest(spark, root) else None
    val waves = pending.grouped(conf.waveBuckets).toSeq.take(maxWaves)
    val singleWave = waves.size == 1 && done.isEmpty
    try {
      waves.foreach { wave =>
        val t0 = System.nanoTime()
        val commitDir = s"$root/data/$buildId-w${wave.head}"
        try {
          waveHook(wave.head)
          // single uninterrupted wave: consume the just-computed forward rows
          // directly (skips a parquet read-back of the whole forward table).
          // Multi-wave / resume paths read the MERGED forward log instead —
          // the build's own input PLUS any maintenance deltas committed
          // between waves — so a delete landing mid-build cancels the doc's
          // pending waves (the reference's CancelTasks on Deleted,
          // BackgroundTaskQueue.cs:74-84) and a mid-build update's rows win
          // by batchSeq instead of being overwritten by stale input.
          val fwd = fwdInMem.filter(_ => singleWave).getOrElse {
            val m = manifest.getOrElse(Manifest(0, conf.nBuckets, Map.empty,
              Seq(desc.docsDir), Seq(desc.forwardDir),
              desc.numDocs, desc.totalTokens, desc.avgdl, desc.maxDocId, 0L))
            killa.store.Logs.forwardPruned(spark, m, Some(wave))
          }
          val blocks = buildBlocks(spark, fwd, conf)
          // aligned: buildBlocks' co-partitioned df join already placed the
          // blocks by hash(bkt) — the write re-shuffled the same placement
          writeBlocks(blocks, commitDir, aligned = true)
          val wallMs = (System.nanoTime() - t0) / 1000000L
          timing(s"wave ${wave.head}: blocks ${wallMs}ms")
          val tm0 = System.nanoTime()
          // one fused read-back job for ledger metrics AND dict summaries —
          // the commit dir was scanned twice per wave before (guide §2.4)
          val (metrics, dicts) = bucketMetricsAndDicts(spark, commitDir)
          timing(s"wave ${wave.head}: metrics+dicts ${(System.nanoTime() - tm0) / 1000000L}ms")
          Ledger.append(spark, root, wave.map { b =>
            val (tc, pc, bc, by) = metrics.getOrElse(b, (0L, 0L, 0L, 0L))
            LedgerRow(buildId, "segments", b, "done", tc, pc, bc, by, wallMs, desc.forwardDir)
          })
          val base = manifest.getOrElse(
            Manifest(0, conf.nBuckets, Map.empty, Seq(desc.docsDir), Seq(desc.forwardDir),
              desc.numDocs, desc.totalTokens, desc.avgdl, desc.maxDocId, 0L))
          manifest = Some(SegmentStore.commit(spark, root,
            base.copy(buckets = base.buckets ++ wave.map(_ -> commitDir),
              bucketDicts = base.bucketDicts -- wave ++ dicts)))
        } catch {
          case e: Throwable =>
            // failure capture (SURVEY.md §2 op 24): the fault becomes a
            // lineage row instead of vanishing — the manifest is untouched
            // (the wave never committed), and resume retries the buckets
            // because doneBuckets only counts status "done"
            Ledger.append(spark, root, wave.map { b =>
              LedgerRow(buildId, "segments", b, "failed", 0L, 0L, 0L, 0L,
                (System.nanoTime() - t0) / 1000000L, desc.forwardDir,
                s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
            })
            throw e
        }
      }
    } finally prepCleanup()
    manifest
  }

  /** Optional positional index over `turns` for phrase queries. One row per
    * (term, docId): delta+varint position list, hive-partitioned by term
    * bucket like the posting segments (same pruning). Positions are global
    * token ranks under the stable (turn_idx, token ordinal) order. Scale
    * shape: the window sorts per conversation (doc-bounded), the aggregation
    * collects one term's positions within one doc (doc-bounded) — no hot-key
    * amplification because the grouping key is (term, docId), never bare
    * term. Committed as manifest.posBuckets (bucket → bkt_p dir); content
    * batches REWRITE only the affected buckets (IndexMaintainer positions
    * step), pure delete/rename batches touch nothing — docIds are stable and
    * dead docs filter out at query time.
    */
  def buildPositions(turns: DataFrame, buildId: String): Manifest = {
    val m0 = SegmentStore.latest(spark, root)
      .getOrElse(throw new IllegalStateException(s"no index at $root — run a full build first"))
    val dir = s"$root/positions/$buildId"
    val dict = killa.store.Logs.docsAlive(spark, m0)
      .select(col("convId").as("conv_id"), col("docId"))
    positionRows(turns, dict, conf.nBuckets).toDF().withColumn("bkt_p", col("bkt"))
      .repartition(col("bkt_p")).sortWithinPartitions("term", "docId")
      .write.partitionBy("bkt_p").mode("overwrite").parquet(dir)
    Ledger.append(spark, root, Seq(
      LedgerRow(buildId, "positions", -1, "done", 0L, 0L, 0L, 0L, 0L, dir)))
    // bucket → bkt_p leaf dir, from what the write actually produced (empty
    // buckets create no partition dir)
    val fsys = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val posBuckets = fsys.listStatus(new Path(dir)).map(_.getPath.getName)
      .collect { case n if n.startsWith("bkt_p=") =>
        n.stripPrefix("bkt_p=").toInt -> s"$dir/$n"
      }.toMap
    SegmentStore.commit(spark, root, m0.copy(posBuckets = posBuckets))
  }

  /** Step A (idempotent, ledgered): tokenize, docId dictionary, doc stats,
    * forward index write. Reused untouched on resume.
    */
  private def prepareForward(turns: DataFrame, buildId: String, source: String)
      : (BuildDesc, Option[DataFrame], () => Unit) = {
    val descPath = new Path(s"$root/builds/$buildId.json")
    if (fs.exists(descPath)) return (readDesc(spark, descPath), None, () => ())

    import spark.implicits._
    val docsDir = s"$root/docs/$buildId"
    val forwardDir = s"$root/forward/$buildId"

    // One shuffle pins conv_id co-location: the tf aggregation, the dl
    // aggregation and the dictionary join below then all run partition-local
    // (HashPartitioning(conv_id) satisfies their required distributions).
    // tf is persisted because three downstream jobs (docs write, forward
    // write, stats) would otherwise re-tokenize the whole corpus each.
    val byConv = turns.select(col("conv_id"), col("text")).repartition(col("conv_id"))
    val toks = byConv.select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
    val tf = toks.groupBy("conv_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dl persisted too (tiny: one row per conv): its consumers — the docs
    // write's range-sampling pass, the docs write itself, and the forward
    // join — each re-ran the 25M-row dl aggregation over the cached tf
    val dl = tf.groupBy("conv_id").agg(sum(col("tf")).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dict, cleanup) = Dict.assign(turns.select("conv_id").distinct())

    // docs table: every conv (even token-less ones, analog of an unreadable
    // file indexed to an empty set, FileAnalyzer.cs:80-83) gets an entry.
    val tDocs0 = System.nanoTime()
    val docs = dict.join(dl, Seq("conv_id"), "left")
      .na.fill(0L, Seq("dl"))
      .select(col("docId"), col("conv_id").as("convId"), col("dl"),
        lit(source).as("source"), lit(true).as("alive"), lit(0L).as("batchSeq"))
    // range-laid by docId: every file carries a tight docId min/max, so the
    // query side's candidate-label point lookups (IN over ≤ k·ranges ids)
    // prune files/row-groups instead of scanning the whole dictionary —
    // the 100× prerequisite for top-k serving latency
    docs.repartitionByRange(col("docId")).sortWithinPartitions("docId")
      .write.mode("overwrite").parquet(docsDir)
    timing(s"docs write ${(System.nanoTime() - tDocs0) / 1e9}s")

    val tFwd0 = System.nanoTime()
    val nb = conf.nBuckets
    // persisted: the single-wave path has THREE consumers of these rows —
    // the forward parquet write below, the wave's posting-run aggregation,
    // and the per-term df count inside buildBlocks. Without the persist each
    // consumer re-executed the tf⋈dl⋈dict joins from the cached tf (measured
    // as the joins running 3× per build); with it the joins run once, into
    // the compressed columnar cache (guide §5: reuse > recompute here — the
    // recompute is two full joins of the posting-volume rows).
    val fwd = tf.join(dl, "conv_id").join(dict, "conv_id")
      .select(col("term"), col("docId"), col("tf"), col("dl"),
        bucketCol(col("term"), nb).as("bkt"), lit(0L).as("batchSeq"))
      .withColumn("bkt_p", col("bkt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fwd.repartition(col("bkt_p")).sortWithinPartitions("term", "docId")
      .write.partitionBy("bkt_p").mode("overwrite").parquet(forwardDir)
    timing(s"fwd write ${(System.nanoTime() - tFwd0) / 1e9}s")

    val tSt0 = System.nanoTime()
    val st = spark.read.parquet(docsDir)
      .agg(count(lit(1)), sum(col("dl")), max(col("docId"))).collect()(0)
    timing(s"stats ${(System.nanoTime() - tSt0) / 1e9}s")
    val numDocs = st.getLong(0)
    val totalTokens = if (st.isNullAt(1)) 0L else st.getLong(1)
    val maxDocId = if (st.isNullAt(2)) -1L else st.getLong(2)
    val avgdl = if (numDocs == 0) 0.0 else totalTokens.toDouble / numDocs
    val desc = BuildDesc(forwardDir, docsDir, numDocs, totalTokens, avgdl, maxDocId, source)
    writeDesc(spark, descPath, desc)
    Ledger.append(spark, root, Seq(
      LedgerRow(buildId, "forward", -1, "done", 0L, 0L, 0L, 0L, 0L, forwardDir)))
    // hand the in-memory forward rows to the wave loop. CRITICAL: both tf's
    // cache AND the dictionary's pinned partitioning (Dict.assign persist)
    // stay alive until the wave consumes fwd — unpersisting earlier lets the
    // dict lineage recompute with fresh range-sampling, which can reassign
    // docIds mid-build (caught as duplicate docIds in posting runs).
    (desc, Some(fwd), () => { tf.unpersist(); dl.unpersist(); fwd.unpersist(); cleanup() })
  }
}

object IndexWriter {
  /** Build descriptor: the frozen inputs of the wave loop (lineage root). */
  final case class BuildDesc(
      forwardDir: String, docsDir: String, numDocs: Long, totalTokens: Long,
      avgdl: Double, maxDocId: Long, source: String)

  private val mapper = new ObjectMapper()

  /** Codegen term-bucket column (native Catalyst expression — the build hot
    * path must not carry UDF closure dispatch; see killa.expr.Fnv1a64).
    */
  def bucketCol(c: org.apache.spark.sql.Column, nb: Int): org.apache.spark.sql.Column =
    killa.expr.Fnv1a64.termBucketCol(c, nb)

  def writeDesc(spark: SparkSession, p: Path, d: BuildDesc): Unit = {
    val node = mapper.createObjectNode()
    node.put("forwardDir", d.forwardDir); node.put("docsDir", d.docsDir)
    node.put("numDocs", d.numDocs); node.put("totalTokens", d.totalTokens)
    node.put("avgdl", d.avgdl); node.put("maxDocId", d.maxDocId)
    node.put("source", d.source)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
  }

  def readDesc(spark: SparkSession, p: Path): BuildDesc = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val n = try mapper.readTree(in) finally in.close()
    BuildDesc(n.get("forwardDir").asText(), n.get("docsDir").asText(),
      n.get("numDocs").asLong(), n.get("totalTokens").asLong(),
      n.get("avgdl").asDouble(), n.get("maxDocId").asLong(), n.get("source").asText())
  }

  /** Tandem quicksort: orders docs ascending, permuting tfs/dls in step.
    * Primitive arrays only — the hot path of every build wave must not
    * allocate per-posting objects (measured: boxed-tuple sorting of hot-term
    * groups caused multi-second GC stalls at local[32]).
    */
  private def sort3(docs: Array[Long], tfs: Array[Long], dls: Array[Long],
      lo0: Int, hi0: Int): Unit = {
    @inline def swap(i: Int, j: Int): Unit = {
      val d = docs(i); docs(i) = docs(j); docs(j) = d
      val t = tfs(i); tfs(i) = tfs(j); tfs(j) = t
      val l = dls(i); dls(i) = dls(j); dls(j) = l
    }
    var stack = List((lo0, hi0))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.head; stack = stack.tail
      if (hi - lo < 16) {
        var i = lo + 1
        while (i <= hi) {
          var j = i
          while (j > lo && docs(j - 1) > docs(j)) { swap(j - 1, j); j -= 1 }
          i += 1
        }
      } else {
        val mid = lo + (hi - lo) / 2
        if (docs(mid) < docs(lo)) swap(mid, lo)
        if (docs(hi) < docs(lo)) swap(hi, lo)
        if (docs(hi) < docs(mid)) swap(hi, mid)
        val pivot = docs(mid)
        var i = lo; var j = hi
        while (i <= j) {
          while (docs(i) < pivot) i += 1
          while (docs(j) > pivot) j -= 1
          if (i <= j) { swap(i, j); i += 1; j -= 1 }
        }
        if (lo < j) stack = (lo, j) :: stack
        if (i < hi) stack = (i, hi) :: stack
      }
    }
  }

  /** The range-salted posting aggregation (SURVEY.md §4.2 skew row).
    * Input: forward rows (term, docId, tf, dl, bkt). Output: posting blocks.
    *
    * Salting is by CONTIGUOUS docId range — (term, docId / rangeDocs) — not
    * docId modulo: ranges tile the docId domain in order, so every range's
    * sorted run is already a gap-free slice of the term's global posting
    * list and block-encodes independently (block boundaries align with range
    * boundaries; blockIds are offset per range). No task anywhere — run
    * build OR block emission — ever holds more than rangeDocs postings of a
    * term, which is the memory bound modulo salting could not give (its
    * phase-2 merge re-materialized the full hot-term list). The only global
    * per-term quantity, df, is a run-level sum joined back in: run rows are
    * compressed and few, so the df join shuffles kilobytes where a posting
    * shuffle would move the corpus.
    *
    * Deterministic: output is a pure function of the input row *set* and
    * (rangeDocs, blockSize) — any partitioning/arrival order yields identical
    * bytes (property-tested).
    */
  def buildBlocks(spark: SparkSession, fwd: DataFrame, conf: Conf): Dataset[PostingBlock] = {
    import spark.implicits._
    val rd = conf.rangeDocs
    require(rd > 0, "rangeDocs must be positive")
    val bs = conf.blockSize
    val nb = conf.nBuckets
    // max blocks a range can hold — the per-range blockId offset
    val blocksPerRange = (rd + bs - 1) / bs
    val td = fwd.select("term", "docId", "tf", "dl", "bkt").as[TermDoc]
    // ONE shuffle of the posting rows: per (term, range) groups, each
    // bounded at rangeDocs postings regardless of term hotness, and blocks
    // are emitted DIRECTLY from the sorted group. The old pipeline encoded
    // a per-range run here, shuffled the encoded payload TWICE more (df
    // join co-location + a salt respread), and decoded it again before
    // re-encoding blocks — the intermediate run codec roundtrip and one of
    // the payload shuffles were pure overhead (guide §2.3/§2.4: the df
    // attach only needs a skinny per-term count, so it now joins onto the
    // finished blocks instead of dragging the payload through extra
    // exchanges). Parallelism of a hot term's emission is unchanged — it
    // happens inside the (term, range) groups themselves.
    val noDf: Dataset[PostingBlock] = td
      .groupByKey(t => (t.term, (t.docId / rd).toInt))
      .flatMapGroups { (key: (String, Int), it: Iterator[TermDoc]) =>
        val (term, range) = key
        var docs = new Array[Long](64); var tfs = new Array[Long](64); var dls = new Array[Long](64)
        var n = 0
        while (it.hasNext) {
          if (n == docs.length) {
            docs = java.util.Arrays.copyOf(docs, n * 2)
            tfs = java.util.Arrays.copyOf(tfs, n * 2)
            dls = java.util.Arrays.copyOf(dls, n * 2)
          }
          val t = it.next()
          docs(n) = t.docId; tfs(n) = t.tf; dls(n) = t.dl; n += 1
        }
        if (n > 1) sort3(docs, tfs, dls, 0, n - 1)
        val bkt = Hashing.termBucket(term, nb)
        val base = range.toLong * blocksPerRange
        val total = n
        (0 until total by bs).iterator.map { start =>
          val end = math.min(start + bs, total)
          PostingBlock.encode(term, base + start / bs, 0L,
            java.util.Arrays.copyOfRange(docs, start, end),
            java.util.Arrays.copyOfRange(tfs, start, end),
            java.util.Arrays.copyOfRange(dls, start, end), bkt)
        }
      }
    // global df per term aggregated straight from the forward rows (map-side
    // partial count, one cheap pass over fwd — which the single-wave path
    // holds in the columnar cache), joined onto the finished blocks so every
    // block carries the exact df. NOT derived from the blocks: that lineage
    // would re-execute the whole sort+encode phase a second time.
    //
    // The join is CO-PARTITIONED on the term bucket: both sides repartition
    // by `bkt` (same expression, same partition count), which satisfies the
    // (bkt, term) join's clustering with no further exchange, and the
    // shuffled-hash hint keeps the payload side unsorted (the skinny df side
    // builds the per-partition hash table). Because every term's blocks and
    // df row share one bucket, the join is exact — and its output is already
    // hash(bkt)-placed, which is precisely the layout the bucketed segment
    // write needs, so the build path writes WITHOUT re-shuffling the payload
    // (guide §2.4: two operations keyed the same way share one exchange).
    val dfByTerm = fwd.groupBy("term").agg(count(lit(1)).as("__df"))
      .withColumn("bkt", bucketCol(col("term"), nb).cast("int"))
    noDf.toDF().repartition(col("bkt"))
      .join(dfByTerm.repartition(col("bkt")).hint("shuffle_hash"), Seq("bkt", "term"))
      .select(col("term"), col("blockId"), col("__df").as("df"), col("n"),
        col("firstDoc"), col("lastDoc"), col("maxTf"), col("minDl"),
        col("docsBin"), col("tfsBin"), col("dlsBin"), col("bkt"))
      .as[PostingBlock]
  }

  /** The position rows of `turns`: one [[PosRow]] per (term, docId), each
    * position the global token rank under the stable (turn_idx, token
    * ordinal) order; `dict` maps conv_id → docId. Lazy (no Spark action), so
    * [[IndexWriter.buildPositions]] and a maintenance batch derive
    * byte-identical rows from the same turns.
    */
  def positionRows(turns: DataFrame, dict: DataFrame, nBuckets: Int): Dataset[PosRow] = {
    val spark = turns.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = turns.select(col("conv_id"), col("turn_idx"),
      posexplode(Tokenize.termsCol(col("text"))).as(Seq("tpos", "term")))
    val w = Window.partitionBy("conv_id").orderBy("turn_idx", "tpos")
    toks.withColumn("pos", row_number().over(w).cast("long") - 1L)
      .join(dict, "conv_id")
      .groupBy(col("term"), col("docId"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .as[(String, Long, Seq[Long])]
      .map { case (term, docId, ps) =>
        PosRow.encode(term, docId, ps.toArray, Hashing.termBucket(term, nBuckets))
      }
  }

  /** Segment layout: one dir per commit, hive-partitioned by bkt_p for
    * directory pruning; `bkt` kept as a data column too so cross-commit
    * global reads don't need a shared basePath. Sorted (term, blockId) within
    * each bucket ⇒ parquet row-group min/max stats prune term lookups — the
    * columnar stand-in for the reference's O(1) hash lookup
    * (StringIndex.cs:19-24).
    *
    * @param aligned the input is already hash(bkt)-partitioned (the build
    *                path: [[buildBlocks]]' co-partitioned df join leaves it
    *                so) — skip the repartition; hive partitionBy only needs
    *                the column, not a partitioning, and every bucket's rows
    *                already share one task, so the file layout and per-file
    *                (term, blockId) order are unchanged. Callers whose
    *                lineage lost that placement pass false and pay the
    *                shuffle.
    */
  def writeBlocks(blocks: Dataset[PostingBlock], commitDir: String,
      aligned: Boolean = false): Unit = {
    val base = blocks.toDF().withColumn("bkt_p", col("bkt"))
    (if (aligned) base else base.repartition(col("bkt_p")))
      .sortWithinPartitions("term", "blockId")
      .write.partitionBy("bkt_p").mode("overwrite").parquet(commitDir)
  }

  /** Fused per-bucket ledger metrics + dictionary summaries in ONE scan of
    * the freshly-written commit dir (guide §2.4: two commit-time jobs read
    * the same files with the same grouping — share the pass). Byte sizes
    * come from FS file lengths (free); the single aggregation computes the
    * metric counts and the dict prefix/length summaries together, so a wave
    * commit pays one read-back job instead of two.
    */
  def bucketMetricsAndDicts(spark: SparkSession, commitDir: String)
      : (Map[Int, (Long, Long, Long, Long)], Map[Int, killa.store.BucketDict]) = {
    val p = new Path(commitDir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(p)) return (Map.empty, Map.empty)
    val bucketDirs = fsys.listStatus(p).filter(_.getPath.getName.startsWith("bkt_p="))
    if (bucketDirs.isEmpty) return (Map.empty, Map.empty)
    val bytesByBucket: Map[Int, Long] = bucketDirs.map { st =>
      val b = st.getPath.getName.stripPrefix("bkt_p=").toInt
      b -> fsys.listStatus(st.getPath).map(_.getLen).sum
    }.toMap
    val capped = killa.store.SegmentStore.DictMaxPrefixes
    val rows = spark.read.parquet(commitDir)
      .groupBy(col("bkt_p").cast("int").as("b"))
      .agg(
        countDistinct(col("term")).as("terms"),
        sum(col("n")).as("postings"),
        count(lit(1)).as("blocks"),
        collect_set(substring(col("term"), 1, killa.store.SegmentStore.DictPrefixLen)).as("ps"),
        min(length(col("term"))).as("lo"),
        max(length(col("term"))).as("hi"))
      .collect()
    val metrics = rows.map(r => r.getInt(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3),
        bytesByBucket.getOrElse(r.getInt(0), 0L)))).toMap
    val dicts = rows.map { r =>
      val ps = r.getSeq[String](4)
      r.getInt(0) -> killa.store.BucketDict(
        if (ps.size > capped) None else Some(ps.sorted),
        r.getInt(5), r.getInt(6))
    }.toMap
    (metrics, dicts)
  }

  /** Per-bucket term-dictionary summaries (manifest sidecar — VERDICT r2 #7)
    * from a freshly-written commit dir: the distinct leading 2-char prefixes
    * (None past the cap) + term-length range, read from the term column only.
    * Buckets with no data simply don't appear (their dict entries drop).
    */
  def bucketDictSummaries(spark: SparkSession, commitDir: String)
      : Map[Int, killa.store.BucketDict] = {
    val p = new Path(commitDir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(p)) return Map.empty
    if (!fsys.listStatus(p).exists(_.getPath.getName.startsWith("bkt_p="))) return Map.empty
    val capped = killa.store.SegmentStore.DictMaxPrefixes
    spark.read.parquet(commitDir)
      .groupBy(col("bkt_p").cast("int").as("b"))
      .agg(
        collect_set(substring(col("term"), 1, killa.store.SegmentStore.DictPrefixLen)).as("ps"),
        min(length(col("term"))).as("lo"),
        max(length(col("term"))).as("hi"))
      .collect()
      .map { r =>
        val ps = r.getSeq[String](1)
        r.getInt(0) -> killa.store.BucketDict(
          if (ps.size > capped) None else Some(ps.sorted),
          r.getInt(2), r.getInt(3))
      }.toMap
  }

  /** Read-back per-bucket metrics for the ledger (exact, no plan recompute). */
  def bucketMetrics(spark: SparkSession, commitDir: String, wave: Seq[Int])
      : Map[Int, (Long, Long, Long, Long)] = {
    val p = new Path(commitDir)
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(p)) return Map.empty
    // a delta that removed a bucket's every posting writes an empty dir
    // (_SUCCESS only) — no schema to infer, no metrics to report
    val bucketDirs = fsys.listStatus(p).filter(_.getPath.getName.startsWith("bkt_p="))
    if (bucketDirs.isEmpty) return Map.empty
    // bytes from FS file sizes (free); counts from a column-pruned scan that
    // never touches the binary payload columns
    val bytesByBucket: Map[Int, Long] = bucketDirs.map { st =>
      val b = st.getPath.getName.stripPrefix("bkt_p=").toInt
      b -> fsys.listStatus(st.getPath).map(_.getLen).sum
    }.toMap
    spark.read.parquet(commitDir)
      .groupBy(col("bkt_p").cast("int").as("b"))
      .agg(
        countDistinct(col("term")).as("terms"),
        sum(col("n")).as("postings"),
        count(lit(1)).as("blocks"))
      .collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), bytesByBucket.getOrElse(r.getInt(0), 0L))))
      .toMap
  }
}
