package killa.query

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import killa.Conf
import killa.model.{PosRow, PostingBlock}
import killa.store.{Manifest, SegmentStore}
import killa.util.Hashing

/** Queries against one committed index snapshot — the analog of the
  * reference's Searcher over a defensive-copy Get (Searcher.cs:16-23,
  * StringIndex.cs:19-24): a reader pins one manifest version, so concurrent
  * maintenance never changes its results. Re-instantiating on the latest
  * version after draining pending batches gives the reference's
  * DelayedSearch semantics (FileAnalyzer.cs:51-60).
  */
final class IndexReader(
    spark: SparkSession,
    root: String,
    conf: Conf = Conf.default,
    pinVersion: Option[Int] = None) {
  import spark.implicits._
  import Bm25Query.cleanTerms

  val manifest: Option[Manifest] =
    pinVersion.map(SegmentStore.read(spark, root, _)).orElse(SegmentStore.latest(spark, root))

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def emptyHits: DataFrame =
    Seq.empty[(String, Double)].toDF("conv_id", "score")

  private def emptyMembers: DataFrame =
    Seq.empty[String].toDF("conv_id")

  /** Empty (conv_id, score) frame — the hits-shaped zero for composed
    * surfaces (QueryString). */
  def emptyHitsSet: DataFrame = emptyHits

  /** Empty (conv_id) frame — the membership-shaped zero. */
  def emptyMemberSet: DataFrame = emptyMembers

  /** Merged docId dictionary: last-wins per docId across the docs log
    * (rename/delete batches append new entries), alive only.
    */
  def docs: DataFrame = manifest match {
    case None => Seq.empty[(Long, String, Long, String)].toDF("docId", "convId", "dl", "source")
    case Some(m) =>
      killa.store.Logs.docsAlive(spark, m).select("docId", "convId", "dl", "source")
  }

  // per-bucket DataFrame cache: a reader is snapshot-pinned, so the file
  // listing + footer schema read of a bucket dir happen once, not per query
  // (driver-side listing was the dominant repeat cost under concurrent load)
  private val bucketDfCache = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private val blockSchema =
    org.apache.spark.sql.Encoders.product[PostingBlock].schema

  /** Posting blocks of one term as an untyped frame: partition-pruned to the
    * term's bucket dir, then parquet row-group stats prune on the sorted
    * `term` column — the columnar equivalent of the reference's O(1)
    * dictionary lookup. None when the term's bucket has no data dir.
    */
  private[killa] def postingBlocksDf(term: String): Option[DataFrame] = {
    val pathOpt = manifest.flatMap { m =>
      m.bucketPath(Hashing.termBucket(term, m.nBuckets)).filter(p => fs(p).exists(new Path(p)))
    }
    pathOpt.map { p =>
      val df = bucketDfCache.computeIfAbsent(p,
        path => spark.read.schema(blockSchema).parquet(path))
      df.where(col("term") === term)
    }
  }

  def postingBlocks(term: String): Dataset[PostingBlock] =
    postingBlocksDf(term).map(_.as[PostingBlock])
      .getOrElse(spark.emptyDataset[PostingBlock])

  /** Cheap local-vs-distributed routing probe: the term's pruned BLOCK COUNT
    * — a column-pruned count (filter on the sorted `term` column only; no
    * payload byte is read, none reaches the driver). This is what decides
    * whether a term's blocks may be fetched driver-side: the old shape
    * (collect a bounded prefix of full blocks, then inspect the length)
    * pulled up to partitions × cap encoded payloads to the driver just to
    * take the distributed path — for a truly hot term at corpus scale,
    * hundreds of MB for a routing bit (ADVICE r3, medium).
    */
  private def blockCount(term: String): Long =
    postingBlocksDf(term).fold(0L)(_.count())

  /** Cached merged dictionary for this reader's lifetime: the log-merge
    * window runs once, repeat queries reuse it (the reference's point is the
    * same — all cost at maintenance time, queries touch precomputed state).
    */
  private lazy val docsView: DataFrame = {
    val d = docs
    d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    d
  }

  /** All posting blocks of the snapshot (maintenance/stats path). */
  def allBlocks: Dataset[PostingBlock] = manifest match {
    case None => spark.emptyDataset[PostingBlock]
    case Some(m) =>
      val paths = m.buckets.keys.toSeq.sorted
        .flatMap(m.bucketPath)
        .filter(p => fs(p).exists(new Path(p)))
      if (paths.isEmpty) spark.emptyDataset[PostingBlock]
      else spark.read.parquet(paths: _*).as[PostingBlock]
  }

  /** Reference-parity membership query (Searcher.cs:16-23): the unscored set
    * of conversations containing `term`. Null/empty query → empty without
    * touching the store (SearcherTests.cs:13-25).
    */
  def membership(term: String): DataFrame = {
    if (term == null || term.isEmpty || manifest.isEmpty) return emptyMembers
    blockDocIds(postingBlocks(term))
      .join(docsView, "docId").select(col("convId").as("conv_id"))
  }

  /** The docId column of `blocks`, one row per posting: projects only
    * `(n, docsBin)`, so the parquet scan never reads the tf/dl payload
    * columns (ReadSchema pruning — asserted by PlanSpec).
    */
  private def blockDocIds(blocks: Dataset[_]): DataFrame =
    blocks.select(col("n"), col("docsBin")).as[(Int, Array[Byte])]
      .flatMap { case (n, bin) => PostingBlock.decodeDocs(bin, n) }
      .toDF("docId")

  /** The given bucket dirs as one frame, each dir's frame from
    * bucketDfCache (same as single-term membership): repeat multi-term
    * queries must not re-list dirs and re-read parquet footers — the
    * dominant repeat cost under load.
    */
  private def bucketFrames(paths: Seq[String]): DataFrame =
    paths.map(p => bucketDfCache.computeIfAbsent(p,
      path => spark.read.schema(blockSchema).parquet(path)))
      .reduce(_ unionByName _)

  /** Multi-term OR membership (the ES synonym / terms-query shape): the set
    * of conversations containing ANY of the given terms — one scan pruned to
    * exactly the terms' bucket dirs ([[termBucketPaths]], the same path
    * pruning [[termDf]] uses) with a pushed IN filter the
    * sorted term column's row-group stats prune on; payload columns of
    * non-matching terms are never read, and the per-doc distinct runs before
    * the dictionary join so the label lookup sees each doc once.
    */
  def membershipAny(termsIn: Seq[String]): DataFrame = {
    val terms = cleanTerms(termsIn)
    if (terms.isEmpty || manifest.isEmpty) return emptyMembers
    if (terms.length == 1) return membership(terms.head)
    val paths = termBucketPaths(terms)
    if (paths.isEmpty) return emptyMembers
    blockDocIds(bucketFrames(paths).where(col("term").isin(terms: _*))).distinct()
      .join(docsView, "docId").select(col("convId").as("conv_id"))
  }

  /** Multi-word synonym membership (the ES `synonym_graph` filter shape):
    * conversations matching ANY alternative, where an alternative is a
    * token SEQUENCE — single-token alternatives ride [[membershipAny]]'s
    * one pruned IN-scan, multi-token alternatives are exact [[phrase]]
    * matches ("machine learning" ↔ "ml" — the case token-level synonym
    * sets cannot express). Requires the positional index for the phrase
    * alternatives, like every phrase surface. The union is a plan
    * combinator over already-distinct membership sets; one final distinct
    * folds the overlaps.
    *
    * @return distinct matching conv_id rows.
    */
  def membershipSynonymPhrases(alternatives: Seq[Seq[String]]): DataFrame = {
    val cleaned = alternatives
      .map(_.filter(t => t != null && t.nonEmpty)).filter(_.nonEmpty)
    if (cleaned.isEmpty || manifest.isEmpty) return emptyMembers
    val singles = cleaned.filter(_.length == 1).map(_.head).distinct
    val phrases = cleaned.filter(_.length > 1).distinct
    val parts =
      (if (singles.nonEmpty) Seq(membershipAny(singles)) else Nil) ++
        phrases.map(p => phrase(p).select("conv_id"))
    parts.reduce(_ unionByName _).distinct()
  }

  /** Count-only membership fast path: |membership(term)| without decoding
    * posting payloads or resolving labels. Exact by construction: posting
    * blocks hold only alive docs (every delete/update rewrites its affected
    * term buckets — IndexMaintainer step 5; renames remap the dictionary and
    * keep the docId alive), and a docId appears in at most one block of a
    * term (blocks partition the docId range), so the count is the sum of the
    * blocks' stored `n` — ONE pruned scan reading a single int column, no
    * payload bytes, no dictionary join. This is the serving path for count
    * queries; MaintainSpec pins equality with membership().count() across
    * delete and rename batches.
    */
  def membershipCount(term: String): Long = {
    if (term == null || term.isEmpty || manifest.isEmpty) return 0L
    val cached = blockCache.get(term)
    if (cached != null) return cached.foldLeft(0L)(_ + _.n) // 0 Spark jobs
    // miss: route on the cheap block count first (no payload bytes driver-
    // side — ADVICE r3), then fetch-and-cache within-cap terms so repeat
    // counts serve from memory; beyond-cap terms use the column-pruned
    // aggregation (reads only the n column, nothing cached)
    val cap = conf.localQueryBlocks
    if (cap > 0 && blockCount(term) <= cap) {
      val bs = postingBlocks(term).collect().sortBy(_.firstDoc)
      cachePut(term, bs)
      return bs.foldLeft(0L)(_ + _.n)
    }
    val r = postingBlocks(term).agg(sum(col("n"))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Contains (StringIndex.cs:17): any posting for this term? */
  def contains(term: String): Boolean = {
    if (term == null || term.isEmpty) return false
    val cached = blockCache.get(term)
    if (cached != null) cached.nonEmpty // covers the negative cache too
    else !postingBlocks(term).isEmpty
  }

  /** Prefix search — the reference's own top TODO (README.md:56-58 wants a
    * trie-based wildcard index): conversations containing ANY term starting
    * with `prefix`. No trie needed in the columnar layout: terms are sorted
    * within each bucket file (IndexWriter.writeBlocks), so the pushed
    * StringStartsWith filter prunes whole parquet row groups — only matching
    * terms' (n, docsBin) are ever decoded (plan-asserted by PlanSpec).
    */
  def membershipPrefix(prefix: String): DataFrame =
    if (prefix == null || prefix.isEmpty) emptyMembers
    else membershipWhere(col("term").startsWith(prefix), prefixHint = Some(prefix))

  /** Lexicographic term-range search (the Elasticsearch `range` query on a
    * keyword field): conversations holding any term in [`lo`, `hi`) —
    * `gte`/`lt` ES semantics. The range predicate pushes straight into the
    * parquet scan (the term column is the files' sort key, so row-group
    * stats skip everything outside the interval); payloads decode only for
    * in-range terms.
    */
  def membershipTermRange(lo: String, hi: String): DataFrame = {
    if (lo == null || hi == null || lo >= hi) return emptyMembers
    membershipWhere(col("term") >= lo && col("term") < hi)
  }

  /** Term-range membership with explicit bounds (the Lucene/ES range-clause
    * surface behind `[a TO b]` / `{a TO b}` / `[a TO *]`): either bound may
    * be open (None) and either may be inclusive or exclusive —
    * [[membershipTermRange]] generalized to the full query-string range
    * grammar. Same pushed, payload-free scan.
    */
  def membershipTermRangeBounds(lo: Option[String], hi: Option[String],
      incLo: Boolean, incHi: Boolean): DataFrame = {
    val conds = Seq(
      lo.map(v => if (incLo) col("term") >= v else col("term") > v),
      hi.map(v => if (incHi) col("term") <= v else col("term") < v)).flatten
    if (conds.isEmpty) allMembers
    else membershipWhere(conds.reduce(_ && _))
  }

  /** Every live conversation at this snapshot — the dictionary's distinct
    * labels, ONE column-pruned scan of the docId→conv mapping with no
    * posting payload touched. This is the `match_all` surface, and the
    * field-scoped filter clause ("conv has a turn with field = v" ≡ all
    * members of that value's sub-index).
    */
  def allMembers: DataFrame =
    docsView.select(col("convId").as("conv_id")).distinct()

  /** Wildcard term search (`*` = any run, `?` = any one char — reference
    * mask semantics, FileAnalyzerTests.cs:54-84): the mask's literal prefix
    * pushes down as a range filter, the full mask applies as a residual
    * rlike. A wildcard-free mask degrades to the exact-term path.
    */
  def membershipWildcard(mask: String): DataFrame = {
    if (mask == null || mask.isEmpty) return emptyMembers
    val pre = killa.util.Glob.literalPrefix(mask)
    if (pre == mask) return membership(mask)
    val residual = col("term").rlike(killa.util.Glob.toRegex(mask))
    membershipWhere(
      if (pre.nonEmpty) col("term").startsWith(pre) && residual else residual,
      prefixHint = if (pre.nonEmpty) Some(pre) else None)
  }

  /** Regex term search (the Elasticsearch `regexp` query): conversations
    * containing any dictionary term the pattern FINDS in (Java regex find
    * semantics — anchor with ^...$ for a whole-term match, the same
    * partial-match convention DuckDB's regexp_matches uses, so one oracle
    * covers both engines). An anchored literal head pushes down as a
    * prefix range over the sorted term column; the full pattern applies as
    * a residual rlike. Payload columns never read.
    */
  def membershipRegex(pattern: String): DataFrame = {
    if (pattern == null || pattern.isEmpty) return emptyMembers
    val pre = regexLiteralPrefix(pattern)
    val residual = col("term").rlike(pattern)
    membershipWhere(
      if (pre.nonEmpty) col("term").startsWith(pre) && residual else residual,
      prefixHint = if (pre.nonEmpty) Some(pre) else None)
  }

  /** Longest literal prefix every match of an ANCHORED pattern must carry:
    * the run of plain word characters after `^`, truncated by one if the
    * run's last char is followed by a quantifier (`?`/`*`/`{`) that could
    * erase it. Unanchored patterns have no usable prefix (a find can start
    * anywhere), and so does any pattern containing an unescaped `|`: under
    * Java find semantics `^foo|bar` matches "bar" ANYWHERE, so the `^foo`
    * head binds only its own alternative — pushing it down would prune every
    * `bar`-only match (ADVICE r4 high). Conservative by construction — a
    * wrong prefix could prune a true match, so anything doubtful returns "".
    */
  private def regexLiteralPrefix(pattern: String): String = {
    if (!pattern.startsWith("^")) return ""
    // any unescaped '|' (even inside a group: '^f(a|b)' still prefixes only
    // 'f', and the word-char run below stops at '(' anyway — but a TOP-LEVEL
    // one invalidates the anchor entirely, and telling the two apart costs a
    // parser; no-pushdown is always correct)
    var i = 0
    var esc = false
    while (i < pattern.length) {
      val c = pattern(i)
      if (esc) esc = false
      else if (c == '\\') esc = true
      else if (c == '|') return ""
      i += 1
    }
    val body = pattern.drop(1)
    val run = body.takeWhile(c => c.isLetterOrDigit || c == '_').length
    val safe =
      if (run < body.length && "?*{".contains(body(run))) run - 1 else run
    body.take(math.max(0, safe))
  }

  /** Fuzzy term search: conversations containing any term within edit
    * distance ≤ `maxDist` of `term`. The first edit can change the first
    * character, so no prefix range pushes down — like a leading-wildcard mask
    * this is one scan of the (small) term dictionary columns per bucket, with
    * a cheap codegen'd length-band pre-filter ahead of the distance
    * residual; posting payloads decode only for matching terms.
    *
    * `transpositions = true` (the Elasticsearch `fuzziness` DEFAULT) counts
    * an adjacent-character swap as ONE edit — optimal string alignment, the
    * distance Lucene's fuzzy automata implement — so "psark" reaches "spark"
    * at distance 1. False keeps classic Levenshtein (the ES
    * `transpositions: false` knob); both ride the same scan shape, the OSA
    * residual a native codegen expression ([[killa.expr.OsaDistance]]).
    */
  def membershipFuzzy(term: String, maxDist: Int = 1,
      prefixLength: Int = 0, transpositions: Boolean = false): DataFrame = {
    if (term == null || term.isEmpty) return emptyMembers
    if (maxDist <= 0) return membership(term)
    val lenBand = abs(length(col("term")) - lit(term.length)) <= maxDist
    val distCond =
      if (transpositions) killa.expr.OsaDistance.distCol(col("term"), term) <= maxDist
      else levenshtein(col("term"), lit(term)) <= maxDist
    val lev = lenBand && distCond
    // prefix_length (the ES fuzzy query's pruning knob): candidates must
    // share the query's first `prefixLength` characters exactly — typos
    // rarely hit a word's head, and the literal prefix turns the
    // full-dictionary scan back into a pushed range over the sorted term
    // column plus sidecar bucket pruning, the same shape membershipPrefix
    // enjoys. 0 (the ES default) keeps the pure edit-ball semantics.
    if (prefixLength <= 0)
      membershipWhere(lev,
        lenHint = Some((term.length - maxDist, term.length + maxDist)))
    else {
      val pre = term.take(prefixLength)
      membershipWhere(col("term").startsWith(pre) && lev,
        prefixHint = Some(pre),
        lenHint = Some((term.length - maxDist, term.length + maxDist)))
    }
  }

  /** Dictionary enumeration (the Elasticsearch `_terms_enum` API — the
    * index-backed autocomplete/discovery surface): the first `n` index terms
    * starting with `prefix`, in term order, each with its document
    * frequency. Serving shape: the manifest's per-bucket prefix sidecars
    * skip whole buckets, the pushed StartsWith prunes row groups inside the
    * survivors (terms are each file's sort key), and only the (term, df)
    * dictionary columns are read — posting payloads never decode, so the
    * scan is kilobytes per surviving bucket at any corpus scale. max(df)
    * folds multi-block terms exactly (every block carries the global df,
    * same argument as [[suggest]]).
    *
    * @return (term, df) rows, term asc, ≤ n rows.
    */
  def termsEnum(prefix: String, n: Int = 10): DataFrame = {
    val empty = Seq.empty[(String, Long)].toDF("term", "df")
    if (prefix == null || prefix.isEmpty || n <= 0 || manifest.isEmpty) return empty
    val paths = prunedBucketPaths(Some(prefix), None)
    if (paths.isEmpty) return empty
    spark.read.schema(blockSchema).parquet(paths: _*)
      .where(col("term").startsWith(prefix))
      .groupBy("term").agg(max(col("df")).as("df"))
      .orderBy(col("term").asc)
      .limit(n)
  }

  /** Spell-suggest / did-you-mean (the Elasticsearch `term` suggester): the
    * `n` dictionary terms within Levenshtein distance ≤ `maxDist` of the
    * (possibly misspelled) input, ranked by document frequency desc then
    * term asc — "most popular close spelling first". The input term itself
    * is excluded (a suggester corrects, it doesn't echo). Same scan shape
    * as [[membershipFuzzy]] — sidecar length-band bucket pruning, codegen'd
    * length pre-filter ahead of the levenshtein residual — but it only reads
    * the (term, df) dictionary columns: posting payloads never decode, so
    * the scan is kilobytes per bucket at any corpus scale.
    *
    * @return (term, df) rows, df desc, term asc, ≤ n rows.
    */
  def suggest(term: String, maxDist: Int = 1, n: Int = 5,
      boostPrefixLen: Int = 0): DataFrame = {
    val empty = Seq.empty[(String, Long)].toDF("term", "df")
    if (term == null || term.isEmpty || n <= 0 || manifest.isEmpty) return empty
    if (maxDist <= 0) return empty
    val paths = prunedBucketPaths(None,
      Some((term.length - maxDist, term.length + maxDist)))
    if (paths.isEmpty) return empty
    val lenBand = abs(length(col("term")) - lit(term.length)) <= maxDist
    // max(df) is exact at any batch count: every block of a term carries the
    // GLOBAL df (a term's bucket is rewritten whole per maintenance batch and
    // maps to exactly one dir, so there is no segment-local df to merge —
    // pinned by Round5Spec's multi-generation suggest test)
    val cands = spark.read.schema(blockSchema).parquet(paths: _*)
      .where(lenBand && levenshtein(col("term"), lit(term)) <= maxDist &&
        col("term") =!= term)
      .groupBy("term").agg(max(col("df")).as("df"))
    // prefix boost (the ES term-suggester's prefix-preservation heuristic:
    // typos almost never hit the first characters, so candidates sharing the
    // query's first `boostPrefixLen` chars outrank any that do not,
    // popularity second) — 0 keeps pure df order
    val ordered =
      if (boostPrefixLen <= 0) cands.orderBy(col("df").desc, col("term").asc)
      else cands.orderBy(
        (substring(col("term"), 1, boostPrefixLen) ===
          lit(term.take(boostPrefixLen))).desc,
        col("df").desc, col("term").asc)
    ordered.limit(n)
  }

  /** The caller's doc-values frame as every doc-values surface reads it:
    * `convCol` renamed to `conv_id`, plus the value columns `cols`. The index
    * stores postings only; field values live in the caller's frame (one or
    * more rows per conversation).
    */
  private def docValues(vals: DataFrame, convCol: String)(cols: Column*): DataFrame =
    vals.select((col(convCol).as("conv_id") +: cols): _*)

  /** `hits` — any frame keyed by `conv_id`: a match set, a scored set, a
    * sample — joined on `conv_id` to [[docValues]]. Inner by default, so a
    * hit with no value row drops; the feature and decay scorers pass "left"
    * to keep such a hit at its lexical score.
    */
  private def joinValues(hits: DataFrame, vals: DataFrame, convCol: String,
      how: String = "inner")(cols: Column*): DataFrame =
    hits.join(docValues(vals, convCol)(cols: _*), Seq("conv_id"), how)

  /** The ES missing-value rule for a numeric doc value: null, or NaN after
    * the double cast, is missing — ignored by every metric and bucket.
    */
  private def present(v: Column): Column = v.isNotNull && !isnan(v)

  /** Date-histogram facet (the Elasticsearch `date_histogram` aggregation):
    * matching documents of `term` bucketed by their timestamp truncated to
    * `unit`. The engine's index stores postings only — document field values
    * live in the caller's doc-values table `meta` (one row per doc:
    * `convCol`, `tsCol`), exactly the split a columnar lakehouse serving
    * stack uses. Plan: pruned membership scan → equi-join to meta on the
    * doc key → one map-side-combinable groupBy on the truncated bucket —
    * no driver collect anywhere, scales to any match count.
    *
    * @return (bucket: string `yyyy-MM-dd HH:mm:ss`, hits: long) rows.
    */
  def dateHistogram(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day"): DataFrame =
    joinValues(membership(term), meta, convCol)(col(tsCol).as("__ts"))
      .groupBy(date_format(date_trunc(unit, col("__ts")), "yyyy-MM-dd HH:mm:ss").as("bucket"))
      .agg(count(lit(1)).as("hits"))

  /** Gap-filled date histogram (the Elasticsearch `min_doc_count: 0` +
    * `extended_bounds` contract): every bucket of the [lo, hi] ladder is
    * emitted — zero hits included — and data buckets OUTSIDE the ladder
    * still appear (extended_bounds extends the range, it never truncates;
    * truncation is ES's separate `hard_bounds`). Pipeline aggregations
    * (derivative, moving_fn, serial_diff) are only correct over gap-free
    * bucket sequences, which is exactly what this surface feeds them.
    * Shape at scale: the ladder is a generated one-row-per-bucket frame
    * (bounded by the requested range, never by the data) full-outer-joined
    * to the REDUCED histogram — the corpus is touched only by
    * [[dateHistogram]]'s pruned scan.
    *
    * @return (bucket, hits) rows, every ladder bucket present, bucket asc.
    */
  def dateHistogramFilled(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String, lo: java.sql.Timestamp,
      hi: java.sql.Timestamp): DataFrame = {
    require(!hi.before(lo), "hi bound must be >= lo bound")
    val step = unit match {
      case "minute" => "interval 1 minute"
      case "hour"   => "interval 1 hour"
      case "day"    => "interval 1 day"
      case u => throw new IllegalArgumentException(s"unsupported unit '$u'")
    }
    val ladder = spark.range(1)
      .select(explode(sequence(date_trunc(unit, lit(lo)),
        date_trunc(unit, lit(hi)), expr(step))).as("__b"))
      .select(date_format(col("__b"), "yyyy-MM-dd HH:mm:ss").as("bucket"))
    ladder.join(dateHistogram(term, meta, convCol, tsCol, unit),
        Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Numeric range facet (the Elasticsearch `range` aggregation): matching
    * documents of `term` bucketed by which [from, to) interval of `bounds`
    * their doc-values number falls in — ES convention: from inclusive, to
    * exclusive, buckets labeled "from-to" with "*" at the open ends, docs
    * below the first bound in the leading "*-b0" bucket. Same split as
    * [[dateHistogram]]: the index answers the match set, the caller's
    * doc-values frame carries the number; pruned membership scan → equi-join
    * → one map-side-combinable groupBy. Empty buckets are omitted (a count
    * facet, not a gauge row set).
    *
    * @param bounds ascending bucket boundaries (at least one).
    * @return (bucket: string, hits: long) rows.
    */
  def rangeFacet(term: String, meta: DataFrame, convCol: String,
      valCol: String, bounds: Seq[Double]): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted, "bounds must be ascending")
    val v = col("__v")
    val edges = (Double.NegativeInfinity +: bounds) :+ Double.PositiveInfinity
    def lbl(d: Double) =
      if (d.isInfinite) "*"
      else if (d == math.rint(d)) d.toLong.toString
      else d.toString
    val bucket = edges.sliding(2).foldLeft(lit(null).cast("string")) {
      case (acc, Seq(lo, hi)) =>
        val name = s"${lbl(lo)}-${lbl(hi)}"
        val cond = (if (lo.isInfinite) lit(true) else v >= lit(lo)) &&
          (if (hi.isInfinite) lit(true) else v < lit(hi))
        when(acc.isNull && cond, lit(name)).otherwise(acc)
    }
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
      // ES range-agg semantics: docs missing the field (null, or NaN after
      // the cast) are ignored, never emitted as a spurious null bucket
      .where(present(v))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("hits"))
  }

  /** Sort-by-doc-value search (the Elasticsearch `sort` clause): the top-k
    * conversations matching `term`, ordered by a caller-supplied doc value
    * (timestamp, size, …) instead of relevance — "the most recent matching
    * conversations", the second most common real query shape after scored
    * top-k. Docs missing the sort value (null, or NaN after the cast) are
    * ignored, mirroring ES `missing`-less sort semantics; ties break on
    * conv_id so the order is total.
    *
    * Shape at scale: pruned posting scan → one semi-join against the
    * doc-values frame → TakeOrdered(k). No score computation at all — the
    * index contributes only the match set.
    *
    * @return (conv_id, sort_val) rows, sort_val cast to double.
    */
  def searchSorted(term: String, meta: DataFrame, convCol: String,
      valCol: String, ascending: Boolean = false, k: Int = 10): DataFrame = {
    val v = col("sort_val")
    val joined = joinValues(membership(term), meta, convCol)(
        col(valCol).cast("double").as("sort_val"))
      .where(present(v))
    joined.orderBy(if (ascending) v.asc else v.desc, col("conv_id").asc).limit(k)
  }

  /** Sorted-search pagination (the Elasticsearch `search_after` on a sort
    * clause — the stateless deep-paging contract, PIT-composable like
    * [[bm25TopKAfter]] is for the score order): the next `k` matches
    * STRICTLY after the `(afterVal, afterConv)` cursor in the
    * (sort value, conv) total order. The cursor is an admission filter on
    * the scan side of the TakeOrdered, so page n+1 costs what page 1 costs —
    * no OFFSET re-sort, no server-side scroll state.
    *
    * @return (conv_id, sort_val) rows in page order, ≤ k.
    */
  def searchSortedAfter(term: String, meta: DataFrame, convCol: String,
      valCol: String, ascending: Boolean, k: Int,
      afterVal: Double, afterConv: String): DataFrame = {
    val v = col("sort_val")
    val after =
      if (ascending) v > afterVal || (v === afterVal && col("conv_id") > afterConv)
      else v < afterVal || (v === afterVal && col("conv_id") > afterConv)
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("sort_val"))
      .where(present(v) && after)
      .orderBy(if (ascending) v.asc else v.desc, col("conv_id").asc).limit(k)
  }

  /** Field collapsing (the Elasticsearch `collapse` clause): the single
    * best-scoring conversation per value of a caller-supplied doc-level
    * group column — "the top hit per team / per source shard". Exact by
    * construction: the FULL scored match set ([[bm25ScoredAll]] — no top-k
    * window to truncate a group's winner) joins the group values once, and
    * a per-group window keeps row 1 of (score desc, conv_id asc).
    *
    * Shape at scale: per-term pruned scans → one scored-set shuffle keyed by
    * group → window top-1. Group cardinality does not bound the shuffle —
    * the window is map-side-combinable in spirit (rank-1 rows only survive).
    *
    * @return (grp, conv_id, score) rows, one per group with ≥ 1 match.
    */
  def collapseTop(terms: Seq[String], meta: DataFrame, convCol: String,
      groupCol: String, conjunctive: Boolean = false,
      mustNot: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("score").desc, col("conv_id").asc)
    joinValues(bm25ScoredAll(terms, conjunctive, mustNot), meta, convCol)(
        col(groupCol).cast("string").as("grp"))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .select(col("grp"), col("conv_id"), col("score"))
  }

  /** Synonym-group scored BM25 (the Elasticsearch `synonym_graph` query-time
    * scoring): each group of terms scores as ONE virtual term — group tf =
    * Σ member tfs in the doc, group df = |union of member match sets| — so
    * a doc saying "car" twice and "automobile" once scores exactly like one
    * saying a single synonym three times, and the group's idf reflects how
    * rare the CONCEPT is, not its rarest spelling. Disjunctive across
    * groups, standard BM25 otherwise (same constants, same contrib shape as
    * every other surface; a singleton group is score-identical to the plain
    * term — spec-pinned).
    *
    * Plan: two pruned scans over the groups' posting blocks — one merging
    * member postings per (group, doc) and counting group dfs (a bounded
    * |groups|-row collect, same class as the IVF centroid sums), one
    * computing contributions with the premultiplied group weights — then
    * one groupBy(doc) sum and TakeOrdered(k). No driver materialization of
    * any match set.
    *
    * @return (conv_id, score) top-k, score desc then conv_id asc.
    */
  def bm25SynonymsTopK(groups: Seq[Seq[String]], k: Int): DataFrame = {
    val gs = groups.map(cleanTerms)
      .filter(_.nonEmpty)
    if (gs.isEmpty || k <= 0 || manifest.isEmpty) return emptyHits
    val m = manifest.get
    if (m.numDocs == 0 || m.avgdl <= 0.0) return emptyHits
    val k1 = conf.k1; val b = conf.b; val avgdl = m.avgdl; val n = m.numDocs
    // (group, doc) rows with merged tf: members' postings union per group;
    // a (doc, term) pair lives in exactly one block so the sum is exact,
    // and dl is a per-doc constant (min is a no-op merge)
    def groupRows: DataFrame = gs.zipWithIndex.map { case (g, gi) =>
      g.map(postingBlocks).reduce(_ union _).flatMap { blk =>
        val docs = blk.docs; val tfs = blk.tfs; val dls = blk.dls
        (0 until blk.n).iterator.map(j => (gi, docs(j), tfs(j), dls(j)))
      }.toDF("g", "docId", "tf", "dl")
    }.reduce(_ unionByName _)
      .groupBy(col("g"), col("docId"))
      .agg(sum(col("tf")).as("tf"), min(col("dl")).as("dl"))
    val dfs: Map[Int, Long] = groupRows.groupBy("g")
      .agg(count(lit(1)).as("df")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weights = gs.indices.map(gi =>
      Bm25.weight(n, dfs.getOrElse(gi, 0L), k1)).toArray
    val contribs = groupRows.as[(Int, Long, Long, Long)]
      .map { case (g, doc, tf, dl) =>
        (doc, Bm25.contrib(weights(g), tf, dl, k1, b, avgdl))
      }
      .toDF("docId", "c")
      .groupBy("docId").agg(sum(col("c")).as("score"))
    contribs.join(docsView, "docId")
      .select(col("convId").as("conv_id"), col("score"))
      .orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** Metric stats over the match set (the Elasticsearch `stats` aggregation):
    * count / min / max / sum / avg of a caller-supplied doc value across the
    * documents matching `term`. ES null semantics: docs missing the value
    * (null, or NaN after the double cast) are ignored — they contribute to
    * none of the five metrics, and an all-missing match set returns the
    * SQL-standard nulls with count 0.
    *
    * Shape at scale: pruned posting scan → one semi-join against the
    * doc-values frame → a single partial-aggregable global agg (one row out,
    * map-side combine does all the work). */
  def statsAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String): DataFrame = {
    val v = col("__v")
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
      .where(present(v))
      .agg(count(lit(1)).as("n"), min(v).as("min_v"), max(v).as("max_v"),
        sum(v).as("sum_v"), avg(v).as("avg_v"))
  }

  /** Percentiles over the match set (the Elasticsearch `percentiles`
    * aggregation) — EXACT linear-interpolated quantiles (Spark's
    * `percentile`, = SQL `percentile_cont`), not ES's TDigest sketch: the
    * approximation is a memory bound ES needs because its per-shard data
    * structure is bounded; Spark's sort-based exact percentile distributes,
    * so at any scale the exact answer is affordable here and strictly
    * dominates a sketch. Missing values ignored (ES semantics).
    *
    * @return (pct, value) rows in the caller's percentile order.
    */
  def percentilesAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String, pcts: Seq[Double]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0.0 && p <= 1.0),
      "percentiles must be in [0, 1]")
    val v = col("__v")
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
      .where(present(v))
      .agg(expr(s"percentile(__v, array(${pcts.mkString(", ")}))").as("__vs"))
      .select(posexplode(col("__vs")).as(Seq("__i", "value")))
      .withColumn("pct", element_at(typedLit(pcts), col("__i") + 1))
      .select(col("pct"), col("value"))
  }

  /** Percentile ranks (the Elasticsearch `percentile_ranks` aggregation,
    * the inverse of [[percentilesAgg]]): for each probe value, the
    * percentage of the match set's doc values ≤ that probe — EXACT counts
    * (ES interpolates over a TDigest sketch; at any scale the exact form is
    * one combinable aggregation here, so the sketch buys nothing). Missing
    * / NaN values ignored, like every metric agg.
    *
    * @return (value, pct) rows in probe order; pct in [0, 100], 4dp.
    */
  def percentileRanksAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String, values: Seq[Double]): DataFrame = {
    require(values.nonEmpty, "at least one probe value")
    val v = col("__v")
    val aggs = count(lit(1)).as("__n") +:
      values.zipWithIndex.map { case (x, i) =>
        count(when(v <= x, lit(1))).as(s"__c$i")
      }
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
      .where(present(v))
      .agg(aggs.head, aggs.tail: _*)
      .select(posexplode(array(values.indices.map(i =>
        col(s"__c$i").cast("double") / col("__n")): _*)).as(Seq("__i", "__f")))
      .select(element_at(typedLit(values), col("__i") + 1).as("value"),
        round(col("__f") * 100.0, 4).as("pct"))
  }

  /** Extended stats over the match set (the Elasticsearch `extended_stats`
    * aggregation): everything [[statsAgg]] publishes plus sum-of-squares,
    * POPULATION variance / standard deviation (the ES defaults), and the
    * `avg ± sigma·σ` bounds. Missing / NaN values ignored.
    *
    * Shape at scale: identical to [[statsAgg]] — pruned posting scan, one
    * semi-join, one combinable global agg (var_pop folds map-side). */
  def extendedStatsAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String, sigma: Double = 2.0): DataFrame = {
    val v = col("__v")
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
      .where(present(v))
      .agg(count(lit(1)).as("n"), min(v).as("min_v"), max(v).as("max_v"),
        sum(v).as("sum_v"), avg(v).as("avg_v"),
        sum(v * v).as("sum_sq"), var_pop(v).as("variance"),
        stddev_pop(v).as("std_dev"))
      .withColumn("std_upper", col("avg_v") + lit(sigma) * col("std_dev"))
      .withColumn("std_lower", col("avg_v") - lit(sigma) * col("std_dev"))
  }

  /** Weighted average of a doc value over the match set (the Elasticsearch
    * `weighted_avg` aggregation): Σ(v·w) / Σ(w). A row missing EITHER the
    * value or the weight contributes nothing (the ES default for a missing
    * weight is to skip the document; same for a missing value).
    *
    * Shape at scale: one combinable agg — two partial sums. */
  def weightedAvgAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String, weightCol: String): DataFrame = {
    val v = col("__v"); val w = col("__w")
    joinValues(membership(term), meta, convCol)(
        col(valCol).cast("double").as("__v"),
        col(weightCol).cast("double").as("__w"))
      .where(present(v) && present(w))
      .agg((sum(v * w) / sum(w)).as("w_avg"))
  }

  /** Median absolute deviation of a doc value over the match set (the
    * Elasticsearch `median_absolute_deviation` aggregation), EXACT:
    * median(|v − median(v)|) with linear-interpolated medians — ES
    * approximates over a TDigest; Spark's sort-based exact percentile
    * distributes, so the exact form wins at any scale. Missing / NaN
    * ignored. An empty match set returns one null row (SQL semantics).
    *
    * Shape at scale: two passes over the (pruned, semi-joined) value set —
    * the inner median is a one-row frame broadcast into the second pass;
    * nothing driver-side. */
  def madAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String): DataFrame = {
    val v = col("__v")
    val vals = joinValues(membership(term), meta, convCol)(
        col(valCol).cast("double").as("__v"))
      .where(present(v))
    val med = vals.agg(expr("percentile(__v, 0.5)").as("__med"))
    vals.crossJoin(broadcast(med))
      .agg(expr("percentile(abs(__v - __med), 0.5)").as("mad"))
  }

  /** String stats over a doc value (the Elasticsearch `string_stats`
    * aggregation): value count, min/max/avg length, and the Shannon entropy
    * (base 2) of the CHARACTER distribution across all matching values —
    * the ES `show_distribution` basis. Null values ignored.
    *
    * Shape at scale: lengths are one combinable agg over the semi-joined
    * values; entropy is one explode→two-level agg over characters (the char
    * alphabet is tiny, so the second level is one reduce). The two one-row
    * frames fuse via a broadcast cross join. */
  def stringStatsAgg(term: String, meta: DataFrame, convCol: String,
      strCol: String): DataFrame = {
    val vals = joinValues(membership(term), meta, convCol)(col(strCol).as("__s"))
      .where(col("__s").isNotNull)
    val lens = vals.agg(count(lit(1)).as("n"),
      min(length(col("__s"))).as("min_len"),
      max(length(col("__s"))).as("max_len"),
      avg(length(col("__s"))).as("avg_len"))
    val ent = vals
      .select(explode(split(col("__s"), "")).as("__c"))
      .where(length(col("__c")) > 0) // Java split(-1) emits a trailing ""
      .groupBy("__c").agg(count(lit(1)).as("__n"))
      .agg((-sum(col("__n") * log2(col("__n"))) / sum(col("__n")) +
        log2(sum(col("__n")))).as("entropy"))
    lens.crossJoin(broadcast(ent))
  }

  /** Cardinality of a doc value over the match set (the Elasticsearch
    * `cardinality` aggregation), EXACT: distinct count distributes as one
    * two-level agg, so unlike ES (whose HLL is forced by its per-shard reply
    * size) the exact answer is the default. Null values ignored.
    * [[cardinalityApprox]] is the HLL++ form for when an estimate is enough
    * at extreme group counts. `meta` may be turn-level (several rows per
    * conv) — distinctness is over values, not rows. */
  def cardinalityAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String): DataFrame =
    joinValues(membership(term), meta, convCol)(col(valCol).as("__v"))
      .where(col("__v").isNotNull)
      .agg(countDistinct(col("__v")).as("n_distinct"))

  /** Dis-max query (the Elasticsearch `dis_max` / best-fields pattern): each
    * sub-query scores independently and a document's combined score is its
    * BEST sub-query score plus `tieBreaker` × the others — the standard fix
    * for multi-clause queries where summing (the bool/should behavior)
    * over-rewards documents that match many clauses weakly over one that
    * matches a single clause strongly. tieBreaker 0 is pure best-of; 1
    * degenerates to the should-sum.
    *
    * Shape at scale: one full scored set per sub-query (each its own pruned
    * scans + one combinable fold), union, one groupBy(doc) computing
    * max+sum, TakeOrdered(k).
    */
  def disMaxTopK(queries: Seq[Seq[String]], tieBreaker: Double, k: Int): DataFrame = {
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, "tieBreaker must be in [0, 1]")
    val qs = queries.map(cleanTerms)
      .filter(_.nonEmpty)
    if (qs.isEmpty || k <= 0 || manifest.isEmpty) return emptyHits
    val scored = qs.map(g => bm25ScoredAll(g)).reduce(_ unionByName _)
    scored.groupBy("conv_id")
      .agg(max(col("score")).as("__mx"), sum(col("score")).as("__sm"))
      .select(col("conv_id"),
        (col("__mx") + lit(tieBreaker) * (col("__sm") - col("__mx"))).as("score"))
      .orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** Seeded random-score sampling (the Elasticsearch `function_score`
    * `random_score` with a seed): a DETERMINISTIC pseudo-random total order
    * over the match set — rank key md5(seed ‖ conv_id), uniform,
    * partitioning- and engine-independent (any SQL engine reproduces it),
    * so "a random k of the matches" pages stably and replays identically
    * anywhere. No shuffle beyond the TakeOrdered.
    *
    * @return (conv_id, rnd) rows, rnd the hex rank key, ascending.
    */
  def randomScoreTopK(term: String, seed: String, k: Int): DataFrame = {
    if (k <= 0) return emptyMembers.withColumn("rnd", lit(""))
    membership(term)
      .withColumn("rnd", md5(concat(lit(seed), col("conv_id"))))
      .orderBy(col("rnd").asc, col("conv_id").asc).limit(k)
  }

  /** Terms aggregation over a doc value (the Elasticsearch `terms`
    * aggregation on a doc-values field — the generic companion to the
    * index-backed [[killa.build.FieldIndexes.facetCounts]]): the top-`size`
    * values by how many MATCHING conversations carry them, ties on value
    * asc. `meta` may be turn-level; a conversation counts once per value it
    * carries (ES doc-count semantics). Nulls ignored.
    *
    * Shape at scale: pruned posting scan → semi-join → one distinct +
    * combinable count keyed by value → TakeOrdered(size). Unlike ES this is
    * EXACT at any shard count (no per-shard size truncation error — the
    * shuffle sees every value).
    */
  def termsAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String, size: Int = 10): DataFrame = {
    require(size >= 1, "size must be >= 1")
    joinValues(membership(term), meta, convCol)(col(valCol).cast("string").as("value"))
      .where(col("value").isNotNull)
      .select("conv_id", "value").distinct()
      .groupBy("value").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("value").asc).limit(size)
  }

  /** Fixed-interval numeric histogram over the match set (the Elasticsearch
    * `histogram` aggregation): bucket key = floor(v / interval) · interval,
    * one (bucket, hits) row per non-empty bucket (ES `min_doc_count: 1`
    * convention, same as [[dateHistogram]]). Missing values ignored.
    */
  def histogramAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String, interval: Double): DataFrame = {
    require(interval > 0.0, "interval must be > 0")
    val v = col("__v")
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
      .where(present(v))
      .groupBy((floor(v / interval) * interval).as("bucket"))
      .agg(count(lit(1)).as("hits"))
  }

  /** Composite aggregation (the Elasticsearch `composite` aggregation): doc
    * counts bucketed by a TUPLE of doc-value sources, streamed in key order
    * with after-key pagination — the ES-sanctioned way to page through an
    * unbounded bucket space (a `terms` agg materializes its whole top list;
    * composite pages in (k1, k2) order at constant cost per page). Buckets
    * strictly after `after` (lexicographic on the string key pair) are
    * returned, `size` at a time; a conversation counts once per distinct
    * key pair it carries. Null keys ignored (ES default, no missing_bucket).
    *
    * Shape at scale: semi-join → distinct → combinable count keyed by the
    * pair → TakeOrdered(size) under the key order. The after-filter pushes
    * into the aggregation input, so deep pages never rescan emitted buckets'
    * rows on the way out.
    */
  def compositeAgg(term: String, meta: DataFrame, convCol: String,
      key1Col: String, key2Col: String, size: Int = 10,
      after: Option[(String, String)] = None): DataFrame = {
    require(size >= 1, "size must be >= 1")
    val base = joinValues(membership(term), meta, convCol)(
        col(key1Col).cast("string").as("k1"),
        col(key2Col).cast("string").as("k2"))
      .where(col("k1").isNotNull && col("k2").isNotNull)
    val paged = after match {
      case Some((a1, a2)) =>
        base.where(col("k1") > a1 || (col("k1") === a1 && col("k2") > a2))
      case None => base
    }
    paged.select("conv_id", "k1", "k2").distinct()
      .groupBy("k1", "k2").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("k1").asc, col("k2").asc).limit(size)
  }

  /** HLL++ estimate of [[cardinalityAgg]] (the literal ES implementation
    * choice): one pass, bounded sketch per partition, `rsd` relative error.
    */
  def cardinalityApprox(term: String, meta: DataFrame, convCol: String,
      valCol: String, rsd: Double = 0.05): DataFrame =
    joinValues(membership(term), meta, convCol)(col(valCol).as("__v"))
      .where(col("__v").isNotNull)
      .agg(approx_count_distinct(col("__v"), rsd).as("n_distinct"))

  /** Change-point detection over the match set's date histogram (the
    * Elasticsearch `change_point` pipeline aggregation, its `step_change`
    * family): the bucket where splitting the series best separates the two
    * sides' mean hit rates — argmax over split points of |mean(left) −
    * mean(right)|, ties on the earliest bucket. A deterministic two-sample
    * mean-shift scan (the CUSUM estimate of a single step change); ES layers
    * p-values on the same statistic, which a caller can do from the reported
    * means and the sibling histogram.
    *
    * Shape at scale: the corpus is touched only by [[dateHistogram]]'s
    * pruned scan + combinable count; the split scan runs over the REDUCED
    * bucket list (bounded by the time range, never the corpus — the same
    * single-partition-window contract every pipeline agg here documents).
    *
    * @return one (bucket, left_mean, right_mean, diff) row — the first
    *         bucket of the right (post-change) regime; empty if the series
    *         has < 2 buckets.
    */
  def changePointAgg(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "minute"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.orderBy(col("bucket").asc)
    val all = Window.partitionBy()
    dateHistogram(term, meta, convCol, tsCol, unit)
      .withColumn("__i", row_number().over(ord))
      .withColumn("__cum", sum(col("hits")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__tot", sum(col("hits")).over(all))
      .where(col("__i") >= 2)
      .withColumn("__lm",
        (col("__cum") - col("hits")).cast("double") / (col("__i") - 1))
      .withColumn("__rm",
        (col("__tot") - col("__cum") + col("hits")).cast("double") /
          (col("__n") - col("__i") + 1))
      .orderBy(abs(col("__lm") - col("__rm")).desc, col("bucket").asc)
      .limit(1)
      .select(col("bucket"), round(col("__lm"), 4).as("left_mean"),
        round(col("__rm"), 4).as("right_mean"),
        round(abs(col("__lm") - col("__rm")), 4).as("diff"))
  }

  /** Categorize-text aggregation (the Elasticsearch `categorize_text`
    * aggregation — log-message pattern clustering): each matching
    * conversation's TURN texts reduce to a template — digit runs masked to
    * `<num>`, then the first `nTokens` whitespace tokens — and templates
    * bucket by how many turns produce them, top `size` by count desc then
    * template asc. ES clusters with a token-weight drift algorithm; the
    * leading-token template is the deterministic core of it (identical
    * heads land in one bucket) and is reproducible by any engine, which the
    * drift form is not.
    *
    * Shape at scale: pruned membership scan → equi-join to the caller's
    * turn frame → one codegen'd projection (regexp + split + slice) → one
    * combinable count → TakeOrdered(size). No driver materialization.
    *
    * @param turns turn-level frame carrying `convCol` and `textCol`.
    * @return (category, n_turns) rows, count desc then category asc.
    */
  def categorizeTextAgg(term: String, turns: DataFrame, convCol: String,
      textCol: String, nTokens: Int = 3, size: Int = 10): DataFrame = {
    require(nTokens >= 1, "nTokens must be >= 1")
    require(size >= 1, "size must be >= 1")
    joinValues(membership(term), turns, convCol)(col(textCol).as("__t"))
      .select(concat_ws(" ", slice(split(
        regexp_replace(col("__t"), "[0-9]+", "<num>"), " "), 1, nTokens))
        .as("category"))
      .where(length(col("category")) > 0)
      .groupBy("category").agg(count(lit(1)).as("n_turns"))
      .orderBy(col("n_turns").desc, col("category").asc).limit(size)
  }

  /** Random-sampler aggregation (the Elasticsearch `random_sampler`
    * aggregation): metric estimates computed over a DETERMINISTIC
    * `numerator`/256 sample of the matching documents, scaled back by the
    * inverse sampling probability — the agg that makes a metric affordable
    * over a huge match set by touching a fixed fraction of it. ES samples
    * with a seeded per-shard RNG; here the sample is content-addressed
    * (first md5(seed ‖ conv) byte below the threshold, the
    * [[killa.dedup.Dedup.hashSample]] family), so it is partitioning- and
    * engine-independent and any SQL engine reproduces it exactly.
    *
    * Shape at scale: the sample predicate is one codegen'd projection ON
    * TOP of the pruned membership scan — docs outside the sample still ride
    * the scan but never reach the doc-values join, which is where the
    * per-doc cost lives (ES's sampler skips index blocks instead; postings
    * here are already block-pruned by term).
    *
    * @return one (n_sampled, est_n_docs, est_sum) row — the sampled count,
    *         the scaled match-count estimate, the scaled sum estimate of
    *         `valCol`.
    */
  def randomSamplerAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String, numerator: Int, seed: String): DataFrame = {
    require(numerator >= 1 && numerator <= 256, "numerator must be in [1, 256]")
    // 256/256 keeps everything — a 3-hex-char "100" would misorder against
    // the 2-char digest prefix in the string compare
    val keep = if (numerator == 256) lit(true)
      else substring(md5(concat(lit(seed), col("conv_id"))), 1, 2) < f"$numerator%02x"
    val v = col("__v")
    joinValues(membership(term).where(keep), meta, convCol)(
        col(valCol).cast("double").as("__v"))
      .where(present(v))
      .agg(count(lit(1)).as("n_sampled"),
        round(count(lit(1)) * 256.0 / numerator, 4).as("est_n_docs"),
        round(sum(v) * 256.0 / numerator, 4).as("est_sum"))
  }

  /** Variable-width histogram (the Elasticsearch `variable_width_histogram`
    * aggregation): the match set's doc values split into `buckets`
    * EQUAL-DEPTH buckets — rank order under (value, conv) ties — each
    * reporting its count, min, centroid (mean) and max. ES clusters
    * per-shard and merges (result depends on shard routing, documented as
    * approximate); the equi-depth form answers the same "where does the
    * distribution sit" question deterministically, so it cross-checks
    * against any engine.
    *
    * Shape at scale: pruned scan → semi-join → a RANGE-partitioned sort on
    * (value, conv) + the two-pass distributed prefix rank
    * ([[killa.text.Packing]]'s idiom: per-partition counts → O(partitions)
    * driver state → exclusive base offsets), NOT a global ntile window
    * (which would single-partition the whole match set) → one combinable
    * per-bucket agg. Bucket assignment follows the SQL-standard NTILE rule
    * (first n mod b buckets one row larger), so any engine's ntile
    * reproduces it.
    *
    * @return (bucket 1-based, n, min_v, centroid, max_v) rows, bucket asc.
    */
  def variableWidthHistogramAgg(term: String, meta: DataFrame,
      convCol: String, valCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    import org.apache.spark.TaskContext
    val v = col("__v")
    val vals = joinValues(membership(term), meta, convCol)(
        col(valCol).cast("double").as("__v"))
      .where(present(v))
      .select(v, col("conv_id"))
      .repartitionByRange(v.asc, col("conv_id").asc)
      .sortWithinPartitions(v.asc, col("conv_id").asc)
      .as[(Double, String)]
      // pin the partitions: pass 2 must see the boundaries pass 1 counted
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partCounts = vals.mapPartitions { it =>
      var c = 0L; it.foreach(_ => c += 1)
      Iterator.single((TaskContext.getPartitionId(), c))
    }.collect().toMap
    val n = partCounts.values.sum
    if (n == 0L)
      return Seq.empty[(Long, Long, Double, Double, Double)]
        .toDF("bucket", "n", "min_v", "centroid", "max_v")
    val base: Map[Int, Long] = {
      var acc = 0L
      partCounts.toSeq.sortBy(_._1).map { case (p, c) =>
        val b = (p, acc); acc += c; b
      }.toMap
    }
    // SQL-standard NTILE: first rem buckets hold q+1 rows, the rest q
    val q = n / buckets; val rem = n % buckets
    val cut = rem * (q + 1)
    vals.mapPartitions { it =>
      var r = base.getOrElse(TaskContext.getPartitionId(), 0L)
      it.map { case (x, _) =>
        r += 1
        // q == 0 (more buckets than rows) ⇒ cut == n ⇒ first branch always
        val b = if (r <= cut) (r - 1) / (q + 1) + 1
                else rem + (r - 1 - cut) / q + 1
        (b, x)
      }
    }.toDF("bucket", "__v")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), round(min(v), 4).as("min_v"),
        round(avg(v), 4).as("centroid"), round(max(v), 4).as("max_v"))
      .orderBy(col("bucket").asc)
  }

  /** Multi-get (the Elasticsearch `ids` query / `_mget` API): for each
    * requested document id, whether it is alive at this snapshot and its
    * stored doc length — answered from the INDEX's docId dictionary (the
    * forward store), never from the source table, so a deleted doc reports
    * found = false even while its rows still sit in the lake.
    *
    * Shape at scale: the request list is a broadcast literal frame; one
    * column-pruned scan of the dictionary with an isin filter pushed to the
    * scan — no posting payload, no full dictionary materialization.
    *
    * @return one (conv_id, found, dl) row per requested id, request ids
    *         deduplicated, conv asc; dl null when not found.
    */
  def idsQuery(ids: Seq[String]): DataFrame = {
    val req = ids.distinct.toDF("conv_id")
    val alive = docs
      .where(col("convId").isin(ids.distinct: _*))
      .select(col("convId").as("conv_id"), col("dl"))
    req.join(alive, Seq("conv_id"), "left")
      .select(col("conv_id"), col("dl").isNotNull.as("found"), col("dl"))
      .orderBy(col("conv_id").asc)
  }

  /** Multi-terms aggregation (the Elasticsearch `multi_terms` aggregation):
    * doc counts bucketed by a TUPLE of doc-value sources, the top `size`
    * buckets by count desc with ties on the key pair asc — the count-ordered
    * companion to [[compositeAgg]]'s key-ordered paging. A conversation
    * counts once per distinct key pair it carries; null keys drop the pair
    * (ES default). Same distributed shape as [[termsAgg]] — semi-join →
    * distinct → combinable count → TakeOrdered(size) — and like it exact at
    * any shard count (no per-shard truncation error).
    *
    * @return (k1, k2, n_docs) rows, count desc then keys asc.
    */
  def multiTermsAgg(term: String, meta: DataFrame, convCol: String,
      key1Col: String, key2Col: String, size: Int = 10): DataFrame = {
    require(size >= 1, "size must be >= 1")
    joinValues(membership(term), meta, convCol)(
        col(key1Col).cast("string").as("k1"),
        col(key2Col).cast("string").as("k2"))
      .where(col("k1").isNotNull && col("k2").isNotNull)
      .select("conv_id", "k1", "k2").distinct()
      .groupBy("k1", "k2").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("k1").asc, col("k2").asc).limit(size)
  }

  /** Missing aggregation (the Elasticsearch `missing` aggregation): how many
    * MATCHING conversations lack the doc value — null in the frame or absent
    * from it entirely (both are "missing the field" in ES). One pruned
    * membership scan, one left join against the null-filtered frame, one
    * count — no distinct needed on the probe side because membership is
    * already one row per conv.
    *
    * @return a single (n_missing) row.
    */
  def missingAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String): DataFrame = {
    val has = meta.where(col(valCol).isNotNull).select(col(convCol)).distinct()
    joinValues(membership(term), has, convCol, "left")(lit(1).as("__has"))
      .agg(count(when(col("__has").isNull, lit(1))).as("n_missing"))
  }

  /** Bucket selector + bucket sort over the date histogram (the
    * Elasticsearch `bucket_selector` and `bucket_sort` pipeline
    * aggregations): keep only parent buckets with at least `minHits` hits
    * (the HAVING analog — ES scripts `params.hits >= minHits`), then return
    * the top `topN` surviving buckets by hits desc with ties on bucket asc.
    * Like all pipeline aggs this runs over the REDUCED bucket list, so the
    * distributed shape is the parent [[dateHistogram]]'s; the selector is a
    * post-aggregation filter and the sort a TakeOrdered over bucket
    * cardinality (bounded by the time range, not the corpus).
    *
    * @return (bucket, hits) rows, hits desc then bucket asc, ≤ topN.
    */
  def dateHistogramSelect(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day", minHits: Long = 1L,
      topN: Int = 10): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    dateHistogram(term, meta, convCol, tsCol, unit)
      .where(col("hits") >= minHits)
      .orderBy(col("hits").desc, col("bucket").asc).limit(topN)
  }

  /** Stats-bucket aggregation (the Elasticsearch `stats_bucket` pipeline
    * agg): one scalar row of min/max/avg/sum/count over the sibling date
    * histogram's per-bucket hit counts — "how bursty is this term over
    * time" in one row. Runs over the reduced bucket list like every
    * pipeline agg; the parent's distributed shape carries the cost.
    *
    * @return a single (n_buckets, min_hits, max_hits, avg_hits, sum_hits)
    *         row; avg rounded 4dp.
    */
  def statsBucket(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day"): DataFrame =
    dateHistogram(term, meta, convCol, tsCol, unit)
      .agg(count(lit(1)).as("n_buckets"),
        min(col("hits")).as("min_hits"),
        max(col("hits")).as("max_hits"),
        round(avg(col("hits")), 4).as("avg_hits"),
        sum(col("hits")).as("sum_hits"))

  /** Max-bucket sibling aggregation (the Elasticsearch `max_bucket` pipeline
    * agg): the maximum per-bucket hit count of the sibling date histogram
    * plus the KEYS of every bucket attaining it — ES reports `keys` as a
    * list because ties are legal; we render it as the comma-joined
    * ascending list so the row is flat and hash-comparable. `min_bucket` is
    * the same fold with `min`; `avg_bucket`/`sum_bucket` are single scalars
    * already served by [[statsBucket]]. Runs over the reduced bucket list
    * like every pipeline agg — the parent histogram carries the
    * distributed cost, this is a two-row-source broadcast join.
    *
    * @return a single (keys, value) row — keys the comma-joined bucket
    *         labels at the max, value the max hits.
    */
  def maxBucket(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day"): DataFrame = {
    val h = dateHistogram(term, meta, convCol, tsCol, unit)
    h.join(broadcast(h.agg(max(col("hits")).as("value"))),
        col("hits") === col("value"))
      .groupBy("value")
      .agg(concat_ws(",", sort_array(collect_list(col("bucket")))).as("keys"))
      .select(col("keys"), col("value"))
  }

  /** Value-count aggregation (the Elasticsearch `value_count` agg): how
    * many non-null doc values the MATCHING conversations carry — values,
    * not distinct values and not docs, so a conversation contributes once
    * per turn-level value it holds (multi-valued fields are the point of
    * this agg vs a plain hit count). Shape at scale: pruned membership
    * scan → one semi-join against the values frame → a count; no payload
    * decode, no distinct shuffle.
    *
    * @param vals (convCol, valCol) rows, possibly several per conv, nulls
    *             legal (nulls are what the count excludes).
    * @return a single (n_values) row.
    */
  def valueCountAgg(term: String, vals: DataFrame, convCol: String,
      valCol: String): DataFrame =
    joinValues(membership(term), vals, convCol)(col(valCol).as("__v"))
      .agg(count(col("__v")).as("n_values"))

  /** Date-range aggregation (the Elasticsearch `date_range` agg): matching
    * documents bucketed by which [from, to) timestamp interval their doc
    * value falls in — the date cousin of [[rangeFacet]] with identical ES
    * conventions: from inclusive, to exclusive, buckets labeled "from-to"
    * with "*" at the open ends, docs missing the value ignored, empty
    * buckets omitted. Same distributed shape as rangeFacet: pruned
    * membership scan → equi-join → one map-side-combinable groupBy.
    *
    * @param bounds ascending timestamp boundaries (at least one).
    * @return (bucket: string, hits: long) rows.
    */
  def dateRangeAgg(term: String, meta: DataFrame, convCol: String,
      tsCol: String, bounds: Seq[java.sql.Timestamp]): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sortBy(_.getTime),
      "bounds must be ascending")
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    val v = col("__ts")
    val edges = (None +: bounds.map(Some(_))) :+ None
    val bucket = edges.sliding(2).foldLeft(lit(null).cast("string")) {
      case (acc, Seq(lo, hi)) =>
        val name = s"${lo.fold("*")(fmt.format(_))}-${hi.fold("*")(fmt.format(_))}"
        val cond = lo.fold(lit(true))(b => v >= lit(b)) &&
          hi.fold(lit(true))(b => v < lit(b))
        when(acc.isNull && cond, lit(name)).otherwise(acc)
      case (acc, _) => acc
    }
    joinValues(membership(term), meta, convCol)(col(tsCol).cast("timestamp").as("__ts"))
      .where(v.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("hits"))
  }

  /** Global aggregation (the Elasticsearch `global` agg): metrics computed
    * OUTSIDE the query scope, side by side with the query-scoped ones —
    * "average doc length of the matches vs the whole corpus" in one row.
    * The global side never touches the index: it is one scan of the
    * caller's doc-values frame; the scoped side is the usual pruned
    * membership semi-join. The two single-row aggregates meet in a
    * cross join of literals — no distributed cost beyond the parents.
    *
    * @return a single (hits, avg_v, global_docs, global_avg_v) row,
    *         averages rounded 4dp.
    */
  def globalAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    joinValues(membership(term), meta, convCol)(v.as("__v"))
      .agg(count(lit(1)).as("hits"), round(avg(col("__v")), 4).as("avg_v"))
      .crossJoin(meta.agg(count(lit(1)).as("global_docs"),
        round(avg(v), 4).as("global_avg_v")))
  }

  /** Terms aggregation ordered by a sub-aggregation metric (the
    * Elasticsearch `terms` agg with `order: { "avg_v": "desc" }` instead
    * of the default doc-count order): buckets of a doc-values key over the
    * MATCHING conversations, each carrying its doc count and the average
    * of a second doc value, ranked by that average — "which tool's
    * conversations run longest", the agg shape the count-ordered
    * [[multiTermsAgg]] family cannot express. ES warns this order is
    * approximate under sharded execution; our fold is exact (one global
    * combinable groupBy — the shuffle is by key cardinality, not corpus).
    * Ties break on the key so the order is total.
    *
    * @return (key, n_docs, avg_v) rows, avg_v desc then key asc, ≤ size,
    *         avg 4dp.
    */
  def termsAggByMetric(term: String, meta: DataFrame, convCol: String,
      keyCol: String, valCol: String, size: Int): DataFrame = {
    require(size >= 1, "size must be >= 1")
    joinValues(membership(term), meta, convCol)(
        col(keyCol).as("__k"),
        col(valCol).cast("double").as("__v"))
      .groupBy(col("__k").as("key"))
      .agg(count(lit(1)).as("n_docs"), round(avg(col("__v")), 4).as("avg_v"))
      .orderBy(col("avg_v").desc, col("key").asc)
      .limit(size)
  }

  /** Bucket-correlation pipeline agg (the Elasticsearch `bucket_correlation`
    * shape, `count_correlation` function): Pearson correlation between two
    * sibling date histograms' per-bucket hit counts over the UNION of their
    * bucket sets (a bucket absent from one series counts 0 there) — "do
    * these two terms trend together over time" in one row. Like every
    * pipeline agg it runs over the reduced bucket lists; the two histogram
    * parents carry the distributed cost.
    *
    * @return one (n_buckets, correlation) row, correlation rounded 4dp
    *         (null when either series has zero variance).
    */
  def bucketCorrelation(termA: String, termB: String, meta: DataFrame,
      convCol: String, tsCol: String, unit: String = "day"): DataFrame = {
    val ha = dateHistogram(termA, meta, convCol, tsCol, unit)
      .select(col("bucket"), col("hits").as("ha"))
    val hb = dateHistogram(termB, meta, convCol, tsCol, unit)
      .select(col("bucket"), col("hits").as("hb"))
    // Pearson from explicit co-moments (covar_samp / (sa·sb)) rather than
    // corr(): ANSI mode makes corr() THROW on a zero-variance series inside
    // aggregate finalization, where no post-hoc guard can reach — the
    // when() here turns that case into the null ES reports
    ha.join(hb, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("ha", "hb"))
      .agg(count(lit(1)).as("n_buckets"),
        covar_samp(col("ha").cast("double"), col("hb").cast("double")).as("__c"),
        stddev_samp(col("ha").cast("double")).as("__sa"),
        stddev_samp(col("hb").cast("double")).as("__sb"))
      .select(col("n_buckets"),
        round(when(col("__sa") > 0.0 && col("__sb") > 0.0,
          col("__c") / (col("__sa") * col("__sb"))), 4).as("correlation"))
  }

  /** Top-hits aggregation (the Elasticsearch `top_hits` sub-aggregation
    * under a `terms` bucket): for each value of a doc-values field carried
    * by MATCHING conversations, the top `nPer` hits by BM25 score (ties on
    * conv_id asc) with their in-bucket rank — "the best examples per
    * category", the second most common ES agg shape after plain counts.
    *
    * Shape at scale: one full scored set (pruned scans + one combinable
    * fold), equi-join to the values, then a PARTIAL per-partition top-`nPer`
    * per value (bounded heaps inside mapPartitions — at most
    * values × nPer rows leave each partition) ahead of the final per-value
    * window. Without the partial step a hot value (half the corpus sharing
    * one role) would funnel its whole scored set through a single window
    * reducer; with it the shuffle carries ≤ partitions × values × nPer rows.
    *
    * @return (value, rank, conv_id, score) rows, value asc then rank asc.
    */
  def topHitsAgg(terms: Seq[String], meta: DataFrame, convCol: String,
      valCol: String, nPer: Int = 3,
      conjunctive: Boolean = false): DataFrame = {
    require(nPer >= 1, "nPer must be >= 1")
    val empty = Seq.empty[(String, Int, String, Double)]
      .toDF("value", "rank", "conv_id", "score")
    if (manifest.isEmpty) return empty
    val joined = joinValues(bm25ScoredAll(terms, conjunctive), meta, convCol)(
        col(valCol).cast("string").as("value"))
      .where(col("value").isNotNull)
      .select(col("value"), col("conv_id"), col("score"))
      // one row per (value, conv): turn-level meta repeats the pair, and a
      // duplicate surviving into the rank window would double-count a hit
      .distinct()
    // partial top-nPer per value inside each partition: a bounded ordered
    // buffer per live value — exact because the global top-nPer of a value
    // is a subset of the union of per-partition top-nPers
    val pruned = joined.as[(String, String, Double)].mapPartitions { it =>
      val best = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.TreeSet[(Double, String)]]
      // order worst-first so the head is the eviction candidate:
      // lower score first, then conv_id DESC (a larger conv ties-loses)
      implicit val ord: Ordering[(Double, String)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.String.reverse)
      it.foreach { case (v, c, s) =>
        val heap = best.getOrElseUpdate(v,
          scala.collection.mutable.TreeSet.empty[(Double, String)])
        heap.add((s, c))
        if (heap.size > nPer) heap.remove(heap.head)
      }
      best.iterator.flatMap { case (v, heap) =>
        heap.iterator.map { case (s, c) => (v, c, s) }
      }
    }.toDF("value", "conv_id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("value").orderBy(col("score").desc, col("conv_id").asc)
    pruned.withColumn("rank", row_number().over(w))
      .where(col("rank") <= nPer)
      .select("value", "rank", "conv_id", "score")
      .orderBy(col("value").asc, col("rank").asc)
  }

  /** Sampler aggregation (the Elasticsearch `sampler` agg with a `terms`
    * sub-agg): the child terms aggregation runs over only the top
    * `sampleSize` hits by relevance — "what do the BEST matches talk
    * about", cutting agg cost and long-tail noise on huge match sets. The
    * sample is the exact global top-`sampleSize` (score desc, conv_id asc —
    * deterministic, unlike ES's per-shard heuristic), then one bounded
    * semi-join + combinable count keyed by value.
    *
    * @return (value, n_docs) rows, count desc then value asc, ≤ size.
    */
  def samplerTermsAgg(terms: Seq[String], meta: DataFrame, convCol: String,
      valCol: String, sampleSize: Int = 100, size: Int = 10,
      conjunctive: Boolean = false): DataFrame = {
    require(sampleSize >= 1 && size >= 1, "sampleSize and size must be >= 1")
    val sample = bm25ScoredAll(terms, conjunctive)
      .orderBy(col("score").desc, col("conv_id").asc).limit(sampleSize)
      .select("conv_id")
    joinValues(sample, meta, convCol)(col(valCol).cast("string").as("value"))
      .where(col("value").isNotNull)
      .select("conv_id", "value").distinct()
      .groupBy("value").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("value").asc).limit(size)
  }

  /** Diversified sampler (the Elasticsearch `diversified_sampler` agg): like
    * [[samplerTermsAgg]] but the sample first caps how many documents any
    * single `diversifyCol` value may contribute (`maxDocsPerValue`) — the
    * anti-bias knob for skewed corpora (one hot source would otherwise own
    * the whole sample). Cap selection is the per-value top by (score desc,
    * conv_id asc), then the global top-`sampleSize` of the survivors —
    * deterministic end to end. Docs missing the diversify value are
    * EXCLUDED (ES: de-duplication needs a key).
    */
  def diversifiedTermsAgg(terms: Seq[String], meta: DataFrame, convCol: String,
      diversifyCol: String, valCol: String, maxDocsPerValue: Int = 1,
      sampleSize: Int = 100, size: Int = 10,
      conjunctive: Boolean = false): DataFrame = {
    require(maxDocsPerValue >= 1, "maxDocsPerValue must be >= 1")
    require(sampleSize >= 1 && size >= 1, "sampleSize and size must be >= 1")
    val wDiv = org.apache.spark.sql.expressions.Window
      .partitionBy("__dk").orderBy(col("score").desc, col("conv_id").asc)
    // partial per-partition top-maxDocsPerValue per diversify key ahead of
    // the window (same trick as topHitsAgg): a hot key — half the corpus
    // sharing one source — would otherwise funnel its whole scored set
    // through a single window reducer; after the prune the shuffle carries
    // ≤ partitions × keys × maxDocsPerValue rows and the window is exact
    // (the global per-key top is a subset of the per-partition tops)
    val joined = bm25ScoredAll(terms, conjunctive)
      .join(docValues(meta, convCol)(col(diversifyCol).cast("string").as("__dk"))
        .where(col("__dk").isNotNull).distinct(), "conv_id")
      .select(col("__dk"), col("conv_id"), col("score"))
      .as[(String, String, Double)]
    val prePruned = joined.mapPartitions { it =>
      val best = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.TreeSet[(Double, String)]]
      implicit val ord: Ordering[(Double, String)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String.reverse)
      it.foreach { case (k, c, s) =>
        val heap = best.getOrElseUpdate(k,
          scala.collection.mutable.TreeSet.empty[(Double, String)])
        heap.add((s, c))
        if (heap.size > maxDocsPerValue) heap.remove(heap.head)
      }
      best.iterator.flatMap { case (k, heap) =>
        heap.iterator.map { case (s, c) => (k, c, s) }
      }
    }.toDF("__dk", "conv_id", "score")
    val sample = prePruned
      .withColumn("__dr", row_number().over(wDiv))
      .where(col("__dr") <= maxDocsPerValue)
      .orderBy(col("score").desc, col("conv_id").asc).limit(sampleSize)
      .select("conv_id")
    joinValues(sample, meta, convCol)(col(valCol).cast("string").as("value"))
      .where(col("value").isNotNull)
      .select("conv_id", "value").distinct()
      .groupBy("value").agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("value").asc).limit(size)
  }

  /** Auto-interval date histogram (the Elasticsearch `auto_date_histogram`):
    * the caller states how many buckets it wants, the engine picks the
    * interval — the "zoom to fit" facet for time ranges unknown up front.
    * Deterministic rule (SQL-reproducible, unlike ES's rounding ladder):
    * from the fixed ladder second / minute / hour / day / week(7d) /
    * month(30d) / year(365d), pick the SMALLEST fixed interval whose span
    * bucket count floor(maxE/i) − floor(minE/i) + 1 over the match set's
    * epoch range fits `targetBuckets`; the largest rung wins if none fits.
    * Buckets are epoch-aligned (floor(epoch/i)·i), empty ones omitted.
    *
    * Shape: one pruned membership scan reused twice — a 1-row min/max agg
    * picks the interval, then the same join feeds one combinable count.
    *
    * @return (bucket "yyyy-MM-dd HH:mm:ss", hits, interval_secs) rows.
    */
  def autoDateHistogram(term: String, meta: DataFrame, convCol: String,
      tsCol: String, targetBuckets: Int = 10): DataFrame = {
    require(targetBuckets >= 1, "targetBuckets must be >= 1")
    val empty = Seq.empty[(String, Long, Long)]
      .toDF("bucket", "hits", "interval_secs")
    val ladder = Seq(1L, 60L, 3600L, 86400L, 7L * 86400L, 30L * 86400L,
      365L * 86400L)
    val joined = joinValues(membership(term), meta, convCol)(
        unix_timestamp(col(tsCol)).as("__e"))
      .where(col("__e").isNotNull)
    val mm = joined.agg(min(col("__e")).as("lo"), max(col("__e")).as("hi"))
      .collect()
    if (mm.isEmpty || mm(0).isNullAt(0)) return empty
    val (lo, hi) = (mm(0).getLong(0), mm(0).getLong(1))
    val interval = ladder
      .find(i => Math.floorDiv(hi, i) - Math.floorDiv(lo, i) + 1 <= targetBuckets)
      .getOrElse(ladder.last)
    joined
      .groupBy(date_format(
        (floor(col("__e") / interval) * interval).cast("timestamp"),
        "yyyy-MM-dd HH:mm:ss").as("bucket"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("interval_secs", lit(interval))
  }

  /** Matrix-stats aggregation (the Elasticsearch `matrix_stats` agg, pair
    * form): sample variance / covariance / correlation between two numeric
    * doc values over the match set — "do long conversations cluster late"
    * in one row. One pruned membership scan, one equi-join, one combinable
    * moment fold (Spark's covar/corr aggregates are one-pass).
    *
    * @return a single (n, mean1, mean2, var1, var2, covar, pearson) row,
    *         doubles rounded 4dp (presentation-stable across engines).
    */
  def matrixStatsAgg(term: String, meta: DataFrame, convCol: String,
      val1Col: String, val2Col: String): DataFrame =
    joinValues(membership(term), meta, convCol)(
        col(val1Col).cast("double").as("__a"),
        col(val2Col).cast("double").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .agg(count(lit(1)).as("n"),
        round(avg(col("__a")), 4).as("mean1"),
        round(avg(col("__b")), 4).as("mean2"),
        round(var_samp(col("__a")), 4).as("var1"),
        round(var_samp(col("__b")), 4).as("var2"),
        round(covar_samp(col("__a"), col("__b")), 4).as("covar"),
        round(corr(col("__a"), col("__b")), 4).as("pearson"))

  /** Decay-scored top-k (the Elasticsearch `function_score` decay functions,
    * `boost_mode: multiply`): each hit's BM25 score multiplies by a decay of
    * its distance from `origin` on a caller-supplied doc value — recency
    * ranking ("relevant AND recent") without a hard cutoff. The three ES
    * shapes, each pinned so decay(scale) = `decay` exactly:
    *  - gauss:  exp(d² · ln(decay) / scale²)
    *  - exp:    exp(d  · ln(decay) / scale)
    *  - linear: max(0, 1 − d · (1 − decay) / scale)
    * with d = max(0, |v − origin| − offset). Docs missing the value keep
    * multiplier 1.0 (ES decay-on-missing semantics).
    *
    * Exactness requires the FULL scored match set — a multiplier ≤ 1 can
    * demote any windowed top into the tail, so no top-k pruning is sound
    * before the multiply (ES itself scores every function_score match).
    * Shape at scale: [[bm25ScoredAll]]'s one map-side-combinable fold → one
    * join with the doc-values frame → TakeOrdered(k). For a cheap windowed
    * approximation use [[rescoreTopK]] with the decay as the factor frame.
    */
  def decayScoredTopK(terms: Seq[String], k: Int, meta: DataFrame,
      convCol: String, valCol: String, origin: Double, scale: Double,
      offset: Double = 0.0, decay: Double = 0.5, fn: String = "gauss",
      conjunctive: Boolean = false): DataFrame = {
    require(scale > 0.0, "scale must be > 0")
    require(decay > 0.0 && decay < 1.0, "decay must be in (0, 1)")
    if (k <= 0) return emptyHits
    val v = col("__v")
    val d = greatest(lit(0.0), abs(v - lit(origin)) - lit(offset))
    val mult = fn match {
      case "gauss" => exp(d * d * lit(math.log(decay) / (scale * scale)))
      case "exp" => exp(d * lit(math.log(decay) / scale))
      case "linear" =>
        greatest(lit(0.0), lit(1.0) - d * lit((1.0 - decay) / scale))
      case other =>
        throw new IllegalArgumentException(s"unknown decay fn: $other")
    }
    joinValues(bm25ScoredAll(terms, conjunctive), meta, convCol, "left")(
        col(valCol).cast("double").as("__v"))
      .select(col("conv_id"), (col("score") *
        when(v.isNull || isnan(v), lit(1.0)).otherwise(mult)).as("score"))
      .orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** Field-value-factor top-k (the Elasticsearch `field_value_factor`
    * function, `boost_mode: multiply`): score × modifier(factor · value) —
    * popularity/size boosts from a doc value. Modifiers: `ln1p` (ES log1p,
    * the safe default), `sqrt`, `none`. Docs missing the value use the
    * `missing` substitute (ES parameter of the same name). Full-scored-set
    * exactness for the same reason as [[decayScoredTopK]].
    */
  def fieldValueFactorTopK(terms: Seq[String], k: Int, meta: DataFrame,
      convCol: String, valCol: String, factor: Double = 1.0,
      modifier: String = "ln1p", missing: Double = 1.0,
      conjunctive: Boolean = false): DataFrame = {
    if (k <= 0) return emptyHits
    val v = col("__v")
    val raw = coalesce(when(isnan(v), lit(missing)).otherwise(v), lit(missing)) *
      lit(factor)
    val mult = modifier match {
      case "ln1p" => log1p(raw)
      case "sqrt" => sqrt(raw)
      case "none" => raw
      case other =>
        throw new IllegalArgumentException(s"unknown modifier: $other")
    }
    joinValues(bm25ScoredAll(terms, conjunctive), meta, convCol, "left")(
        col(valCol).cast("double").as("__v"))
      .select(col("conv_id"), (col("score") * mult).as("score"))
      .orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** Boosting query (the Elasticsearch `boosting` query): hits score by the
    * positive terms as usual, but any hit ALSO matching a negative term has
    * its score multiplied by `negativeBoost` — demotion, not exclusion (the
    * mustNot form). negativeBoost = 0 keeps demoted docs ranked last but
    * present; 1 is a no-op (spec-pinned identities).
    *
    * Shape at scale: full scored set → left join against the negative
    * membership (pruned posting scans, distinct conv set) → TakeOrdered(k).
    */
  def boostingTopK(positive: Seq[String], negative: Seq[String],
      negativeBoost: Double, k: Int, conjunctive: Boolean = false): DataFrame = {
    require(negativeBoost >= 0.0 && negativeBoost <= 1.0,
      "negativeBoost must be in [0, 1]")
    if (k <= 0) return emptyHits
    val scored = bm25ScoredAll(positive, conjunctive)
    val neg = cleanTerms(negative)
    val demoted =
      if (neg.isEmpty) scored
      else scored.join(
          membershipAny(neg).withColumn("__neg", lit(1)), Seq("conv_id"), "left")
        .select(col("conv_id"),
          when(col("__neg").isNotNull, col("score") * lit(negativeBoost))
            .otherwise(col("score")).as("score"))
    demoted.orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** [[collapseTop]] generalized to inner hits (the Elasticsearch
    * `collapse.inner_hits` shape): the top-`n` conversations per group, with
    * each hit's in-group rank. Same exact-by-construction full-scored-set +
    * per-group window; only rank-≤-n rows survive the window.
    *
    * @return (grp, rn, conv_id, score) rows, rn = 1-based in-group rank by
    *         (score desc, conv_id asc).
    */
  def collapseTopN(terms: Seq[String], meta: DataFrame, convCol: String,
      groupCol: String, n: Int, conjunctive: Boolean = false,
      mustNot: Seq[String] = Nil): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("score").desc, col("conv_id").asc)
    joinValues(bm25ScoredAll(terms, conjunctive, mustNot), meta, convCol)(
        col(groupCol).cast("string").as("grp"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= n)
      .select(col("grp"), col("rn"), col("conv_id"), col("score"))
  }

  /** Significant terms (the Elasticsearch `significant_terms` aggregation):
    * the terms most characteristic of the documents matching `term`, scored
    * by JLH — (fgRate − bgRate) · (fgRate / bgRate), where fgRate is a
    * term's document rate inside the match set and bgRate its rate in the
    * whole corpus — keeping only genuinely over-represented terms
    * (fgRate > bgRate) and excluding the query term itself (it is trivially
    * significant in its own match set).
    *
    * Plan (everything distributed, no driver materialization of any term
    * set): the match set's docIds come from the term's pruned posting scan;
    * the per-term foreground df is ONE semi-join of the merged forward index
    * (term-and-docId columns only — tf/dl payloads pruned away) against
    * those docIds followed by a map-side-combinable count; background df is
    * already materialized in every posting block, so the bg side is a
    * dictionary-column scan that never decodes a posting. At corpus scale
    * this is inherently a foreground-proportional analytic aggregation —
    * exactly what ES's own significant_terms is; its standard cost control
    * (the `sampler` aggregation) composes here as a filter on the match set
    * before the semi-join.
    *
    * @return (term, fg_df, bg_df, score) rows, top-n by raw score desc then
    *         term asc (selection on exact doubles; display rounding is the
    *         caller's choice, mirroring the BM25 surfaces).
    */
  def significantTerms(term: String, n: Int = 10): DataFrame = {
    val empty = Seq.empty[(String, Long, Long, Double)]
      .toDF("term", "fg_df", "bg_df", "score")
    if (term == null || term.isEmpty || n <= 0 || manifest.isEmpty) return empty
    val m = manifest.get
    if (m.numDocs == 0) return empty
    val fgN = membershipCount(term)
    if (fgN == 0) return empty
    val fgIds = blockDocIds(postingBlocks(term))
    // one row per (doc, term) in the merged forward view ⇒ count = fg df
    val fgDf = killa.store.Logs.forward(spark, m)
      .select("term", "docId")
      .join(fgIds, "docId")
      .groupBy("term").agg(count(lit(1)).as("fg_df"))
    // df is stamped globally into every block — max() is exact (same
    // invariant suggest() rides); (term, df) only, payloads never read
    val bgDf = allBlocks.toDF()
      .groupBy("term").agg(max(col("df")).as("bg_df"))
    val fgRate = col("fg_df").cast("double") / lit(fgN.toDouble)
    val bgRate = col("bg_df").cast("double") / lit(m.numDocs.toDouble)
    fgDf.join(bgDf, "term")
      .where(col("term") =!= term)
      .withColumn("__fr", fgRate).withColumn("__br", bgRate)
      .where(col("__fr") > col("__br"))
      .withColumn("score", (col("__fr") - col("__br")) * (col("__fr") / col("__br")))
      .select("term", "fg_df", "bg_df", "score")
      .orderBy(col("score").desc, col("term").asc)
      .limit(n)
  }

  /** Significant-text aggregation (the Elasticsearch `significant_text`
    * agg): [[significantTerms]]'s JLH scoring with the foreground SAMPLED to
    * the top `sampleSize` hits by BM25 relevance rather than the whole match
    * set — the ES-recommended shape for big noisy indices (`significant_text`
    * is documented to be used under a `sampler`), where the best matches
    * define "what this query is about" and the long tail only dilutes. The
    * sample is the exact global top (score desc, conv_id asc), fg df comes
    * from the forward log restricted to the sampled docs, bg df from the
    * block-stamped global df, and the JLH fold, tie order, and fg>bg guard
    * are identical to [[significantTerms]].
    *
    * @return (term, fg_df, bg_df, score) rows, JLH desc then term asc, ≤ n.
    */
  def significantText(term: String, sampleSize: Int = 100,
      n: Int = 10): DataFrame = {
    require(sampleSize >= 1, "sampleSize must be >= 1")
    val empty = Seq.empty[(String, Long, Long, Double)]
      .toDF("term", "fg_df", "bg_df", "score")
    if (term == null || term.isEmpty || n <= 0 || manifest.isEmpty) return empty
    val m = manifest.get
    if (m.numDocs == 0) return empty
    val sampleConvs = bm25TopKRows(Seq(term), sampleSize).map(_._1)
    if (sampleConvs.isEmpty) return empty
    val fgN = sampleConvs.length.toLong
    val fgIds = docsView.where(col("convId").isin(sampleConvs.toSeq: _*))
      .select("docId")
    val fgDf = killa.store.Logs.forward(spark, m)
      .select("term", "docId")
      .join(fgIds, "docId")
      .groupBy("term").agg(count(lit(1)).as("fg_df"))
    val bgDf = allBlocks.toDF()
      .groupBy("term").agg(max(col("df")).as("bg_df"))
    val fgRate = col("fg_df").cast("double") / lit(fgN.toDouble)
    val bgRate = col("bg_df").cast("double") / lit(m.numDocs.toDouble)
    fgDf.join(bgDf, "term")
      .where(col("term") =!= term)
      .withColumn("__fr", fgRate).withColumn("__br", bgRate)
      .where(col("__fr") > col("__br"))
      .withColumn("score", (col("__fr") - col("__br")) * (col("__fr") / col("__br")))
      .select("term", "fg_df", "bg_df", "score")
      .orderBy(col("score").desc, col("term").asc)
      .limit(n)
  }

  /** The one positional scan behind every phrase / span / interval kernel
    * (the index IndexWriter.buildPositions writes and IndexMaintainer's
    * positions step maintains). It scans ONLY the slot terms' position
    * buckets ([[termPosPaths]]) with a pushed IN filter the sorted term
    * column's row-group stats prune on, groups per candidate doc (each group
    * ≤ |terms| position lists of ONE doc — bounded), and hands `hits` one
    * sorted position list per slot: the union of the slot's terms' lists,
    * empty when none of them occurs in the doc. The union stays strictly
    * ascending after one merge-sort because one document position holds
    * exactly one token, so distinct terms' lists are disjoint; a
    * single-member slot passes its (already sorted) list through. `hits`
    * returns the doc's hit count; docs at 0 drop. The closure captures
    * plain values only, never the reader.
    *
    * @return (docId, hits) rows, or None when there is no snapshot or none
    *         of the terms' position dirs exists.
    * @throws IllegalStateException when the snapshot has no positional index.
    */
  private def positionalHits(slots: Seq[Seq[String]])(
      hits: Array[Array[Long]] => Long): Option[DataFrame] = {
    val m = manifest match {
      case Some(m) => m
      case None => return None
    }
    if (m.posBuckets.isEmpty)
      throw new IllegalStateException(
        "no positional index at this snapshot — run IndexWriter.buildPositions once")
    val terms = slots.flatten.distinct
    val paths = termPosPaths(terms)
    if (paths.isEmpty) return None
    val slotsV: Array[Array[String]] = slots.map(_.toArray).toArray
    val posSchema = org.apache.spark.sql.Encoders.product[PosRow].schema
    Some(spark.read.schema(posSchema).parquet(paths: _*)
      .where(col("term").isin(terms: _*))
      .select("term", "docId", "np", "posBin")
      .as[(String, Long, Int, Array[Byte])]
      .groupByKey(_._2)
      .flatMapGroups { (docId, it) =>
        val byTerm = scala.collection.mutable.Map.empty[String, Array[Long]]
        it.foreach { case (t, _, n, bin) => byTerm(t) = PosRow.decode(bin, n) }
        val lists: Array[Array[Long]] = slotsV.map { st =>
          val ls = st.flatMap(byTerm.get)
          if (ls.isEmpty) Array.emptyLongArray
          else if (ls.length == 1) ls(0)
          else {
            val all = Array.concat(ls.toIndexedSeq: _*)
            java.util.Arrays.sort(all); all
          }
        }
        val n = hits(lists)
        if (n > 0) Iterator.single((docId, n)) else Iterator.empty
      }
      .toDF("docId", "hits"))
  }

  /** [[positionalHits]] as a match set: the conv_ids of the docs whose slot
    * position lists satisfy `matches`. The label join also filters dead
    * docs (deletes never rewrite positions).
    */
  private def positionalMatch(slots: Seq[Seq[String]])(
      matches: Array[Array[Long]] => Boolean): DataFrame =
    positionalHits(slots)(lists => if (matches(lists)) 1L else 0L)
      .fold(emptyMembers)(_.join(docsView, "docId").select(col("convId").as("conv_id")))

  /** Phrase search over the positional index (IndexWriter.buildPositions,
    * maintained incrementally by IndexMaintainer's positions step):
    * conversations containing the terms at consecutive global positions.
    * Plan: the [[positionalHits]] scan (position buckets pruned to the
    * phrase terms, one bounded group per candidate doc), an executor-side
    * merge-intersection of the sorted position lists, then the label join.
    * Duplicate phrase terms are handled (each slot looks up its own term's
    * list).
    */
  def phrase(termsIn: Seq[String]): DataFrame = phrase(termsIn, 0)

  /** [[phrase]] generalized to ordered proximity: the terms must occur in
    * order, each at most `slop` positions beyond strictly-consecutive —
    * i.e. positions p₁ < p₂ < … with pᵢ₊₁ ≤ pᵢ + 1 + slop. slop = 0 is the
    * exact phrase. Matching is the full reachable-position chain (NOT a
    * greedy walk, which is incomplete for slop > 0): candidate positions of
    * term i+1 are those reachable from ANY kept position of term i, computed
    * by a two-pointer merge over the sorted lists — O(Σ positions) per doc,
    * and exactly the chained range-join semantics the SQL oracle uses.
    */
  def phrase(termsIn: Seq[String], slop: Int): DataFrame = {
    val terms = termsIn.filter(t => t != null && t.nonEmpty)
    if (terms.isEmpty || manifest.isEmpty) return emptyMembers
    if (terms.length == 1) return membership(terms.head)
    phraseSlots(terms.map(Seq(_)), slop)
  }

  /** Match-phrase-prefix (the Elasticsearch `match_phrase_prefix` query):
    * an exact phrase whose LAST slot matches any dictionary term carrying
    * `prefix` — the search-as-you-type shape. Expansion follows the ES rule
    * exactly: the first `maxExpansions` matching terms in term-dictionary
    * (lexicographic) order, so the cap is deterministic. The expansion is a
    * sidecar-pruned dictionary-column scan (payloads never read) and the
    * phrase itself is ONE positional pass with the expansion as a slot set —
    * never |expansion| separate phrase queries.
    */
  def phrasePrefix(termsIn: Seq[String], prefix: String,
      maxExpansions: Int = 50, slop: Int = 0): DataFrame = {
    if (prefix == null || prefix.isEmpty || maxExpansions <= 0 || manifest.isEmpty)
      return emptyMembers
    val terms = termsIn.filter(t => t != null && t.nonEmpty)
    val paths = prunedBucketPaths(Some(prefix), None)
    if (paths.isEmpty) return emptyMembers
    val expanded = spark.read.schema(blockSchema).parquet(paths: _*)
      .where(col("term").startsWith(prefix))
      .select("term").distinct().orderBy("term").limit(maxExpansions)
      .as[String].collect().toSeq
    if (expanded.isEmpty) return emptyMembers
    if (terms.isEmpty) return membershipAny(expanded) // bare-prefix degenerate
    phraseSlots(terms.map(Seq(_)) :+ expanded, slop)
  }

  /** Span-first (the Elasticsearch `span_first` query): conversations whose
    * FIRST occurrence of `term` falls inside the document's leading `limit`
    * positions (document-global, 0-based — "mentioned in the opening").
    * One [[positionalHits]] scan; position lists are delta-coded ascending,
    * so element 0 IS the first occurrence.
    */
  def spanFirst(term: String, limit: Int): DataFrame = {
    if (term == null || term.isEmpty || limit <= 0) return emptyMembers
    val limitV = limit.toLong
    positionalMatch(Seq(Seq(term)))(lists => lists(0).nonEmpty && lists(0)(0) < limitV)
  }

  /** The generalized phrase kernel: slot i of the phrase matches ANY term of
    * `slotsIn(i)` (singleton slots ⇒ the plain phrase; a multi-term last
    * slot ⇒ match_phrase_prefix), its position list being the slot union
    * [[positionalHits]] builds.
    */
  private def phraseSlots(slotsIn: Seq[Seq[String]], slop: Int): DataFrame = {
    val slots = slotsIn.map(cleanTerms)
    if (slots.isEmpty || slots.exists(_.isEmpty)) return emptyMembers
    val slopV = math.max(0, slop)
    positionalMatch(slots) { slotPos =>
      // reachable-position chain: cand = positions of the current slot
      // from which a valid chain of all previous slots ends. Position
      // lists are sorted (encoder writes ascending), so one two-pointer
      // pass per slot suffices: q matches iff some kept p satisfies
      // q - 1 - slop ≤ p ≤ q - 1.
      var cand = slotPos(0)
      var i = 1
      while (i < slotPos.length && cand.nonEmpty) {
        val next = slotPos(i)
        val out = Array.newBuilder[Long]
        var a = 0
        var bIdx = 0
        while (bIdx < next.length) {
          val q = next(bIdx)
          while (a < cand.length && cand(a) < q - 1 - slopV) a += 1
          if (a < cand.length && cand(a) <= q - 1) out += q
          bIdx += 1
        }
        cand = out.result()
        i += 1
      }
      cand.nonEmpty
    }
  }

  /** Span-near, unordered (the Elasticsearch/Lucene `span_near` query with
    * `in_order = false` and single-term clauses): conversations containing
    * one occurrence of EACH distinct term such that the covering window is
    * tight enough — `(max(p) − min(p) + 1) − |terms| ≤ slop`, Lucene's
    * unordered-span slack. Order-free: "agg … batch" matches where the
    * ordered [[phrase]](slop) does not. [[spanNearAny]] with one term per
    * slot; one distinct term answers from membership.
    */
  def spanNear(termsIn: Seq[String], slop: Int): DataFrame =
    spanNearAny(cleanTerms(termsIn).map(Seq(_)), slop)

  /** span_near over span_or clauses (the Elasticsearch `span_or` wrapped in
    * `span_near`): each slot is an OR of alternative terms, and a slot's
    * span position list is the sorted UNION of its alternatives' positions —
    * the one extra rule span_or adds. Proximity is unordered: one position
    * per slot with max − min + 1 − n ≤ slop. Plan: the [[positionalHits]]
    * scan, then the classic minimal-covering-window k-pointer merge over the
    * sorted per-slot lists: advance the pointer holding the global minimum,
    * so every locally-minimal window is visited once — O(Σ positions · n)
    * per doc, no materialized cross-product. Distinct terms occupy distinct
    * document positions, so no same-position guard is needed. A single slot
    * is union membership of its alternatives.
    *
    * @param slots one Seq of alternative terms per span position.
    * @return distinct matching conv_ids.
    */
  def spanNearAny(slots: Seq[Seq[String]], slop: Int): DataFrame = {
    val cleaned = slots.map(cleanTerms)
      .filter(_.nonEmpty)
    if (cleaned.isEmpty || manifest.isEmpty) return emptyMembers
    if (cleaned.length == 1) return membershipAny(cleaned.head)
    val slack = math.max(0, slop).toLong
    positionalMatch(cleaned) { lists =>
      val k = lists.length
      val idx = new Array[Int](k)
      var hit = false
      var exhausted = lists.exists(_.isEmpty)
      while (!hit && !exhausted) {
        var mn = Long.MaxValue; var mx = Long.MinValue; var mnAt = -1
        var j = 0
        while (j < k) {
          val v = lists(j)(idx(j))
          if (v < mn) { mn = v; mnAt = j }
          if (v > mx) mx = v
          j += 1
        }
        if (mx - mn + 1L - k <= slack) hit = true
        else {
          idx(mnAt) += 1
          if (idx(mnAt) >= lists(mnAt).length) exhausted = true
        }
      }
      hit
    }
  }

  /** Ordered intervals query (the Elasticsearch `intervals` query, `match`
    * rule with `ordered: true, max_gaps: G` — Lucene's minimal-interval
    * semantics, the modern replacement for ordered spans): conversations
    * holding the terms in the GIVEN order with total slack
    * (pₙ − p₁ + 1 − n) ≤ G. Strict order distinguishes this from
    * [[spanNear]] (any order) and from [[phrase]]'s slop (edit-distance
    * chaining). Exact and O(Σ positions) per doc: p₁ sweeps ascending while
    * each later slot keeps a forward-only pointer to its smallest position
    * above the previous slot's — the greedy successor minimizes pₙ for
    * every p₁, so the first window within budget is a true match and an
    * exhausted slot ends the doc. Same scale shape as the span family:
    * position scans pruned to the terms' buckets, bounded per-doc groups.
    *
    * @return distinct matching conv_ids.
    */
  def intervalsOrdered(termsIn: Seq[String], maxGaps: Int): DataFrame = {
    val terms = termsIn.filter(t => t != null && t.nonEmpty)
    if (terms.isEmpty || manifest.isEmpty) return emptyMembers
    if (terms.length == 1) return membership(terms.head)
    val slack = math.max(0, maxGaps).toLong
    positionalMatch(terms.map(Seq(_))) { lists =>
      val n = lists.length
      val ptr = new Array[Int](n) // forward-only successor cursors
      var hit = false
      var i1 = 0
      while (!hit && i1 < lists(0).length) {
        var prev = lists(0)(i1)
        var ok = true
        var j = 1
        while (ok && j < n) {
          val lj = lists(j)
          while (ptr(j) < lj.length && lj(ptr(j)) <= prev) ptr(j) += 1
          if (ptr(j) >= lj.length) ok = false
          else { prev = lj(ptr(j)); j += 1 }
        }
        if (!ok) i1 = lists(0).length // a slot exhausted: no later p₁ helps
        else if (prev - lists(0)(i1) + 1L - n <= slack) hit = true
        else i1 += 1
      }
      hit
    }
  }

  /** `any_of` intervals combinator (the Elasticsearch `intervals` query's
    * `any_of` rule over `match` sources): a document matches if ANY of the
    * alternative ordered term sequences matches under the shared `maxGaps`
    * budget — "install then failed, or setup then error". Pure disjunctive
    * composition over [[intervalsOrdered]]: each alternative keeps its own
    * bucket-pruned position scan and O(Σ positions) per-doc walk, and the
    * union dedups on conv_id (one shuffle over match-set-sized inputs). An
    * alternative list that is empty after cleaning is dropped; no live
    * alternatives means no matches.
    *
    * @param alternatives one ordered term sequence per `any_of` branch.
    * @return distinct matching conv_ids.
    */
  def intervalsAnyOf(alternatives: Seq[Seq[String]], maxGaps: Int): DataFrame = {
    val cleaned = alternatives.map(_.filter(t => t != null && t.nonEmpty))
      .filter(_.nonEmpty)
    if (cleaned.isEmpty || manifest.isEmpty) return emptyMembers
    cleaned.map(a => intervalsOrdered(a, maxGaps)).reduce(_ unionByName _)
      .distinct()
  }

  /** span_multi inside span_near (the Elasticsearch `span_multi` wrapper —
    * a multi-term query used as ONE span clause): the `prefix` slot rewrites
    * to a span_or over its dictionary expansion, exactly Lucene's
    * `SpanMultiTermQueryWrapper` top-terms rewrite, and then proximity runs
    * as plain [[spanNearAny]] ("scan* within slop 4 of failed"). The
    * expansion is [[expandPrefix]]'s deterministic rule — first
    * `maxExpansions` matching dictionary terms, lexicographic — so results
    * are stable across shard counts and rebuilds (ES's default rewrite
    * ranks by score and is shard-dependent; determinism is the contract
    * here). Scale shape: one sidecar-pruned dictionary scan bounded by
    * `maxExpansions`, then the span family's bucket-pruned position scan.
    *
    * @param terms the remaining literal span slots.
    * @return distinct matching conv_ids.
    */
  def spanMultiNear(prefix: String, maxExpansions: Int, terms: Seq[String],
      slop: Int): DataFrame = {
    val expanded = expandPrefix(prefix, maxExpansions)
    if (expanded.isEmpty) return emptyMembers
    spanNearAny(expanded +: terms.map(Seq(_)), slop)
  }

  /** Sparse-vector query (the Elasticsearch `sparse_vector` /
    * `text_expansion` query shape, ELSER-style): the query is a weighted
    * term set and a document scores Σ_t weight(t) · tf(t, d) — a pure
    * dot product between the query's sparse vector and the document's
    * term-frequency features, NO corpus statistics (that is the point:
    * the expansion model already encoded importance in the weights, so df
    * must not rescale them). Exact and fully distributed: the terms'
    * bucket-pruned blocks decode in [[termTf]], the weights ride a
    * broadcast join, per-doc scores fold in one map-side-combinable
    * groupBy, and only a bounded top-k orders. Zero or negative weights
    * are rejected rather than silently dropped.
    *
    * @return (conv_id, score) rows, score desc then conv asc, ≤ k of them.
    */
  def sparseVector(weights: Map[String, Double], k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(weights.values.forall(_ > 0.0), "weights must be > 0")
    val clean = weights.filter { case (t, _) => t != null && t.nonEmpty }
    if (clean.isEmpty || manifest.isEmpty) return emptyHits
    val wdf = clean.toSeq.toDF("term", "__w")
    val scored = termTf(clean.keys.toSeq)
      .join(broadcast(wdf), "term")
      .groupBy("conv_id")
      .agg(sum(col("__w") * col("tf")).as("score"))
    scored.orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** Sliced scored export (the Elasticsearch sliced-scroll contract,
    * `slice: {id, max}`): deterministic disjoint partition of the FULL
    * scored match set by a hash of the document id, so `max` independent
    * consumers can drain one export in parallel and their union is exactly
    * [[bm25ScoredAll]] with no overlap. The slice key is the first 8 hex
    * chars of md5(conv_id) taken mod `max` — content-independent,
    * engine-independent, and reproducible anywhere (the same operator the
    * hash-sampling family uses), unlike ES's internal-doc-id slicing which
    * shifts with shard topology. Each slice's scan is the export's own
    * plan plus one codegen'd filter; slices are meant to run concurrently,
    * so aggregate work stays one export.
    *
    * @return (conv_id, score) rows of slice `sliceId`, unordered.
    */
  def slicedExport(terms: Seq[String], sliceId: Int, maxSlices: Int,
      conjunctive: Boolean = false): DataFrame = {
    require(maxSlices >= 1, "maxSlices must be >= 1")
    require(sliceId >= 0 && sliceId < maxSlices, "sliceId must be in [0, maxSlices)")
    val all = bm25ScoredAll(terms, conjunctive = conjunctive)
    if (maxSlices == 1) return all
    val h = conv(substring(md5(col("conv_id")), 1, 8), 16, 10).cast("long")
    all.where(pmod(h, lit(maxSlices.toLong)) === sliceId.toLong)
  }

  /** Terms-lookup query (the Elasticsearch `terms` query with a `lookup`
    * block: "documents sharing any term with document X"): the term set is
    * fetched from one source document at query time, then runs as a plain
    * multi-term OR membership over the index. The lookup itself is ONE
    * filtered, column-pruned scan of the source table and collects only
    * that document's distinct tokens — bounded by a single document's
    * length, the same driver-cost contract as [[moreLikeThis]]'s term
    * selection (which this generalizes: no tf ranking, ALL the lookup
    * doc's terms qualify, ES semantics). The membership fan-out is
    * [[membershipAny]]'s: scans pruned to exactly the terms' buckets.
    *
    * @param source frame holding `idCol` and `textCol` at document grain.
    * @return distinct matching conv_ids (the lookup doc matches itself).
    */
  def termsLookup(source: DataFrame, idCol: String, textCol: String,
      lookupId: String): DataFrame = {
    if (lookupId == null || lookupId.isEmpty || manifest.isEmpty)
      return emptyMembers
    val terms = source.where(col(idCol) === lookupId)
      .select(explode(killa.tokenize.Tokenize.termsCol(col(textCol))).as("term"))
      .distinct().as[String].collect().toSeq
    if (terms.isEmpty) emptyMembers else membershipAny(terms)
  }

  /** Multi-search (the Elasticsearch `_msearch` API): several independent
    * top-k queries in one call, results tagged by slot — the batch serving
    * shape (one dashboard refresh = one msearch). Each slot is a full
    * [[bm25TopK]] with its own pruning; the union is a plan combinator, not
    * a shuffle (each branch is already ≤ k rows). The slot list is
    * request-sized, like the API it mirrors.
    *
    * @return (slot, conv_id, score) rows, each slot's rows in its own
    *         exact (score desc, conv asc) top-k.
    */
  def msearch(slots: Seq[(String, Seq[String])], k: Int): DataFrame = {
    require(slots.nonEmpty, "msearch needs at least one slot")
    require(slots.map(_._1).distinct.length == slots.length, "duplicate slot names")
    slots.map { case (slot, terms) =>
      bm25TopK(terms, k).withColumn("slot", lit(slot))
    }.reduce(_ unionByName _).select("slot", "conv_id", "score")
  }

  /** Ranked-result evaluation (the Elasticsearch `_rank_eval` API): run each
    * query, intersect its exact top-k with the caller's relevance judgments,
    * and report the standard ranking metrics per query — precision@k,
    * recall@k (against that query's judged-relevant count), and MRR
    * (reciprocal rank of the first relevant hit, 0 when none lands in the
    * top k). This is the offline search-quality gate (and the dedup/recall
    * harness a training pipeline runs after every index or ranking change).
    * The query list is request-sized (driver loop bounded by the request,
    * like [[msearch]]); judgments stay a distributed frame and every metric
    * folds in one combinable aggregation.
    *
    * @param queries    (query_id, terms) pairs to evaluate.
    * @param judgments  frame of (qidCol, convCol) relevant pairs.
    * @return (query_id, precision_k, recall_k, mrr) — one row per query,
    *         queries with no results included at 0.
    */
  def rankEval(queries: Seq[(String, Seq[String])], judgments: DataFrame,
      qidCol: String, convCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(queries.nonEmpty, "rank_eval needs at least one query")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("conv_id").asc)
    val ranked = queries.map { case (qid, terms) =>
      bm25TopK(terms, k).withColumn("query_id", lit(qid))
    }.reduce(_ unionByName _)
      .withColumn("rank", row_number().over(w))
    val rel = judgments.select(col(qidCol).as("query_id"),
      col(convCol).as("conv_id"), lit(1L).as("__rel")).distinct()
    val relCounts = rel.groupBy("query_id").agg(count(lit(1)).as("__nrel"))
    val perQuery = ranked.join(rel, Seq("query_id", "conv_id"), "left")
      .groupBy("query_id")
      .agg(sum(when(col("__rel").isNotNull, 1L).otherwise(0L)).as("__hits"),
        min(when(col("__rel").isNotNull, col("rank"))).as("__fr"))
    queries.map(_._1).toDF("query_id")
      .join(perQuery, Seq("query_id"), "left")
      .join(relCounts, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("__hits"), lit(0L)) / lit(k.toDouble), 4)
          .as("precision_k"),
        round(coalesce(col("__hits"), lit(0L)) /
          coalesce(col("__nrel"), lit(1L)).cast("double"), 4).as("recall_k"),
        round(coalesce(lit(1.0) / col("__fr").cast("double"), lit(0.0)), 4)
          .as("mrr"))
  }

  /** Graded ranked-result evaluation (the Elasticsearch `_rank_eval` `dcg`
    * metric, `normalize: true`): DCG@k = Σ (2^grade − 1) / log2(rank + 1)
    * over each query's exact top-k, normalized by the ideal DCG of that
    * query's judgments (grades desc, top k) — the standard graded companion
    * to [[rankEval]]'s binary precision/recall/MRR. Unjudged hits gain 0;
    * queries whose judgments are all grade 0 (or absent) report ndcg 0.
    * Same shape as rankEval: a request-sized driver loop of pruned top-k
    * kernels, judgments stay a distributed frame, metrics fold in one
    * combinable aggregation each.
    *
    * @param judgments (qidCol, convCol, gradeCol) rows; duplicate pairs
    *                  keep their max grade.
    * @return (query_id, dcg_k, ndcg_k) — one row per query, 4dp.
    */
  def rankEvalNdcg(queries: Seq[(String, Seq[String])], judgments: DataFrame,
      qidCol: String, convCol: String, gradeCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(queries.nonEmpty, "rank_eval needs at least one query")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("conv_id").asc)
    val ranked = queries.map { case (qid, terms) =>
      bm25TopK(terms, k).withColumn("query_id", lit(qid))
    }.reduce(_ unionByName _)
      .withColumn("rank", row_number().over(w))
    val rel = judgments
      .select(col(qidCol).as("query_id"), col(convCol).as("conv_id"),
        col(gradeCol).cast("double").as("__g"))
      .groupBy("query_id", "conv_id").agg(max(col("__g")).as("__g"))
    val gain = (pow(lit(2.0), col("__g")) - lit(1.0)) /
      log2(col("rank") + lit(1.0))
    val dcg = ranked.join(rel, Seq("query_id", "conv_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(gain, lit(0.0))).as("__dcg"))
    val iw = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("__g").desc, col("conv_id").asc)
    val ideal = rel.withColumn("rank", row_number().over(iw))
      .where(col("rank") <= k)
      .groupBy("query_id").agg(sum(gain).as("__idcg"))
    queries.map(_._1).toDF("query_id")
      .join(dcg, Seq("query_id"), "left")
      .join(ideal, Seq("query_id"), "left")
      .select(col("query_id"),
        round(coalesce(col("__dcg"), lit(0.0)), 4).as("dcg_k"),
        round(when(col("__idcg") > 0.0,
          coalesce(col("__dcg"), lit(0.0)) / col("__idcg"))
          .otherwise(0.0), 4).as("ndcg_k"))
  }

  /** Learning-to-rank feature extraction (the Elasticsearch LTR plugin's
    * feature-logging surface): for each query's exact BM25 top-k, the
    * per-document feature vector a reranker trains on — the BM25 score,
    * how many query terms matched, their summed term frequency, the summed
    * pure idf of the matched terms, and the document length. One pruned
    * posting scan per query term decoding (tf, dl, df) in a single
    * flatMap, one combinable per-doc fold, a top-k window per query — the
    * [[bm25ScoredAll]] shape with a wider aggregate row, no extra passes
    * for the extra features.
    *
    * @return (query_id, rank, conv_id, score, n_matched, sum_tf, sum_idf,
    *         dl) rows, rank 1..k per query, floats 4dp.
    */
  def ltrFeatures(queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(queries.nonEmpty, "ltr needs at least one query")
    val empty = Seq.empty[(String, Int, String, Double, Long, Long, Double, Long)]
      .toDF("query_id", "rank", "conv_id", "score", "n_matched", "sum_tf",
        "sum_idf", "dl")
    if (manifest.isEmpty) return empty
    val m = manifest.get
    if (m.numDocs == 0 || m.avgdl <= 0.0) return empty
    val k1 = conf.k1; val b = conf.b; val avgdl = m.avgdl; val n = m.numDocs
    val perQuery = queries.map { case (qid, termsIn) =>
      val terms = cleanTerms(termsIn)
      require(terms.nonEmpty, s"query '$qid' has no terms")
      terms.map(postingBlocks).reduce(_ union _)
        .flatMap { blk =>
          val w = Bm25.weight(n, blk.df, k1)
          val i = Bm25.idf(n, blk.df)
          val docs = blk.docs; val tfs = blk.tfs; val dls = blk.dls
          (0 until blk.n).iterator.map { j =>
            (docs(j), Bm25.contrib(w, tfs(j), dls(j), k1, b, avgdl),
              tfs(j), dls(j), i)
          }
        }
        .toDF("docId", "c", "tf", "dl", "w")
        .groupBy("docId")
        .agg(sum(col("c")).as("score"),
          count(lit(1)).as("n_matched"),
          sum(col("tf")).as("sum_tf"),
          sum(col("w")).as("sum_idf"),
          // "__dl": the dictionary join below carries its own dl column
          max(col("dl")).as("__dl"))
        .withColumn("query_id", lit(qid))
    }.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("score").desc, col("convId").asc)
    perQuery.join(docsView, "docId")
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("convId").as("conv_id"),
        round(col("score"), 4).as("score"), col("n_matched"), col("sum_tf"),
        round(col("sum_idf"), 4).as("sum_idf"), col("__dl").as("dl"))
  }

  /** Span-not (the Elasticsearch/Lucene `span_not` query, single-term
    * spans): conversations with an occurrence of `include` that does NOT
    * lie within `pre` positions after — nor `post` positions before — any
    * occurrence of `exclude` (i.e. no exclude position in
    * `[p − pre, p + post]` around a surviving include position p). The
    * "spark, but not in the phrase 'spark plug'" shape. One
    * [[positionalHits]] scan; inside each group a single two-pointer pass
    * over the two sorted lists — the exclude cursor only ever moves forward
    * because include positions ascend. A doc without `exclude` keeps every
    * include position.
    */
  def spanNot(include: String, exclude: String, pre: Int, post: Int): DataFrame = {
    if (include == null || include.isEmpty || manifest.isEmpty) return emptyMembers
    if (exclude == null || exclude.isEmpty) return membership(include)
    if (include == exclude) return emptyMembers // a span minus itself
    val preV = math.max(0, pre).toLong
    val postV = math.max(0, post).toLong
    positionalMatch(Seq(Seq(include), Seq(exclude))) { case Array(a, b) =>
      var i = 0; var j = 0; var hit = false
      while (!hit && i < a.length) {
        val p = a(i)
        while (j < b.length && b(j) < p - preV) j += 1
        if (j >= b.length || b(j) > p + postV) hit = true
        i += 1
      }
      hit
    }
  }

  /** Match-bool-prefix (the Elasticsearch `match_bool_prefix` query): every
    * term but the last is a disjunctive term clause; the last token is a
    * PREFIX whose dictionary expansion scores as one blended clause. The
    * expansion rule is [[phrasePrefix]]'s exactly (first `maxExpansions`
    * dictionary terms in lexicographic order, sidecar-pruned dictionary
    * scan); the blended clause is a [[bm25SynonymsTopK]] synonym group —
    * group tf = Σ expansion tfs, group df = |union of match sets| — a
    * deterministic, oracle-checkable scoring choice where Lucene's default
    * rewrite degrades the prefix clause to constant-score.
    */
  def matchBoolPrefix(termsIn: Seq[String], prefix: String,
      maxExpansions: Int = 50, k: Int = 10): DataFrame = {
    if (prefix == null || prefix.isEmpty || maxExpansions <= 0 || k <= 0 ||
        manifest.isEmpty) return emptyHits
    val terms = cleanTerms(termsIn)
    val expanded = expandPrefix(prefix, maxExpansions)
    val groups = terms.map(Seq(_)) ++
      (if (expanded.nonEmpty) Seq(expanded) else Nil)
    if (groups.isEmpty) return emptyHits
    bm25SynonymsTopK(groups, k)
  }

  /** Deterministic prefix expansion — the first `maxExpansions` dictionary
    * terms with `prefix`, lexicographic order (the [[phrasePrefix]] /
    * [[matchBoolPrefix]] rule, shared by QueryString's trailing-`*`
    * clauses). One sidecar-pruned dictionary scan; the collect is bounded
    * by `maxExpansions`.
    */
  def expandPrefix(prefix: String, maxExpansions: Int): Seq[String] = {
    if (prefix == null || prefix.isEmpty || maxExpansions <= 0 ||
        manifest.isEmpty) return Nil
    val paths = prunedBucketPaths(Some(prefix), None)
    if (paths.isEmpty) Nil
    else spark.read.schema(blockSchema).parquet(paths: _*)
      .where(col("term").startsWith(prefix))
      .select("term").distinct().orderBy("term").limit(maxExpansions)
      .as[String].collect().toSeq
  }

  /** Phrase suggester ("did you mean", the ES term suggester with
    * `suggest_mode = missing` applied per slot): each input token present
    * in the dictionary is kept with its global df; each ABSENT token is
    * replaced by its best edit-distance-≤ maxDist dictionary candidate,
    * ranked df desc then term asc ([[suggest]]'s exact rule); an absent
    * token with no candidate survives unchanged with df 0. Driver cost is
    * bounded by the query length: ONE [[termDf]] scan for all input
    * tokens, plus one [[suggest]] dictionary scan per
    * misspelled token (the edit-≤1 neighborhood of a term is
    * alphabet-bounded).
    *
    * @return (slot, input, suggestion, df) rows in slot order.
    */
  def suggestPhrase(termsIn: Seq[String], maxDist: Int = 1): DataFrame = {
    val empty = Seq.empty[(Int, String, String, Long)]
      .toDF("slot", "input", "suggestion", "df")
    val terms = termsIn.filter(t => t != null && t.nonEmpty)
    if (terms.isEmpty || manifest.isEmpty) return empty
    val distinct = terms.distinct
    // df 0 = absent from the dictionary: the token needs a correction
    val dfMap = termDf(distinct).filter(_._2 > 0)
    val corrections: Map[String, (String, Long)] =
      distinct.filterNot(dfMap.contains).map { in =>
        val c = suggest(in, maxDist, 1).collect()
        in -> (if (c.isEmpty) (in, 0L) else (c(0).getString(0), c(0).getLong(1)))
      }.toMap
    terms.zipWithIndex.map { case (t, i) =>
      dfMap.get(t) match {
        case Some(df) => (i, t, t, df)
        case None => val (s, df) = corrections(t); (i, t, s, df)
      }
    }.toDF("slot", "input", "suggestion", "df")
  }

  /** Per-doc span-nesting hit counts — the shared core of [[spanContaining]]
    * and [[spanWithin]]. A "big" span is an ORDERED pair occurrence:
    * `first` at p, `second` at q, p < q ≤ p + 1 + slop (the Lucene ordered
    * span_near window, endpoints inclusive). Returns, per matching doc, the
    * number of DISTINCT `little` positions lying inside at least one big
    * span. One [[positionalHits]] scan; inside each group a single forward
    * pass: for each p the widest valid span [p, qmax] dominates every
    * narrower one (any covered little position is covered by it), and both
    * p and qmax are non-decreasing across the loop, so one little-cursor
    * sweep counts each covered position exactly once — O(|A| + |B| + |L|)
    * per doc, no span materialization.
    */
  private def spanNestHits(first: String, second: String, slop: Int,
      little: String): DataFrame = {
    val empty = Seq.empty[(Long, Long)].toDF("docId", "hits")
    if (Seq(first, second, little).exists(t => t == null || t.isEmpty)) return empty
    val slopV = math.max(0, slop).toLong
    positionalHits(Seq(Seq(first), Seq(second), Seq(little))) { case Array(a, b, l) =>
      var hits = 0L
      var bi = 0; var li = 0; var ai = 0
      while (ai < a.length) {
        val p = a(ai)
        while (bi < b.length && b(bi) <= p) bi += 1
        // widest q for this p: scan forward WITHOUT consuming (the
        // same b position may close a later p's span too)
        var j = bi; var qmax = -1L
        while (j < b.length && b(j) <= p + 1 + slopV) { qmax = b(j); j += 1 }
        if (qmax >= 0) {
          while (li < l.length && l(li) < p) li += 1
          while (li < l.length && l(li) <= qmax) { hits += 1; li += 1 }
        }
        ai += 1
      }
      hits
    }.getOrElse(empty)
  }

  /** Span-containing (the Elasticsearch/Lucene `span_containing` query, big
    * = ordered two-term span_near with `slop`, little = a term span):
    * conversations holding a big span [p, q] (`first`@p, `second`@q,
    * p < q ≤ p + 1 + slop) with an occurrence of `little` inside it —
    * "a `join`…`hash` window that mentions `row`".
    *
    * @return distinct conv_id rows.
    */
  def spanContaining(first: String, second: String, slop: Int,
      little: String): DataFrame =
    spanNestHits(first, second, slop, little)
      .join(docsView, "docId").select(col("convId").as("conv_id"))

  /** Span-within (the Elasticsearch/Lucene `span_within` query, same clause
    * shapes as [[spanContaining]]): the little-side view — per conversation,
    * how many DISTINCT `little` occurrences lie inside at least one big
    * span. The doc set equals [[spanContaining]]'s by construction (both
    * require one little-inside-big witness); the counts are the little
    * spans a Lucene scorer would enumerate.
    *
    * @return (conv_id, hits) rows.
    */
  def spanWithin(first: String, second: String, slop: Int,
      little: String): DataFrame =
    spanNestHits(first, second, slop, little)
      .join(docsView, "docId")
      .select(col("convId").as("conv_id"), col("hits"))

  /** Filters aggregation (the Elasticsearch `filters` agg with one term
    * query per named bucket): per-name matching-document counts, served
    * entirely from block METADATA in one job — the [[termDf]] lookup of the
    * filter terms, no posting decode at any corpus scale. Names must be
    * unique; a term may back several names (each name reports the full
    * term match count).
    *
    * @param filters (name, term) pairs.
    * @return (name, hits) rows; a name whose term is absent is omitted
    *         (ES emits 0-count buckets — callers wanting gauge rows can
    *         left-join the name list).
    */
  def filtersAgg(filters: Seq[(String, String)]): DataFrame = {
    val empty = Seq.empty[(String, Long)].toDF("name", "hits")
    val fl = filters.filter { case (n, t) =>
      n != null && n.nonEmpty && t != null && t.nonEmpty }
    require(fl.map(_._1).distinct.length == fl.length,
      "filter names must be unique")
    if (fl.isEmpty || manifest.isEmpty) return empty
    val df = termDf(fl.map(_._2).distinct)
    fl.collect { case (nm, t) if df(t) > 0 => (nm, df(t)) }.toDF("name", "hits")
  }

  /** Adjacency-matrix aggregation (the Elasticsearch `adjacency_matrix`
    * agg, one term query per named filter): matching-doc counts for every
    * single filter AND every pairwise intersection, keyed ES-style —
    * singles by name, intersections as `a&b` with the two names in
    * lexicographic order; empty buckets omitted. One pruned scan decodes
    * each filter's postings once; the per-doc name set (bounded by
    * |filters| — ES caps the agg at 100 filters for the same quadratic
    * reason) expands to its singles + pairs map-side, then one count
    * shuffle. No self-join of match sets.
    *
    * @return (key, hits) rows.
    */
  def adjacencyMatrix(filters: Seq[(String, String)]): DataFrame = {
    val empty = Seq.empty[(String, Long)].toDF("key", "hits")
    val fl = filters.filter { case (n, t) =>
      n != null && n.nonEmpty && t != null && t.nonEmpty }
    require(fl.map(_._1).distinct.length == fl.length,
      "filter names must be unique")
    if (fl.isEmpty || manifest.isEmpty) return empty
    val terms = fl.map(_._2).distinct
    val paths = termBucketPaths(terms)
    if (paths.isEmpty) return empty
    val namesByTerm: Map[String, Seq[String]] =
      fl.groupBy(_._2).map { case (t, ps) => t -> ps.map(_._1) }
    spark.read.schema(blockSchema).parquet(paths: _*)
      .where(col("term").isin(terms: _*))
      .select(col("term"), col("n"), col("docsBin"))
      .as[(String, Int, Array[Byte])]
      .flatMap { case (t, n, bin) =>
        PostingBlock.decodeDocs(bin, n).iterator.map(d => (d, t))
      }
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val names = it.flatMap { case (_, t) => namesByTerm(t) }
          .toArray.distinct.sorted
        val singles = names.iterator
        val pairs = for {
          i <- names.indices.iterator
          j <- (i + 1) until names.length
        } yield s"${names(i)}&${names(j)}"
        singles ++ pairs
      }
      .toDF("key")
      .groupBy("key").agg(count(lit(1)).as("hits"))
  }

  /** Rare-terms aggregation (the Elasticsearch `rare_terms` agg over the
    * indexed text field): dictionary terms whose document frequency is at
    * most `maxDf`, rarest first — the long-tail complement of a top-terms
    * facet. Served entirely from block metadata: one column-pruned
    * (term, df) scan over the committed dictionary, no posting decode, no
    * doc-side work at any corpus scale.
    *
    * @return (term, df) rows, df asc then term asc, ≤ n rows.
    */
  def rareTerms(maxDf: Long, n: Int): DataFrame = {
    if (n <= 0 || manifest.isEmpty) return Seq.empty[(String, Long)].toDF("term", "df")
    allBlocks
      .groupBy("term").agg(max(col("df")).as("df"))
      .where(col("df") <= maxDf)
      .orderBy(col("df").asc, col("term").asc).limit(n)
  }

  /** Pipeline aggregations over a date histogram (the Elasticsearch
    * `cumulative_sum`, `derivative`, and `moving_fn`/avg pipeline aggs as
    * sibling columns of their parent [[dateHistogram]]): per bucket, the
    * hit count plus its running total, first difference (null in the first
    * bucket — ES emits no derivative there), and trailing `movingWindow`-
    * bucket average (partial windows averaged over what exists, the
    * `moving_fn` default). Pipeline aggs run over the REDUCED bucket list —
    * in ES on the coordinating node, here as a single-partition window over
    * the already-aggregated histogram (bucket cardinality is the time
    * range over the unit, not the corpus size), so the distributed shape
    * is the parent's.
    *
    * @return (bucket, hits, cum_hits, deriv, mavg) rows; mavg rounded 4dp.
    */
  def dateHistogramPipeline(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day", movingWindow: Int = 3): DataFrame = {
    require(movingWindow >= 1, "movingWindow must be >= 1")
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
    val mw = w.rowsBetween(-(movingWindow - 1).toLong, 0L)
    dateHistogram(term, meta, convCol, tsCol, unit)
      .withColumn("cum_hits", sum(col("hits")).over(w))
      .withColumn("deriv", col("hits") - lag(col("hits"), 1).over(w))
      .withColumn("mavg", round(avg(col("hits")).over(mw), 4))
  }

  /** serial_diff pipeline aggregation (the Elasticsearch `serial_diff` agg,
    * completing the pipeline family next to [[dateHistogramPipeline]]'s
    * cumulative_sum/derivative/moving_fn and [[statsBucket]]): per histogram
    * bucket, hits minus the hits `lag` buckets earlier — the seasonal
    * differencing step of Box-Jenkins preprocessing (lag 1 = derivative,
    * lag 7 on daily buckets = week-over-week change). ES semantics: the
    * first `lag` buckets emit null (nothing to difference against). Same
    * coordinating-node shape as the siblings: a single-partition window
    * over the REDUCED bucket list, distribution lives in the parent.
    *
    * @return (bucket, hits, sdiff) rows, bucket asc.
    */
  def serialDiff(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day", lagN: Int = 1): DataFrame = {
    require(lagN >= 1, "lag must be >= 1")
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
    dateHistogram(term, meta, convCol, tsCol, unit)
      .withColumn("sdiff", col("hits") - lag(col("hits"), lagN).over(w))
  }

  /** moving_percentiles pipeline aggregation (the Elasticsearch
    * `moving_percentiles` agg — the robust-statistics sibling of
    * [[dateHistogramPipeline]]'s moving_fn average): per histogram bucket,
    * exact linearly-interpolated percentiles of the trailing `window`
    * buckets' hit counts (rank = (n−1)·p, the quantile_cont / Spark
    * `percentile` scheme; partial leading windows use what exists, the
    * moving_fn convention). ES computes this over TDigest sketches —
    * over the REDUCED bucket list exactness is free, so this is exact.
    * Same coordinating-node shape as every pipeline sibling: one
    * single-partition window whose cardinality is the time range over the
    * unit, never the corpus; the sort + interpolation per bucket is pure
    * codegen column arithmetic over a ≤ `window`-element array (no UDF).
    *
    * @return (bucket, hits, p50, p95) rows, bucket asc; percentiles 4dp.
    */
  def movingPercentiles(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day", window: Int = 3,
      ps: Seq[(String, Double)] = Seq("p50" -> 0.5, "p95" -> 0.95)): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0.0 && p <= 1.0 },
      "percentiles must lie in [0, 1]")
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(-(window - 1).toLong, 0L)
    val withWin = dateHistogram(term, meta, convCol, tsCol, unit)
      .withColumn("__w", sort_array(collect_list(col("hits")).over(w)))
    def pct(p: Double): Column = {
      val n = size(col("__w"))
      val rank = (n - lit(1)).cast("double") * lit(p)
      val lo = floor(rank).cast("int")
      val frac = rank - lo.cast("double")
      val vLo = element_at(col("__w"), lo + lit(1)).cast("double")
      val vHi = element_at(col("__w"), least(lo + lit(2), n)).cast("double")
      round(vLo * (lit(1.0) - frac) + vHi * frac, 4)
    }
    withWin.select(
      Seq(col("bucket"), col("hits")) ++
        ps.map { case (name, p) => pct(p).as(name) }: _*)
  }

  /** bucket_script pipeline aggregation (the Elasticsearch `bucket_script`
    * agg): a per-bucket scalar computed FROM sibling metrics — here the
    * share of `termA`'s hits among `termA`+`termB` hits per histogram
    * bucket, the canonical "ratio of two counts" script. Buckets where
    * either side is absent coalesce to 0 (ES treats a missing sibling
    * bucket as gap-policy `insert_zeros` here); an all-zero denominator
    * emits null, matching SQL division. Shape at scale: two pruned
    * membership scans → two map-side-combinable groupBys → one outer join
    * on the REDUCED bucket list — distribution lives in the histograms.
    *
    * @return (bucket, hits_a, hits_b, ratio) rows, bucket asc.
    */
  def bucketScript(termA: String, termB: String, meta: DataFrame,
      convCol: String, tsCol: String, unit: String = "day"): DataFrame = {
    val a = dateHistogram(termA, meta, convCol, tsCol, unit)
      .withColumnRenamed("hits", "hits_a")
    val b = dateHistogram(termB, meta, convCol, tsCol, unit)
      .withColumnRenamed("hits", "hits_b")
    a.join(b, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("hits_a"), lit(0L)).as("hits_a"),
        coalesce(col("hits_b"), lit(0L)).as("hits_b"))
      .withColumn("ratio",
        round(col("hits_a").cast("double") /
          nullif(col("hits_a") + col("hits_b"), lit(0L)), 4))
  }

  /** normalize pipeline aggregation (the Elasticsearch `normalize` agg):
    * each histogram bucket's hits rescaled by a corpus-of-buckets method —
    * `percent_of_sum` (hits / Σhits) or `rescale_0_1`
    * ((hits − min) / (max − min); a single-bucket histogram rescales to 0,
    * the ES convention for a degenerate range). The window runs over the
    * REDUCED bucket list (coordinating-node shape, like [[statsBucket]]).
    *
    * @return (bucket, hits, norm) rows, bucket asc.
    */
  def normalizeAgg(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day",
      method: String = "percent_of_sum"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val hist = dateHistogram(term, meta, convCol, tsCol, unit)
    val norm = method match {
      case "percent_of_sum" =>
        col("hits").cast("double") / sum(col("hits")).over(w)
      case "rescale_0_1" =>
        (col("hits") - min(col("hits")).over(w)).cast("double") /
          nullif(max(col("hits")).over(w) - min(col("hits")).over(w), lit(0L))
      case other => throw new IllegalArgumentException(
        s"unknown normalize method: $other")
    }
    hist.withColumn("norm", round(coalesce(norm, lit(0.0)), 4))
  }

  /** cumulative_cardinality pipeline aggregation (the Elasticsearch
    * `cumulative_cardinality` agg — "distinct users seen so far"): per
    * TURN-level histogram bucket of the matching conversations' turns, the
    * number of distinct conversations observed in buckets up to and
    * including it. Scalable by the first-seen trick: cumulative distinct =
    * cumulative sum of per-bucket FIRST-SEEN counts (each conv counts
    * exactly once, at its min bucket), so no per-bucket distinct-set state
    * ever shuffles — one groupBy to a conv's min bucket, one count, one
    * window over the reduced bucket list. Buckets with activity but no
    * first-seens still emit (their ccard carries forward).
    *
    * @param turns per-turn frame: `convCol` + `tsCol` at TURN granularity.
    * @return (bucket, ccard) rows, bucket asc.
    */
  def cumulativeCardinality(term: String, turns: DataFrame, convCol: String,
      tsCol: String, unit: String = "day"): DataFrame = {
    val bucketed = joinValues(membership(term), turns, convCol)(
        date_format(date_trunc(unit, col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("bucket"))
    val firstSeen = bucketed
      .groupBy("conv_id").agg(min(col("bucket")).as("first_bucket"))
      .groupBy(col("first_bucket").as("bucket"))
      .agg(count(lit(1)).as("nfirst"))
    val allBuckets = bucketed.select("bucket").distinct()
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    allBuckets.join(firstSeen, Seq("bucket"), "left")
      .withColumn("ccard", sum(coalesce(col("nfirst"), lit(0L))).over(w))
      .select("bucket", "ccard")
  }

  /** rate metric aggregation (the Elasticsearch `rate` agg inside a
    * date_histogram): matching TURNS per histogram bucket expressed per
    * `rateUnit` — e.g. minute buckets reported as events/second divide by
    * 60. Turn-granularity (every matching conv's turn counts), one
    * map-side-combinable groupBy.
    *
    * @return (bucket, hits, rate) rows, bucket asc.
    */
  def rateAgg(term: String, turns: DataFrame, convCol: String,
      tsCol: String, unit: String = "minute",
      rateUnit: String = "second"): DataFrame = {
    val secs = Map("second" -> 1L, "minute" -> 60L, "hour" -> 3600L,
      "day" -> 86400L)
    val span = secs.getOrElse(unit,
      throw new IllegalArgumentException(s"unknown unit: $unit"))
    val per = secs.getOrElse(rateUnit,
      throw new IllegalArgumentException(s"unknown rateUnit: $rateUnit"))
    joinValues(membership(term), turns, convCol)(col(tsCol).as("__ts"))
      .groupBy(date_format(date_trunc(unit, col("__ts")),
        "yyyy-MM-dd HH:mm:ss").as("bucket"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("rate",
        round(col("hits") * (per.toDouble / span.toDouble), 4))
  }

  /** boxplot metric aggregation (the Elasticsearch `boxplot` agg): the
    * five-number summary (min, q1, median, q3, max) of a doc-values number
    * over the matching documents, with EXACT linearly-interpolated
    * quantiles (Spark's `percentile`, the same interpolation DuckDB's
    * `quantile_cont` uses — ES itself ships TDigest approximations; an
    * oracle-gated engine keeps the exact form and documents that choice).
    * One pruned membership scan, one equi-join, one combinable aggregate.
    *
    * @return a single (n, min_v, q1, median, q3, max_v) row.
    */
  def boxplotAgg(term: String, meta: DataFrame, convCol: String,
      valCol: String): DataFrame =
    joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
      .where(present(col("__v")))
      .agg(count(lit(1)).as("n"),
        round(min(col("__v")), 4).as("min_v"),
        round(expr("percentile(__v, 0.25)"), 4).as("q1"),
        round(expr("percentile(__v, 0.5)"), 4).as("median"),
        round(expr("percentile(__v, 0.75)"), 4).as("q3"),
        round(max(col("__v")), 4).as("max_v"))

  /** t_test aggregation (the Elasticsearch `t_test` agg, `heteroscedastic`
    * = Welch's unpaired t): the t statistic between a doc-values number
    * over the docs matching `termA` vs those matching `termB` —
    * t = (μ₁ − μ₂) / √(s₁²/n₁ + s₂²/n₂) with sample variances. Overlapping
    * match sets contribute to both sides (ES filter semantics). Two pruned
    * membership joins, one combinable aggregate each, a 1×1 cross join of
    * the scalars.
    *
    * @return a single (n_a, n_b, mean_a, mean_b, t) row.
    */
  def tTestAgg(termA: String, termB: String, meta: DataFrame,
      convCol: String, valCol: String): DataFrame = {
    def side(term: String, tag: String): DataFrame =
      joinValues(membership(term), meta, convCol)(col(valCol).cast("double").as("__v"))
        .where(present(col("__v")))
        .agg(count(lit(1)).as(s"n_$tag"),
          avg(col("__v")).as(s"mean_$tag"),
          var_samp(col("__v")).as(s"var_$tag"))
    side(termA, "a").crossJoin(side(termB, "b"))
      .withColumn("t",
        round((col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 4))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a"), 4).as("mean_a"),
        round(col("mean_b"), 4).as("mean_b"), col("t"))
  }

  /** Two-sample Kolmogorov-Smirnov over bucket-count distributions (the
    * Elasticsearch `bucket_count_ks_test` pipeline aggregation, its
    * two-sided two-sample form): are term A's and term B's per-bucket hit
    * counts drawn from the same distribution? D = max over the pooled
    * sample points of |ECDF_A − ECDF_B|, ECDFs evaluated with a RANGE
    * window frame so ties count fully on both sides. ES layers a p-value on
    * the same statistic; with n_a/n_b reported the caller applies the
    * standard √((n_a+n_b)/(n_a·n_b)) scaling.
    *
    * Shape at scale: two pruned histogram scans (the parents); the KS scan
    * runs over the REDUCED bucket lists — the single-partition-window
    * contract every pipeline agg here documents.
    *
    * @return one (n_a, n_b, d) row; empty-series sides yield null d.
    */
  def ksTestAgg(termA: String, termB: String, meta: DataFrame,
      convCol: String, tsCol: String, unit: String = "minute"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def side(term: String, tag: String): DataFrame =
      dateHistogram(term, meta, convCol, tsCol, unit)
        .select(col("hits").cast("double").as("v"), lit(tag).as("side"))
    val pts = side(termA, "a").unionByName(side(termB, "b"))
    val ecdf = Window.orderBy(col("v"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    pts
      .withColumn("__ca", sum(when(col("side") === "a", 1L).otherwise(0L)).over(ecdf))
      .withColumn("__cb", sum(when(col("side") === "b", 1L).otherwise(0L)).over(ecdf))
      .withColumn("__na", sum(when(col("side") === "a", 1L).otherwise(0L)).over(all))
      .withColumn("__nb", sum(when(col("side") === "b", 1L).otherwise(0L)).over(all))
      .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        round(max(abs(col("__ca") / col("__na") - col("__cb") / col("__nb"))), 4).as("d"))
  }

  /** percentiles_bucket pipeline aggregation (the Elasticsearch
    * `percentiles_bucket` agg): exact linearly-interpolated percentiles of
    * the date histogram's per-bucket hit counts — "what does a typical /
    * busy minute look like". Same coordinating-node shape as
    * [[statsBucket]]: one aggregate over the reduced bucket list.
    *
    * @return a single (p25, p50, p75) row.
    */
  def percentilesBucket(term: String, meta: DataFrame, convCol: String,
      tsCol: String, unit: String = "day"): DataFrame =
    dateHistogram(term, meta, convCol, tsCol, unit)
      .agg(round(expr("percentile(hits, 0.25)"), 4).as("p25"),
        round(expr("percentile(hits, 0.5)"), 4).as("p50"),
        round(expr("percentile(hits, 0.75)"), 4).as("p75"))

  /** top_metrics aggregation (the Elasticsearch `top_metrics` agg under a
    * `terms` bucket): for each value of a doc-values keyed field over the
    * MATCHING docs, the metric carried by the bucket's top document under
    * the sort (sortCol desc, conv_id asc tie) — "the latest reading per
    * series". One membership join then a per-value window; values are
    * low-cardinality by the agg's contract (it is a per-series latest-point
    * lookup, not a scan).
    *
    * @return (value, conv_id, sort_v, metric) rows, value asc.
    */
  def topMetricsAgg(term: String, meta: DataFrame, convCol: String,
      keyCol: String, sortCol: String, metricCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("value")
      .orderBy(col("sort_v").desc, col("conv_id").asc)
    joinValues(membership(term), meta, convCol)(
        col(keyCol).cast("string").as("value"),
        col(sortCol).as("sort_v"),
        col(metricCol).cast("double").as("metric"))
      .where(col("value").isNotNull)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      // sort_v presents as a formatted string (timestamp columns compare
      // engine-dependently; the sort above ran on the native value)
      .select(col("value"), col("conv_id"),
        date_format(col("sort_v"), "yyyy-MM-dd HH:mm:ss").as("sort_v"),
        round(col("metric"), 4).as("metric"))
  }

  /** Terms-set query (the Elasticsearch `terms_set` query with
    * `minimum_should_match_field`): documents matching at least their OWN
    * per-doc minimum number of the query terms — the doc-values field
    * carries how many of the terms each doc requires. One scan pruned to
    * the terms' buckets decodes (term, doc) pairs (already distinct — a
    * doc sits in one block per term), one doc-keyed count, one equi-join
    * to the caller's doc-values frame. ES edge semantics: a doc whose
    * minimum is null or < 1 never matches, and a minimum above the number
    * of matched terms fails the doc.
    *
    * @return (conv_id, matched) rows — matched = how many query terms hit.
    */
  def termsSet(termsIn: Seq[String], meta: DataFrame, convCol: String,
      minCol: String): DataFrame = {
    val empty = Seq.empty[(String, Long)].toDF("conv_id", "matched")
    val terms = cleanTerms(termsIn)
    if (terms.isEmpty || manifest.isEmpty) return empty
    val paths = termBucketPaths(terms)
    if (paths.isEmpty) return empty
    val matched = blockDocIds(spark.read.schema(blockSchema).parquet(paths: _*)
      .where(col("term").isin(terms: _*)))
      .groupBy("docId").agg(count(lit(1)).as("matched"))
    val hits = matched.join(docsView, "docId")
      .select(col("convId").as("conv_id"), col("matched"))
    joinValues(hits, meta, convCol)(col(minCol).cast("long").as("__min"))
      .where(col("__min").isNotNull && col("__min") >= 1 &&
        col("matched") >= col("__min"))
      .select(col("conv_id"), col("matched"))
  }

  /** Term vectors (the Elasticsearch `_termvectors` API in its default
    * realtime mode): per-term statistics of ONE document — term frequency,
    * the term's GLOBAL document frequency from the index, and the
    * document-global occurrence positions under the stable
    * (turn_idx, intra-turn) order every positional surface uses. Realtime
    * semantics: the doc's text comes from the caller's source table (the
    * index stores postings, never raw text — the same index/source split
    * as [[killa.query.Snippets]]); term statistics come from ONE
    * [[termDf]] scan, payloads never decoded. The window runs over
    * one conversation's turns — bounded by construction.
    *
    * @return (term, tf, df, positions) rows, term asc; positions are the
    *         comma-joined ascending global positions; df = 0 for a term
    *         the index does not (yet) hold.
    */
  def termVectors(turns: DataFrame, convId: String): DataFrame = {
    val empty = Seq.empty[(String, Long, Long, String)]
      .toDF("term", "tf", "df", "positions")
    if (convId == null || convId.isEmpty || manifest.isEmpty) return empty
    val one = turns.where(col("conv_id") === convId)
      .withColumn("toks", killa.tokenize.Tokenize.termsCol(col("text")))
      .select(col("conv_id"), col("turn_idx"),
        posexplode(col("toks")).as(Seq("ord", "term")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id").orderBy("turn_idx", "ord")
    val tv = one.withColumn("pos", row_number().over(w).cast("long") - 1L)
      .groupBy("term")
      .agg(count(lit(1)).as("tf"),
        array_join(
          transform(sort_array(collect_list(col("pos"))), _.cast("string")),
          ",").as("positions"))
    // one doc's vocabulary — bounded driver work by construction
    val docTerms = tv.select("term").as[String].collect().toSeq
    if (docTerms.isEmpty) return empty
    val dfDf = termDf(docTerms).toSeq.toDF("term", "df")
    tv.join(dfDf, "term")
      .select(col("term"), col("tf"), col("df"), col("positions"))
      .orderBy("term")
  }

  /** Bucket dirs surviving the manifest's term-dictionary sidecar pruning
    * (VERDICT r2 #7): buckets are hash-laid, so a range predicate can't
    * prune them — but the per-bucket prefix-set / length-band summaries can
    * skip whole buckets holding no candidate term (package-private so the
    * pruning spec asserts the path list directly). Absent summaries keep
    * the bucket — conservative, never wrong.
    */
  private[killa] def prunedBucketPaths(prefixHint: Option[String],
      lenHint: Option[(Int, Int)]): Seq[String] = manifest match {
    case None => Nil
    case Some(m) =>
      m.buckets.keys.toSeq.sorted
        .filter { b =>
          m.bucketDicts.get(b).forall { d =>
            prefixHint.forall(d.mayHavePrefix) &&
              lenHint.forall { case (lo, hi) => d.mayHaveLen(lo, hi) }
          }
        }
        .flatMap(m.bucketPath)
        .filter(p => fs(p).exists(new Path(p)))
  }

  /** Membership of every doc holding a term matching `termCond`: one scan
    * over the sidecar-surviving bucket dirs (row-group stats inside each
    * file prune further), payload columns never read.
    */
  private def membershipWhere(termCond: org.apache.spark.sql.Column,
      prefixHint: Option[String] = None,
      lenHint: Option[(Int, Int)] = None): DataFrame = {
    if (manifest.isEmpty) return emptyMembers
    val paths = prunedBucketPaths(prefixHint, lenHint)
    if (paths.isEmpty) return emptyMembers
    blockDocIds(spark.read.schema(blockSchema).parquet(paths: _*).where(termCond))
      .distinct().join(docsView, "docId").select(col("convId").as("conv_id"))
  }

  /** Document frequency per term: every requested term is keyed, 0 when
    * absent — the one known-term df lookup. ONE (term, df)-projected scan
    * pruned to the terms' bucket dirs ([[termBucketPaths]]), with a pushed
    * IN filter the sorted term column's row-group stats prune on; payloads
    * never decode, and the collect is bounded by the request. max(df) per
    * term is exact, not a segment merge: a term lives in exactly one bucket
    * dir (maintenance rewrites affected buckets WHOLE) and every block of a
    * term carries the GLOBAL df (see [[suggest]]).
    */
  def termDf(terms: Seq[String]): Map[String, Long] = {
    val known = cleanTerms(terms)
    val paths = termBucketPaths(known)
    val found: Map[String, Long] =
      if (paths.isEmpty) Map.empty
      else bucketFrames(paths)
        .where(col("term").isin(known: _*))
        .groupBy("term").agg(max(col("df")).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    terms.map(t => t -> found.getOrElse(t, 0L)).toMap
  }

  /** Distributed top-k BM25 (north_star: posting-list intersection +
    * block-max pruning).
    *
    * Plan: per-term pruned block scans → blocks replicated to docId ranges →
    * per-range DAAT with block-max pruning and a local k-heap (Daat) → global
    * exact top-k via orderBy(score desc, docId asc).limit(k) → broadcast-size
    * join back to the dictionary for conv_ids. The only full shuffle is over
    * surviving candidates (≤ k per range), never over postings.
    *
    * @param termsIn query terms; duplicates collapse set-style (reference
    *                token-set semantics); null/empty terms dropped; empty
    *                query → empty result without store access.
    * @param mustNot boolean-NOT terms: documents containing ANY of them are
    *                excluded before top-k selection (exclusion rides the
    *                same pruned block scans and is applied inside the DAAT
    *                kernel, so the k-th result is exact — never a
    *                post-filtered hole).
    * @param minShouldMatch disjunctive-mode minimum_should_match (the ES
    *                m-of-n bool query): only documents matching at least
    *                this many of the query terms qualify. Enforced inside
    *                the DAAT kernel (admission-time, pruning stays exact,
    *                plus an extra early-out once fewer than m cursors remain
    *                live). ES semantics at the edges: m ≤ 1 is the plain
    *                disjunction, m > |terms| matches nothing, conjunctive
    *                mode ignores it (every term is already required).
    * @param boosts  query-time per-term boosts (the ES `term^boost` syntax):
    *                each listed term's contribution multiplies by its boost;
    *                absent terms keep 1.0. Boosts fold into the premultiplied
    *                term weight, so every block-max bound scales with its
    *                term and WAND pruning stays exact — which is also why
    *                boosts must be > 0 (a non-positive boost would break the
    *                bound's admissibility; ES makes the same restriction).
    */
  def bm25TopK(termsIn: Seq[String], k: Int, conjunctive: Boolean = false,
      mustNot: Seq[String] = Nil, minShouldMatch: Int = 1,
      boosts: Map[String, Double] = Map.empty,
      minScore: Double = Double.NegativeInfinity): DataFrame =
    // minScore (the ES `min_score` clause) reaches the DAAT kernel as the
    // initial WAND threshold — never a post-filter (Daat.scoreRange floor):
    // a selective floor skips whole sub-floor blocks without decoding them,
    // and the result may legitimately hold FEWER than k rows
    Bm25Query.of(manifest, termsIn, k, conjunctive, mustNot, minShouldMatch,
      boosts, floor = minScore)
      .fold(emptyHits)(q => hitsDf(topKRowsImpl(q, manifest.get)))

  /** [[bm25TopKRows]] under externally-supplied corpus statistics — the
    * per-shard leg of sharded dfs_query_then_fetch
    * ([[ShardedSearch.bm25TopK]]): this root's postings score under the
    * MERGED corpus's N / avgdl / per-term df so shard boundaries never
    * change scores. Same kernel, same pruning (bounds scale with the
    * overridden weights), same tie retention.
    */
  private[killa] def bm25TopKRowsStats(termsIn: Seq[String], k: Int,
      stats: CorpusStats, conjunctive: Boolean = false,
      mustNot: Seq[String] = Nil, minShouldMatch: Int = 1,
      boosts: Map[String, Double] = Map.empty): Array[(String, Double)] =
    Bm25Query.of(manifest, termsIn, k, conjunctive, mustNot, minShouldMatch,
      boosts, Some(stats))
      .fold(Array.empty[(String, Double)])(topKRowsImpl(_, manifest.get))

  /** Serving-shaped top-k: the same exact BM25 result as [[bm25TopK]] (rank
    * identity spec-pinned) returned as materialized rows — what a query
    * frontend actually sends back. With the block + label caches warm a
    * query runs with ZERO Spark jobs (first touch pays ≤ 2: block fetch +
    * label fetch) — listener-asserted in ServeSpec.
    */
  def bm25TopKRows(termsIn: Seq[String], k: Int, conjunctive: Boolean = false,
      mustNot: Seq[String] = Nil, minShouldMatch: Int = 1,
      boosts: Map[String, Double] = Map.empty): Array[(String, Double)] =
    Bm25Query.of(manifest, termsIn, k, conjunctive, mustNot, minShouldMatch, boosts)
      .fold(Array.empty[(String, Double)])(topKRowsImpl(_, manifest.get))

  /** Deep pagination — the Lucene `searchAfter` analog: the exact top-k of
    * the documents ranking strictly AFTER the cursor `(afterScore,
    * afterConv)` in the total order (score desc, conv_id asc). The cursor is
    * the last row of the previous page (its EXACT unrounded score, as
    * returned by [[bm25TopKRows]]); the admission check runs inside the DAAT
    * kernel, so block-max pruning stays exact and no oversized fetch-then-
    * drop ever happens — constant cost per page at any depth, unlike
    * offset-style pagination which re-scores the whole prefix.
    *
    * An unknown cursor conv_id (e.g. deleted between pages) degrades to a
    * score-only cursor: every doc with a strictly smaller score qualifies.
    */
  def bm25TopKAfter(termsIn: Seq[String], k: Int,
      afterConv: String, afterScore: Double,
      conjunctive: Boolean = false, mustNot: Seq[String] = Nil): DataFrame = {
    val q = Bm25Query.of(manifest, termsIn, k, conjunctive, mustNot) match {
      case Some(q) => q
      case None => return emptyHits
    }
    val m = manifest.get
    // The kernel's equal-score tie-break compares docIds, which equals
    // conv_id rank order only for a single-generation dictionary (fullBuild
    // assigns docId = rank of conv_id; batchSeq stays 0 through positional
    // builds). After ANY maintenance batch (adds append ids in batch-local
    // order, renames move labels over ids) the equivalence can break at tied
    // scores, so multi-generation snapshots page via an exact driver-side
    // cursor filter over growing top-k prefixes instead (ADVICE r4: offset-
    // shaped cost per page, but never a dropped/duplicated doc at a tie
    // plateau). batchSeq is conservative — compaction bumps it without
    // reordering ids — which only costs speed, never correctness.
    if (m.batchSeq > 0) {
      var kk = math.max(2 * k, 64)
      while (true) {
        val rows = topKRowsImpl(q.withK(kk), m)
        // rows are (score desc, conv asc); the page starts strictly after
        // the cursor in that total order
        val page = rows.dropWhile { case (c, s) =>
          s > afterScore || (s == afterScore && c <= afterConv)
        }
        if (page.length >= k || rows.length < kk) return hitsDf(page.take(k))
        kk *= 2
      }
    }
    // docId-rank order ≡ conv_id order for every doc of the same build
    // generation (Dict assigns docId = rank of conv_id), which is the only
    // order the cursor comparison needs inside one snapshot
    // unknown cursor conv (deleted between pages): Long.MaxValue makes the
    // equal-score branch admit nothing — strictly-smaller scores only, per
    // the contract above
    val afterDoc = docsView.where(col("convId") === afterConv)
      .select("docId").collect().headOption.map(_.getLong(0))
      .getOrElse(Long.MaxValue)
    hitsDf(topKRowsImpl(q.withAfter(afterScore, afterDoc), m))
  }

  /** Doc-values FILTERED top-k BM25 — the ES `bool: {must: match(terms),
    * filter: <predicate>}` shape, the single most common real query after
    * plain top-k (VERDICT r4 missing #2): exact top-k over the documents in
    * `filterConvs` (the caller's doc-values predicate result — e.g.
    * `meta.where($"ts" between ...)`, one `conv_id` column). The filter is
    * ADMISSION-TIME, inside the DAAT kernel: the filter set resolves to
    * docIds through the dictionary, encodes into sorted delta+varint blocks
    * (the same representation postings use), and rides the pruned fan-out as
    * an include cursor — the exact mirror of `mustNot`'s exclusion cursor —
    * so block-max pruning stays exact and the k-th result is never a
    * post-filtered hole. Scores stay GLOBAL-statistics BM25 (filter context
    * does not change scoring, matching ES): rank identity with
    * "full scored set, then filter, then top-k" is spec-pinned.
    *
    * Scale shape: the filter set stays distributed end to end (dictionary
    * join → range repartition → per-partition block encode — never a
    * driver-side IN list), and its blocks fan out to docId ranges exactly
    * like posting blocks; a small filter rides the driver-local kernel, a
    * huge one routes the query to the distributed path via the same
    * block-count probe as hot terms.
    */
  def bm25TopKFiltered(termsIn: Seq[String], k: Int, filterConvs: DataFrame,
      conjunctive: Boolean = false, mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1,
      boosts: Map[String, Double] = Map.empty): DataFrame =
    Bm25Query.of(manifest, termsIn, k, conjunctive, mustNot, minShouldMatch, boosts)
      .fold(emptyHits)(q =>
        hitsDf(topKRowsImpl(q.withInclude(filterBlocks(filterConvs)), manifest.get)))

  /** Encode a conv_id filter set into sorted, non-overlapping docId blocks —
    * the include-cursor input of [[bm25TopKFiltered]]. Distributed: dictionary
    * join resolves labels to docIds, a range repartition guarantees disjoint
    * ascending per-partition runs, each partition emits ≤ blockSize-doc
    * blocks (tf/dl payloads are constant 1s — the cursor decodes them but
    * admission never reads them).
    */
  private def filterBlocks(filterConvs: DataFrame): Dataset[PostingBlock] = {
    val bs = conf.blockSize
    val ids = docsView
      .join(filterConvs.select(col("conv_id").as("convId")).distinct(), "convId")
      .select("docId")
    ids.repartitionByRange(col("docId")).sortWithinPartitions("docId")
      .as[Long].mapPartitions { it =>
        it.grouped(bs).map { chunk =>
          val ones = Array.fill(chunk.length)(1L)
          PostingBlock.encode("", 0L, 0L, chunk.toArray, ones, ones, -1)
        }
      }
  }

  /** Pinned query (the Elasticsearch `pinned` query): the promoted
    * documents first, in their GIVEN order (existence-checked against the
    * live dictionary — a pinned id that is not in the index is skipped, ES
    * semantics), followed by the organic BM25 ranking with the pinned docs
    * removed, to `k` total. Organic exactness by the subset argument: the
    * top (k − pinned) non-pinned docs all lie within the unrestricted
    * top-k (removing ≤ pinned rows from a prefix cannot pull a deeper doc
    * above it), so ONE kernel call at k suffices — no over-fetch, no
    * post-filter hole. Pinned rows carry a null score (ES surfaces them
    * with a synthetic sort value, not a BM25 score).
    *
    * @return (rank, conv_id, score) rows, rank 1..≤k; pinned score null.
    */
  def pinned(promoted: Seq[String], terms: Seq[String], k: Int): DataFrame = {
    val promo = promoted.filter(p => p != null && p.nonEmpty).distinct
    require(promo.length <= 64, "promoted list is a hand-curated set (<= 64)")
    val empty = Seq.empty[(Long, String, java.lang.Double)]
      .toDF("rank", "conv_id", "score")
    if (k <= 0 || manifest.isEmpty) return empty
    val promoDf = promo.zipWithIndex
      .toDF("convId", "pidx")
    // existence check rides the dictionary (broadcast: the pinned list is
    // tiny by contract) — a dead or never-indexed id silently drops
    val live = docsView.join(broadcast(promoDf), "convId")
      .select(col("convId").as("conv_id"), col("pidx"))
    val pe = live.count().toInt
    // ranks compact over the LIVE promoted ids (a dead id leaves no gap)
    val wp = org.apache.spark.sql.expressions.Window.orderBy("pidx")
    val pinnedRows = live
      .select(row_number().over(wp).cast("long").as("rank"),
        col("conv_id"), lit(null).cast("double").as("score"))
    if (pe >= k) return pinnedRows.where(col("rank") <= k).orderBy("rank")
    val organic = bm25TopK(terms, k)
      .where(!col("conv_id").isin(promo: _*))
    // rank on the EXACT score (rounding only at presentation, after the cut)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("conv_id").asc)
    val organicRanked = organic
      .withColumn("rank", (row_number().over(w) + lit(pe)).cast("long"))
      .where(col("rank") <= k)
      .select(col("rank"), col("conv_id"), round(col("score"), 4).as("score"))
    pinnedRows.unionByName(organicRanked).orderBy("rank")
  }

  /** rank_feature query (the Elasticsearch `rank_feature` query inside a
    * bool `should`): BM25 of `terms` plus a feature-derived additive boost
    * from a doc-values number — `saturation` (boost · f/(f + pivot)) or
    * `log` (boost · ln(scaling + f)). Matching stays lexical (the feature
    * only re-weights docs that match), scores combine additively exactly as
    * ES folds a should-clause. Shape: the full scored set (pruned scans +
    * one combinable fold) joins the caller's feature frame once, then
    * TakeOrdered(k) — the rescore shape, not a second index.
    *
    * @return (conv_id, score) rows, score desc then conv asc.
    */
  def rankFeature(terms: Seq[String], k: Int, meta: DataFrame,
      convCol: String, featureCol: String, function: String = "saturation",
      pivot: Double = 10.0, boost: Double = 1.0,
      scaling: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val f = col("__f")
    val featTerm = function match {
      case "saturation" => lit(boost) * f / (f + lit(pivot))
      case "log" => lit(boost) * log(lit(scaling) + f)
      case other => throw new IllegalArgumentException(
        s"unknown rank_feature function: $other")
    }
    // left join: a matching doc with no feature row keeps its lexical score
    // (ES rank_feature contributes nothing when the feature is missing)
    joinValues(bm25ScoredAll(terms), meta, convCol, "left")(
        col(featureCol).cast("double").as("__f"))
      .select(col("conv_id"), (col("score") + coalesce(featTerm, lit(0.0))).as("score"))
      .orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** distance_feature query (the Elasticsearch `distance_feature` query on
    * a date field): BM25 plus boost · pivot / (pivot + |ts − origin|) — the
    * reciprocal-distance recency boost, completing the feature-query family
    * next to [[rankFeature]]'s saturation/log and the function_score gauss
    * decay. Additive bool-should fold, exactly like rank_feature; a doc
    * missing the date keeps its lexical score. Distances in seconds.
    *
    * @param pivotSecs distance at which the boost halves.
    * @return (conv_id, score) rows, score desc then conv asc.
    */
  def distanceFeature(terms: Seq[String], k: Int, meta: DataFrame,
      convCol: String, tsCol: String, origin: java.sql.Timestamp,
      pivotSecs: Double, boost: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(pivotSecs > 0.0, "pivot must be > 0")
    val dist = abs(col("__ts").cast("double") - lit(origin).cast("double"))
    val featTerm = lit(boost) * lit(pivotSecs) / (lit(pivotSecs) + dist)
    joinValues(bm25ScoredAll(terms), meta, convCol, "left")(col(tsCol).as("__ts"))
      .select(col("conv_id"), (col("score") + coalesce(featTerm, lit(0.0))).as("score"))
      .orderBy(col("score").desc, col("conv_id").asc).limit(k)
  }

  /** The FULL scored match set — every qualifying document with its exact
    * BM25 score, as a distributed DataFrame (the scored-scroll / export
    * surface: feeding a reranker, building a training set, bulk relevance
    * dumps). No top-k heap and no driver collect anywhere: blocks decode in
    * a flatMap, per-doc scores fold in ONE map-side-combinable groupBy, and
    * the result stays an executor-side frame the caller can write/join at
    * any match count. Scores are the same Bm25.contrib the DAAT kernel
    * computes (identity spec-pinned to 1e-9 — relational fold order vs the
    * kernel's term-order fold can differ in the last float ulp).
    *
    * @return (conv_id, score) rows, unordered (exports sort downstream).
    */
  def bm25ScoredAll(termsIn: Seq[String], conjunctive: Boolean = false,
      mustNot: Seq[String] = Nil, minShouldMatch: Int = 1,
      boosts: Map[String, Double] = Map.empty): DataFrame = {
    // the full set has no k: Int.MaxValue passes the k rule
    val q = Bm25Query.of(manifest, termsIn, Int.MaxValue, conjunctive, mustNot,
      minShouldMatch, boosts) match {
      case Some(q) => q
      case None => return emptyHits
    }
    val k1 = conf.k1; val b = conf.b; val avgdl = q.avgdl; val n = q.n
    val nTerms = q.terms.length
    val boostMap = q.boosts // stable reference for the closure
    val contribs = q.terms.map(postingBlocks).reduce(_ union _)
      .flatMap { blk =>
        val w = Bm25.weight(n, blk.df, k1) * boostMap.getOrElse(blk.term, 1.0)
        val docs = blk.docs; val tfs = blk.tfs; val dls = blk.dls
        (0 until blk.n).iterator.map { j =>
          (docs(j), Bm25.contrib(w, tfs(j), dls(j), k1, b, avgdl))
        }
      }
      .toDF("docId", "c")
    // a (doc, term) pair lives in exactly one block, so conjunctive = "one
    // contribution per query term" is a plain row count per doc; disjunctive
    // minimum_should_match is the same count under ≥ m (ES m-of-n semantics,
    // identical to the kernel's admission rule)
    val grouped =
      if (q.conjunctive)
        contribs.groupBy("docId")
          .agg(sum(col("c")).as("score"), count(lit(1)).as("__nt"))
          .where(col("__nt") === nTerms).drop("__nt")
      else if (q.minMatch > 1)
        contribs.groupBy("docId")
          .agg(sum(col("c")).as("score"), count(lit(1)).as("__nt"))
          .where(col("__nt") >= q.minMatch).drop("__nt")
      else contribs.groupBy("docId").agg(sum(col("c")).as("score"))
    val kept =
      if (q.mustNot.isEmpty) grouped
      else {
        val exDocs = blockDocIds(q.mustNot.map(postingBlocks).reduce(_ union _)).distinct()
        grouped.join(exDocs, Seq("docId"), "left_anti")
      }
    // the dictionary join only labels: blocks hold alive docs alone (every
    // delete rewrites its term buckets — IndexMaintainer step 5)
    kept.join(docsView, "docId").select(col("convId").as("conv_id"), col("score"))
  }

  /** Raw per-document term frequencies of the query terms, as a distributed
    * frame `(conv_id, term, tf)` — one row per (live doc, term) pair, decoded
    * from the terms' bucket-pruned posting blocks (which hold alive docs
    * alone — every delete rewrites its term buckets) and label-joined. This is
    * the statistics-free building block for CROSS-INDEX scoring models that
    * cannot use any one sub-index's premultiplied weights — combined_fields
    * BM25F recombines these tfs under its own merged field statistics
    * ([[killa.build.FieldIndexes.combinedFieldsBm25]]). Shape at scale: a
    * pruned scan per term, one decode flatMap, one dictionary join — no
    * driver materialization.
    */
  def termTf(termsIn: Seq[String]): DataFrame = {
    val terms = cleanTerms(termsIn)
    if (terms.isEmpty || manifest.isEmpty)
      return Seq.empty[(String, String, Long)].toDF("conv_id", "term", "tf")
    val rows = terms.map(postingBlocks).reduce(_ union _)
      .flatMap { blk =>
        val docs = blk.docs; val tfs = blk.tfs
        (0 until blk.n).iterator.map(j => (docs(j), blk.term, tfs(j)))
      }
      .toDF("docId", "term", "tf")
    rows.join(docsView, "docId")
      .select(col("convId").as("conv_id"), col("term"), col("tf"))
  }

  /** Shared body of the language-model similarities: decode the query terms'
    * postings once into (docId, term, tf, dl), derive each term's collection
    * frequency cf from THAT frame (sum of live-posting tfs — the Lucene
    * `totalTermFreq` contract, which also counts not-yet-merged deleted
    * postings; exact on compacted roots), broadcast the tiny (term, cf) map
    * back, score per (doc, term) with `contrib`, sum per doc, and return the
    * exact top-k (score desc, conv asc) with presentation rounding. Same
    * bucket-pruned-scan → decode-flatMap → one-combinable-groupBy shape as
    * [[bm25ScoredAll]]; the only additional work is the cf aggregation over
    * the already-pruned frame.
    */
  private def lmTopK(termsIn: Seq[String], k: Int)(
      contrib: (Column, Column, Column) => Column): DataFrame = {
    val terms = cleanTerms(termsIn)
    if (terms.isEmpty || k <= 0 || manifest.isEmpty) return emptyHits
    val m = manifest.get
    if (m.numDocs == 0 || m.totalTokens == 0) return emptyHits
    val rows = terms.map(postingBlocks).reduce(_ union _)
      .flatMap { blk =>
        val docs = blk.docs; val tfs = blk.tfs; val dls = blk.dls
        (0 until blk.n).iterator.map(j => (docs(j), blk.term, tfs(j), dls(j)))
      }
      .toDF("docId", "term", "tf", "dl")
    val cf = rows.groupBy("term").agg(sum(col("tf")).as("cf"))
    val scored = rows.join(broadcast(cf), "term")
      .withColumn("__c", contrib(col("tf").cast("double"),
        col("dl").cast("double"), col("cf").cast("double")))
      .groupBy("docId").agg(sum(col("__c")).as("score"))
    scored.join(docsView, "docId")
      .select(col("convId").as("conv_id"), col("score"))
      .orderBy(col("score").desc, col("conv_id").asc).limit(k)
      .select(col("conv_id"), round(col("score"), 4).as("score"))
  }

  /** Top-k under LM Dirichlet similarity (the Elasticsearch / Lucene
    * `LMDirichlet` similarity module — the classic Dirichlet-smoothed query
    * likelihood, Zhai & Lafferty 2001): per matched query term
    * `ln(1 + tf / (mu * (cf / C))) + ln(mu / (dl + mu))`, summed
    * disjunctively, with cf the term's collection frequency and C the total
    * corpus token count (manifest `totalTokens`). Every float step is
    * written with explicit grouping so the SQL oracle replays the identical
    * IEEE operations. Scores can be negative (long docs matching one rare
    * term) — ordering, not sign, is the contract.
    */
  def lmDirichletTopK(terms: Seq[String], k: Int, mu: Double = 2000.0): DataFrame = {
    require(mu > 0.0, "mu must be > 0")
    val ctot = manifest.fold(0L)(_.totalTokens).toDouble
    lmTopK(terms, k) { (tf, dl, cf) =>
      log(lit(1.0) + tf / (lit(mu) * (cf / lit(ctot)))) +
        log(lit(mu) / (dl + lit(mu)))
    }
  }

  /** Top-k under LM Jelinek-Mercer similarity (the ES/Lucene
    * `LMJelinekMercer` module): per matched term
    * `ln(1 + ((1 - lambda) / lambda) * ((tf / dl) / (cf / C)))` — linear
    * interpolation between document and collection language models. Same
    * machinery and determinism contract as [[lmDirichletTopK]].
    */
  def lmJelinekMercerTopK(terms: Seq[String], k: Int,
      lambda: Double = 0.1): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, "lambda must be in (0, 1)")
    val ctot = manifest.fold(0L)(_.totalTokens).toDouble
    lmTopK(terms, k) { (tf, dl, cf) =>
      log(lit(1.0) + ((lit(1.0) - lit(lambda)) / lit(lambda)) *
        ((tf / dl) / (cf / lit(ctot))))
    }
  }

  /** Window rescoring (the Elasticsearch `rescore` / function-score pattern):
    * take the exact BM25 top-`window`, multiply each hit's score by a
    * caller-supplied per-document factor, and return the top-`k` of the
    * combined order. This is how production engines apply recency decay,
    * popularity boosts, or a second-stage model without giving up index
    * pruning: the expensive exact-top-window query keeps full block-max
    * pruning, and the factor touches only `window` rows. Documents outside
    * the window keep their base scores (standard rescore-window semantics —
    * `window` bounds how deep the factor can promote). When window < k the
    * candidate set is still the base top-max(k, window): the first `window`
    * rows carry combined scores, rows window..k their base scores, and the
    * final (score desc, conv_id asc) sort interleaves them — a factor can
    * reorder within that set but never multiplies into rows beyond the
    * window (ADVICE r4) and never pulls in a document below the base top-k.
    *
    * @param factors doc-values frame with `convCol` (doc key) and
    *                `factorCol` (double multiplier); docs absent from it
    *                keep factor 1.0. Only the window's ≤ `window` keys are
    *                ever looked up (one IN-pruned point query, same bounded
    *                shape as the label lookups).
    */
  def rescoreTopK(terms: Seq[String], k: Int, window: Int, factors: DataFrame,
      convCol: String = "conv_id", factorCol: String = "factor",
      conjunctive: Boolean = false): DataFrame = {
    if (k <= 0) return emptyHits
    val base = bm25TopKRows(terms, math.max(k, window), conjunctive)
    if (base.isEmpty) return emptyHits
    // only the first `window` rows of the base order are rescored; rows
    // window..k keep their base scores (documented rescore-window contract —
    // the window bounds how deep the factor can promote OR demote, so a
    // window < k must not multiply factors into rows beyond it; ADVICE r4)
    val (inWin, outWin) = base.splitAt(math.max(0, window))
    val convs = inWin.map(_._1).toSeq
    val fmap =
      if (convs.isEmpty) Map.empty[String, Double]
      else factors
        .where(col(convCol).isin(convs: _*))
        .select(col(convCol).cast("string"), col(factorCol).cast("double"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val rescored = (inWin.map { case (c, s) => (c, s * fmap.getOrElse(c, 1.0)) } ++ outWin)
      .sortBy { case (c, s) => (-s, c) }
      .take(k)
    hitsDf(rescored)
  }

  /** Reciprocal-rank fusion (the Elasticsearch `rrf` retriever; Cormack &
    * Clarke 2009): fuse the lexical BM25 ranking with a caller-supplied
    * second ranking — typically vector kNN, making this the engine's hybrid
    * lexical+semantic search surface. Each source contributes
    * 1 / (c + rank) for documents inside its top-`window` (1-based rank;
    * docs absent from a source contribute nothing for it — ES semantics);
    * the fused score orders the final top-k, ties on conv_id asc.
    *
    * Shape: the lexical ranking is the serving-shaped [[bm25TopKRows]]
    * (zero Spark jobs warm), ≤ `window` rows; the second ranking is a
    * bounded frame by the SAME window contract. The fusion is one outer
    * join over ≤ 2·window rows — driver-trivial, cluster-trivial, and the
    * expensive parts (DAAT kernel, ANN candidate generation) keep their own
    * documented scale paths.
    *
    * @param other second-source ranking: (`otherConvCol`, `otherRankCol`
    *              1-based int/long), at most `window` rows honored.
    * @return (conv_id, score) rows — score = the rrf sum, exact (round at
    *         presentation).
    */
  def rrfTopK(terms: Seq[String], other: DataFrame, k: Int,
      window: Int = 100, c: Int = 60,
      otherConvCol: String = "conv_id", otherRankCol: String = "rank",
      conjunctive: Boolean = false): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(c >= 1, "rank constant must be >= 1")
    if (k <= 0) return emptyHits
    val lex = bm25TopKRows(terms, window, conjunctive).zipWithIndex
      .map { case ((conv, _), i) => (conv, i + 1) }.toSeq
      .toDF("conv_id", "lrank")
    val sec = other
      .select(col(otherConvCol).cast("string").as("conv_id"),
        col(otherRankCol).cast("long").as("orank"))
      .where(col("orank") >= 1 && col("orank") <= window)
    lex.join(sec, Seq("conv_id"), "full_outer")
      .select(col("conv_id"),
        (coalesce(lit(1.0) / (lit(c) + col("lrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("orank")), lit(0.0))).as("score"))
      .orderBy(col("score").desc, col("conv_id").asc)
      .limit(k)
  }

  /** Linear hybrid retriever (the Elasticsearch `linear` retriever with the
    * `minmax` normalizer — the score-aware companion to [[rrfTopK]]'s
    * rank-only fusion): each source's top-`window` scores are min-max
    * normalized within that window — (s − min) / (max − min), all-equal
    * windows normalize to 1.0 — then fused as
    * wLex · normLex + wOther · normOther; docs absent from a source
    * contribute 0 for it. Score-aware fusion preserves MARGIN information
    * RRF throws away (a runaway best hit stays far ahead), at the price of
    * sensitivity to each source's score scale — exactly the ES-documented
    * trade-off between the two retrievers.
    *
    * Shape: identical to [[rrfTopK]] — two bounded ≤ `window`-row frames,
    * one outer join; the expensive parts keep their own scale paths.
    *
    * @param other second-source scores: (`otherConvCol`, `otherScoreCol`
    *              double); only its top-`window` rows by (score desc,
    *              conv asc) are honored.
    * @return (conv_id, score) rows, fused score desc then conv_id asc, ≤ k.
    */
  def linearHybridTopK(terms: Seq[String], other: DataFrame, k: Int,
      window: Int = 100, wLex: Double = 1.0, wOther: Double = 1.0,
      otherConvCol: String = "conv_id", otherScoreCol: String = "score",
      conjunctive: Boolean = false): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(wLex >= 0.0 && wOther >= 0.0, "weights must be >= 0")
    if (k <= 0) return emptyHits
    def normed(rows: Seq[(String, Double)]): Seq[(String, Double)] =
      if (rows.isEmpty) rows
      else {
        val mx = rows.map(_._2).max
        val mn = rows.map(_._2).min
        if (mx == mn) rows.map { case (c, _) => (c, 1.0) }
        else rows.map { case (c, s) => (c, (s - mn) / (mx - mn)) }
      }
    val lex = normed(bm25TopKRows(terms, window, conjunctive).toSeq)
      .toDF("conv_id", "ln")
    val secRows = other
      .select(col(otherConvCol).cast("string").as("__c"),
        col(otherScoreCol).cast("double").as("__s"))
      .orderBy(col("__s").desc, col("__c").asc)
      .limit(window)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val sec = normed(secRows).toDF("conv_id", "on")
    lex.join(sec, Seq("conv_id"), "full_outer")
      .select(col("conv_id"),
        (lit(wLex) * coalesce(col("ln"), lit(0.0)) +
          lit(wOther) * coalesce(col("on"), lit(0.0))).as("score"))
      .orderBy(col("score").desc, col("conv_id").asc)
      .limit(k)
  }

  /** More-like-this: rank documents similar to `convId` by running a BM25
    * disjunction of its most characteristic terms. Selection is fully
    * deterministic and integer-keyed (Lucene's MLT uses tf·idf floats; ours
    * orders by (tf desc, df asc, term asc) with a df·2 ≤ N stopword guard) so
    * an independent SQL oracle reproduces it exactly. Reads the doc's terms
    * from the FORWARD index log (the reference's forward map — Indexer.cs:19)
    * and their global df from one pruned (term, df)-only block scan; the
    * source doc itself is excluded from the result.
    */
  def moreLikeThis(convId: String, maxTerms: Int = 5, k: Int = 10,
      maxDfPct: Int = 50): DataFrame = {
    if (convId == null || convId.isEmpty || maxTerms <= 0 || k <= 0 || manifest.isEmpty)
      return emptyHits
    val m = manifest.get
    if (m.numDocs == 0 || m.avgdl <= 0.0) return emptyHits
    val idRow = docsView.where(col("convId") === convId).select("docId").collect()
    if (idRow.isEmpty) return emptyHits
    val docId = idRow(0).getLong(0)
    val docTerms = killa.store.Logs.forward(spark, m)
      .where(col("docId") === docId)
      .select("term", "tf").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    if (docTerms.isEmpty) return emptyHits
    // global df for exactly the doc's terms: one bucket-pruned scan
    val dfMap = termDf(docTerms.map(_._1).toSeq)
    val n = m.numDocs
    // stopword guard: drop terms in more than maxDfPct% of docs (default
    // half). Integer arithmetic so the SQL oracle mirrors it exactly; 100
    // disables the guard — the right setting for tiny-vocabulary corpora
    // where every term is hot.
    val selected = docTerms
      .map { case (t, tf) => (t, tf, dfMap(t).max(1L)) }
      .filter { case (_, _, df) => df * 100L <= n * maxDfPct.toLong }
      .sortBy { case (t, tf, df) => (-tf, df, t) }
      .take(maxTerms).map(_._1).toSeq
    // top-(k+1) then drop self: exact, since removing one element of the
    // top-(k+1) leaves at least the true top-k-excluding-self
    Bm25Query.of(manifest, selected, k + 1).fold(emptyHits)(q =>
      hitsDf(topKRowsImpl(q, m).filterNot(_._1 == convId).take(k)))
  }

  /** Pseudo-relevance feedback top-k (the Rocchio / RM-style two-pass
    * expansion classic IR serves next to more_like_this): run the base
    * query, take the top `fbDocs` feedback documents, select the `fbTerms`
    * strongest expansion terms from THEIR summed term vectors, and re-run
    * with the originals at weight 1 and the expansion terms at weight
    * `beta` — "find what the best answers talk about, then ask for that
    * too". Expansion selection is INTEGER-keyed exactly like
    * [[moreLikeThis]] (Σtf desc, df asc, term asc; stopword guard
    * df·100 ≤ N·maxDfPct; original terms excluded), so an independent SQL
    * oracle picks the identical term set; the second pass is the ordinary
    * boosted DAAT kernel, so pruning stays exact under the expansion
    * weights.
    *
    * Bounded driver work by construction: the feedback page (≤ fbDocs
    * rows), its docs' forward rows grouped to ≤ their distinct terms, one
    * bucket-pruned (term, df) scan — then one more top-k query.
    */
  def prfTopK(termsIn: Seq[String], k: Int, fbDocs: Int, fbTerms: Int,
      beta: Double, maxDfPct: Int = 50): DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0 && beta > 0.0,
      "fbDocs >= 1, fbTerms >= 0, beta > 0")
    val q = Bm25Query.of(manifest, termsIn, k) match {
      case Some(q) => q
      case None => return emptyHits
    }
    val m = manifest.get
    val terms = q.terms
    val fb = topKRowsImpl(q.withK(fbDocs), m).map(_._1)
    if (fb.isEmpty || fbTerms == 0) return hitsDf(topKRowsImpl(q, m))
    val fbIds = docsView.where(col("convId").isin(fb: _*))
      .select("docId").collect().map(_.getLong(0))
    // summed term vectors of the feedback docs (forward log, like MLT)
    val cand = killa.store.Logs.forward(spark, m)
      .where(col("docId").isin(fbIds: _*))
      .where(!col("term").isin(terms: _*))
      .groupBy("term").agg(sum(col("tf")).as("stf"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    if (cand.isEmpty) return hitsDf(topKRowsImpl(q, m))
    val dfMap = termDf(cand.map(_._1).toSeq)
    val expansion = cand
      .map { case (t, stf) => (t, stf, dfMap(t).max(1L)) }
      .filter { case (_, _, df) => df * 100L <= m.numDocs * maxDfPct.toLong }
      .sortBy { case (t, stf, df) => (-stf, df, t) }
      .take(fbTerms).map(_._1).toSeq
    Bm25Query.of(manifest, terms ++ expansion, k, boosts = expansion.map(_ -> beta).toMap)
      .fold(emptyHits)(qe => hitsDf(topKRowsImpl(qe, m)))
  }

  /** Score explanation (the Elasticsearch `_explain` API): the exact
    * per-term BM25 breakdown for one (query, document) pair — the integer
    * inputs (tf, dl, df, N) plus idf and the contribution, the same values
    * the DAAT kernel folds, so sum(contrib) is the doc's score on every
    * query surface (modulo the documented fold-order ulp). One row per query
    * term PRESENT in the document (ES explain lists matched clauses).
    * Bounded driver work by construction: a dictionary point lookup, the
    * doc's forward rows, and one bucket-pruned (term, df) scan.
    */
  def bm25Explain(convId: String, termsIn: Seq[String]): DataFrame = {
    val empty = Seq.empty[(String, Long, Long, Long, Double, Double)]
      .toDF("term", "tf", "dl", "df", "idf", "contrib")
    val terms = cleanTerms(termsIn)
    if (convId == null || convId.isEmpty || terms.isEmpty || manifest.isEmpty)
      return empty
    val m = manifest.get
    if (m.numDocs == 0 || m.avgdl <= 0.0) return empty
    val idRow = docs.where(col("convId") === convId)
      .select("docId", "dl").collect()
    if (idRow.isEmpty) return empty
    val docId = idRow(0).getLong(0); val dl = idRow(0).getLong(1)
    val tfMap: Map[String, Long] = killa.store.Logs.forward(spark, m)
      .where(col("docId") === docId && col("term").isin(terms: _*))
      .select("term", "tf").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (tfMap.isEmpty) return empty
    val dfMap = termDf(tfMap.keys.toSeq)
    val n = m.numDocs; val k1 = conf.k1; val b = conf.b; val avgdl = m.avgdl
    terms.sorted.flatMap { t =>
      tfMap.get(t).map { tf =>
        val df = dfMap(t).max(1L)
        (t, tf, dl, df, Bm25.idf(n, df),
          Bm25.contrib(Bm25.weight(n, df, k1), tf, dl, k1, b, avgdl))
      }
    }.toDF("term", "tf", "dl", "df", "idf", "contrib")
  }

  /** Bucket dirs holding EXACTLY the given terms' postings (term → bucket is
    * a pure hash), existing dirs only — the pruned path set of any
    * several-known-terms scan ([[termDf]], [[membershipAny]], [[termsSet]],
    * [[adjacencyMatrix]]).
    * Spec-asserted a strict subset of the full bucket listing in Round5Spec.
    */
  private[killa] def termBucketPaths(terms: Seq[String]): Seq[String] =
    termDirs(terms)(_.bucketPath)

  /** [[termBucketPaths]] over the positional index: the position-bucket dirs
    * holding exactly the given terms' position lists — the path set of the
    * one [[positionalHits]] scan. Spec-asserted a strict subset of all
    * position dirs in PositionalSpec.
    */
  private[killa] def termPosPaths(terms: Seq[String]): Seq[String] =
    termDirs(terms)(_.posPath)

  private def termDirs(terms: Seq[String])(dir: Manifest => Int => Option[String]): Seq[String] =
    manifest match {
      case None => Nil
      case Some(m) =>
        terms.map(t => Hashing.termBucket(t, m.nBuckets)).distinct.sorted
          .flatMap(dir(m)).filter(p => fs(p).exists(new Path(p)))
    }

  /** Shared exact top-k resolution: local fast path, else ONE execution of
    * the distributed candidate pipeline resolved by [[finishRows]]. Both
    * public top-k surfaces ([[bm25TopK]], [[bm25TopKRows]]) are this.
    */
  private def topKRowsImpl(q: Bm25Query, m: Manifest): Array[(String, Double)] =
    localTopK(q, m).getOrElse(finishRows(scoredCandidates(q, m), q.k))

  private def hitsDf(rows: Array[(String, Double)]): DataFrame =
    if (rows.isEmpty) emptyHits else rows.toSeq.toDF("conv_id", "score")

  // Bounded hot-postings block cache — the serving frontend's working set
  // (the Lucene/OS-page-cache analog, explicit because our store is remote
  // at production scale). Snapshot-pinned reader ⇒ consistency-free.
  // Insert-only under a byte budget charged per block for its encoded
  // payload AND its decoded arrays (3 Longs = 24 B per posting: a cached
  // block is decoded once on first use and keeps the arrays for the reader's
  // life): once the budget is spent, further terms simply keep paying the
  // one-scan-job path — never unbounded, never wrong.
  private val blockCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[PostingBlock]]()
  private val blockCacheBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private def blockBytes(bs: Array[PostingBlock]): Long =
    bs.foldLeft(0L)((acc, b) =>
      acc + 64L + b.docsBin.length + b.tfsBin.length + b.dlsBin.length + 24L * b.n)
  /** The cached blocks of `term` (null when not cached) — the very instances
    * warm queries score, for specs that inspect their payload and memo. */
  private[killa] def cachedBlocks(term: String): Array[PostingBlock] = blockCache.get(term)
  private def cachePut(term: String, bs: Array[PostingBlock]): Unit = {
    val sz = blockBytes(bs)
    if (conf.blockCacheMaxBytes > 0 &&
        blockCacheBytes.get() + sz <= conf.blockCacheMaxBytes &&
        blockCache.putIfAbsent(term, bs) == null) {
      blockCacheBytes.addAndGet(sz); ()
    }
  }

  /** Adaptive query fast path: when the query's pruned posting volume is
    * ≤ conf.localQueryBlocks blocks, fetch the (cache-missing) terms' blocks
    * in ONE pruned scan job, cache them under the byte budget, and run the
    * same DAAT kernel driver-side — single-range for small volumes, the
    * shared bounded pool's parallel multi-range decomposition for mid-size
    * ones. Results are identical to the range fan-out (same (lo, hi] range
    * convention, same term-order fold, same tie retention) minus a shuffle
    * and two scheduler rounds of latency; a fully cached query runs with
    * ZERO Spark jobs. Beyond-cap queries (gigantic terms at true corpus
    * scale) take the distributed path; the routing decision is a
    * column-pruned block COUNT — one metadata-weight job, zero payload
    * bytes driver-side (ADVICE r3, medium).
    */
  private[killa] def localTopK(q: Bm25Query, m: Manifest): Option[Array[(String, Double)]] = {
    val (afterScore, afterDoc) = q.after
    val cap = conf.localQueryBlocks
    if (cap <= 0) return None
    // exclusion terms ride the same probe: a hot mustNot term ("NOT the")
    // pushes the query to the distributed path just like a hot query term
    val all = q.terms ++ q.mustNot
    val cachedArr: Array[Array[PostingBlock]] = all.map(blockCache.get(_)).toArray
    val missingIdx = cachedArr.indices.filter(cachedArr(_) == null)
    if (missingIdx.nonEmpty) {
      // route on the cheap count FIRST: one column-pruned job counting the
      // missing terms' pruned blocks (only the sorted `term` filter column
      // is read) — a beyond-cap term at true corpus scale takes the
      // distributed path without a single payload byte reaching the driver
      // (ADVICE r3, medium: the old bounded-collect probe pulled up to
      // partitions × cap full blocks just to decide). Within-cap queries
      // pay one more scan job fetching exactly those ≤ cap blocks.
      val missingDfs = missingIdx
        .flatMap(i => postingBlocksDf(all(i)).map(_.select(lit(1).as("one"))))
      val missingCount = if (missingDfs.isEmpty) 0L else missingDfs.reduce(_ union _).count()
      if (missingCount > cap) return None
      if (missingCount > 0) {
        val tagged: Dataset[(Int, PostingBlock)] = missingIdx
          .map { i => postingBlocks(all(i)).map(b => (i, b)) }
          .reduce(_ union _)
        tagged.collect().groupBy(_._1).foreach { case (i, rows) =>
          val bs = rows.map(_._2).sortBy(_.firstDoc)
          cachedArr(i) = bs
          cachePut(all(i), bs)
        }
      }
      // negative cache: a term with no postings caches its empty array too
      // (zero bytes), so repeat queries on absent terms also skip the scan
      missingIdx.foreach { i =>
        if (cachedArr(i) == null) {
          cachedArr(i) = Array.empty[PostingBlock]
          cachePut(all(i), cachedArr(i))
        }
      }
    }
    // the per-query filter collects ONLY after the terms decide the query
    // stays local — a hot term routing to the distributed path must not pay
    // (and then re-pay, in the fan-out) the filter-encoding job first. Filter
    // blocks are NEVER cached (they are not store content); a filter too big
    // for the driver routes the query exactly like a beyond-cap term, with
    // the terms' just-fetched blocks already cached for the fan-out's reuse.
    // limit(cap+1) bounds the fetch: within-cap filters arrive whole here.
    val incArr: Array[Array[PostingBlock]] = q.include match {
      case None => Array.empty
      case Some(ds) =>
        val bs = ds.limit(cap + 1).collect()
        if (bs.length > cap) return None
        Array(bs.sortBy(_.firstDoc))
    }
    val blocks = cachedArr
    val termBlocks = blocks.take(q.terms.length)
    val exBlocks = blocks.drop(q.terms.length)
    val weights = q.weigher(conf.k1)(termBlocks)
    // (lo, hi] — the fan-out's convention
    def scoreRange(lo: Long, hi: Long): Array[(Long, Double)] =
      Daat.scoreRange(termBlocks, weights, lo, hi, q.k, q.conjunctive,
        conf.k1, conf.b, q.avgdl, exBlocks, afterScore, afterDoc, incArr,
        q.minMatch, q.floor).toArray
    // mid-size queries: the SAME docId-range decomposition as the
    // distributed kernel, on driver threads — identical results (per-range
    // DAAT + global tie-broken merge), none of the fan-out's shuffle/stage
    // latency. Small queries stay single-range (thread startup > win).
    val totalBlocks = blocks.foldLeft(0)(_ + _.length) + incArr.foldLeft(0)(_ + _.length)
    val hits: Array[(Long, Double)] =
      if (totalBlocks <= conf.localParBlocks) scoreRange(-1L, Long.MaxValue)
      else {
        // shared bounded daemon pool, not per-query threads: under
        // concurrent serving load per-query `new Thread` churned up to 32
        // threads per warm query (VERDICT r3 #7). Ranges are pure functions
        // of the snapshot → any interleaving of pool tasks yields identical
        // results (rank-identity spec unchanged). Range count tracks the
        // SESSION's configured parallelism (same source as the distributed
        // kernel), not a JVM-startup core snapshot — a JVM whose affinity
        // changes between sessions (the bench's two levels) must not freeze
        // the first level's width into every later query. The pool itself is
        // re-sized to the box's cores here; ranges beyond its size queue.
        val nRanges = math.max(1,
          math.min(spark.sparkContext.defaultParallelism, DaatPool.maxSize))
        val stride = math.max(1L, (m.maxDocId + 2) / nRanges + 1)
        val pool = DaatPool.pool
        val futures = (0 until nRanges).map { r =>
          pool.submit(new java.util.concurrent.Callable[Array[(Long, Double)]] {
            def call(): Array[(Long, Double)] =
              scoreRange(r.toLong * stride - 1, r.toLong * stride + stride - 1)
          })
        }
        futures.flatMap(_.get()).toArray
      }
    Some(labelRows(hits, q.k))
  }

  /** The distributed candidate pipeline: pruned per-term block scans →
    * docId-range fan-out → per-range DAAT (package-private so plan tests can
    * assert its physical shape).
    */
  private[killa] def scoredCandidates(q: Bm25Query, m: Manifest): DataFrame = {
    // exclusion terms tag on after the query terms, and the (optional)
    // doc-values filter's encoded blocks after those; all replicate to
    // ranges through the same fan-out and each range's kernel splits the
    // three segments back off by tag index
    val all = q.terms ++ q.mustNot
    val hasInclude = q.include.isDefined
    val blocksByTerm: Seq[(Int, Dataset[PostingBlock])] =
      all.zipWithIndex.map { case (t, i) => (i, postingBlocks(t)) }
    val allBlocks: Dataset[(Int, PostingBlock)] = (blocksByTerm
      .map { case (i, ds) => ds.map(b => (i, b)) } ++
      q.include.map(ds => ds.map(b => (all.length, b))).toSeq)
      .reduce(_ union _)

    // the executor closure below captures these plain values, never `q`
    // (its include set is a Dataset)
    val k1 = conf.k1; val b = conf.b
    val (afterScore, afterDoc) = q.after
    val (k, conjunctive, minMatch, floor, avgdl) =
      (q.k, q.conjunctive, q.minMatch, q.floor, q.avgdl)
    val weigh = q.weigher(k1)

    // docId ranges: fixed stride over the dense id domain. Each block goes to
    // every range it overlaps; each doc is scored only in its owning range.
    val nRanges = math.max(1, math.min(spark.sparkContext.defaultParallelism, 64))
    val stride = math.max(1L, (m.maxDocId + 2) / nRanges + 1)
    val nTerms = q.terms.length
    val nAll = all.length
    val scored = allBlocks
      .flatMap { case (ti, blk) =>
        val r0 = blk.firstDoc / stride
        val r1 = blk.lastDoc / stride
        (r0 to r1).iterator.map(r => (r, ti, blk))
      }
      .groupByKey(_._1)
      .flatMapGroups { (rangeId, it) =>
        // slots: [0, nTerms) query terms, [nTerms, nAll) exclusions, nAll =
        // the filter's include set (when present). A filtered range with NO
        // filter blocks gets one empty include set — correctly admitting
        // nothing there (no filter doc lives in that range).
        val perTerm = Array.fill(nAll + (if (hasInclude) 1 else 0))(List.newBuilder[PostingBlock])
        it.foreach { case (_, ti, blk) => perTerm(ti) += blk }
        val blocks = perTerm.map(_.result().sortBy(_.firstDoc).toArray)
        val termBlocks = blocks.take(nTerms)
        // per-term BM25 weights from the blocks themselves (df is global per
        // term and stored in every block) — saves a whole driver round-trip;
        // a term with no blocks in this range contributes nothing here, and
        // in conjunctive mode correctly empties the range's intersection.
        val lo = rangeId * stride - 1 // (lo, hi] convention
        val hi = rangeId * stride + stride - 1
        Daat.scoreRange(termBlocks, weigh(termBlocks), lo, hi, k, conjunctive,
          k1, b, avgdl, blocks.slice(nTerms, nAll), afterScore, afterDoc,
          blocks.drop(nAll), minMatch, floor)
      }
      .toDF("docId", "score")
    scored
  }

  /** Global exact top-k with tie-break (score desc, conv_id asc) — the total
    * order the oracles use, independent of docId assignment age.
    * Candidates are ≤ ~(k + ties) per range by construction; materialize
    * them (the driver-side merge any top-k serving path ends in, same as
    * TakeOrdered) and point-look-up their labels with an IN filter the
    * cached dictionary prunes on — instead of a per-query join that scans
    * the whole dictionary.
    *
    * Degenerate candidate blowups (huge k × many ranges) never re-execute
    * the scan/DAAT pipeline (VERDICT r3 #6): candidates persist before the
    * first collect, and only the k-th score's tie plateau needs labels —
    * a driver partial sort bounds the IN lookup at (k + ties); truly
    * massive plateaus fall back to a distributed label join over the
    * CACHED candidates.
    */
  private def finishRows(scoredIn: DataFrame, k: Int): Array[(String, Double)] = {
    val scored = scoredIn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = scored.collect().map(r => (r.getLong(0), r.getDouble(1)))
      if (cands.isEmpty) return Array.empty
      if (cands.length <= conf.driverTopKMax) return labelRows(cands, k)
      val sorted = cands.sortBy(-_._2)
      val kth = sorted(math.min(k, sorted.length) - 1)._2
      val keep = sorted.takeWhile(_._2 >= kth) // every possible top-k member
      if (keep.length <= conf.driverTopKMax) labelRows(keep, k)
      else
        // broadcast() the CANDIDATES: without the hint Catalyst can't size
        // the post-shuffle side and would shuffle the (huge) dictionary
        broadcast(scored).join(docsView.select(col("docId"), col("convId")), "docId")
          .orderBy(col("score").desc, col("convId").asc)
          .limit(k)
          .select(col("convId").as("conv_id"), col("score"))
          .collect().map(r => (r.getString(0), r.getDouble(1)))
          .sortBy { case (conv, score) => (-score, conv) }
    } finally { scored.unpersist(); () }
  }

  // bounded hot-label cache: a reader is snapshot-pinned, so docId→convId
  // is immutable for its lifetime. Point lookups of repeated top-k ids skip
  // the Spark job entirely — the standard dictionary hot-set cache of a
  // serving engine, and the dominant per-query driver cost under concurrent
  // clients (every job serializes through the one DAGScheduler). Size-capped
  // so a 10^12-doc dictionary can never swamp the driver.
  private val labelCache = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** Bounded driver merge shared by both top-k paths: resolve candidate
    * labels from the hot cache, point-look-up only the misses with an IN
    * filter the range-laid dictionary prunes on (file/row-group docId
    * stats), then the exact global tie-break (score desc, conv_id asc).
    */
  private def labelRows(cands: Array[(Long, Double)], k: Int): Array[(String, Double)] = {
    if (cands.isEmpty) return Array.empty
    val misses = cands.map(_._1).distinct.filterNot(labelCache.containsKey(_))
    if (misses.nonEmpty) {
      val fetched = docsView.select(col("docId"), col("convId"))
        .where(col("docId").isin(misses.toSeq: _*))
        .collect()
      if (labelCache.size() + fetched.length <= conf.labelCacheMax)
        fetched.foreach(r => labelCache.put(r.getLong(0), r.getString(1)))
      val m = fetched.map(r => r.getLong(0) -> r.getString(1)).toMap
      return finishLabels(cands,
        id => { val c = labelCache.get(id); if (c != null) c else m(id) }, k)
    }
    finishLabels(cands, labelCache.get(_), k)
  }

  private def finishLabels(cands: Array[(Long, Double)], label: Long => String,
      k: Int): Array[(String, Double)] =
    cands.iterator
      .map { case (id, s) => (label(id), s) }
      .toArray
      .sortBy { case (conv, score) => (-score, conv) }
      .take(k)
}

/** A BM25 top-k request after every edge rule has run — the only input the
  * exact top-k kernel accepts. Only [[Bm25Query.of]] builds one, so the rules
  * live in one place and the kernel never sees raw terms.
  *
  * `n` / `avgdl` are the statistics the weights use: the stats override's
  * (sharded dfs_query_then_fetch) when there is one, else the snapshot's.
  * `after` is the (score, docId) search-after cursor; the default admits
  * every document. `include` holds a doc-values filter's encoded blocks.
  */
private[killa] final class Bm25Query private (
    val terms: Seq[String], val mustNot: Seq[String], val k: Int,
    val conjunctive: Boolean, val minMatch: Int,
    val boosts: Map[String, Double], val stats: Option[CorpusStats],
    val floor: Double, val n: Long, val avgdl: Double,
    val after: (Double, Long), val include: Option[Dataset[PostingBlock]]) {

  private def copy(k: Int = k, after: (Double, Long) = after,
      include: Option[Dataset[PostingBlock]] = include): Bm25Query =
    new Bm25Query(terms, mustNot, k, conjunctive, minMatch, boosts, stats,
      floor, n, avgdl, after, include)

  def withK(k: Int): Bm25Query = copy(k = k)
  def withAfter(score: Double, docId: Long): Bm25Query = copy(after = (score, docId))
  def withInclude(blocks: Dataset[PostingBlock]): Bm25Query = copy(include = Some(blocks))

  /** Per-term BM25 weights from each term's blocks. df is global and stamped
    * into every block unless the stats override supplies it; the boost folds
    * into the premultiplied weight, so every block-max bound scales with it
    * and pruning stays exact; a term with no blocks weighs 0. The function
    * closes over plain values only, so it ships in executor closures, and the
    * local and distributed kernels get bit-identical weights from it.
    */
  def weigher(k1: Double): Array[Array[PostingBlock]] => Array[Double] = {
    val nEff = n
    val dfOv = stats.map(s => terms.map(t => s.df.getOrElse(t, 0L)).toArray)
    val boost = terms.map(t => boosts.getOrElse(t, 1.0)).toArray
    termBlocks => termBlocks.zipWithIndex.map { case (bs, i) =>
      if (bs.isEmpty) 0.0
      else Bm25.weight(nEff, dfOv.fold(bs(0).df)(_(i)), k1) * boost(i)
    }
  }
}

private[killa] object Bm25Query {
  /** Query terms as every surface reads them: null and empty dropped,
    * duplicates collapsed set-style (the reference's token-set semantics).
    */
  def cleanTerms(terms: Seq[String]): Seq[String] =
    terms.filter(t => t != null && t.nonEmpty).distinct

  /** The edge rules every BM25 entry point shares, applied once:
    *  - a boost ≤ 0 is rejected before any other rule: it would break the
    *    block-max bound's admissibility (ES makes the same restriction);
    *  - terms and mustNot are cleaned; a term both required and excluded
    *    stays excluded (plain boolean: t AND NOT t = ∅);
    *  - None — the query matches nothing — with no usable term, k ≤ 0, no
    *    snapshot, a disjunctive minShouldMatch above the distinct term count
    *    (ES m-of-n: m ≤ 1 is the plain disjunction, conjunctive mode ignores
    *    m), or empty effective statistics (N = 0 or avgdl ≤ 0; under a stats
    *    override those are the override's).
    */
  def of(manifest: Option[Manifest], termsIn: Seq[String], k: Int,
      conjunctive: Boolean = false, mustNot: Seq[String] = Nil,
      minShouldMatch: Int = 1, boosts: Map[String, Double] = Map.empty,
      stats: Option[CorpusStats] = None,
      floor: Double = Double.NegativeInfinity): Option[Bm25Query] = {
    require(boosts.values.forall(_ > 0.0), "boosts must be > 0")
    val terms = cleanTerms(termsIn)
    val n = stats.map(_.numDocs).orElse(manifest.map(_.numDocs)).getOrElse(0L)
    val avgdl = stats.map(_.avgdl).orElse(manifest.map(_.avgdl)).getOrElse(0.0)
    if (terms.isEmpty || k <= 0 || manifest.isEmpty) None
    else if (!conjunctive && minShouldMatch > terms.length) None
    else if (n == 0 || avgdl <= 0.0) None
    else Some(new Bm25Query(terms, cleanTerms(mustNot), k, conjunctive,
      minShouldMatch, boosts, stats, floor, n, avgdl,
      (Double.PositiveInfinity, Long.MinValue), None))
  }
}

/** Shared bounded daemon pool for the parallel driver-side DAAT kernel —
  * one pool per JVM (a serving frontend), reused by every reader and every
  * query: concurrent clients queue range tasks instead of spawning threads
  * per query (VERDICT r3 #7). It is sized to the box's current
  * `availableProcessors()` each time a query submits its ranges.
  */
private[query] object DaatPool {
  /** Hard cap on driver-side DAAT threads, matching the pre-pool per-query
    * cap. It is a cap, not a target: the pool holds at most
    * `min(availableProcessors(), maxSize)` threads, created on demand and
    * retired after 60 s idle.
    */
  val maxSize: Int = 32

  private lazy val executor: java.util.concurrent.ThreadPoolExecutor = {
    val size = targetSize
    val p = new java.util.concurrent.ThreadPoolExecutor(
      size, size, 60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"killa-daat-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  private def targetSize: Int =
    math.min(Runtime.getRuntime.availableProcessors(), maxSize)

  /** The shared pool, sized to the box at each call. The size is read here,
    * not once at class load: a JVM whose CPU affinity changes between
    * sessions (the bench re-pins local[2] → local[8]) must not keep the
    * first session's width for the life of the process.
    */
  def pool: java.util.concurrent.ExecutorService = resize(targetSize)

  /** Sets core = max = `n` when it differs from the current size. With an
    * unbounded queue the executor never grows past its core size, and while
    * below it starts a thread per submit, so the core size is the live-thread
    * bound. The maximum is raised first when growing and the core lowered
    * first when shrinking: the JDK rejects core > max.
    */
  private[query] def resize(n: Int): java.util.concurrent.ThreadPoolExecutor = {
    val p = executor
    if (p.getCorePoolSize != n) synchronized {
      if (n > p.getMaximumPoolSize) {
        p.setMaximumPoolSize(n)
        p.setCorePoolSize(n)
      } else {
        p.setCorePoolSize(n)
        p.setMaximumPoolSize(n)
      }
    }
    p
  }
}
