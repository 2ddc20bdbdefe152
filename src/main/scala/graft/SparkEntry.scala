package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import killa.tokenize.Tokenize

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every fulltext query below runs through the REAL engine (index build →
  * segment store → snapshot reader), not a relational shortcut; the DuckDB
  * oracle recomputes the expected answer independently from the same parquet.
  */
object SparkEntry {
  import Harness._

  /** Flagship: BM25 top-10 over the sf0.001 transcripts via the full
    * build+query pipeline; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    present(reader(spark, "/root/testdata/sf0.001").bm25TopK(Seq("the", "query"), 10))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // op 1+2: tokenize → per-doc term frequencies (ParseTokens analog)
    "q_tokenize_tf" -> ((s, dir) => {
      val toks = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
      toks.groupBy("conv_id", "term").agg(count(lit(1)).as("tf"))
        .orderBy("conv_id", "term")
    }),
    // forward-index doc stats: doc length + distinct-term count (set semantics)
    "q_doc_stats" -> ((s, dir) => {
      val toks = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
      toks.groupBy("conv_id")
        .agg(count(lit(1)).as("dl"), countDistinct(col("term")).as("n_terms"))
        .orderBy("conv_id")
    }),
    // op 10/segment store: per-term document frequency read back from the
    // committed posting blocks
    "q_df" -> ((s, dir) => {
      reader(s, dir).allBlocks
        .groupBy("term").agg(max(col("df")).as("df"))
        .orderBy("term")
    }),
    // op 11: reference-parity membership query (Searcher.cs:16-23)
    "q_membership" -> ((s, dir) =>
      reader(s, dir).membership("spark").orderBy("conv_id")),
    // absent term → empty (StringIndexTests.cs:575-595)
    "q_membership_miss" -> ((s, dir) =>
      reader(s, dir).membership("qqq_absent_term_zzz").orderBy("conv_id")),
    // prefix search — the reference's own wildcard-index TODO (README.md:56-58):
    // pushed range scan over the sorted segment layout
    "q_membership_prefix" -> ((s, dir) =>
      reader(s, dir).membershipPrefix("spar").orderBy("conv_id")),
    // glob wildcard over terms (`?` = one char), literal prefix pushed down
    "q_membership_wildcard" -> ((s, dir) =>
      reader(s, dir).membershipWildcard("sp?rk").orderBy("conv_id")),
    // count-only membership fast path: sum of the term's block `n` values
    // from ONE pruned scan (no payload decode, no label join) — the serving
    // count API; exact because posting blocks hold only alive docs
    "q_membership_count" -> ((s, dir) => {
      import s.implicits._
      Seq(reader(s, dir).membershipCount("spark")).toDF("n_docs")
    }),
    // BM25 top-k, single term
    "q_bm25_single" -> ((s, dir) =>
      present(reader(s, dir).bm25TopK(Seq("spark"), 10))),
    // BM25 top-k, multi-term disjunctive
    "q_bm25_multi" -> ((s, dir) =>
      present(reader(s, dir).bm25TopK(Seq("query", "filter", "join"), 10))),
    // BM25 top-k, conjunctive (posting-list intersection)
    "q_bm25_conj" -> ((s, dir) =>
      present(reader(s, dir).bm25TopK(Seq("query", "filter"), 10, conjunctive = true))),
    // boolean NOT: exclusion postings ride the same pruned scans and filter
    // inside the DAAT kernel, so the k-th result is exact
    "q_bm25_not" -> ((s, dir) =>
      present(reader(s, dir).bm25TopK(Seq("query", "filter"), 10,
        mustNot = Seq("spark")))),
    // pinned query: two live promoted ids first in given order (one listed
    // id is absent and must silently drop), organic BM25 fills to k with
    // the pinned docs removed — one kernel call, exact by the subset
    // argument documented on IndexReader.pinned
    "q_pinned" -> ((s, dir) =>
      reader(s, dir).pinned(Seq("c00007", "zzz-no-such-conv", "c00003"),
        Seq("query", "filter"), 10)),
    // distance_feature on the conv min-ts: BM25 plus the reciprocal-distance
    // recency boost 1.5·120/(120 + |ts − origin|s), origin mid-corpus so
    // distance actually varies in both directions
    "q_distance_feature" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      present(reader(s, dir).distanceFeature(Seq("query", "filter"), 10, meta,
        "conv_id", "ts", java.sql.Timestamp.valueOf("2024-01-01 00:04:00"),
        pivotSecs = 120.0, boost = 1.5))
    }),
    // rank_feature (saturation): BM25 should-clause plus
    // 2·dl/(dl + 40) from the doc-length feature — longer docs get a
    // bounded additive boost, reordering the lexical top-k
    "q_rank_feature" -> ((s, dir) => {
      val dlMeta = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      present(reader(s, dir).rankFeature(Seq("query", "filter"), 10, dlMeta,
        "conv_id", "dl", "saturation", pivot = 40.0, boost = 2.0))
    }),
    // doc-values filtered BM25 (the ES bool + range filter shape): exact
    // top-k over convs whose min-ts lies in a range, filter applied
    // ADMISSION-TIME inside the DAAT kernel (an include cursor, the mirror
    // of mustNot) — scoring stats stay global, pruning stays exact
    "q_bm25_filtered" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      val flt = meta.where(col("ts").between(
          lit("2024-01-01 00:02:05"), lit("2024-01-01 00:05:50")))
        .select("conv_id")
      present(reader(s, dir).bm25TopKFiltered(Seq("query", "filter", "join"), 10, flt))
    }),
    // minimum_should_match (the ES m-of-n bool query): documents matching at
    // least 2 of the 3 skew terms, BM25 over the matched terms — enforced
    // admission-time inside the DAAT kernel, which also gains a live<m
    // early-out plain WAND lacks. The skew terms make the constraint bite:
    // 2 convs match only one term and drop, 25 match all three
    "q_bm25_msm" -> ((s, dir) =>
      present(reader(s, dir).bm25TopK(Seq("window", "big", "dup"), 10,
        minShouldMatch = 2))),
    // min_score (the ES min_score clause): sub-floor docs drop and the
    // floor SEEDS the kernel's WAND threshold — block-max skips engage from
    // the first block instead of after k admissions, so a selective floor
    // is a pruning GAIN; the page may legitimately hold fewer than k rows
    "q_bm25_min_score" -> ((s, dir) =>
      present(reader(s, dir).bm25TopK(Seq("dup", "window", "big"), 50,
        minScore = 0.3))),
    // query-time per-term boosts (the ES term^boost syntax): boosts fold
    // into the premultiplied weights, so block-max bounds scale with their
    // term and WAND pruning stays exact — ranking shifts toward 'filter'
    // hits and away from 'join' hits vs the unboosted q_bm25_multi
    "q_bm25_boosted" -> ((s, dir) =>
      present(reader(s, dir).bm25TopK(Seq("query", "filter", "join"), 10,
        boosts = Map("filter" -> 2.0, "join" -> 0.5)))),
    // the full ES bool shape in ONE query: must (conjunctive terms) + filter
    // (doc-values include cursor) + must_not (exclusion cursor) — all three
    // admission-time inside one kernel pass, pruning exact throughout
    "q_bm25_bool_full" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      val flt = meta.where(col("ts").between(
          lit("2024-01-01 00:02:05"), lit("2024-01-01 00:05:50")))
        .select("conv_id")
      present(reader(s, dir).bm25TopKFiltered(Seq("query", "filter"), 10, flt,
        conjunctive = true, mustNot = Seq("dup")))
    }),
    // multi-term OR membership (the ES terms query / query-time synonym set):
    // one scan pruned to exactly the terms' bucket dirs; absent terms no-op;
    // the union (100 convs) strictly exceeds each member set (99) here
    "q_membership_synonyms" -> ((s, dir) =>
      reader(s, dir).membershipAny(Seq("window", "big", "qqq_absent_term_zzz"))
        .orderBy("conv_id")),
    // significant terms (the ES significant_terms aggregation): terms
    // over-represented in the 'dup' match set vs the whole corpus, JLH score
    // (fr−br)·(fr/br) — forward-log semi-join for fg df, block-stamped global
    // df for bg, selection on raw doubles, display rounded like BM25
    "q_significant_terms" -> ((s, dir) =>
      reader(s, dir).significantTerms("dup", 10)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("term").asc)),
    // sharded search (the ES dfs_query_then_fetch): the corpus split across
    // two independent index roots, every shard's DAAT kernel scoring under
    // the MERGED stats — must hash-match the SINGLE-corpus oracle exactly,
    // proving shard boundaries never change scores
    "q_sharded_bm25" -> ((s, dir) =>
      present(killa.query.ShardedSearch.bm25TopK(s, shardReaders(s, dir),
        Seq("query", "filter", "join"), 10))),
    // indices_boost (per-index boost on a multi-index search): the even-
    // ordinal shard boosted 2.0, the odd shard damped 0.5 — power-of-two
    // boosts so the post-merge scale is IEEE-exact on both engines; ranking
    // must interleave differently from q_sharded_bm25's unboosted merge
    "q_indices_boost" -> ((s, dir) => {
      val rs = shardReaders(s, dir)
      present(killa.query.ShardedSearch.bm25TopKIndicesBoost(s,
        Seq((rs(0), 2.0), (rs(1), 0.5)), Seq("query", "filter", "join"), 10))
    }),
    // rollover group (ES ILM rollover): the corpus ingested in three batches
    // under a 40-doc cap — two rolled roots, searched under merged stats;
    // must hash-match the SINGLE-corpus oracle (roll boundaries are invisible)
    "q_rollover_bm25" -> ((s, dir) =>
      present(killa.maintain.Rollover.bm25TopK(s, rolloverGroup(s, dir), conf,
        Seq("query", "filter", "join"), 10))),
    "q_rollover_membership" -> ((s, dir) =>
      killa.maintain.Rollover.membership(s, rolloverGroup(s, dir), conf, "spark")
        .orderBy("conv_id")),
    // index alias (the ES _aliases flip): the stable serving name was
    // atomically re-pointed from a partial build to the full root — reads
    // through the alias must see exactly the post-flip corpus
    "q_alias_membership" -> ((s, dir) =>
      aliasedReader(s, dir).membership("vector").orderBy("conv_id")),
    // sharded WRITE lifecycle (the ES _routing rule): router-hash build from
    // a partial corpus + one routed maintenance batch to the full corpus —
    // merged-stats search over the mutated shards must hash-match the
    // single-corpus oracle (mirrors q_incr_update_bm25 at shard scope)
    "q_sharded_incr" -> ((s, dir) =>
      present(killa.query.ShardedSearch.bm25TopK(s, shardIncrReaders(s, dir),
        Seq("window", "big", "dup"), 10, minShouldMatch = 2))),
    // query-string search (the ES simple_query_string): one typed string —
    // operators + | - ( ) " * ^boost — parsed and compiled onto the boolean
    // match-set algebra + filtered-BM25 kernel; this one exercises nested
    // grouping, an explicit AND, a boost, and a per-group negation
    "q_query_string" -> ((s, dir) =>
      present(killa.query.QueryString.topK(reader(s, dir),
        "query^2 +(filter | join) -dup", 10))),
    // query-string with a phrase clause: the quoted pair filters
    // positionally (and scores by its member terms), the negation excludes
    // per Lucene bool semantics — both clauses selective on this corpus
    "q_query_string_phrase" -> ((s, dir) => {
      val r = new killa.query.IndexReader(s, posRoot(s, dir), conf)
      present(killa.query.QueryString.topK(r,
        "\"batch agg\" -dup", 10))
    }),
    // FULL query_string dialect (the classic Lucene parser): keyword
    // operators, a field-scoped filter clause answered by the role
    // sub-index, a boosted group, a half-open term range, and NOT — the
    // range and scope are filter-context, query/filter^2 score
    "q_query_string_full" -> ((s, dir) =>
      present(killa.query.QueryStringFull.topK(reader(s, dir),
        "role:assistant AND (query OR filter^2) AND [so TO st} AND NOT dup",
        10, fields = (f, v) =>
          if (f == "role" && Set("user", "assistant")(v))
            Some(killa.build.FieldIndexes.reader(s, fieldRoot(s, dir), f, v, conf))
          else None))),
    // full dialect, multi-term filter leaves: OSA fuzzy ~1 and a ?-wildcard
    // constrain the match set, 'batch' alone carries the BM25 ranking
    "q_query_string_multi" -> ((s, dir) =>
      present(killa.query.QueryStringFull.topK(reader(s, dir),
        "quer~1 AND sc?n AND batch", 10))),
    // full dialect, pure filter (no scoring terms): constant-score 1.0,
    // conv asc — Lucene's ConstantScore(filter) with the default boost
    "q_query_string_const" -> ((s, dir) =>
      killa.query.QueryStringFull.topK(reader(s, dir),
        "role:user AND [so TO sp]", 10, fields = (f, v) =>
          if (f == "role" && Set("user", "assistant")(v))
            Some(killa.build.FieldIndexes.reader(s, fieldRoot(s, dir), f, v, conf))
          else None)),
    // phrase-filtered BM25 (the ES match_phrase-inside-bool shape): the
    // positional index answers the phrase, its conv set rides bm25TopKFiltered
    // as the include cursor — ranked top-k restricted to exact-phrase docs,
    // a pure composition of two independently-gated surfaces
    "q_bm25_phrase_filtered" -> ((s, dir) => {
      val r = new killa.query.IndexReader(s, posRoot(s, dir), conf)
      present(r.bm25TopKFiltered(Seq("query", "filter", "join"), 10,
        r.phrase(Seq("batch", "agg"))))
    }),
    // numeric range facet (the ES range aggregation): docs matching the term
    // bucketed by [from, to) intervals of their conv min-ts offset — index
    // for the match set, doc values for the number, ES bucket labeling
    "q_range_facet" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id")
        .agg((min(unix_timestamp(col("ts"))) -
          unix_timestamp(lit("2024-01-01 00:00:00"))).as("t0"))
      reader(s, dir).rangeFacet("spark", meta, "conv_id", "t0", Seq(125.0, 350.0))
        .orderBy("bucket")
    }),
    // scored export, conjunctive + boolean-NOT form: the export path's other
    // two branches under the oracle gate (they were spec-only in r4)
    "q_bm25_export_conj_not" -> ((s, dir) =>
      present(reader(s, dir).bm25ScoredAll(Seq("query", "filter"),
        conjunctive = true, mustNot = Seq("batch")))),
    // sort-by-doc-value search (the ES sort clause): most recent matching
    // convs — the index answers membership, the doc-values frame the order
    "q_search_sorted" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id")
        .agg((min(unix_timestamp(col("ts"))) -
          unix_timestamp(lit("2024-01-01 00:00:00"))).as("t0"))
      reader(s, dir).searchSorted("spark", meta, "conv_id", "t0",
        ascending = false, k = 10)
        .orderBy(col("sort_val").desc, col("conv_id").asc)
    }),
    // search_after on the sort clause: page 2 strictly after page 1's
    // (sort_val, conv) cursor — admission filter, so deep pages cost page 1
    "q_search_sorted_page2" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id")
        .agg((min(unix_timestamp(col("ts"))) -
          unix_timestamp(lit("2024-01-01 00:00:00"))).as("t0"))
      val r = reader(s, dir)
      val p1 = r.searchSorted("spark", meta, "conv_id", "t0",
          ascending = false, k = 10)
        .orderBy(col("sort_val").desc, col("conv_id").asc).collect()
      if (p1.isEmpty) r.searchSorted("spark", meta, "conv_id", "t0", false, 0)
      else {
        val last = p1.last
        r.searchSortedAfter("spark", meta, "conv_id", "t0", ascending = false,
            k = 10, last.getDouble(1), last.getString(0))
          .orderBy(col("sort_val").desc, col("conv_id").asc)
      }
    }),
    // field collapsing (the ES collapse clause): the single best-scoring
    // conv per doc-level group — full scored set, window top-1 per group
    "q_collapse" -> ((s, dir) => {
      val meta = transcripts(s, dir).select("conv_id").distinct()
        .withColumn("grp",
          expr("concat('g', CAST(CAST(substring(conv_id, 2) AS INT) % 7 AS STRING))"))
      reader(s, dir).collapseTop(Seq("query", "filter"), meta, "conv_id", "grp")
        .withColumn("score", round(col("score"), 4))
        .orderBy("grp")
    }),
    // synonym-group scoring (the ES synonym_graph shape): each group scores
    // as ONE virtual term — tf sums across members, df is the union set —
    // so the concept's idf, not its rarest spelling's, ranks the docs
    "q_bm25_synonyms" -> ((s, dir) =>
      present(reader(s, dir).bm25SynonymsTopK(
        Seq(Seq("query", "scan"), Seq("filter")), 10))),
    // delete-by-query (the ES _delete_by_query API): every conv matching
    // 'spark' leaves via the distributed match-set removal; the surviving
    // index must answer other terms over the spark-free corpus exactly
    "q_delete_by_query" -> ((s, dir) =>
      new killa.query.IndexReader(s, dbqRoot(s, dir), conf)
        .membership("query").orderBy("conv_id")),
    // dis_max (best-fields): the best sub-query score + tieBreaker × the
    // rest — one strong clause beats many weak ones
    "q_dis_max" -> ((s, dir) =>
      present(reader(s, dir).disMaxTopK(
        Seq(Seq("query", "filter"), Seq("spark", "batch")), 0.3, 10))),
    // seeded random_score: deterministic pseudo-random sample of the match
    // set — stable pages, reproducible on any engine (md5 rank key)
    "q_random_score" -> ((s, dir) =>
      reader(s, dir).randomScoreTopK("spark", "seed42", 10)
        .orderBy(col("rnd").asc, col("conv_id").asc)),
    // score explanation (the ES _explain API): per-term BM25 breakdown for
    // one (query, doc) pair — tf, dl, df, idf, contribution, matched
    // clauses only, every value identical to what the kernel folds
    "q_explain" -> ((s, dir) =>
      reader(s, dir).bm25Explain("c00007", Seq("query", "filter", "spark"))
        .withColumn("idf", round(col("idf"), 4))
        .withColumn("contrib", round(col("contrib"), 4))
        .orderBy("term")),
    // reindex (the ES _reindex API): live content rebuilt from the forward
    // log alone into a resharded layout (2× buckets, smaller ranges+blocks);
    // membership and scored queries must answer identically to the source
    "q_reindex_membership" -> ((s, dir) =>
      new killa.query.IndexReader(s, reindexRoot(s, dir), reindexConf)
        .membership("spark").orderBy("conv_id")),
    "q_reindex_bm25" -> ((s, dir) =>
      present(new killa.query.IndexReader(s, reindexRoot(s, dir), reindexConf)
        .bm25TopK(Seq("query", "filter", "join"), 10))),
    // update-by-query (the ES _update_by_query API): matching convs get a
    // token rewrite (spark → meteor) and re-index through the minimal-diff
    // path; the mutated index answers membership AND scored queries over
    // the rewritten corpus exactly
    "q_update_by_query" -> ((s, dir) =>
      new killa.query.IndexReader(s, ubqRoot(s, dir), conf)
        .membership("meteor").orderBy("conv_id")),
    "q_update_by_query_bm25" -> ((s, dir) =>
      present(new killa.query.IndexReader(s, ubqRoot(s, dir), conf)
        .bm25TopK(Seq("meteor", "filter"), 10))),
    // percolate (reverse search): a batch of documents probes a broadcast
    // table of registered queries — the ES alerting shape
    "q_percolate" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(
        ("alert_any_agg_scan", Seq("agg", "scan"), false),
        ("alert_batch", Seq("batch"), false),
        ("alert_missing", Seq("spark", "zzz_nonexistent"), true),
        ("alert_spark_query", Seq("spark", "query"), true)
      ).toDF("query_id", "terms", "conjunctive")
      killa.query.Percolate.percolate(transcripts(s, dir), qs)
        .orderBy("conv_id", "query_id")
    }),
    // metric aggregations over the match set (the ES stats / percentiles /
    // cardinality aggregations) — the index contributes the match set, the
    // doc-values frame the metric; percentiles are EXACT interpolated
    // (Spark percentile ≡ SQL percentile_cont), not ES's TDigest sketch
    "q_stats_agg" -> ((s, dir) =>
      reader(s, dir).statsAgg("spark", t0Meta(s, dir), "conv_id", "t0")
        .select(col("n"), col("min_v"), col("max_v"),
          round(col("sum_v"), 4).as("sum_v"), round(col("avg_v"), 4).as("avg_v"))),
    "q_percentiles_agg" -> ((s, dir) =>
      reader(s, dir).percentilesAgg("spark", t0Meta(s, dir), "conv_id", "t0",
          Seq(0.25, 0.5, 0.75, 0.95))
        .withColumn("value", round(col("value"), 4)).orderBy("pct")),
    "q_cardinality_agg" -> ((s, dir) =>
      reader(s, dir).cardinalityAgg("spark",
        transcripts(s, dir).select("conv_id", "tool"), "conv_id", "tool")),
    // percentile_ranks: % of match-set t0 values ≤ each probe (exact counts)
    "q_percentile_ranks" -> ((s, dir) =>
      reader(s, dir).percentileRanksAgg("spark", t0Meta(s, dir), "conv_id", "t0",
        Seq(120.0, 300.0, 600.0)).orderBy("value")),
    // extended_stats: stats + sum_sq + population variance/σ + ±2σ bounds
    "q_extended_stats" -> ((s, dir) =>
      reader(s, dir).extendedStatsAgg("spark", t0Meta(s, dir), "conv_id", "t0")
        .select(col("n"), col("min_v"), col("max_v"),
          round(col("sum_v"), 4).as("sum_v"), round(col("avg_v"), 4).as("avg_v"),
          round(col("sum_sq"), 4).as("sum_sq"),
          round(col("variance"), 4).as("variance"),
          round(col("std_dev"), 4).as("std_dev"),
          round(col("std_upper"), 4).as("std_upper"),
          round(col("std_lower"), 4).as("std_lower"))),
    // weighted_avg: Σ(t0·w)/Σ(w), deterministic per-conv weight
    "q_weighted_avg" -> ((s, dir) =>
      reader(s, dir).weightedAvgAgg("spark", t0wMeta(s, dir), "conv_id", "t0", "w")
        .select(round(col("w_avg"), 4).as("w_avg"))),
    // median_absolute_deviation: exact interpolated MAD of match-set t0
    "q_mad_agg" -> ((s, dir) =>
      reader(s, dir).madAgg("spark", t0Meta(s, dir), "conv_id", "t0")
        .select(round(col("mad"), 4).as("mad"))),
    // string_stats: length stats + char-distribution entropy of the
    // per-conv first-turn tool over the match set
    "q_string_stats" -> ((s, dir) =>
      reader(s, dir).stringStatsAgg("spark", toolMeta(s, dir), "conv_id", "sv")
        .select(col("n"), col("min_len"), col("max_len"),
          round(col("avg_len"), 4).as("avg_len"),
          round(col("entropy"), 4).as("entropy"))),
    // nested (same-turn) membership: parents with BOTH terms inside one
    // single turn — the ES nested bool/must (the conv index's conjunctive
    // membership would also accept terms spread across different turns)
    "q_nested_same_turn" -> ((s, dir) =>
      killa.build.NestedIndex.sameTurnMembership(nestedReader(s, dir),
        Seq("spark", "query")).orderBy("conv_id")),
    // nested top-k, score_mode=max: parents ranked by their best matching
    // turn's BM25 score under TURN-corpus statistics
    "q_nested_topk" -> ((s, dir) =>
      killa.build.NestedIndex.nestedTopK(nestedReader(s, dir),
        Seq("spark", "query"), 10, "max")
        .select(col("conv_id"), round(col("score"), 4).as("score"))),
    // nested top-k, score_mode=sum: parents rewarded for MANY matching turns
    "q_nested_topk_sum" -> ((s, dir) =>
      killa.build.NestedIndex.nestedTopK(nestedReader(s, dir),
        Seq("spark", "query"), 10, "sum")
        .select(col("conv_id"), round(col("score"), 4).as("score"))),
    // nested aggregation (the ES nested agg): of the TURNS containing both
    // terms, doc counts per turn-level role — counts children, which the
    // conv-level facets cannot express
    "q_nested_agg" -> ((s, dir) =>
      killa.build.NestedIndex.childTermsAgg(nestedReader(s, dir),
        Seq("spark", "query"),
        transcripts(s, dir).select("conv_id", "turn_idx", "role"), "role")),
    // generic terms aggregation over a doc value (facet by ANY meta column,
    // not just index-backed fields) — exact at any shard count
    "q_terms_agg" -> ((s, dir) =>
      reader(s, dir).termsAgg("spark",
        transcripts(s, dir).select("conv_id", "tool"), "conv_id", "tool", 5)),
    // fixed-interval numeric histogram over the match set
    "q_histogram_agg" -> ((s, dir) =>
      reader(s, dir).histogramAgg("spark", t0Meta(s, dir), "conv_id", "t0", 120.0)
        .orderBy("bucket")),
    // composite aggregation: (role, tool) buckets in key order, and the
    // after-key page that makes agg pagination constant-cost at any depth
    "q_composite_agg" -> ((s, dir) =>
      reader(s, dir).compositeAgg("spark", roleToolMeta(s, dir),
        "conv_id", "role", "tool", 5)),
    "q_composite_agg_page2" -> ((s, dir) =>
      reader(s, dir).compositeAgg("spark", roleToolMeta(s, dir),
        "conv_id", "role", "tool", 5, after = Some(("assistant", "src17")))),
    // function_score family: decay recency ranking and doc-value boosts
    // multiply into the FULL scored set (a multiplier ≤ 1 can demote any
    // windowed top, so exactness forbids pre-multiply top-k pruning)
    "q_function_score_gauss" -> ((s, dir) =>
      present(reader(s, dir).decayScoredTopK(Seq("query", "filter"), 10,
        t0Meta(s, dir), "conv_id", "t0", origin = 0.0, scale = 200.0))),
    "q_field_value_factor" -> ((s, dir) =>
      present(reader(s, dir).fieldValueFactorTopK(Seq("query", "filter"), 10,
        t0Meta(s, dir), "conv_id", "t0", factor = 0.01))),
    // boosting query: negative matches DEMOTE (score × negativeBoost), the
    // middle ground between plain disjunction and mustNot exclusion
    "q_boosting" -> ((s, dir) =>
      present(reader(s, dir).boostingTopK(Seq("query", "filter"),
        Seq("batch"), 0.5, 10))),
    // collapse with inner hits: top-2 per group with in-group ranks
    "q_collapse_topn" -> ((s, dir) => {
      val meta = transcripts(s, dir).select("conv_id").distinct()
        .withColumn("grp",
          expr("concat('g', CAST(CAST(substring(conv_id, 2) AS INT) % 7 AS STRING))"))
      reader(s, dir).collapseTopN(Seq("query", "filter"), meta, "conv_id", "grp", 2)
        .withColumn("score", round(col("score"), 4))
        .orderBy("grp", "rn")
    }),
    // top_hits under a terms bucket: the top-2 hits per role with in-bucket
    // ranks — partial per-partition top-n ahead of the per-value window
    "q_top_hits" -> ((s, dir) =>
      reader(s, dir).topHitsAgg(Seq("query", "filter"),
          transcripts(s, dir).select("conv_id", "role"), "conv_id", "role", 2)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("value").asc, col("rank").asc)),
    // sampler agg: what do the BEST 30 matches talk about — terms agg over
    // the exact relevance-top sample only
    "q_sampler_terms" -> ((s, dir) =>
      reader(s, dir).samplerTermsAgg(Seq("query", "filter"),
        transcripts(s, dir).select("conv_id", "tool"), "conv_id", "tool",
        sampleSize = 30, size = 5)),
    // diversified sampler: per-group (conv ordinal % 7) contribution capped
    // at 2 before the top-12 sample — the anti-bias sampling knob
    "q_diversified_terms" -> ((s, dir) => {
      val meta = transcripts(s, dir).select("conv_id", "tool")
        .withColumn("grp",
          expr("concat('g', CAST(CAST(substring(conv_id, 2) AS INT) % 7 AS STRING))"))
      reader(s, dir).diversifiedTermsAgg(Seq("query", "filter"), meta,
        "conv_id", "grp", "tool", maxDocsPerValue = 2, sampleSize = 12, size = 5)
    }),
    // auto_date_histogram: the engine picks the interval (smallest ladder
    // rung fitting 10 span buckets over the match set's time range)
    "q_auto_date_histogram" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).autoDateHistogram("spark", meta, "conv_id", "ts", 10)
        .orderBy("bucket")
    }),
    // matrix_stats: sample variance/covariance/correlation between t0 and
    // the deterministic per-conv weight over the match set, one moment fold
    "q_matrix_stats" -> ((s, dir) =>
      reader(s, dir).matrixStatsAgg("spark", t0wMeta(s, dir), "conv_id", "t0", "w")),
    // significant_text: JLH significance with the foreground sampled to the
    // BM25 top-10 hits (the ES sampler+significant_text shape)
    "q_significant_text" -> ((s, dir) =>
      reader(s, dir).significantText("dup", sampleSize = 10, n = 10)
        .withColumn("score", round(col("score"), 4))
        .orderBy(col("score").desc, col("term").asc)),
    // linear retriever (score-aware hybrid): min-max-normalized BM25 and
    // cosine windows fused as 1.0·lex + 2.0·vec — the margin-preserving
    // companion to q_rrf_hybrid's rank-only fusion
    "q_linear_hybrid" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val convVecs = e.where(col("vec_id") % 5 === 0)
      val q = e.where(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val vscores = killa.ann.Ann.bruteForceTopK(convVecs, "vec_id", "embedding",
          q, "q_id", "embedding", 20)
        .select(format_string("c%05d", expr("vec_id div 5")).as("conv_id"),
          col("cosine").as("score"))
      present(reader(s, dir).linearHybridTopK(Seq("query", "filter"), vscores,
        10, window = 20, wLex = 1.0, wOther = 2.0))
    }),
    // match_phrase_prefix: "batch s…" — exact first slot, prefix-expanded
    // last slot, ONE positional pass with the expansion as a slot set
    "q_phrase_prefix" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .phrasePrefix(Seq("batch"), "s").orderBy("conv_id")),
    // span_first: the term's first occurrence inside the doc's leading 50
    // positions ("mentioned in the opening")
    "q_span_first" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanFirst("spark", 50).orderBy("conv_id")),
    // span_near unordered: one occurrence of each term inside a covering
    // window of slop + n positions, in ANY order — catches "agg … batch"
    // reversals the ordered phrase(slop) must not
    "q_span_near" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanNear(Seq("agg", "batch"), slop = 3).orderBy("conv_id")),
    "q_span_near_tri" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanNear(Seq("scan", "part", "filter"), slop = 4).orderBy("conv_id")),
    // span_or inside span_near: slot 1 = agg|scan (sorted-union position
    // list), slot 2 = batch, any order within a slop-4 window — strictly
    // wider than q_span_near's agg+batch at the same slop
    "q_span_or" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanNearAny(Seq(Seq("agg", "scan"), Seq("batch")), slop = 4)
        .orderBy("conv_id")),
    // ordered intervals (max_gaps = 3): scan → part → filter IN ORDER with
    // total slack ≤ 3 — strictly narrower than q_span_near_tri's unordered
    // slop-4 window over the same terms
    "q_intervals_ordered" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .intervalsOrdered(Seq("scan", "part", "filter"), maxGaps = 3)
        .orderBy("conv_id")),
    // any_of intervals combinator: scan→filter OR agg→batch, each ordered
    // within a max_gaps-3 budget — disjunction of two ordered interval
    // sources, the ES intervals-query combinator shape
    "q_intervals_any_of" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .intervalsAnyOf(Seq(Seq("scan", "filter"), Seq("agg", "batch")),
          maxGaps = 3)
        .orderBy("conv_id")),
    // span_multi inside span_near: prefix 's' expands to its first 4
    // dictionary terms (scan, slow, small, sort — spark/stream fall past the
    // cap, so the cap is live) as ONE span_or slot, within slop 3 of 'batch'
    "q_span_multi" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanMultiNear("s", 4, Seq("batch"), slop = 3)
        .orderBy("conv_id")),
    // realtime term vectors of one conversation: tf + global df from the
    // index + the document-global occurrence positions
    "q_termvectors" -> ((s, dir) =>
      reader(s, dir).termVectors(transcripts(s, dir), "c00007")),
    // span_not: a dup occurrence NOT within ±1 of any big occurrence
    // ("dup, but not in the phrase 'big dup'") — excludes 4 of the 25
    // dup conversations at sf0.01, so the window genuinely bites
    "q_span_not" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanNot("dup", "big", 1, 1).orderBy("conv_id")),
    // match_bool_prefix: "query s…" — disjunctive term clause plus the
    // blended (synonym-group) prefix expansion
    "q_bool_prefix" -> ((s, dir) =>
      present(reader(s, dir).matchBoolPrefix(Seq("query"), "s", 50, 10))),
    // did-you-mean: per-slot missing-mode correction of a typed phrase
    "q_suggest_phrase" -> ((s, dir) =>
      reader(s, dir).suggestPhrase(Seq("spark", "filtr", "qury")).orderBy("slot")),
    // multi-term tagged highlighting: every matched token wrapped in
    // <em>…</em>, ≤ 2 matching turns (fragments) per conversation
    "q_highlight" -> ((s, dir) => {
      val r = reader(s, dir)
      killa.query.Snippets.highlight(transcripts(s, dir),
        r.membershipAny(Seq("spark", "batch")), Seq("spark", "batch"), 2)
        .orderBy("conv_id", "turn_idx")
    }),
    // fuzzy term search (Levenshtein ≤ 1 over the term dictionary)
    "q_membership_fuzzy" -> ((s, dir) =>
      reader(s, dir).membershipFuzzy("spark", 1).orderBy("conv_id")),
    // fuzzy with prefix_length (the ES fuzzy pruning knob): 'bag' within
    // edit 2 matches {a, agg, big}; requiring the literal 'b' head keeps
    // only 'big' — and turns the dictionary scan into a pushed prefix range
    "q_membership_fuzzy_prefix" -> ((s, dir) =>
      reader(s, dir).membershipFuzzy("bag", 2, prefixLength = 1).orderBy("conv_id")),
    // lexicographic term-range query (ES range on a keyword field):
    // any term in ['so', 'st') — sort/spark but not small/slow/stream/scan
    "q_term_range" -> ((s, dir) =>
      reader(s, dir).membershipTermRange("so", "st").orderBy("conv_id")),
    // analyzed index (lowercase + stop + S-stem chain): query-side analysis
    // maps 'Tables' into the analyzed term space; raw 'Tables' matches nothing
    "q_analyzed_membership" -> ((s, dir) =>
      new killa.query.IndexReader(s, analyzedRoot(s, dir), conf)
        .membership(killa.tokenize.Analyzer
          .analyzeTerm("Tables", analyzedChain).get)
        .orderBy("conv_id")),
    // BM25 over the analyzed index: its OWN statistics space (stopwords out
    // of dl/avgdl, stemmed tf merges) — 'the' analyzes away, 'Tables' stems
    "q_analyzed_bm25" -> ((s, dir) => {
      val terms = Seq("Tables", "the", "query")
        .flatMap(t => killa.tokenize.Analyzer.analyzeTerm(t, analyzedChain))
      present(new killa.query.IndexReader(s, analyzedRoot(s, dir), conf)
        .bm25TopK(terms, 10))
    }),
    // analyzed index under INCREMENTAL maintenance: built on 3/5 of
    // turns (analyzer applied), brought to the full corpus via one
    // ordinary Indexer.Update diff batch over analyzed text — stemmed tf
    // merges and stopword-free dl must update exactly; the full-corpus
    // analyzed oracles gate both surfaces
    "q_analyzed_incr" -> ((s, dir) =>
      new killa.query.IndexReader(s, analyzedIncrRoot(s, dir), conf)
        .membership(killa.tokenize.Analyzer
          .analyzeTerm("Tables", analyzedChain).get)
        .orderBy("conv_id")),
    "q_analyzed_incr_bm25" -> ((s, dir) => {
      val terms = Seq("Tables", "the", "query")
        .flatMap(t => killa.tokenize.Analyzer.analyzeTerm(t, analyzedChain))
      present(new killa.query.IndexReader(s, analyzedIncrRoot(s, dir), conf)
        .bm25TopK(terms, 10))
    }),
    // ES-DEFAULT fuzzy (transpositions: true — OSA, the Lucene automaton
    // distance): 'psark' reaches 'spark' in ONE edit where classic
    // Levenshtein needs 2, so this returns spark's convs while the
    // levenshtein form returns nothing. At maxDist 1 OSA ≡ full Damerau,
    // which is what lets DuckDB's damerau_levenshtein oracle it exactly.
    "q_membership_fuzzy_osa" -> ((s, dir) =>
      reader(s, dir).membershipFuzzy("psark", 1, transpositions = true)
        .orderBy("conv_id")),
    // span_containing: a query…filter ordered window (slop 5) that also
    // mentions 'join' inside it
    "q_span_containing" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanContaining("query", "filter", 5, "join").orderBy("conv_id")),
    // span_within: the little-side view — distinct 'part' occurrences
    // inside any scan…filter ordered window (slop 4), counted per conv
    "q_span_within" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .spanWithin("scan", "filter", 4, "part").orderBy("conv_id")),
    // filters agg: named per-term doc counts, served from block metadata
    "q_filters_agg" -> ((s, dir) =>
      reader(s, dir).filtersAgg(Seq("dups" -> "dup", "bigs" -> "big",
        "windows" -> "window")).orderBy("name")),
    // adjacency_matrix: single + pairwise intersection counts, ES '&' keys
    "q_adjacency_matrix" -> ((s, dir) =>
      reader(s, dir).adjacencyMatrix(Seq("d" -> "dup", "b" -> "big",
        "w" -> "window")).orderBy("key")),
    // rare_terms: the df long tail of the dictionary, rarest first
    "q_rare_terms" -> ((s, dir) =>
      reader(s, dir).rareTerms(99L, 10)),
    // pipeline aggs over the date histogram: cumulative_sum + derivative +
    // trailing 3-bucket moving average as sibling columns
    "q_date_histogram_pipeline" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).dateHistogramPipeline("spark", meta, "conv_id", "ts",
        "minute", movingWindow = 3).orderBy("bucket")
    }),
    // moving_percentiles pipeline agg: trailing-window exact interpolated
    // p50/p95 of the histogram hit counts (ES sketches; reduced list = exact)
    "q_moving_percentiles" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).movingPercentiles("spark", meta, "conv_id", "ts",
        "minute", window = 3).orderBy("bucket")
    }),
    // serial_diff pipeline agg: hits minus the hits `lag` buckets earlier
    // (seasonal differencing; lag 2 here so it provably isn't derivative)
    "q_serial_diff" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).serialDiff("spark", meta, "conv_id", "ts",
        "minute", lagN = 2).orderBy("bucket")
    }),
    // bucket_script pipeline agg: per-bucket ratio of two sibling hit counts
    // (share of 'spark' among 'spark'+'query' convs per minute)
    "q_bucket_script" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).bucketScript("spark", "query", meta, "conv_id", "ts",
        "minute").orderBy("bucket")
    }),
    // normalize pipeline agg: percent_of_sum over the minute histogram
    "q_normalize_agg" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).normalizeAgg("spark", meta, "conv_id", "ts",
        "minute", "percent_of_sum").orderBy("bucket")
    }),
    // cumulative_cardinality: distinct matching convs seen so far, per
    // TURN-level minute bucket — first-seen cumulative form (no distinct-set
    // state shuffles; a conv counts once, at its min bucket)
    "q_cumulative_cardinality" -> ((s, dir) =>
      reader(s, dir).cumulativeCardinality("spark", transcripts(s, dir),
        "conv_id", "ts", "minute").orderBy("bucket")),
    // rate agg: matching turns per minute bucket, reported per second
    "q_rate_agg" -> ((s, dir) =>
      reader(s, dir).rateAgg("spark", transcripts(s, dir), "conv_id", "ts",
        "minute", "second").orderBy("bucket")),
    // percentiles_bucket: exact quartiles of the minute histogram's hits
    "q_percentiles_bucket" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).percentilesBucket("spark", meta, "conv_id", "ts", "minute")
    }),
    // t_test (Welch): doc-length distributions of 'spark' vs 'query' convs —
    // overlapping docs contribute to both sides (ES filter semantics)
    "q_t_test" -> ((s, dir) => {
      val dlMeta = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      reader(s, dir).tTestAgg("spark", "query", dlMeta, "conv_id", "dl")
    }),
    // boxplot: exact five-number summary of the matching convs' doc lengths
    "q_boxplot" -> ((s, dir) => {
      val dlMeta = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      reader(s, dir).boxplotAgg("spark", dlMeta, "conv_id", "dl")
    }),
    // top_metrics: per first-turn tool value, the dl of the latest matching
    // conv under (min-ts desc, conv asc)
    "q_top_metrics" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val dlMeta = t
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      val meta = t.groupBy("conv_id")
        .agg(min_by(col("tool"), col("turn_idx")).as("sv"),
          min(col("ts")).as("ts0"))
        .join(dlMeta, "conv_id")
      reader(s, dir).topMetricsAgg("spark", meta, "conv_id", "sv", "ts0", "dl")
        .orderBy("value")
    }),
    // multi_terms: compound-key buckets ordered by doc count (the
    // count-ordered companion to q_composite_agg's key-ordered paging) —
    // 'dup' is the skew term, so counts are non-uniform and the ordering
    // clause actually bites
    "q_multi_terms" -> ((s, dir) =>
      reader(s, dir).multiTermsAgg("dup", roleToolMeta(s, dir),
        "conv_id", "role", "tool", 6)),
    // missing agg: matching convs whose doc value is null (value nulled
    // deterministically for conv ordinal % 3 = 0)
    "q_missing_agg" -> ((s, dir) => {
      val meta = transcripts(s, dir).select(col("conv_id")).distinct()
        .withColumn("v", when(
          expr("CAST(substr(conv_id, 2, 10) AS INT) % 3") === 0, lit(null))
          .otherwise(lit("x")))
      reader(s, dir).missingAgg("spark", meta, "conv_id", "v")
    }),
    // bucket_selector + bucket_sort: histogram buckets with >= 5 hits, top
    // 5 by hits desc (the trailing 4-hit bucket must drop, ties on bucket)
    "q_bucket_selector" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).dateHistogramSelect("spark", meta, "conv_id", "ts",
        "minute", minHits = 5L, topN = 5)
    }),
    // stats_bucket: scalar min/max/avg/sum over the sibling histogram's
    // per-bucket hit counts
    "q_stats_bucket" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).statsBucket("spark", meta, "conv_id", "ts", "minute")
    }),
    // terms agg ordered by a sub-metric (order: {avg_v: desc}): per
    // first-turn tool value of matching convs, doc count + avg doc length,
    // ranked by the average — the non-count terms order; exact here where
    // ES documents approximation under sharding
    "q_terms_by_metric" -> ((s, dir) => {
      val t = transcripts(s, dir)
      val dlMeta = t
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      val meta = t.groupBy("conv_id")
        .agg(min_by(col("tool"), col("turn_idx")).as("sv"))
        .join(dlMeta, "conv_id")
      reader(s, dir).termsAggByMetric("spark", meta, "conv_id", "sv", "dl", 5)
    }),
    // max_bucket sibling agg: the minute histogram's max hit count plus
    // the comma-joined keys attaining it (ES reports keys as a list —
    // ties are legal)
    "q_max_bucket" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).maxBucket("spark", meta, "conv_id", "ts", "minute")
    }),
    // value_count agg: non-null turn-level tool values carried by matching
    // convs (value nulled deterministically for doc ordinal % 3 = 0 —
    // values, not docs: a conv counts once per surviving turn value)
    "q_value_count" -> ((s, dir) => {
      val vals = transcripts(s, dir).withColumn("v",
        when(expr("(CAST(substring(conv_id, 2) AS INT) * 5 + turn_idx) % 3") === 0,
          lit(null)).otherwise(col("tool")))
        .select("conv_id", "v")
      reader(s, dir).valueCountAgg("spark", vals, "conv_id", "v")
    }),
    // date_range agg: matching convs bucketed by min-ts interval — ES
    // from-inclusive / to-exclusive with "*" open ends, the date cousin
    // of q_range_facet
    "q_date_range_agg" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).dateRangeAgg("spark", meta, "conv_id", "ts",
        Seq(java.sql.Timestamp.valueOf("2024-01-01 00:02:00"),
          java.sql.Timestamp.valueOf("2024-01-01 00:07:00")))
        .orderBy("bucket")
    }),
    // global agg: matching-conv count + avg doc length next to the
    // corpus-global pair — aggregation OUTSIDE the query scope
    "q_global_agg" -> ((s, dir) => {
      val dlMeta = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      reader(s, dir).globalAgg("spark", dlMeta, "conv_id", "dl")
    }),
    // bucket_correlation pipeline agg: Pearson correlation between the
    // 'dup' (skew term, 25 convs) and 'the' (every conv) minute histograms
    // over the UNION bucket set (a bucket absent from one series counts 0)
    // — non-identical series, so the statistic genuinely bites (0.45)
    "q_bucket_correlation" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).bucketCorrelation("dup", "the", meta, "conv_id",
        "ts", "minute")
    }),
    // change_point (step-change family): the minute bucket best splitting
    // the match series into two mean regimes — argmax |mean(L) − mean(R)|
    "q_change_point" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).changePointAgg("spark", meta, "conv_id", "ts", "minute")
    }),
    // categorize_text: digit-masked first-3-token templates of the matching
    // convs' turns, top 8 buckets by turn count
    "q_categorize_text" -> ((s, dir) =>
      reader(s, dir).categorizeTextAgg("spark", transcripts(s, dir),
        "conv_id", "text", nTokens = 3, size = 8)),
    // random_sampler: deterministic 64/256 content-hash sample of the match
    // set, count + dl-sum estimates scaled by the inverse probability
    "q_random_sampler" -> ((s, dir) => {
      val dlMeta = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      reader(s, dir).randomSamplerAgg("the", dlMeta, "conv_id", "dl",
        numerator = 64, seed = "rs1")
    }),
    // variable_width_histogram: four equal-depth buckets of the matching
    // convs' doc lengths (SQL-standard NTILE split, distributed prefix rank)
    "q_var_width_hist" -> ((s, dir) => {
      val dlMeta = transcripts(s, dir)
        .select(col("conv_id"), explode(Tokenize.termsCol(col("text"))).as("term"))
        .groupBy("conv_id").agg(count(lit(1)).as("dl"))
      reader(s, dir).variableWidthHistogramAgg("spark", dlMeta, "conv_id",
        "dl", buckets = 4)
    }),
    // ids query / _mget: found flags + stored dl from the post-delete
    // time-travel root's LIVE dictionary — c00010 was deleted (found=false
    // while its rows still sit in the lake), zzz-missing never existed
    "q_ids_mget" -> ((s, dir) => {
      val (root, _) = ttRootVersion(s, dir)
      new killa.query.IndexReader(s, root, conf)
        .idsQuery(Seq("c00003", "c00007", "c00010", "zzz-missing"))
    }),
    // has_child with min_children = 2: conversations where >= 2 separate
    // turns contain the term, counted on the child (turn) index
    "q_has_child_min" -> ((s, dir) =>
      killa.build.NestedIndex.hasChild(nestedReader(s, dir), Seq("spark"),
        minChildren = 2).orderBy("conv_id")),
    // has_parent: every turn of each conversation matching BOTH terms at
    // the conversation level (parent query on the main index, children
    // enumerated from the child index's alive dictionary)
    "q_has_parent" -> ((s, dir) =>
      killa.build.NestedIndex.hasParent(reader(s, dir), nestedReader(s, dir),
        Seq("spark", "query")).orderBy("conv_id", "turn_idx")),
    // exists-filter BM25 (the ES bool { must: term, filter: exists }):
    // doc-values v nulled for conv ordinal % 3 = 0, admission-time filter
    // keeps only convs where the field exists — stats stay global
    "q_bm25_exists" -> ((s, dir) => {
      val flt = transcripts(s, dir).select(col("conv_id")).distinct()
        .where(expr("CAST(substr(conv_id, 2, 10) AS INT) % 3") =!= 0)
      present(reader(s, dir).bm25TopKFiltered(Seq("query", "filter", "join"),
        10, flt))
    }),
    // point-in-time + search_after (the ES PIT/scroll contract): page 2 of
    // the PINNED pre-delete snapshot stays exact while the live root has
    // already dropped every ordinal-%10 conversation
    "q_pit_page2" -> ((s, dir) => {
      val (root, v0) = ttRootVersion(s, dir)
      val r = new killa.query.IndexReader(s, root, conf, pinVersion = Some(v0))
      val terms = Seq("query", "filter", "join")
      val p1 = r.bm25TopKRows(terms, 10)
      if (p1.isEmpty) present(r.bm25TopK(terms, 0))
      else present(r.bm25TopKAfter(terms, 10, p1.last._1, p1.last._2))
    }),
    // terms_set: per-doc minimum_should_match carried by a doc-values column
    // (min_req = conv ordinal mod 4 — 0 exercises the never-matches edge)
    "q_terms_set" -> ((s, dir) => {
      val meta = transcripts(s, dir).select(col("conv_id")).distinct()
        .withColumn("min_req", expr("CAST(substr(conv_id, 2, 10) AS INT) % 4"))
      reader(s, dir).termsSet(Seq("dup", "big", "window"), meta, "conv_id", "min_req")
        .orderBy("conv_id")
    }),
    // regex term search (ES regexp query): anchored literal head pushes
    // down as a prefix range, full pattern residual over the dictionary
    "q_membership_regex" -> ((s, dir) =>
      reader(s, dir).membershipRegex("^s[a-z]+k$").orderBy("conv_id")),
    // suffix search (terms ending "up" — only the skew term 'dup' at this
    // corpus): a pruned PREFIX range scan over the reversed-term sub-index,
    // the Lucene/ES reverse-token-filter technique
    "q_suffix_search" -> ((s, dir) =>
      killa.build.ReverseIndex.membershipSuffix(s, reverseIdxRoot(s, dir),
        conf, "up").orderBy("conv_id")),
    // leading-wildcard mask (*do? — only 'window' here): reversed mask
    // gains a literal prefix on the reversed tree and prunes
    "q_leading_wildcard" -> ((s, dir) =>
      killa.build.ReverseIndex.membershipWildcardReversed(s,
        reverseIdxRoot(s, dir), conf, "*do?").orderBy("conv_id")),
    // infix wildcard (*mer* — 'merge' and 'customer' here): trigram
    // dictionary sub-index prunes candidates (the ES wildcard-field
    // technique), residual regex verifies, main buckets answer postings —
    // the mask shape neither prefix nor suffix trees can prune
    "q_membership_infix" -> ((s, dir) =>
      killa.build.GramIndex.membershipInfix(s, gramIdxRoot(s, dir), conf,
        "*mer*").orderBy("conv_id")),
    // incremental maintenance of the gram tree: main index built on 3/5 of
    // turns, one delta batch grows the dictionary, refresh() diffs it into
    // the gram index — infix results must match the full-corpus oracle
    "q_infix_incr" -> ((s, dir) =>
      killa.build.GramIndex.membershipInfix(s, gramIncrRoot(s, dir), conf,
        "*mer*").orderBy("conv_id")),
    // incremental maintenance of the reversed tree: built on 3/5 of turns,
    // one delta batch brings it to the full corpus — suffix results must
    // match the full-corpus oracle
    "q_suffix_incr" -> ((s, dir) =>
      killa.build.ReverseIndex.membershipSuffix(s, reverseIncrRoot(s, dir),
        conf, "up").orderBy("conv_id")),
    // keyword-in-context snippets for the term's hit set: index finds the
    // conversations, the source table renders ±3 tokens of context around
    // the first occurrence
    "q_snippets" -> ((s, dir) => {
      val r = reader(s, dir)
      killa.query.Snippets.forTerm(transcripts(s, dir), r.membership("spark"), "spark", 3)
        .orderBy("conv_id")
    }),
    // op 8 Indexer.Update end-to-end: index built on 3/5 of the turns, then
    // one incremental diff batch brings it to the full corpus — df readback
    // and BM25 must match full-corpus oracles exactly
    "q_incr_update_df" -> ((s, dir) => {
      new killa.query.IndexReader(s, incrUpdateRoot(s, dir), conf).allBlocks
        .groupBy("term").agg(max(col("df")).as("df")).orderBy("term")
    }),
    "q_incr_update_bm25" -> ((s, dir) =>
      present(new killa.query.IndexReader(s, incrUpdateRoot(s, dir), conf)
        .bm25TopK(Seq("query", "scan"), 10))),
    // op 6 Indexer.Remove end-to-end: every 10th conversation deleted
    "q_incr_delete_membership" -> ((s, dir) =>
      new killa.query.IndexReader(s, incrDeleteRoot(s, dir), conf)
        .membership("spark").orderBy("conv_id")),
    // op 9 Indexer.Switch end-to-end: conversation renamed
    "q_incr_rename_membership" -> ((s, dir) =>
      new killa.query.IndexReader(s, incrRenameRoot(s, dir), conf)
        .membership("spark").orderBy("conv_id")),
    // op 7 Indexer.Remove(doc, terms) end-to-end: a term subset removed from
    // one conversation — df readback over the whole index must shift exactly
    "q_remove_terms" -> ((s, dir) => {
      new killa.query.IndexReader(s, removeTermsRoot(s, dir), conf).allBlocks
        .groupBy("term").agg(max(col("df")).as("df")).orderBy("term")
    }),
    // phrase queries over the positional index (extension beyond the
    // reference — consecutive-position intersection, see
    // IndexWriter.buildPositions / IndexReader.phrase)
    "q_phrase_pair" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .phrase(Seq("batch", "agg")).orderBy("conv_id")),
    // multi-word synonym filter (synonym_graph): docs with 'dup' OR
    // the exact phrase "batch agg" — the alternative token-level synonym
    // sets cannot express; singles ride the pruned IN-scan, phrases the
    // positional index
    "q_synonym_phrases" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .membershipSynonymPhrases(Seq(Seq("dup"), Seq("batch", "agg")))
        .orderBy("conv_id")),
    "q_phrase_tri" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .phrase(Seq("part", "filter", "scan")).orderBy("conv_id")),
    // positions maintained incrementally: positional index built on 3/5 of
    // the turns, one maintenance batch brings it to the full corpus — phrase
    // results must equal the full-corpus oracle (no positional rebuild)
    "q_incr_phrase" -> ((s, dir) =>
      new killa.query.IndexReader(s, incrPhraseRoot(s, dir), conf)
        .phrase(Seq("batch", "agg")).orderBy("conv_id")),
    // log compaction + positional reclamation end-to-end (VERDICT r3 missing
    // #1 + #2): multi-batch delete churn under a tight auto-compaction
    // threshold (the crossing batch folds the docs/forward logs AND vacuums
    // dead position rows), then an explicit compact for the tail — queries
    // must match the final-corpus oracle exactly
    "q_compact_membership" -> ((s, dir) =>
      new killa.query.IndexReader(s, compactRoot(s, dir), conf)
        .membership("spark").orderBy("conv_id")),
    "q_compact_phrase" -> ((s, dir) =>
      new killa.query.IndexReader(s, compactRoot(s, dir), conf)
        .phrase(Seq("batch", "agg")).orderBy("conv_id")),
    // field-scoped search (killa.build.FieldIndexes): membership restricted
    // to what the ASSISTANT said — a per-role sub-index with its own corpus
    "q_field_membership" -> ((s, dir) =>
      killa.build.FieldIndexes.reader(s, fieldRoot(s, dir), "role", "assistant", conf)
        .membership("spark").orderBy("conv_id")),
    // field-scoped BM25: ranking over the assistant-turn corpus, with the
    // restricted corpus's own N/avgdl statistics (what field ranking means)
    "q_field_bm25" -> ((s, dir) =>
      present(killa.build.FieldIndexes.reader(s, fieldRoot(s, dir), "role", "assistant", conf)
        .bm25TopK(Seq("query", "filter"), 10))),
    // field sub-indexes maintained INCREMENTALLY (VERDICT r4 missing #1):
    // per-role indexes built on 3/5 of the turns, one maintenance batch
    // routed through FieldIndexes.applyChanges brings them to the full
    // corpus — membership AND ranking (own corpus stats) must match the
    // full-corpus assistant oracles with no per-field rebuild
    "q_field_membership_incr" -> ((s, dir) =>
      killa.build.FieldIndexes.reader(s, fieldIncrRoot(s, dir), "role", "assistant", conf)
        .membership("spark").orderBy("conv_id")),
    "q_field_bm25_incr" -> ((s, dir) =>
      present(killa.build.FieldIndexes.reader(s, fieldIncrRoot(s, dir), "role", "assistant", conf)
        .bm25TopK(Seq("query", "filter"), 10))),
    // facet: per-role document counts for a term via each sub-index's
    // block-metadata count fast path (no posting decode, no label join)
    "q_facet_roles" -> ((s, dir) =>
      killa.build.FieldIndexes.facetCounts(s, fieldRoot(s, dir), "role",
        Seq("user", "assistant"), "spark", conf).orderBy("role")),
    // snapshot time travel: a reader pinned to the pre-delete manifest
    // version answers from the OLD corpus while the latest sees the deletes
    // (Iceberg snapshot-read semantics over the manifest log)
    "q_time_travel_membership" -> ((s, dir) => {
      val (root, v0) = ttRootVersion(s, dir)
      new killa.query.IndexReader(s, root, conf, pinVersion = Some(v0))
        .membership("spark").orderBy("conv_id")
    }),
    // ordered proximity (phrase slop): terms in order, each gap ≤ 1 + slop
    "q_phrase_slop" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .phrase(Seq("batch", "agg"), slop = 2).orderBy("conv_id")),
    "q_phrase_slop_tri" -> ((s, dir) =>
      new killa.query.IndexReader(s, posRoot(s, dir), conf)
        .phrase(Seq("part", "filter", "scan"), slop = 1).orderBy("conv_id")),
    // cursor pagination (Lucene searchAfter analog): page 2 = exact top-k
    // strictly after page 1's last (exact score, conv) cursor, admission
    // inside the DAAT kernel — constant cost per page at any depth
    "q_bm25_page2" -> ((s, dir) => {
      val r = reader(s, dir)
      val terms = Seq("query", "filter", "join")
      val p1 = r.bm25TopKRows(terms, 10)
      if (p1.isEmpty) present(r.bm25TopK(terms, 0))
      else present(r.bm25TopKAfter(terms, 10, p1.last._1, p1.last._2))
    }),
    // more-like-this: deterministic characteristic-term selection from the
    // FORWARD index (tf desc, df asc, term asc; df·2 ≤ N stopword guard),
    // then BM25 over those terms excluding the source doc
    // maxDfPct = 100 on the driver corpus: its synthetic vocabulary is tiny
    // (median df = N), so the default half-corpus stopword guard would empty
    // the selection — with the guard open, selection still ranks by
    // (tf desc, df asc, term asc), deterministically on both sides
    "q_more_like_this" -> ((s, dir) =>
      present(reader(s, dir).moreLikeThis("c00007", maxTerms = 5, k = 10, maxDfPct = 100))),
    // pseudo-relevance feedback (Rocchio two-pass expansion): top-5 'dup'
    // page feeds 2 expansion terms (Σtf desc, df asc, term asc — integer-
    // keyed like MLT), re-queried at beta 0.5; guard open like MLT on this
    // tiny-vocabulary corpus
    "q_prf_expand" -> ((s, dir) =>
      present(reader(s, dir).prfTopK(Seq("dup"), 10, fbDocs = 5,
        fbTerms = 2, beta = 0.5, maxDfPct = 100))),
    // spell-suggest (the ES term suggester): dictionary terms within edit
    // distance 1 of the typo, ranked df desc then term asc — a (term, df)
    // dictionary-column scan; posting payloads never decode
    "q_suggest" -> ((s, dir) =>
      reader(s, dir).suggest("sow", maxDist = 1, n = 5)),
    // prefix-boosted variant (the ES term-suggester heuristic: typos rarely
    // hit the first character, so same-initial candidates outrank higher-df
    // ones that differ there)
    "q_suggest_prefix" -> ((s, dir) =>
      reader(s, dir).suggest("sow", maxDist = 1, n = 5, boostPrefixLen = 1)),
    // dictionary enumeration (the ES _terms_enum API): first n index terms
    // under a prefix, term-ordered, with document frequencies — a pruned
    // (term, df) dictionary-column scan, payloads never decode
    "q_terms_enum" -> ((s, dir) =>
      reader(s, dir).termsEnum("s", n = 8)),
    // window rescore (the ES rescore / function-score pattern): exact BM25
    // top-window, each hit multiplied by a rational recency decay
    // halfLife/(halfLife+age) from the doc-values table, re-ranked, top-k.
    // Rational (not exp) decay: IEEE pins +,/ rounding but not exp's, so
    // both engines compute bit-identical factors
    "q_rescore_recency" -> ((s, dir) => {
      val t = transcripts(s, dir)
        .select(col("conv_id"), unix_timestamp(col("ts")).as("sec"))
      val anchor = t.agg(max("sec")).collect()(0).getLong(0)
      val hl = 120.0
      val factors = t.groupBy("conv_id").agg(min(col("sec")).as("t0"))
        .select(col("conv_id"),
          (lit(hl) / (lit(hl) + (lit(anchor) - col("t0")))).as("factor"))
      present(reader(s, dir).rescoreTopK(Seq("query", "filter", "join"), 10, 30, factors))
    }),
    // full scored export (scored scroll): EVERY matching doc with its exact
    // BM25 score as a distributed frame — no top-k heap, no driver collect
    "q_bm25_export" -> ((s, dir) =>
      present(reader(s, dir).bm25ScoredAll(Seq("filter")))),
    // multi-search: two independent top-k queries in one call, slot-tagged
    "q_msearch" -> ((s, dir) =>
      present(reader(s, dir).msearch(
        Seq("a" -> Seq("query", "filter"), "b" -> Seq("batch", "agg")), 10))),
    // rank_eval: precision@10 / recall@10 / MRR of two queries against a
    // fixed judgments table — the offline search-quality gate
    "q_rank_eval" -> ((s, dir) => {
      import s.implicits._
      val judgments = Seq(
        ("qa", "c00020"), ("qa", "c00077"), ("qa", "c00042"),
        ("qb", "c00050"), ("qb", "c00001")).toDF("query_id", "conv_id")
      reader(s, dir).rankEval(
        Seq("qa" -> Seq("query", "filter"), "qb" -> Seq("batch", "agg")),
        judgments, "query_id", "conv_id", 10).orderBy("query_id")
    }),
    // graded rank_eval: nDCG@10 with graded judgments (the dcg metric,
    // normalize: true) — unjudged hits gain 0, ideal from the judgment
    // list itself, incl. a judged conv that never ranks
    "q_rank_eval_ndcg" -> ((s, dir) => {
      import s.implicits._
      val judgments = Seq(
        ("qa", "c00020", 3.0), ("qa", "c00077", 1.0), ("qa", "c00042", 2.0),
        ("qb", "c00050", 2.0), ("qb", "c00001", 1.0), ("qb", "c00003", 3.0))
        .toDF("query_id", "conv_id", "grade")
      reader(s, dir).rankEvalNdcg(
        Seq("qa" -> Seq("query", "filter"), "qb" -> Seq("batch", "agg")),
        judgments, "query_id", "conv_id", "grade", 10).orderBy("query_id")
    }),
    // LTR feature extraction: per top-5 hit the reranker-training feature
    // vector (bm25, matched-term count, Σtf, Σidf, dl) in one widened fold
    "q_ltr_features" -> ((s, dir) =>
      reader(s, dir).ltrFeatures(
        Seq("qa" -> Seq("query", "filter"), "qb" -> Seq("batch", "agg")), 5)
        .orderBy("query_id", "rank")),
    // sliced scored export (sliced scroll): slice 1 of 3 by md5(conv_id) —
    // a deterministic disjoint subset of q_bm25_export's rows, so the
    // export can drain through 3 parallel consumers with no overlap
    "q_bm25_sliced" -> ((s, dir) =>
      present(reader(s, dir).slicedExport(Seq("filter"), sliceId = 1,
        maxSlices = 3))),
    // sparse_vector / text_expansion query: weighted-term dot product
    // against the documents' tf features — no corpus statistics by design
    // (the expansion weights already carry importance)
    "q_sparse_vector" -> ((s, dir) =>
      present(reader(s, dir).sparseVector(
        Map("spark" -> 2.0, "query" -> 1.0, "join" -> 0.5), 10))),
    // terms lookup: the term set comes from conv c00042's own text at query
    // time, then runs as multi-term OR membership
    "q_terms_lookup" -> ((s, dir) =>
      reader(s, dir).termsLookup(transcripts(s, dir), "conv_id", "text",
        "c00042").orderBy("conv_id")),
    // multi-field boosted BM25 (the ES multi_match): per-role sub-indexes
    // score with their OWN corpus stats, full scored sets union under the
    // boosts, per-conv sum, global top-k
    "q_bm25_multifield" -> ((s, dir) =>
      present(killa.build.FieldIndexes.multiFieldBm25(s, fieldRoot(s, dir), "role",
        Map("user" -> 1.0, "assistant" -> 2.0), Seq("query", "filter"), 10, conf))),
    // cross_fields multi_match (term-centric): each term keeps its BEST
    // per-role contribution (per-term dis_max), doc score = sum over terms
    "q_cross_fields" -> ((s, dir) =>
      present(killa.build.FieldIndexes.crossFieldsBm25(s, fieldRoot(s, dir), "role",
        Seq("user", "assistant"), Seq("query", "filter"), 10, conf))),
    // combined_fields multi_match (BM25F): weight-blended tf and doc length
    // score as ONE virtual field under union statistics — the blended tf
    // saturates once through the shared k1 curve
    "q_combined_fields" -> ((s, dir) =>
      present(killa.build.FieldIndexes.combinedFieldsBm25(s, fieldRoot(s, dir), "role",
        Map("user" -> 1.0, "assistant" -> 2.0), Seq("query", "filter"), 10, conf))),
    // date-histogram facet: docs matching the term bucketed by conv min-ts
    // truncated to the minute — index for the match set, doc values (the
    // source table) for the timestamp, one map-side-combinable groupBy
    "q_date_histogram" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).dateHistogram("spark", meta, "conv_id", "ts", "minute")
        .orderBy("bucket")
    }),
    // gap-filled histogram (min_doc_count 0 + extended_bounds): the full
    // [lo, hi] minute ladder emits — zero-hit buckets included, the
    // gap-free sequence the pipeline aggs need
    "q_date_histogram_filled" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).dateHistogramFilled("spark", meta, "conv_id", "ts", "minute",
        java.sql.Timestamp.valueOf("2023-12-31 23:58:00"),
        java.sql.Timestamp.valueOf("2024-01-01 00:12:00"))
        .orderBy("bucket")
    }),
    // term facet: top-N terms by document frequency, read from the committed
    // posting blocks (df is stored in every block — no posting decode)
    "q_top_terms" -> ((s, dir) => {
      reader(s, dir).allBlocks
        .groupBy("term").agg(max(col("df")).as("df"))
        .orderBy(col("df").desc, col("term").asc).limit(20)
    }),
    // corpus stats from the committed manifest
    "q_corpus_stats" -> ((s, dir) => {
      import s.implicits._
      val m = reader(s, dir).manifest.get
      val avgdl4 = BigDecimal(m.avgdl).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((m.numDocs, m.totalTokens, avgdl4))
        .toDF("n_docs", "total_tokens", "avgdl")
    }),

    // ---- training-data pipeline ops over documents/embeddings/events ----
    "q_token_counts" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        killa.text.TextOps.wsTokenCount(col("text")).as("ws_tokens"),
        killa.text.TextOps.bpeishTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")),
    "q_text_quality" -> ((s, dir) =>
      killa.text.TextOps.qualityFeatures(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // language-ID heuristic: marker-lexicon hit counts + priority argmax,
    // recomputed independently by the DuckDB oracle
    "q_lang_id" -> ((s, dir) =>
      killa.text.TextOps.langId(documents(s, dir), "doc_id", "text").orderBy("doc_id")),
    "q_fingerprint" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        killa.text.TextOps.fingerprintMd5(col("text")).as("text_md5"))
        .orderBy("doc_id")),
    "q_dedup_exact" -> ((s, dir) =>
      killa.dedup.Dedup.exactGroups(documents(s, dir), "doc_id", "text")
        .orderBy("text_md5")),
    // frequent co-occurring term pairs (the ES frequent_item_sets agg at
    // size 2, exact): Apriori-pruned two-pass fold, no all-pairs self-join
    "q_frequent_pairs" -> ((s, dir) => {
      val toks = documents(s, dir).select(col("doc_id"),
        explode(Tokenize.termsCol(col("text"))).as("term"))
      killa.mine.Itemsets.frequentItemPairs(toks, "doc_id", "term",
        minSupport = 300L, k = 20)
    }),
    // dedup as a pipeline step: corpus minus non-representative exact dups
    "q_dedup_keep" -> ((s, dir) =>
      killa.dedup.Dedup.dropExactDuplicates(documents(s, dir), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),
    // deterministic content-hash sampling (reproducible train/val split):
    // keep docs whose normalized-content md5 first byte < 0x34 (52/256 ≈ 20%)
    "q_sample_hash" -> ((s, dir) =>
      killa.dedup.Dedup.hashSample(documents(s, dir), "text", 52)
        .select("doc_id").orderBy("doc_id")),
    // stratified sampling (training-mixture reweighting): src0 at 192/256,
    // src1 at 32/256, every other source at 96/256 — same hash key as
    // q_sample_hash so strata stay consistent subsets
    "q_sample_stratified" -> ((s, dir) =>
      killa.dedup.Dedup.stratifiedHashSample(documents(s, dir), "text", "source",
        Map("src0" -> 192, "src1" -> 32), 96)
        .select("doc_id").orderBy("doc_id")),
    // temperature mixture resampling (T = 2): per-source keep rate
    // min(1, 0.5·sqrt(c_max/c_s)) derived from the data — the largest
    // source keeps half, smaller sources proportionally more; thresholds
    // are IEEE-exact so the SQL oracle recomputes them bit-identically
    "q_temperature_sample" -> ((s, dir) =>
      killa.dedup.Dedup.temperatureSample(documents(s, dir), "text", "source",
        rho = 0.5)
        .select("doc_id").orderBy("doc_id")),
    // target-mixture resampling (domain weights): keep rates derived from
    // per-source TOKEN counts so the kept corpus approaches the target token
    // shares; sources outside the target map drop entirely
    "q_mix_sample" -> ((s, dir) =>
      killa.dedup.Dedup.mixtureSample(documents(s, dir), "text", "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .select("doc_id").orderBy("doc_id")),
    // winnowing fingerprints (the MOSS local fingerprinting scheme): 3-gram
    // hashes, window 4, per-window min — any shared 6-token run between two
    // docs shares a fingerprint, at ~2/(w+1) of the shingle storage
    "q_winnow_fingerprints" -> ((s, dir) =>
      killa.dedup.Dedup.winnowFingerprints(documents(s, dir), "doc_id",
        "text", k = 3, w = 4)),
    // DSIR data selection (importance resampling toward a target corpus):
    // 256 md5-bucket unigram models, target = the corpus's assistant side,
    // top-40 convs by importance weight — "find me more data that looks
    // like my target set" as one verified operator
    "q_dsir_select" -> ((s, dir) => {
      val t = transcripts(s, dir)
      killa.dedup.Dedup.dsirTopN(t.select(col("conv_id"), col("text")),
        "conv_id", "text",
        t.where(col("role") === "assistant").select(col("text")), "text", 40)
    }),
    // Gopher-style repetition filters: overlapping-bigram slots, top-bigram
    // fraction, duplicate-bigram fraction per document
    "q_repetition" -> ((s, dir) =>
      killa.text.TextOps.repetitionFeatures(documents(s, dir), "doc_id", "text", 2)
        .orderBy("doc_id")),
    // corpus-unigram LM typicality score (CCNet-style selection proxy)
    "q_unigram_logprob" -> ((s, dir) =>
      killa.text.TextOps.unigramLogProb(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // corpus-bigram LM score: mean ln p̂(w2|w1) over each conv's bigram
    // occurrences, bigrams never crossing a turn boundary
    "q_bigram_logprob" -> ((s, dir) =>
      killa.text.TextOps.bigramLogProb(transcripts(s, dir)
        .select(col("conv_id"), col("text")), "conv_id", "text")
        .orderBy("conv_id")),
    // PMI collocations at TURN granularity (the unit with real
    // co-occurrence variance on this corpus): top-15 same-turn pairs, df
    // window [20, 450] — the df ceiling is also the scale bound on the
    // per-document pair expansion
    "q_pmi_pairs" -> ((s, dir) =>
      killa.text.TextOps.pmiPairs(transcripts(s, dir)
        .select(concat(col("conv_id"), lit("#"), col("turn_idx")).as("tid"),
          col("text")), "tid", "text",
        minDf = 20L, maxDf = 450L, minPair = 5L, k = 15)),
    // composite quality gate: token bounds + stopword ceiling + Gopher
    // repetition ceilings — every component bites on this corpus (86/12/
    // 11/3 sole-reason failures, 404 of 500 survive at sf0.01)
    "q_quality_gate" -> ((s, dir) =>
      killa.text.TextOps.qualityGate(documents(s, dir), "doc_id", "text",
        minTokens = 20L, maxTokens = 90L, maxStopwordRatio = 0.15,
        maxTopBigramFrac = 0.1, maxDupBigramFrac = 0.2)
        .orderBy("doc_id")),
    // canonical text normalization: lowercase, non-alnum runs → one space
    "q_normalize_text" -> ((s, dir) =>
      documents(s, dir).select(col("doc_id"),
        killa.text.TextOps.normalizeCol(col("text")).as("norm"))
        .orderBy("doc_id")),
    // PII redaction over deterministically-augmented text (the raw corpus
    // carries no PII, so both engines append one email per doc and a phone
    // for every third doc — the redaction itself is what's hash-checked)
    "q_redact_pii" -> ((s, dir) => {
      val aug = documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com"),
          when(col("doc_id") % 3 === 0, lit(" call (555) 123-4567"))
            .otherwise(lit(""))).as("text"))
      killa.text.TextOps.redactPii(aug, "doc_id", "text").orderBy("doc_id")
    }),
    // token-window chunking: 40-token windows every 32 tokens (overlapping)
    "q_chunk_tokens" -> ((s, dir) =>
      killa.text.TextOps.chunkTokens(documents(s, dir), "doc_id", "text", 40, 32)
        .orderBy("doc_id", "chunk_idx")),
    // fill-in-the-middle (PSM): md5-seeded cut points c1 ≤ c2, document
    // re-serialized as <fim_prefix> P <fim_suffix> S <fim_middle> M —
    // the code-model infilling transform, zero-shuffle like span_corrupt
    "q_fim_transform" -> ((s, dir) =>
      killa.text.TextOps.fimTransform(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // T5-style span corruption: md5-seeded 12.5% token mask, consecutive
    // picks merged into sentinel spans, target carries the spans plus the
    // closing sentinel — the denoising-objective data generator
    "q_span_corrupt" -> ((s, dir) =>
      killa.text.TextOps.spanCorrupt(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // duplicated-passage report: 16-token chunks (stride 8) recurring in ≥ 2
    // distinct docs — the boilerplate doc-level dedup can't see
    "q_dedup_chunks" -> ((s, dir) =>
      killa.dedup.Dedup.duplicateChunks(documents(s, dir), "doc_id", "text", 16, 8)
        .orderBy("chunk_hash")),
    // distributed BPE vocab induction, first-round candidates: adjacent
    // character-pair counts weighted by word frequency, deterministic top-20
    "q_bpe_pairs" -> ((s, dir) =>
      killa.text.Bpe.topPairs(documents(s, dir), "text", 20)),
    // distributed BPE trainer: 12 learned merges — multi-char symbols
    // participate from step 6 ('m'+'er') on this corpus, so the oracle
    // genuinely exercises the iterative merge loop, not just pair counting;
    // each round is one combinable pair-count over the WORD table (never the
    // corpus), a bounded 1-row argmax, and a narrow higher-order-fold merge
    "q_bpe_merges" -> ((s, dir) =>
      killa.text.Bpe.train(documents(s, dir), "text", 12).orderBy("step")),
    // BPE ENCODE at corpus scope: per-conv subword counts under the 12
    // learned merges — segmentation touches only the distinct-word vocab
    // (never the corpus), one word-keyed join fans piece counts back out;
    // the oracle replays the same merges and re-counts independently
    // tokenizer fertility under the learned merges: pieces/word and
    // chars/piece over the corpus — the standard tokenizer-eval report,
    // computed from the vocab-sized table (corpus touched once)
    "q_bpe_fertility" -> ((s, dir) =>
      killa.text.Bpe.fertility(documents(s, dir), "text", bpeMerges12(s, dir))),
    "q_bpe_encode" -> ((s, dir) =>
      killa.text.Bpe.encodeTokenCounts(
        transcripts(s, dir).select(col("conv_id"), col("text")),
        "conv_id", "text", bpeMerges12(s, dir))
        .orderBy("conv_id")),
    // sequence packing (concat-and-chunk, 512-token budget): distributed
    // two-pass prefix sum — NOT a single-reducer global window — assigns
    // each doc the training sequence its first token lands in
    "q_pack_sequences" -> ((s, dir) =>
      killa.text.Packing.packSequences(documents(s, dir), "doc_id", "text", 512L)
        .orderBy("doc_id")),
    // SFT loss-mask packing: conversations pack in conv order, each
    // reporting total vs TRAINABLE (assistant-turn) tokens — the per-conv
    // loss-mask accounting a packed fine-tuning writer budgets by
    "q_pack_transcripts" -> ((s, dir) =>
      killa.text.Packing.packTranscripts(transcripts(s, dir), "conv_id",
        "role", "text", 1024L).orderBy("conv_id")),
    // transcript well-formedness: dense turn indexes, strict role
    // alternation, no empty turns — the corpus-quality gate
    "q_validate_transcripts" -> ((s, dir) =>
      killa.text.TextOps.validateTranscripts(transcripts(s, dir), "conv_id",
        "turn_idx", "role", "text").orderBy("conv_id")),
    // role→role adjacent-turn transition counts (agent-behavior Markov
    // matrix): one bounded per-conv lag window + one combinable fold
    "q_turn_transitions" -> ((s, dir) =>
      killa.text.TextOps.turnTransitions(transcripts(s, dir), "conv_id",
        "turn_idx", "role")),
    "q_dedup_ngram_jaccard" -> ((s, dir) =>
      killa.dedup.Dedup.ngramJaccardPairs(documents(s, dir), "doc_id", "text", 3, 0.8)
        .orderBy("a_id", "b_id")),
    // benchmark decontamination: every 7th doc plays the heldout benchmark,
    // the rest the training corpus — corpus docs sharing ≥ half their
    // 3-gram shingles with the benchmark's shingle union are flagged
    "q_decontaminate" -> ((s, dir) => {
      val docs = documents(s, dir)
      killa.dedup.Dedup.contaminationReport(
        docs.where(col("doc_id") % 7 =!= 0), docs.where(col("doc_id") % 7 === 0),
        "doc_id", "text", 3, 0.5)
        .orderBy("doc_id")
    }),
    "q_dedup_minhash" -> ((s, dir) =>
      killa.dedup.Dedup.minhashLshPairs(documents(s, dir), "doc_id", "text", 3, 64, 16, 0.8)
        .orderBy("a_id", "b_id")),
    // query-time MinHash near-dup search: the first 50 docs play queries
    // against the whole corpus — broadcast banded candidates + exact-Jaccard
    // verify; each query matches itself at 1.0 and its planted near-dups
    // above the 0.8 threshold
    "q_neardup_search" -> ((s, dir) => {
      val docs = documents(s, dir)
      killa.dedup.Dedup.neardupSearch(docs, "doc_id", "text",
        docs.where(col("doc_id") < 50).select(col("doc_id").as("q_id"), col("text")),
        "q_id", "text", 3, 64, 16, 0.8).orderBy("q_id", "doc_id")
    }),
    // per-doc duplicated-span coverage (the Gopher/Dolma duplicate-fraction
    // quality gate): share of each doc's full 16-token windows (stride 8)
    // that recur in another doc
    "q_dup_span_coverage" -> ((s, dir) =>
      killa.dedup.Dedup.dupChunkCoverage(documents(s, dir), "doc_id", "text", 16, 8)
        .orderBy("doc_id")),
    // simhash hamming pairs: the DuckDB oracle recomputes the exact same
    // tf-weighted FNV-1a64 simhash family (recursive byte-fold CTE) and takes
    // ALL pairs with hamming ≤ 3 — segment blocking is complete by pigeonhole,
    // so the blocked Spark result must equal the all-pairs oracle exactly
    "q_dedup_simhash" -> ((s, dir) =>
      killa.dedup.Dedup.simhashPairs(documents(s, dir), "doc_id", "text", 3)
        .orderBy("a_id", "b_id")),
    "q_ann_cosine_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      killa.ann.Ann.bruteForceTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // conversation-level embedding pooling (turn/chunk vectors → one
    // unit-norm mean vector per conv, exploded (grp, i, v) presentation):
    // the pipeline step that feeds corpus-level ANN/dedup
    "q_embed_pool" -> ((s, dir) =>
      killa.ann.Pooling.meanPoolNormalized(embeddings(s, dir),
        floor(col("vec_id") / 5).cast("long"), col("embedding"))),
    // kNN similarity floor (the ES knn `similarity` param): top-5 first,
    // then neighbors under cosine 0.3 drop — on this fixture query 0 keeps
    // 4, query 1 all 5, query 2 exactly 1, so the floor is live in both
    // directions and ranks keep their pre-filter values
    "q_ann_threshold" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      killa.ann.Ann.thresholdTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
          minCosine = 0.3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // two-sample KS over bucket-count distributions: are 'spark' and
    // 'query' minute-histogram hit counts drawn from the same distribution
    "q_ks_test" -> ((s, dir) => {
      val meta = transcripts(s, dir).groupBy("conv_id").agg(min(col("ts")).as("ts"))
      reader(s, dir).ksTestAgg("spark", "query", meta, "conv_id", "ts", "minute")
    }),
    // int8 embedding quantization: exact integer codes (scale = max|x|/127,
    // round-half-up) — the 4x storage path for vector corpora; codes are
    // deterministic IEEE arithmetic so the oracle reproduces them bit-exactly
    "q_embed_int8" -> ((s, dir) =>
      killa.ann.Quant.int8Codes(
        embeddings(s, dir).where(col("vec_id") < 5), "vec_id", "embedding")
        .orderBy("vec_id", "i")),
    // binary (1-bit) quantization: packed sign-bit lane codes (the ES `bit`
    // dense_vector element type) — 32 dims per BIGINT lane
    "q_embed_binary" -> ((s, dir) =>
      killa.ann.Quant.binaryCodes(
        embeddings(s, dir).where(col("vec_id") < 5), "vec_id", "embedding")
        .orderBy("vec_id", "lane")),
    // Hamming kNN over the binary codes: distance = popcount(xor), exact
    // top-10 per query, ties vec_id asc, self-matches excluded
    "q_ann_hamming" -> ((s, dir) => {
      val e = embeddings(s, dir)
      killa.ann.Quant.hammingTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        "q_id", "qv", 10).orderBy("q_id", "rank")
    }),
    // int8 coarse + float rescore kNN (the ES 8.x rescore_vector pattern):
    // integer-dot admission of k×3 survivors over the 4x-smaller codes,
    // exact float cosine re-rank of only those survivors
    "q_ann_int8_rescore" -> ((s, dir) => {
      val e = embeddings(s, dir)
      killa.ann.Quant.int8RescoreTopK(e, "vec_id", "embedding",
        e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", 5, 3).orderBy("q_id", "rank")
    }),
    // LM Dirichlet similarity (the ES/Lucene similarity module alternative
    // to BM25): Dirichlet-smoothed query likelihood, mu = 2000
    "q_lmd_topk" -> ((s, dir) =>
      reader(s, dir).lmDirichletTopK(Seq("spark", "query"), 10)),
    // LM Jelinek-Mercer similarity: linear interpolation, lambda = 0.1
    "q_lmjm_topk" -> ((s, dir) =>
      reader(s, dir).lmJelinekMercerTopK(Seq("spark", "query"), 10, lambda = 0.1)),
    // reverse_nested agg: of the parents with a same-turn match, doc counts
    // per first-turn tool value (parent-level values over a child query)
    "q_reverse_nested" -> ((s, dir) => {
      val keyv = transcripts(s, dir).groupBy("conv_id")
        .agg(min_by(col("tool"), col("turn_idx")).as("tool0"))
      killa.build.NestedIndex.reverseNestedAgg(nestedReader(s, dir),
        Seq("spark", "query"), keyv, "conv_id", "tool0")
    }),
    // late-interaction MaxSim (ColBERT / ES rank_vectors): docs are 5-vector
    // sets (vec_id div 5), the query is a 3-token vector set; score =
    // Σ over query tokens of the best cosine inside each doc
    "q_maxsim_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val docs = e.select(floor(col("vec_id") / 5).cast("long").as("doc_id"),
        col("embedding"))
      val q = e.where(col("vec_id") < 3)
        .select(lit(0L).as("q_id"), col("vec_id").as("q_tok"),
          col("embedding").as("qv"))
      killa.ann.Ann.maxSimTopK(docs, "doc_id", "embedding", q,
          "q_id", "q_tok", "qv", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // soft dedup: inverse-multiplicity example weights — a doc repeated m
    // times carries weight 1/m so the group contributes one doc in aggregate
    "q_dedup_weights" -> ((s, dir) =>
      killa.dedup.Dedup.duplicationWeights(documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // hard-negative mining (contrastive training data): per anchor, top-5
    // corpus vectors in the semi-hard cosine band [0.15, 0.30) — informative
    // negatives above the easy floor, near-dups excluded by the ceiling;
    // both bounds live on this fixture (max cosine 0.37)
    "q_hard_negatives" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      killa.ann.Ann.hardNegatives(e, "vec_id", "embedding", q, "q_id", "embedding",
          5, lo = 0.15, hi = 0.30)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // LSH-bucketed ANN: at the registered banding (64 planes × 16 bands)
    // recall vs brute force is exactly 1.0 on the driver fixture (asserted as
    // row-set EQUALITY in PipelineOpsSpec), so it shares the exact-cosine
    // oracle — same pattern as q_dedup_minhash
    "q_ann_lsh_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      killa.ann.Ann.lshTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
          nPlanes = 64, bands = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // IVF ANN registered at full probe breadth (nProbe = nCells) so the
    // exact-cosine oracle verifies the whole machinery (seed → assign →
    // probe → cell scan → re-rank); the sub-linear nProbe < nCells operating
    // point and its recall/cost curve are pinned in PipelineOpsSpec — the
    // fixture's uniform-random embeddings are IVF's worst case (recall ~
    // nProbe/nCells there, unlike clustered production data)
    "q_ann_ivf_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      killa.ann.Ann.ivfTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
          nCells = 16, nProbe = 16)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // IVF with the broadcast-centroid (reference-object) assignment — the
    // production-cell-count path (VERDICT r3 missing #3): nCells = 128 is
    // past the literal-inlining threshold, so both assignment and probe
    // scoring run through the native CellArgmax/CellCosines expressions;
    // registered at full probe so the exact-cosine oracle verifies the whole
    // machinery (result-identity with the literal form is spec-pinned)
    "q_ann_ivf_bcast" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      killa.ann.Ann.ivfTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
          nCells = 128, nProbe = 128)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // product-quantization ANN (FAISS IndexPQ shape): train→encode→ADC scan→
    // exact re-rank, registered at nCandidates ≥ corpus so the exact-cosine
    // oracle gates the whole machinery (the IVF nProbe=nCells pattern); the
    // 32×-compressed sub-linear operating point is spec-measured for recall
    "q_ann_pq_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      killa.ann.Ann.pqTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
          nSub = 8, nCentroids = 16, nCandidates = 1000, refineIters = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    // RRF hybrid search (the ES rrf retriever): lexical BM25 top-20 fused
    // with the conv-level cosine top-20 (conv vector = first doc's
    // embedding, query = vec 0) by score = Σ 1/(60 + rank)
    "q_rrf_hybrid" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val convVecs = e.where(col("vec_id") % 5 === 0)
      val q = e.where(col("vec_id") === 0)
        .select(col("vec_id").as("q_id"), col("embedding"))
      val vr = killa.ann.Ann.bruteForceTopK(convVecs, "vec_id", "embedding",
          q, "q_id", "embedding", 20)
        .select(format_string("c%05d", expr("vec_id div 5")).as("conv_id"),
          col("rank"))
      present(reader(s, dir).rrfTopK(Seq("query", "filter"), vr, 10, window = 20))
    }),
    // metadata-filtered kNN (the ES knn `filter` clause): PRE-filter
    // semantics — the top-5 is over allowed vectors only (vec_id % 3 <> 0),
    // so every page is full whenever 5 allowed vectors exist
    "q_ann_filtered" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
      val allowed = e.where(col("vec_id") % 3 =!= 0).select("vec_id")
      killa.ann.Ann.filteredTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
          allowed, "vec_id")
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("q_id", "rank")
    }),
    "q_embed_neardup" -> ((s, dir) =>
      killa.ann.Ann.nearDupPairs(embeddings(s, dir), "vec_id", "embedding", 0.45)
        .orderBy("a_id", "b_id")),
    // SemDeDup (semantic keep-one dedup over embeddings): sign-bit cells,
    // intra-cell cosine >= 0.4, drop any vector with a lower-id near-dup
    // cell-mate — the kept ids are the training corpus after semantic dedup
    "q_semdedup" -> ((s, dir) =>
      killa.ann.Ann.semDedupKeep(embeddings(s, dir), "vec_id", "embedding",
        cellBits = 4, tau = 0.4)),
    // near-dup CLUSTERS: 3-gram Jaccard pairs at 0.8 → connected components
    // (min-label propagation) — every doc labeled with its cluster's min id,
    // singletons label themselves; the oracle recomputes the closure with a
    // recursive CTE
    "q_dedup_cluster" -> ((s, dir) => {
      val docs = documents(s, dir)
      val pairs = killa.dedup.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      killa.dedup.Dedup.connectedComponents(docs.select("doc_id"), "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster")).orderBy("doc_id")
    }),
    "q_stream_window" -> ((s, dir) =>
      killa.streaming.StreamOps.windowedEventCounts(s, s"$dir/events.parquet",
        s"graft_stream_${math.abs(dir.hashCode)}")
        .withColumn("window_start", col("window_start").cast("timestamp"))
        .orderBy("window_start", "event_type")),
    // streaming exact-dedup diagnosis: per-digest (cnt, min-id) groups folded
    // through the streaming engine — digest-identical to q_dedup_exact, so
    // the same oracle gates both engines' dedup
    "q_stream_dedup" -> ((s, dir) =>
      killa.streaming.StreamOps.streamExactGroups(s, s"$dir/documents.parquet",
        s"graft_sdedup_${math.abs(dir.hashCode)}").orderBy("text_md5")),
    // gap-based per-user sessionization through the streaming engine's
    // session_window state machine; oracle recomputes sessions relationally
    // (gaps-and-islands over lag())
    "q_stream_sessions" -> ((s, dir) =>
      killa.streaming.StreamOps.sessionizedUserStats(s, s"$dir/events.parquet",
        gap = "10 minutes", s"graft_sessions_${math.abs(dir.hashCode)}")
        .withColumn("session_start", col("session_start").cast("timestamp"))
        .orderBy("user_id", "session_start")),
    // PRODUCTION form of sessionization under the driver gate: append-mode
    // session_window + watermark streamed to parquet, read back. The engine
    // emits exactly the sessions the final watermark closed — i.e. those
    // with (last event + gap) < (max ts − watermark delay) — which the
    // oracle recomputes relationally (probe-verified < vs ≤ at sf0.01)
    // streaming percolate: the same registered-query table probed by the
    // transcripts arriving as a stream (AvailableNow over a staged dir, one
    // file = full conversation content per the ingest contract) — alerts
    // must equal the batch percolate over the same corpus exactly
    "q_stream_percolate" -> ((s, dir) => {
      import s.implicits._
      val tag = math.abs(dir.hashCode)
      val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
      val src = s"$tmp/killa-perc-src-$tag"
      val out = s"$tmp/killa-perc-out-$tag"
      val ckpt = s"$tmp/killa-perc-ckpt-$tag"
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      Seq(src, out, ckpt).foreach { p =>
        val f = new java.io.File(p); if (f.exists()) rm(f)
      }
      // stage the corpus as ONE arriving file (full conv content per file)
      transcripts(s, dir).coalesce(1).write.parquet(src)
      val qs = Seq(
        ("alert_any_agg_scan", Seq("agg", "scan"), false),
        ("alert_batch", Seq("batch"), false),
        ("alert_missing", Seq("spark", "zzz_nonexistent"), true),
        ("alert_spark_query", Seq("spark", "query"), true)
      ).toDF("query_id", "terms", "conjunctive")
      killa.streaming.StreamOps.percolateTranscripts(s, src, qs, out, ckpt)
      s.read.parquet(out).select("conv_id", "query_id")
        .orderBy("conv_id", "query_id")
    }),
    "q_stream_sessions_append" -> ((s, dir) => {
      // scratch lives under java.io.tmpdir, NOT the repo tree: a registered
      // query must not mutate the checkout (read-only checkouts, parallel
      // Verify runs — VERDICT r4 wrong #5)
      val tag = math.abs(dir.hashCode)
      val tmp = System.getProperty("java.io.tmpdir").stripSuffix("/")
      val out = s"$tmp/killa-sessappend-$tag"
      val ckpt = s"$tmp/killa-sessappend-ckpt-$tag"
      def rm(x: java.io.File): Unit = {
        if (x.isDirectory) x.listFiles().foreach(rm)
        x.delete(); ()
      }
      Seq(out, ckpt).foreach { p =>
        val f = new java.io.File(p); if (f.exists()) rm(f)
      }
      killa.streaming.StreamOps.sessionizedToPath(s, s"$dir/events.parquet", out, ckpt)
      s.read.parquet(out)
        .select(col("user_id"),
          col("session_start").cast("timestamp").as("session_start"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "session_start")
    })
  )

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  // the 12 learned BPE merges per sfDir, collected once per JVM — bounded
  // (12 rows, the trainer's contract) and shared by the encode-side query
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(String, String)]]
  private def bpeMerges12(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeCache.getOrElseUpdate(dir,
      killa.text.Bpe.train(documents(s, dir), "text", 12)
        .orderBy("step").collect().toSeq
        .map(r => (r.getString(1), r.getString(2))))

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Shared DuckDB CTEs over the documents table (tokens + shingles). */
  private val DocToksCte =
    "WITH w AS (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)"
  private val ShinglesCte =
    ", sh0 AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)]) AS s FROM w WHERE len(toks) >= 3)" +
      ", sh AS (SELECT DISTINCT doc_id, s FROM sh0)" +
      ", sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1)"
  private val JaccardSql =
    ", inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)" +
      " SELECT a_id, b_id, round(CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i), 4) AS jaccard" +
      " FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id" +
      " WHERE round(CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i), 4) >= 0.8 ORDER BY a_id, b_id"
  /** Token-position CTE over the transcripts: global position = rank under
    * the stable (turn_idx, within-turn ordinal) order — the DuckDB mirror of
    * IndexWriter.buildPositions.
    */
  /** Percolate oracle: the registered-query VALUES table joined against the
    * distinct (conv, term) pairs; a conjunctive query is satisfied when its
    * distinct-term hit count reaches the query's term count.
    */
  private val PercolateOracleSql: String = TurnsCte + TfCtes +
    ", dterms AS (SELECT DISTINCT conv_id, term FROM tok2)" +
    ", pq(query_id, term, nt, conj) AS (VALUES" +
    " ('alert_any_agg_scan', 'agg', 2, false), ('alert_any_agg_scan', 'scan', 2, false)," +
    " ('alert_batch', 'batch', 1, false)," +
    " ('alert_missing', 'spark', 2, true), ('alert_missing', 'zzz_nonexistent', 2, true)," +
    " ('alert_spark_query', 'spark', 2, true), ('alert_spark_query', 'query', 2, true))" +
    ", pj AS (SELECT d.conv_id, pq.query_id, count(*) AS nhit, min(pq.nt) AS nt, bool_and(pq.conj) AS conj" +
    " FROM dterms d JOIN pq ON d.term = pq.term GROUP BY 1, 2)" +
    " SELECT conv_id, query_id FROM pj WHERE (NOT conj) OR nhit = nt" +
    " ORDER BY conv_id, query_id"

  private val PposCte =
    ", ptoks AS (SELECT conv_id, turn_idx, unnest(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), (x, i) -> struct_pack(term := x, ord := i))) AS t FROM turns)" +
      ", ppos AS (SELECT conv_id, t.term AS term, row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, t.ord) - 1 AS pos FROM ptoks)"

  /** Chained-CTE DuckDB mirror of [[killa.text.Bpe.train]]: words encode as
    * '|'-delimited symbol strings with DOUBLED inner separators ('|a||b|'),
    * so string `replace` of '|l||r|' → '|lr|' is exactly the left-to-right
    * non-overlapping BPE merge ("aaa" + a·a → "aa","a" — the scan resumes
    * after the consumed trailing '|', which the doubled separator keeps
    * intact for the NEXT pair). No corpus token contains '|' (asserted by
    * the tokenizer contract: whitespace split of the fixture's ascii text).
    */
  private def bpeMergesOracleSql(n: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH w AS MATERIALIZED (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)"
    sb ++= ", wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(toks) AS word FROM w) GROUP BY 1)"
    sb ++= ", s0 AS MATERIALIZED (SELECT cnt, '|' || array_to_string([word[i] for i in range(1, len(word) + 1)], '||') || '|' AS rep FROM wc)"
    (1 to n).foreach { k =>
      val p = k - 1
      sb ++= s", sy$k AS MATERIALIZED (SELECT cnt, list_filter(string_split(rep, '|'), x -> x <> '') AS syms FROM s$p)"
      sb ++= s", pr$k AS MATERIALIZED (SELECT cnt, unnest([struct_pack(lhs := syms[i], rhs := syms[i+1]) for i in range(1, len(syms))]) AS p FROM sy$k WHERE len(syms) >= 2)"
      sb ++= s", b$k AS MATERIALIZED (SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(cnt) AS BIGINT) AS freq FROM pr$k GROUP BY 1, 2 ORDER BY freq DESC, lhs ASC, rhs ASC LIMIT 1)"
      sb ++= s", s$k AS MATERIALIZED (SELECT cnt, replace(rep, '|' || (SELECT lhs FROM b$k) || '||' || (SELECT rhs FROM b$k) || '|', '|' || (SELECT lhs FROM b$k) || (SELECT rhs FROM b$k) || '|') AS rep FROM s$p)"
    }
    sb ++= " " + (1 to n).map(k =>
      s"SELECT $k AS step, lhs, rhs, lhs || rhs AS merged, freq FROM b$k")
      .mkString(" UNION ALL ")
    sb ++= " ORDER BY step"
    sb.toString
  }

  /** ENCODE-side BPE oracle: the same merge-replay chain as
    * [[bpeMergesOracleSql]] but carrying the WORD through every round, so
    * the final round's reps become a word→piece-count vocab; per-conv
    * subword totals then re-count independently from the raw documents.
    */
  private def bpeChainCtes(n: Int): String = {
    val sb = new StringBuilder
    sb ++= "WITH w AS MATERIALIZED (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)"
    sb ++= ", wc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(toks) AS word FROM w) GROUP BY 1)"
    sb ++= ", s0 AS MATERIALIZED (SELECT word, cnt, '|' || array_to_string([word[i] for i in range(1, len(word) + 1)], '||') || '|' AS rep FROM wc)"
    (1 to n).foreach { k =>
      val p = k - 1
      sb ++= s", sy$k AS MATERIALIZED (SELECT cnt, list_filter(string_split(rep, '|'), x -> x <> '') AS syms FROM s$p)"
      sb ++= s", pr$k AS MATERIALIZED (SELECT cnt, unnest([struct_pack(lhs := syms[i], rhs := syms[i+1]) for i in range(1, len(syms))]) AS p FROM sy$k WHERE len(syms) >= 2)"
      sb ++= s", b$k AS MATERIALIZED (SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(cnt) AS BIGINT) AS freq FROM pr$k GROUP BY 1, 2 ORDER BY freq DESC, lhs ASC, rhs ASC LIMIT 1)"
      sb ++= s", s$k AS MATERIALIZED (SELECT word, cnt, replace(rep, '|' || (SELECT lhs FROM b$k) || '||' || (SELECT rhs FROM b$k) || '|', '|' || (SELECT lhs FROM b$k) || (SELECT rhs FROM b$k) || '|') AS rep FROM s$p)"
    }
    sb.toString
  }

  private def bpeEncodeOracleSql(n: Int): String =
    bpeChainCtes(n) +
      s", vocab AS (SELECT word, CAST(len(list_filter(string_split(rep, '|'), x -> x <> '')) AS BIGINT) AS np FROM s$n)" +
      ", ct AS (SELECT printf('c%05d', doc_id // 5) AS conv_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents)" +
      " SELECT conv_id, CAST(sum(np) AS BIGINT) AS bpe_tokens FROM ct JOIN vocab USING (word) GROUP BY 1 ORDER BY conv_id"

  private def bpeFertilityOracleSql(n: Int): String =
    bpeChainCtes(n) +
      s", f AS (SELECT word, cnt, CAST(len(list_filter(string_split(rep, '|'), x -> x <> '')) AS BIGINT) AS np FROM s$n)" +
      " SELECT CAST(sum(cnt) AS BIGINT) AS n_words," +
      " CAST(sum(cnt * np) AS BIGINT) AS n_pieces," +
      " CAST(sum(cnt * length(word)) AS BIGINT) AS n_chars," +
      " round(sum(cnt * np) / CAST(sum(cnt) AS DOUBLE), 4) AS fertility," +
      " round(sum(cnt * length(word)) / CAST(sum(cnt * np) AS DOUBLE), 4) AS chars_per_token FROM f"

  private val EmbCte =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"
  private def cosSql(a: String, b: String) =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_tokenize_tf" -> (TurnsCte + TfCtes +
      " SELECT conv_id, term, tf FROM tf ORDER BY conv_id, term"),
    "q_doc_stats" -> (TurnsCte + TfCtes +
      " SELECT conv_id, CAST(sum(tf) AS BIGINT) AS dl, count(*) AS n_terms" +
      " FROM tf GROUP BY conv_id ORDER BY conv_id"),
    "q_df" -> (TurnsCte + TfCtes +
      " SELECT term, count(*) AS df FROM tf GROUP BY term ORDER BY term"),
    "q_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark' ORDER BY conv_id"),
    "q_membership_miss" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'qqq_absent_term_zzz' ORDER BY conv_id"),
    "q_membership_prefix" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term LIKE 'spar%' ORDER BY conv_id"),
    "q_membership_wildcard" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term LIKE 'sp_rk' ORDER BY conv_id"),
    "q_membership_count" -> (TurnsCte + TfCtes +
      " SELECT count(DISTINCT conv_id) AS n_docs FROM tok2 WHERE term = 'spark'"),
    "q_bm25_single" -> bm25OracleSql(Seq("spark"), 10, conjunctive = false),
    "q_bm25_multi" -> bm25OracleSql(Seq("query", "filter", "join"), 10, conjunctive = false),
    "q_bm25_conj" -> bm25OracleSql(Seq("query", "filter"), 10, conjunctive = true),
    "q_bm25_not" -> bm25OracleSql(Seq("query", "filter"), 10, conjunctive = false,
      mustNot = Seq("spark")),
    "q_pinned" -> pinnedOracleSql(Seq("c00007", "zzz-no-such-conv", "c00003"),
      Seq("query", "filter"), 10),
    "q_rank_feature" -> rankFeatureOracleSql(Seq("query", "filter"), 10,
      pivot = 40.0, boost = 2.0),
    "q_distance_feature" -> distanceFeatureOracleSql(Seq("query", "filter"), 10,
      originSecs = 240L, pivot = 120.0, boost = 1.5),
    // filtered BM25: conv min-ts ∈ [125s, 350s] after the 2024-01-01 anchor
    // ⇔ min doc_id ∈ [125, 350] (ts = anchor + doc_id seconds); stats global
    "q_bm25_filtered" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false, filterT0 = Some((125L, 350L))),
    // export = same exact order, no top-k cut; conjunctive + NOT branches
    "q_bm25_export_conj_not" -> bm25OracleSql(Seq("query", "filter"), 1000000,
      conjunctive = true, mustNot = Seq("batch")),
    "q_search_sorted" -> searchSortedOracleSql("spark", 10, ascending = false),
    "q_search_sorted_page2" -> searchSortedOracleSql("spark", 10,
      ascending = false, offset = 10),
    "q_collapse" -> collapseOracleSql(Seq("query", "filter"), 7),
    "q_bm25_synonyms" -> synonymsOracleSql(Seq(Seq("query", "scan"), Seq("filter")), 10),
    // spark-free corpus: membership('query') minus convs holding 'spark'
    "q_delete_by_query" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'query'" +
      " AND conv_id NOT IN (SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark')" +
      " ORDER BY conv_id"),
    "q_dis_max" -> disMaxOracleSql(Seq("query", "filter"), Seq("spark", "batch"), 0.3, 10),
    "q_random_score" -> randomScoreOracleSql("spark", "seed42", 10),
    // matched clauses of the probe doc with the engine's exact inputs
    "q_explain" -> (TurnsCte + TfCtes +
      ", q(term) AS (VALUES ('filter'), ('query'), ('spark'))" +
      ", qdf AS (SELECT q.term, count(tf.conv_id) AS df FROM q LEFT JOIN tf ON tf.term = q.term GROUP BY 1)" +
      " SELECT q.term, t.tf, CAST(l.dl AS BIGINT) AS dl, qdf.df, " +
      "round(ln(1.0 + ((SELECT n FROM stats) - qdf.df + 0.5) / (qdf.df + 0.5)), 4) AS idf, " +
      "round(ln(1.0 + ((SELECT n FROM stats) - qdf.df + 0.5) / (qdf.df + 0.5)) * (1.2 + 1.0) * t.tf " +
      "/ (t.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (SELECT avgdl FROM stats))), 4) AS contrib" +
      " FROM q JOIN tf t ON t.term = q.term AND t.conv_id = 'c00007'" +
      " JOIN qdf ON qdf.term = q.term JOIN dl l ON l.conv_id = 'c00007'" +
      " ORDER BY q.term"),
    // the resharded index answers from the SAME corpus — plain oracles
    "q_reindex_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark' ORDER BY conv_id"),
    "q_reindex_bm25" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false),
    // rewritten corpus: membership('meteor') = original spark convs; BM25
    // recomputes over the rewritten text with its own df/dl/stats
    "q_update_by_query" -> (TurnsUbqCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'meteor' ORDER BY conv_id"),
    "q_update_by_query_bm25" -> bm25OracleSql(Seq("meteor", "filter"), 10,
      conjunctive = false, turnsCte = TurnsUbqCte),
    "q_percolate" -> PercolateOracleSql,
    // the stream processes the identical corpus in one AvailableNow batch,
    // so its alert set equals the batch percolate exactly
    "q_stream_percolate" -> PercolateOracleSql,
    "q_terms_agg" -> termsAggOracleSql("spark", 5),
    "q_histogram_agg" -> histogramOracleSql("spark", 120.0),
    "q_composite_agg" -> compositeOracleSql("spark", 5, None),
    "q_composite_agg_page2" -> compositeOracleSql("spark", 5, Some(("assistant", "src17"))),
    "q_stats_agg" -> statsAggOracleSql("spark"),
    "q_percentiles_agg" -> percentilesOracleSql("spark", Seq(0.25, 0.5, 0.75, 0.95)),
    "q_percentile_ranks" -> percentileRanksOracleSql("spark", Seq(120.0, 300.0, 600.0)),
    "q_nested_same_turn" -> nestedSameTurnOracleSql(Seq("spark", "query")),
    "q_nested_topk" -> nestedTopKOracleSql(Seq("spark", "query"), 10, "max",
      conjunctive = true),
    "q_nested_topk_sum" -> nestedTopKOracleSql(Seq("spark", "query"), 10, "sum",
      conjunctive = true),
    // nested-agg oracle: turns holding BOTH terms, counted by per-turn role
    "q_nested_agg" -> ("WITH t AS (SELECT doc_id, text," +
      " CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role FROM documents)" +
      ", tok0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term" +
      " FROM t WHERE text IS NOT NULL)" +
      ", tok AS (SELECT DISTINCT doc_id, term FROM tok0 WHERE term <> '')" +
      ", hit AS (SELECT doc_id FROM tok WHERE term = 'spark'" +
      " INTERSECT SELECT doc_id FROM tok WHERE term = 'query')" +
      " SELECT t.role, CAST(count(*) AS BIGINT) AS n_children" +
      " FROM hit JOIN t ON hit.doc_id = t.doc_id" +
      " GROUP BY 1 ORDER BY n_children DESC, role ASC"),
    "q_extended_stats" -> extendedStatsOracleSql("spark", 2.0),
    "q_weighted_avg" -> weightedAvgOracleSql("spark"),
    "q_mad_agg" -> madOracleSql("spark"),
    "q_string_stats" -> stringStatsOracleSql("spark"),
    "q_cardinality_agg" -> cardinalityOracleSql("spark"),
    "q_function_score_gauss" -> decayOracleSql(Seq("query", "filter"), 10,
      origin = 0.0, scale = 200.0, offset = 0.0, decay = 0.5, fn = "gauss"),
    "q_field_value_factor" -> fieldValueFactorOracleSql(Seq("query", "filter"), 10,
      factor = 0.01),
    "q_boosting" -> boostingOracleSql(Seq("query", "filter"), Seq("batch"), 0.5, 10),
    "q_collapse_topn" -> collapseTopNOracleSql(Seq("query", "filter"), 7, 2),
    "q_top_hits" -> topHitsOracleSql(Seq("query", "filter"), 2),
    "q_sampler_terms" -> samplerTermsOracleSql(Seq("query", "filter"), 30, 5),
    "q_diversified_terms" ->
      diversifiedTermsOracleSql(Seq("query", "filter"), 2, 12, 5),
    "q_auto_date_histogram" -> autoDateHistogramOracleSql("spark", 10),
    "q_matrix_stats" -> matrixStatsOracleSql("spark"),
    "q_significant_text" -> significantTextOracleSql("dup", 10, 10),
    "q_linear_hybrid" ->
      linearHybridOracleSql(Seq("query", "filter"), 10, 20, 1.0, 2.0),
    // exact first slot, any dictionary term with the prefix in the second
    "q_phrase_prefix" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
      " WHERE a.term = 'batch' AND b.term LIKE 's%' ORDER BY conv_id"),
    "q_span_first" -> (TurnsCte + PposCte +
      " SELECT DISTINCT conv_id FROM ppos WHERE term = 'spark' AND pos < 50" +
      " ORDER BY conv_id"),
    // unordered span_near, n = 2, slop = 3: covering window ≤ slop + n
    // ⇔ |a.pos − b.pos| ≤ slop + 1
    "q_span_near" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND abs(a.pos - b.pos) <= 4" +
      " WHERE a.term = 'agg' AND b.term = 'batch' ORDER BY conv_id"),
    // span_or in span_near: slot a ∈ {agg, scan}, slot b = batch, n = 2,
    // slop = 4 ⇒ max − min ≤ 5, any order
    "q_span_or" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND abs(a.pos - b.pos) <= 5" +
      " WHERE a.term IN ('agg', 'scan') AND b.term = 'batch' ORDER BY conv_id"),
    // ordered intervals: b after a, c after b, c.pos − a.pos + 1 − 3 ≤ 3
    "q_intervals_ordered" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos > a.pos" +
      " JOIN ppos c ON a.conv_id = c.conv_id AND c.pos > b.pos" +
      " AND c.pos - a.pos <= 5" +
      " WHERE a.term = 'scan' AND b.term = 'part' AND c.term = 'filter'" +
      " ORDER BY conv_id"),
    // any_of: either ordered pair within gap budget 3 (b.pos − a.pos ≤ 4)
    "q_intervals_any_of" -> (TurnsCte + PposCte +
      " SELECT DISTINCT conv_id FROM (" +
      "SELECT a.conv_id FROM ppos a JOIN ppos b ON a.conv_id = b.conv_id" +
      " AND b.pos > a.pos AND b.pos - a.pos <= 4" +
      " WHERE a.term = 'scan' AND b.term = 'filter'" +
      " UNION " +
      "SELECT a.conv_id FROM ppos a JOIN ppos b ON a.conv_id = b.conv_id" +
      " AND b.pos > a.pos AND b.pos - a.pos <= 4" +
      " WHERE a.term = 'agg' AND b.term = 'batch') ORDER BY conv_id"),
    // span_multi: slot a ∈ first-4 dictionary expansion of 's', slot b =
    // batch, n = 2, slop = 3 ⇒ |diff| ≤ 4, any order
    "q_span_multi" -> (TurnsCte + PposCte +
      ", exp AS (SELECT DISTINCT term FROM ppos WHERE term LIKE 's%'" +
      " ORDER BY term LIMIT 4)" +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND abs(a.pos - b.pos) <= 4" +
      " WHERE a.term IN (SELECT term FROM exp) AND b.term = 'batch'" +
      " ORDER BY conv_id"),
    // n = 3, slop = 4: max − min ≤ slop + n − 1 = 6, any order
    "q_span_near_tri" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id" +
      " JOIN ppos c ON a.conv_id = c.conv_id" +
      " WHERE a.term = 'scan' AND b.term = 'part' AND c.term = 'filter'" +
      " AND greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos) <= 6" +
      " ORDER BY conv_id"),
    // term vectors: per-term tf + sorted global positions of the one doc,
    // df recomputed over the whole corpus
    "q_termvectors" -> (TurnsCte + TfCtes + PposCte +
      ", dterms AS (SELECT term, count(*) AS tf," +
      " array_to_string(list_sort(list(pos)), ',') AS positions" +
      " FROM ppos WHERE conv_id = 'c00007' GROUP BY term)" +
      ", gdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term)" +
      " SELECT d.term, d.tf, CAST(COALESCE(g.df, 0) AS BIGINT) AS df, d.positions" +
      " FROM dterms d LEFT JOIN gdf g ON d.term = g.term ORDER BY d.term"),
    // span_not: an include occurrence with no exclude inside [p−pre, p+post]
    "q_span_not" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " WHERE a.term = 'dup' AND NOT EXISTS (" +
      "SELECT 1 FROM ppos b WHERE b.conv_id = a.conv_id AND b.term = 'big'" +
      " AND b.pos BETWEEN a.pos - 1 AND a.pos + 1)" +
      " ORDER BY conv_id"),
    "q_bool_prefix" -> boolPrefixOracleSql(Seq("query"), "s", 10),
    // did-you-mean: present slots keep their df, absent slots take the best
    // edit-≤1 dictionary candidate (df desc, term asc)
    "q_suggest_phrase" -> (TurnsCte + TfCtes +
      ", gdf AS (SELECT term, count(*) AS df FROM tf GROUP BY term)" +
      ", inp(slot, term) AS (VALUES (0, 'spark'), (1, 'filtr'), (2, 'qury'))" +
      ", pres AS (SELECT i.slot, i.term AS input, i.term AS suggestion, g.df" +
      " FROM inp i JOIN gdf g ON g.term = i.term)" +
      ", miss AS (SELECT i.slot, i.term AS input FROM inp i" +
      " LEFT JOIN gdf g ON g.term = i.term WHERE g.df IS NULL)" +
      ", cand AS (SELECT m.slot, m.input, g.term AS suggestion, g.df," +
      " row_number() OVER (PARTITION BY m.slot ORDER BY g.df DESC, g.term ASC) AS rn" +
      " FROM miss m JOIN gdf g ON levenshtein(g.term, m.input) <= 1)" +
      ", uni AS (SELECT * FROM pres UNION ALL" +
      " SELECT slot, input, suggestion, df FROM cand WHERE rn = 1)" +
      " SELECT slot, input, suggestion, CAST(df AS BIGINT) AS df FROM uni ORDER BY slot"),
    // highlight: all matched tokens tagged, first 2 matching turns per conv
    "q_highlight" -> (TurnsCte +
      ", ht AS (SELECT conv_id, turn_idx, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM turns)" +
      ", hm AS (SELECT conv_id, turn_idx," +
      " len(list_filter(toks, x -> x IN ('spark', 'batch'))) AS n_hits," +
      " array_to_string(list_transform(toks, x -> CASE WHEN x IN ('spark', 'batch') THEN '<em>' || x || '</em>' ELSE x END), ' ') AS fragment" +
      " FROM ht)" +
      ", hf AS (SELECT *, row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn FROM hm WHERE n_hits > 0)" +
      " SELECT conv_id, turn_idx, CAST(n_hits AS BIGINT) AS n_hits, fragment FROM hf WHERE rn <= 2" +
      " ORDER BY conv_id, turn_idx"),
    // per-term boosts multiply each contrib in the engine's exact fold spot
    "q_bm25_boosted" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false, boosts = Map("filter" -> 2.0, "join" -> 0.5)),
    // minimum_should_match = a HAVING count over the per-term contrib rows
    "q_bm25_msm" -> bm25OracleSql(Seq("window", "big", "dup"), 10,
      conjunctive = false, minMatch = 2),
    // min_score = a WHERE floor on the unrounded score before the top-k cut
    // (floor 0.3 ≈ the p75 of this query's score distribution at sf0.01, so
    // the clause genuinely truncates the result below k)
    "q_bm25_min_score" -> bm25OracleSql(Seq("dup", "window", "big"), 50,
      conjunctive = false, minScore = Some(0.3)),
    // must + filter + must_not composed in one oracle
    "q_bm25_bool_full" -> bm25OracleSql(Seq("query", "filter"), 10,
      conjunctive = true, mustNot = Seq("dup"), filterT0 = Some((125L, 350L))),
    "q_membership_synonyms" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2" +
      " WHERE term IN ('window', 'big', 'qqq_absent_term_zzz') ORDER BY conv_id"),
    "q_significant_terms" -> significantTermsOracleSql("dup", 10),
    // sharded oracle IS the single-corpus BM25 SQL — the whole point:
    // dfs merged stats make the split invisible
    "q_sharded_bm25" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false),
    // indices_boost: the same single-corpus chain with each conv's score
    // scaled by its shard's boost (shard = conv ordinal % 2)
    "q_indices_boost" -> indicesBoostOracleSql(Seq("query", "filter", "join"),
      10, boostEven = 2.0, boostOdd = 0.5),
    "q_rollover_bm25" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false),
    "q_rollover_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark' ORDER BY conv_id"),
    // alias oracle: plain full-corpus membership — the flip is invisible
    "q_alias_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'vector' ORDER BY conv_id"),
    // routed-maintenance oracle: ALSO the single-corpus SQL (the batch
    // brought every shard to the full corpus), with msm=2 biting via 'dup'
    "q_sharded_incr" -> bm25OracleSql(Seq("window", "big", "dup"), 10,
      conjunctive = false, minMatch = 2),
    // query-string oracle: the parsed boolean (query AND (filter OR join)
    // AND NOT batch) as set algebra feeding the same filtered-BM25 shape,
    // with the ^2 boost on 'query'
    "q_query_string" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false, boosts = Map("query" -> 2.0),
      filterConvSql = Some("SELECT conv_id FROM tf WHERE term = 'query'" +
        " INTERSECT (SELECT conv_id FROM tf WHERE term = 'filter'" +
        " UNION SELECT conv_id FROM tf WHERE term = 'join')" +
        " EXCEPT SELECT conv_id FROM tf WHERE term = 'dup'")),
    // query-string with phrase: the "batch agg" adjacent-position join
    // EXCEPT 'dup', scored over the phrase's member terms
    "q_query_string_phrase" -> bm25OracleSql(Seq("batch", "agg"), 10,
      conjunctive = false, extraCtes = PposCte,
      filterConvSql = Some("SELECT DISTINCT a.conv_id FROM ppos a" +
        " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
        " WHERE a.term = 'batch' AND b.term = 'agg'" +
        " EXCEPT SELECT conv_id FROM tf WHERE term = 'dup'")),
    // full dialect: assistant-turn convs ∩ (query ∪ filter) ∩ term-range
    // [so, st) minus dup convs; query + filter^2 carry the scores
    "q_query_string_full" -> bm25OracleSql(Seq("query", "filter"), 10,
      conjunctive = false, boosts = Map("filter" -> 2.0),
      extraCtes = ", atok AS (SELECT printf('c%05d', doc_id // 5) AS conv_id," +
        " unnest(string_split(text, ' ')) AS term FROM documents" +
        " WHERE doc_id % 2 = 1)" +
        ", atok2 AS (SELECT conv_id, term FROM atok WHERE term <> '')",
      filterConvSql = Some("SELECT DISTINCT conv_id FROM atok2" +
        " WHERE conv_id IN (SELECT DISTINCT conv_id FROM tok2" +
        " WHERE term IN ('query', 'filter'))" +
        " AND conv_id IN (SELECT DISTINCT conv_id FROM tok2" +
        " WHERE term >= 'so' AND term < 'st')" +
        " AND conv_id NOT IN (SELECT DISTINCT conv_id FROM tok2" +
        " WHERE term = 'dup')")),
    // full dialect, fuzzy + wildcard filters: OSA dist ≤ 1 of 'quer' and a
    // term matching sc?n, scored by 'batch' alone
    "q_query_string_multi" -> bm25OracleSql(Seq("batch"), 10,
      conjunctive = false,
      filterConvSql = Some("SELECT conv_id FROM" +
        " (SELECT DISTINCT conv_id FROM tok2" +
        " WHERE damerau_levenshtein(term, 'quer') <= 1)" +
        " WHERE conv_id IN (SELECT DISTINCT conv_id FROM tok2" +
        " WHERE regexp_matches(term, '^sc.n$'))")),
    // full dialect, pure filter: user-turn convs with a term in [so, sp],
    // constant score 1.0, conv asc, first 10
    "q_query_string_const" -> (TurnsCte + TfCtes +
      ", utok AS (SELECT printf('c%05d', doc_id // 5) AS conv_id," +
      " unnest(string_split(text, ' ')) AS term FROM documents" +
      " WHERE doc_id % 2 = 0)" +
      ", utok2 AS (SELECT conv_id, term FROM utok WHERE term <> '')" +
      " SELECT conv_id, 1.0 AS score FROM (SELECT DISTINCT conv_id FROM utok2)" +
      " WHERE conv_id IN (SELECT DISTINCT conv_id FROM tok2" +
      " WHERE term >= 'so' AND term <= 'sp')" +
      " ORDER BY conv_id LIMIT 10"),
    // phrase filter = the ppos consecutive-position join feeding the same
    // conv_id IN (...) predicate the engine's include cursor enforces
    "q_bm25_phrase_filtered" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false, extraCtes = PposCte,
      filterConvSql = Some("SELECT DISTINCT a.conv_id FROM ppos a" +
        " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
        " WHERE a.term = 'batch' AND b.term = 'agg'")),
    "q_range_facet" -> rangeFacetOracleSql("spark", Seq(125.0, 350.0)),
    "q_membership_fuzzy" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE levenshtein(term, 'spark') <= 1" +
      " ORDER BY conv_id"),
    "q_membership_regex" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE regexp_matches(term, '^s[a-z]+k$')" +
      " ORDER BY conv_id"),
    "q_suffix_search" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term LIKE '%up' ORDER BY conv_id"),
    "q_leading_wildcard" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term LIKE '%do_' ORDER BY conv_id"),
    "q_suffix_incr" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term LIKE '%up' ORDER BY conv_id"),
    "q_membership_infix" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term LIKE '%mer%' ORDER BY conv_id"),
    "q_infix_incr" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term LIKE '%mer%' ORDER BY conv_id"),
    "q_membership_fuzzy_prefix" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE levenshtein(term, 'bag') <= 2" +
      " AND term LIKE 'b%' ORDER BY conv_id"),
    "q_membership_fuzzy_osa" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2" +
      " WHERE damerau_levenshtein(term, 'psark') <= 1 ORDER BY conv_id"),
    "q_term_range" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2" +
      " WHERE term >= 'so' AND term < 'st' ORDER BY conv_id"),
    "q_analyzed_membership" -> (TurnsCte + TfCtes + analyzedTfCtes +
      " SELECT DISTINCT conv_id FROM atok WHERE term = 'table' ORDER BY conv_id"),
    "q_analyzed_bm25" -> analyzedBm25OracleSql(Seq("table", "query"), 10),
    "q_analyzed_incr" -> (TurnsCte + TfCtes + analyzedTfCtes +
      " SELECT DISTINCT conv_id FROM atok WHERE term = 'table' ORDER BY conv_id"),
    "q_analyzed_incr_bm25" -> analyzedBm25OracleSql(Seq("table", "query"), 10),
    // span_containing: an ordered big pair (p < q ≤ p + 1 + slop) with a
    // little occurrence at any position inside [p, q]
    "q_span_containing" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON b.conv_id = a.conv_id AND b.pos > a.pos AND b.pos <= a.pos + 6" +
      " JOIN ppos l ON l.conv_id = a.conv_id AND l.pos BETWEEN a.pos AND b.pos" +
      " WHERE a.term = 'query' AND b.term = 'filter' AND l.term = 'join'" +
      " ORDER BY conv_id"),
    // span_within: distinct little positions covered by at least one big span
    "q_span_within" -> (TurnsCte + PposCte +
      " SELECT l.conv_id AS conv_id, count(DISTINCT l.pos) AS hits FROM ppos l" +
      " WHERE l.term = 'part' AND EXISTS (" +
      "SELECT 1 FROM ppos a JOIN ppos b ON b.conv_id = a.conv_id" +
      " AND b.pos > a.pos AND b.pos <= a.pos + 5" +
      " WHERE a.conv_id = l.conv_id AND a.term = 'scan' AND b.term = 'filter'" +
      " AND l.pos BETWEEN a.pos AND b.pos)" +
      " GROUP BY 1 ORDER BY conv_id"),
    "q_filters_agg" -> (TurnsCte + TfCtes +
      ", names(name, fterm) AS (VALUES ('dups', 'dup'), ('bigs', 'big'), ('windows', 'window'))" +
      ", d AS (SELECT DISTINCT conv_id, term FROM tok2)" +
      " SELECT n.name, count(*) AS hits FROM names n JOIN d ON d.term = n.fterm" +
      " GROUP BY 1 ORDER BY name"),
    "q_adjacency_matrix" -> (TurnsCte + TfCtes +
      ", f(name, fterm) AS (VALUES ('d', 'dup'), ('b', 'big'), ('w', 'window'))" +
      ", dm AS (SELECT DISTINCT t.conv_id, f.name FROM tok2 t JOIN f ON t.term = f.fterm)" +
      ", singles AS (SELECT name AS key, count(*) AS hits FROM dm GROUP BY 1)" +
      ", pairs AS (SELECT a.name || '&' || b.name AS key, count(*) AS hits" +
      " FROM dm a JOIN dm b ON a.conv_id = b.conv_id AND a.name < b.name GROUP BY 1)" +
      " SELECT key, hits FROM (SELECT * FROM singles UNION ALL SELECT * FROM pairs)" +
      " ORDER BY key"),
    "q_rare_terms" -> (TurnsCte + TfCtes +
      ", gdf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)" +
      " SELECT term, df FROM gdf WHERE df <= 99 ORDER BY df ASC, term ASC LIMIT 10"),
    "q_date_histogram_pipeline" -> dateHistogramPipelineOracleSql("spark", 3),
    "q_serial_diff" -> serialDiffOracleSql("spark", 2),
    "q_moving_percentiles" -> movingPercentilesOracleSql("spark", 3),
    "q_bucket_script" -> bucketScriptOracleSql("spark", "query"),
    "q_normalize_agg" -> normalizeOracleSql("spark"),
    "q_cumulative_cardinality" -> cumulativeCardinalityOracleSql("spark"),
    "q_rate_agg" -> rateOracleSql("spark"),
    "q_boxplot" -> boxplotOracleSql("spark"),
    "q_percentiles_bucket" -> percentilesBucketOracleSql("spark"),
    "q_t_test" -> tTestOracleSql("spark", "query"),
    "q_top_metrics" -> topMetricsOracleSql("spark"),
    "q_multi_terms" -> multiTermsOracleSql("dup", 6),
    "q_missing_agg" -> missingAggOracleSql("spark"),
    "q_bucket_selector" -> bucketSelectorOracleSql("spark", 5L, 5),
    "q_stats_bucket" -> statsBucketOracleSql("spark"),
    "q_max_bucket" -> maxBucketOracleSql("spark"),
    "q_terms_by_metric" -> ("WITH t2 AS (SELECT printf('c%05d', doc_id // 5) AS conv_id, doc_id, source, text FROM documents)" +
      ", toks AS (SELECT conv_id, unnest(string_split(text, ' ')) AS term FROM t2)" +
      ", tok2 AS (SELECT conv_id, term FROM toks WHERE term <> '')" +
      ", hits AS (SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark')" +
      ", dl AS (SELECT conv_id, count(*) AS dl FROM tok2 GROUP BY 1)" +
      ", sv AS (SELECT conv_id, arg_min(source, doc_id) AS sv FROM t2 GROUP BY 1)" +
      " SELECT sv.sv AS key, CAST(count(*) AS BIGINT) AS n_docs," +
      " round(avg(dl.dl), 4) AS avg_v" +
      " FROM hits h JOIN sv ON h.conv_id = sv.conv_id JOIN dl ON h.conv_id = dl.conv_id" +
      " GROUP BY 1 ORDER BY avg_v DESC, key ASC LIMIT 5"),
    "q_value_count" -> valueCountOracleSql("spark"),
    "q_date_range_agg" -> dateRangeOracleSql("spark",
      Seq("2024-01-01 00:02:00", "2024-01-01 00:07:00")),
    "q_global_agg" -> globalAggOracleSql("spark"),
    "q_bucket_correlation" -> bucketCorrelationOracleSql("dup", "the"),
    "q_change_point" -> changePointOracleSql("spark"),
    "q_categorize_text" -> categorizeTextOracleSql("spark", 3, 8),
    "q_random_sampler" -> randomSamplerOracleSql("the", 64, "rs1"),
    "q_var_width_hist" -> varWidthHistOracleSql("spark", 4),
    "q_ids_mget" -> idsOracleSql(Seq("c00003", "c00007", "c00010", "zzz-missing")),
    "q_has_child_min" -> hasChildOracleSql("spark", 2),
    "q_has_parent" -> hasParentOracleSql(Seq("spark", "query")),
    "q_bm25_exists" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false, filterConvSql = Some(
        "SELECT DISTINCT conv_id FROM turns WHERE CAST(substr(conv_id, 2, 10) AS INT) % 3 <> 0")),
    "q_pit_page2" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false, offset = 10),
    "q_terms_set" -> (TurnsCte + TfCtes +
      ", f(fterm) AS (VALUES ('dup'), ('big'), ('window'))" +
      ", dm AS (SELECT DISTINCT t.conv_id, t.term FROM tok2 t JOIN f ON t.term = f.fterm)" +
      ", m AS (SELECT conv_id, count(*) AS matched FROM dm GROUP BY 1)" +
      " SELECT conv_id, CAST(matched AS BIGINT) AS matched FROM m" +
      " WHERE CAST(substr(conv_id, 2, 10) AS INT) % 4 >= 1" +
      " AND matched >= CAST(substr(conv_id, 2, 10) AS INT) % 4" +
      " ORDER BY conv_id"),
    // snippets: first matching turn per conv (row_number over turn_idx),
    // 1-based first token position, ±3-token window — the SQL mirror of
    // killa.query.Snippets.forTerm
    "q_snippets" -> (TurnsCte +
      ", t AS (SELECT conv_id, turn_idx, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM turns)" +
      ", m AS (SELECT conv_id, turn_idx, toks, list_position(toks, 'spark') AS pos FROM t WHERE COALESCE(list_position(toks, 'spark'), 0) > 0)" +
      ", f AS (SELECT *, row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn FROM m)" +
      " SELECT conv_id, turn_idx, CAST(pos AS BIGINT) AS pos," +
      " array_to_string(toks[greatest(1, pos - 3):least(len(toks), pos + 3)], ' ') AS snippet" +
      " FROM f WHERE rn = 1 ORDER BY conv_id"),
    "q_incr_update_df" -> (TurnsCte + TfCtes +
      " SELECT term, count(*) AS df FROM tf GROUP BY term ORDER BY term"),
    "q_incr_update_bm25" -> bm25OracleSql(Seq("query", "scan"), 10, conjunctive = false),
    "q_incr_delete_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark'" +
      " AND CAST(substr(conv_id, 2) AS INT) % 10 <> 0 ORDER BY conv_id"),
    "q_incr_rename_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT CASE WHEN conv_id = 'c00001' THEN 'z99999' ELSE conv_id END AS conv_id" +
      " FROM tok2 WHERE term = 'spark' ORDER BY conv_id"),
    "q_remove_terms" -> (TurnsCte + TfCtes +
      " SELECT term, count(*) AS df FROM tf" +
      " WHERE NOT (conv_id = 'c00002' AND term IN ('spark', 'the'))" +
      " GROUP BY term ORDER BY term"),
    "q_synonym_phrases" -> (TurnsCte + TfCtes + PposCte +
      " SELECT DISTINCT conv_id FROM (" +
      "SELECT conv_id FROM tok2 WHERE term = 'dup'" +
      " UNION ALL SELECT a.conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
      " WHERE a.term = 'batch' AND b.term = 'agg') ORDER BY conv_id"),
    "q_phrase_pair" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
      " WHERE a.term = 'batch' AND b.term = 'agg' ORDER BY conv_id"),
    "q_incr_phrase" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
      " WHERE a.term = 'batch' AND b.term = 'agg' ORDER BY conv_id"),
    "q_phrase_tri" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
      " JOIN ppos c ON a.conv_id = c.conv_id AND c.pos = a.pos + 2" +
      " WHERE a.term = 'part' AND b.term = 'filter' AND c.term = 'scan'" +
      " ORDER BY conv_id"),
    // compaction parity: final corpus = every 10th conv deleted; membership
    // and phrase must read identically off the compacted logs + reclaimed
    // positions
    "q_compact_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark'" +
      " AND CAST(substr(conv_id, 2) AS INT) % 10 <> 0 ORDER BY conv_id"),
    "q_compact_phrase" -> (TurnsCte +
      ", t2 AS (SELECT * FROM turns WHERE CAST(substr(conv_id, 2) AS INT) % 10 <> 0)" +
      ", ptoks2 AS (SELECT conv_id, turn_idx, unnest(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), (x, i) -> struct_pack(term := x, ord := i))) AS t FROM t2)" +
      ", ppos2 AS (SELECT conv_id, t.term AS term, row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, t.ord) - 1 AS pos FROM ptoks2)" +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos2 a" +
      " JOIN ppos2 b ON a.conv_id = b.conv_id AND b.pos = a.pos + 1" +
      " WHERE a.term = 'batch' AND b.term = 'agg' ORDER BY conv_id"),
    // field-scoped: corpus = assistant turns only (doc_id % 2 = 1 under the
    // deterministic role derivation); the field index's stats are restricted
    // to that corpus, and so are the oracle's
    "q_field_membership" -> (TurnsAssistantCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark' ORDER BY conv_id"),
    "q_field_bm25" -> bm25OracleSql(Seq("query", "filter"), 10, conjunctive = false,
      turnsCte = TurnsAssistantCte),
    // incrementally-maintained field indexes answer from the same full
    // assistant corpus as freshly-built ones — identical oracles
    "q_field_membership_incr" -> (TurnsAssistantCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark' ORDER BY conv_id"),
    "q_field_bm25_incr" -> bm25OracleSql(Seq("query", "filter"), 10, conjunctive = false,
      turnsCte = TurnsAssistantCte),
    // facet: conversations containing the term, counted per role of the turn
    // that contains it
    "q_facet_roles" -> ("WITH rturns AS (SELECT printf('c%05d', doc_id // 5) AS conv_id," +
      " CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role, text FROM documents)" +
      ", rt AS (SELECT conv_id, role, unnest(string_split(text, ' ')) AS term FROM rturns)" +
      " SELECT role, count(DISTINCT conv_id) AS n_docs FROM rt WHERE term = 'spark'" +
      " GROUP BY role ORDER BY role"),
    // time travel: the pinned pre-delete snapshot answers from the FULL corpus
    "q_time_travel_membership" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark' ORDER BY conv_id"),
    // ordered proximity: gaps of at most 1 + slop between consecutive terms
    "q_phrase_slop" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos > a.pos AND b.pos <= a.pos + 3" +
      " WHERE a.term = 'batch' AND b.term = 'agg' ORDER BY conv_id"),
    "q_phrase_slop_tri" -> (TurnsCte + PposCte +
      " SELECT DISTINCT a.conv_id AS conv_id FROM ppos a" +
      " JOIN ppos b ON a.conv_id = b.conv_id AND b.pos > a.pos AND b.pos <= a.pos + 2" +
      " JOIN ppos c ON a.conv_id = c.conv_id AND c.pos > b.pos AND c.pos <= b.pos + 2" +
      " WHERE a.term = 'part' AND b.term = 'filter' AND c.term = 'scan'" +
      " ORDER BY conv_id"),
    // cursor pagination ≡ OFFSET k of the same exact total order
    "q_bm25_page2" -> bm25OracleSql(Seq("query", "filter", "join"), 10,
      conjunctive = false, offset = 10),
    "q_more_like_this" -> mltOracleSql("c00007", 5, 10, maxDfPct = 100),
    "q_prf_expand" -> prfOracleSql(Seq("dup"), 10, fbDocs = 5, fbTerms = 2,
      beta = 0.5, maxDfPct = 100),
    "q_suggest" -> suggestOracleSql("sow", 1, 5),
    "q_suggest_prefix" -> suggestOracleSql("sow", 1, 5, boostPrefixLen = 1),
    // terms_enum ≡ the term-ordered head of the prefix-filtered dictionary
    "q_terms_enum" -> (TurnsCte + TfCtes +
      " SELECT term, count(*) AS df FROM tf WHERE term LIKE 's%'" +
      " GROUP BY term ORDER BY term LIMIT 8"),
    "q_rescore_recency" -> rescoreOracleSql(Seq("query", "filter", "join"), 10, 30, 120L),
    // export = the same exact total order with no top-k cut (LIMIT far above
    // any possible match count)
    "q_bm25_export" -> bm25OracleSql(Seq("filter"), 1000000, conjunctive = false),
    // msearch: each slot's full bm25 statement as a slot-tagged subquery
    "q_msearch" ->
      ("SELECT 'a' AS slot, * FROM (" +
        bm25OracleSql(Seq("query", "filter"), 10, conjunctive = false) +
        ") UNION ALL SELECT 'b' AS slot, * FROM (" +
        bm25OracleSql(Seq("batch", "agg"), 10, conjunctive = false) + ")"),
    "q_rank_eval" -> rankEvalOracleSql(Seq(
      ("qa", Seq("query", "filter"), Seq("c00020", "c00077", "c00042")),
      ("qb", Seq("batch", "agg"), Seq("c00050", "c00001"))), 10),
    "q_rank_eval_ndcg" -> rankEvalNdcgOracleSql(Seq(
      ("qa", Seq("query", "filter"),
        Seq("c00020" -> 3.0, "c00077" -> 1.0, "c00042" -> 2.0)),
      ("qb", Seq("batch", "agg"),
        Seq("c00050" -> 2.0, "c00001" -> 1.0, "c00003" -> 3.0))), 10),
    "q_ltr_features" -> ltrFeaturesOracleSql(
      Seq("qa" -> Seq("query", "filter"), "qb" -> Seq("batch", "agg")), 5),
    // slice 1 of 3 by the first 8 md5(conv_id) hex chars mod 3
    "q_bm25_sliced" -> bm25OracleSql(Seq("filter"), 1000000, conjunctive = false,
      filterConvSql = Some("SELECT DISTINCT conv_id FROM turns WHERE" +
        " CAST(concat('0x', substr(md5(conv_id), 1, 8)) AS BIGINT) % 3 = 1")),
    // sparse_vector: Σ weight·tf, NO corpus statistics by design
    "q_sparse_vector" -> (TurnsCte + TfCtes +
      ", q(term, w) AS (VALUES ('spark', CAST(2.0 AS DOUBLE))," +
      " ('query', CAST(1.0 AS DOUBLE)), ('join', CAST(0.5 AS DOUBLE)))" +
      ", s AS (SELECT tf.conv_id, sum(q.w * tf.tf) AS s FROM tf" +
      " JOIN q ON tf.term = q.term GROUP BY 1)" +
      ", top AS (SELECT conv_id, s FROM s ORDER BY s DESC, conv_id ASC LIMIT 10)" +
      " SELECT conv_id, round(s, 4) AS score FROM top" +
      " ORDER BY score DESC, conv_id ASC"),
    // terms lookup: convs sharing any term with conv c00042's text
    "q_terms_lookup" -> (TurnsCte + TfCtes +
      " SELECT DISTINCT conv_id FROM tok2 WHERE term IN" +
      " (SELECT DISTINCT term FROM tok2 WHERE conv_id = 'c00042')" +
      " ORDER BY conv_id"),
    "q_bm25_multifield" -> multiFieldOracleSql(1.0, 2.0, Seq("query", "filter"), 10),
    "q_cross_fields" -> crossFieldsOracleSql(Seq("query", "filter"), 10),
    "q_combined_fields" -> combinedFieldsOracleSql(1.0, 2.0, Seq("query", "filter"), 10),
    "q_date_histogram" -> dateHistogramOracleSql("spark"),
    "q_date_histogram_filled" -> dateHistogramFilledOracleSql("spark",
      "2023-12-31 23:58:00", "2024-01-01 00:12:00"),
    // loss-mask packing: per-conv totals + exclusive prefix sum in conv
    // order, seq_id = start // budget — pure integer math on both engines
    "q_pack_transcripts" ->
      ("WITH t AS (SELECT printf('c%05d', doc_id // 5) AS conv_id," +
        " CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role," +
        " len(list_filter(string_split(text, ' '), x -> x <> '')) AS n" +
        " FROM documents)" +
        ", pc AS (SELECT conv_id, CAST(sum(n) AS BIGINT) AS n_tokens," +
        " CAST(sum(CASE WHEN role = 'assistant' THEN n ELSE 0 END) AS BIGINT)" +
        " AS n_train_tokens FROM t GROUP BY 1)" +
        ", o AS (SELECT *, CAST(coalesce(sum(n_tokens) OVER (ORDER BY conv_id" +
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)" +
        " AS start_offset FROM pc)" +
        " SELECT conv_id, n_tokens, n_train_tokens, start_offset," +
        " CAST(start_offset // 1024 AS BIGINT) AS seq_id FROM o" +
        " ORDER BY conv_id"),
    // adjacent-turn role transitions under the stable (conv, idx) order
    "q_turn_transitions" ->
      ("WITH t AS (SELECT printf('c%05d', doc_id // 5) AS conv_id," +
        " CAST(doc_id % 5 AS INT) AS turn_idx," +
        " CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role" +
        " FROM documents)" +
        ", l AS (SELECT role AS to_v, lag(role) OVER (PARTITION BY conv_id" +
        " ORDER BY turn_idx) AS from_v FROM t)" +
        " SELECT from_v, to_v, count(*) AS n FROM l WHERE from_v IS NOT NULL" +
        " GROUP BY 1, 2 ORDER BY n DESC, from_v, to_v"),
    // well-formedness: dense 0..n-1 turn indexes, strict role alternation
    // (lag window), any empty-tokenizing turn
    "q_validate_transcripts" ->
      ("WITH t AS (SELECT printf('c%05d', doc_id // 5) AS conv_id," +
        " CAST(doc_id % 5 AS INT) AS turn_idx," +
        " CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role," +
        " len(list_filter(string_split(text, ' '), x -> x <> '')) AS ntok" +
        " FROM documents)" +
        ", l AS (SELECT *, lag(role) OVER (PARTITION BY conv_id" +
        " ORDER BY turn_idx) AS pr FROM t)" +
        " SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns," +
        " (min(turn_idx) = 0 AND max(turn_idx) = count(*) - 1" +
        " AND count(DISTINCT turn_idx) = count(*)) AS dense_idx," +
        " (sum(CASE WHEN pr = role THEN 1 ELSE 0 END) = 0) AS roles_alternate," +
        " (sum(CASE WHEN ntok = 0 THEN 1 ELSE 0 END) > 0) AS has_empty_turn" +
        " FROM l GROUP BY 1 ORDER BY 1"),
    "q_top_terms" -> (TurnsCte + TfCtes +
      " SELECT term, count(*) AS df FROM tf GROUP BY term" +
      " ORDER BY df DESC, term ASC LIMIT 20"),
    "q_corpus_stats" -> (TurnsCte + TfCtes +
      " SELECT (SELECT n FROM stats) AS n_docs," +
      " (SELECT CAST(sum(dl) AS BIGINT) FROM dl) AS total_tokens," +
      " round((SELECT avgdl FROM stats), 4) AS avgdl"),

    // lang-id: same marker lexicons + greatest/argmax with en>de>es>fr
    // priority, zero hits → 'und' — the independent SQL recomputation of
    // TextOps.langId
    "q_lang_id" -> {
      val markers = killa.text.TextOps.LangMarkers.map { case (l, ms) =>
        l -> ms.map(m => s"'$m'").mkString("[", ",", "]")
      }
      val hitCols = markers.map { case (l, arr) =>
        s"COALESCE(len(list_filter(toks, x -> list_contains($arr, x))), 0) AS hits_$l"
      }.mkString(", ")
      val langs = markers.map(_._1)
      val best = langs.map(l => s"hits_$l").mkString("greatest(", ", ", ")")
      val pred = langs.init.map(l => s"WHEN hits_$l = $best THEN '$l'")
        .mkString(s"CASE WHEN $best = 0 THEN 'und' ", " ", s" ELSE '${langs.last}' END")
      "WITH w AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents)" +
        s", h AS (SELECT doc_id, $hitCols FROM w)" +
        s" SELECT doc_id, $pred AS lang_pred, hits_en, hits_de, hits_es, hits_fr" +
        " FROM h ORDER BY doc_id"
    },
    "q_token_counts" -> (DocToksCte +
      " SELECT doc_id, len(toks) AS ws_tokens," +
      " len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens" +
      " FROM w ORDER BY doc_id"),
    "q_text_quality" -> (DocToksCte +
      " SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens," +
      " round(CASE WHEN len(toks) > 0 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS avg_token_len," +
      " round(CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END, 4) AS punct_ratio," +
      " round(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','a','is','it','for','on','with','as'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS stopword_ratio" +
      " FROM w ORDER BY doc_id"),
    "q_fingerprint" -> (DocToksCte +
      " SELECT doc_id, md5(array_to_string(toks, ' ')) AS text_md5 FROM w ORDER BY doc_id"),
    // frequent pairs ≡ the support-ordered head of the distinct-item
    // co-occurrence counts (set semantics per doc, pair ordered a < b)
    "q_frequent_pairs" -> (DocToksCte +
      ", di AS (SELECT DISTINCT doc_id, unnest(toks) AS i FROM w)" +
      " SELECT a.i AS item_a, b.i AS item_b, count(*) AS support" +
      " FROM di a JOIN di b ON a.doc_id = b.doc_id AND a.i < b.i" +
      " GROUP BY 1, 2 HAVING count(*) >= 300" +
      " ORDER BY support DESC, item_a, item_b LIMIT 20"),
    "q_dedup_exact" -> (DocToksCte +
      " SELECT md5(array_to_string(toks, ' ')) AS text_md5, count(*) AS cnt," +
      " min(doc_id) AS rep_id FROM w GROUP BY 1 ORDER BY 1"),
    "q_stream_dedup" -> (DocToksCte +
      " SELECT md5(array_to_string(toks, ' ')) AS text_md5, count(*) AS cnt," +
      " min(doc_id) AS rep_id FROM w GROUP BY 1 ORDER BY 1"),
    "q_dedup_keep" -> (DocToksCte +
      ", k AS (SELECT min(doc_id) AS doc_id FROM w GROUP BY md5(array_to_string(toks, ' ')))" +
      " SELECT doc_id FROM k ORDER BY doc_id"),
    // deterministic sampling: first md5 hex byte < 0x34 ⇔ 52/256 of hash space
    "q_sample_hash" -> (DocToksCte +
      " SELECT doc_id FROM w WHERE substr(md5(array_to_string(toks, ' ')), 1, 2) < '34'" +
      " ORDER BY doc_id"),
    // stratified rates: src0 192/256 (0xc0), src1 32/256 (0x20), else 96 (0x60)
    "q_sample_stratified" ->
      ("WITH w AS (SELECT doc_id, source, md5(array_to_string(" +
        "list_filter(string_split(text, ' '), x -> x <> ''), ' ')) AS h FROM documents)" +
        " SELECT doc_id FROM w WHERE substr(h, 1, 2) <" +
        " CASE source WHEN 'src0' THEN 'c0' WHEN 'src1' THEN '20' ELSE '60' END" +
        " ORDER BY doc_id"),
    // temperature resampling: per-source threshold floor(min(1, 0.5 ·
    // sqrt(c_max/c_s)) · 2^32) — every float step IEEE correctly-rounded,
    // so both engines derive identical integer thresholds from the counts
    "q_temperature_sample" ->
      ("WITH w AS (SELECT doc_id, source, list_filter(string_split(text, ' ')," +
        " x -> x <> '') AS toks FROM documents)" +
        ", h AS (SELECT doc_id, source, CAST(concat('0x'," +
        " substr(md5(array_to_string(toks, ' ')), 1, 8)) AS BIGINT) AS h32 FROM w)" +
        ", c AS (SELECT source, count(*) AS c FROM w GROUP BY 1)" +
        ", m AS (SELECT max(c) AS cm FROM c)" +
        ", r AS (SELECT source, CAST(floor(least(1.0, 0.5 *" +
        " sqrt(CAST((SELECT cm FROM m) AS DOUBLE) / CAST(c AS DOUBLE)))" +
        " * 4294967296.0) AS BIGINT) AS thr FROM c)" +
        " SELECT h.doc_id FROM h JOIN r ON h.source = r.source" +
        " WHERE h.h32 < r.thr ORDER BY doc_id"),
    // target-mixture resampling: ratio_s = target_s / token_count_s, keep
    // rate r_s / max(r), threshold floor(rate · 2^32) vs the same 32-bit
    // content hash — identical IEEE steps on both engines
    "q_mix_sample" ->
      ("WITH w AS (SELECT doc_id, source, list_filter(string_split(text, ' ')," +
        " x -> x <> '') AS toks FROM documents)" +
        ", h AS (SELECT doc_id, source, CAST(concat('0x'," +
        " substr(md5(array_to_string(toks, ' ')), 1, 8)) AS BIGINT) AS h32 FROM w)" +
        ", c AS (SELECT source, CAST(sum(len(toks)) AS BIGINT) AS c FROM w" +
        " GROUP BY 1 HAVING sum(len(toks)) > 0)" +
        ", t(source, tgt) AS (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25))" +
        ", r AS (SELECT c.source, t.tgt / CAST(c.c AS DOUBLE) AS r FROM c" +
        " JOIN t ON c.source = t.source)" +
        ", m AS (SELECT max(r) AS rmax FROM r)" +
        ", thr AS (SELECT source, CAST(floor((r / (SELECT rmax FROM m))" +
        " * 4294967296.0) AS BIGINT) AS thr FROM r)" +
        " SELECT h.doc_id FROM h JOIN thr ON h.source = thr.source" +
        " WHERE h.h32 < thr.thr ORDER BY doc_id"),
    "q_dsir_select" -> dsirOracleSql(40),
    // winnowing: same (hash·2^20 + pos) integer-min selection, k=3 w=4
    "q_winnow_fingerprints" -> (DocToksCte +
      ", gl AS (SELECT doc_id, [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] for i in range(1, len(toks) - 1)] AS grams FROM w WHERE len(toks) >= 3)" +
      ", g AS (SELECT doc_id, generate_subscripts(grams, 1) AS pos, unnest(grams) AS gram, len(grams) AS ng FROM gl)" +
      ", keyd AS (SELECT doc_id, pos, ng, CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) * 1048576 + pos AS key FROM g)" +
      ", winm AS (SELECT doc_id, pos, ng, min(key) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS selkey FROM keyd)" +
      ", sel AS (SELECT DISTINCT doc_id, selkey FROM winm WHERE pos <= ng - 3)" +
      " SELECT doc_id, CAST(selkey % 1048576 AS BIGINT) AS pos," +
      " CAST(selkey // 1048576 AS BIGINT) AS h FROM sel ORDER BY doc_id, pos"),
    "q_repetition" -> (DocToksCte +
      ", g AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS s FROM w WHERE len(toks) >= 2)" +
      ", pc AS (SELECT doc_id, s, count(*) AS c FROM g GROUP BY 1, 2)" +
      ", pd AS (SELECT doc_id, sum(c) AS tot, max(c) AS topc," +
      " sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc FROM pc GROUP BY 1)" +
      " SELECT w.doc_id, CAST(COALESCE(pd.tot, 0) AS BIGINT) AS n_ngrams," +
      " round(COALESCE(CAST(pd.topc AS DOUBLE) / pd.tot, 0.0), 4) AS top_ngram_frac," +
      " round(COALESCE(CAST(pd.dupc AS DOUBLE) / pd.tot, 0.0), 4) AS dup_ngram_frac" +
      " FROM w LEFT JOIN pd ON w.doc_id = pd.doc_id ORDER BY w.doc_id"),
    "q_unigram_logprob" -> (DocToksCte +
      ", t AS (SELECT doc_id, unnest(toks) AS term FROM w)" +
      ", ctf AS (SELECT term, count(*) AS c FROM t GROUP BY 1)" +
      ", tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tt FROM ctf)" +
      " SELECT t.doc_id, count(*) AS n_tokens," +
      " round(avg(ln(CAST(ctf.c AS DOUBLE) / (SELECT tt FROM tot))), 4) AS avg_logprob" +
      " FROM t JOIN ctf ON t.term = ctf.term GROUP BY 1 ORDER BY 1"),
    // bigram LM: p̂(w2|w1) = c(w1w2)/c(w1·) over turn-bounded bigrams
    "q_bigram_logprob" -> (TurnsCte +
      ", tk AS (SELECT conv_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM turns)" +
      ", bg0 AS (SELECT conv_id, unnest([struct_pack(w1 := toks[i], w2 := toks[i+1]) for i in range(1, len(toks))]) AS b FROM tk WHERE len(toks) >= 2)" +
      ", bgf AS (SELECT conv_id, b.w1 AS w1, b.w2 AS w2 FROM bg0)" +
      ", c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY 1, 2)" +
      ", c1 AS (SELECT w1, count(*) AS c1 FROM bgf GROUP BY 1)" +
      " SELECT bgf.conv_id, count(*) AS n_bigrams," +
      " round(avg(ln(CAST(c12.c12 AS DOUBLE) / c1.c1)), 4) AS avg_logprob" +
      " FROM bgf JOIN c12 USING (w1, w2) JOIN c1 USING (w1)" +
      " GROUP BY 1 ORDER BY 1"),
    // PMI collocations: turn-granularity co-occurrence (TurnsNestedCte keys
    // each turn as its own document), mid-frequency df window
    "q_pmi_pairs" -> (TurnsNestedCte + TfCtes +
      ", d AS (SELECT DISTINCT conv_id, term FROM tok2)" +
      ", dfs AS (SELECT term, count(*) AS df FROM d GROUP BY 1 HAVING count(*) BETWEEN 20 AND 450)" +
      ", kept AS (SELECT d.conv_id, d.term, dfs.df FROM d JOIN dfs USING (term))" +
      ", nd AS (SELECT CAST(count(DISTINCT conv_id) AS DOUBLE) AS n FROM turns)" +
      ", pr AS (SELECT a.term AS t1, b.term AS t2, count(*) AS n_pair," +
      " max(a.df) AS d1, max(b.df) AS d2 FROM kept a JOIN kept b" +
      " ON a.conv_id = b.conv_id AND a.term < b.term GROUP BY 1, 2" +
      " HAVING count(*) >= 5)" +
      ", sc AS (SELECT t1, t2, n_pair, ln(n_pair * (SELECT n FROM nd) / (d1 * d2)) AS pmi FROM pr)" +
      ", top AS (SELECT * FROM sc ORDER BY pmi DESC, t1 ASC, t2 ASC LIMIT 15)" +
      " SELECT t1, t2, CAST(n_pair AS BIGINT) AS n_pair, round(pmi, 4) AS pmi" +
      " FROM top ORDER BY pmi DESC, t1 ASC, t2 ASC"),
    "q_quality_gate" -> (DocToksCte +
      ", g AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS s FROM w WHERE len(toks) >= 2)" +
      ", pc AS (SELECT doc_id, s, count(*) AS c FROM g GROUP BY 1, 2)" +
      ", pd AS (SELECT doc_id, sum(c) AS tot, max(c) AS topc," +
      " sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dupc FROM pc GROUP BY 1)" +
      ", q AS (SELECT w.doc_id, len(toks) AS n_tokens," +
      " round(CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','a','is','it','for','on','with','as'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END, 4) AS stopr," +
      " round(COALESCE(CAST(pd.topc AS DOUBLE) / pd.tot, 0.0), 4) AS topf," +
      " round(COALESCE(CAST(pd.dupc AS DOUBLE) / pd.tot, 0.0), 4) AS dupf" +
      " FROM w LEFT JOIN pd ON w.doc_id = pd.doc_id)" +
      " SELECT doc_id FROM q WHERE n_tokens BETWEEN 20 AND 90" +
      " AND stopr <= 0.15 AND topf <= 0.1 AND dupf <= 0.2 ORDER BY doc_id"),
    "q_normalize_text" ->
      ("SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))" +
        " AS norm FROM documents ORDER BY doc_id"),
    // same deterministic augmentation as the Spark side; patterns are the
    // shared TextOps constants so both engines run the identical regex
    "q_redact_pii" ->
      ("WITH aug AS (SELECT doc_id, text || ' contact user' || doc_id || '@example.com' ||" +
        " CASE WHEN doc_id % 3 = 0 THEN ' call (555) 123-4567' ELSE '' END AS text FROM documents)" +
        s" SELECT doc_id, regexp_replace(regexp_replace(text, '${killa.text.TextOps.EmailPattern}', '<EMAIL>', 'g')," +
        s" '${killa.text.TextOps.PhonePattern}', '<PHONE>', 'g') AS redacted," +
        s" CAST(len(regexp_extract_all(text, '${killa.text.TextOps.EmailPattern}')) AS BIGINT) AS n_emails," +
        s" CAST(len(regexp_extract_all(text, '${killa.text.TextOps.PhonePattern}')) AS BIGINT) AS n_phones" +
        " FROM aug ORDER BY doc_id"),
    "q_chunk_tokens" -> (DocToksCte +
      ", offs AS (SELECT doc_id, toks, unnest(range(0, len(toks), 32)) AS off FROM w WHERE len(toks) > 0)" +
      ", ch AS (SELECT doc_id, CAST(off // 32 AS INT) AS chunk_idx, CAST(off AS INT) AS off," +
      " toks[off + 1 : least(off + 40, len(toks))] AS chunk FROM offs)" +
      " SELECT doc_id, chunk_idx, off, CAST(len(chunk) AS BIGINT) AS n_tokens," +
      " md5(array_to_string(chunk, ' ')) AS chunk_hash FROM ch ORDER BY doc_id, chunk_idx"),
    "q_span_corrupt" -> spanCorruptOracleSql,
    "q_fim_transform" -> fimOracleSql,
    "q_dedup_ngram_jaccard" -> (DocToksCte + ShinglesCte + JaccardSql),
    "q_dedup_chunks" -> (DocToksCte +
      ", offs AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS off FROM w WHERE len(toks) > 0)" +
      ", ch AS (SELECT doc_id, toks[off + 1 : least(off + 16, len(toks))] AS chunk FROM offs)" +
      ", fullch AS (SELECT doc_id, md5(array_to_string(chunk, ' ')) AS chunk_hash FROM ch WHERE len(chunk) = 16)" +
      " SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs," +
      " CAST(count(*) AS BIGINT) AS n_occurrences FROM fullch GROUP BY 1" +
      " HAVING count(DISTINCT doc_id) >= 2 ORDER BY chunk_hash"),
    "q_pack_sequences" -> (DocToksCte +
      ", c AS (SELECT doc_id, len(toks) AS n, coalesce(sum(len(toks)) OVER" +
      " (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st FROM w)" +
      " SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(st AS BIGINT) AS start_offset," +
      " CAST(st // 512 AS BIGINT) AS seq_id FROM c ORDER BY doc_id"),
    // decontamination: corpus = doc_id % 7 <> 0, benchmark = % 7 = 0; per
    // corpus doc the fraction of its distinct 3-gram shingles found in the
    // benchmark's shingle union — the independent recomputation of
    // Dedup.contaminationReport (docs with < 3 tokens are unassessable and
    // omitted on both sides)
    "q_decontaminate" -> (DocToksCte + ShinglesCte +
      ", csh AS (SELECT doc_id, s FROM sh WHERE doc_id % 7 <> 0)" +
      ", bsh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 7 = 0)" +
      ", csz AS (SELECT doc_id, count(*) AS nsh FROM csh GROUP BY 1)" +
      ", h AS (SELECT c.doc_id, count(*) AS nhit FROM csh c JOIN bsh b ON c.s = b.s GROUP BY 1)" +
      " SELECT z.doc_id, z.nsh, COALESCE(h.nhit, 0) AS nhit," +
      " round(CAST(COALESCE(h.nhit, 0) AS DOUBLE) / z.nsh, 4) AS overlap" +
      " FROM csz z LEFT JOIN h ON z.doc_id = h.doc_id" +
      " WHERE round(CAST(COALESCE(h.nhit, 0) AS DOUBLE) / z.nsh, 4) >= 0.5" +
      " ORDER BY z.doc_id"),
    // simhash: independent recomputation of the EXACT signature family —
    // FNV-1a64 per token via a recursive byte-fold CTE (ASCII corpus ⇒
    // ord(char) = UTF-8 byte; HUGEINT keeps the 64-bit modular product exact:
    // hash < 2^64 times prime 2^40 < 2^104 < HUGEINT range), tf-weighted
    // per-bit majority, then ALL pairs at hamming ≤ 3 (segment blocking is
    // complete by pigeonhole, so blocked Spark output = all-pairs oracle)
    "q_dedup_simhash" -> ("""WITH RECURSIVE
      |w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS t FROM w),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
      |v AS (SELECT DISTINCT t FROM tf),
      |fnv AS (
      |  SELECT t, 1 AS i, CAST(14695981039346656037 AS HUGEINT) AS h FROM v
      |  UNION ALL
      |  SELECT t, i + 1,
      |    (xor(h, CAST(ord(substr(t, i, 1)) AS HUGEINT)) * 1099511628211) % CAST(18446744073709551616 AS HUGEINT)
      |  FROM fnv WHERE i <= length(t)
      |),
      |fh AS (SELECT t, h FROM fnv WHERE i = length(t) + 1),
      |bits AS (
      |  SELECT 0 AS b, CAST(1 AS HUGEINT) AS p
      |  UNION ALL
      |  SELECT b + 1, p * 2 FROM bits WHERE b < 63
      |),
      |acc AS (
      |  SELECT tf.doc_id, bits.b, bits.p,
      |    sum(CASE WHEN (h // p) % 2 = 1 THEN tf ELSE -tf END) AS s
      |  FROM tf JOIN fh ON tf.t = fh.t CROSS JOIN bits
      |  GROUP BY 1, 2, 3
      |),
      |sig0 AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS u FROM acc GROUP BY 1),
      |sigs AS (SELECT doc_id, CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
      |    THEN u - CAST(18446744073709551616 AS HUGEINT) ELSE u END AS BIGINT) AS sig FROM sig0)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY a_id, b_id""".stripMargin),
    // MinHash LSH candidates + exact verify empirically reproduce the exact
    // jaccard pair set on this corpus (recall of 16x4 banding at τ=0.8 ≈
    // 0.9998) — same oracle
    "q_bpe_pairs" -> ("WITH w AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)" +
      ", wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(toks) AS word FROM w) GROUP BY 1)" +
      ", ch AS (SELECT cnt, [word[i] for i in range(1, len(word) + 1)] AS syms FROM wc)" +
      ", pr AS (SELECT cnt, unnest([struct_pack(lhs := syms[i], rhs := syms[i+1]) for i in range(1, len(syms))]) AS p FROM ch WHERE len(syms) >= 2)" +
      " SELECT p.lhs AS lhs, p.rhs AS rhs, CAST(sum(cnt) AS BIGINT) AS freq FROM pr GROUP BY 1, 2" +
      " ORDER BY freq DESC, lhs ASC, rhs ASC LIMIT 20"),
    "q_bpe_merges" -> bpeMergesOracleSql(12),
    "q_bpe_encode" -> bpeEncodeOracleSql(12),
    "q_bpe_fertility" -> bpeFertilityOracleSql(12),
    "q_dedup_minhash" -> (DocToksCte + ShinglesCte + JaccardSql),
    // query-time near-dup search: exact query×corpus Jaccard — the banding
    // is the same family q_dedup_minhash proved lossless on this corpus, and
    // self-pairs always collide (identical signatures)
    "q_neardup_search" -> (DocToksCte + ShinglesCte +
      ", q AS (SELECT doc_id AS q_id, s FROM sh WHERE doc_id < 50)" +
      ", qsz AS (SELECT q_id, count(*) AS nq FROM q GROUP BY 1)" +
      ", inter AS (SELECT q.q_id, d.doc_id, count(*) AS cnt FROM q JOIN sh d ON q.s = d.s GROUP BY 1, 2)" +
      " SELECT i.q_id, i.doc_id, round(CAST(i.cnt AS DOUBLE) / (qs.nq + sz.nsh - i.cnt), 4) AS jaccard" +
      " FROM inter i JOIN qsz qs ON i.q_id = qs.q_id JOIN sz ON i.doc_id = sz.doc_id" +
      " WHERE round(CAST(i.cnt AS DOUBLE) / (qs.nq + sz.nsh - i.cnt), 4) >= 0.8" +
      " ORDER BY i.q_id, i.doc_id"),
    // duplicated-span coverage: per doc, duplicated full windows / all full
    // windows — same chunking CTE as q_dedup_chunks
    "q_dup_span_coverage" -> (DocToksCte +
      ", offs AS (SELECT doc_id, toks, unnest(range(0, len(toks), 8)) AS off FROM w WHERE len(toks) > 0)" +
      ", ch AS (SELECT doc_id, toks[off + 1 : least(off + 16, len(toks))] AS chunk FROM offs)" +
      ", fullch AS (SELECT doc_id, md5(array_to_string(chunk, ' ')) AS chunk_hash FROM ch WHERE len(chunk) = 16)" +
      ", dup AS (SELECT chunk_hash FROM fullch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)" +
      " SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_chunks," +
      " CAST(sum(CASE WHEN d.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup," +
      " round(CAST(sum(CASE WHEN d.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS coverage" +
      " FROM fullch f LEFT JOIN dup d USING (chunk_hash) GROUP BY 1 ORDER BY doc_id"),
    "q_ann_cosine_topk" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM e, q WHERE e.vec_id <> q.q_id)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM s)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    // two-sample KS: ECDFs with RANGE frames so tied counts weigh fully
    "q_ks_test" -> ("WITH t2 AS (SELECT printf('c%05d', doc_id // 5) AS conv_id, doc_id, text FROM documents)" +
      ", toks AS (SELECT conv_id, unnest(string_split(text, ' ')) AS term FROM t2)" +
      ", ha AS (SELECT DISTINCT conv_id FROM toks WHERE term = 'spark')" +
      ", hb AS (SELECT DISTINCT conv_id FROM toks WHERE term = 'query')" +
      ", convts AS (SELECT conv_id, TIMESTAMP '2024-01-01 00:00:00' + to_seconds(min(doc_id)) AS ts FROM t2 GROUP BY 1)" +
      ", hista AS (SELECT date_trunc('minute', c.ts) AS bucket, CAST(count(*) AS DOUBLE) AS v FROM ha h JOIN convts c ON h.conv_id = c.conv_id GROUP BY 1)" +
      ", histb AS (SELECT date_trunc('minute', c.ts) AS bucket, CAST(count(*) AS DOUBLE) AS v FROM hb h JOIN convts c ON h.conv_id = c.conv_id GROUP BY 1)" +
      ", pts AS (SELECT v, 'a' AS side FROM hista UNION ALL SELECT v, 'b' AS side FROM histb)" +
      ", w AS (SELECT v," +
      " sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca," +
      " sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb," +
      " (SELECT count(*) FROM hista) AS na, (SELECT count(*) FROM histb) AS nb FROM pts)" +
      " SELECT CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b," +
      " round(max(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)), 4) AS d FROM w"),
    // int8 codes: identical IEEE double chain on both engines → exact ints
    "q_embed_int8" -> ("WITH s AS (SELECT vec_id," +
      " list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS scale" +
      " FROM embeddings WHERE vec_id < 5)" +
      ", e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i," +
      " CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings WHERE vec_id < 5)" +
      " SELECT e.vec_id, CAST(e.i AS BIGINT) AS i," +
      " CASE WHEN s.scale = 0 THEN 0 ELSE CAST(floor(e.x / s.scale + 0.5) AS BIGINT) END AS q" +
      " FROM e JOIN s USING (vec_id) ORDER BY e.vec_id, i"),
    // binary codes: bit i of lane (i // 32) set iff x_i > 0; the sum of the
    // distinct powers of two IS the packed code
    "q_embed_binary" -> ("WITH e AS (SELECT vec_id," +
      " generate_subscripts(embedding, 1) - 1 AS i, unnest(embedding) AS x" +
      " FROM embeddings WHERE vec_id < 5)" +
      " SELECT vec_id, CAST(i // 32 AS BIGINT) AS lane," +
      " CAST(sum(CASE WHEN x > 0 THEN CAST(1 AS BIGINT) << CAST(i % 32 AS INT)" +
      " ELSE 0 END) AS BIGINT) AS code" +
      " FROM e GROUP BY vec_id, i // 32 ORDER BY vec_id, lane"),
    // Hamming kNN: per-lane popcount(xor) summed, exact top-10 per query
    "q_ann_hamming" -> ("WITH e AS (SELECT vec_id," +
      " generate_subscripts(embedding, 1) - 1 AS i, unnest(embedding) AS x FROM embeddings)" +
      ", c AS (SELECT vec_id, i // 32 AS lane," +
      " sum(CASE WHEN x > 0 THEN CAST(1 AS BIGINT) << CAST(i % 32 AS INT)" +
      " ELSE 0 END) AS code FROM e GROUP BY 1, 2)" +
      ", d AS (SELECT q.vec_id AS q_id, t.vec_id AS vec_id," +
      " CAST(sum(bit_count(xor(CAST(q.code AS BIGINT), CAST(t.code AS BIGINT)))) AS BIGINT) AS hamming" +
      " FROM c q JOIN c t ON q.lane = t.lane AND t.vec_id <> q.vec_id" +
      " WHERE q.vec_id < 3 GROUP BY 1, 2)" +
      ", r AS (SELECT q_id, vec_id, hamming, CAST(row_number() OVER" +
      " (PARTITION BY q_id ORDER BY hamming ASC, vec_id ASC) AS INT) AS rank FROM d)" +
      " SELECT q_id, vec_id, hamming, rank FROM r WHERE rank <= 10" +
      " ORDER BY q_id, rank"),
    // int8 coarse + float rescore: identical IEEE code chain (scale, floor
    // half-up) as q_embed_int8, integer dot (exact as double), float cosine
    // only on the 15 admitted survivors, ties vec_id asc at both phases
    "q_ann_int8_rescore" -> ("WITH s AS (SELECT vec_id," +
      " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v," +
      " list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') / 127.0 AS scale" +
      " FROM embeddings)" +
      ", c AS (SELECT vec_id, v, CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))" +
      " ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS q FROM s)" +
      ", qs AS (SELECT vec_id AS q_id, v AS qv, q AS qq FROM c WHERE vec_id < 3)" +
      ", d AS (SELECT q_id, c.vec_id, list_dot_product(c.q, qs.qq) AS dot, c.v, qs.qv" +
      " FROM c, qs WHERE c.vec_id <> qs.q_id)" +
      ", a AS (SELECT q_id, vec_id, v, qv, row_number() OVER" +
      " (PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS crank FROM d)" +
      s", r AS (SELECT q_id, vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM a WHERE crank <= 15)" +
      ", f AS (SELECT q_id, vec_id, cosine, row_number() OVER" +
      " (PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rank FROM r)" +
      " SELECT q_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank FROM f WHERE rank <= 5" +
      " ORDER BY q_id, rank"),
    "q_lmd_topk" -> lmOracleSql(Seq("spark", "query"), 10, dirichlet = true,
      param = 2000.0),
    "q_lmjm_topk" -> lmOracleSql(Seq("spark", "query"), 10, dirichlet = false,
      param = 0.1),
    // reverse_nested: parents of same-turn child matches, bucketed by the
    // parent's first-turn tool value
    "q_reverse_nested" -> (TurnsNestedCte + TfCtes +
      ", h0 AS (SELECT DISTINCT conv_id FROM tok2 WHERE term = 'spark')" +
      ", h1 AS (SELECT DISTINCT conv_id FROM tok2 WHERE term = 'query')" +
      ", hit AS (SELECT conv_id FROM h0 INTERSECT SELECT conv_id FROM h1)" +
      ", par AS (SELECT DISTINCT split_part(conv_id, '#', 1) AS conv_id FROM hit)" +
      ", t2 AS (SELECT printf('c%05d', doc_id // 5) AS conv_id, doc_id, source FROM documents)" +
      ", keyv AS (SELECT conv_id, min_by(source, doc_id) AS value FROM t2 GROUP BY 1)" +
      " SELECT k.value, CAST(count(*) AS BIGINT) AS n_parents FROM par p" +
      " JOIN keyv k ON p.conv_id = k.conv_id WHERE k.value IS NOT NULL" +
      " GROUP BY 1 ORDER BY n_parents DESC, value ASC"),
    // MaxSim: per (doc, query token) best cosine, summed per doc, top-5
    "q_maxsim_topk" -> (EmbCte +
      ", d AS (SELECT vec_id // 5 AS doc_id, v FROM e)" +
      ", q AS (SELECT CAST(0 AS BIGINT) AS q_id, vec_id AS q_tok, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, doc_id, q_tok, max(${cosSql("v", "qv")}) AS mx FROM d, q GROUP BY 1, 2, 3)" +
      ", sc AS (SELECT q_id, doc_id, round(sum(mx), 4) AS score FROM s GROUP BY 1, 2)" +
      ", r AS (SELECT q_id, doc_id, score, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rank FROM sc)" +
      " SELECT q_id, doc_id, score, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    // soft dedup weights: 1 / exact-group multiplicity per doc
    "q_dedup_weights" -> (DocToksCte +
      ", g AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS h FROM w)" +
      ", c AS (SELECT h, count(*) AS cnt FROM g GROUP BY 1)" +
      " SELECT g.doc_id, round(CAST(1.0 AS DOUBLE) / c.cnt, 4) AS weight FROM g JOIN c ON g.h = c.h" +
      " ORDER BY g.doc_id"),
    // hard negatives: rank densely INSIDE the band (ceiling removes a
    // prefix, floor a suffix — so rank assignment happens after both cuts)
    "q_hard_negatives" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM e, q WHERE e.vec_id <> q.q_id)" +
      ", b AS (SELECT * FROM s WHERE cosine >= 0.15 AND cosine < 0.30)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM b)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    // knn similarity floor: the top-5 rows minus those under cosine 0.3,
    // ranks unchanged (only a suffix of a ranked list can fall below a floor)
    "q_ann_threshold" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM e, q WHERE e.vec_id <> q.q_id)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM s)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 AND cosine >= 0.3" +
      " ORDER BY q_id, rank"),
    "q_rrf_hybrid" -> rrfOracleSql(Seq("query", "filter"), 10, 20, 60),
    "q_ann_filtered" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine" +
      " FROM e, q WHERE e.vec_id <> q.q_id AND e.vec_id % 3 <> 0)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM s)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    "q_dedup_cluster" ->
      ("WITH RECURSIVE w AS (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents)" +
        ShinglesCte +
        ", inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)" +
        ", pr AS (SELECT a_id, b_id FROM inter JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id" +
        " WHERE round(CAST(i AS DOUBLE) / (sa.nsh + sb.nsh - i), 4) >= 0.8)" +
        ", und AS (SELECT a_id AS src, b_id AS dst FROM pr UNION SELECT b_id, a_id FROM pr)" +
        ", walk(id, lbl) AS (SELECT doc_id, doc_id FROM w UNION SELECT u.dst, k.lbl FROM walk k JOIN und u ON u.src = k.id)" +
        " SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster FROM walk GROUP BY 1 ORDER BY 1"),
    // LSH candidates + exact re-rank reproduce the exact top-k on this
    // corpus (recall 1.0 at 64×16 banding, asserted as equality in
    // PipelineOpsSpec) — same oracle as the brute-force baseline
    "q_ann_lsh_topk" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM e, q WHERE e.vec_id <> q.q_id)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM s)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    // IVF probes cover the exact top-k on this corpus (pinned as equality in
    // PipelineOpsSpec) — same oracle as the brute-force baseline
    "q_ann_ivf_topk" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM e, q WHERE e.vec_id <> q.q_id)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM s)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    // broadcast-centroid IVF registers at full probe too — identical oracle
    "q_ann_ivf_bcast" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM e, q WHERE e.vec_id <> q.q_id)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM s)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    // PQ at nCandidates >= corpus: the re-rank set is the whole corpus, so
    // the exact-cosine oracle verifies train -> encode -> ADC -> re-rank
    "q_ann_pq_topk" -> (EmbCte +
      ", q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3)" +
      s", s AS (SELECT q_id, e.vec_id, round(${cosSql("v", "qv")}, 4) AS cosine FROM e, q WHERE e.vec_id <> q.q_id)" +
      ", r AS (SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank FROM s)" +
      " SELECT q_id, vec_id, cosine, rank FROM r WHERE rank <= 5 ORDER BY q_id, rank"),
    "q_embed_neardup" -> (EmbCte +
      s" SELECT a.vec_id AS a_id, b.vec_id AS b_id, round(${cosSql("a.v", "b.v")}, 4) AS cosine" +
      " FROM e a JOIN e b ON a.vec_id < b.vec_id" +
      s" WHERE round(${cosSql("a.v", "b.v")}, 4) >= 0.45 ORDER BY a_id, b_id"),
    // SemDeDup: cell = first-4 sign bits; drop iff a lower-id cell-mate has
    // cosine >= tau — the exact relational mirror of Ann.semDedupKeep
    "q_semdedup" -> (EmbCte +
      ", c AS (SELECT vec_id, v, (" +
      (0 until 4).map(i => s"(CASE WHEN v[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ") +
      ") AS cell FROM e)" +
      ", dup AS (SELECT DISTINCT b.vec_id FROM c a JOIN c b" +
      " ON a.cell = b.cell AND a.vec_id < b.vec_id" +
      s" WHERE round(${cosSql("a.v", "b.v")}, 4) >= 0.4)" +
      " SELECT vec_id FROM c WHERE vec_id NOT IN (SELECT vec_id FROM dup)" +
      " ORDER BY vec_id"),
    // pooled embedding ≡ per-(grp, dim) mean over the group's vectors, each
    // group's vector L2-normalized; zipped unnest + generate_subscripts
    // recovers the dimension index
    "q_embed_pool" -> ("WITH e AS (SELECT vec_id // 5 AS grp," +
      " generate_subscripts(embedding, 1) - 1 AS i," +
      " CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings)" +
      ", m AS (SELECT grp, i, avg(x) AS m FROM e GROUP BY 1, 2)" +
      ", n AS (SELECT grp, sqrt(sum(m * m)) AS nrm FROM m GROUP BY 1" +
      " HAVING sqrt(sum(m * m)) > 0)" +
      " SELECT CAST(m.grp AS BIGINT) AS grp, CAST(m.i AS BIGINT) AS i," +
      " round(m.m / n.nrm, 4) AS v FROM m JOIN n USING (grp) ORDER BY grp, i"),
    "q_stream_window" -> ("SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start," +
      " event_type, count(*) AS n, round(sum(value), 4) AS sum_value" +
      " FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    // sessions = runs of a user's events with ≤ 10 min between neighbors:
    // Spark merges session windows that touch (next.start == prev.end), so a
    // gap of EXACTLY the duration still merges — break only on strictly >
    // (pinned by the boundary case in StreamingSpec)
    "q_stream_sessions" -> ("WITH o AS (SELECT user_id, event_id, ts, value," +
      " CASE WHEN lag(ts) OVER w IS NULL" +
      " OR ts - lag(ts) OVER w > INTERVAL '10 minutes' THEN 1 ELSE 0 END AS brk" +
      " FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))" +
      ", s AS (SELECT user_id, ts, value," +
      " sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid" +
      " FROM o)" +
      " SELECT user_id, min(ts) AS session_start, count(*) AS n," +
      " round(sum(value), 4) AS sum_value" +
      " FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"),
    // append form: only sessions the final watermark (max ts − 10 min)
    // strictly closed — session end = last event + the 10-min gap
    "q_stream_sessions_append" -> ("WITH o AS (SELECT user_id, event_id, ts, value," +
      " CASE WHEN lag(ts) OVER w IS NULL" +
      " OR ts - lag(ts) OVER w > INTERVAL '10 minutes' THEN 1 ELSE 0 END AS brk" +
      " FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))" +
      ", s AS (SELECT user_id, ts, value," +
      " sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid" +
      " FROM o)" +
      ", g AS (SELECT user_id, sid, min(ts) AS session_start, max(ts) AS last_ts," +
      " count(*) AS n, round(sum(value), 4) AS sum_value" +
      " FROM s GROUP BY user_id, sid)" +
      " SELECT user_id, session_start, n, sum_value FROM g" +
      " WHERE last_ts + INTERVAL '10 minutes' < (SELECT max(ts) FROM events) - INTERVAL '10 minutes'" +
      " ORDER BY user_id, session_start")
  )
}
