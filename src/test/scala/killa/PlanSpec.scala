package killa

import org.scalatest.funsuite.AnyFunSuite

import killa.build.IndexWriter
import killa.query.{Bm25Query, IndexReader}
import killa.synth.Synth

/** Physical-plan shape assertions: the plans must stay the plans we want at
  * 100 TB — predicate pushdown into parquet, column pruning, broadcast of
  * the small side — not just produce correct rows. Guards against silent
  * plan regressions (a scan that stops pruning still "passes" row tests).
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val conf = Conf(nBuckets = 8, rangeDocs = 16, waveBuckets = 8, blockSize = 16)

  private lazy val root: String = {
    val r = TestSpark.freshDir("plan")
    new IndexWriter(spark, r, conf)
      .fullBuild(Synth.transcripts(spark, 40, 4, seed = 3L).toDF(), "b0")
    r
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private object AqePlans
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("term lookup pushes the equality filter into the parquet scan") {
    val r = new IndexReader(spark, root, conf)
    val plan = planOf(r.postingBlocks("the").toDF())
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(term,the)"),
      s"term filter not pushed:\n$plan")
  }

  test("membership prunes payload columns: scan reads only n + docsBin (+ term filter)") {
    val r = new IndexReader(spark, root, conf)
    val plan = planOf(r.membership("the"))
    val scanLine = plan.linesIterator.find(l => l.contains("ReadSchema") && l.contains("docsBin"))
      .getOrElse(fail(s"no segment scan found:\n$plan"))
    assert(!scanLine.contains("tfsBin") && !scanLine.contains("dlsBin"),
      s"payload columns not pruned: $scanLine")
  }

  test("bm25ScoredAll's must-not scan reads only n + docsBin (+ term filter)") {
    val r = new IndexReader(spark, root, conf)
    val plan = planOf(r.bm25ScoredAll(Seq("query"), mustNot = Seq("the")))
    val scanLines = plan.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("EqualTo(term,the)")).toSeq
    assert(scanLines.nonEmpty, s"no must-not scan found:\n$plan")
    scanLines.foreach { l =>
      assert(l.contains("docsBin") && !l.contains("tfsBin") && !l.contains("dlsBin"),
        s"must-not scan reads payload columns: $l")
    }
  }

  test("membership joins the dictionary via broadcast (small side broadcast, no full shuffle)") {
    val r = new IndexReader(spark, root, conf)
    val plan = planOf(r.membership("the"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"dictionary join is not broadcast:\n$plan")
  }

  test("top-k BM25 candidate pipeline: pruned per-term scans, payload decode executor-side") {
    val r = new IndexReader(spark, root, conf)
    val df = r.scoredCandidates(Bm25Query.of(r.manifest, Seq("the", "query"), 5).get, r.manifest.get)
    val plan = planOf(df)
    assert(plan.contains("EqualTo(term,the)") && plan.contains("EqualTo(term,query)"),
      s"per-term pushdown missing:\n$plan")
    assert(plan.contains("MapGroups") || plan.contains("mapGroups") ||
      plan.contains("FlatMapGroups"), s"range DAAT stage missing:\n$plan")
    // the finish is a bounded driver merge of ≤ (k+ties)·ranges candidates
    // (TakeOrdered-equivalent); correctness pinned by rank-identity suites
  }

  test("sparseVector / rankFeature / distanceFeature pick top-k with TakeOrdered, not a global Window") {
    import org.apache.spark.sql.functions.col
    val r = new IndexReader(spark, root, conf)
    val meta = Synth.transcripts(spark, 40, 4, seed = 3L).toDF().where(col("turn_idx") === 0)
    val origin = new java.sql.Timestamp(1704067200000L)
    Seq(
      "sparseVector" -> r.sparseVector(Map("the" -> 1.0, "query" -> 2.0), 5),
      "rankFeature" -> r.rankFeature(Seq("the", "query"), 5, meta, "conv_id", "turn_idx"),
      "distanceFeature" -> r.distanceFeature(Seq("the", "query"), 5, meta, "conv_id", "ts",
        origin, pivotSecs = 60.0)).foreach { case (name, df) =>
      assert(df.collect().nonEmpty, s"$name: vacuous fixture")
      // the executed tree through AQE's query stages; a cached relation's
      // own plan (the dictionary's per-docId last-wins window) is not part of it
      val nodes = AqePlans.mapPlans(df.queryExecution.executedPlan)(_.nodeName)
      // an unpartitioned Window pulls the whole scored match set into one
      // partition; TakeOrderedAndProject keeps a bounded heap per partition
      assert(nodes.contains("TakeOrderedAndProject") && !nodes.exists(_.startsWith("Window")),
        s"$name must select its top k without a window:\n${planOf(df)}")
    }
  }

  test("prefix search pushes StringStartsWith into the parquet scan and prunes payload columns") {
    val r = new IndexReader(spark, root, conf)
    val plan = planOf(r.membershipPrefix("uniq"))
    assert(plan.contains("StringStartsWith(term,uniq)"),
      s"prefix range filter not pushed:\n$plan")
    val scanLine = plan.linesIterator.find(l => l.contains("ReadSchema") && l.contains("docsBin"))
      .getOrElse(fail(s"no segment scan found:\n$plan"))
    assert(!scanLine.contains("tfsBin") && !scanLine.contains("dlsBin"),
      s"payload columns not pruned: $scanLine")
  }

  test("dictionary point lookup pushes the docId filter down the range-laid docs log") {
    import org.apache.spark.sql.functions.col
    // a previously-persisted dictionary would intercept the plan with an
    // InMemoryTableScan (whose batch stats also prune — but here we assert
    // the cold path reaches parquet)
    spark.catalog.clearCache()
    val r = new IndexReader(spark, root, conf)
    val plan = planOf(r.docs.where(col("docId").isin(1L, 5L)))
    // the filter must reach the parquet scan (through the last-wins window —
    // docId is its partition key) so file/row-group docId stats prune
    assert(plan.contains("In(docId") && plan.contains("PushedFilters: [In(docId"),
      s"docId lookup not pushed to the docs scan:\n$plan")
  }

  test("fuzzy search prunes payload columns; no UDF (levenshtein is a codegen'd native expression)") {
    val r = new IndexReader(spark, root, conf)
    val plan = planOf(r.membershipFuzzy("query", 1))
    val scanLine = plan.linesIterator.find(l => l.contains("ReadSchema") && l.contains("docsBin"))
      .getOrElse(fail(s"no segment scan found:\n$plan"))
    assert(!scanLine.contains("tfsBin") && !scanLine.contains("dlsBin"),
      s"payload columns not pruned: $scanLine")
    assert(plan.contains("levenshtein") && !plan.contains("ScalaUDF"),
      s"fuzzy residual must be the native levenshtein expression:\n$plan")
  }

  test("IVF assignment is one shuffle-free codegen'd projection; probe join broadcasts the query side") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
    val df = killa.ann.Ann.ivfTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
      nCells = 8, nProbe = 2)
    df.collect() // finalize the adaptive plan
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"probe join must broadcast the (tiny) probes side:\n$plan")
    // the only Exchanges allowed: probe-selection window (tiny, per q_id),
    // the broadcast of probes, and the per-query candidate window — never a
    // corpus-wide repartition for cell assignment (a pure projection). AQE's
    // toString repeats the initial plan, so count the final section only.
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"cell assignment must not shuffle the corpus ($exchanges hash exchanges):\n$finalPlan")
    assert(!plan.contains("CartesianProduct"), s"IVF must not cross-join:\n$plan")
  }

  test("LSH signature paths carry no UDF: hyperplane_sig is a native codegen expression") {
    import org.apache.spark.sql.functions.col
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 3).select(col("vec_id").as("q_id"), col("embedding"))
    // the two registered paths that carried the last Scala UDF (VERDICT r3 #2)
    val topk = killa.ann.Ann.lshTopK(e, "vec_id", "embedding", q, "q_id", "embedding", 5,
      nPlanes = 32, bands = 4)
    val pairs = killa.ann.Ann.nearDupPairs(e, "vec_id", "embedding", 0.45)
    Seq("lshTopK" -> topk, "nearDupPairs" -> pairs).foreach { case (name, df) =>
      val plan = planOf(df)
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
        s"$name signature stage fell out of codegen:\n$plan")
      assert(plan.contains("hyperplane_sig"),
        s"$name must use the native signature expression:\n$plan")
    }
  }

  test("simhash pair pipeline carries no UDF (native bit_count hamming)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id") < 50)
    val plan = planOf(killa.dedup.Dedup.simhashPairs(docs, "doc_id", "text", 3))
    // the signature map is a typed Dataset map (DeserializeToObject, not a
    // SQL UDF); the verify stage — join + hamming filter — must be pure
    // codegen expressions (bit_count over xor)
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"simhash verify stage fell out of codegen:\n$plan")
    assert(plan.contains("bit_count"), s"native bit_count missing:\n$plan")
  }

  test("snippets: turn scan prunes to (conv_id, turn_idx, text); hit join broadcasts; no UDF") {
    val r = new IndexReader(spark, root, conf)
    val turns = Synth.transcripts(spark, 40, 4, seed = 3L).toDF()
    val df = killa.query.Snippets.forTerm(turns, r.membership("query"), "query", 3)
    val plan = planOf(df)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"hit join must broadcast:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      "snippet extraction must stay in codegen expressions")
  }

  test("forward/tf aggregation pipeline stays in whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val dir = TestSpark.freshDir("plansrc")
    Synth.transcripts(spark, 10, 2, seed = 1L).toDF().write.mode("overwrite").parquet(dir)
    val tf = spark.read.parquet(dir)
      .select(col("conv_id"), explode(killa.tokenize.Tokenize.termsCol(col("text"))).as("term"))
      .groupBy("conv_id", "term").agg(count(lit(1)).as("tf"))
    tf.collect() // finalize the adaptive plan
    val plan = planOf(tf)
    // "*(n)" prefixes mark WholeStageCodegen stages in the compact plan form
    assert(plan.contains("*(1)") && plan.contains("HashAggregate"),
      s"tokenize+tf not codegen'd:\n$plan")
    assert(plan.contains("ReadSchema: struct<conv_id:string,text:string>"),
      s"turn scan must prune to (conv_id, text):\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "no UDFs allowed on the tokenize/tf hot path")
  }
}
