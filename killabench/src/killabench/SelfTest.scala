package killabench

import killa.build.IndexWriter
import killa.query.IndexReader

/** Tests of the bench's own helpers: `python3 killabench/run.py --self-test`.
  * Exits non-zero when any case fails.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def eq[A](got: A, want: A): Unit =
    if (got != want) throw new AssertionError(s"got $got, want $want")

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(throw new IllegalArgumentException("missing --work"))

    test("tail percentile keeps at least 10 samples beyond it") {
      eq(Stats.tailPercentile(1000), Some(99.0))
      eq(Stats.tailPercentile(999), Some(95.0))
      eq(Stats.tailPercentile(10000), Some(99.9))
      eq(Stats.tailPercentile(200), Some(95.0))
      eq(Stats.tailPercentile(20), Some(50.0))
      eq(Stats.tailPercentile(19), None)
    }

    test("summary: nearest-rank median and tail, max when no tail qualifies") {
      val s = Stats.summarize((1 to 1000).map(_.toDouble))
      eq((s.n, s.median, s.tailP, s.tail), (1000, 500.0, 99.0, 990.0))
      val small = Stats.summarize(Seq(3.0, 1.0, 2.0))
      eq((small.median, small.tailP, small.tail), (2.0, 100.0, 3.0))
    }

    test("open loop: latency runs from the due time, lateness is reported apart") {
      eq(OpenLoop.dueNs(3, 100.0), 30000000L)
      // due at 10 ms, handed over at 12 ms, done at 30 ms
      val s = OpenLoop.Sample(10000000L, 12000000L, 30000000L, ok = true)
      eq(OpenLoop.latencyMs(s), 20.0)
      eq(OpenLoop.lateMs(s), 2.0)
      // a request queued behind a 100 ms stall is charged the wait
      val queued = OpenLoop.Sample(10000000L, 10000000L, 110000000L, ok = true)
      eq(OpenLoop.latencyMs(queued), 100.0)
      eq(OpenLoop.lateMs(OpenLoop.Sample(5L, 1L, 9L, ok = true)), 0.0)
      // a failed request exceeds any latency limit
      eq(OpenLoop.latencyMs(s.copy(ok = false)), Double.PositiveInfinity)
    }

    test("speed factor: median sort time in the interval, nearest samples outside it") {
      val xs = Seq((10L, 1.0), (20L, 2.0), (30L, 1.5), (40L, 4.0), (100L, 3.0))
      eq(Speed.factor(xs, 10L, 30L), 1.5 / Speed.RefMs)
      eq(Speed.factor(xs, 40L, 40L), 4.0 / Speed.RefMs)
      // none inside [60, 70]: the three nearest are at 40, 100 and 30
      eq(Speed.factor(xs, 60L, 70L), 3.0 / Speed.RefMs)
      // a time is divided by the factor: the same work on a host half as
      // fast reads the same
      val f = Speed.factor(Seq((0L, 2.0 * Speed.RefMs)), 0L, 0L)
      eq(20.0 / f, 10.0)
    }

    test("call-site attribution: file, method and action, never the line") {
      val long = "killa.query.IndexReader.localTopK(IndexReader.scala:4128)\n" +
        "killa.query.IndexReader.topKRowsImpl(IndexReader.scala:4070)\n" +
        "killabench.Run.serveHot(Run.scala:12)"
      eq(Attribution.attribute("query", "collect at IndexReader.scala:4128", long),
        ("query.fetch", true))
      eq(Attribution.attribute("query", "collect at IndexReader.scala:9", long.replace("4128", "9")),
        ("query.fetch", true))
      eq(Attribution.attribute("query", "count at IndexReader.scala:4120", long),
        ("query.route", true))
      val anon = "killa.build.IndexWriter$.$anonfun$writeBlocks$2(IndexWriter.scala:450)\n" +
        "killa.build.IndexWriter.$anonfun$fullBuild$3(IndexWriter.scala:98)"
      eq(Attribution.attribute("build", "parquet at IndexWriter.scala:450", anon),
        ("build.segment_write", true))
      // the same engine site feeds the family of the enclosing bench span
      eq(Attribution.attribute("maint", "parquet at IndexWriter.scala:450", anon),
        ("maint.rewrite", true))
      eq(Attribution.attribute("maint", "parquet at IndexMaintainer.scala:330",
        "killa.maintain.IndexMaintainer.applyChangesDf(IndexMaintainer.scala:330)"),
        ("maint.commit", true))
      eq(Attribution.attribute("maint", "collect at IndexMaintainer.scala:170",
        "killa.maintain.IndexMaintainer.applyChangesDf(IndexMaintainer.scala:170)"),
        ("maint.resolve", true))
    }

    test("call-site attribution: unknown sites fall back to <family>.other") {
      eq(Attribution.attribute("query", "count at IndexReader.scala:60",
        "killa.query.IndexReader.contains(IndexReader.scala:60)"), ("query.other", false))
      eq(Attribution.attribute("build", "run at ThreadPoolExecutor.java:1136", ""),
        ("build.other", false))
      eq(Attribution.attribute("query", "count at Run.scala:3", "killabench.Run.x(Run.scala:3)"),
        ("query.other", false))
    }

    test("a wrong top-k row is counted as a failure") {
      val want = Seq(("c000001", 2.5), ("c000002", 1.25))
      val c = new Checks
      eq(c.check("same rows")(Checks.topKDiff(want, want).isEmpty), true)
      eq(c.check("wrong score")(Checks.topKDiff(Seq(("c000001", 2.5), ("c000002", 1.2500001)),
        want).isEmpty), false)
      eq(c.check("wrong order")(Checks.topKDiff(want.reverse, want).isEmpty), false)
      eq(c.check("missing row")(Checks.topKDiff(want.take(1), want).isEmpty), false)
      eq(c.check("throws")(throw new IllegalStateException("boom")), false)
      eq((c.attempted.get, c.failed.get), (5L, 4L))
    }

    test("live fixture: a cold query's jobs land on route, fetch and label") {
      val spark = Main.session(2, work)
      try {
        val tracer = new Tracer(true, spark.sparkContext)
        val c = Gen.corpus(7L, 40, Gen.Shape(turnsPerConv = 2, vocab = 200))
        val root = s"$work/fixture"
        tracer.span("fullBuild", "build") {
          new IndexWriter(spark, root, Main.BenchConf).fullBuild(spark.createDataFrame(c.turns.toSeq), "b0")
        }
        val r = new IndexReader(spark, root, Main.BenchConf)
        val rows = tracer.span("query", "query")(r.bm25TopKRows(Seq("w1", "w2"), 5))
        eq(rows.length, 5)
        val jobs = tracer.jobs
        val keyed = jobs.map(j => Attribution.attribute(j.family, j.short, j.long))
        val q = keyed.filter(_._1.startsWith("query.")).map(_._1).toSet
        if (q != Set("query.route", "query.fetch", "query.label"))
          throw new AssertionError(s"query jobs went to $q: " + jobs.filter(_.family == "query")
            .map(j => s"${j.short} -> ${Attribution.attribute(j.family, j.short, j.long)._1}")
            .mkString(" | "))
        val b = keyed.filter(_._1.startsWith("build.")).map(_._1).toSet
        eq(Set("build.forward", "build.segment_write", "build.commit").subsetOf(b), true)
        tracer.close()
      } finally spark.stop()
    }

    println(if (failures == 0) "all bench helper tests passed" else s"$failures test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
