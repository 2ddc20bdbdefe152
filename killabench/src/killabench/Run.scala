package killabench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import java.util.concurrent.locks.LockSupport

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode}

import killa.build.IndexWriter
import killa.codec.{Delta, Varint}
import killa.maintain.IndexMaintainer
import killa.model.PostingBlock
import killa.query.{Bm25, BruteForce, Daat, IndexReader}
import killa.tokenize.Tokenize

/** What a workload hands back to [[Main]]. */
final case class Out(metrics: ListMap[String, M], stamp: ListMap[String, Any],
    layers: Seq[ListMap[String, Any]], jobs: Seq[JobRec])

/** The workloads. Both build their index in set-up through the same
  * `IndexWriter.fullBuild`, then measure for `--seconds`:
  *  - serve-hot: the set-up build runs in a JVM warmed by a small build
  *    first (write rate and freshness). Then a warm reader over a fixed
  *    query set whose blocks fit the block cache, so every measured query
  *    runs in the reader's JVM with no Spark job: one client thread
  *    alternates closed-loop windows (capacity) with open-loop windows at a
  *    fixed rate (latency), a run reporting the median window;
  *  - maintain: maintenance batches through `applyChangesDf`, a freshly
  *    opened reader checking read-your-writes after each one, while one
  *    client runs the serve-hot mix at a fixed rate against the latest
  *    warmed snapshot.
  * Every time is normalized to the host's speed over it (see [[Speedometer]]).
  */
final class Run(spark: SparkSession, tracer: Tracer, checks: Checks, a: Main.Args,
    cores: Int, jvmStartMs: Long, speed: Speedometer) {
  import spark.implicits._
  import Run._

  private val conf = Main.BenchConf
  private val shape = Gen.Shape()
  private val root = s"${a.work}/index"

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private def open(dir: String = root): IndexReader =
    tracer.span("open", "store")(new IndexReader(spark, dir, conf))

  /** A build's wall and freshness, s, and the host's speed factor over it. */
  private final case class Built(wallS: Double, freshS: Double, factor: Double)

  /** One `fullBuild` into `dir`, then a freshly opened reader must return
    * the build's marker documents; freshness runs from the call to that
    * answer. Builds run with adaptive execution on, the session default.
    * The traced run's build.* metrics are over the builds of `family` "build".
    */
  private def build(c: Gen.Corpus, turns: DataFrame, nConvs: Int, dir: String,
      family: String = "build"): Built = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val t0 = System.nanoTime()
    val m = tracer.span("fullBuild", family) {
      new IndexWriter(spark, dir, conf).fullBuild(turns, "b0")
    }
    val wall = secs(t0)
    val n = tracer.span("query", "warm")(open(dir).membershipCount(Gen.BuildMarker))
    val fresh = secs(t0)
    val want = Gen.expectedBuildMarkers(nConvs, shape)
    checks.check(s"build: $n docs hold the build marker, generator put it in $want")(n == want)
    checks.check(s"build: manifest numDocs ${m.map(_.numDocs)} vs ${c.numDocs}")(
      m.exists(_.numDocs == c.numDocs))
    checks.check(s"build: manifest totalTokens ${m.map(_.totalTokens)} vs ${c.totalTokens}")(
      m.exists(_.totalTokens == c.totalTokens))
    Built(wall, fresh, speed.factor(t0, System.nanoTime()))
  }

  private def frame(c: Gen.Corpus): DataFrame = {
    val df = spark.createDataFrame(c.turns.toSeq).persist()
    mark("frame")
    df.count()
    df
  }

  /** A query set served by one reader. A query's first answer is its
    * reference; every later answer from the same snapshot must equal it.
    */
  private final class Served(val reader: IndexReader, val queries: IndexedSeq[Seq[String]]) {
    val ref = new Array[Array[(String, Double)]](queries.length)
    def n: Int = queries.length

    /** Fill the reader's caches, then record each query's reference answer.
      * One query over every term of the set with a k past the number of
      * matches fetches all their blocks and labels in one round of jobs, so
      * the per-query answers that follow run from the caches.
      */
    def warm(family: String): Unit = {
      tracer.span("query", family)(reader.bm25TopKRows(queries.flatten.distinct, WarmK))
      queries.indices.foreach { i =>
        ref(i) = tracer.span("query", family, i)(reader.bm25TopKRows(queries(i), K))
      }
    }

    def run(i: Int, op: Long, traced: Boolean = true): Boolean =
      checks.check(s"query ${queries(i).mkString(" ")}: answer changed within one snapshot") {
        val got =
          if (traced) tracer.span("query", "query", op)(reader.bm25TopKRows(queries(i), K))
          else reader.bm25TopKRows(queries(i), K)
        got.sameElements(ref(i))
      }
  }

  /** The serve-hot client: one thread, one seeded query stream. */
  private final class Client(s: Served, seed: Long) {
    private val rng = new SplittableRandom(seed)
    private var op = 0L
    val qps = Seq.newBuilder[Double]
    val wins = Seq.newBuilder[Stats.Summary]
    val latency = Seq.newBuilder[Double]
    val late = Seq.newBuilder[Double]
    val factors = Seq.newBuilder[Double]

    private def next(traced: Boolean): Boolean = { op += 1; s.run(rng.nextInt(s.n), op, traced) }

    /** Queries back to back for `durS`; completed queries per second. */
    def closed(durS: Double, traced: Boolean = true): Double = {
      val t0 = System.nanoTime()
      val end = t0 + (durS * 1e9).toLong
      var n = 0L
      var now = t0
      while (now < end) { next(traced); n += 1; now = System.nanoTime() }
      n / ((now - t0) / 1e9)
    }

    /** Queries due at `rate` for `durS`, each run when due — or at once,
      * behind the previous one, when late; latency from the due time.
      */
    def open(rate: Double, durS: Double, traced: Boolean = true): Seq[OpenLoop.Sample] = {
      val t0 = System.nanoTime() + SpinNs
      (0L until (rate * durS).toLong).map { i =>
        val due = t0 + OpenLoop.dueNs(i, rate)
        val sent = waitUntil(due)
        val ok = next(traced)
        OpenLoop.Sample(due - t0, sent - t0, System.nanoTime() - t0, ok)
      }
    }

    /** Alternate closed and open windows until `endNs`, at least one of
      * each; a warm-up (not `measured`) records nothing and opens no spans.
      */
    def windows(endNs: Long, measured: Boolean = true): Unit = {
      var first = true
      while (first || System.nanoTime() + ((ClosedWindowS + OpenWindowS) * 1e9).toLong <= endNs) {
        first = false
        // this thread's core's speed, just before the windows it scales
        val f = Speed.local()
        val q = closed(ClosedWindowS, measured)
        val xs = open(OpenLoopRate, OpenWindowS, measured)
        val lat = xs.map(OpenLoop.latencyMs)
        if (measured) {
          factors += f
          qps += q
          wins += Stats.summarize(lat, maxP = TailP)
          latency ++= lat
          late ++= xs.map(OpenLoop.lateMs)
        }
      }
    }
  }

  /** Top-k rows of a sample of queries vs the brute-force oracle. */
  private def oracleCheck(s: Served, turns: DataFrame, sample: Seq[Int]): Unit = sample.foreach { i =>
    val want = tracer.span("oracle", "check") {
      BruteForce.bm25(turns, s.queries(i), K, conf = conf).collect()
        .map(r => (r.getString(0), r.getDouble(1)))
    }
    checks.check(s"oracle q=${s.queries(i).mkString(" ")}: " +
      Checks.topKDiff(s.ref(i).toSeq, want.toSeq).getOrElse("")) {
      Checks.topKDiff(s.ref(i).toSeq, want.toSeq).isEmpty
    }
  }

  private def ladder(xs: Seq[Double]): ListMap[String, Double] =
    ListMap(Seq(50.0, 90.0, 95.0, 99.0).map(p => s"p$p" -> Stats.percentile(xs, p)): _*)

  private def setupSeconds: Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** Seconds since JVM start at each named set-up step, for the stamp. */
  private val marks = ListMap.newBuilder[String, Double]
  private def mark(step: String): Unit = marks += step -> setupSeconds

  private def corpusStamp(c: Gen.Corpus, qs: IndexedSeq[Seq[String]]): ListMap[String, Any] = {
    val dfs = qs.flatten.distinct.map(c.df(_))
    ListMap("conversations" -> c.numDocs, "turns" -> c.turns.length,
      "tokens" -> c.totalTokens, "text_bytes" -> c.textBytes,
      "distinct_terms" -> c.distinctTerms, "queries" -> qs.length,
      "query_terms" -> dfs.length, "query_df_min" -> dfs.min, "query_df_max" -> dfs.max)
  }

  def serveHot(): Out = {
    mark("session")
    val c = Gen.corpus(a.seed, ServeConvs, shape)
    mark("generated")
    val turns = frame(c)
    mark("corpus")
    // a first, small build warms the JIT and Spark's code generation, so
    // the measured build below runs in a warm JVM
    val small = Gen.corpus(a.seed + 1, WarmUpConvs, shape)
    build(small, spark.createDataFrame(small.turns.toSeq), WarmUpConvs, s"$root-warm",
      family = "setup")
    FileUtils.deleteDirectory(new java.io.File(s"$root-warm"))
    mark("warm-up build")
    val built = build(c, turns, ServeConvs, root)
    mark("build")
    // serving runs with AQE off, as in graft.Bench: its re-planning adds
    // jobs to cold queries and helps nothing on these small plans
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val s = new Served(open(), Gen.querySet(a.seed, c))
    s.warm("warm")
    mark("warm")
    // the build's garbage is collected here, not inside a query window
    System.gc()
    val client = new Client(s, a.seed * 31)
    client.windows(System.nanoTime() + (WarmUpS * 1e9).toLong, measured = false) // JIT
    val setupS = setupSeconds
    val setupF = speed.factor(Long.MinValue, System.nanoTime())

    client.windows(System.nanoTime() + (a.seconds * 1e9).toLong)
    val liveHeap = Env.liveHeapMb
    mark("measured")
    val lats = client.latency.result()
    val wins = client.wins.result()
    val qps = client.qps.result()
    val late = Stats.summarize(client.late.result(), maxP = 99.0)
    oracleCheck(s, turns, Seq(java.lang.Math.floorMod(a.seed, s.n.toLong).toInt))
    mark("checked")

    val storeBytes = Env.dirBytes(root)
    val f = client.factors.result()
    val e2e = ListMap(
      "setup_s" -> M(setupS / setupF, "s"),
      "write_turns_per_s" -> M(c.turns.length / (built.wallS / built.factor), "turns/s"),
      "freshness_s" -> M(built.freshS / built.factor, "s"),
      "store_bytes_per_text_byte" -> M(storeBytes.toDouble / c.textBytes, "B/B"),
      "query_p50_ms" -> M(Stats.median(wins.zip(f).map { case (w, x) => w.median / x }), "ms"),
      "query_p75_ms" -> M(Stats.median(wins.zip(f).map { case (w, x) => w.tail / x }), "ms"),
      "query_qps" -> M(Stats.median(qps.zip(f).map { case (q, x) => q * x }), "1/s"),
      "live_heap_mb" -> M(liveHeap, "MB"))
    val stamp = ListMap[String, Any]("corpus" -> corpusStamp(c, s.queries),
      "latency_ms_by_percentile" -> ladder(lats), "open_loop_rate" -> OpenLoopRate,
      "open_loop_samples" -> lats.length, "latency_tail_percentile" -> wins.map(_.tailP).min,
      "raw" -> ListMap("setup_s" -> setupS, "build_s" -> built.wallS,
        "freshness_s" -> built.freshS, "query_p50_ms" -> Stats.median(wins.map(_.median)),
        "query_p75_ms" -> Stats.median(wins.map(_.tail)), "query_qps" -> Stats.median(qps)),
      "speed_factor" -> ListMap("setup" -> setupF, "build" -> built.factor,
        "query_windows" -> f),
      "windows" -> ListMap("qps" -> qps, "p50_ms" -> wins.map(_.median),
        "p75_ms" -> wins.map(_.tail)),
      "open_loop_late_ms_p99" -> late.tail,
      "peak_rss_mb" -> Env.peakRssMb, "clients" -> 1,
      "seconds_since_jvm_start" -> marks.result())
    finish(e2e, stamp, Traced(turns, s, Seq(built.wallS), late.tail, 0, 0.0,
      storeBytes.toDouble / c.textBytes))
  }

  def maintain(): Out = {
    mark("session")
    val c = Gen.corpus(a.seed, MaintConvs, shape)
    mark("generated")
    val turns = frame(c)
    mark("corpus")
    val built = build(c, turns, MaintConvs, root)
    mark("build")
    val batches = Gen.batches(a.seed, MaintConvs, shape, MaxBatches, BatchUpdates,
      BatchInserts, BatchDeletes)
    val qs = Gen.querySet(a.seed, c)
    val first = new Served(open(), qs)
    first.warm("warm")
    val setupS = setupSeconds
    val setupF = speed.factor(Long.MinValue, System.nanoTime())

    val current = new AtomicReference[Served](first)
    val stop = new AtomicBoolean(false)
    val lat = new ConcurrentLinkedQueue[(Long, Double)]() // (due ns, latency ms)
    val late = new ConcurrentLinkedQueue[Double]()
    val cal = new ConcurrentLinkedQueue[(Long, Double)]() // (ns from client start, factor)
    // the one reader client: hot queries on the current snapshot, due at a
    // fixed rate; a query that runs late delays the ones due behind it, and
    // latency runs from each query's due time
    val client = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "client-0")
      val rng = new SplittableRandom(a.seed * 31)
      val t0 = System.nanoTime()
      var op = 0L
      var lastCal = -CalEveryNs
      while (!stop.get()) {
        val due = t0 + OpenLoop.dueNs(op, MaintClientRate)
        val sent = waitUntil(due)
        val s = current.get()
        val ok = s.run(rng.nextInt(s.n), op)
        val x = OpenLoop.Sample(due - t0, sent - t0, System.nanoTime() - t0, ok)
        lat.add((x.dueNs, OpenLoop.latencyMs(x)))
        late.add(OpenLoop.lateMs(x))
        op += 1
        // this thread's core's speed, a few times per window, in the idle
        // time before the next query is due
        val now = System.nanoTime() - t0
        if (now - lastCal >= CalEveryNs && OpenLoop.dueNs(op, MaintClientRate) - now > 3 * SpinNs) {
          cal.add((now, Speed.sortMs() / Speed.RefMs))
          lastCal = now
        }
      }
    })
    // the client's warmer: opens each new snapshot, answers the query set
    // once (filling its caches) and only then swaps it in
    val flips = new LinkedBlockingQueue[Integer]()
    val warmer = new Thread(() => {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", "warmer")
      while (!stop.get()) {
        if (flips.poll(20, TimeUnit.MILLISECONDS) != null) {
          val s = new Served(open(), qs)
          checks.check("warm the new snapshot") { s.warm("query"); true }
          current.set(s)
        }
      }
    })
    val bytes0 = Env.dirBytes(root)
    val baseBytes = c.turns.groupBy(_.conv_id).map { case (k, ts) =>
      k -> ts.map(_.text.getBytes("UTF-8").length.toLong).sum
    }
    var liveBytes = c.textBytes
    var liveDocs = c.numDocs
    val maintainer = new IndexMaintainer(spark, root, conf)
    client.start()
    warmer.start()
    val t0 = System.nanoTime()
    var done = 0
    var changedTurns = 0L
    var changedBytes = 0L
    val walls = Seq.newBuilder[Double]
    val fresh = Seq.newBuilder[Double]
    val factors = Seq.newBuilder[Double]
    // a batch starts only if it is expected to end within --seconds, so the
    // number of batches (whose cost grows with the log) is the same run to run
    def more: Boolean = done < batches.length &&
      (done < MinBatches || secs(t0) * (done + 1) / done <= a.seconds)
    try {
      while (more) {
        // the client moves to the previous batch's snapshot while this one runs
        if (done > 0) flips.put(done - 1)
        val b = batches(done)
        val changedDf = spark.createDataFrame(b.changed.toSeq)
        val deletes = b.deleted.toDF("conv_id")
        val tb = System.nanoTime()
        tracer.span("applyChangesDf", "maint", b.index) {
          maintainer.applyChangesDf(changedDf, Some(deletes), batchId = s"d${b.index}")
        }
        walls += secs(tb)
        val r = open()
        val rows = tracer.span("query", "query", b.index)(
          r.bm25TopKRows(Seq(b.marker), b.expectedMarker.toInt + K))
        fresh += secs(tb)
        factors += speed.factor(tb, System.nanoTime())
        val want = (b.updated ++ b.inserted).toSet
        liveDocs += b.inserted.length - b.deleted.length
        liveBytes += b.changedTextBytes - (b.updated ++ b.deleted).map(baseBytes).sum
        checks.check(s"batch ${b.index}: marker rows ${rows.map(_._1).toSet.diff(want)}")(
          rows.map(_._1).toSet == want)
        checks.check(s"batch ${b.index}: marker count")(
          tracer.span("query", "query", b.index)(r.membershipCount(b.marker)) == b.expectedMarker)
        checks.check(s"batch ${b.index}: deleted conversations still answer")(
          tracer.span("query", "query", b.index)(
            r.bm25TopKRows(b.deleted.map(Gen.uniqueTerm(_, 0)), b.deleted.length)).isEmpty)
        checks.check(s"batch ${b.index}: numDocs ${r.manifest.map(_.numDocs)} vs $liveDocs")(
          r.manifest.exists(_.numDocs == liveDocs))
        changedTurns += b.changed.length + b.deleted.length * shape.turnsPerConv
        changedBytes += b.changedTextBytes
        done += 1
      }
    } finally {
      stop.set(true)
      client.join()
      warmer.join()
    }
    val measuredS = secs(t0)
    mark("measured")
    checks.check(s"$done batches, at least $MinBatches")(done >= MinBatches)
    val liveHeap = Env.liveHeapMb
    val samples = lat.asScala.toSeq
    val winNs = (MaintWindowS * 1e9).toLong
    // full windows only: a tail needs its samples
    val minN = (MaintClientRate * MaintWindowS * 0.75).toInt
    val wins = Stats.windows(samples, winNs, TailP, minN)
    // each window's speed factor: the client's own samples in it
    val cals = cal.asScala.toSeq
    val calAll = Stats.median(cals.map(_._2))
    val winF = samples.groupBy(_._1 / winNs).toSeq.sortBy(_._1)
      .filter(_._2.length >= minN).map { case (w, _) =>
        val in = cals.filter(_._1 / winNs == w).map(_._2)
        if (in.isEmpty) calAll else Stats.median(in)
      }
    val q = Stats.summarize(samples.map(_._2), maxP = TailP)
    val storeBytes = Env.dirBytes(root)
    val bw = walls.result(); val bf = factors.result()
    val e2e = ListMap(
      "setup_s" -> M(setupS / setupF, "s"),
      "write_turns_per_s" -> M(changedTurns / bw.zip(bf).map { case (w, x) => w / x }.sum, "turns/s"),
      "freshness_s" -> M(Stats.median(fresh.result().zip(bf).map { case (w, x) => w / x }), "s"),
      "store_bytes_per_text_byte" -> M(storeBytes.toDouble / liveBytes, "B/B"),
      "query_p50_ms" -> M(Stats.median(wins.zip(winF).map { case (w, x) => w.median / x }), "ms"),
      "query_p75_ms" -> M(Stats.median(wins.zip(winF).map { case (w, x) => w.tail / x }), "ms"),
      "query_qps" -> M(q.n / measuredS, "1/s"),
      "live_heap_mb" -> M(liveHeap, "MB"))
    val stamp = ListMap[String, Any]("corpus" -> corpusStamp(c, qs), "batches" -> done,
      "batch_s" -> walls.result(), "batch_updates" -> BatchUpdates,
      "batch_inserts" -> BatchInserts, "batch_deletes" -> BatchDeletes,
      "changed_turns" -> changedTurns, "client_rate" -> MaintClientRate,
      "client_samples" -> q.n, "latency_windows" -> wins.length,
      "latency_tail_percentile" -> wins.map(_.tailP).min,
      "latency_ms_by_percentile" -> ladder(samples.map(_._2)),
      "raw" -> ListMap("setup_s" -> setupS, "batch_s" -> bw, "freshness_s" -> fresh.result(),
        "query_p50_ms" -> Stats.median(wins.map(_.median)),
        "query_p75_ms" -> Stats.median(wins.map(_.tail))),
      "speed_factor" -> ListMap("setup" -> setupF, "batches" -> bf, "query_windows" -> winF),
      "windows" -> ListMap("p50_ms" -> wins.map(_.median), "p75_ms" -> wins.map(_.tail)),
      "peak_rss_mb" -> Env.peakRssMb,
      "build_turns_per_s" -> c.turns.length / built.wallS, "build_freshness_s" -> built.freshS,
      "seconds_since_jvm_start" -> marks.result())
    finish(e2e, stamp, Traced(turns, current.get(), Seq(built.wallS),
      Stats.summarize(late.asScala.toSeq, maxP = 99.0).tail, done,
      (storeBytes - bytes0).toDouble / changedBytes, 0.0))
  }

  /** Inputs of the traced run's per-layer table. */
  private final case class Traced(turns: DataFrame, served: Served, buildWallsS: Seq[Double],
      lateP99Ms: Double, batches: Int, maintWrittenPerChanged: Double,
      buildWrittenPerText: Double)

  private def finish(e2e: ListMap[String, M], stamp: ListMap[String, Any], t: Traced): Out =
    if (!a.trace) Out(e2e, stamp, Nil, Nil)
    else {
      val (layers, jobs) = layerMetrics(t)
      Out(layers.map { case (k, (m, _)) => k -> m }, stamp ++ ListMap("end_to_end" -> e2e.map {
        case (k, m) => k -> m.value }), layers.map { case (k, (m, moves)) =>
        ListMap[String, Any]("metric" -> k, "value" -> m.value, "unit" -> m.unit, "moves" -> moves)
      }.toSeq, jobs)
    }

  /** Union length of [start, end) intervals, ms. */
  private def busyMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** Run `f` repeatedly for ~`budgetMs`; mean ms per call. */
  private def timeLoop(budgetMs: Double)(f: => Unit): Double = {
    f
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || ms(t0) < budgetMs) { f; n += 1 }
    ms(t0) / n
  }

  private def layerMetrics(t: Traced): (ListMap[String, (M, String)], Seq[JobRec]) = {
    val s = t.served
    // replays, outside any measured phase: the query set's blocks and weights
    val m = s.reader.manifest.get
    val blocks: IndexedSeq[Array[Array[PostingBlock]]] = s.queries.map(_.map { term =>
      s.reader.postingBlocks(term).collect().sortBy(_.firstDoc)
    }.toArray)
    val weights = blocks.map(_.map(bs => if (bs.isEmpty) 0.0 else Bm25.weight(m.numDocs, bs(0).df, conf.k1)))
    val daatMs = timeLoop(300) {
      blocks.indices.foreach { i =>
        Daat.scoreRange(blocks(i), weights(i), -1L, Long.MaxValue, K, false, conf.k1, conf.b,
          m.avgdl).foreach(_ => ())
      }
    } / blocks.length
    val distinct = s.queries.flatten.distinct.map(term =>
      s.reader.postingBlocks(term).collect()).flatten
    val encBytes = distinct.map(b => b.docsBin.length + b.tfsBin.length + b.dlsBin.length).sum
    val decoded = distinct.map(b =>
      (Delta.decode(b.docsBin, b.n), Varint.decode(b.tfsBin, b.n), Varint.decode(b.dlsBin, b.n)))
    val decMs = timeLoop(300) {
      distinct.foreach { b =>
        Delta.decode(b.docsBin, b.n); Varint.decode(b.tfsBin, b.n); Varint.decode(b.dlsBin, b.n)
      }
    }
    val encMs = timeLoop(300) {
      decoded.foreach { case (d, tf, dl) => Delta.encode(d); Varint.encode(tf); Varint.encode(dl) }
    }
    val tokS = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      t.turns.select(explode(Tokenize.termsCol(col("text")))).write.format("noop")
        .mode("overwrite").save()
      secs(t0)
    })
    // tracing overhead: the same warm query loop with spans off and on,
    // alternated so drift in the machine's speed hits both sides alike
    val cl = new Client(s, a.seed * 7)
    val ab = (0 until 3).map(_ => (cl.closed(0.8, traced = false), cl.closed(0.8, traced = true)))
    val qpsOff = Stats.median(ab.map(_._1))
    val qpsOn = Stats.median(ab.map(_._2))

    val jobs = tracer.jobs
    val spans = tracer.spans
    val keyed = jobs.map(j => (j, Attribution.attribute(j.family, j.short, j.long)))
    def busyS(key: String) = busyMs(keyed.collect { case (j, (k, _)) if k == key => (j.startMs, j.endMs) }) / 1000.0
    def fam(f: String) = jobs.filter(_.family == f)

    // build.* are per build, averaged over the run's builds
    val nBuilds = t.buildWallsS.length
    val bJobs = fam("build")
    val bNamed = busyMs(keyed.collect { case (j, (k, true)) if j.family == "build" => (j.startMs, j.endMs) }) / 1000.0 / nBuilds
    val bWall = t.buildWallsS.sum / nBuilds
    val batchSpans = spans.filter(x => x.family == "maint" && x.name == "applyChangesDf")
    val nb = math.max(1, batchSpans.length)
    val mWall = batchSpans.map(_.ms).sum / 1000.0
    val mNamed = busyMs(keyed.collect { case (j, (k, true)) if j.family == "maint" => (j.startMs, j.endMs) }) / 1000.0
    val qSpans = spans.filter(x => x.family == "query" && x.name == "query")
    val jobsBySpan = jobs.groupBy(_.span)
    val cold = qSpans.filter(x => jobsBySpan.contains(x.id))
    val nCold = math.max(1, cold.length)
    def perCold(key: String): Double = keyed.collect {
      case (j, (k, _)) if k == key && cold.exists(_.id == j.span) => j.wallMs.toDouble
    }.sum / nCold
    val coldJobs = cold.map(x => jobsBySpan(x.id).length).sum
    val route = perCold("query.route"); val fetch = perCold("query.fetch")
    val label = perCold("query.label")
    val coldWall = cold.map(_.ms).sum / nCold
    val opens = spans.filter(_.name == "open").map(_.ms)
    val others = keyed.count { case (j, (_, named)) =>
      !named && Set("build", "maint", "query").contains(j.family) }

    val L = ListMap.newBuilder[String, (M, String)]
    def put(k: String, v: Double, unit: String, moves: String) = L += k -> (M(v, unit), moves)
    val bld = "write_turns_per_s, freshness_s on serve-hot"
    put("build.forward_s", busyS("build.forward") / nBuilds, "s", bld)
    put("build.segment_write_s", busyS("build.segment_write") / nBuilds, "s", bld)
    put("build.commit_s", busyS("build.commit") / nBuilds, "s", bld)
    put("build.other_s", math.max(0.0, bWall - bNamed), "s", bld)
    put("build.covered_frac", if (bWall > 0) bNamed / bWall else 0.0, "frac", bld)
    put("build.core_s", bJobs.map(_.runMs).sum / 1000.0 / nBuilds, "s", bld)
    put("build.cpu_util", if (bWall > 0) bJobs.map(_.cpuNs).sum / 1e9 / nBuilds / (bWall * cores) else 0.0, "frac", bld)
    put("build.shuffle_mb", bJobs.map(_.shuffleBytes).sum / 1e6 / nBuilds, "MB", bld)
    put("build.spill_mb", bJobs.map(_.spillBytes).sum / 1e6 / nBuilds, "MB", bld)
    put("build.jobs", bJobs.length.toDouble / nBuilds, "count", bld)
    put("tokenize.s", tokS, "s", bld)
    put("codec.decode_mb_per_s", encBytes / 1e6 / (decMs / 1000.0), "MB/s", "query_qps, query_p50_ms on serve-hot")
    put("codec.encode_mb_per_s", encBytes / 1e6 / (encMs / 1000.0), "MB/s", bld)
    put("query.daat_ms", daatMs, "ms", "query_qps, query_p75_ms on serve-hot")
    put("query.blocks_per_query", blocks.map(_.map(_.length).sum).sum.toDouble / blocks.length, "count",
      "query_qps, query_p75_ms on serve-hot")
    put("query.zero_job_frac", if (qSpans.isEmpty) 0.0 else 1.0 - cold.length.toDouble / qSpans.length,
      "frac", "query_qps, query_p75_ms on serve-hot")
    val coldMoves = "freshness_s, query_p75_ms on maintain"
    put("query.jobs_per_query", if (cold.isEmpty) 0.0 else coldJobs.toDouble / nCold, "count", coldMoves)
    put("query.route_ms", route, "ms", coldMoves)
    put("query.fetch_ms", fetch, "ms", coldMoves)
    put("query.label_ms", label, "ms", coldMoves)
    put("query.other_ms", if (cold.isEmpty) 0.0 else math.max(0.0, coldWall - route - fetch - label), "ms", coldMoves)
    put("store.reader_open_ms", if (opens.isEmpty) 0.0 else Stats.median(opens), "ms", "freshness_s on maintain")
    put("store.files", Env.fileCount(root).toDouble, "count", "freshness_s on maintain")
    put("store.bytes_written_per_changed_byte",
      if (t.batches > 0) t.maintWrittenPerChanged else t.buildWrittenPerText, "B/B",
      "store_bytes_per_text_byte, write_turns_per_s on maintain")
    val mnt = "write_turns_per_s, freshness_s on maintain"
    put("maint.resolve_s", busyS("maint.resolve") / nb, "s", mnt)
    put("maint.rewrite_s", busyS("maint.rewrite") / nb, "s", mnt)
    put("maint.commit_s", busyS("maint.commit") / nb, "s", mnt)
    put("maint.compact_s", busyS("maint.compact") / nb, "s", mnt)
    put("maint.other_s", math.max(0.0, mWall - mNamed) / nb, "s", mnt)
    put("maint.covered_frac", if (mWall > 0) mNamed / mWall else 0.0, "frac", mnt)
    put("maint.jobs_per_batch", if (batchSpans.isEmpty) 0.0 else fam("maint").length.toDouble / nb, "count", mnt)
    put("gen.late_ms_p99", t.lateP99Ms, "ms", "validity: open-loop generator lateness")
    put("trace.overhead_frac", if (qpsOn > 0) qpsOff / qpsOn - 1.0 else 0.0, "frac",
      "validity: query loop with spans on vs off")
    put("trace.other_jobs", others.toDouble, "count", "validity: jobs at unattributed call sites")
    (L.result(), jobs)
  }
}

object Run {
  val K = 10
  // sizes for a 4-core / 16 GB machine: each run, set-up included, must
  // stay well under a minute
  val ServeConvs = 2000
  val MaintConvs = 1000
  /** The latency tail the end-to-end metrics gate. On a shared 4-core VM,
    * p99 of the sub-millisecond hot queries swung 0.5–4 ms between runs of
    * one tree. The maintain client shares the cores with the batch's work:
    * its windows' p90 ranged 0.3–5 ms within a run, depending on the batch
    * phase a window met, and its run median moved by a quarter from run to
    * run; p75 held within a tenth. p90, p95 and p99 over all samples are
    * kept in each result's stamp.
    */
  val TailP = 75.0
  /** Serve-hot client windows, s: a run reports the median window. */
  val ClosedWindowS = 0.25
  val OpenWindowS = 0.5
  /** Serve-hot client warm-up in set-up (JIT), s. */
  val WarmUpS = 1.0
  /** Conversations of serve-hot's warm-up build. */
  val WarmUpConvs = 200
  /** A client parks until this long before a query is due, then spins, so
    * a late thread wake-up on a busy host is not charged to the engine.
    */
  val SpinNs = 1000000L
  /** Window of the maintain client's latency, s. */
  val MaintWindowS = 1.0
  /** How often the maintain client samples its core's speed, ns. */
  val CalEveryNs = 200000000L
  /** k of the warm-up query: past every match of the query set's terms. */
  val WarmK = 10000
  /** Open-loop rate, q/s: about a fifth of the one client's closed-loop
    * capacity on a 4-core VM (about 10k q/s), low enough that queueing
    * behind a GC pause does not set the tail.
    */
  val OpenLoopRate = 2000.0
  /** Batches per maintain run, at least; more only while --seconds allow. */
  val MinBatches = 2
  /** Rate of the maintain workload's reader client, q/s. */
  val MaintClientRate = 200.0
  val MaxBatches = 6
  val BatchUpdates = 40
  val BatchInserts = 20
  val BatchDeletes = 10

  /** Wait until `due` (System.nanoTime): park until [[SpinNs]] before it,
    * then spin. Returns the time the wait ended.
    */
  def waitUntil(due: Long): Long = {
    var now = System.nanoTime()
    if (due - now > SpinNs) { LockSupport.parkNanos(due - now - SpinNs); now = System.nanoTime() }
    while (now < due) { Thread.onSpinWait(); now = System.nanoTime() }
    now
  }
}

