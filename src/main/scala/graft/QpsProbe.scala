package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import killa.query.IndexReader

/** Reader-replication scaling probe: one stateless serving frontend over an
  * existing on-disk index snapshot. Readers are snapshot-pinned and share
  * nothing, so query THROUGHPUT scales by adding frontends (each its own
  * driver) over the shared segment store — the standard search-serving
  * architecture — while executor count scales per-query latency of the big
  * fan-out queries. Run K instances pinned to disjoint core sets and sum
  * their printed qps: that ratio (vs one instance) is the horizontal
  * serving-scaling number the single-JVM bench cannot express (all of one
  * JVM's queries serialize through its lone DAGScheduler).
  *
  * Protocol (round 3, fixing the r2 0.68 artifact): every frontend warms up,
  * signals `ready-<id>` in the barrier dir, spins on `go`, then measures a
  * FIXED-duration window from the shared go instant — so all frontends'
  * windows cover the same wall-clock interval regardless of JVM start skew
  * (a late starter previously diluted the aggregate). Queries go through the
  * serving APIs (count fast path, rows top-k), not DataFrame materialization.
  *
  * args: <indexRoot> <cpus> <clients> <secs> <nConvs> [<barrierDir> <id>]
  */
object QpsProbe {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val cpus = args(1).toInt
    val clients = args(2).toInt
    val secs = args(3).toDouble
    val nConvs = args(4).toInt
    val barrier = if (args.length > 6) Some((args(5), args(6))) else None
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("killa-qps-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir",
        sys.env.getOrElse("KILLA_LOCAL_DIR", "/dev/shm/killa-shuffle"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val reader = new IndexReader(spark, root, Bench.conf)
    val queries: Seq[() => Long] = Seq(
      () => reader.membershipCount("the"),
      () => reader.membershipCount(s"uniq${nConvs / 2}_0"),
      () => reader.bm25TopKRows(Seq("the"), 10).length.toLong,
      () => reader.bm25TopKRows(Seq("query"), 10).length.toLong,
      () => reader.bm25TopKRows(Seq("query", "filter", "join"), 10).length.toLong,
      () => reader.bm25TopKRows(Seq("query", "filter"), 10, conjunctive = true).length.toLong)
    // warmup to STEADY STATE, not a fixed pass count: loop the mix for a
    // fixed duration (≥ 2 full passes) so C2 compilation of the DAAT kernel
    // and the reader's block/label caches settle BEFORE the measured window.
    // With only 2 passes (~1 s) the first seconds of a 12 s window were
    // still paying JIT on 2-core frontends, and how much of it landed
    // inside the window varied run to run — the dominant term in the
    // replication ratio's 0.65..1.0 spread across otherwise-clean runs.
    val warmupSecs = sys.env.getOrElse("KILLA_PROBE_WARMUP_SECS", "8").toDouble
    val warmDeadline = System.nanoTime() + (warmupSecs * 1e9).toLong
    var warmPasses = 0
    while (warmPasses < 2 || System.nanoTime() < warmDeadline) {
      queries.foreach(_.apply())
      warmPasses += 1
    }

    barrier.foreach { case (dir, id) =>
      val d = Paths.get(dir)
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"ready-$id"), "1")
      val go = d.resolve("go")
      while (!Files.exists(go)) Thread.sleep(20)
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val deadline = System.nanoTime() + (secs * 1e9).toLong
    val futures = (0 until clients).map { c =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client-$c")
          var n = 0L
          var qi = c // offset start so clients don't lockstep on one query
          while (System.nanoTime() < deadline) {
            queries(qi % queries.length).apply()
            n += 1; qi += 1
          }
          n
        }
      })
    }
    val total = futures.map(_.get()).sum
    val qps = total / secs
    pool.shutdown()
    println(f"""{"probe_qps":$qps%.2f,"cpus":$cpus,"clients":$clients,"queries":$total}""")
    spark.stop()
  }
}
