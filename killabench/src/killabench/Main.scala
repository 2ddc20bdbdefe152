package killabench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import killa.Conf

/** Output checks. Every checked operation counts as attempted; a wrong
  * answer or an exception counts as failed and fails the run.
  */
final class Checks {
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  private val notes = new ConcurrentLinkedQueue[String]()

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (notes.size < 50) notes.add(what)
  }

  /** Count one operation; false (or a throw) records a failure. */
  def check(what: => String)(ok: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val good = try ok catch {
      case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"); return false
    }
    if (!good) fail(what)
    good
  }

  def failures: Seq[String] = notes.toArray(Array.empty[String]).toSeq
}

object Checks {
  /** Engine top-k rows vs the brute-force oracle's: same conv_id order and
    * bit-equal scores. Returns the first difference, if any.
    */
  def topKDiff(got: Seq[(String, Double)], want: Seq[(String, Double)]): Option[String] =
    if (got.length != want.length) Some(s"${got.length} rows, oracle has ${want.length}")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((gc, gs), (wc, ws)), i) if gc != wc || gs != ws =>
        s"rank $i: ($gc, $gs) vs oracle ($wc, $ws)"
    }
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

object Main {
  /** The one engine configuration every workload runs: graft.Bench's values,
    * engine defaults for the rest.
    */
  val BenchConf: Conf = Conf(nBuckets = 32, rangeDocs = 131072, waveBuckets = 32, blockSize = 128)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, result: String)

  val Workloads = Seq("serve-hot", "maintain")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("result"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of $Workloads")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("killabench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // each client thread gets its own FAIR pool (as graft.Bench does), so
      // one client's jobs do not queue behind another's
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    // sampled before Spark starts, while this process is idle
    val extBusy = Env.externalBusyCores(500)
    val load1 = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    val cpu0 = Env.cpuJiffies
    val speed = new Speedometer
    val spark = session(cores, a.work)
    val checks = new Checks
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val run = new Run(spark, tracer, checks, a, cores, jvmStartMs, speed)
    val out =
      try a.workload match {
        case "serve-hot" => run.serveHot()
        case "maintain" => run.maintain()
      }
      finally {
        tracer.close()
        spark.stop()
        speed.stop()
      }
    val stamp = ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> cores, "mem_total_mb" -> Env.memTotalMb,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "conf" -> BenchConf,
      "ext_busy_cores_at_start" -> extBusy, "load1_at_start" -> load1,
      "steal_pct" -> Env.stealPct(cpu0, Env.cpuJiffies),
      "speed_sort_ms_by_percentile" -> ListMap(Seq(10.0, 50.0, 90.0).map(p =>
        s"p$p" -> Stats.percentile(speed.all, p)): _*)) ++ out.stamp
    val metrics = out.metrics.map { case (k, m) =>
      k -> ListMap("value" -> m.value, "unit" -> m.unit)
    }
    val result = ListMap[String, Any](
      "correct" -> (checks.failed.get == 0), "attempted" -> checks.attempted.get,
      "failed" -> checks.failed.get, "metrics" -> metrics,
      "stamp" -> stamp, "failures" -> checks.failures, "layers" -> out.layers)
    Files.writeString(Paths.get(a.result), Json(result))
    if (a.trace) Files.writeString(Paths.get(a.result.stripSuffix(".json") + "-spans.json"),
      Json(ListMap("spans" -> tracer.spans, "jobs" -> out.jobs)))
  }
}
