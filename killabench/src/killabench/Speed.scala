package killabench

import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** The host's speed, for normalizing the bench's times.
  *
  * The bench runs on a few cores of a shared host whose speed per core
  * swings by a third and more, in spells that can outlast a run (other
  * tenants, frequency). A wall time measured on it mixes the engine's cost
  * with the host's speed at that moment. The speedometer times a fixed,
  * engine-independent task — sorting the same 16k pseudo-random ints — in
  * thread CPU time (so waiting for a core is not counted as slowness, and
  * the engine's own load on the cores does not move it) every
  * [[Speed.PeriodMs]] on a thread of its own. A time measured over an
  * interval is divided by the speed factor of that interval: the median
  * sort time in it over the reference [[Speed.RefMs]]. A client thread
  * times the sort itself instead ([[Speed.local]]): the host's speed differs
  * from core to core, and its own core is the one its queries run on. Raw
  * figures stay in each result's stamp.
  */
final class Speedometer {
  private val samples = new ConcurrentLinkedQueue[(Long, Double)]() // (nanoTime, ms)
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      samples.add((System.nanoTime(), Speed.sortMs()))
      Thread.sleep(Speed.PeriodMs)
    }
  }, "killabench-speedometer")
  thread.setDaemon(true)
  thread.start()

  /** Speed factor over [t0, t1] (System.nanoTime): > 1 when the host ran
    * slower than the reference. The nearest samples when none fall inside.
    */
  def factor(t0: Long, t1: Long): Double = Speed.factor(samples.asScala.toSeq, t0, t1)

  def all: Seq[Double] = samples.asScala.toSeq.map(_._2)

  def stop(): Unit = { running = false; thread.join() }
}

object Speed {
  /** Sort time of the reference host, ms: the unit of every normalized time. */
  val RefMs = 1.0
  val PeriodMs = 100L

  /** Speed factor over [t0, t1] of (time, sort ms) samples: their median
    * over [[RefMs]]; the 3 samples nearest the interval when none is in it.
    */
  def factor(samples: Seq[(Long, Double)], t0: Long, t1: Long): Double = {
    require(samples.nonEmpty, "no speed samples")
    val in = samples.filter { case (t, _) => t >= t0 && t <= t1 }
    val mid = t0 / 2 + t1 / 2
    val xs = if (in.nonEmpty) in else samples.sortBy { case (t, _) => math.abs(t - mid) }.take(3)
    Stats.median(xs.map(_._2)) / RefMs
  }

  private val Input: Array[Int] = {
    val r = new SplittableRandom(1)
    Array.fill(16384)(r.nextInt())
  }
  private val mx = ManagementFactory.getThreadMXBean

  /** Speed factor of the calling thread's core now (median of 5 sorts):
    * for one thread's own work, which runs on that core.
    */
  def local(): Double = Stats.median((0 until 5).map(_ => sortMs())) / RefMs

  /** Thread CPU ms of one sort of [[Input]]. */
  def sortMs(): Double = {
    val a = Input.clone()
    val t0 = mx.getCurrentThreadCpuTime
    java.util.Arrays.sort(a)
    (mx.getCurrentThreadCpuTime - t0) / 1e6
  }
}
