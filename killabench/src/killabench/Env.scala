package killabench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Readings of the machine and the process, for stamps and resource metrics. */
object Env {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)))) catch { case _: Exception => None }

  /** A `Key:   123 kB` field of a /proc file, in kB. */
  private def kb(file: String, key: String): Option[Long] =
    read(file).flatMap(_.split('\n').find(_.startsWith(key + ":")))
      .map(_.split("\\s+")(1).toLong)

  def memTotalMb: Long = kb("/proc/meminfo", "MemTotal").getOrElse(0L) / 1024
  /** Heap still in use after a full collection, MB: what the process keeps
    * live (caches, cached tables, the reader's working set).
    */
  def liveHeapMb: Double = {
    // twice, apart: Spark drops unpersisted blocks asynchronously
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb: Double = kb("/proc/self/status", "VmHWM").getOrElse(0L) / 1024.0

  /** (steal, total, busy) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuJiffies: (Long, Long, Long) = read("/proc/stat").map { s =>
    val f = s.split('\n')(0).trim.split("\\s+").drop(1).map(_.toLong)
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    (if (f.length > 7) f(7) else 0L, f.sum, f.sum - idle)
  }.getOrElse((0L, 1L, 0L))

  /** Busy cores of the whole machine over `ms` — sampled while this process
    * is idle, so they are other processes' load.
    */
  def externalBusyCores(ms: Int): Double = {
    val (_, t0, b0) = cpuJiffies
    Thread.sleep(ms.toLong)
    val (_, t1, b1) = cpuJiffies
    if (t1 > t0) (b1 - b0).toDouble / (t1 - t0) * Runtime.getRuntime.availableProcessors() else 0.0
  }

  def stealPct(from: (Long, Long, Long), to: (Long, Long, Long)): Double =
    if (to._2 > from._2) 100.0 * (to._1 - from._1) / (to._2 - from._2) else 0.0

  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }
  def dirBytes(root: String): Long = files(root).map(Files.size).sum
  def fileCount(root: String): Long = files(root).length.toLong
}

/** Just enough JSON output for the result and spans files. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      apply(p.productElementNames.zip(p.productIterator).toSeq
        .foldLeft(scala.collection.immutable.ListMap.empty[String, Any])(_ + _))
    case other => str(other.toString)
  }
}
