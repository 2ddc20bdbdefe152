package killabench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Maps a Spark job to the layer step that launched it.
  *
  * The key is the job's call site — the innermost `killa.*` frame of the
  * submitting stack (source file and method, never the line number, so an
  * edit that shifts lines cannot move time between layers) plus the action
  * Spark names in the short call site — read within the family of the bench
  * span that enclosed the engine call. A site no rule names lands in the
  * family's `other` step and is counted; nothing is dropped.
  */
object Attribution {
  final case class Site(file: String, method: String, action: String)

  private val Frame = """^\s*(?:at\s+)?(?:[^\s(]*/)?(killa\.[\w.$]+)\.([\w$]+)\(([\w.]+)(?::\d+)?\)\s*$""".r

  /** `$anonfun$fullBuild$2` / `fullBuild$1` / `fullBuild` → `fullBuild`. */
  private[killabench] def methodName(raw: String): String = {
    val parts = raw.split('$').filter(_.nonEmpty)
    val named = if (raw.startsWith("$anonfun$") || raw.startsWith("$anonfun"))
      parts.drop(1) else parts
    named.find(p => !p.forall(_.isDigit) && p != "anonfun" && p != "lzycompute")
      .getOrElse(raw)
  }

  /** Parse Spark's short ("collect at IndexReader.scala:4128") and long
    * (stack frames, innermost user frame first) call-site forms.
    */
  def site(short: String, long: String): Option[Site] = {
    val action = Option(short).map(_.trim.takeWhile(_ != ' ')).getOrElse("")
    Option(long).iterator.flatMap(_.split('\n')).collectFirst {
      case Frame(_, m, file) => Site(file, methodName(m), action)
    }
  }

  /** (file, method or "*", action or "*") → step, most specific first. */
  private val Rules: Seq[((String, String, String), String)] = Seq(
    ("IndexWriter.scala", "prepareForward", "*") -> "forward",
    ("Dict.scala", "*", "*") -> "forward",
    ("IndexWriter.scala", "buildBlocks", "*") -> "segment_write",
    ("IndexWriter.scala", "writeBlocks", "*") -> "segment_write",
    ("IndexWriter.scala", "bucketMetricsAndDicts", "*") -> "commit",
    ("IndexWriter.scala", "bucketMetrics", "*") -> "commit",
    ("IndexWriter.scala", "bucketDictSummaries", "*") -> "commit",
    ("Ledger.scala", "*", "*") -> "commit",
    ("IndexMaintainer.scala", "compact", "*") -> "compact",
    ("IndexMaintainer.scala", "applyChangesDf", "parquet") -> "commit",
    ("IndexMaintainer.scala", "applyChangesDf", "*") -> "resolve",
    ("IndexReader.scala", "blockCount", "*") -> "route",
    ("IndexReader.scala", "localTopK", "count") -> "route",
    ("IndexReader.scala", "localTopK", "collect") -> "fetch",
    ("IndexReader.scala", "membershipCount", "collect") -> "fetch",
    ("IndexReader.scala", "labelRows", "*") -> "label",
    // schema/listing jobs of the docs and forward log reads
    ("Logs.scala", "*", "*") -> "logs")

  /** The metric each (family, step) pair feeds. */
  private val Metrics: Map[(String, String), String] = Map(
    ("build", "forward") -> "build.forward",
    ("build", "segment_write") -> "build.segment_write",
    ("build", "commit") -> "build.commit",
    ("build", "logs") -> "build.forward",
    ("maint", "forward") -> "maint.resolve",
    ("maint", "resolve") -> "maint.resolve",
    ("maint", "segment_write") -> "maint.rewrite",
    ("maint", "commit") -> "maint.commit",
    ("maint", "compact") -> "maint.compact",
    ("maint", "logs") -> "maint.resolve",
    ("query", "route") -> "query.route",
    ("query", "fetch") -> "query.fetch",
    ("query", "label") -> "query.label",
    // a reader's first label lookup opens its merged docs log
    ("query", "logs") -> "query.label")

  def step(s: Site): Option[String] = Rules.collectFirst {
    case ((f, m, a), st) if f == s.file && (m == "*" || m == s.method) &&
        (a == "*" || a == s.action) => st
  }

  /** Metric key for a job of `family` at call site (short, long); the
    * boolean is false when it fell back to `<family>.other`.
    */
  def attribute(family: String, short: String, long: String): (String, Boolean) =
    site(short, long).flatMap(step).flatMap(st => Metrics.get((family, st))) match {
      case Some(k) => (k, true)
      case None => (s"$family.other", false)
    }
}

/** One Spark job as the listener saw it, with its stages' task metrics. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, span: Long, family: String,
    short: String, long: String, runMs: Long, cpuNs: Long, shuffleBytes: Long,
    spillBytes: Long) {
  def wallMs: Long = math.max(0L, endMs - startMs)
}

/** A bench-side span around one call into the engine. */
final case class SpanRec(id: Long, parent: Long, name: String, family: String, op: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans (in memory, written out when the run ends) plus a SparkListener
  * that ties each job to the span whose thread submitted it. Disabled, it
  * records nothing and registers nothing: an untraced run pays only a
  * boolean test per call.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  private val spanQ = new ConcurrentLinkedQueue[SpanRec]()
  private val current = new ThreadLocal[SpanRec]()
  private val jobQ = new ConcurrentLinkedQueue[JobRec]()

  private final class Open(val id: Int, val startMs: Long, val span: Long,
      val family: String, val short: String, val long: String, val stages: Set[Int])
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  // stage id → (runMs, cpuNs, shuffleBytes, spillBytes)
  private val stageM = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()

  // SQL execution id → (short, long) call site, taken on the thread that
  // ran the action: jobs an execution submits from Spark's helper threads
  // carry no engine frame of their own
  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlSites.put(s.executionId, (s.description, s.details)); ()
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val last = e.stageInfos.maxByOption(_.stageId)
      val own = (last.map(_.name).getOrElse(""), last.map(_.details).getOrElse(""))
      val (short, long) =
        if (Attribution.site(own._1, own._2).isDefined) own
        else prop("spark.sql.execution.id").toLongOption
          .flatMap(id => Option(sqlSites.get(id))).getOrElse(own)
      open.put(e.jobId, new Open(e.jobId, e.time,
        prop(Tracer.SpanKey).toLongOption.getOrElse(0L),
        Option(prop(Tracer.FamilyKey)).filter(_.nonEmpty).getOrElse("none"),
        short, long, e.stageInfos.map(_.stageId).toSet))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stageM.put(e.stageInfo.stageId, Array(m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = open.remove(e.jobId)
      if (o != null) {
        val tot = new Array[Long](4)
        o.stages.foreach { s =>
          val m = stageM.remove(s)
          if (m != null) (0 until 4).foreach(i => tot(i) += m(i))
        }
        jobQ.add(JobRec(o.id, o.startMs, e.time, o.span, o.family, o.short, o.long,
          tot(0), tot(1), tot(2), tot(3)))
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` inside a span. The span id and family ride on the thread's
    * Spark local properties, so every job `f` submits carries them.
    */
  def span[A](name: String, family: String, op: Long = 0L)(f: => A): A =
    if (!enabled) f
    else {
      val parent = current.get()
      val id = ids.getAndIncrement()
      val prevSpan = sc.getLocalProperty(Tracer.SpanKey)
      val prevFam = sc.getLocalProperty(Tracer.FamilyKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.FamilyKey, family)
      val t0 = System.nanoTime()
      current.set(SpanRec(id, 0L, name, family, op, t0, 0L))
      try f
      finally {
        spanQ.add(SpanRec(id, Option(parent).map(_.id).getOrElse(0L), name, family, op,
          t0, System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanKey, prevSpan)
        sc.setLocalProperty(Tracer.FamilyKey, prevFam)
      }
    }

  def spans: Seq[SpanRec] = spanQ.asScala.toSeq.sortBy(_.startNs)

  /** Completed jobs; waits briefly for the listener bus to drain first. */
  def jobs: Seq[JobRec] = {
    Thread.sleep(200)
    val deadline = System.nanoTime() + 5000000000L
    while (!open.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    jobQ.asScala.toSeq.sortBy(_.id)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "killabench.span"
  val FamilyKey = "killabench.family"
}
