package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One span of a traced run. Times are epoch milliseconds (fractional),
  * on the same clock as Spark's listener events. */
final case class Span(id: Int, parent: Int, name: String, kind: String, module: String,
                      start: Double, end: Double) {
  def dur: Double = (end - start) / 1000.0
}

/** A finished Spark job with the stage metrics the per-layer table uses. */
final case class JobRec(id: Int, start: Double, end: Double, module: String,
                        callSite: String, execId: Long, stages: Seq[StageRec])
final case class StageRec(id: Int, start: Double, end: Double, runS: Double, cpuS: Double,
                          gcS: Double, shuffleReadB: Long, shuffleWriteB: Long,
                          spillB: Long, taskS: Seq[Double])

/** Module of a call site: the first program frame (outside this
  * harness) of Spark's long-form call site decides. */
object Modules {
  val All: Seq[String] = Seq("core", "connectors", "connectors.pgwire",
    "connectors.vectorstore", "ops", "spark")

  def ofFrame(cls: String): Option[String] =
    if (!cls.startsWith("graft.") || cls.startsWith("graft.perfbench.")) None
    else if (cls.startsWith("graft.connectors.pgwire.") || cls.startsWith("graft.connectors.PgWire") ||
      cls.startsWith("graft.connectors.PgVector")) Some("connectors.pgwire")
    else if (cls.startsWith("graft.connectors.vectorstore.")) Some("connectors.vectorstore")
    else if (cls.startsWith("graft.connectors.")) Some("connectors")
    else if (cls.startsWith("graft.core.") || cls.startsWith("graft.model.") ||
      cls.startsWith("graft.config.")) Some("core")
    else if (cls.startsWith("graft.ops.") || cls.startsWith("graft.functions.")) Some("ops")
    else Some("core")

  def frames(callSite: String): Seq[String] =
    callSite.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Jobs whose call site shows no program frame are the harness's own
    * materialization of a program-built plan ("harness", re-attributed
    * to the enclosing span's module) or, with no harness frame either,
    * Spark's own ("spark"). */
  def of(callSite: String): String = {
    val cls = frames(callSite).map(_.takeWhile(_ != '('))
    cls.iterator.flatMap(ofFrame).nextOption()
      .getOrElse(if (cls.exists(_.startsWith("graft.perfbench."))) "harness" else "spark")
  }
}

/** Spark listener + span recorder for ONE traced run. Registered only
  * while tracing, so untimed-overhead runs carry no listener at all. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Long, Seq[Int])]()
  private val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, StageInfo]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Double]]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.details)
    case _ => ()
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobStart.put(e.jobId, (e.time.toDouble, exec, e.stageIds))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Double])
        .synchronized { stageTasks.get(e.stageId) += e.taskInfo.duration / 1000.0 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageInfo.put(e.stageInfo.stageId, e.stageInfo)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.get(e.jobId)).foreach {
    case (t0, exec, stageIds) =>
      val site = Option(execSite.get(exec)).orElse(stageIds.sorted.headOption
        .flatMap(s => Option(stageInfo.get(s))).map(_.details)).getOrElse("")
      val stages = stageIds.flatMap(s => Option(stageInfo.get(s))).map { si =>
        val m = si.taskMetrics
        val tasks = Option(stageTasks.get(si.stageId)).map(b => b.synchronized(b.toSeq)).getOrElse(Nil)
        StageRec(si.stageId, si.submissionTime.getOrElse(0L).toDouble,
          si.completionTime.getOrElse(0L).toDouble,
          if (m == null) 0 else m.executorRunTime / 1000.0,
          if (m == null) 0 else m.executorCpuTime / 1e9,
          if (m == null) 0 else m.jvmGCTime / 1000.0,
          if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0 else m.diskBytesSpilled + m.memoryBytesSpilled, tasks)
      }
      done.add(JobRec(e.jobId, t0, e.time.toDouble, Modules.of(site), site, exec, stages))
  }

  def now(): Double = System.nanoTime() / 1e6 + Tracer.offsetMs

  /** Open a span around `body`; spans nest through `parent`. */
  def span[A](name: String, kind: String, module: String, parent: Int)(body: Int => A): (A, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = now()
    val a = body(id)
    val s = Span(id, parent, name, kind, module, t0, now())
    synchronized { spans += s }
    (a, s)
  }

  /** A `main` span around one of the timed run's own calls, with
    * server-side counters sampled just before and just after it. */
  def main[A](name: String, parent: Int, counters: () => Map[String, Double] = () => Map.empty)
             (body: => A): (Span, Map[String, Double], Map[String, Double]) = {
    val before = counters()
    val (_, s) = span(name, "main", name.split('.').dropRight(2).mkString("."), parent)(_ => body)
    (s, before, counters())
  }

  def add(s: Span): Span = synchronized {
    nextId += 1
    val withId = s.copy(id = nextId)
    spans += withId
    withId
  }

  def start(): Unit = sc.addSparkListener(this)
  def stop(): Unit = { org.apache.spark.PerfbenchBus.drain(sc); sc.removeSparkListener(this) }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
  def jobs: Seq[JobRec] = { import scala.jdk.CollectionConverters._; done.asScala.toSeq.sortBy(_.start) }
  def jobsIn(s: Span): Seq[JobRec] = jobs.filter(j => j.start >= s.start - 1 && j.end <= s.end + 1)
    .map(j => if (j.module == "harness") j.copy(module = s.module) else j)
}

object Tracer {
  /** nanoTime → epoch-ms offset, fixed once per JVM. */
  val offsetMs: Double = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Disjoint [start, end) segments, each owned by the earliest-started
    * job active over it — overlapping jobs never double-count wall time. */
  def segments(jobs: Seq[JobRec], lo: Double, hi: Double): Seq[(Double, Double, String)] = {
    val cuts = (jobs.flatMap(j => Seq(j.start, j.end)) ++ Seq(lo, hi))
      .map(t => math.min(hi, math.max(lo, t))).distinct.sorted
    val raw = cuts.zip(cuts.drop(1)).flatMap { case (a, b) =>
      jobs.filter(j => j.start <= a && j.end >= b).sortBy(_.start).headOption
        .map(j => (a, b, j.module))
    }
    raw.foldLeft(List.empty[(Double, Double, String)]) {
      case ((a0, b0, m0) :: rest, (a, b, m)) if m == m0 && math.abs(a - b0) < 1e-9 => (a0, b, m) :: rest
      case (acc, seg) => seg :: acc
    }.reverse
  }

  def covered(segs: Seq[(Double, Double, String)]): Double = segs.map(s => s._2 - s._1).sum / 1000.0

  /** Children of `parent` tiled over its interval: the given disjoint
    * children plus explicit `unattributed` spans for every gap. */
  def tile(t: Tracer, parent: Span, children: Seq[Span]): Seq[Span] = {
    val sorted = children.sortBy(_.start)
    val gaps = (Seq(parent.start) ++ sorted.map(_.end)).zip(sorted.map(_.start) ++ Seq(parent.end))
      .filter { case (a, b) => b - a > 1e-6 }
    gaps.map { case (a, b) => t.add(Span(0, parent.id, "unattributed", "unattributed", "", a, b)) }
  }

  def jsonl(s: Span, runId: String): String =
    s"""{"run_id":"$runId","span_id":${s.id},"parent_id":${s.parent},""" +
      s""""name":${Json.str(s.name)},"kind":"${s.kind}","module":"${s.module}",""" +
      s""""start_ms":${Json.num(s.start)},"end_ms":${Json.num(s.end)},"dur_s":${Json.num(s.dur)}}"""
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
