package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around calls into the program's modules, plus a listener that
  * charges every Spark job, stage and task to the span that launched it.
  *
  * A span is entered on the client thread; its id travels to Spark as a
  * job-local property, which threads spawned inside the call inherit and
  * Spark SQL carries into its broadcast and subquery threads. A job
  * therefore belongs to exactly the innermost span open on the thread
  * that submitted it ("launched during the call"); lazy plans built in
  * one module and run in another land in the module that runs them.
  *
  * Spans and task records stay in memory; [[dump]] writes them out once
  * the run ends. With tracing off, [[span]] only runs its body. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  // one epoch-nanosecond time base for spans (nanoTime) and tasks (ms)
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs: Long = epochNs0 + (System.nanoTime() - nano0)

  final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
      val start: Long) { var end: Long = 0L }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var enabled = false

  // written by the listener thread, read after drainListeners
  private final case class JobRec(id: Int, span: Int, timeMs: Long)
  private final case class TaskRec(span: Int, launchMs: Long, finishMs: Long,
      runMs: Long, shuffleBytes: Long, rowsRead: Long)
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(PropKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, spanOf(e.properties), e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      tasks += TaskRec(stageSpan.getOrElse(e.stageId, -1), info.launchTime, info.finishTime,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
  }

  /** Runs `f` inside a span named `module` when tracing is on. */
  def span[T](module: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = new Span(spans.size, module, stack.headOption.map(_.id).getOrElse(-1),
        stack.lastOption.map(_.pass).getOrElse(-1), nowNs)
      spans += s
      stack ::= s
      sc.setLocalProperty(PropKey, s.id.toString)
      try f
      finally {
        s.end = nowNs
        stack = stack.tail
        sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Runs one pass under a root span when `traced`; the listener is
    * attached only for traced passes, so untraced ones pay nothing. */
  def pass[T](id: Int, traced: Boolean)(f: => T): T = {
    if (!traced) return f
    sc.addSparkListener(this)
    enabled = true
    val root = new Span(spans.size, RootName, -1, id, nowNs)
    spans += root
    stack = List(root)
    sc.setLocalProperty(PropKey, root.id.toString)
    try f
    finally {
      root.end = nowNs
      stack = Nil
      enabled = false
      sc.setLocalProperty(PropKey, null)
      org.apache.spark.BenchAccess.drainListeners(sc)
      sc.removeSparkListener(this)
    }
  }

  /** Per-module totals of one traced pass: self wall time, the part of
    * it with no Spark task running, jobs, task time, shuffle written and
    * rows read. Also checks that every job launched inside the pass
    * window carries a span of that pass. */
  def summarise(passId: Int): Option[PassTrace] = synchronized {
    val mine = spans.filter(_.pass == passId)
    mine.find(_.name == RootName).map(summarise(mine, _))
  }

  private def summarise(mine: collection.Seq[Span], root: Span): PassTrace = {
    val ids = mine.map(_.id).toSet
    val children = mine.groupBy(_.parent)
    // union of task run intervals in the pass, epoch ns
    val busy = Intervals.union(tasks.filter(t => ids(t.span))
      .map(t => (t.launchMs * 1000000L, t.finishMs * 1000000L)).toSeq)
    val out = mutable.LinkedHashMap.empty[String, ModuleTotals]
    mine.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq
      val self = Intervals.subtract((s.start, s.end), kids)
      val selfNs = self.map { case (a, b) => b - a }.sum
      val busyNs = Intervals.overlap(self, busy)
      val t = out.getOrElseUpdate(s.name, new ModuleTotals)
      t.wallS += selfNs / 1e9
      t.driverS += (selfNs - busyNs) / 1e9
    }
    val byId = mine.map(s => s.id -> s.name).toMap
    jobs.foreach { j => byId.get(j.span).foreach(n => out(n).jobs += 1) }
    tasks.foreach { t =>
      byId.get(t.span).foreach { n =>
        val m = out(n)
        m.taskS += t.runMs / 1e3
        m.shuffleMb += t.shuffleBytes / 1e6
        m.rowsRead += t.rowsRead
      }
    }
    val startMs = root.start / 1000000L
    val endMs = root.end / 1000000L
    val stray = jobs.count(j => !ids(j.span) && j.timeMs > startMs && j.timeMs < endMs)
    val inPass = jobs.count(j => ids(j.span))
    PassTrace(out.toMap, inPass, stray)
  }

  /** Writes every span and task as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.foreach { s =>
        w.write(s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},""" +
          s""""pass":${s.pass},"start_ns":${s.start},"end_ns":${s.end}}""" + "\n")
      }
      jobs.foreach(j => w.write(s"""{"job":${j.id},"span":${j.span},"time_ms":${j.timeMs}}""" + "\n"))
      tasks.foreach { t =>
        w.write(s"""{"task_span":${t.span},"launch_ms":${t.launchMs},""" +
          s""""finish_ms":${t.finishMs},"run_ms":${t.runMs},""" +
          s""""shuffle_bytes":${t.shuffleBytes},"rows_read":${t.rowsRead}}""" + "\n")
      }
    } finally w.close()
  }
}

object Tracer {
  val PropKey = "perfbench.span"
  val RootName = "pass"
  /** Pass id of traced work a workload adds after the loop. */
  val AfterLoop = -2
}

final class ModuleTotals {
  var wallS = 0.0
  var driverS = 0.0
  var jobs = 0
  var taskS = 0.0
  var shuffleMb = 0.0
  var rowsRead = 0L
}

/** One traced pass: per-module totals, jobs charged to the pass's spans
  * and jobs inside its window that carry no span of it. */
final case class PassTrace(modules: Map[String, ModuleTotals], jobs: Int, strayJobs: Int) {
  /** This pass with `other`'s module totals and jobs added. */
  def plus(other: PassTrace): PassTrace = {
    val merged = (modules.keySet ++ other.modules.keySet).map { m =>
      val t = new ModuleTotals
      Seq(modules.get(m), other.modules.get(m)).flatten.foreach { x =>
        t.wallS += x.wallS; t.driverS += x.driverS; t.jobs += x.jobs
        t.taskS += x.taskS; t.shuffleMb += x.shuffleMb; t.rowsRead += x.rowsRead
      }
      m -> t
    }.toMap
    copy(modules = merged, jobs = jobs + other.jobs, strayJobs = strayJobs + other.strayJobs)
  }
}

/** Closed intervals [a, b) on one time axis. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** `whole` minus the (disjoint) `holes`. */
  def subtract(whole: (Long, Long), holes: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var cur = whole._1
    union(holes).foreach { case (a, b) =>
      if (a > cur) out += ((cur, math.min(a, whole._2)))
      cur = math.max(cur, b)
    }
    if (cur < whole._2) out += ((cur, whole._2))
    out.toSeq
  }

  /** Total length of `xs` covered by the sorted disjoint `cover`. */
  def overlap(xs: Seq[(Long, Long)], cover: Seq[(Long, Long)]): Long =
    xs.map { case (a, b) =>
      cover.iterator.map { case (c, d) => math.max(0L, math.min(b, d) - math.max(a, c)) }.sum
    }.sum
}
