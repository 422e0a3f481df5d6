package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD
import graft.model.FeedDataset

/** Execution context handed to every task (reference: TaskRuntime,
  * task.py:14-22): the session, fetched resources keyed by name, and
  * free-form pipeline options. */
final case class TaskRuntime(
    spark: SparkSession,
    resources: Map[String, graft.resource.ManagedResource] = Map.empty,
    options: Map[String, String] = Map.empty)

/** The unit of work (reference: Task, task.py:25-46) — re-expressed as
  * a pure function over an immutable FeedDataset instead of a mutation
  * of a shared SQLite DB. Tasks compose lazily: a pipeline of tasks is
  * ONE Catalyst DAG unless a task checkpoints. */
trait Task {
  def name: String = getClass.getSimpleName.stripSuffix("$")
  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset
}

/** Sequential fold of tasks over the feed (reference: Pipeline,
  * pipeline.py:18,107-132) with per-task wall-time logging (the
  * LoadTracker analogue, machine_load.py:92-132).
  *
  * `checkpointAfter`: task names after which the feed is materialized
  * to cut lineage — the Spark stand-in for the reference's "shared mutable DB
  * persists intermediate state". Expensive multi-pass tasks (Merge)
  * should be followed by a checkpoint at scale. Tables already
  * checkpointed (plan is a checkpointed `LogicalRDD`) are kept as they
  * are.
  */
final class Pipeline(
    tasks: Seq[Task],
    checkpointAfter: Set[String] = Set.empty) {

  def run(initial: FeedDataset, rt: TaskRuntime): FeedDataset =
    tasks.foldLeft(initial) { (feed, task) =>
      val t0 = System.nanoTime()
      val rss0 = LoadTracker.memoryUsageKb()
      // Spark jobs carry the running task's name; a nested pipeline (a
      // Merge pre-merge pipeline) restores its caller's name when done
      val sc = rt.spark.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(task.name)
      val out =
        try {
          val done = task.execute(feed, rt)
          if (!checkpointAfter.contains(task.name)) done
          else done.copy(tables = done.tables.map { case (n, df) =>
            // a table the task left checkpointed needs no second copy
            n -> (df.queryExecution.logical match {
              case r: LogicalRDD if r.rdd.isCheckpointed => df
              case _ => df.localCheckpoint(true)
            })
          })
        } finally sc.setJobDescription(outer)
      val secs = (System.nanoTime() - t0) / 1e9
      val rss1 = LoadTracker.memoryUsageKb()
      graft.util.Logs.info("pipeline",
        f"${task.name}%-28s ${secs}%8.3f s; " +
          f"memory usage: ${rss0 / 1024} MiB -> ${rss1 / 1024} MiB (diff ${rss1 - rss0} KiB)")
      out
    }
}

/** Driver-process load telemetry (reference: LoadTracker,
  * machine_load.py:92-132): wall time + resident set size around each
  * task. RSS comes from /proc/self/status on Linux; elsewhere the JVM
  * heap in use is the best available stand-in. */
object LoadTracker {
  def memoryUsageKb(): Long = {
    val status = java.nio.file.Path.of("/proc/self/status")
    if (java.nio.file.Files.isReadable(status)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(status).asScala
        .find(_.startsWith("VmRSS:"))
        .map(_.replaceAll("[^0-9]", "").toLong)
        .getOrElse(jvmHeapKb())
    } else jvmHeapKb()
  }

  private def jvmHeapKb(): Long = {
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1024
  }
}
