package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{SparkSpec, TestSpark}
import graft.io.LoadGtfs

/** Spark-job budgets for GTFS tasks. At GTFS sizes a task's wall time is
  * roughly its job count times a fixed per-job overhead, and the count
  * does not depend on the host, so a budget catches an overhead
  * regression that a noisy timing would hide. */
class JobBudgetSpec extends SparkSpec {

  /** `f`'s result and the description of every Spark job it launched.
    * Jobs are told apart by a local property set on this thread only,
    * which Spark SQL carries into its broadcast and subquery threads, so
    * jobs of other threads are not counted. */
  private def jobsDuring[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobBudget"
    val token = java.util.UUID.randomUUID().toString
    val descriptions = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == token)
          descriptions.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, token)
    try {
      val out = f
      ListenerBusAccess.drain(sc)
      (out, descriptions.asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Measured 26 jobs on Spark 4.1.2 with 4 shuffle partitions (seven key-frame checkpoints and the broadcast
    * and shuffle stages Spark runs as jobs of their own); the seven
    * per-step cascades it replaced took 113. The budget leaves a margin
    * of 4 jobs (15 %) for plan changes across Spark versions. */
  private val RemoveUnusedEntitiesBudget = 30

  test("RemoveUnusedEntities on the WKD feed stays within its job budget") {
    val wkd = LoadGtfs(TestSpark.fixture("wkd.zip")).execute(null, rt)
    val in = wkd.materialized(wkd.tables.keys.toSeq: _*)
    val (out, launched) = jobsDuring(RemoveUnusedEntities.execute(in, rt))
    val jobs = launched.size
    info(s"RemoveUnusedEntities launched $jobs Spark jobs")
    assert(out("trips").count() == 372)
    assert(out("stop_times").count() == 6276)
    assert(jobs <= RemoveUnusedEntitiesBudget,
      s"$jobs jobs, budget $RemoveUnusedEntitiesBudget")
  }

  test("Pipeline names each task's jobs and keeps checkpointed tables") {
    val wkd = LoadGtfs(TestSpark.fixture("wkd.zip")).execute(null, rt)
    val in = wkd.materialized("agencies")
    val counting = new Task {
      override def name = "CountTrips"
      def execute(f: graft.model.FeedDataset, r: TaskRuntime) = { f("trips").count(); f }
    }
    val (out, launched) = jobsDuring(
      new Pipeline(Seq(counting), checkpointAfter = Set("CountTrips")).run(in, rt))
    assert(launched.nonEmpty && launched.forall(_ == "CountTrips"), launched)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
    assert(out("agencies") eq in("agencies"))
    assert(!(out("trips") eq in("trips")))
  }
}
