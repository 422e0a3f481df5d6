package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.operators.TaskRuntime

/** Shared local SparkSession for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.queries.QueryDef.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def rt: TaskRuntime = TaskRuntime(spark)
  def fixture(name: String): java.nio.file.Path =
    java.nio.file.Path.of(getClass.getResource(s"/fixtures/$name").toURI)
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def rt: TaskRuntime = TestSpark.rt

  /** `f`'s result and the description of every Spark job it launched.
    * Jobs are told apart by a local property set on this thread only,
    * which Spark SQL carries into its broadcast and subquery threads, so
    * jobs of other threads are not counted. */
  protected def jobsDuring[T](f: => T): (T, Seq[String]) = {
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
}
