package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The package-private index maintenance calls the benchmark's index
  * mix makes, forwarded unchanged. */
object BenchAccess {
  def compactTrio(spark: SparkSession, dedupDir: String, bm25Dir: String, annDir: String): DataFrame =
    ops.Maintenance.compactTrio(spark, dedupDir, bm25Dir, annDir)

  def crossFsck(spark: SparkSession, dedupDir: String, bm25Dir: String, annDir: String): DataFrame =
    ops.Maintenance.crossFsck(spark, dedupDir, bm25Dir, annDir)
}
