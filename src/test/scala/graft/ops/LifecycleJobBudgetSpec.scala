package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Spark-job budgets for the index trio's lifecycle ops on a 20-doc
  * trio. Each op's count is deterministic and host-independent, so a
  * budget pins the crash-safe lifecycle protocol's overhead: a change to
  * the shared lock / swap / tombstone / shadow catch-up code that adds a
  * job fails here. Each budget is the count the op launched before that
  * protocol moved into [[Maintenance]] (Spark 4.1.2, 4 shuffle
  * partitions); none may rise. */
class LifecycleJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val Budgets: Map[String, Int] = Map(
    "dedup.delete" -> 7, "dedup.delete_replay" -> 8,
    "dedup.compact" -> 17, "dedup.rebuild" -> 6,
    "dedup.rebuildShadow" -> 20,
    "bm25.delete" -> 10, "bm25.delete_replay" -> 8,
    "bm25.compact" -> 20, "bm25.rebuild" -> 12,
    "bm25.rebuildShadow" -> 29,
    "ann.delete" -> 8, "ann.delete_replay" -> 8,
    "ann.compact" -> 10, "ann.rebuild" -> 11,
    "ann.rebuildShadow" -> 24,
    "compactTrio" -> 81)

  private def emb(id: Long): Seq[Double] =
    Seq.tabulate(4)(j => ((id * 7 + j) % 5).toDouble)

  private def docs(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong,
        s"document $i about topic ${i % 5} with words w$i v${i * 7} shared",
        emb(i.toLong)))
      .toDF("doc_id", "text", "embedding")

  test("each index's delete, compact, rebuild and rebuildShadow, and compactTrio, stay within their job budgets") {
    val root = java.nio.file.Files.createTempDirectory("lifecycle_jobs_").toString
    val (dDir, bDir, aDir) = (s"$root/dedup", s"$root/bm25", s"$root/ann")
    val corpus = docs(20).localCheckpoint(true)
    val grown = docs(21).localCheckpoint(true)
    val late = grown.filter(col("doc_id") === 20L)
    val gone = corpus.filter(col("doc_id") === 3L)
    def ann(df: DataFrame, dir: String) =
      AnnIndex.build(df, "embedding", "doc_id", dir,
        nCells = 2, m = 2, k = 2, dim = 4, iters = 1)
    DedupIndex.build(corpus, "doc_id", dDir)
    Bm25Index.build(corpus, "doc_id", bDir, numBuckets = 8)
    ann(corpus, aDir)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def count(op: String)(f: => Any): Unit = counts(op) = jobsDuring(f)._2.size

    // deletes: a fresh id, then the same request replayed (a no-op)
    count("dedup.delete")(DedupIndex.delete(DedupIndex.load(spark, dDir), gone))
    count("dedup.delete_replay")(DedupIndex.delete(DedupIndex.load(spark, dDir), gone))
    count("bm25.delete")(Bm25Index.delete(Bm25Index.load(spark, bDir), gone))
    count("bm25.delete_replay")(Bm25Index.delete(Bm25Index.load(spark, bDir), gone))
    count("ann.delete")(AnnIndex.delete(AnnIndex.load(spark, aDir), gone, "doc_id"))
    count("ann.delete_replay")(
      AnnIndex.delete(AnnIndex.load(spark, aDir), gone, "doc_id"))
    // compacts purge the tombstones just written
    count("dedup.compact")(DedupIndex.compact(DedupIndex.load(spark, dDir)))
    count("bm25.compact")(Bm25Index.compact(Bm25Index.load(spark, bDir)))
    count("ann.compact")(AnnIndex.compact(AnnIndex.load(spark, aDir)))
    // rebuilds from the post-delete corpus
    val kept = corpus.filter(col("doc_id") =!= 3L)
    count("dedup.rebuild")(DedupIndex.rebuild(kept, "doc_id", dDir))
    count("bm25.rebuild")(Bm25Index.rebuild(kept, "doc_id", bDir, numBuckets = 8))
    count("ann.rebuild")(AnnIndex.rebuild(kept, "embedding", "doc_id", aDir,
      nCells = 2, m = 2, k = 2, dim = 4, iters = 1))
    // shadow rebuilds with one append landing before the lock, so the
    // delta catch-up runs; the append's jobs are part of each count
    val grownKept = grown.filter(col("doc_id") =!= 3L)
    count("dedup.rebuildShadow")(DedupIndex.rebuildShadow(() => grownKept,
      "doc_id", dDir,
      beforeLock = () => DedupIndex.append(DedupIndex.load(spark, dDir), late)))
    count("bm25.rebuildShadow")(Bm25Index.rebuildShadow(() => grownKept,
      "doc_id", bDir, numBuckets = 8,
      beforeLock = () => Bm25Index.append(Bm25Index.load(spark, bDir), late)))
    count("ann.rebuildShadow")(AnnIndex.rebuildShadow(() => grownKept,
      "embedding", "doc_id", aDir, nCells = 2, m = 2, k = 2, dim = 4, iters = 1,
      beforeLock = () => AnnIndex.append(AnnIndex.load(spark, aDir), late,
        "embedding", "doc_id")))
    // the trio pass over a co-written delete
    val doomed = grown.filter(col("doc_id") === 5L)
    DedupIndex.delete(DedupIndex.load(spark, dDir), doomed)
    Bm25Index.delete(Bm25Index.load(spark, bDir), doomed)
    AnnIndex.delete(AnnIndex.load(spark, aDir), doomed, "doc_id")
    val (rep, trioJobs) = jobsDuring(
      Maintenance.compactTrio(spark, dDir, bDir, aDir))
    counts("compactTrio") = trioJobs.size
    val report = rep.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report("post_bm25_live_docs") == 19L &&
      report("post_dedup_live_docs") == 19L &&
      report("post_ann_live_codes") == 19L &&
      report("post_tombstone_disagreements") == 0L, report.toString)

    info(counts.map { case (op, n) => s"$op=$n" }.mkString(" "))
    assert(counts.keySet == Budgets.keySet)
    val over = counts.filter { case (op, n) => n > Budgets(op) }
    assert(over.isEmpty, over.map { case (op, n) =>
      s"$op: $n jobs, budget ${Budgets(op)}" }.mkString("; "))
  }
}
