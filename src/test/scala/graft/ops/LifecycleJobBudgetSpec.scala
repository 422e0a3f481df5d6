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
  * partitions); none may rise. The second test does the same for every
  * BM25 probe on a 20-doc index built the same way. */
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

    assertWithin(counts, Budgets)
  }

  private def assertWithin(
      counts: collection.Map[String, Int], budgets: Map[String, Int]): Unit = {
    info(counts.map { case (op, n) => s"$op=$n" }.mkString(" "))
    assert(counts.keySet == budgets.keySet)
    val over = counts.filter { case (op, n) => n > budgets(op) }
    assert(over.isEmpty, over.map { case (op, n) =>
      s"$op: $n jobs, budget ${budgets(op)}" }.mkString("; "))
  }

  /** Jobs of each BM25 probe's `collect()`, construction included (the
    * batch probes collect their bucket ids and checkpoint while
    * building the plan). Each budget is the count the probe launched
    * before the probes were rebuilt on the shared single-query and
    * batch cores (Spark 4.1.2, 4 shuffle partitions); none may rise. */
  private val ProbeBudgets: Map[String, Int] = Map(
    "topK" -> 7, "topK.docFilter" -> 8, "topKBatch" -> 13,
    "topKBatch.docFilter" -> 14, "topKBatch.attrEquals" -> 23,
    "phraseTopK" -> 6, "phraseTopKBatch" -> 20,
    "snippetTopK" -> 6, "snippetTopKBatch" -> 15,
    "proximityTopK" -> 6, "bm25fTopK" -> 8, "rm3Expand" -> 12,
    "topKWeighted.local" -> 7, "topKWeighted.distributed" -> 13,
    "topK.deleted" -> 9, "topKBatch.deleted" -> 15)

  test("each BM25 probe, filtered and after a delete, stays within its job budget") {
    val dir = java.nio.file.Files.createTempDirectory("probe_jobs_").toString
    val corpus = docs(20).localCheckpoint(true)
    val h0 = Bm25Index.build(corpus, "doc_id", dir, numBuckets = 8)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def count(op: String)(f: => DataFrame): Unit =
      counts(op) = jobsDuring(f.collect())._2.size
    val terms = Seq("topic", "shared", "w3")
    val queries = Seq((1L, Seq("topic", "w3"), 1L), (2L, Seq("shared"), 0L))
      .toDF("qid", "terms", "parity")
    val allow = corpus.filter(col("doc_id") < 10L).select("doc_id")
    val attrs = corpus.select(col("doc_id"), (col("doc_id") % 2L).as("doc_parity"))
    val weights = Seq(("topic", 1048576L), ("w3", 2097152L)).toDF("term", "weight_q")

    count("topK")(Bm25Index.topK(spark, h0, terms, k = 5))
    count("topK.docFilter")(Bm25Index.topK(spark, h0, terms, k = 5,
      docFilter = Some(allow)))
    count("topKBatch")(Bm25Index.topKBatch(spark, h0, queries, "qid", "terms", k = 5))
    count("topKBatch.docFilter")(Bm25Index.topKBatch(spark, h0, queries,
      "qid", "terms", k = 5, docFilter = Some(allow)))
    count("topKBatch.attrEquals")(Bm25Index.topKBatch(spark, h0, queries,
      "qid", "terms", k = 5, attrEquals = Some((attrs, "doc_parity", "parity"))))
    count("phraseTopK")(Bm25Index.phraseTopK(spark, h0, Seq("about", "topic"), k = 5))
    count("phraseTopKBatch")(Bm25Index.phraseTopKBatch(spark, h0,
      Seq((1L, Seq("about", "topic")), (2L, Seq("words", "w3"))).toDF("qid", "phrase"),
      "qid", "phrase", k = 5))
    count("snippetTopK")(Bm25Index.snippetTopK(spark, h0, Seq("topic", "w3"),
      width = 4, k = 5))
    count("snippetTopKBatch")(Bm25Index.snippetTopKBatch(spark, h0,
      queries.select("qid", "terms"), "qid", "terms", width = 4, k = 5))
    count("proximityTopK")(Bm25Index.proximityTopK(spark, h0,
      Seq("document", "shared"), k = 5))
    count("bm25fTopK")(Bm25Index.bm25fTopK(spark, h0, terms, Seq("text" -> 1.0), k = 5))
    count("rm3Expand")(Bm25Index.rm3Expand(spark, h0, corpus, Seq("topic", "w3"),
      fbDocs = 2, fbTerms = 3))
    count("topKWeighted.local")(Bm25Index.topKWeighted(spark, h0, weights, k = 5))
    count("topKWeighted.distributed")(Bm25Index.topKWeighted(spark, h0,
      weights.repartition(2), k = 5))
    // a tombstone turns on the probes' anti-join
    val h1 = Bm25Index.delete(h0, corpus.filter(col("doc_id") === 3L))
    assert(h1.nTombstones == 1L)
    count("topK.deleted")(Bm25Index.topK(spark, h1, terms, k = 5))
    count("topKBatch.deleted")(Bm25Index.topKBatch(spark, h1, queries,
      "qid", "terms", k = 5))
    assertWithin(counts, ProbeBudgets)
  }
}
