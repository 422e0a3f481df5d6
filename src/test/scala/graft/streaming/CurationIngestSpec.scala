package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{AnnIndex, Bm25Index, DedupIndex, Retrieval}

/** End-to-end unified curation ingest: dedup screen → quality gate →
  * keepers into BOTH retrieval indexes in the same trigger. */
class CurationIngestSpec extends SparkSpec {
  import spark.implicits._

  private def emb(id: Long): Seq[Double] =
    Seq.tabulate(8)(j => ((id * 7 + j) % 5).toDouble)

  test("curationSink: dup and quality rejects never reach either index; keepers queryable next trigger") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("curation_").toString
    val seed = Seq(
      (0L, "completely different content about spark engines and data"),
      (1L, "another seed document with distinct vocabulary here"))
      .toDF("doc_id", "text")
    val seedEmb = Seq(0L, 1L).map(i => (i, emb(i))).toDF("doc_id", "embedding")
    val dedupH = DedupIndex.build(seed, "doc_id", s"$root/dedup")
    val bm25H = Bm25Index.build(seed, "doc_id", s"$root/bm25", numBuckets = 8)
    val annH = AnnIndex.build(seedEmb, "embedding", "doc_id", s"$root/ann",
      nCells = 2, m = 4, k = 2, dim = 8, iters = 1)

    val b1 = Seq(
      (10L, "retrieval augmented generation pipelines need fresh relevant passages ok"),
      (11L, "tiny"), // quality reject: too short
      (12L, "completely different content about spark engines and data extra")) // near-dup of seed 0
    val b2 = Seq(
      (20L, "retrieval augmented generation pipelines need fresh relevant passages ok extra"), // near-dup of 10 (batch 1!)
      (21L, "entirely new second batch document with its own vocabulary set"),
      (22L, "tiny")) // exact text of REJECTED 11 — which left no state

    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text")
      .withColumn("embedding",
        transform(sequence(lit(0), lit(7)),
          j => ((col("doc_id") * 7 + j) % 5).cast("double")))
      .writeStream
      .foreachBatch(CurationIngest.curationSink(
        dedupH, bm25H, annH, s"$root/verdicts", "embedding",
        qualityGate = col("text").isNotNull && length(col("text")) > 20,
        threshold = 0.5))
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      // the hybrid RAG path sees batch 1's keeper as soon as its
      // trigger commits: lexical side finds doc 10 by its own term,
      // the ANN side ranks it (nProbe = nCells ⇒ all cells probed),
      // and the fused list carries it
      val bmNow = Bm25Index.load(spark, s"$root/bm25")
      val lex = graft.util.Ids.withRowIndex(
        Bm25Index.topK(spark, bmNow, Seq("retrieval", "passages"), k = 10), "rank")
      assert(lex.collect().map(_.getLong(0)).contains(10L))
      val annNow = AnnIndex.load(spark, s"$root/ann")
      val sem = graft.util.Ids.withRowIndex(
          AnnIndex.query(spark, annNow, "doc_id", emb(10L), k = 10, nProbe = 2), "rank")
        .select(col("doc_id"), col("rank"))
      val fused = Retrieval.rrfFuse(Seq(lex, sem), "doc_id", rrfK = 60, k = 10)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(fused.contains(10L), s"hybrid path missed the batch-1 keeper: $fused")
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val v = spark.read.parquet(s"$root/verdicts")
      .select("doc_id", "near_dup", "near_dup_of", "is_new", "quality_pass")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.get(2)), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(v(10L) == ((false, None, true, true)), s"$v")
    assert(v(11L) == ((false, None, true, false)), s"$v") // new but rejected
    assert(v(12L) == ((true, Some(0L), false, true)), s"$v") // near-dup of seed
    // the batch-2 near-dup resolves against batch 1's keeper
    assert(v(20L) == ((true, Some(10L), false, true)), s"$v")
    assert(v(21L) == ((false, None, true, true)), s"$v")
    // the rejected doc left NO state: its exact re-send screens as new
    // again (and is rejected again) — rejection is stateless by design
    assert(v(22L) == ((false, None, true, false)), s"$v")

    // index state: seed + the two quality keepers, nothing else —
    // the near-dups and quality rejects reached NEITHER index
    val bmIds = spark.read.parquet(s"$root/bm25/doclens")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bmIds == Set(0L, 1L, 10L, 21L), s"bm25 holds $bmIds")
    val annIds = spark.read.parquet(s"$root/ann/codes")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(annIds == Set(0L, 1L, 10L, 21L), s"ann holds $annIds")
    val dedupIds = spark.read.parquet(s"$root/dedup/signatures")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dedupIds == Set(0L, 1L, 10L, 21L), s"dedup holds $dedupIds")
    // and the collection stats moved by exactly the two keepers
    val bmMeta = Bm25Index.load(spark, s"$root/bm25")
    assert(bmMeta.nDocs == 4L, bmMeta.toString)
  }

  test("lifecycleSink: one op-routed stream ingests and forgets; same-trigger conflicts refuse with the named reason") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("curation_lc_").toString
    val seed = Seq(
      (0L, "completely different content about spark engines and data"))
      .toDF("doc_id", "text")
    val seedEmb = Seq((0L, emb(0L))).toDF("doc_id", "embedding")
    val dedupH = DedupIndex.build(seed, "doc_id", s"$root/dedup")
    val bm25H = Bm25Index.build(seed, "doc_id", s"$root/bm25", numBuckets = 8)
    val annH = AnnIndex.build(seedEmb, "embedding", "doc_id", s"$root/ann",
      nCells = 2, m = 4, k = 2, dim = 8, iters = 1)
    val textA = "retrieval augmented generation pipelines need fresh relevant passages ok"
    val textC = "entirely new second batch document with its own vocabulary set"
    def run(rows: (Long, String, String)*): Unit = {
      val in = MemoryStream[(Long, String, String)]
      val q = in.toDS().toDF("doc_id", "text", "op")
        .withColumn("embedding",
          transform(sequence(lit(0), lit(7)),
            j => ((col("doc_id") * 7 + j) % 5).cast("double")))
        .writeStream
        .foreachBatch(CurationIngest.lifecycleSink(
          dedupH, bm25H, annH, s"$root/verdicts", s"$root/audit", "embedding",
          qualityGate = col("text").isNotNull && length(col("text")) > 20,
          threshold = 0.5))
        .start()
      try { in.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    }
    def lexIds = Bm25Index.topK(spark, Bm25Index.load(spark, s"$root/bm25"),
      Seq("retrieval", "passages", "vocabulary"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    // trigger 1: plain ingest
    run((10L, textA, "upsert"))
    assert(lexIds.contains(10L))
    // trigger 2: delete 10 AND ingest a new doc in the SAME trigger
    run((10L, textA, "delete"), (21L, textC, "upsert"))
    assert(!lexIds.contains(10L) && lexIds.contains(21L), lexIds.toString)
    assert(Bm25Index.load(spark, s"$root/bm25").nDocs == 2L) // seed + 21
    assert(spark.read.parquet(s"$root/audit").count() == 1L)
    // same-trigger delete+upsert of ONE id refuses with the named reason
    val e = intercept[Exception](
      run((21L, textC, "delete"), (21L, textC, "upsert")))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("both deleted and upserted")), msgs.mkString(" | "))
    // the refused trigger left no partial state: 21 still queryable
    assert(lexIds.contains(21L), lexIds.toString)
    // unknown op raises row-wise
    val e2 = intercept[Exception](run((30L, textC, "purge")))
    val msgs2 = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs2.exists(_.contains("unknown op")), msgs2.mkString(" | "))
  }

  test("deletionSink: a deleted doc vanishes everywhere; re-send screens new; re-ingest blocked until compact") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("curation_del_").toString
    val seed = Seq(
      (0L, "completely different content about spark engines and data"),
      (1L, "another seed document with distinct vocabulary here"))
      .toDF("doc_id", "text")
    val seedEmb = Seq(0L, 1L).map(i => (i, emb(i))).toDF("doc_id", "embedding")
    val dedupH = DedupIndex.build(seed, "doc_id", s"$root/dedup")
    val bm25H = Bm25Index.build(seed, "doc_id", s"$root/bm25", numBuckets = 8)
    val annH = AnnIndex.build(seedEmb, "embedding", "doc_id", s"$root/ann",
      nCells = 2, m = 4, k = 2, dim = 8, iters = 1)
    val text10 = "retrieval augmented generation pipelines need fresh relevant passages ok"
    def ingest(rows: (Long, String)*): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = in.toDS().toDF("doc_id", "text")
        .withColumn("embedding",
          transform(sequence(lit(0), lit(7)),
            j => ((col("doc_id") * 7 + j) % 5).cast("double")))
        .writeStream
        .foreachBatch(CurationIngest.curationSink(
          dedupH, bm25H, annH, s"$root/verdicts", "embedding",
          qualityGate = col("text").isNotNull && length(col("text")) > 20,
          threshold = 0.5))
        .start()
      try { in.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    }
    ingest(10L -> text10)
    def lexIds = Bm25Index.topK(spark, Bm25Index.load(spark, s"$root/bm25"),
      Seq("retrieval", "passages"), k = 10).collect().map(_.getLong(0)).toSeq
    def semIds = AnnIndex.query(spark, AnnIndex.load(spark, s"$root/ann"),
      "doc_id", emb(10L), k = 10, nProbe = 2).collect().map(_.getLong(0)).toSeq
    assert(lexIds.contains(10L) && semIds.contains(10L))

    // the forget trigger: one deletion request hits all three indexes
    val delIn = MemoryStream[(Long, String)]
    val dq = delIn.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch(CurationIngest.deletionSink(
        dedupH, bm25H, annH, s"$root/audit"))
      .start()
    try { delIn.addData(10L -> text10); dq.processAllAvailable() } finally dq.stop()

    assert(!lexIds.contains(10L), lexIds.toString)
    assert(!semIds.contains(10L), semIds.toString)
    // BM25 stats describe the remainder again (the two seed docs)
    assert(Bm25Index.load(spark, s"$root/bm25").nDocs == 2L)
    // the exact text screens as NEW: the fingerprint and bands stood down
    val verdict = DedupIndex.dedupBatch(spark,
        DedupIndex.load(spark, s"$root/dedup"),
        Seq(30L -> text10).toDF("doc_id", "text"), threshold = 0.5)
      .select("is_new").collect().head.getBoolean(0)
    assert(verdict, "deleted doc still screens its own re-send")
    // the audit trail recorded the request
    assert(spark.read.parquet(s"$root/audit")
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(10L))

    // re-ingesting the deleted ID before compact fails its trigger
    // LOUDLY (the append re-add contract) instead of silently losing
    // the doc to the next compact's purge
    assert(java.nio.file.Files.exists(
      java.nio.file.Path.of(s"$root/dedup/tombstones")), "dedup tombs missing")
    assert(java.nio.file.Files.exists(
      java.nio.file.Path.of(s"$root/bm25/tombstones")), "bm25 tombs missing")
    val eDirect = intercept[Exception](DedupIndex.append(
      DedupIndex.load(spark, s"$root/dedup"),
      Seq(10L -> text10).toDF("doc_id", "text")))
    assert(eDirect.getMessage.contains("tombstoned"), eDirect.getMessage)
    val e = intercept[Exception](ingest(10L -> text10))
    val causes = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(causes.exists(_.contains("tombstoned")), causes.mkString(" | "))

    // compact purges the tombstones; the id is ingestable again and
    // flows back into the hybrid path
    DedupIndex.compact(DedupIndex.load(spark, s"$root/dedup"))
    Bm25Index.compact(Bm25Index.load(spark, s"$root/bm25"))
    AnnIndex.compact(AnnIndex.load(spark, s"$root/ann"))
    ingest(10L -> text10)
    assert(lexIds.contains(10L) && semIds.contains(10L),
      s"re-ingest after compact invisible: $lexIds / $semIds")
    assert(Bm25Index.load(spark, s"$root/bm25").nDocs == 3L)
  }

  test("curationSink: a trigger failing between appends heals on replay — dedup fold-in is last") {
    val root = java.nio.file.Files.createTempDirectory("curation_part_").toString
    val seed = Seq(
      (0L, "completely different content about spark engines and data"),
      (1L, "another seed document with distinct vocabulary here"))
      .toDF("doc_id", "text")
    val seedEmb = Seq(0L, 1L).map(i => (i, emb(i))).toDF("doc_id", "embedding")
    val dedupH = DedupIndex.build(seed, "doc_id", s"$root/dedup")
    val bm25H = Bm25Index.build(seed, "doc_id", s"$root/bm25", numBuckets = 8)
    val annH = AnnIndex.build(seedEmb, "embedding", "doc_id", s"$root/ann",
      nCells = 2, m = 4, k = 2, dim = 8, iters = 1)
    // drive the foreachBatch function directly: the at-least-once
    // contract is about ONE trigger failing and the SAME batch being
    // re-delivered, which a direct call replays exactly
    val sink = CurationIngest.curationSink(
      dedupH, bm25H, annH, s"$root/verdicts", "embedding",
      qualityGate = col("text").isNotNull && length(col("text")) > 20,
      threshold = 0.5)
    val batch = Seq(
      (30L, "a genuinely novel keeper document about streaming curation"))
      .toDF("doc_id", "text")
      .withColumn("embedding",
        transform(sequence(lit(0), lit(7)),
          j => ((col("doc_id") * 7 + j) % 5).cast("double")))

    // an external compactor holds the ANN lock: the trigger fails
    // AFTER the BM25 append, BEFORE the ANN append and the dedup fold
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val annLock = new org.apache.hadoop.fs.Path(s"$root/ann/_compact.lock")
    fs.create(annLock, false).close()
    val ex = intercept[IllegalStateException] { sink(batch, 0L) }
    assert(ex.getMessage.contains("_compact.lock"), ex.getMessage)
    def ids(table: String): Set[Long] = spark.read.parquet(s"$root/$table")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the partial state the ordering contract promises: the keeper
    // landed in BM25 only — critically, NOT in the dedup index, so
    // the replay can still screen it as new
    assert(ids("bm25/doclens").contains(30L), "bm25 missing the keeper")
    assert(!ids("ann/codes").contains(30L), "ann append should have failed")
    assert(!ids("dedup/signatures").contains(30L),
      "dedup fold-in ran before the failed append — replay would drop the keeper")
    // the cross-index audit quantifies exactly this partial state
    def cross(): Map[String, Long] = graft.ops.Maintenance.crossFsck(
        spark, s"$root/dedup", s"$root/bm25", s"$root/ann")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val broken = cross()
    assert(broken("bm25_not_ann") == 1L && broken("bm25_not_dedup") == 1L,
      broken.toString)
    assert(broken("ann_not_bm25") == 0L && broken("dedup_not_bm25") == 0L &&
      broken("ann_not_dedup") == 0L && broken("dedup_not_ann") == 0L,
      broken.toString)
    assert(broken("bm25_live_docs") == 3L && broken("ann_live_codes") == 2L &&
      broken("dedup_live_docs") == 2L, broken.toString)

    // the replayed trigger: re-screens as new (fingerprint unrecorded),
    // re-appends everywhere — the keeper reaches ALL THREE indexes
    fs.delete(annLock, false)
    sink(batch, 0L)
    assert(ids("bm25/doclens").contains(30L))
    assert(ids("ann/codes").contains(30L), "replay did not heal the ANN index")
    assert(ids("dedup/signatures").contains(30L), "replay did not fold the dedup state")
    // both screenings said is_new — the keeper never matched itself
    val verdicts = spark.read.parquet(s"$root/verdicts")
      .filter(col("doc_id") === 30L).select("is_new", "exact_dup")
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq
    assert(verdicts == Seq((true, false), (true, false)), verdicts.toString)
    // the residue is duplicate BM25 rows (at-least-once), reclaimed by
    // compact with the probe answer unchanged
    val dupRows = spark.read.parquet(s"$root/bm25/doclens")
      .filter(col("doc_id") === 30L).count()
    assert(dupRows == 2L, s"expected the replayed doclens row, got $dupRows")
    Bm25Index.compact(Bm25Index.load(spark, s"$root/bm25"))
    assert(spark.read.parquet(s"$root/bm25/doclens")
      .filter(col("doc_id") === 30L).count() == 1L)
    val topk = Bm25Index.topK(spark, Bm25Index.load(spark, s"$root/bm25"),
      Seq("streaming", "curation"), k = 10).collect().map(_.getLong(0))
    assert(topk.contains(30L), topk.mkString(", "))
    // the healed trio cross-audits clean: every live diff zero, all
    // three live counts agree (the bm25 meta still remembers the
    // replayed append until a recount — per-index fsck territory)
    val healed = cross()
    assert(Seq("bm25_not_ann", "ann_not_bm25", "bm25_not_dedup",
        "dedup_not_bm25", "ann_not_dedup", "dedup_not_ann",
        "tombstone_disagreements").forall(healed(_) == 0L), healed.toString)
    assert(healed("bm25_live_docs") == 3L && healed("ann_live_codes") == 3L &&
      healed("dedup_live_docs") == 3L, healed.toString)
  }

  test("compactTrio: one handshake — replay duplicates collapse, tombstones purge, post audit clean, locks released") {
    val root = java.nio.file.Files.createTempDirectory("compacttrio_").toString
    val docs = Seq(
      (0L, "completely different content about spark engines and data"),
      (1L, "another seed document with distinct vocabulary here"),
      (2L, "a third standing document carrying separate unique words"),
      (3L, "fourth corpus member with yet another token inventory"))
      .toDF("doc_id", "text")
    val embs = Seq(0L, 1L, 2L, 3L).map(i => (i, emb(i))).toDF("doc_id", "embedding")
    val dedupH = DedupIndex.build(docs, "doc_id", s"$root/dedup")
    val bm25H = Bm25Index.build(docs, "doc_id", s"$root/bm25", numBuckets = 8)
    val annH = AnnIndex.build(embs, "embedding", "doc_id", s"$root/ann",
      nCells = 2, m = 4, k = 2, dim = 8, iters = 1)
    // a co-written delete (consistent tombstones in all three) plus an
    // at-least-once REPLAYED append (duplicate rows in all three)
    Bm25Index.delete(bm25H, Seq(1L).toDF("doc_id"))
    AnnIndex.delete(annH, Seq(1L).toDF("doc_id"), "doc_id")
    DedupIndex.delete(dedupH, docs.filter(col("doc_id") === 1L))
    val extra = Seq((4L, "a fifth document arriving through the ingest loop"))
      .toDF("doc_id", "text")
    val extraEmb = Seq((4L, emb(4L))).toDF("doc_id", "embedding")
    (1 to 2).foreach { _ =>
      Bm25Index.append(Bm25Index.load(spark, s"$root/bm25"), extra)
      AnnIndex.append(AnnIndex.load(spark, s"$root/ann"), extraEmb,
        "embedding", "doc_id")
      DedupIndex.append(DedupIndex.load(spark, s"$root/dedup"), extra)
    }
    val rep = graft.ops.Maintenance.compactTrio(
        spark, s"$root/dedup", s"$root/bm25", s"$root/ann")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the pre snapshot sees the consistent tombstones, the post one a
    // purged, recounted, duplicate-free trio
    assert(rep("pre_tombstone_disagreements") == 0L, rep.toString)
    assert(rep("post_tombstone_disagreements") == 0L, rep.toString)
    assert(rep("post_bm25_live_docs") == 4L &&
      rep("post_bm25_meta_ndocs") == 4L &&
      rep("post_ann_live_codes") == 4L &&
      rep("post_dedup_live_docs") == 4L, rep.toString)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq("dedup", "bm25", "ann").foreach { i =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$i/tombstones")),
        s"$i tombstones survived the trio compact")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$i/_compact.lock")),
        s"$i lock leaked")
    }
    // physical purge + duplicate collapse, per table
    assert(spark.read.parquet(s"$root/bm25/doclens")
      .filter(col("doc_id") === 1L).count() == 0L)
    assert(spark.read.parquet(s"$root/bm25/doclens")
      .filter(col("doc_id") === 4L).count() == 1L)
    assert(spark.read.parquet(s"$root/ann/codes")
      .filter(col("doc_id") === 4L).count() == 1L)
    // locks genuinely released: a follow-up per-index compact runs
    Bm25Index.compact(Bm25Index.load(spark, s"$root/bm25"))
  }

  test("reconcileTombstones: heals a partial deletion, reports unresolvable ids, replays to zero") {
    val root = java.nio.file.Files.createTempDirectory("reconcile_").toString
    val docs = Seq(
      (0L, "completely different content about spark engines and data"),
      (1L, "another seed document with distinct vocabulary here"),
      (2L, "a third standing document carrying separate unique words"),
      (3L, "fourth corpus member with yet another token inventory"))
      .toDF("doc_id", "text")
    val embs = Seq(0L, 1L, 2L, 3L).map(i => (i, emb(i))).toDF("doc_id", "embedding")
    DedupIndex.build(docs, "doc_id", s"$root/dedup")
    val bm25H = Bm25Index.build(docs, "doc_id", s"$root/bm25", numBuckets = 8)
    AnnIndex.build(embs, "embedding", "doc_id", s"$root/ann",
      nCells = 2, m = 4, k = 2, dim = 8, iters = 1)
    def cross(): Map[String, Long] = graft.ops.Maintenance.crossFsck(
        spark, s"$root/dedup", s"$root/bm25", s"$root/ann")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def reconcile(withDocs: org.apache.spark.sql.DataFrame): Map[String, Long] =
      graft.ops.Maintenance.reconcileTombstones(
          spark, s"$root/dedup", s"$root/bm25", s"$root/ann", withDocs)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def tombs(idx: String): Set[Long] =
      spark.read.parquet(s"$root/$idx/tombstones")
        .select("doc_id").collect().map(_.getLong(0)).toSet

    // the partial deletion: doc 1 forgotten from BM25 only
    Bm25Index.delete(bm25H, Seq(1L).toDF("doc_id"))
    assert(cross()("tombstone_disagreements") == 1L)
    val r1 = reconcile(docs)
    assert(r1 == Map("union_tombstones" -> 1L, "added_dedup" -> 1L,
      "added_bm25" -> 0L, "added_ann" -> 1L, "dedup_unresolvable" -> 0L,
      "post_disagreements" -> 0L), r1.toString)
    assert(cross()("tombstone_disagreements") == 0L)
    Seq("dedup", "bm25", "ann").foreach(i => assert(tombs(i) == Set(1L), i))
    // the repair is visible to every probe: doc 1 answers nowhere
    assert(!Bm25Index.topK(spark, Bm25Index.load(spark, s"$root/bm25"),
      Seq("seed", "vocabulary"), k = 10).collect().map(_.getLong(0))
      .contains(1L), "bm25 still serves the reconciled delete")
    assert(!AnnIndex.query(spark, AnnIndex.load(spark, s"$root/ann"),
      "doc_id", emb(1L), k = 4, nProbe = 2).collect().map(_.getLong(0))
      .contains(1L), "ann still serves the reconciled delete")

    // an id whose document is GONE from the corpus: propagates to the
    // id-keyed indexes, reported unresolvable for the fingerprint side
    AnnIndex.delete(AnnIndex.load(spark, s"$root/ann"),
      Seq(2L).toDF("doc_id"), "doc_id")
    val r2 = reconcile(docs.filter(col("doc_id") =!= 2L))
    assert(r2 == Map("union_tombstones" -> 2L, "added_dedup" -> 0L,
      "added_bm25" -> 1L, "added_ann" -> 0L, "dedup_unresolvable" -> 1L,
      "post_disagreements" -> 1L), r2.toString)
    assert(tombs("dedup") == Set(1L), "unresolvable id was half-deleted")
    // with the document back in the corpus the gap closes
    val r3 = reconcile(docs)
    assert(r3("added_dedup") == 1L && r3("dedup_unresolvable") == 0L &&
      r3("post_disagreements") == 0L, r3.toString)
    // tombstone-idempotent replay: all zeros
    val r4 = reconcile(docs)
    assert(r4 == Map("union_tombstones" -> 2L, "added_dedup" -> 0L,
      "added_bm25" -> 0L, "added_ann" -> 0L, "dedup_unresolvable" -> 0L,
      "post_disagreements" -> 0L), r4.toString)
    // the short-circuit's contract: on a reconciled trio every index's
    // delete is a strict no-op. Replaying each one with the full union
    // writes no tombstone file and no meta byte, and the report stays
    // the short-circuit's
    def written(): Map[String, Seq[Byte]] = Seq("dedup/tombstones",
        "bm25/tombstones", "ann/tombstones", "dedup/meta", "bm25/meta")
      .flatMap { d =>
        scala.util.Using.resource(java.nio.file.Files.walk(
            java.nio.file.Path.of(s"$root/$d"))) { paths =>
          paths.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(p => p.toString -> java.nio.file.Files.readAllBytes(p).toSeq)
            .toList
        }
      }.toMap
    val before = written()
    val union = docs.filter(col("doc_id").isin(1L, 2L))
    DedupIndex.delete(DedupIndex.load(spark, s"$root/dedup"), union)
    Bm25Index.delete(Bm25Index.load(spark, s"$root/bm25"), union.select("doc_id"))
    AnnIndex.delete(AnnIndex.load(spark, s"$root/ann"), union.select("doc_id"),
      "doc_id")
    assert(written() == before, "a replayed delete wrote to an index")
    assert(reconcile(docs) == r4)
  }

  test("rebuildShadow x live ingest: REPEATED triggers across the retrain/catch-up/swap timeline keep the clean-build equality") {
    // the round-14 LifecycleDemo plants ONE append mid-retrain; this
    // drives every interleaving the seams expose — a trigger BEFORE
    // the sidecar pass (in snapshot0), several DURING it (the delta
    // catch-up), a DELETE during it (tombstone survives), and a
    // trigger inside the swap window (must refuse, never fold) — and
    // asserts the q153-style equality at the end of each shadow: the
    // swapped state is exactly a clean build over source-at-swap-time.
    val root = java.nio.file.Files.createTempDirectory("shadowingest").toString
    try {
      val seed = Seq(
        (0L, "alpha seed document about spark engines and data processing"),
        (1L, "beta seed document with entirely different vocabulary here"),
        (2L, "gamma seed text that covers retrieval and ranking topics"))
        .toDF("doc_id", "text")
      val seedEmb = Seq(0L, 1L, 2L).map(i => (i, emb(i)))
        .toDF("doc_id", "embedding")
      seed.write.mode("overwrite").parquet(s"$root/docs_src")
      seedEmb.write.mode("overwrite").parquet(s"$root/emb_src")
      DedupIndex.build(seed, "doc_id", s"$root/dedup")
      Bm25Index.build(seed, "doc_id", s"$root/bm25", numBuckets = 8)
      AnnIndex.build(seedEmb, "embedding", "doc_id", s"$root/ann",
        nCells = 2, m = 4, k = 2, dim = 8, iters = 1)
      var epoch = 0L
      def trigger(id: Long, text: String): Unit = {
        // the ingest contract: rows reach the SOURCE tables before (or
        // with) their index appends — then one real curation trigger
        val batch = Seq((id, text)).toDF("doc_id", "text")
        batch.write.mode("append").parquet(s"$root/docs_src")
        Seq((id, emb(id))).toDF("doc_id", "embedding")
          .write.mode("append").parquet(s"$root/emb_src")
        val withEmb = batch.withColumn("embedding",
          transform(sequence(lit(0), lit(7)),
            j => ((col("doc_id") * 7 + j) % 5).cast("double")))
        epoch += 1
        CurationIngest.curationSink(
          DedupIndex.load(spark, s"$root/dedup"),
          Bm25Index.load(spark, s"$root/bm25"),
          AnnIndex.load(spark, s"$root/ann"),
          s"$root/verdicts", "embedding",
          qualityGate = col("text").isNotNull && length(col("text")) > 20,
          threshold = 0.5)(withEmb, epoch)
      }
      def rows(d: String, t: String) = spark.read.parquet(s"$d/$t")
        .collect().map(_.toString).sorted.toSeq

      // ---- ANN shadow: pre-pass trigger, two mid-retrain triggers, a
      // mid-retrain co-written DELETE, and a swap-window refusal
      trigger(10L, "delta document arriving before the retrain even starts ok")
      var swapRefused: Option[Throwable] = None
      val annH = AnnIndex.rebuildShadow(
        () => spark.read.parquet(s"$root/emb_src"), "embedding", "doc_id",
        s"$root/ann", nCells = 2, m = 4, k = 2, dim = 8, iters = 1,
        beforeLock = () => {
          trigger(11L, "epsilon document landing while the retrain runs fine")
          trigger(12L, "zeta document also landing inside the retrain window")
          CurationIngest.deletionSink(
            DedupIndex.load(spark, s"$root/dedup"),
            Bm25Index.load(spark, s"$root/bm25"),
            AnnIndex.load(spark, s"$root/ann"),
            s"$root/audit")(seed.filter(col("doc_id") === 2L), 99L)
        },
        beforeSwap = () => {
          swapRefused = Some(intercept[IllegalStateException](
            AnnIndex.append(AnnIndex.load(spark, s"$root/ann"),
              Seq((13L, emb(13L))).toDF("doc_id", "embedding"),
              "embedding", "doc_id")))
        })
      assert(swapRefused.exists(_.getMessage.contains("_compact.lock")),
        s"swap-window append was not refused: $swapRefused")
      // q153 equality at source-at-swap: every trigger's row present,
      // encoded under the NEW models — bit-identical to a clean
      // buildWith over the re-read source (deleted row included: the
      // source still carries it, the TOMBSTONE hides it from probes)
      graft.ops.AnnIndex.buildWith(spark.read.parquet(s"$root/emb_src"),
        "embedding", "doc_id", s"$root/ann_clean", annH.centroids,
        annH.codebooks)
      assert(rows(s"$root/ann", "codes") == rows(s"$root/ann_clean", "codes"))
      assert(annH.hasTombstones)
      val served = AnnIndex.query(spark, annH, "doc_id", emb(2L), k = 10,
        nProbe = 2).collect().map(_.getLong(0)).toSet
      assert(!served.contains(2L), s"deleted id served: $served")
      assert(Set(10L, 11L, 12L).subsetOf(
        spark.read.parquet(s"$root/ann/codes")
          .select("doc_id").collect().map(_.getLong(0)).toSet))

      // ---- BM25 shadow: same composition through the lexical side
      var bmSwapRefused: Option[Throwable] = None
      val bmH = Bm25Index.rebuildShadow(
        () => spark.read.parquet(s"$root/docs_src"), "doc_id", s"$root/bm25",
        numBuckets = 8,
        beforeLock = () => {
          trigger(14L, "eta document arriving during the postings rewrite ok")
          trigger(15L, "theta text with separate unrelated fresh vocabulary set")
        },
        beforeSwap = () => {
          bmSwapRefused = Some(intercept[IllegalStateException](
            Bm25Index.append(Bm25Index.load(spark, s"$root/bm25"),
              Seq((16L, "must refuse")).toDF("doc_id", "text"))))
        })
      assert(bmSwapRefused.exists(_.getMessage.contains("_compact.lock")),
        s"swap-window append was not refused: $bmSwapRefused")
      Bm25Index.build(spark.read.parquet(s"$root/docs_src"), "doc_id",
        s"$root/bm25_clean", numBuckets = 8)
      for (t <- Seq("postings", "doclens", "termvecs"))
        assert(rows(s"$root/bm25", t) == rows(s"$root/bm25_clean", t),
          s"$t diverged from the clean build")
      // meta counts the REMAINDER (doc 2's tombstone survived the ANN
      // round's co-written delete and this shadow kept it)
      assert(bmH.nTombstones == 1L &&
        bmH.nDocs == spark.read.parquet(s"$root/docs_src").count() - 1L,
        bmH.toString)
      val hits = Bm25Index.topK(spark, bmH, Seq("retrieval"), k = 10)
        .collect().map(_.getLong(0)).toSet
      assert(!hits.contains(2L), s"deleted id served lexically: $hits")
    } finally {
      val r = java.nio.file.Path.of(root)
      java.nio.file.Files.walk(r).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
    }
  }
}
