package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, md5, min}

import graft.ops.{AnnIndex, Bm25Index, DedupIndex}

/** The unified curation-at-ingest pipeline: ONE foreachBatch sink
  * composing the three standing-index loops ([[StreamingDedup]]'s
  * dedup screen, [[Bm25Ingest]]'s postings append, [[AnnIngest]]'s
  * code append) so each micro-batch flows
  *
  *   dedup verdict → quality gate → keepers into BOTH indexes
  *
  * in the SAME trigger. A near-duplicate or a quality reject never
  * reaches the retrieval indexes at all — the alternative (three
  * independent sinks on the same stream) lets a duplicate land in
  * BM25/ANN before a later compactor reconciles, and nothing ever
  * removes it. The hybrid RAG path ([[graft.ops.Retrieval.rrfFuse]]
  * over both indexes) sees a batch's keepers as soon as its trigger
  * commits.
  *
  * Per trigger: the in-batch exact collapse and
  * [[DedupIndex.dedupBatch]] screen from [[StreamingDedup.nearDedupSink]]
  * (verdict columns identical), an added `quality_pass` column (the
  * caller's boolean `qualityGate` expression over the batch's own
  * columns — a `TextAnalysis` score threshold, a length band, a
  * classifier output), the verdict append, then ONLY the
  * `is_new AND quality_pass` slice folds into the dedup index AND
  * appends to the BM25 postings and ANN code tables. Rejected rows
  * still get verdict rows (`quality_pass = false` is an auditable
  * fact) but leave no state anywhere — a re-send of a rejected doc
  * re-screens from scratch, by design.
  *
  * Scale shape: every stage is batch-proportional (band-pruned probe
  * joins, one tokenize pass, one assign+encode pass); index size
  * never enters the trigger cost. The three appends share the batch's
  * one materialization. Appends are not checkpoint-transactional
  * across the three indexes: a crash (or an append refused on a
  * concurrent `_compact.lock`) between appends may leave a keeper in
  * one index and not another until the trigger replays. The appends
  * run retrieval-indexes-first, DEDUP FOLD-IN LAST, which is what
  * makes the replay heal: the failed trigger never recorded the
  * keeper's fingerprint, so the replayed batch re-screens it as new
  * and re-appends everywhere, and the only residue is duplicate
  * BM25/ANN rows that cost bytes until
  * [[Bm25Index.compact]]/[[AnnIndex.compact]] reclaim them — the same
  * at-least-once posture as the single-index sinks. (Folding the
  * dedup index FIRST would be a silent data-loss bug: the replayed
  * keeper would hit its own fingerprint, screen `is_new = false`,
  * and never reach the retrieval indexes at all.) All three indexes'
  * appends run under the `_compact.lock`/`_appending.*` handshake; a
  * trigger firing during an external compact fails that micro-batch
  * loudly rather than racing a swap.
  *
  * Use as
  * `docs.writeStream.foreachBatch(CurationIngest.curationSink(...)).start()`
  * with rows carrying the id, the text column the BM25 index was
  * built on, and `embCol`.
  */
object CurationIngest {

  def curationSink(
      dedup: DedupIndex.Handle,
      bm25: Bm25Index.Handle,
      ann: AnnIndex.Handle,
      verdictsDir: String,
      embCol: String,
      qualityGate: Column,
      threshold: Double = 0.8): (DataFrame, Long) => Unit = {
    require(bm25.idCol == dedup.idCol,
      s"the dedup and BM25 indexes disagree on the id column " +
        s"(${dedup.idCol} vs ${bm25.idCol}) — they must screen the same key")
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        val idCol = dedup.idCol
        // materialize the micro-batch once: the screen walks it several
        // times and all three appends reuse it
        val frozen = batch.localCheckpoint(true)
        // in-batch exact collapse — the nearDedupSink rule verbatim:
        // same fingerprint + min-id keeper, null text stays its own row
        val withFp = frozen.withColumn("__fp", md5(col("text")))
        val keepers = withFp.filter(col("text").isNotNull)
          .groupBy("__fp").agg(min(col(idCol)).as("__keep"))
        val joined = withFp.join(keepers, Seq("__fp"), "left")
        val dupes = joined
          .filter(col("text").isNotNull && col(idCol) =!= col("__keep"))
          .select(frozen.columns.map(col) :+ col("__keep"): _*)
        val toScreen = joined
          .filter(col("text").isNull || col(idCol) === col("__keep"))
          .select(frozen.columns.map(col): _*)
          .localCheckpoint(true)
        val inBatchDup =
          if (dupes.isEmpty) None else Some(dupes.localCheckpoint(true))
        // verdicts fixed BEFORE any index grows
        val verdicts = DedupIndex.dedupBatch(spark, dedup, toScreen, threshold)
          .withColumn("quality_pass", qualityGate)
          .localCheckpoint(true)
        val allVerdicts = inBatchDup match {
          case None => verdicts
          case Some(d) => verdicts.unionByName(d
            .withColumn("exact_dup", lit(true))
            .withColumn("near_dup", lit(true)) // jaccard 1 clears any threshold
            .withColumn("near_dup_of", col("__keep"))
            .withColumn("is_new", lit(false))
            // recorded for audit symmetry; a duplicate never folds in
            // regardless of its quality
            .withColumn("quality_pass", qualityGate)
            .drop("__keep"))
        }
        allVerdicts.write.mode("append").parquet(verdictsDir)
        val fresh = verdicts
          .filter(col("is_new") && col("quality_pass"))
          .select(frozen.columns.map(col): _*)
        if (!fresh.isEmpty) {
          val folded = fresh.localCheckpoint(true)
          // ORDER IS LOAD-BEARING: the dedup fold-in runs LAST. The
          // replay-heals contract below only holds this way round — a
          // keeper folded into the dedup index BEFORE a BM25/ANN
          // append that then fails (crash, or an append refusing on a
          // concurrent _compact.lock) would re-screen on the replayed
          // trigger as an exact duplicate OF ITSELF (is_new = false)
          // and be silently and permanently dropped from both
          // retrieval indexes. With the dedup write last, a partial
          // failure leaves the keeper's fingerprint unrecorded, the
          // replay re-screens it as new and re-appends everywhere,
          // and the only residue is duplicate BM25/ANN rows that
          // compact reclaims.
          Bm25Index.append(bm25, folded)
          AnnIndex.append(ann, folded, embCol, idCol)
          DedupIndex.append(dedup, folded)
        }
      }
  }

  /** The full curation lifecycle in ONE stream: rows carry an `op`
    * column (`"upsert"` or `"delete"`) and each trigger applies the
    * deletes, then screens-and-folds the upserts — [[curationSink]]
    * and [[deletionSink]] composed behind a single serialized
    * foreachBatch. This is the deployment shape the one-metadata-
    * writer contract asks for: ingest and forget can never race the
    * BM25 meta read-modify-write because they share the trigger.
    *
    * In-trigger ordering is deletes-first, and an id appearing in
    * BOTH halves of one trigger is refused up front with a clear
    * message: delete-then-re-add cannot work until a compact purges
    * the tombstone (the append contract), so letting the upsert half
    * run would fail the trigger with the generic re-add error on
    * every replay — better to name the conflict. An unknown op value
    * raises row-wise. */
  def lifecycleSink(
      dedup: DedupIndex.Handle,
      bm25: Bm25Index.Handle,
      ann: AnnIndex.Handle,
      verdictsDir: String,
      auditDir: String,
      embCol: String,
      qualityGate: Column,
      opCol: String = "op",
      threshold: Double = 0.8): (DataFrame, Long) => Unit = {
    val ingest = curationSink(
      dedup, bm25, ann, verdictsDir, embCol, qualityGate, threshold)
    val forget = deletionSink(dedup, bm25, ann, auditDir)
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        import org.apache.spark.sql.functions.{concat, lit => flit, raise_error, when}
        val idCol = dedup.idCol
        val frozen = batch
          .withColumn(opCol,
            when(col(opCol).isin("upsert", "delete"), col(opCol))
              .otherwise(raise_error(concat(
                flit(s"lifecycleSink: unknown op '"), col(opCol),
                flit(s"' for id "), col(idCol).cast("string")))))
          .localCheckpoint(true)
        val dels = frozen.filter(col(opCol) === "delete").drop(opCol)
        val ups = frozen.filter(col(opCol) === "upsert").drop(opCol)
        val both = dels.select(col(idCol))
          .join(ups.select(col(idCol)), Seq(idCol), "left_semi")
          .limit(1).collect()
        require(both.isEmpty,
          s"lifecycleSink: id '${both.headOption.map(_.get(0)).orNull}' is " +
            "both deleted and upserted in one trigger — a deleted id is " +
            "not re-addable until compact purges its tombstone; split the " +
            "re-add into a post-compact batch")
        forget(dels, batchId)
        ingest(ups, batchId)
      }
  }

  /** The forget half of the curation lifecycle: a stream of deletion
    * requests (right-to-be-forgotten, takedowns, retractions) applied
    * to ALL THREE standing indexes in the same trigger — the
    * tombstone [[DedupIndex.delete]]/[[Bm25Index.delete]]/
    * [[AnnIndex.delete]] path, so a trigger's cost is proportional to
    * the batch, never the indexes. Requests carry the id AND the
    * text ([[DedupIndex.delete]] retires `md5(text)` — the caller is
    * the source of truth for what the doc said). After the trigger
    * commits, the doc answers no retrieval probe, names no dedup
    * match, and its exact text screens as NEW again; the physical
    * purge is the compact pass's job, and re-INGESTING a deleted id
    * stays refused until then (the append contract). A small audit
    * row `(id, fp, batch_id)` lands in `auditDir` per request.
    *
    * At-least-once: all three deletes are idempotent against replays
    * (already-tombstoned ids are skipped), so a crash between them
    * heals on the replayed trigger — the [[curationSink]] posture.
    * Closure handles may go stale across triggers; every delete
    * re-reads the on-disk state under its marker, so staleness never
    * rewinds a tombstone.
    *
    * '''One metadata writer.''' [[Bm25Index]]'s collection stats are
    * a read-modify-write of `meta/`, and `_appending.*` markers are
    * not mutually exclusive among writers — running this sink
    * CONCURRENTLY with [[curationSink]] (or any other appender)
    * against the same BM25 index can lose one side's stats update
    * (last meta write wins) until a compact recounts. Drive ingest
    * and deletion from one serialized driver (alternate triggers, or
    * one upstream stream carrying an op column). The SAFETY
    * properties never depend on this: tombstone filtering, the
    * re-add refusal and dedup screening all gate on the live side
    * tables, not on meta — only N/avgdl exactness is at stake.
    *
    * Use as `deletes.writeStream.foreachBatch(
    * CurationIngest.deletionSink(...)).start()` with rows carrying
    * the id and text columns. */
  def deletionSink(
      dedup: DedupIndex.Handle,
      bm25: Bm25Index.Handle,
      ann: AnnIndex.Handle,
      auditDir: String): (DataFrame, Long) => Unit = {
    require(bm25.idCol == dedup.idCol,
      s"the dedup and BM25 indexes disagree on the id column " +
        s"(${dedup.idCol} vs ${bm25.idCol}) — they must forget the same key")
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val idCol = dedup.idCol
        val frozen = batch.localCheckpoint(true)
        DedupIndex.delete(dedup, frozen)
        Bm25Index.delete(bm25, frozen.select(col(idCol)))
        AnnIndex.delete(ann, frozen.select(col(idCol)), idCol)
        frozen.select(col(idCol), md5(col("text")).as("fp"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(auditDir)
      }
  }
}
