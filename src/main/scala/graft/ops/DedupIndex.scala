package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent dedup state: the production form of
  * [[Dedup.dedupAgainst]]. That operator re-fingerprints and
  * re-minhashes the whole corpus on every call — correct, but at
  * 100 TB the corpus pass dwarfs the batch. Here the corpus-derived
  * state lands on disk ONCE and each ingest batch probes it; the
  * daily cost is proportional to the batch, never the corpus
  * ([[AnnIndex]] is the same move for the ANN stack; see also
  * `streaming/StreamingDedup` for the per-event form).
  *
  * Layout under `dir`:
  *  - `fingerprints/` — (fp) distinct md5 of every non-null text
  *  - `signatures/`   — (id, mh0..mh{n-1}) MinHash rows,
  *                      PARTITIONED BY `band0` (a bucket hash of the
  *                      first band mod [[NumBandPartitions]]); the
  *                      probe's band-0 join carries the implied
  *                      `band0` equality, so with AQE dynamic
  *                      partition pruning a small batch reads only
  *                      the buckets its own band-0 values hash to —
  *                      the other bands scan the (mh-columns-only,
  *                      columnar) table
  *  - `words/`        — (id, words) distinct-word arrays, read only
  *                      for the candidate sliver during verify
  *  - `meta/`         — one JSON row: idCol, numHashes
  *
  * [[append]] adds a new slice's state in place (parquet append per
  * table), so yesterday's batch becomes part of today's corpus
  * without any rebuild — the append-only ingestion loop closed.
  */
object DedupIndex {

  /** Bucket count for the signature table's partition key. */
  val NumBandPartitions: Int = 64

  /** `bandSize` is the band width the index was BUILT for: the
    * partition key hashes the first `min(bandSize, numHashes)`
    * minhashes, so the probe's band-0 equality implies the partition
    * key's equality exactly when the probe uses a band at least that
    * wide ([[dedupBatch]] checks; probing narrower is still correct —
    * the partition-pruning equality is simply not stated).
    *
    * `hasTombstones` — whether a `tombstones/` side table exists
    * ([[delete]] since the last [[compact]]): when false every probe
    * skips the tombstone anti-joins entirely. */
  final case class Handle(
      dir: String, idCol: String, numHashes: Int, bandSize: Int,
      hasTombstones: Boolean = false)

  private def bandKey(numHashes: Int, bandSize: Int): org.apache.spark.sql.Column =
    pmod(hash((0 until math.min(bandSize, numHashes)).map(i => col(s"mh$i")): _*),
      lit(NumBandPartitions))

  private def requireLayout(numHashes: Int, bandSize: Int): Unit =
    require(bandSize >= 1 && numHashes >= bandSize && numHashes % bandSize == 0,
      s"numHashes ($numHashes) must be a positive multiple of bandSize ($bandSize)")

  /** The state tables, in swap order (meta swaps after them). */
  private val Tables = Seq("fingerprints", "signatures", "words")

  /** The one table-set write: build, append, rebuild and the shadow's
    * sidecar and delta all land a slice's state through it. */
  private def writeState(
      slice: DataFrame, idCol: String, numHashes: Int, bandSize: Int,
      base: String, mode: String): Unit = {
    val fps = slice.filter(col("text").isNotNull)
      .select(md5(col("text")).as("fp")).distinct()
    val sigs = Dedup.minhashSignatures(slice, numHashes)
      .filter(col("mh0").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(i => col(s"mh$i")): _*)
      .withColumn("band0", bandKey(numHashes, bandSize))
    val words = slice.filter(col("text").isNotNull)
      .select(col(idCol), array_distinct(Dedup.tokens(col("text"))).as("words"))
    fps.write.mode(mode).parquet(s"$base/fingerprints")
    writeSigs(sigs, s"$base/signatures", mode)
    // r17: the r16 "sized write" repartition(idCol) is reverted here —
    // see Bm25Index doclens (same file count either way, the exchange
    // was pure cost)
    words.write.mode(mode).parquet(s"$base/words")
  }

  private def writeSigs(sigs: DataFrame, path: String, mode: String): Unit =
    sigs.repartition(col("band0")) // one writer wave per bucket
      .write.mode(mode).partitionBy("band0").parquet(path)

  private def writeMeta(
      spark: SparkSession, base: String, idCol: String, numHashes: Int,
      bandSize: Int): Unit = {
    import spark.implicits._
    Seq((idCol, numHashes, bandSize)).toDF("idCol", "numHashes", "bandSize")
      .coalesce(1).write.mode("overwrite").json(s"$base/meta")
  }

  /** One corpus pass -> persisted state. `bandSize` fixes the band
    * width the partition key is derived from and is persisted in
    * `meta` — probes default to it. */
  def build(
      corpus: DataFrame, idCol: String, dir: String,
      numHashes: Int = 8, bandSize: Int = 4): Handle = {
    requireLayout(numHashes, bandSize)
    writeState(corpus, idCol, numHashes, bandSize, dir, "overwrite")
    writeMeta(corpus.sparkSession, dir, idCol, numHashes, bandSize)
    Handle(dir, idCol, numHashes, bandSize)
  }

  /** Fold a new slice into the persisted state — the post-ingest
    * bookkeeping step after its batch has been screened: parquet
    * appends only, no rebuild. (Fingerprints may accumulate
    * duplicates across appends; the probe is a semi-join, so
    * duplicates cost bytes, never correctness.) Runs under an append
    * marker and refuses a tombstoned id (see [[Maintenance]]). */
  def append(handle: Handle, slice: DataFrame): Unit =
    Maintenance.withAppendMarker(
        Maintenance.fsOf(slice.sparkSession), new Path(handle.dir)) {
      Tombstones.refuseReAdd(slice.sparkSession, handle.dir, handle.idCol, slice)
      writeState(slice, handle.idCol, handle.numHashes, handle.bandSize,
        handle.dir, "append")
    }

  /** Merge independently-built shard states into one — the
    * federated-ingest shape ([[Bm25Index.merge]] is the lexical
    * twin): N pipeline partitions each [[build]] over their slice,
    * one merge unifies them without re-fingerprinting or
    * re-minhashing a document. Minhash/fingerprint state depends
    * only on the doc and the layout (numHashes, bandSize), so the
    * merged signature/word tables are ROW-IDENTICAL to a whole-corpus
    * [[build]]'s and every [[dedupBatch]] verdict matches (q174 pins
    * it); fingerprints may hold the same md5 in several shards —
    * the exact screen is a semi-join, so duplicates cost bytes until
    * [[compact]] collapses them, never correctness. Physical work is
    * one filesystem copy per data file (signature partition dirs line
    * up because every shard buckets `band0` the same way). Loud
    * preconditions: same layout (idCol/numHashes/bandSize), no
    * tombstones (compact first — merge copies files verbatim),
    * pairwise-DISJOINT id sets, fresh `outDir`. */
  def merge(
      spark: SparkSession, shardDirs: Seq[String], outDir: String): Handle = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(conf)
    Maintenance.requireMergeable(fs, shardDirs, outDir, "docs")
    val hs = shardDirs.map(load(spark, _))
    val h0 = hs.head
    hs.zip(shardDirs).foreach { case (h, d) =>
      require(h.idCol == h0.idCol && h.numHashes == h0.numHashes &&
          h.bandSize == h0.bandSize,
        s"merge: shard layouts disagree — ${shardDirs.head} has " +
          s"(${h0.idCol}, hashes=${h0.numHashes}, band=${h0.bandSize}) " +
          s"but $d has (${h.idCol}, hashes=${h.numHashes}, band=${h.bandSize})")
    }
    Maintenance.requireDisjointShardIds(spark, shardDirs, "signatures",
      h0.idCol, "id sets must be disjoint")
    shardDirs.zipWithIndex.foreach { case (d, i) =>
      Tables.foreach { t =>
        Maintenance.copyDataFiles(fs,
          new Path(s"$d/$t"), new Path(s"$outDir/$t"), s"s$i", conf)
      }
    }
    writeMeta(spark, outDir, h0.idCol, h0.numHashes, h0.bandSize)
    Handle(outDir, h0.idCol, h0.numHashes, h0.bandSize)
  }

  /** Tombstone-delete documents from the standing dedup state — the
    * right-to-be-forgotten path for the dedup stack ([[Bm25Index
    * .delete]] / [[AnnIndex.delete]] are the lexical/vector twins):
    * a deleted doc must stop matching future batches (its minhash
    * bands, word set AND exact fingerprint all stand down), and none
    * of the three corpus-scaled tables is rewritten — that is
    * [[compact]]'s job. `docs` must carry `(idCol, text)` — the
    * DOCUMENTS, not bare ids, because the fingerprint table stores
    * only `md5(text)`: the fp to retire is recomputed here from the
    * caller's source of truth. Ids land in a small `tombstones/`
    * side table as `(id, fp)` (fp NULL for null-text docs);
    * [[dedupBatch]] anti-joins fingerprints on fp and signatures/
    * words on id. If two live ids carry the SAME text, deleting one
    * retires the shared fingerprint — per-id state was already
    * ambiguous under the one-id-one-text contract (the [[compact]]
    * scaladoc's rule); rebuild from the source of truth if that
    * state matters. Idempotent against replays (already-tombstoned
    * ids are skipped, see [[Tombstones.record]]); the physical purge
    * and re-addability come with the next [[compact]]. */
  def delete(handle: Handle, docs: DataFrame): Handle = {
    val spark = docs.sparkSession
    require(docs.columns.contains(handle.idCol) && docs.columns.contains("text"),
      s"delete: the docs frame must carry '${handle.idCol}' and 'text', " +
        s"has ${docs.columns.mkString(", ")}")
    val fs = Maintenance.fsOf(spark)
    Maintenance.withAppendMarker(fs, new Path(handle.dir)) {
      Tombstones.record(spark, handle.dir, handle.idCol,
        docs.select(col(handle.idCol), md5(col("text")).as("fp"))
          .na.drop(Seq(handle.idCol)).dropDuplicates(handle.idCol))(
        Tombstones.nonEmpty)
      handle.copy(hasTombstones = fs.exists(Tombstones.path(handle.dir)))
    }
  }

  /** Rewrite the index state deduplicated — the maintenance pass for a
    * long-running append loop: fingerprints collapse to distinct
    * (appends re-add shared hashes), signature and word rows collapse
    * to one per id, tombstoned fingerprints and ids are purged.
    * Assumes the library-wide contract that an id maps to ONE
    * document text: a replayed ingest re-appends identical derived
    * rows, so any survivor is THE row (the `max`/`max(struct)` picks
    * make the survivor deterministic regardless). If a caller
    * re-appended the same id with DIFFERENT text, per-id state was
    * already ambiguous before compaction (both versions were being
    * probed); compaction keeps one deterministic version of each
    * table — rebuild from the source of truth if that happened. Lock,
    * snapshot, swap, late-append fold-in and crash posture are
    * [[Maintenance]]'s compact protocol. */
  def compact(handle: Handle, waitForAppendsMs: Long = 60000L): Unit = {
    val spark = SparkSession.active
    val fs = Maintenance.fsOf(spark)
    Maintenance.withCompactLock(fs, new Path(handle.dir), waitForAppendsMs)(
      compactLocked(spark, handle, fs))
  }

  private[ops] def compactLocked(
      spark: SparkSession, handle: Handle, fs: FileSystem): Unit = {
    val idc = col(handle.idCol)
    val mhCols = (0 until handle.numHashes).map(i => s"mh$i") :+ "band0"
    Maintenance.compactTables(spark, fs, handle.dir, Tables) {
      case ("fingerprints", rows, out) =>
        rows.distinct().write.mode("overwrite").parquet(out)
      case ("signatures", rows, out) =>
        writeSigs(rows.groupBy(idc).agg(max(struct(mhCols.map(col): _*)).as("__s"))
          .select(idc +: mhCols.map(c => col(s"__s.$c").as(c)): _*), out, "overwrite")
      case (_, rows, out) =>
        rows.groupBy(idc).agg(max(struct(col("words"))).as("__w"))
          .select(idc, col("__w.words").as("words"))
          .write.mode("overwrite").parquet(out)
    }
  }

  /** Re-signature-and-swap — the dedup member of the rebuild family
    * ([[Bm25Index.rebuild]] re-tokenizes, [[AnnIndex.rebuild]]
    * retrains; this one re-fingerprints and re-minhashes). The two
    * production uses:
    *
    *  - '''signature-parameter upgrade''' — more hashes, a different
    *    band width (recall/precision retuning) without the caller
    *    hand-managing a second directory and a cutover;
    *  - '''disaster recovery''' — an [[fsck]] finding (band0 drift,
    *    torn append) replaced wholesale from the source of truth.
    *
    * `corpus` is the post-delete source of truth; the rebuilt state is
    * row-identical to what [[build]] writes for it at these parameters
    * — tombstones are obsolete and clear with the swap. The new layout
    * REPLACES the old wholesale; nothing is inherited from the
    * possibly-corrupt old meta. Lock, swap and crash posture are
    * [[Maintenance]]'s rebuild protocol; meta swaps last, and [[load]]
    * refuses new-layout signatures beside a stale meta. `beforeSwap`
    * is a test seam on the first table's swap. */
  def rebuild(
      corpus: DataFrame, idCol: String, dir: String,
      numHashes: Int = 8, bandSize: Int = 4,
      waitForAppendsMs: Long = 60000L,
      beforeSwap: () => Unit = () => ()): Handle = {
    requireLayout(numHashes, bandSize)
    val spark = corpus.sparkSession
    Maintenance.rebuildSwap(Maintenance.fsOf(spark), dir, Tables :+ "meta",
        waitForAppendsMs, beforeSwap) { tmp =>
      writeState(corpus, idCol, numHashes, bandSize, tmp, "overwrite")
      writeMeta(spark, tmp, idCol, numHashes, bandSize)
      Handle(dir, idCol, numHashes, bandSize)
    }
  }

  /** NON-BLOCKING re-signature-and-migrate — the 100 TB form of
    * [[rebuild]] ([[AnnIndex.rebuildShadow]] retrains,
    * [[Bm25Index.rebuildShadow]] re-tokenizes): a 100 TB
    * fingerprint+minhash pass IS a span of hours even with no model to
    * retrain, so the shadow form signs into a sidecar while the live
    * index keeps screening AND accepting appends, and takes the lock
    * only for the delta catch-up and the renames ([[Maintenance]]'s
    * shadow protocol; `source` is a thunk, re-invoked under the lock).
    * Minhash/fingerprint derivation is deterministic, so caught-up rows
    * are bit-identical to a clean [[build]]'s. The delta is computed
    * on SIGNATURE ids (null-text docs leave no dedup state at all, so
    * they neither need nor trip the catch-up). Meta swaps last.
    * `beforeLock`/`beforeSwap` are the usual test seams. */
  def rebuildShadow(
      source: () => DataFrame, idCol: String, dir: String,
      numHashes: Int = 8, bandSize: Int = 4,
      waitForAppendsMs: Long = 60000L,
      beforeLock: () => Unit = () => (),
      beforeSwap: () => Unit = () => ()): Handle = {
    requireLayout(numHashes, bandSize)
    Maintenance.shadowRebuild(source, dir, Tables :+ "meta", idCol,
        "signatures", waitForAppendsMs, beforeLock, beforeSwap)(_.sparkSession)(
      write = (_, rows, base, mode) =>
        writeState(rows, idCol, numHashes, bandSize, base, mode),
      finish = (spark, tmp) => {
        writeMeta(spark, tmp, idCol, numHashes, bandSize)
        Handle(dir, idCol, numHashes, bandSize,
          Maintenance.fsOf(spark).exists(Tombstones.path(dir)))
      })
  }

  def load(spark: SparkSession, dir: String): Handle = {
    // driver-side meta read (Maintenance.readMetaRow): the old
    // spark.read.json cost two cluster jobs per handle open
    val meta = Maintenance.readMetaRow(spark, s"$dir/meta")
    // indexes written before bandSize was persisted used a fixed
    // 4-hash partition key — that is their effective build bandSize
    val bandSize = if (meta.has("bandSize")) meta.get("bandSize").asInt else 4
    val numHashes = meta.get("numHashes").asInt
    val fs = Maintenance.fsOf(spark)
    // torn-swap gate (the [[AnnIndex]] `_model_gen` twin): meta swaps
    // FOURTH (the rebuild rule), so a crash between the signatures
    // swap and the meta swap leaves NEW-layout signatures beside OLD
    // meta — probes would compute the band key with the wrong width
    // and prune to the WRONG partition, silently missing
    // near-duplicates. Refuse that state here with two checks against
    // what is actually on disk, both bounded (the signature table
    // partitions on a FIXED 64-bucket key, so its listing never grows
    // with the corpus): the schema must carry exactly the meta's
    // numHashes minhash columns, and a MAJORITY of a LIMIT-bounded row
    // sample's stored band0 must re-derive from its own minhashes
    // under the meta's bandSize. Majority, not any: a torn rebuild is
    // SYSTEMATIC (a stored key matches a wrong-width recompute with
    // probability ~1/64, so ~all sampled rows drift), while a FEW
    // drifted rows are row-level corruption — exactly what [[fsck]]
    // exists to diagnose, so the index must stay loadable for it
    // (`band0_hash_mismatch` reports the precise count). Pre-band0
    // legacy layouts carry no partition column and skip the recompute.
    val sigDir = s"$dir/signatures"
    if (fs.exists(new Path(sigDir))) {
      val sigs = spark.read.parquet(sigDir)
      val mhOnDisk = sigs.schema.fieldNames
        .filter(_.matches("mh\\d+")).toSet
      val expected = (0 until numHashes).map(i => s"mh$i").toSet
      require(mhOnDisk == expected,
        s"$dir: meta declares numHashes=$numHashes but the signatures " +
          s"on disk carry ${mhOnDisk.toSeq.sorted.mkString(", ")} — a " +
          "rebuild crashed between its table swaps (the probes would " +
          "band-hash with the wrong layout). Recover from any " +
          "_precompact aside or re-run rebuild() from the source of truth.")
      if (sigs.schema.fieldNames.contains("band0")) {
        val sampled = sigs
          .select((col("band0") =!= bandKey(numHashes, bandSize)).as("__d"))
          .limit(16).collect()
        val drifted = sampled.count(_.getBoolean(0))
        require(drifted * 2 <= sampled.length,
          s"$dir: $drifted of ${sampled.length} sampled signature rows' " +
            s"band0 does not re-derive from their minhashes under meta's " +
            s"bandSize=$bandSize — a rebuild crashed between the " +
            "signatures and meta swaps, so probes would prune to the " +
            "wrong partition. Recover from any _precompact aside or " +
            "re-run rebuild() from the source of truth.")
      }
    }
    Handle(dir, meta.get("idCol").asText,
      numHashes, bandSize,
      fs.exists(Tombstones.path(dir)))
  }


  /** Index consistency check — [[Bm25Index.fsck]]'s dedup twin: one
    * pass over the three state tables, as a `(check, value)` report.
    * `fingerprint_rows` is corpus-derivable truth (distinct md5 of
    * every non-null text); the signature/word tables must cover the
    * same id set (a torn append leaves one without the other), and
    * stored `band0` values must re-derive from the row's own
    * minhashes (a partition key drifting from its hash breaks the
    * probe's pruning equality silently). */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = load(spark, dir)
    val sigs = spark.read.parquet(s"$dir/signatures")
    val words = spark.read.parquet(s"$dir/words")
    val fps = spark.read.parquet(s"$dir/fingerprints")
    val idc = col(h.idCol)
    // THREE aggregate actions instead of the old ten driver round-trips
    // (the audit was job-count-bound, every value unchanged):
    // 1. one pass over signatures — row count, band-key drift, and the
    //    distinct-row count (replay duplicates) in a single aggregate
    def cnt(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val sigCols = sigs.columns.map(col).toSeq
    val sigAgg = sigs.agg(
      count(lit(1)),
      cnt(col("band0") =!= bandKey(h.numHashes, h.bandSize)),
      countDistinct(struct(sigCols: _*))).head()
    // 2. one per-id membership pass over (signature ids, word ids,
    //    tombstoned ids): coverage diffs, doc counts and the raw
    //    tombstone row count all ride one groupBy + one aggregate
    val tombs = Tombstones.read(spark, dir)
    val tombIds = tombs.map(_.select(idc))
      .getOrElse(sigs.select(idc).limit(0))
    val tagged = Seq(sigs.select(idc), words.select(idc), tombIds)
      .zipWithIndex
      .map { case (df, i) => df.select(idc.as(h.idCol), lit(i).as("__src")) }
      .reduce(_ unionByName _)
    val m = tagged.groupBy(idc).agg(
      cnt(col("__src") === 0).as("__c0"),
      cnt(col("__src") === 1).as("__c1"),
      cnt(col("__src") === 2).as("__c2"))
    val mAgg = m.agg(
      cnt(col("__c0") > 0), // signature_docs
      cnt(col("__c0") > 0 && col("__c1") === 0), // sig_docs_missing_words
      cnt(col("__c1") > 0 && col("__c0") === 0), // word_docs_missing_sigs
      coalesce(sum(col("__c2")), lit(0L)), // n_tombstones (raw rows)
      cnt(col("__c2") > 0 && col("__c0") === 0)).head() // tombstone_orphans
    // 3. the fingerprint table's distinct row count
    val fpRows = fps.distinct().count()
    Seq(
      ("fingerprint_rows", fpRows),
      ("signature_docs", mAgg.getLong(0)),
      ("n_tombstones", mAgg.getLong(3)),
      ("sig_docs_missing_words", mAgg.getLong(1)),
      ("word_docs_missing_sigs", mAgg.getLong(2)),
      ("band0_hash_mismatch", sigAgg.getLong(1)),
      ("duplicate_signature_rows", sigAgg.getLong(0) - sigAgg.getLong(2)),
      ("tombstone_orphans", mAgg.getLong(4)))
      .toDF("check", "value")
  }

  /** Screen a batch against the persisted state — the same verdict
    * columns as [[Dedup.dedupAgainst]] (`exact_dup`, `near_dup`,
    * `near_dup_of`, `is_new`), same thresholds, same null-text rule;
    * the only difference is WHERE the corpus side comes from. The
    * corpus is touched as: one semi-join against the fingerprint
    * table, band equi-joins against the signature table, and a
    * words read for the candidate sliver only.
    * `bandSize = 0` (the default) probes with the index's build
    * bandSize; an explicit narrower band is legal but forgoes the
    * band-0 partition-pruning equality (see [[Handle]]). */
  def dedupBatch(
      spark: SparkSession, handle: Handle, batch: DataFrame,
      threshold: Double = 0.8, bandSize: Int = 0): DataFrame = {
    val idCol = handle.idCol
    val numHashes = handle.numHashes
    val bs = if (bandSize == 0) handle.bandSize else bandSize
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    requireLayout(numHashes, bs)
    // the delete() filters: a tombstoned doc's fingerprint, bands and
    // word set all stand down. The gate is a LIVE filesystem check
    // (the shared Tombstones contract), not the handle's snapshot
    // flag: a long-lived probe loop (the CurationIngest sink) holds
    // its handle across triggers, and a stale no-tombstone flag
    // would silently screen new batches against deleted docs — the
    // exact failure the tombstone exists to prevent.
    val tombstones =
      Tombstones.read(spark, handle.dir).map(_.localCheckpoint(true))
    val corpusFp = tombstones.foldLeft(
        spark.read.parquet(s"${handle.dir}/fingerprints")) {
      (df, ts) => df.join(ts.select("fp").na.drop(), Seq("fp"), "left_anti")
    }
    val exactHit = batch.filter(col("text").isNotNull)
      .select(col(idCol), md5(col("text")).as("fp"))
      .join(corpusFp, Seq("fp"), "left_semi")
      .select(col(idCol), lit(true).as("exact_dup"))
    val bSig = Dedup.minhashSignatures(batch, numHashes)
      .filter(col("mh0").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(i => col(s"mh$i")): _*)
      .withColumn("band0", bandKey(numHashes, handle.bandSize))
      .localCheckpoint(false)
    val cSig = tombstones.foldLeft(
        spark.read.parquet(s"${handle.dir}/signatures")) {
      (df, ts) => df.join(ts.select(idCol), Seq(idCol), "left_anti")
    }
    val bands = (0 until numHashes / bs)
      .map(b => (b * bs) until ((b + 1) * bs))
    // the stored partition key hashes the first `storedKeyWidth`
    // minhashes; band-0 equality implies key equality only when band 0
    // covers at least those columns — otherwise stating it would DROP
    // true band-0 candidates whose keys differ on uncovered hashes
    val storedKeyWidth = math.min(handle.bandSize, numHashes)
    val pruneOnBand0 = storedKeyWidth <= bs
    val a = bSig.alias("a"); val b = cSig.alias("b")
    val pairs = bands.zipWithIndex.map { case (band, bi) =>
      // equal band-0 minhashes imply equal band0 buckets: stating the
      // (redundant) partition-column equality on the first band is
      // what lets dynamic partition pruning skip buckets on disk
      val cond = band.map(i => col(s"a.mh$i") === col(s"b.mh$i")).reduce(_ && _)
      val full = if (bi == 0 && pruneOnBand0)
        cond && col("a.band0") === col("b.band0") else cond
      a.join(b, full)
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    }.reduce(_ unionByName _).distinct().localCheckpoint(false)
    // verify: batch word sets computed, corpus word sets READ — and
    // only for ids that appear in a candidate pair
    val bWords = batch.filter(col("text").isNotNull)
      .select(col(idCol).as("doc_a"),
        array_distinct(Dedup.tokens(col("text"))).as("__ta"))
      .join(pairs.select("doc_a").distinct(), Seq("doc_a"), "left_semi")
    val cWords = spark.read.parquet(s"${handle.dir}/words")
      .select(col(idCol).as("doc_b"), col("words").as("__tb"))
      .join(pairs.select("doc_b").distinct(), Seq("doc_b"), "left_semi")
    val nearHit = pairs
      .join(bWords, Seq("doc_a")).join(cWords, Seq("doc_b"))
      .withColumn("__ni", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("jaccard",
        col("__ni").cast("double") /
          (size(col("__ta")) + size(col("__tb")) - col("__ni")))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_a").as(idCol))
      .agg(min(col("doc_b")).as("near_dup_of"))
    batch.join(exactHit, Seq(idCol), "left")
      .join(nearHit, Seq(idCol), "left")
      .withColumn("exact_dup", coalesce(col("exact_dup"), lit(false)))
      .withColumn("near_dup", col("near_dup_of").isNotNull)
      .withColumn("is_new", !col("exact_dup") && !col("near_dup"))
  }
}
