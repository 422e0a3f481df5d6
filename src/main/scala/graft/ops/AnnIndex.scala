package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent IVF-PQ index: the production form of the ANN stack.
  * [[Similarity.trainCodebook]] / [[Similarity.trainPqCodebooks]] /
  * [[Similarity.pqEncode]] run ONCE at ingest; what lands on disk is
  * the compact code table plus the (tiny) models, and query time
  * never touches a raw vector again.
  *
  * Layout under `dir`:
  *  - `ivf_centroids/` — (cid, cv) coarse cells, k rows
  *  - `pq_codebooks/`  — (mi, cid, cv) sub-centroids, m x k rows
  *  - `codes/`         — (id, cell, code_0..code_{m-1}),
  *                       PARTITIONED BY cell
  *
  * The cell partitioning is the point at 100 TB: an `nProbe`-cell
  * query reads `nProbe` directories and nothing else — partition
  * pruning happens in the file listing, before a single row is
  * scanned (the `.explain` check is `PartitionFilters` on `cell`).
  * Raw embeddings per row: dim x 4 bytes; code rows: m bytes — the
  * scan shrinks by dim*4/m (64-dim float to m=4: 64x) BEFORE pruning.
  */
object AnnIndex {

  /** `hasTombstones` — whether a `tombstones/` side table exists
    * ([[delete]] since the last [[compact]]/[[rebuild]]): when false
    * every probe skips the tombstone anti-join entirely, so an index
    * that never deletes pays nothing for the feature. */
  final case class Handle(
      dir: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      hasTombstones: Boolean = false)

  /** Encode a slice under frozen models into the code-table row shape:
    * id FIRST (the column-order contract [[fsck]] and [[load]] infer
    * the id column by), then `cell`, the m codes, and any `attrCols` —
    * filterable metadata (language, source, license tier…) stored
    * INSIDE the cell-partitioned table so a filtered probe evaluates
    * its predicate on the pruned cell scan (a parquet-pushed filter),
    * never against a second corpus-sized side table. */
  private def encodeRows(
      df: DataFrame, embCol: String, idCol: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      attrCols: Seq[String]): DataFrame = {
    attrCols.foreach { a =>
      require(df.columns.contains(a),
        s"attribute column '$a' not in the slice " +
          s"(has ${df.columns.mkString(", ")})")
      require(a != idCol && a != "cell" && !a.startsWith("code_"),
        s"attribute column '$a' collides with the code-table layout " +
          "(id / cell / code_*)")
    }
    Similarity.pqEncode(
        Similarity.ivfAssign(df, embCol, centroids), embCol, codebooks)
      .select(col(idCol) +: col("cell") +:
        (codebooks.indices.map(mi => col(s"code_$mi")) ++
          attrCols.map(col)): _*)
  }

  /** One existing `cell=` partition dir under the code table, found
    * via a PAGED child listing that stops at the first hit (HDFS
    * serves listStatusIterator in pages) — the schema/existence
    * anchor for [[codesSchema]] and the empty-probe fallback, costing
    * one page instead of the recursive full-file enumeration a
    * `spark.read.parquet(codes)` would pay. */
  private def firstCellDir(fs: FileSystem, base: String): Option[Path] = {
    val p = new Path(base)
    if (!fs.exists(p)) None
    else {
      val it = fs.listStatusIterator(p)
      var found: Option[Path] = None
      while (found.isEmpty && it.hasNext) {
        val st = it.next()
        if (st.isDirectory && st.getPath.getName.startsWith("cell="))
          found = Some(st.getPath)
      }
      found
    }
  }

  /** The code table's schema from a SINGLE partition's footers: every
    * file is written with the same schema (the append/buildWith
    * contract), so one partition answers schema questions without
    * enumerating all nCells dirs. Falls back to the plain read for a
    * dir with no `cell=` children (never written through this API). */
  private def codesSchema(
      spark: SparkSession, dir: String): org.apache.spark.sql.types.StructType = {
    val base = s"$dir/codes"
    val fs = Maintenance.fsOf(spark)
    firstCellDir(fs, base) match {
      case Some(d) =>
        spark.read.option("basePath", base).parquet(d.toString).schema
      case None => spark.read.parquet(base).schema
    }
  }

  /** Pruned code scan for a probe: reads ONLY the probed cells'
    * partition dirs (existence-checked, O(nProbe) RPCs) instead of
    * letting `InMemoryFileIndex` enumerate every cell dir just so
    * partition pruning can discard them — the r15 ×100 finding:
    * queryBatch read 6.3× slower on constant absolute work, pure
    * listing overhead, and at 100 TB (10⁵–10⁶ cells) every probe
    * would pay that O(nCells) driver-side listing regardless of
    * nProbe. Appends land inside existing cell dirs or create new
    * ones — both visible here (fresh exists + listing per probe,
    * nothing cached across calls, so a handle never serves stale
    * file sets). A probed cell with no dir contributes no rows by
    * construction; if NO probed dir exists the probe is empty with
    * the live schema. When the probed set is a large fraction of all
    * cells (a diverse batch), per-cell existence RPCs would exceed
    * one child listing — the scan falls back to the classic full
    * listing, which that batch amortizes anyway. */
  private def prunedCodes(
      spark: SparkSession, dir: String, cells: Seq[Long],
      nCells: Int): DataFrame = {
    val base = s"$dir/codes"
    val distinctCells = cells.distinct
    if (distinctCells.size.toLong * 8 >= nCells.toLong)
      return spark.read.parquet(base)
    val fs = Maintenance.fsOf(spark)
    val dirs = distinctCells
      .map(c => new Path(s"$base/cell=$c"))
      .filter(fs.exists)
      .map(_.toString)
    if (dirs.nonEmpty)
      spark.read.option("basePath", base).parquet(dirs: _*)
    else firstCellDir(fs, base) match {
      case Some(d) =>
        spark.read.option("basePath", base).parquet(d.toString)
          .filter(lit(false))
      case None => spark.read.parquet(base) // never-written dir: original path
    }
  }

  /** The attribute columns a persisted code table carries: everything
    * in its schema that is not the id (first data field, the write
    * contract), the partition key, or a code column. */
  private def attrColsOf(spark: SparkSession, dir: String, idCol: String): Seq[String] =
    codesSchema(spark, dir).fieldNames
      .filterNot(f => f == idCol || f == "cell" || f.startsWith("code_"))
      .toSeq

  /** Model-generation marker — the torn-rebuild detector: codes are
    * meaningless under the WRONG codebooks (ADC would rank with
    * garbage distances, silently), and a crash between [[rebuild]]'s
    * three table swaps can land exactly that state — new codes beside
    * not-yet-swapped models (the [[Bm25Index]] stale-meta window, with
    * a worse failure mode: wrong RESULTS, not missed terms). Every
    * build/rebuild/merge stamps the SAME fresh uuid as an
    * `_model_gen.<uuid>` bookkeeping file inside all three table dirs
    * (underscore-prefixed: parquet readers and [[Maintenance
    * .dataFiles]] skip it, so swaps move it with the dir and merges
    * never copy a shard's); [[compact]] PRESERVES the codes marker
    * (frozen models); [[load]] refuses a mixed-generation dir. Pre-
    * marker indexes carry none anywhere and load unchanged. */
  private val GenPrefix = "_model_gen."

  private val GenTables = Seq("codes", "ivf_centroids", "pq_codebooks")

  private def stampGen(fs: FileSystem, base: String): Unit = {
    val gen = java.util.UUID.randomUUID().toString
    GenTables.foreach(t => fs.create(new Path(s"$base/$t/$GenPrefix$gen"), true).close())
  }

  private def genOf(fs: FileSystem, tableDir: String): Option[String] = {
    val p = new Path(tableDir)
    if (!fs.exists(p)) None
    else fs.listStatus(p).iterator.map(_.getPath.getName)
      .find(_.startsWith(GenPrefix)).map(_.stripPrefix(GenPrefix))
  }

  private def requireOneGeneration(fs: FileSystem, dir: String): Unit = {
    // only tables that EXIST participate: inside a swap window one dir
    // is legitimately absent for two renames (append's refusal must
    // stay the lock's, per its scaladoc), and a crashed single-table
    // swap leaves a `_precompact` aside that the maintenance ops
    // refuse on — this gate is for the BETWEEN-swaps crash, which
    // leaves all three tables present but generation-mixed
    val existing = GenTables.filter(t => fs.exists(new Path(s"$dir/$t")))
    val gens = existing.map(t => t -> genOf(fs, s"$dir/$t"))
    val defined = gens.collect { case (t, Some(g)) => t -> g }
    require(defined.isEmpty ||
        (defined.size == existing.size && defined.map(_._2).distinct.size == 1),
      s"$dir: the code and model tables carry MISMATCHED model " +
        s"generations (${gens.map { case (t, g) =>
          s"$t=${g.getOrElse("<none>")}" }.mkString(", ")}) — a rebuild " +
        "crashed between its table swaps, so the codes do not decode " +
        "under these codebooks (ADC distances would be silently wrong). " +
        "Recover from any _precompact aside or re-run rebuild() from " +
        "the source of truth.")
  }

  private def train(
      df: DataFrame, embCol: String, idCol: String,
      nCells: Int, m: Int, k: Int, dim: Int, iters: Int)
      : (Seq[(Long, Seq[Double])], Seq[Seq[(Long, Seq[Double])]]) =
    (Similarity.trainCodebook(df, embCol, idCol, nCells, dim, iters, exactMean = true),
      Similarity.trainPqCodebooks(df, embCol, idCol, m, k, dim, iters))

  private def writeModels(
      spark: SparkSession, base: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]]): Unit = {
    import spark.implicits._
    centroids.toDF("cid", "cv")
      .write.mode("overwrite").parquet(s"$base/ivf_centroids")
    codebooks.zipWithIndex
      .flatMap { case (cb, mi) => cb.map { case (cid, v) => (mi, cid, v) } }
      .toDF("mi", "cid", "cv")
      .write.mode("overwrite").parquet(s"$base/pq_codebooks")
  }

  /** The one table-set write: build, append, rebuild and the shadow's
    * sidecar and delta all land encoded code rows through it, one
    * writer wave per cell (no tiny files). A full write also lands the
    * models and stamps one fresh generation across the three tables; an
    * append adds codes under the frozen models the table already
    * carries. */
  private def writeState(
      codes: DataFrame, centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]], base: String,
      mode: String): Unit = {
    val full = mode == "overwrite"
    if (full) writeModels(codes.sparkSession, base, centroids, codebooks)
    codes.repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$base/codes")
    if (full) stampGen(Maintenance.fsOf(codes.sparkSession), base)
  }

  /** Train both quantizers on the corpus, then [[buildWith]] them.
    * One pass for IVF assignment + PQ codes (both are narrow
    * literal-codebook maps); the code table shuffles once on `cell`
    * for the partitioned write (that shuffle IS the index build).
    * `attrCols` names metadata columns of `df` to store alongside the
    * codes for FILTERED probes ([[query]]/[[queryBatch]]'s `filter`):
    * at 100 TB a "top-k where lang = 'en'" must rank k QUALIFYING
    * rows from the pruned cells, not post-filter an unfiltered top-k
    * down to whatever survives. */
  def build(
      df: DataFrame, embCol: String, idCol: String, dir: String,
      nCells: Int, m: Int, k: Int, dim: Int, iters: Int = 3,
      attrCols: Seq[String] = Nil): Handle = {
    val (centroids, codebooks) = train(df, embCol, idCol, nCells, m, k, dim, iters)
    buildWith(df, embCol, idCol, dir, centroids, codebooks, attrCols)
  }

  /** Persist a NEW index from a slice encoded under GIVEN quantizers
    * — the train-centrally / encode-at-site deployment shape: one
    * site trains the models (a [[build]] or [[rebuild]]), every other
    * site encodes ITS slice under those frozen models into its own
    * index dir, and [[merge]] later unifies the shards (legal exactly
    * because the models match). Also the disaster path: re-encode a
    * slice from source under a surviving model pair. The written
    * state is bit-identical to what [[build]] would produce had its
    * training landed on these models. */
  def buildWith(
      df: DataFrame, embCol: String, idCol: String, dir: String,
      centroids: Seq[(Long, Seq[Double])],
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      attrCols: Seq[String] = Nil): Handle = {
    require(centroids.nonEmpty && codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "buildWith needs trained models (non-empty centroids and codebooks)")
    writeState(encodeRows(df, embCol, idCol, centroids, codebooks, attrCols),
      centroids, codebooks, dir, "overwrite")
    Handle(dir, centroids, codebooks)
  }

  /** Merge shard indexes that share ONE model pair into one index —
    * the vector member of the merge family ([[Bm25Index.merge]] /
    * [[DedupIndex.merge]] are the lexical/dedup twins): shards come
    * from [[buildWith]] under a common training (or from a common
    * [[rebuild]] baseline grown by per-site appends), so their code
    * rows are already in the SAME quantizer space and the physical
    * work is one filesystem copy per data file — no re-encoding, no
    * shuffle. Loud preconditions: the centroids AND every codebook
    * must be BIT-EQUAL across shards (codes from different trainings
    * are incommensurable — a merged probe would rank apples against
    * oranges silently), same attribute schema, no tombstones
    * (compact first), pairwise-DISJOINT id sets, fresh `outDir`. */
  def merge(
      spark: SparkSession, shardDirs: Seq[String], outDir: String): Handle = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(conf)
    Maintenance.requireMergeable(fs, shardDirs, outDir, "vectors")
    val hs = shardDirs.map(load(spark, _))
    val h0 = hs.head
    val schema0 = spark.read.parquet(s"${shardDirs.head}/codes")
      .schema.fieldNames.toSeq
    hs.zip(shardDirs).foreach { case (h, d) =>
      require(h.centroids == h0.centroids && h.codebooks == h0.codebooks,
        s"merge: $d was encoded under DIFFERENT models than " +
          s"${shardDirs.head} — codes from different trainings are " +
          "incommensurable; rebuild one side under the other's models " +
          "(buildWith) before merging")
      val sch = spark.read.parquet(s"$d/codes").schema.fieldNames.toSeq
      require(sch == schema0,
        s"merge: shard code schemas disagree — ${shardDirs.head} has " +
          s"$schema0 but $d has $sch (id/attr layout must match)")
    }
    val annId = schema0
      .filterNot(f => f == "cell" || f.startsWith("code_")).head
    Maintenance.requireDisjointShardIds(spark, shardDirs, "codes", annId,
      "id sets must be disjoint")
    writeModels(spark, outDir, h0.centroids, h0.codebooks)
    shardDirs.zipWithIndex.foreach { case (d, i) =>
      Maintenance.copyDataFiles(fs,
        new Path(s"$d/codes"), new Path(s"$outDir/codes"), s"s$i", conf)
    }
    // fresh generation for the merged index (copyDataFiles never
    // carries a shard's marker — it skips bookkeeping files)
    stampGen(fs, outDir)
    Handle(outDir, h0.centroids, h0.codebooks)
  }

  /** Fold a new slice of embeddings into the persisted index under
    * the FROZEN quantizers — the FAISS `add()` analogue
    * ([[DedupIndex.append]] is the same move for the dedup stack):
    * assign each vector its coarse cell and PQ codes with the models
    * already in the handle, then parquet-append the code rows to
    * their cell partitions. No retraining, no rebuild; a query after
    * append sees old + new rows through the same pruned scan. The
    * state after append is EXACTLY what [[build]] would have written
    * for the union under these models (OpsSpec asserts row-level
    * equality with the in-memory encoding of the union) — retrain
    * deliberately when distribution drift warrants it, the
    * [[Similarity]] training ops are one call away. Runs under an
    * append marker (see [[Maintenance]]). */
  def append(
      handle: Handle, df: DataFrame, embCol: String, idCol: String): Unit =
    Maintenance.withAppendMarker(
        Maintenance.fsOf(df.sparkSession), new Path(handle.dir)) {
      // the slice must carry whatever attribute columns the table was
      // built with — a parquet append with a narrower schema would
      // silently NULL the attrs on the new rows and a filtered probe
      // would never return them. Read the live schema INSIDE the
      // marker, after the lock check: mid-swap (a rebuild/compact
      // between its renames) the codes dir briefly does not exist,
      // and the refusal must be the lock's, not a path error's.
      val attrs = attrColsOf(df.sparkSession, handle.dir, idCol)
      val encoded = encodeRows(
        df, embCol, idCol, handle.centroids, handle.codebooks, attrs)
      Tombstones.refuseReAdd(df.sparkSession, handle.dir, idCol, encoded)
      writeState(encoded, handle.centroids, handle.codebooks, handle.dir, "append")
    }

  /** Tombstone-delete vectors from the index — the
    * right-to-be-forgotten path for the vector side ([[Bm25Index
    * .delete]] is the lexical twin): at 100 TB a delete must not
    * rewrite the cell-partitioned code table (that is [[compact]]'s
    * job). `ids` is a DataFrame holding `idCol` (deletion lists are
    * corpus-scaled). Ids land in a small `tombstones/` side table;
    * [[query]] and [[queryBatch]] anti-join it, so a deleted vector
    * can never occupy a result slot. The quantizers are untouched —
    * cell shapes reflect the corpus they were trained on until a
    * [[rebuild]], which also clears the tombstones (its `corpus`
    * argument is the post-delete source of truth). Idempotent
    * against replays ([[Tombstones.record]]); ids the code table
    * never held are tombstoned anyway (the code table is derived
    * state — a concurrent ingest may land the row later, and the
    * tombstone must already cover it... which [[append]]'s re-add
    * refusal makes loud instead of silent). Returns a handle that
    * probes the post-delete state. */
  def delete(handle: Handle, ids: DataFrame, idCol: String): Handle = {
    val spark = ids.sparkSession
    require(ids.columns.contains(idCol),
      s"delete: the ids frame must carry '$idCol', " +
        s"has ${ids.columns.mkString(", ")}")
    val fs = Maintenance.fsOf(spark)
    Maintenance.withAppendMarker(fs, new Path(handle.dir)) {
      Tombstones.record(spark, handle.dir, idCol,
        ids.select(col(idCol)).na.drop().distinct())(Tombstones.nonEmpty)
      handle.copy(hasTombstones = fs.exists(Tombstones.path(handle.dir)))
    }
  }

  /** Rewrite the code table compacted — the maintenance pass for the
    * append loop ([[DedupIndex.compact]] is the dedup-side twin):
    * every [[append]] lays a new file wave into each touched cell
    * partition, so a long-running ingest accumulates small files;
    * this collapses EXACT duplicate rows of the snapshot (a replayed
    * append re-encodes identically under the frozen models — any
    * survivor is THE row), purges tombstoned ids and rewrites one wave
    * per cell, carrying the `_model_gen` marker forward (the models do
    * not change). Lock, snapshot, swap, late-append fold-in (a
    * concurrent [[graft.streaming.AnnIngest]] micro-batch) and crash
    * posture are [[Maintenance]]'s compact protocol. For a clean
    * append history the answers are untouched; after a REPLAYED
    * append, compaction also restores single-copy top-k (a duplicated
    * row would otherwise occupy two result slots). */
  def compact(handle: Handle, waitForAppendsMs: Long = 60000L): Unit = {
    val spark = SparkSession.active
    val fs = Maintenance.fsOf(spark)
    Maintenance.withCompactLock(fs, new Path(handle.dir), waitForAppendsMs)(
      compactLocked(spark, handle, fs))
  }

  private[ops] def compactLocked(
      spark: SparkSession, handle: Handle, fs: FileSystem): Unit =
    Maintenance.compactTables(spark, fs, handle.dir, Seq("codes")) { (_, rows, out) =>
      rows.distinct().repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(out)
      genOf(fs, s"${handle.dir}/codes").foreach { g =>
        fs.create(new Path(s"$out/$GenPrefix$g"), true).close()
      }
    }

  /** Retrain-and-migrate — the operator form of the drift→retrain
    * contract ([[Similarity.embeddingDrift]] is the measurement that
    * triggers it): retrain BOTH quantizers on the CURRENT corpus,
    * re-encode every row under the new models, and swap all three
    * tables (codes, ivf_centroids, pq_codebooks) into place. The end
    * state is bit-identical to what [[build]] would write for `corpus`
    * at these parameters — a frozen-model [[append]] history whose
    * recall decayed is replaced wholesale by the canonical state (the
    * q153 oracle replays exactly that equivalence).
    *
    * `corpus` must be the full current corpus including every row
    * ever [[append]]ed — the code table is derived state, never the
    * source of truth for raw vectors (PQ codes cannot be decoded back
    * losslessly). The lock is held for the WHOLE retrain+encode+swap
    * span ([[Maintenance]]'s rebuild protocol), so an ingest append
    * during a rebuild refuses loudly instead of landing rows encoded
    * under models about to be thrown away. Rebuild is the expensive,
    * occasional move; [[compact]] stays the cheap frequent one. The
    * three tmp tables share one fresh `_model_gen`, so a crash between
    * the swaps leaves a mixed-generation dir that [[load]] refuses.
    * `beforeSwap` is a test seam invoked between the first table's
    * two renames; production callers leave the default no-op. */
  def rebuild(
      corpus: DataFrame, embCol: String, idCol: String, dir: String,
      nCells: Int, m: Int, k: Int, dim: Int, iters: Int = 3,
      waitForAppendsMs: Long = 60000L,
      beforeSwap: () => Unit = () => ()): Handle = {
    val spark = corpus.sparkSession
    Maintenance.rebuildSwap(Maintenance.fsOf(spark), dir, GenTables,
        waitForAppendsMs, beforeSwap) { tmp =>
      // the rebuilt table keeps the live table's attribute columns —
      // `corpus` is the post-delete source of truth and must carry them
      val attrs = attrColsOf(spark, dir, idCol)
      val (centroids, codebooks) =
        train(corpus, embCol, idCol, nCells, m, k, dim, iters)
      writeState(encodeRows(corpus, embCol, idCol, centroids, codebooks, attrs),
        centroids, codebooks, tmp, "overwrite")
      Handle(dir, centroids, codebooks)
    }
  }

  /** NON-BLOCKING retrain-and-migrate — the 100 TB form of
    * [[rebuild]]: rebuild holds the lock for its WHOLE
    * retrain+encode span, so at scale ingest refuses for hours;
    * shadow rebuild trains and encodes into a sidecar while the live
    * index keeps serving AND accepting appends, then takes the lock
    * only for the bounded catch-up — ids that landed in the live code
    * table after the sidecar encode are re-encoded from `source` under
    * the NEW models — and the three renames ([[Maintenance]]'s shadow
    * protocol: `source` is a thunk re-invoked under the lock, a delta
    * id it cannot resolve refuses, tombstones stay, and a purge during
    * the retrain discards the sidecar). A row appended to the index
    * during the retrain must be present in the re-read source (the
    * ingest contract: the code table is derived state).
    *
    * End state: code rows bit-identical to [[buildWith]] over
    * source-at-swap-time under the new models — the q153 canonical
    * equality, extended to mid-rebuild appends (OpsSpec interleaves
    * one through `beforeLock`). `beforeLock` is a test seam invoked
    * between the sidecar encode and the lock acquisition (where a
    * concurrent append would land); `beforeSwap` between the first
    * table's two renames; production leaves both default. */
  def rebuildShadow(
      source: () => DataFrame, embCol: String, idCol: String, dir: String,
      nCells: Int, m: Int, k: Int, dim: Int, iters: Int = 3,
      waitForAppendsMs: Long = 60000L,
      beforeLock: () => Unit = () => (),
      beforeSwap: () => Unit = () => ()): Handle =
    Maintenance.shadowRebuild(source, dir, GenTables, idCol, "codes",
        waitForAppendsMs, beforeLock, beforeSwap) { snap =>
      (snap.sparkSession, attrColsOf(snap.sparkSession, dir, idCol),
        train(snap, embCol, idCol, nCells, m, k, dim, iters))
    }(
      write = { case ((_, attrs, (centroids, codebooks)), rows, base, mode) =>
        writeState(encodeRows(rows, embCol, idCol, centroids, codebooks, attrs),
          centroids, codebooks, base, mode)
      },
      finish = { case ((spark, _, (centroids, codebooks)), _) =>
        Handle(dir, centroids, codebooks,
          Maintenance.fsOf(spark).exists(Tombstones.path(dir)))
      })

  /** Re-open a persisted index: the models are dimension-table-sized
    * driver reads; the code table stays on disk until a query prunes
    * into it. */
  def load(spark: SparkSession, dir: String): Handle = {
    // torn-rebuild gate: codes must decode under THESE models
    requireOneGeneration(Maintenance.fsOf(spark), dir)
    val centroids = spark.read.parquet(s"$dir/ivf_centroids")
      .select(col("cid").cast("long"), col("cv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq
    val cbRows = spark.read.parquet(s"$dir/pq_codebooks")
      .select(col("mi").cast("int"), col("cid").cast("long"), col("cv"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toSeq))
    require(centroids.nonEmpty, s"$dir/ivf_centroids is empty")
    require(cbRows.nonEmpty, s"$dir/pq_codebooks is empty")
    val codebooks = cbRows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(r => r._2 -> r._3).toSeq }
    Handle(dir, centroids, codebooks,
      Maintenance.fsOf(spark).exists(Tombstones.path(dir)))
  }


  /** Index consistency check — [[Bm25Index.fsck]]'s vector twin: one
    * pass over the index's own tables verifying what the probes rely
    * on, as a `(check, value)` report. Zero invalid/orphan/duplicate
    * rows = healthy; `code_rows` is the absolute for cross-checking
    * against the source corpus. Checks:
    *
    *  - `invalid_cells` — code rows whose `cell` is not a trained
    *    centroid id (a torn write, or rows encoded under models that
    *    were since [[rebuild]]t non-atomically — impossible through
    *    this API, so nonzero means external tampering)
    *  - `invalid_codes` — rows with a sub-code outside the trained
    *    codebook's id range
    *  - `duplicate_code_rows` — rows minus distinct rows (replayed
    *    appends; compact collapses them)
    *  - `tombstone_orphans` — tombstoned ids the code table never
    *    held */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = load(spark, dir)
    val m = h.codebooks.size
    val codes = spark.read.parquet(s"$dir/codes")
    val idCol = codes.schema.fieldNames
      .filterNot(f => f == "cell" || f.startsWith("code_")).head
    val validCells = h.centroids.map(_._1)
    val invalidCode = (0 until m).map { mi =>
      val ids = h.codebooks(mi).map(_._1)
      !col(s"code_$mi").isin(ids: _*)
    }.reduce(_ || _)
    // TWO aggregate actions instead of the old five driver round-trips
    // (job-count-bound audit; every value unchanged): the distinct-row
    // count rides the main codes aggregate, and the tombstone row count
    // + orphan diff ride one membership groupBy
    val codeCols = codes.columns.map(col).toSeq
    val agg = codes.agg(
      count(lit(1)),
      coalesce(sum(when(!col("cell").isin(validCells: _*), 1L)), lit(0L)),
      coalesce(sum(when(invalidCode, 1L)), lit(0L)),
      countDistinct(struct(codeCols: _*))).head()
    val dupRows = agg.getLong(0) - agg.getLong(3)
    def cnt(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val (nTombstones, tombOrphans) = Tombstones.read(spark, dir) match {
      case None => (0L, 0L)
      case Some(ts) =>
        val tagged = codes.select(col(idCol), lit(0).as("__src"))
          .unionByName(ts.select(col(idCol), lit(1).as("__src")))
        val r = tagged.groupBy(col(idCol)).agg(
            cnt(col("__src") === 0).as("__c0"),
            cnt(col("__src") === 1).as("__c1"))
          .agg(coalesce(sum(col("__c1")), lit(0L)),
            cnt(col("__c1") > 0 && col("__c0") === 0)).head()
        (r.getLong(0), r.getLong(1))
    }
    Seq(
      ("code_rows", agg.getLong(0)),
      ("n_tombstones", nTombstones),
      ("invalid_cells", agg.getLong(1)),
      ("invalid_codes", agg.getLong(2)),
      ("duplicate_code_rows", dupRows),
      ("tombstone_orphans", tombOrphans))
      .toDF("check", "value")
  }

  /** Per-cell occupancy report — the operational metric that drives
    * the nProbe/recall trade and tells an operator when cells have
    * drifted out of balance ([[graft.ops.Similarity.embeddingDrift]]
    * measures the DISTRIBUTION shift; this measures its effect on the
    * index layout): one row per TRAINED centroid (empty cells report
    * 0 — an empty cell is itself a finding), with total code rows and
    * the live (tombstone-filtered) count. A skewed profile means some
    * probes scan far more than corpus/nCells rows (latency tail) while
    * others return starved candidate sets (recall floor) — the
    * [[rebuild]] trigger, alongside drift. One pass over the code
    * table's (id, cell) columns; the report is nCells rows. */
  def cellStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = load(spark, dir)
    val codes = spark.read.parquet(s"$dir/codes")
    val idCol = codes.schema.fieldNames
      .filterNot(f => f == "cell" || f.startsWith("code_")).head
    val all = codes.groupBy("cell").agg(count(lit(1)).as("n_codes"))
    val live = Tombstones.liveOnly(spark, dir, idCol,
        codes.select(col(idCol), col("cell")))
      .groupBy("cell").agg(count(lit(1)).as("n_live"))
    h.centroids.map(_._1).toDF("cell")
      .join(all, Seq("cell"), "left")
      .join(live, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_codes"), lit(0L)).as("n_codes"),
        coalesce(col("n_live"), lit(0L)).as("n_live"))
  }

  /** ADC top-k against the PERSISTED codes: rank the query's `nProbe`
    * best cells driver-side (centroids are in the handle), scan ONLY
    * those cell partitions, score rows from their m code columns
    * alone ([[Similarity.pqTopKFromCodes]]' lookup-table sum), take
    * the top `k`. The plan must show `PartitionFilters` on `cell` —
    * everything outside the probed cells is skipped at file-listing
    * time. */
  def query(
      spark: SparkSession, handle: Handle, idCol: String,
      queryVec: Seq[Double], k: Int = 10, nProbe: Int = 2,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(nProbe >= 1 && nProbe <= handle.centroids.size,
      s"nProbe must be in [1, ${handle.centroids.size}], got $nProbe")
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val qn = math.sqrt(dot(queryVec, queryVec))
    val probed = handle.centroids
      .map { case (cid, cv) =>
        cid -> dot(queryVec, cv) / (qn * math.sqrt(dot(cv, cv)))
      }
      .sortBy { case (cid, sim) => (-sim, -cid) } // ivfAssign tie rule: highest cid wins
      .take(nProbe).map(_._1)
    // the metadata predicate restricts the CANDIDATE set, before
    // ranking: the k results are the k best QUALIFYING rows from the
    // probed cells (post-filtering an unfiltered top-k would return
    // fewer — possibly zero — qualifying hits). The predicate sits
    // directly on the pruned parquet scan over the attribute columns
    // stored with the codes, so it pushes down to the reader; a
    // predicate naming a column the index was not built with fails
    // analysis loudly.
    // path-level pruning (listings ∝ nProbe, not nCells); the isin
    // filter is kept in-plan so the scan still shows PartitionFilters
    // on `cell` and stays correct under the large-probe-set fallback
    val scan = prunedCodes(spark, handle.dir, probed, handle.centroids.size)
      .filter(col("cell").isin(probed: _*))
    val codes = Tombstones.liveOnly(spark, handle.dir, idCol,
      filter.fold(scan)(scan.filter))
    Similarity.pqTopKFromCodes(codes, idCol, handle.codebooks, queryVec, k)
  }

  /** ADC-shortlist + exact re-rank — the FAISS "refine" pattern: the
    * compressed codes are a lossy quantization, so the true nearest
    * neighbor can sit just below an ADC top-k cutoff; probing a
    * `refine`-times-larger shortlist and re-ranking it by EXACT
    * cosine over the raw vectors recovers most of that recall for a
    * candidate-bounded price. The index itself never stores raw
    * vectors (the whole point of PQ) — `corpus` is the caller's
    * embedding table, touched as a POINT LOOKUP: the ≤ `k·refine`
    * shortlist ids collect to the driver (the rm3Expand fetch shape)
    * and push into the corpus scan as an in-filter, so the exact pass
    * reads candidate rows, never the corpus. Tombstones and the
    * metadata `filter` apply at the ADC stage, exactly as [[query]]
    * does. Emits `(id, cosine)`, top `k` by (cosine desc, id). */
  def queryRefined(
      spark: SparkSession, handle: Handle, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Seq[Double],
      k: Int = 10, nProbe: Int = 2, refine: Int = 4,
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    require(k.toLong * refine <= 65536,
      s"k*refine = ${k.toLong * refine} — the shortlist collects to the " +
        "driver (point-lookup fetch); keep it under 65536")
    val ids = query(spark, handle, idCol, queryVec, k * refine, nProbe, filter)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    // an all-filtered shortlist yields an empty (schema-correct) result
    val cand = (if (ids.isEmpty) corpus.filter(lit(false))
      else corpus.filter(col(idCol).isin(ids: _*)))
      .select(col(idCol), col(embCol))
    Similarity.bruteForceKnn(cand, embCol, idCol, queryVec, k)
  }

  /** Batched refine — [[queryRefined]] for a query TABLE: the ADC
    * stage is one [[queryBatch]] pass (the whole batch amortizes one
    * pruned code scan), then ONE exact pass re-ranks every query's
    * shortlist together: the `(query, candidate)` shortlist —
    * `nQueries × k × refine` rows, batch-bounded — broadcast-joins
    * the corpus ON THE CANDIDATE ID, the query table broadcast-joins
    * back on the query id, and the exact cosine + per-query window
    * rank run over shortlist-sized rows only. The corpus is touched
    * in ONE scan of (id, embedding) for the whole batch (the
    * amortization every batch API here buys); tombstones, the
    * metadata `filter` and the per-query `attrEquals` equality apply
    * at the ADC stage (the shortlist is already qualifying, so the
    * exact pass needs no re-filter). Emits `(query_id, neighbor_id,
    * cosine, rank)`, ranks 1..k by (cosine desc, id). */
  def queryBatchRefined(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      corpus: DataFrame, embCol: String, idCol: String,
      k: Int = 10, nProbe: Int = 2, refine: Int = 4,
      filter: Option[org.apache.spark.sql.Column] = None,
      attrEquals: Option[(String, String)] = None): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val shortlist = queryBatch(
        spark, handle, queries, embCol, idCol, k * refine, nProbe, filter,
        attrEquals)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(false) // ADC ran once; the exact pass reuses rows
    val qemb = queries.select(
      col(idCol).cast("long").as("query_id"),
      col(embCol).as("__qv"))
    val cand = corpus
      .select(col(idCol).as("neighbor_id"), col(embCol).as("__cv"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(qemb), Seq("query_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand
      .withColumn("cosine", Similarity.cosineOf(spark, col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Batched index probe — the vector-side twin of
    * [[Bm25Index.topKBatch]]: a query TABLE of embeddings amortizes
    * ONE pruned pass over the code table instead of one probe each
    * (the ANN-evaluation / RAG-eval shape). Per query row, the same
    * nProbe-best-cells rule as [[query]] (struct (sim, cid) sorted
    * descending — ties to the higher cid, the `ivfAssign` rule),
    * computed IN-PLAN; the scan prunes to the UNION of all queries'
    * probe cells (a ≤ nCells collect, never query-bounded). The ADC
    * distance is the [[Similarity.pqTopKFromCodes]] lookup table
    * MATERIALIZED per (query, subspace, sub-centroid): the sub-L2
    * expressions evaluate over the QUERY table only (nQueries × k
    * rows per subspace — never the corpus, and never a corpus-side
    * when-chain that would blow the codegen method-size limit at
    * real codebook sizes), then the corpus side is m broadcast
    * equi-joins plus one addition per subspace — whole-stage
    * codegen-clean at any k. Identical arithmetic order to the
    * driver-literal LUT, so per-pair distances are BIT-EQUAL to
    * [[query]]'s. Ranking is a query-partitioned window over
    * candidate rows only. Emits `(query_id, neighbor_id, pq_dist,
    * rank)`, ranks 1..k by (pq_dist asc, id); a query row present in
    * the corpus ranks itself (vector semantics, as [[query]] does).
    *
    * `attrEquals = Some((attrCol, queryCol))` is the PER-QUERY
    * metadata filter of multi-tenant batched retrieval (the shared
    * `filter` predicate applies one condition to the whole batch;
    * this one lets every query row carry its own): a candidate
    * qualifies for a query only when the code table's `attrCol`
    * equals THAT query's `queryCol` value — tenant isolation, "each
    * query ranks k docs in ITS language", per-user corpora. The
    * equality prunes candidates BEFORE the m LUT joins and the
    * ranking window, so each query ranks the k best qualifying
    * candidates FROM ITS PROBED CELLS (fewer rows when those cells
    * hold fewer qualifying vectors — the same IVF recall bound as
    * [[query]]'s filter) and pays only its qualifying slice. A NULL
    * query value matches nothing (SQL equality), yielding zero rows
    * for that query — the loud alternative is the caller's NULL
    * guard. */
  def queryBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      embCol: String, idCol: String, k: Int = 10, nProbe: Int = 2,
      filter: Option[org.apache.spark.sql.Column] = None,
      attrEquals: Option[(String, String)] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1 && nProbe <= handle.centroids.size,
      s"nProbe must be in [1, ${handle.centroids.size}], got $nProbe")
    attrEquals.foreach { case (ac, qc) =>
      require(queries.columns.contains(qc),
        s"queryBatch: queries must carry the per-query attribute " +
          s"column '$qc', has ${queries.columns.mkString(", ")}")
      // eager, schema-only (a parquet footer read, no job): a typo'd
      // stored-attribute name must fail BEFORE the probe pays the
      // query-side checkpoint and cells collect. Membership is checked
      // against the STORED ATTRIBUTES only — the layout columns (cell,
      // code_*, the id) are in the schema too, and accepting one as
      // `ac` would silently compare a layout value against the query
      // attribute instead of failing loudly
      val storedAttrs = codesSchema(spark, handle.dir).fieldNames
        .filterNot(c => c == "cell" || c.startsWith("code_") || c == idCol)
      require(storedAttrs.contains(ac),
        s"queryBatch: the code table carries no attribute column '$ac' " +
          s"(stored attrs: ${storedAttrs.mkString(", ")}) " +
          "— build the index with attrCols to store it")
    }
    val m = handle.codebooks.size
    val subDim = handle.codebooks.head.head._2.length
    // input guards, IN-PLAN because the query table is unbounded (the
    // topKBatch posture): a duplicate query id would duplicate that
    // query's LUT and probe rows — silently corrupting its candidate
    // set and ranks — and a NULL embedding would NULL-poison every
    // sub-distance; both raise row-wise at the checkpoint instead
    val dupW = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
    val qattr = attrEquals.toSeq.map { case (_, qc) => col(qc).as("__qattr") }
    val qemb = queries
      .select(Seq(col(idCol).cast("long").as("query_id"),
        col(embCol).as("__q")) ++ qattr: _*)
      .withColumn("__n", count(lit(1)).over(dupW))
      .select(Seq(
        when(col("__n") > 1, raise_error(concat(
            lit("queryBatch: duplicate query id "), col("query_id"))))
          .otherwise(col("query_id")).as("query_id"),
        when(col("__q").isNull, raise_error(concat(
            lit("queryBatch: NULL embedding for query id "), col("query_id"))))
          .otherwise(col("__q")).as("__q")) ++
        attrEquals.toSeq.map(_ => col("__qattr")): _*)
      .localCheckpoint(false) // feeds the probe AND the m LUT builds
    val probed = qemb
      .withColumn("__cells", slice(reverse(array_sort(array(
        Similarity.bestCells(spark, "__q", handle.centroids): _*))), 1, nProbe))
      .withColumn("cell", explode(transform(col("__cells"), c => c.getField("cid"))))
      .select(Seq(col("query_id"), col("cell")) ++
        attrEquals.toSeq.map(_ => col("__qattr")): _*)
    val cells = probed.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    // metadata predicate on the pruned scan — every query in the
    // batch ranks k QUALIFYING candidates (see [[query]]). The read
    // lists only the probed cells' dirs (path-level pruning; the
    // isin stays in-plan for PartitionFilters and the fallback)
    val scan = prunedCodes(spark, handle.dir, cells, handle.centroids.size)
      .filter(col("cell").isin(cells: _*))
    val codes = Tombstones.liveOnly(spark, handle.dir, idCol,
      filter.fold(scan)(scan.filter))
    // ONE literal codebook DataFrame (mi, cid, cv) — m·k rows — crossed
    // with the query table builds every LUT entry in a single plan
    // branch; the old per-sub-centroid select+union was O(m·k) plan
    // nodes (4,096 branches re-scanning the query table at a
    // FAISS-typical 256×16 codebook — planning time and plan size grew
    // with codebook size). The sub-distance arithmetic is BIT-EQUAL to
    // the per-centroid columns it replaces: per element the same
    // double-cast subtraction and square, folded left-to-right with a
    // +0.0 seed (x ≥ +0.0 makes the seed exact), in the same element
    // order — so per-pair distances still match [[query]]'s
    // driver-literal LUT bit-for-bit.
    import spark.implicits._
    val cbDf = handle.codebooks.zipWithIndex
      .flatMap { case (cb, mi) => cb.map { case (cid, cv) => (mi, cid, cv) } }
      .toDF("mi", "cid", "cv")
    val lutAll = qemb.crossJoin(broadcast(cbDf))
      .select(col("query_id"), col("mi"), col("cid"),
        aggregate(
          zip_with(
            slice(transform(col("__q"), x => x.cast("double")),
              col("mi") * subDim + 1, lit(subDim)),
            col("cv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v).as("qd"))
      .localCheckpoint(false) // m·k·nQueries rows feed the m join slices
    // the per-query attribute equality prunes candidates BEFORE the m
    // LUT joins — a non-qualifying row never pays a distance (the
    // attr column's existence was guarded eagerly above)
    val paired = attrEquals match {
      case None => probed.join(codes, Seq("cell"))
      case Some((ac, _)) =>
        probed.join(codes, Seq("cell"))
          .filter(col(ac) === col("__qattr"))
    }
    val joined = (0 until m).foldLeft(paired) {
      case (df, mi) =>
        val lut = lutAll.filter(col("mi") === mi)
          .select(col("query_id"), col("cid").as(s"code_$mi"),
            col("qd").as(s"__qd$mi"))
        df.join(broadcast(lut), Seq("query_id", s"code_$mi"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("pq_dist").asc, col(idCol))
    joined
      .withColumn("pq_dist",
        (0 until m).map(mi => col(s"__qd$mi")).reduce(_ + _))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("pq_dist"), col("rank"))
  }
}
