package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** The crash-safe lifecycle protocol of the three persistent indexes
  * ([[DedupIndex]], [[Bm25Index]], [[AnnIndex]]), stated and coded
  * once here. Each index supplies only hooks: its one table-set write,
  * its layout checks and meta, and one rewrite per table for compact.
  *
  *  - '''compact''' ([[compactTables]], under [[withCompactLock]]):
  *    snapshot each table's data files, write a compacted copy to
  *    `compact_tmp` FROM THAT SNAPSHOT ONLY (tombstoned rows purged),
  *    then swap every table, clear the tombstones and, if there were
  *    any, bump the purge epoch.
  *  - '''rebuild''' ([[rebuildSwap]]): under the lock for the whole
  *    corpus pass, write every table (meta last) to `rebuild_tmp`, swap
  *    them all, clear the tombstones (the corpus is the post-delete
  *    source of truth) and bump the purge epoch.
  *  - '''shadow rebuild''' ([[shadowRebuild]]): write the sidecar
  *    `shadow_tmp` UNLOCKED while the live index serves and ingests,
  *    then under the lock catch up the append delta from a re-read
  *    `source` and swap. Tombstones are kept; a purge in between
  *    refuses the swap ([[requireNoPurgeSince]]).
  *  - '''delete''' ([[Tombstones.record]], under [[withAppendMarker]]):
  *    ids land in a small `tombstones/` side table; a replayed delete
  *    records nothing and writes nothing.
  *
  * Crash posture, the same for every op and index: before the first
  * swap the live tables are untouched (an inert tmp dir clears on the
  * next attempt; a crashed holder's lock is removed by hand). A crash
  * inside the swaps leaves a `<table>_precompact` aside, which every
  * op refuses up front ([[refuseCrashed]]) until it is recovered by
  * hand (rename the aside, or the tmp copy, back). Meta and model
  * tables swap last, and each index's `load` refuses the torn
  * between-swaps states its layout can show.
  *
  * The swap is defensive on every filesystem edge Hadoop exposes:
  *
  *  - `FileSystem.rename` signals failure by returning FALSE, not by
  *    throwing — every rename's result is `require`d, and nothing is
  *    deleted until both renames succeeded, so a failed rename leaves
  *    the original table intact (possibly under its `_precompact`
  *    name, which [[swapCompacted]] refuses to overwrite).
  *  - Files that appeared under the live table AFTER the snapshot
  *    (a concurrent ingest append) are folded into the compacted tree
  *    at their original relative paths before the old copy is
  *    deleted, so the result equals "compact finished, then the
  *    append landed" and no appended row is lost.
  *
  * '''Compaction / ingest handshake.''' An append committing INSIDE
  * the two-rename swap window would recreate the live dir out from
  * under the swap; rather than racing, compaction and appends
  * coordinate through two kinds of bookkeeping files in the index
  * dir (both `_`-prefixed, so [[dataFiles]] and parquet readers skip
  * them):
  *
  *  - Compaction holds `_compact.lock` for its whole snapshot→swap
  *    span ([[acquireCompactLock]] / [[releaseCompactLock]]). An
  *    append that sees the lock refuses loudly (retry after the
  *    compact — its natural cadence is between ingest micro-batches
  *    anyway).
  *  - An append or delete announces itself with an `_appending.<uuid>`
  *    marker via [[withAppendMarker]], created BEFORE it checks the
  *    lock and deleted after its writes commit. Compaction, AFTER
  *    taking the lock, waits for all markers to drain before touching
  *    anything.
  *
  * The ordering closes the race under sequential FS metadata ops:
  * an append either (a) creates its marker before the lock exists —
  * then compaction's post-lock marker wait sees it and blocks until
  * the append commits (whose files the snapshot or fold-in then
  * covers), or (b) sees the lock at its post-marker check — then it
  * aborts without writing. No interleaving lets an append's files
  * land during the swap window. A crashed compact leaves the lock
  * behind (appends refuse until it is removed by hand, same recovery
  * posture as a leftover `_precompact`); a crashed append leaves its
  * marker (compaction times out with instructions).
  */
private[graft] object Maintenance {

  /** Root-relative paths of every data file under `root`, recursively,
    * skipping bookkeeping entries. The filter applies to EVERY path
    * component, not just the leaf: a concurrent writer's in-flight
    * `_temporary/.../part-*.parquet` attempt files have ordinary leaf
    * names but live under a bookkeeping directory — treating them as
    * committed data would snapshot partial files (and the fold-in
    * would rename them into the new tree at `_temporary/...` paths
    * readers skip). */
  def dataFiles(fs: FileSystem, root: Path): Seq[String] = {
    val qualified = fs.makeQualified(root).toString
    val out = ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(qualified + "/")
      val bookkeeping = rel.split('/')
        .exists(c => c.startsWith("_") || c.startsWith("."))
      if (!bookkeeping) out += rel
    }
    out.toSeq
  }

  private def lockFile(indexDir: Path): Path =
    new Path(indexDir, "_compact.lock")

  private def purgeEpochFile(indexDir: Path): Path =
    new Path(indexDir, "_purge_epoch")

  /** Current purge-epoch token of an index dir — an opaque value that
    * changes whenever an op PHYSICALLY PURGED tombstoned rows (a
    * compact that found a tombstone table, or a wholesale rebuild).
    * `None` until the first purge. A shadow rebuild compares the
    * token it read before its unlocked retrain against the one it
    * sees under the lock: a purge in between means the live table no
    * longer carries the tombstoned rows AND the tombstone table that
    * hid them is gone, while the sidecar (encoded from the pre-purge
    * source snapshot) may still contain them — swapping it in would
    * silently resurrect deleted data. Readers tolerate a concurrent
    * overwrite (the file is tiny and rewritten atomically enough for
    * an equality check; a torn read differs from both tokens, which
    * refuses — the safe direction). */
  def purgeEpoch(fs: FileSystem, indexDir: Path): Option[String] = {
    val f = purgeEpochFile(indexDir)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** Record that tombstoned rows were physically purged (or the whole
    * table replaced). Call ONLY while holding the compact lock — the
    * write is a plain overwrite and relies on the lock for exclusion
    * among writers. */
  def bumpPurgeEpoch(fs: FileSystem, indexDir: Path): Unit = {
    val out = fs.create(purgeEpochFile(indexDir), true)
    try out.write(java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The shadow-rebuild × purge race guard (call under the lock,
    * passing the token read BEFORE the unlocked retrain started): a
    * compact that purged tombstones — or a wholesale rebuild — ran
    * during the retrain window, so the sidecar encoded from the
    * pre-purge source snapshot may hold rows whose tombstones no
    * longer exist; refuse the swap rather than resurrect them. */
  def requireNoPurgeSince(
      fs: FileSystem, indexDir: Path, epoch0: Option[String],
      op: String): Unit = {
    val now = purgeEpoch(fs, indexDir)
    if (now != epoch0) throw new IllegalStateException(
      s"$op: a compact purged tombstoned rows (or a rebuild replaced " +
        s"the table) at $indexDir during the unlocked retrain window " +
        s"(purge epoch ${epoch0.getOrElse("<none>")} -> " +
        s"${now.getOrElse("<none>")}). The sidecar was encoded from a " +
        "pre-purge source snapshot and could silently resurrect deleted " +
        "rows if swapped in — discarding it; re-run the shadow rebuild.")
  }

  /** The merge-side quiescence guard: a shard being COPIED must have
    * no in-flight append (its files would be copied mid-wave — a
    * partial parquet commit in the merged index) and no compactor
    * mid-swap. Shared by all three index merges. The check is
    * POINT-IN-TIME — merge holds no lock on the shards, so the caller
    * owns keeping shard ingest paused for the merge's duration (the
    * natural deployment: shards are handed over, not live-written,
    * when a merge runs). */
  private[ops] def requireQuiesced(
      fs: FileSystem, indexDir: Path, what: String): Unit = {
    val markers = appendMarkers(fs, indexDir)
    require(markers.isEmpty,
      s"$what: $indexDir has an append in flight " +
        s"(${markers.head.getName}) — a mid-wave copy would land a " +
        "partial commit; quiesce the shard's ingest first")
    require(!fs.exists(lockFile(indexDir)),
      s"$what: $indexDir is being compacted (${lockFile(indexDir).getName} " +
        "held) — its file set is mid-swap; retry after the compactor " +
        "finishes")
  }

  private def appendMarkers(fs: FileSystem, indexDir: Path): Seq[Path] =
    if (!fs.exists(indexDir)) Seq.empty
    else fs.listStatus(indexDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("_appending."))

  /** The merge preconditions every persistent index shares
    * ([[Bm25Index.merge]]/[[AnnIndex.merge]]/[[DedupIndex.merge]] —
    * single-sourced so a future tightening of any guard reaches all
    * three): ≥ 2 distinct shards, a fresh `outDir` (merge is file
    * copy, mixing into prior state would be silent corruption), and
    * per shard no append in flight, no compactor mid-swap, no
    * tombstones (copied files would resurrect the deleted rows —
    * `thing` names them in the message: docs, vectors). Layout
    * compatibility stays with each index — that part is genuinely
    * per-schema. */
  private[ops] def requireMergeable(
      fs: FileSystem, shardDirs: Seq[String], outDir: String,
      thing: String): Unit = {
    require(shardDirs.size >= 2,
      s"merge needs at least two shards, got ${shardDirs.size}")
    require(shardDirs.distinct.size == shardDirs.size,
      s"merge: duplicate shard dirs in $shardDirs")
    require(!fs.exists(new Path(outDir)),
      s"merge: $outDir already exists — refusing to mix into prior state")
    shardDirs.foreach { d =>
      requireQuiesced(fs, new Path(d), "merge")
      require(!fs.exists(Tombstones.path(d)),
        s"merge: $d has tombstones — compact it first (merge copies " +
          s"files verbatim and would resurrect the deleted $thing)")
    }
  }

  /** The merge disjointness check: shard id sets must not overlap
    * (an id in two shards would double-count its stats in the merged
    * index). One union-and-count aggregate over each shard's
    * id-bearing table at `<shard>/$table` — data-sized but
    * column-pruned to the single id column, and it short-circuits at
    * the first duplicate. */
  private[ops] def requireDisjointShardIds(
      spark: SparkSession, shardDirs: Seq[String],
      table: String, idCol: String, why: String): Unit = {
    val dup = shardDirs.zipWithIndex.map { case (d, i) =>
        spark.read.parquet(s"$d/$table").select(col(idCol)).distinct()
          .withColumn("__shard", lit(i))
      }.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(countDistinct(col("__shard")).as("__n"))
      .filter(col("__n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"merge: id '${dup.headOption.map(_.get(0)).orNull}' appears in " +
        s"more than one shard — shard $why")
  }

  /** Take the index-wide compaction lock, then wait (up to
    * `waitForAppendsMs`) for in-flight append markers to drain. See
    * the object doc for why this order is the safe one. Fails loudly
    * — without deleting the lock — if the lock is already held;
    * fails loudly AND releases the lock if markers do not drain.
    *
    * '''Filesystem contract.''' Mutual exclusion is only a hard
    * guarantee on filesystems whose `create(overwrite = false)` is
    * atomic (HDFS and kin). On `RawLocalFileSystem` and most object
    * stores it decomposes into exists-then-create, so two compactors
    * racing the same millisecond could both pass it; as a backstop,
    * the acquirer writes a unique token into the lock file and reads
    * it back AFTER the create — the loser of a non-atomic race sees
    * the winner's token and aborts WITHOUT deleting the lock (best
    * effort: it narrows the race to the sub-millisecond write window
    * rather than closing it; deploy compaction on an atomic-create
    * filesystem when two compactors can genuinely race). */
  def acquireCompactLock(
      fs: FileSystem, indexDir: Path, waitForAppendsMs: Long = 60000L): Unit = {
    val lock = lockFile(indexDir)
    // exists-check first for the clear message; create(overwrite=false)
    // is the atomic backstop if two compactors race to this line
    require(!fs.exists(lock),
      s"$lock already exists — another compaction is running (or a prior " +
        s"one crashed holding it). If no compactor is alive, delete the " +
        s"lock file by hand and re-check for a leftover _precompact dir.")
    val token = java.util.UUID.randomUUID().toString
    try {
      val out = fs.create(lock, false)
      out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    } catch {
      case e: java.io.IOException =>
        throw new IllegalStateException(
          s"could not take $lock (concurrent compactor, or IO failure): $e", e)
    }
    val readBack = {
      val in = fs.open(lock)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    if (readBack != token) throw new IllegalStateException(
      s"$lock holds another compactor's token ($readBack, not $token) — " +
        s"lost a create race on a filesystem without atomic exclusive " +
        s"create. The winner owns the lock; NOT deleting it. Retry after " +
        s"its compaction finishes.")
    val deadline = System.currentTimeMillis() + waitForAppendsMs
    var markers = appendMarkers(fs, indexDir)
    while (markers.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100L)
      markers = appendMarkers(fs, indexDir)
    }
    if (markers.nonEmpty) {
      fs.delete(lock, false)
      throw new IllegalStateException(
        s"in-flight appends did not drain within ${waitForAppendsMs} ms: " +
          s"${markers.mkString(", ")}. A crashed append leaves its marker " +
          s"behind — delete the marker by hand once the writer is known dead.")
    }
  }

  /** Drop the compaction lock. Call from the compactor's `finally`. */
  def releaseCompactLock(fs: FileSystem, indexDir: Path): Unit = {
    fs.delete(lockFile(indexDir), false)
    ()
  }

  /** Run `body` (an append's writes) under an `_appending.<uuid>`
    * marker, refusing if the compaction lock is held. The marker is
    * created BEFORE the lock check — see the object doc's race
    * argument — and removed in `finally` either way. */
  def withAppendMarker[T](fs: FileSystem, indexDir: Path)(body: => T): T = {
    val marker =
      new Path(indexDir, "_appending." + java.util.UUID.randomUUID().toString)
    fs.create(marker, false).close()
    try {
      val lock = lockFile(indexDir)
      if (fs.exists(lock)) throw new IllegalStateException(
        s"refusing to append: a compaction holds $lock. Retry after it " +
          s"finishes (if no compactor is alive, delete the stale lock by hand).")
      body
    } finally {
      fs.delete(marker, false)
    }
  }

  /** Swap `tmpTable` (the freshly-written compacted copy) into place
    * at `live`, folding in any data file that appeared under `live`
    * after `snapshot` was taken. See the object doc for the crash /
    * concurrency contract. On success the `_precompact` aside copy is
    * deleted; the caller deletes its own temp parent dir.
    * `beforeSwap` is a test seam invoked between the two renames —
    * production callers leave the default no-op. */
  def swapCompacted(
      fs: FileSystem, live: Path, tmpTable: Path,
      snapshot: Set[String], beforeSwap: () => Unit = () => ()): Unit = {
    val aside = new Path(live.getParent, live.getName + "_precompact")
    require(!fs.exists(aside),
      s"$aside already exists — a prior compact crashed mid-swap. " +
        s"Recover manually (rename it, or the compact_tmp copy, back to " +
        s"${live.getName}) before compacting again; refusing to touch it.")
    require(fs.rename(live, aside),
      s"rename $live -> $aside failed; table left untouched")
    beforeSwap()
    // If a concurrent writer recreated `live` inside the swap window
    // (an append bypassing the lock handshake), rename(tmpTable, live)
    // would "succeed" by moving the compacted table INSIDE the
    // recreated dir — silent layout damage. Re-check emptiness first,
    // and verify the landing layout after, so it aborts loudly instead.
    require(!fs.exists(live),
      s"$live reappeared between the rename-aside and the swap — a " +
        s"concurrent writer recreated it (an append outside the " +
        s"_compact.lock handshake?). Nothing was deleted: the original " +
        s"table is intact at $aside and the compacted copy at $tmpTable. " +
        s"Recover by hand: move the concurrent writer's files out of " +
        s"$live, delete it, then rename $aside back.")
    require(fs.rename(tmpTable, live),
      s"rename $tmpTable -> $live failed; the original table is intact " +
        s"at $aside — rename it back to recover")
    require(!fs.exists(new Path(live, tmpTable.getName)),
      s"the swap landed $tmpTable INSIDE $live instead of AT it — a " +
        s"concurrent writer recreated $live during the swap window. The " +
        s"original table is intact at $aside; move the nested compacted " +
        s"copy and the concurrent files out, delete $live, and rename " +
        s"$aside back to recover.")
    // late-append fold-in: anything under the aside copy that the
    // compaction snapshot never read arrived during the compact
    dataFiles(fs, aside).filterNot(snapshot.contains).foreach { rel =>
      val src = new Path(aside, rel)
      val dst = new Path(live, rel)
      if (!fs.exists(dst.getParent)) fs.mkdirs(dst.getParent)
      require(fs.rename(src, dst),
        s"fold-in rename $src -> $dst failed; the file is still under " +
          s"$aside — move it into $live by hand before deleting the aside copy")
    }
    require(fs.delete(aside, true), s"delete $aside failed")
  }

  private[ops] def fsOf(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Run `body` holding `root`'s compaction lock, released either way. */
  private[ops] def withCompactLock[T](
      fs: FileSystem, root: Path, waitMs: Long)(body: => T): T = {
    acquireCompactLock(fs, root, waitMs)
    try body
    finally releaseCompactLock(fs, root)
  }

  /** Refuse a crashed prior swap BEFORE any expensive write. */
  private[ops] def refuseCrashed(
      fs: FileSystem, dir: String, tables: Seq[String], op: String): Unit =
    tables.foreach { t =>
      val aside = new Path(s"$dir/${t}_precompact")
      require(!fs.exists(aside),
        s"$aside already exists — a prior rebuild/compact crashed " +
          s"mid-swap; recover it manually before the $op")
    }

  /** Swap each table from `tmp` into `dir`, in order, `beforeSwap`
    * between the first table's renames. A table's snapshot is the file
    * list in `snapshots` (what a compaction read) or else listed here,
    * under the held lock, where no append can land. A table with no
    * live copy (a legacy index gaining one: rebuild is the upgrade
    * path) lands with one checked rename. */
  private[ops] def swapAll(
      fs: FileSystem, dir: String, tmp: String, tables: Seq[String],
      beforeSwap: () => Unit = () => (),
      snapshots: Map[String, Seq[String]] = Map.empty): Unit =
    tables.zipWithIndex.foreach { case (t, i) =>
      val live = new Path(s"$dir/$t")
      val built = new Path(s"$tmp/$t")
      if (!fs.exists(live))
        require(fs.rename(built, live),
          s"rename $built -> $live failed; the rebuilt table is intact " +
            "under the tmp dir")
      else swapCompacted(fs, live, built,
        snapshots.getOrElse(t, dataFiles(fs, live)).toSet,
        if (i == 0) beforeSwap else () => ())
    }

  /** The compaction body, run under the held lock: refuse a crashed
    * swap, snapshot every table's data files, give `rewrite` each
    * table's snapshot rows (tombstoned rows purged) and the path to
    * write its compacted copy to, swap every table against its
    * snapshot, clear the tombstones, and bump the purge epoch if there
    * were any. A table is purged on the tombstone column it carries:
    * the id, or dedup's `fp` for its fingerprints. */
  private[ops] def compactTables(
      spark: SparkSession, fs: FileSystem, dir: String, tables: Seq[String])(
      rewrite: (String, DataFrame, String) => Unit): Unit = {
    refuseCrashed(fs, dir, tables, "compact")
    val snapshots = tables.map { t =>
      val files = dataFiles(fs, new Path(s"$dir/$t"))
      require(files.nonEmpty, s"$dir/$t holds no data files — nothing to compact")
      t -> files
    }.toMap
    val tombs = Tombstones.read(spark, dir)
    val tmp = s"$dir/compact_tmp"
    tables.foreach { t =>
      val rows = spark.read.option("basePath", s"$dir/$t")
        .parquet(snapshots(t).map(rel => s"$dir/$t/$rel"): _*)
      val live = tombs.fold(rows) { ts =>
        val key = ts.columns.filter(rows.columns.contains).toSeq match {
          case Seq(k) => k
          case ks => throw new IllegalStateException(
            s"$dir/$t shares ${ks.size} columns with the tombstones " +
              s"(${ks.mkString(", ")}); it must share exactly one")
        }
        rows.join(ts.select(key).na.drop(), Seq(key), "left_anti")
      }
      val out = s"$tmp/$t"
      rewrite(t, live, out)
      // a purge of every row writes no data file, and with it goes the
      // schema that load and append read: keep one empty file in the
      // partition dir of the first snapshot file
      if (dataFiles(fs, new Path(out)).isEmpty) {
        val parts = snapshots(t).head.split('/').init.toSeq
        live.drop(parts.map(_.takeWhile(_ != '=')): _*).limit(0)
          .write.mode("append").parquet((out +: parts).mkString("/"))
      }
    }
    swapAll(fs, dir, tmp, tables, snapshots = snapshots)
    fs.delete(Tombstones.path(dir), true)
    if (tombs.isDefined) bumpPurgeEpoch(fs, new Path(dir))
    fs.delete(new Path(tmp), true)
  }

  /** A wholesale rebuild: under the lock, `write` every table of
    * `tables` (meta last) into the tmp dir it is given, then swap them
    * all. The rebuilt state is canonical for the post-delete corpus,
    * so the tombstones clear and the purge epoch is bumped (any shadow
    * sidecar in flight is now stale). */
  private[ops] def rebuildSwap[H](
      fs: FileSystem, dir: String, tables: Seq[String], waitMs: Long,
      beforeSwap: () => Unit)(write: String => H): H = {
    val root = new Path(dir)
    withCompactLock(fs, root, waitMs) {
      refuseCrashed(fs, dir, tables, "rebuild")
      val tmp = s"$dir/rebuild_tmp"
      fs.delete(new Path(tmp), true)
      val out = write(tmp)
      swapAll(fs, dir, tmp, tables, beforeSwap)
      fs.delete(Tombstones.path(dir), true)
      bumpPurgeEpoch(fs, root)
      fs.delete(new Path(tmp), true)
      out
    }
  }

  /** A non-blocking rebuild. The purge epoch is read BEFORE `source`'s
    * file listing (a purge between the two would escape
    * [[requireNoPurgeSince]]; the first call only supplies the
    * session). Phase 1, UNLOCKED: `prepare` the snapshot (train models,
    * if any) and `write` the full sidecar. Phase 2, LOCKED: the append
    * delta — live, non-tombstoned ids of `idTable` the sidecar lacks —
    * is resolved against a fresh `source()` (a thunk: a parquet read
    * lists its files when created, so only a new read sees rows
    * appended during phase 1), refused if any id is missing there,
    * appended to the sidecar through the same `write`, `finish`ed
    * (meta), and swapped. Tombstones are not cleared: a delete racing
    * the pass keeps hiding its rows until the next compact. */
  private[ops] def shadowRebuild[S, H](
      source: () => DataFrame, dir: String, tables: Seq[String],
      idCol: String, idTable: String, waitMs: Long,
      beforeLock: () => Unit, beforeSwap: () => Unit)(
      prepare: DataFrame => S)(
      write: (S, DataFrame, String, String) => Unit,
      finish: (S, String) => H): H = {
    val spark = source().sparkSession
    val fs = fsOf(spark)
    val root = new Path(dir)
    val epoch0 = purgeEpoch(fs, root)
    val snapshot0 = source()
    refuseCrashed(fs, dir, tables, "rebuild")
    val tmp = s"$dir/shadow_tmp"
    fs.delete(new Path(tmp), true) // a pre-lock crash's sidecar is inert
    val state = prepare(snapshot0)
    write(state, snapshot0, tmp, "overwrite")
    beforeLock()
    withCompactLock(fs, root, waitMs) {
      requireNoPurgeSince(fs, root, epoch0, "rebuildShadow")
      val id = col(idCol)
      val delta = Tombstones.liveOnly(spark, dir, idCol,
          spark.read.parquet(s"$dir/$idTable").select(id).distinct())
        .join(spark.read.parquet(s"$tmp/$idTable").select(id).distinct(),
          Seq(idCol), "left_anti")
        .localCheckpoint(false) // feeds the count AND the semi-join
      val nDelta = delta.count()
      if (nDelta > 0L) {
        val rows = source().join(delta, Seq(idCol), "left_semi")
          .localCheckpoint(false) // feeds the resolve check AND the write
        val nRows = rows.select(id).distinct().count()
        require(nRows == nDelta,
          s"rebuildShadow: ${nDelta - nRows} ids appended to the live " +
            "index during the sidecar pass are missing from `source` — " +
            "the index is derived state and every appended row must " +
            "reach the source of truth; refusing to swap a table that " +
            "would silently drop them")
        write(state, rows, tmp, "append")
      }
      val out = finish(state, tmp)
      swapAll(fs, dir, tmp, tables, beforeSwap)
      fs.delete(new Path(tmp), true)
      out
    }
  }

  /** Copy a table's committed data files into `dst` preserving the
    * relative layout (partition directories included), each leaf
    * prefixed so files from different sources never collide — the
    * physical half of an index MERGE: no decode, no shuffle, no Spark
    * job, just one filesystem copy per file (a server-side copy on
    * object stores). Bookkeeping entries (`_SUCCESS`, `_temporary`,
    * dotfiles) are skipped via [[dataFiles]]. */
  def copyDataFiles(
      fs: FileSystem, src: Path, dst: Path, prefix: String,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    dataFiles(fs, src).foreach { rel =>
      val from = new Path(src, rel)
      val parent = new Path(dst, rel).getParent
      val to = new Path(parent, s"$prefix-${new Path(rel).getName}")
      if (!fs.exists(parent)) fs.mkdirs(parent)
      require(org.apache.hadoop.fs.FileUtil.copy(fs, from, fs, to, false, conf),
        s"copy $from -> $to failed")
    }

  /** Shared prologue for the cross-index operators
    * ([[crossFsck]]/[[reconcileTombstones]]): load the handles,
    * derive the ANN code table's id column (its first non-layout
    * field — the AnnIndex write contract: id first, then
    * cell/codes/attrs), and require the three indexes agree on it
    * (a co-written trio screens and forgets ONE key). Returns the id
    * column plus BOTH loaded handles, so callers never pay a second
    * meta read for state this prologue already opened. */
  private def loadTrioIdCol(
      spark: SparkSession,
      dedupDir: String, bm25Dir: String, annDir: String, what: String)
      : (String, DedupIndex.Handle, Bm25Index.Handle) = {
    val dedupH = DedupIndex.load(spark, dedupDir)
    val bm25H = Bm25Index.load(spark, bm25Dir)
    val annId = spark.read.parquet(s"$annDir/codes").schema.fieldNames
      .filterNot(f => f == "cell" || f.startsWith("code_")).head
    require(dedupH.idCol == bm25H.idCol && bm25H.idCol == annId,
      s"$what: the indexes disagree on the id column " +
        s"(dedup '${dedupH.idCol}', bm25 '${bm25H.idCol}', ann '$annId') " +
        "— a co-written trio screens and forgets one key")
    (dedupH.idCol, dedupH, bm25H)
  }

  /** Driver-side read of a ONE-ROW Spark-written JSON meta directory
    * (`coalesce(1).write.json(dir)` layout: one `part-*` line file +
    * `_SUCCESS`). The metas are ~100-byte single-line files; reading
    * them through `spark.read.json` costs TWO cluster jobs per load
    * (schema inference + collect), which every probe/audit pays on its
    * handle open — at any scale this is driver metadata, not data.
    * Returns the row as a Jackson node; callers check field presence
    * for the back-compat defaults exactly as they did on the inferred
    * schema. */
  private[ops] def readMetaRow(
      spark: SparkSession, dir: String): com.fasterxml.jackson.databind.JsonNode = {
    val fs = fsOf(spark)
    val files = fs.listStatus(new Path(dir)).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath).toSeq
    val lines = files.flatMap { f =>
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
    require(lines.length == 1, s"$dir must hold exactly one row")
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.head)
  }

  /** One index's tombstoned ids (NOT distinct'd — every consumer is a
    * [[membershipFlags]] groupBy, which dedupes as part of its one
    * exchange), or an id-typed EMPTY frame (from `proto`) when no side
    * table exists. */
  private def tombstoneIdsOf(
      spark: SparkSession, dir: String, idc: String, proto: DataFrame): DataFrame =
    Tombstones.read(spark, dir)
      .map(_.select(col(idc)))
      .getOrElse(proto.select(col(idc)).limit(0))

  /** Cross-index lifecycle audit over the three standing indexes a
    * unified ingest co-writes ([[graft.streaming.CurationIngest]]:
    * dedup screen → BM25 postings → ANN codes, one trigger) — the
    * per-index `fsck`s verify each index against ITSELF; this one
    * verifies the three against EACH OTHER, which is where a failed
    * trigger, a lost delete, or an operator mishap shows up first.
    * One `(check, value)` report, every count from id-keyed
    * anti-joins/distincts (index-table-linear, nothing corpus-scaled
    * beyond the tables themselves):
    *
    *  - `dedup_live_docs` / `bm25_live_docs` / `ann_live_codes` —
    *    distinct ids each index would answer for right now
    *    (tombstone-filtered), the absolutes to cross-check against
    *    the ingest's own ledger
    *  - `bm25_meta_ndocs` — the BM25 meta doc count (maintained by
    *    append/delete), the fourth opinion
    *  - `bm25_not_ann` / `ann_not_bm25` / `bm25_not_dedup` /
    *    `dedup_not_bm25` / `ann_not_dedup` / `dedup_not_ann` — live
    *    id-set differences; all six are 0 for a healthy co-written
    *    trio (a keeper reached every index, a delete reached every
    *    index)
    *  - `tombstone_disagreements` — ids tombstoned in at least one
    *    index but not all three (union minus intersection): the
    *    signature of a partially-applied deletion
    *
    * All three indexes must agree on the id column name — co-written
    * indexes screen and forget the same key. */
  def crossFsck(
      spark: SparkSession,
      dedupDir: String, bm25Dir: String, annDir: String): DataFrame = {
    import spark.implicits._
    val (idc, _, bm25H) = loadTrioIdCol(spark, dedupDir, bm25Dir, annDir,
      "crossFsck")
    // NOT distinct'd here: the membership groupBy below dedupes each
    // stream as part of its one exchange
    def liveIds(raw: DataFrame, dir: String) =
      Tombstones.liveOnly(spark, dir, idc, raw.select(col(idc)))
    val dedupIds = liveIds(
      spark.read.parquet(s"$dedupDir/signatures"), dedupDir)
    val bm25Ids = liveIds(
      spark.read.parquet(s"$bm25Dir/doclens"), bm25Dir)
    val annIds = liveIds(spark.read.parquet(s"$annDir/codes"), annDir)
    // ONE full-outer membership frame + ONE aggregate row instead of
    // three checkpoints and eleven separate counting actions (the old
    // shape paid a driver round-trip per check; the audit was
    // job-count-bound, not data-bound). Every check's value is
    // unchanged: a live count is a flag sum, an A-not-B count is a
    // flag-pair sum over the same distinct id sets.
    val m = membershipFlags(idc, Seq(dedupIds, bm25Ids, annIds))
    def cnt(c: Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val d = col("__m0"); val b = col("__m1"); val a = col("__m2")
    val live = m.agg(
      cnt(d), cnt(b), cnt(a),
      cnt(b && !a), cnt(a && !b), cnt(b && !d),
      cnt(d && !b), cnt(a && !d), cnt(d && !a)).head()
    // the three tombstone sets: union size = frame rows, intersection =
    // the all-three-flags sum — one more aggregate action
    val tm = membershipFlags(idc,
      Seq(dedupDir, bm25Dir, annDir).map(tombstoneIdsOf(spark, _, idc, dedupIds)))
    val t = tm.agg(count(lit(1)),
      cnt(col("__m0") && col("__m1") && col("__m2"))).head()
    Seq(
      ("dedup_live_docs", live.getLong(0)),
      ("bm25_live_docs", live.getLong(1)),
      ("ann_live_codes", live.getLong(2)),
      ("bm25_meta_ndocs", bm25H.nDocs),
      ("bm25_not_ann", live.getLong(3)),
      ("ann_not_bm25", live.getLong(4)),
      ("bm25_not_dedup", live.getLong(5)),
      ("dedup_not_bm25", live.getLong(6)),
      ("ann_not_dedup", live.getLong(7)),
      ("dedup_not_ann", live.getLong(8)),
      ("tombstone_disagreements", t.getLong(0) - t.getLong(1)))
      .toDF("check", "value")
  }

  /** Membership frame over n id frames (duplicates within a set are
    * fine): one row per id appearing anywhere, with boolean flags
    * `__m0..__m{n-1}` marking which inputs hold it. The consolidation
    * vehicle for the audit paths: set counts and A-not-B counts become
    * flag sums over ONE frame, so a whole report is one aggregate
    * action instead of a driver round-trip per check — and the frame
    * itself is ONE exchange (tagged union + groupBy, which also
    * subsumes each input's distinct) instead of n distincts + n−1
    * full-outer joins. */
  private def membershipFlags(idc: String, sets: Seq[DataFrame]): DataFrame = {
    val tagged = sets.zipWithIndex
      .map { case (df, i) => df.select(col(idc), lit(i).as("__src")) }
      .reduce(_ unionByName _)
    val aggs = sets.indices.map(i =>
      max(when(col("__src") === i, true).otherwise(false)).as(s"__m$i"))
    tagged.groupBy(col(idc)).agg(aggs.head, aggs.tail: _*)
  }

  /** Trio compaction under ONE handshake — the deployment loop's
    * maintenance pass (the LifecycleDemo sequence, productized): all
    * THREE compaction locks are taken up front (dedup → bm25 → ann,
    * a fixed order so two trio compactors can never deadlock), a
    * [[crossFsck]] snapshots the pre-compact state, each index's
    * compact body runs under its already-held lock, and a second
    * [[crossFsck]] verifies the healed trio BEFORE any lock releases
    * — no ingest or forget trigger can interleave between the three
    * compacts, so the post report describes the compacted trio, not
    * a moving target (three separate `compact()` calls leave two
    * windows where a trigger lands in some indexes but not others,
    * and the closing audit chases a moving id set). Emits the two
    * reports as one `(check, value)` frame with `pre_`/`post_`
    * prefixes; on a healthy trio every `post_*_drift`/`*_not_*`/
    * `post_tombstone_disagreements` row is 0 and the live counts
    * equal the metas. Crash/lock posture per index is unchanged —
    * each body is the same code `compact()` runs. */
  def compactTrio(
      spark: SparkSession,
      dedupDir: String, bm25Dir: String, annDir: String,
      waitForAppendsMs: Long = 60000L): DataFrame = {
    import spark.implicits._
    val (_, dedupH, bm25H) = loadTrioIdCol(spark, dedupDir, bm25Dir, annDir,
      "compactTrio")
    val annH = AnnIndex.load(spark, annDir)
    val fs = fsOf(spark)
    // the three locks nest in a fixed order, so two trio compactors
    // can never deadlock; the report is taken before any releases
    def underLocks(dirs: List[String]): (Array[Row], Array[Row]) = dirs match {
      case d :: rest =>
        withCompactLock(fs, new Path(d), waitForAppendsMs)(underLocks(rest))
      case Nil =>
        val pre = crossFsck(spark, dedupDir, bm25Dir, annDir).collect()
        DedupIndex.compactLocked(spark, dedupH, fs)
        Bm25Index.compactLocked(spark, bm25H, fs)
        AnnIndex.compactLocked(spark, annH, fs)
        (pre, crossFsck(spark, dedupDir, bm25Dir, annDir).collect())
    }
    val (pre, post) = underLocks(List(dedupDir, bm25Dir, annDir))
    (pre.map(r => ("pre_" + r.getString(0), r.getLong(1))) ++
      post.map(r => ("post_" + r.getString(0), r.getLong(1))))
      .toSeq.toDF("check", "value")
  }

  /** The repair half of [[crossFsck]]'s `tombstone_disagreements`:
    * propagate the UNION of the three tombstone sets to every index
    * through its own `delete()` — the "forgotten anywhere = forgotten
    * everywhere" policy for a co-written trio, healing the exact state
    * a partially-applied deletion (crashed
    * [[graft.streaming.CurationIngest]] forget trigger, operator
    * one-index delete) leaves behind. Audit reports; this one acts.
    *
    * Per-index semantics follow each index's own delete contract:
    * BM25 records only ids present in its doclens (its meta stats
    * track actually-doomed docs); ANN records any id (the
    * refuse-re-add guard then covers future appends); dedup needs the
    * document TEXT to stand its fingerprint down, so `docs` (the
    * corpus source of truth, `(idCol, text)`) resolves the missing
    * rows — union ids absent from `docs` are reported as
    * `dedup_unresolvable` and left alone rather than half-deleted.
    *
    * Returns a `(check, value)` report: `union_tombstones`, per-index
    * `added_*` (newly recorded this pass — a replay adds 0 everywhere:
    * each delete() is tombstone-idempotent), `dedup_unresolvable`, and
    * `post_disagreements` re-measured after the writes (0 whenever
    * BM25's doclens covers the union and `docs` resolves every dedup
    * gap). Cost shape: three tombstone-table reads + id-keyed
    * anti-joins + three deletes over the MISSING ids only — deletion
    * lists, never corpus-scaled. */
  def reconcileTombstones(
      spark: SparkSession,
      dedupDir: String, bm25Dir: String, annDir: String,
      docs: DataFrame): DataFrame = {
    import spark.implicits._
    val (idc, dedupH, bm25H) = loadTrioIdCol(spark, dedupDir, bm25Dir, annDir,
      "reconcileTombstones")
    require(docs.columns.contains(idc) && docs.columns.contains("text"),
      s"reconcileTombstones: docs must carry '$idc' and 'text', " +
        s"has ${docs.columns.mkString(", ")}")
    val proto = spark.read.parquet(s"$dedupDir/signatures")
    def flags(): DataFrame = membershipFlags(idc,
      Seq(dedupDir, bm25Dir, annDir).map(tombstoneIdsOf(spark, _, idc, proto)))
    def cnt(c: Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    // ONE flagged union frame (checkpointed: it feeds the report
    // aggregate, all three delete inputs, and the added-per-index
    // comparison) + ONE aggregate per phase, instead of the old six
    // per-set checkpoints and ~twelve counting actions — the replay
    // path was job-count-bound (84 jobs, <1 s of task time at sf0.1).
    // Every reported value and every delete input is unchanged.
    val before = flags().localCheckpoint(false)
    val pre = before.agg(count(lit(1)),
      cnt(!col("__m0")), cnt(!col("__m1")), cnt(!col("__m2")),
      cnt(col("__m0") && col("__m1") && col("__m2"))).head()
    val nUnion = pre.getLong(0)
    // REPLAY short-circuit: with no index missing any union id there
    // is nothing to record — every delete() below would compute an
    // empty input and add 0, and the post frame would equal `before`.
    // Return the identical report from the one aggregate already paid
    // (added_* = 0, unresolvable = 0, post_disagreements = union −
    // all-three) instead of re-deriving it through three no-op delete
    // chains and a second membership aggregate — the reconcile loop is
    // idempotent by contract and its steady state IS this branch. Every
    // delete records through Tombstones.record, which writes nothing
    // for an already-tombstoned id; CurationIngestSpec's reconcile test
    // replays all three deletes on a reconciled trio and pins that.
    if (pre.getLong(1) == 0L && pre.getLong(2) == 0L && pre.getLong(3) == 0L)
      return Seq(
        ("union_tombstones", nUnion),
        ("added_dedup", 0L),
        ("added_bm25", 0L),
        ("added_ann", 0L),
        ("dedup_unresolvable", 0L),
        ("post_disagreements", nUnion - pre.getLong(4)))
        .toDF("check", "value")
    // dedup: resolve missing ids to (id, text) through the corpus
    val dedupRows = docs.select(col(idc), col("text"))
      .join(before.filter(!col("__m0")).select(col(idc)), Seq(idc), "left_semi")
      .localCheckpoint(false)
    val unresolvable = pre.getLong(1) -
      dedupRows.agg(countDistinct(col(idc))).head().getLong(0)
    DedupIndex.delete(dedupH, dedupRows)
    Bm25Index.delete(bm25H, before.filter(!col("__m1")).select(col(idc)))
    AnnIndex.delete(
      AnnIndex.load(spark, annDir),
      before.filter(!col("__m2")).select(col(idc)), idc)
    // deletes only ever ADD tombstones, so the after frame covers every
    // before id; added_* and the post disagreement both ride one join +
    // one aggregate
    val bFlags = before.select(col(idc) +: Seq(0, 1, 2).map(i =>
      col(s"__m$i").as(s"__b$i")): _*)
    val post = flags().join(bFlags, Seq(idc), "left")
      .agg(
        cnt(col("__m0") && !coalesce(col("__b0"), lit(false))),
        cnt(col("__m1") && !coalesce(col("__b1"), lit(false))),
        cnt(col("__m2") && !coalesce(col("__b2"), lit(false))),
        count(lit(1)),
        cnt(col("__m0") && col("__m1") && col("__m2"))).head()
    Seq(
      ("union_tombstones", nUnion),
      ("added_dedup", post.getLong(0)),
      ("added_bm25", post.getLong(1)),
      ("added_ann", post.getLong(2)),
      ("dedup_unresolvable", unresolvable),
      ("post_disagreements", post.getLong(3) - post.getLong(4)))
      .toDF("check", "value")
  }
}

/** The shared tombstone-delete contract for the three persistent
  * indexes ([[Bm25Index]]/[[AnnIndex]]/[[DedupIndex]]): a `delete`
  * writes ids into a small `tombstones/` side table instead of
  * rewriting corpus-scaled state; every probe anti-joins it; `append`
  * refuses to re-add a tombstoned id; `compact` physically purges and
  * clears. These helpers single-source the pieces that MUST agree
  * across the three indexes — in particular that every gate is a
  * LIVE `fs.exists` check, never a handle or meta snapshot: a
  * long-lived service (a [[graft.streaming.CurationIngest]] sink, a
  * query server) holds its handle across concurrent deletes, and a
  * stale no-tombstone snapshot would either silently serve/screen
  * deleted docs or silently land rows the next compact purges — the
  * two failure modes the tombstone exists to prevent. The snapshot
  * fields (`Bm25Index.Handle.nTombstones`,
  * `AnnIndex.Handle.hasTombstones`, …) stay informational. */
private[ops] object Tombstones {

  def path(indexDir: String): Path = new Path(s"$indexDir/tombstones")

  /** The tombstone frame if the side table exists RIGHT NOW. */
  def read(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val fs = Maintenance.fsOf(spark)
    if (fs.exists(path(indexDir))) Some(spark.read.parquet(path(indexDir).toString))
    else None
  }

  /** The probe-side filter: anti-join `idCol` against the live
    * tombstones — no read and no join node while none exist. */
  def liveOnly(
      spark: SparkSession, indexDir: String,
      idCol: String, rows: DataFrame): DataFrame =
    read(spark, indexDir) match {
      case None => rows
      case Some(ts) => rows.join(ts.select(col(idCol)), Seq(idCol), "left_anti")
    }

  /** The delete-side write, run inside the caller's append marker:
    * the rows of `rows` whose `idCol` is not tombstoned yet are
    * materialized ONCE, eagerly, so every later read of them — the
    * caller's `decide` (an emptiness check, or stats over them) and the
    * append — sees one snapshot. `decide` returning `None` records
    * nothing: a replayed (or empty) request writes no file, so it never
    * creates an empty side table that would switch every probe's
    * anti-join on for nothing. */
  def record[T](
      spark: SparkSession, indexDir: String, idCol: String, rows: DataFrame)(
      decide: DataFrame => Option[T]): Option[T] = {
    val fresh = liveOnly(spark, indexDir, idCol, rows).localCheckpoint(true)
    val out = decide(fresh)
    if (out.isDefined) fresh.write.mode("append").parquet(path(indexDir).toString)
    out
  }

  /** `record`'s decision for an index without tombstone-dependent stats. */
  def nonEmpty(fresh: DataFrame): Option[Unit] =
    if (fresh.isEmpty) None else Some(())

  /** The append-side guard: a tombstoned id must not be re-added
    * before compact — its new rows would be hidden from every probe
    * by the anti-join and then PURGED by the next compact; refuse
    * loudly instead of losing the doc silently. */
  def refuseReAdd(
      spark: SparkSession, indexDir: String,
      idCol: String, slice: DataFrame): Unit =
    read(spark, indexDir).foreach { ts =>
      val hit = slice.select(col(idCol))
        .join(ts.select(col(idCol)), Seq(idCol), "left_semi")
        .limit(1).collect()
      require(hit.isEmpty,
        s"append: the slice re-adds id '${hit.head.get(0)}' which is " +
          s"tombstoned in $indexDir — run compact to purge the tombstone " +
          "first, then re-append")
    }
}
