package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent lexical (BM25) retrieval index: the production form of
  * [[Retrieval.bm25TopK]]. That operator re-tokenizes the corpus and
  * recomputes collection statistics on EVERY query — correct, and the
  * right shape for one-off audits, but a RAG or decontamination user
  * issues thousands of queries against one corpus; at 100 TB each one
  * would pay a full corpus pass. Here the corpus tokenizes ONCE into a
  * term-bucket-partitioned postings table and each query probes only
  * its own terms' buckets ([[DedupIndex]] / [[AnnIndex]] are the same
  * build/save/load/append/compact move for the dedup and ANN stacks).
  *
  * Layout under `dir`:
  *  - `postings/` — (term, id, tf, n_tok) one row per (term, doc),
  *    PARTITIONED BY `term_bucket` (murmur3 of the term mod
  *    [[DefaultNumBuckets]]) and sorted by `term` within each
  *    partition, so a probe reads only the query terms' bucket
  *    directories (partition pruning) and, inside them, only the row
  *    groups whose term range covers a query term (parquet min/max +
  *    dictionary pushdown on the sorted files). `n_tok` is
  *    denormalized onto every posting so scoring never joins a doc
  *    table.
  *  - `doclens/` — (id, n_tok) one row per corpus doc (NULL n_tok for
  *    NULL text, mirroring [[Retrieval.collectionStats]]'s population
  *    accounting); read only by [[compact]] to re-derive the
  *    collection statistics.
  *  - `termvecs/` — the FORWARD index: (id, field, n_tok_f, term, tf)
  *    one row per (doc, field, term) — the postings minus positions,
  *    re-keyed by doc — PARTITIONED BY `doc_bucket` (murmur3 of the
  *    id mod [[NumDocBuckets]]) and id-sorted within partitions, so a
  *    per-DOC term-frequency fetch ([[rm3Expand]]'s feedback docs)
  *    prunes to the ids' buckets instead of re-reading and
  *    re-tokenizing the caller's corpus per query. Written by
  *    build/rebuild (and append, when present); indexes from before
  *    it existed work unchanged and gain it on rebuild.
  *  - `meta/` — one JSON row: idCol, numBuckets, nDocs, totalTokens.
  *    N and the average doc length come from here at query time — no
  *    corpus-wide aggregate per query. Per-term document frequencies
  *    are NOT persisted: df(term) is exactly the posting-row count of
  *    that term, already in the probe's pruned slice — so appends
  *    never maintain a df table and df is always in sync with the
  *    postings actually scored.
  *
  * ==Probes==
  * Ten probes read the postings: [[topK]], [[phraseTopK]],
  * [[snippetTopK]], [[proximityTopK]], [[bm25fTopK]] and [[rm3Expand]]
  * take one query; [[topKBatch]], [[phraseTopKBatch]] and
  * [[snippetTopKBatch]] take a query table; [[topKWeighted]] takes a
  * weight table of either kind. Each probe is its input guards plus
  * scorer parameters over one of two cores:
  *
  *  - the '''single-query core''' serves driver-resident terms (at most
  *    [[MaxQueryTerms]]): bucket ids hash on the driver
  *    ([[engineBucketOf]]), one pruned read takes the terms' (and
  *    fields') postings minus tombstoned docs, df rides the same plan,
  *    one pivot lays the per-term tf, positions and df out as columns
  *    in query-term order, and the plan ends in one
  *    TakeOrderedAndProject;
  *  - the '''batch core''' serves a query table with an unbounded term
  *    universe: the NULL/lowercase term guards run in-plan, bucket ids
  *    are one collect bounded by `numBuckets`, the terms semi-join the
  *    postings, the slice is checkpointed once for df and the
  *    candidates, df stays a DataFrame, and a qid-partitioned window
  *    ranks each query's candidates — no global sort.
  *
  * A single query is not run as a batch of one: that adds a
  * query-table checkpoint, a bucket collect and a window — three more
  * Spark jobs per probe, and at probe latency the job count is the
  * cost — and it would lose [[topK]]'s raw-double parity with
  * [[Retrieval.bm25TopK]].
  *
  * Conventions every probe shares:
  *  - `docFilter` is a frame carrying the handle's id column whose rows
  *    are the QUALIFYING docs (the caller applies arbitrary predicates
  *    to their attribute table and passes the id projection). It
  *    restricts the CANDIDATES only, as a semi-join on the pruned
  *    slice: N, avgdl and df stay corpus-wide, so a qualifying doc's
  *    score is bit-identical to its unfiltered score and pagination and
  *    cross-filter comparison stay coherent. Catalyst broadcasts
  *    whichever join side is small.
  *  - df(term) counts DISTINCT documents over the unrestricted slice: a
  *    multi-field doc matching in two fields counts once.
  *  - Replay duplicates collapse. An at-least-once replayed [[append]]
  *    lays bit-identical posting rows; every probe collapses them (max
  *    or set, never a plain sum), so until [[compact]] reclaims the rows
  *    no probe's answer changes.
  *  - Scores are raw doubles where [[topK]]'s parity with
  *    [[Retrieval.bm25TopK]] reaches ([[topK]], [[phraseTopK]],
  *    [[snippetTopK]], and [[bm25fTopK]]'s cross-term sum); elsewhere
  *    each per-term score is quantized to `round(s·2²⁰)` and summed as
  *    exact BIGINTs — order-free and bit-identical on any partitioning
  *    (a float sum across a query's terms would re-associate by row
  *    layout).
  *
  * Scoring is bit-identical to [[Retrieval.scoreWith]]: the same
  * Robertson idf spelled over the same integers, the same polynomial
  * in the same association order, per-term columns added left-to-right
  * in query-term order (a float `sum()` aggregate would re-associate
  * by partition layout). OpsSpec asserts result equality with
  * [[Retrieval.bm25TopK]] row-for-row, score-for-score.
  *
  * Concurrency: appends and compaction coordinate through the
  * `_compact.lock` / `_appending.*` handshake ([[Maintenance]]).
  * Appends are the single-ingest-driver loop (the [[DedupIndex]]
  * contract): a REPLAYED append re-adds identical posting rows — the
  * probes collapse them, but they cost bytes and double-count the
  * replayed docs in `meta` until [[compact]] collapses the rows and
  * recounts the stats from the deduplicated doclens (the same
  * "cost bytes and slots until compact" posture as the other two
  * indexes).
  */
object Bm25Index {

  /** Bucket count for the postings table's partition key — enough to
    * prune hard at any corpus size (bucket count is about pruning
    * granularity, not parallelism: files inside a bucket still split). */
  val DefaultNumBuckets: Int = 64

  /** Ceiling on query-term count — the per-term stats and the pivoted
    * score columns are a driver-resident model. */
  val MaxQueryTerms: Int = 64

  /** Postings layout version. v2 (round 12) adds `field` (source text
    * column), `positions` (0-based token indices within the field,
    * sorted ascending), `n_tok_f` (the doc's length in that field) —
    * one posting row per (term, field, doc) — enabling [[phraseTopK]]
    * and [[bm25fTopK]]. v1 indexes stay READABLE by [[topK]] /
    * [[topKBatch]] (they never touch the new columns); the
    * positional/field probes and [[append]]/[[compact]] refuse loudly
    * on v1 (appending v2 rows into v1 files would leave a
    * mixed-schema table) — rebuild to upgrade. */
  val CurrentVersion: Int = 2

  /** `fields`/`fieldTokens` are aligned (per-field corpus token
    * totals — BM25F's per-field avgdl comes from them); single-field
    * indexes carry the one entry. v1 handles load with
    * `version = 1` and their layout's implied single field.
    * `nTombstones` counts ids [[delete]]d since the last [[compact]]
    * — when 0 every probe skips the tombstone anti-join entirely, so
    * an index that never deletes pays nothing for the feature. */
  final case class Handle(
      dir: String, idCol: String, textCol: String, numBuckets: Int,
      nDocs: Long, totalTokens: Long,
      version: Int = CurrentVersion,
      fields: Seq[String] = Seq.empty,
      fieldTokens: Seq[Long] = Seq.empty,
      nTombstones: Long = 0L)

  private def toks(textCol: String) = split(trim(lower(col(textCol))), "\\s+")

  private def bucketCol(numBuckets: Int) =
    pmod(hash(col("term")), lit(numBuckets)).as("term_bucket")

  /** Bucket count for the termvecs table's doc partition key. */
  val NumDocBuckets: Int = 64

  private def docBucket(idCol: String) =
    pmod(hash(col(idCol)), lit(NumDocBuckets)).cast("int")

  /** The FORWARD index: a doc-keyed `(id, field, n_tok_f, term, tf)`
    * projection of the postings (positions excluded), PARTITIONED BY
    * `doc_bucket` (murmur3 of the id mod [[NumDocBuckets]]) and sorted
    * by id within each partition, so a per-DOC term-frequency fetch
    * ([[rm3Expand]]'s feedback expansion: "the top terms of THESE
    * fbDocs docs") prunes to the ids' buckets and pushes an id filter
    * into sorted row groups — the postings table is term-partitioned
    * and cannot answer a doc-keyed question without a full scan, and
    * before this table existed the RM3 family re-fetched and
    * re-TOKENIZED the caller's corpus on every query (the measured
    * cost dominator of the chain). Storage trade: one more
    * postings-sized table (minus positions) — the classic
    * inverted+forward pair every production engine ships. Derivation
    * is a pure projection of the SAME statFrames output, so tf/length
    * values are bit-identical to what re-tokenizing would compute and
    * every probe's scores are unchanged. */
  private def termvecsOf(postings: DataFrame, idCol: String): DataFrame =
    postings.select(col(idCol), col("field"), col("n_tok_f"),
        col("term"), col("tf"))
      .withColumn("doc_bucket", docBucket(idCol))

  private def writeTermvecs(
      tv: DataFrame, idCol: String, path: String, mode: String): Unit =
    tv.repartition(col("doc_bucket")).sortWithinPartitions(idCol)
      .write.mode(mode).partitionBy("doc_bucket").parquet(path)

  /** Driver-side bucket ids for the query's terms, computed by the
    * ENGINE's own murmur3 so the probe's pruning predicate can never
    * drift from the hash the build wrote. Evaluates the SAME catalyst
    * `Murmur3Hash(_, 42)` expression `pmod(hash(col), n)` compiles to,
    * but on the driver — the old one-local-row `.head()` spelling cost
    * one Spark job per probe, and at probe latency the chain's job
    * count IS the cost (OpsSpec pins equality with the in-plan
    * expression). */
  private[ops] def engineBucketOf(value: Any, numBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(Seq(Literal(value)), 42).eval(null).asInstanceOf[Int]
    val m = h % numBuckets
    if (m < 0) m + numBuckets else m
  }

  /** v2 stat frames. Postings: one row per (term, field, doc) with
    * `tf`, sorted 0-based `positions`, the doc's field length
    * `n_tok_f` and total length `n_tok` (both denormalized so scoring
    * never joins a doc table). Doclens: one row per (doc, field) with
    * NULL n_tok_f for a NULL field value — those docs count in N but
    * never in the token totals, mirroring v1's NULL-text accounting.
    * Positions come from `posexplode` grouped back per (term, field,
    * doc) and `sort_array`ed — deterministic regardless of partial-
    * aggregation arrival order. */
  private def statFrames(
      corpus: DataFrame, idCol: String, fields: Seq[String], numBuckets: Int):
      (DataFrame, DataFrame) = {
    val id = col(idCol)
    val perField = fields.map { f =>
      corpus.filter(col(f).isNotNull)
        .select(id, lit(f).as("field"), toks(f).as("__toks"))
        .select(id, col("field"), size(col("__toks")).cast("long").as("n_tok_f"),
          posexplode(col("__toks")).as(Seq("pos", "term")))
    }.reduce(_ unionByName _)
    val fieldPostings = perField
      .groupBy(col("term"), id, col("field"), col("n_tok_f"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    val doclens = fields.map { f =>
      corpus.select(id, lit(f).as("field"), size(toks(f)).cast("long").as("n_tok_f"))
    }.reduce(_ unionByName _)
    val postings =
      if (fields.size == 1)
        fieldPostings.withColumn("n_tok", col("n_tok_f"))
          .withColumn("term_bucket", bucketCol(numBuckets))
      else {
        // sum ignores NULLs; a doc whose every field is NULL never has
        // a posting row, so the join key set is covered
        val totals = doclens.groupBy(id).agg(sum(col("n_tok_f")).as("n_tok"))
        fieldPostings.join(totals, Seq(idCol))
          .withColumn("term_bucket", bucketCol(numBuckets))
      }
    (postings, doclens)
  }

  private def writeMeta(spark: SparkSession, base: String, h: Handle): Unit = {
    import spark.implicits._
    Seq((h.idCol, h.fields.head, h.numBuckets, h.nDocs, h.totalTokens,
        CurrentVersion, h.fields, h.fieldTokens, h.nTombstones))
      .toDF("idCol", "textCol", "numBuckets", "nDocs", "totalTokens",
        "version", "fields", "fieldTokens", "nTombstones")
      .coalesce(1).write.mode("overwrite").json(s"$base/meta")
  }

  /** A current-version handle carrying `stats` ([[statsOf]]). */
  private def handleOf(
      dir: String, idCol: String, fields: Seq[String], numBuckets: Int,
      stats: (Long, Long, Seq[Long]), nTombstones: Long = 0L): Handle =
    Handle(dir, idCol, fields.head, numBuckets, stats._1, stats._2,
      CurrentVersion, fields, stats._3, nTombstones)

  /** `h` with a stats delta ([[statsOf]]) added (`sign` 1) or taken
    * away (`sign` -1). */
  private def shifted(h: Handle, d: (Long, Long, Seq[Long]), sign: Long): Handle =
    h.copy(nDocs = h.nDocs + sign * d._1, totalTokens = h.totalTokens + sign * d._2,
      fieldTokens = h.fieldTokens.zip(d._3).map { case (a, b) => a + sign * b })

  /** Collection statistics from a v2 doclens frame: distinct docs,
    * total tokens, and the per-field token totals (aligned to
    * `fields`). */
  private def statsOf(
      doclens: DataFrame, idCol: String, fields: Seq[String]):
      (Long, Long, Seq[Long]) = {
    val r = doclens.agg(
      countDistinct(col(idCol)).as("__n"),
      coalesce(sum(col("n_tok_f")), lit(0L)).as("__total") +:
        fields.map(f => coalesce(sum(when(col("field") === f, col("n_tok_f"))),
          lit(0L)).as(s"__ft_$f")): _*).head()
    (r.getLong(0), r.getLong(1), fields.indices.map(i => r.getLong(i + 2)))
  }

  private def requireLayout(fields: Seq[String], numBuckets: Int): Unit = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    require(fields.nonEmpty && fields.distinct.size == fields.size,
      s"fields must be non-empty and distinct: $fields")
  }

  /** The tables, in swap order: meta swaps last. */
  private val Tables = Seq("postings", "doclens", "termvecs", "meta")

  private def writePostings(postings: DataFrame, path: String, mode: String): Unit =
    postings.repartition(col("term_bucket")).sortWithinPartitions("term")
      .write.mode(mode).partitionBy("term_bucket").parquet(path)

  /** The one table-set write: build, append, rebuild and the shadow's
    * sidecar and delta all land [[statFrames]] output through it, plus
    * the forward index it projects to ([[termvecsOf]]). A full write
    * projects the WRITTEN postings (one narrow read, no re-tokenize);
    * an append projects the slice's frame, and only where the index
    * already carries the forward index — a legacy index stays without
    * it (a half-covered table would silently under-count feedback
    * terms) until a rebuild adds it. */
  private def writeState(
      postings: DataFrame, doclens: DataFrame, idCol: String, base: String,
      mode: String): Unit = {
    val spark = postings.sparkSession
    writePostings(postings, s"$base/postings", mode)
    // r17: the r16 "sized write" repartition(idCol) here is REVERTED —
    // measured, the exchange produced the SAME file count as the plain
    // write (AQE's parallelism-first coalescing keeps partition count
    // at core count either way), so it was pure shuffle cost; output
    // sizing belongs to advisoryPartitionSize tuning on the deploying
    // cluster, not a blanket exchange
    doclens.write.mode(mode).parquet(s"$base/doclens")
    val tv = s"$base/termvecs"
    if (mode == "overwrite")
      writeTermvecs(termvecsOf(spark.read.parquet(s"$base/postings"), idCol),
        idCol, tv, mode)
    else if (Maintenance.fsOf(spark).exists(new Path(tv)))
      writeTermvecs(termvecsOf(postings, idCol), idCol, tv, mode)
  }

  /** One corpus pass into `base`: the tables, then meta from a recount
    * of the written doclens. Returns the handle for `dir`. */
  private def writeFull(
      corpus: DataFrame, idCol: String, dir: String, fields: Seq[String],
      numBuckets: Int, base: String): Handle = {
    val spark = corpus.sparkSession
    val (postings, doclens) = statFrames(corpus, idCol, fields, numBuckets)
    writeState(postings, doclens, idCol, base, "overwrite")
    val h = handleOf(dir, idCol, fields, numBuckets,
      statsOf(spark.read.parquet(s"$base/doclens"), idCol, fields))
    writeMeta(spark, base, h)
    h
  }

  /** One corpus pass → persisted postings + collection stats. */
  def build(
      corpus: DataFrame, idCol: String, dir: String,
      numBuckets: Int = DefaultNumBuckets, textCol: String = "text"): Handle =
    buildFields(corpus, idCol, dir, Seq(textCol), numBuckets)

  /** Multi-field build — each doc contributes one posting row per
    * (term, field); [[bm25fTopK]] weights the fields at query time
    * (index once, tune weights freely), [[topK]] scores the
    * "concatenated document" (summed tf, total length). */
  def buildFields(
      corpus: DataFrame, idCol: String, dir: String,
      fields: Seq[String], numBuckets: Int = DefaultNumBuckets): Handle = {
    requireLayout(fields, numBuckets)
    writeFull(corpus, idCol, dir, fields, numBuckets, dir)
  }

  /** Fold a new slice into the persisted state — parquet appends plus
    * a meta rewrite; no rebuild, no corpus pass. The stat delta is
    * added to the CURRENT on-disk meta, not the caller's handle
    * snapshot — a streaming sink's closure handle goes stale after
    * its first micro-batch, and trusting it would silently rewind N
    * and the token total ([[graft.streaming.Bm25Ingest]] relies on
    * this). Returns the updated handle (a stale handle still probes
    * correctly — it would just score with yesterday's N/avgdl). Runs
    * under an append marker (see [[Maintenance]]). */
  def append(handle: Handle, slice: DataFrame): Handle = {
    val spark = slice.sparkSession
    // ONE materialization feeds all three outputs (postings write,
    // doclens write, stat delta): a non-deterministic slice would
    // otherwise land postings/doclens/meta that disagree with each
    // other — build() heals itself by re-reading the written doclens,
    // append must not rely on callers checkpointing first
    val frozen = slice.localCheckpoint(false)
    // a hand-built handle may omit `fields`; its textCol is the field
    val handleFields =
      if (handle.fields.nonEmpty) handle.fields else Seq(handle.textCol)
    val (postings, doclens) =
      statFrames(frozen, handle.idCol, handleFields, handle.numBuckets)
    Maintenance.withAppendMarker(Maintenance.fsOf(spark), new Path(handle.dir)) {
      val cur = load(spark, handle.dir)
      require(cur.version == CurrentVersion,
        s"append: ${handle.dir} is a v${cur.version} (legacy) index — " +
          s"appending v$CurrentVersion posting rows would leave a " +
          s"mixed-schema table; rebuild the index to upgrade")
      // checked BEFORE anything lands: the postings are about to be
      // bucketed/tokenized with the HANDLE's layout — if the index was
      // rebuilt under different parameters since the handle was taken,
      // those rows would be unfindable (wrong bucket mod) or
      // mis-tokenized; refuse loudly instead of writing them
      require(cur.numBuckets == handle.numBuckets &&
          cur.fields == handleFields && cur.idCol == handle.idCol,
        s"append: the on-disk index layout changed since this handle was " +
          s"taken (disk: $cur vs handle: $handle) — re-load and re-append")
      // a tombstoned id must not be re-added before compact — the
      // shared guard checks the LIVE side table, not the meta
      // snapshot (a delete that crashed before its meta rewrite, or
      // one committing concurrently with this append, has already
      // written its tombstones: trusting nTombstones here would land
      // rows the next compact silently purges)
      Tombstones.refuseReAdd(spark, handle.dir, cur.idCol, frozen)
      writeState(postings, doclens, cur.idCol, handle.dir, "append")
      val upd = shifted(cur, statsOf(doclens, cur.idCol, cur.fields), 1L)
      writeMeta(spark, handle.dir, upd)
      upd
    }
  }

  /** Merge independently-built shard indexes into one — the
    * federated-ingest shape: N sites (or N pipeline partitions) each
    * [[build]] over their own slice, then one merge unifies the
    * shards WITHOUT re-tokenizing a single document. Because the
    * posting/doclens rows of a doc depend only on the doc and the
    * layout (bucket hash, fields), the merged table is ROW-IDENTICAL
    * to what one [[build]] over the union corpus would write — so
    * every probe answers as if the index had been built whole (the
    * OpsSpec + q173 contract), and the physical work is one
    * filesystem copy per data file ([[Maintenance.copyDataFiles]]:
    * no decode, no shuffle — partition directories line up because
    * every shard hashes terms with the same `numBuckets`). Loud
    * preconditions instead of silent corruption: same layout
    * (idCol/fields/numBuckets), current schema version, no
    * tombstones (compact a shard first — merge copies files
    * verbatim), pairwise-DISJOINT doc id sets (an id in two shards
    * would double-count tf and N), and a fresh `outDir`. Collection
    * stats are the exact sums of the shard metas. */
  def merge(
      spark: SparkSession, shardDirs: Seq[String], outDir: String): Handle = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(conf)
    Maintenance.requireMergeable(fs, shardDirs, outDir, "docs")
    val hs = shardDirs.map(load(spark, _))
    val h0 = hs.head
    hs.zip(shardDirs).foreach { case (h, d) =>
      require(h.version == CurrentVersion,
        s"merge: $d is a v${h.version} (legacy) index — rebuild it to " +
          s"v$CurrentVersion first (mixed-schema postings are unreadable)")
      require(h.idCol == h0.idCol && h.numBuckets == h0.numBuckets &&
          h.fields == h0.fields,
        s"merge: shard layouts disagree — ${shardDirs.head} has " +
          s"(${h0.idCol}, buckets=${h0.numBuckets}, ${h0.fields}) but $d " +
          s"has (${h.idCol}, buckets=${h.numBuckets}, ${h.fields})")
    }
    // disjointness is data, not layout — check it with one aggregate
    Maintenance.requireDisjointShardIds(spark, shardDirs, "doclens", h0.idCol,
      "doc sets must be disjoint (the merged index would double-count " +
        "its tf and N)")
    // the forward index merges by the same file copy (doc_bucket dirs
    // line up: every shard hashes ids with the same NumDocBuckets) —
    // but only when EVERY shard carries it; a mixed set would leave a
    // silently half-covered table
    val haveTv = shardDirs.map(d =>
      fs.exists(new Path(s"$d/termvecs")))
    require(haveTv.distinct.size == 1,
      s"merge: shards disagree on the termvecs table (" +
        shardDirs.zip(haveTv).map { case (d, h) => s"$d=$h" }.mkString(", ") +
        ") — rebuild the legacy shards to add it, or merge without it")
    val tvTables = if (haveTv.head) Seq("termvecs") else Seq.empty
    shardDirs.zipWithIndex.foreach { case (d, i) =>
      (Seq("postings", "doclens") ++ tvTables).foreach { t =>
        Maintenance.copyDataFiles(fs,
          new Path(s"$d/$t"),
          new Path(s"$outDir/$t"), s"s$i", conf)
      }
    }
    val h = handleOf(outDir, h0.idCol, h0.fields, h0.numBuckets,
      (hs.map(_.nDocs).sum, hs.map(_.totalTokens).sum,
        hs.map(_.fieldTokens).reduce((a, b) => a.zip(b).map { case (x, y) => x + y })))
    writeMeta(spark, outDir, h)
    h
  }

  /** Re-tokenize-and-swap — the rebuild every positional probe's
    * "rebuild the index to upgrade" refusal points at, and the BM25
    * member of the rebuild family ([[AnnIndex.rebuild]] retrains
    * quantizer MODELS; BM25 has none, so its rebuild is one corpus
    * pass under the CURRENT layout version written beside the live
    * tables, then the locked swap). The two production uses:
    *
    *  - '''layout upgrade''' — a v1 index (no positions/fields)
    *    becomes a v2 positional one without the caller hand-managing
    *    a second directory and a cutover; a legacy index without the
    *    forward index gains it;
    *  - '''disaster recovery''' — derived state suspected corrupt
    *    (fsck findings, torn external writes) is replaced wholesale
    *    from the source of truth.
    *
    * `corpus` is the post-delete source of truth; the rebuilt state
    * is bit-identical to what [[buildFields]] writes for it at these
    * parameters — tombstones are obsolete and clear with the swap,
    * meta rewrites from a recount. The lock is held for the whole
    * pass (appends refuse; at 100 TB prefer [[rebuildShadow]] or
    * scheduling rebuilds in ingest gaps). The new layout REPLACES the
    * old wholesale — idCol/fields/numBuckets are the caller's; nothing
    * is inherited from the possibly-corrupt old meta. Lock, swap and
    * crash posture are [[Maintenance]]'s rebuild protocol; meta swaps
    * last, and [[load]]'s partitioning cross-check catches a crash
    * between the swaps. `beforeSwap` is a test seam on the first
    * table's swap. */
  def rebuild(
      corpus: DataFrame, idCol: String, dir: String,
      fields: Seq[String] = Seq("text"),
      numBuckets: Int = DefaultNumBuckets,
      waitForAppendsMs: Long = 60000L,
      beforeSwap: () => Unit = () => ()): Handle = {
    requireLayout(fields, numBuckets)
    Maintenance.rebuildSwap(Maintenance.fsOf(corpus.sparkSession), dir, Tables,
        waitForAppendsMs, beforeSwap)(
      writeFull(corpus, idCol, dir, fields, numBuckets, _))
  }

  /** NON-BLOCKING re-tokenize-and-migrate — the 100 TB form of
    * [[rebuild]] ([[AnnIndex.rebuildShadow]] is the vector twin): a
    * 100 TB postings write IS a span of hours even though BM25 has no
    * model to retrain, so shadow rebuild tokenizes into a sidecar
    * while the live index keeps serving AND accepting appends, and
    * takes the lock only for the catch-up — ids that landed in the
    * live doclens after the sidecar pass are re-tokenized from
    * `source` under the NEW layout — the stats recount and the renames
    * ([[Maintenance]]'s shadow protocol: `source` is a thunk re-invoked
    * under the lock, a delta id it cannot resolve refuses, tombstones
    * stay, and a purge during the pass discards the sidecar). The
    * recount scans the sidecar DOCLENS (a narrow (id, field, n_tok_f)
    * table), never the corpus text. The delta reads one id column of
    * the live doclens, so v1 and v2 layouts alike: the shadow IS the
    * v1→v2 upgrade path with ingest running. Tokenization is
    * deterministic, so the delta rows are bit-identical to what a
    * clean build would write.
    *
    * End state: postings/doclens row-identical to [[buildFields]]
    * over source-at-swap-time (the q198 rebuild-equals-build
    * equality, extended to mid-pass appends), meta counting the
    * non-tombstoned remainder. `beforeLock` is a test seam between the
    * sidecar pass and the lock; `beforeSwap` between the first
    * table's two renames; production leaves both default. */
  def rebuildShadow(
      source: () => DataFrame, idCol: String, dir: String,
      fields: Seq[String] = Seq("text"),
      numBuckets: Int = DefaultNumBuckets,
      waitForAppendsMs: Long = 60000L,
      beforeLock: () => Unit = () => (),
      beforeSwap: () => Unit = () => ()): Handle = {
    requireLayout(fields, numBuckets)
    Maintenance.shadowRebuild(source, dir, Tables, idCol, "doclens",
        waitForAppendsMs, beforeLock, beforeSwap)(_.sparkSession)(
      write = (_, rows, base, mode) => {
        val (postings, doclens) = statFrames(rows, idCol, fields, numBuckets)
        writeState(postings, doclens, idCol, base, mode)
      },
      finish = (spark, tmp) => {
        // meta describes the NON-TOMBSTONED remainder (the delete
        // contract: N/avgdl/df cover what probes can return) — the
        // sidecar may carry tombstoned rows (hidden by the anti-join
        // until the next compact purges them)
        val tombstones = Tombstones.read(spark, dir)
        val liveDoclens = tombstones.foldLeft(spark.read.parquet(s"$tmp/doclens")) {
          (df, ts) => df.join(ts.select(idCol), Seq(idCol), "left_anti")
        }
        val h = handleOf(dir, idCol, fields, numBuckets,
          statsOf(liveDoclens, idCol, fields),
          tombstones.map(_.count()).getOrElse(0L))
        writeMeta(spark, tmp, h)
        h
      })
  }

  /** Tombstone-delete documents from the index — the
    * right-to-be-forgotten path: at 100 TB a delete must not rewrite
    * the postings table (that is [[compact]]'s job). `ids` is a
    * DataFrame holding the handle's id column (deletion lists are
    * corpus-scaled — never a driver Seq). Ids land in a small
    * `tombstones/` side table; every probe anti-joins it, and the
    * collection statistics in `meta` are decremented from the doclens
    * rows of the newly-tombstoned ids, so probe-time N / avgdl / df
    * all describe the REMAINDER — [[topK]] after a delete is
    * bit-identical to [[Retrieval.bm25TopK]] over the filtered corpus
    * (OpsSpec asserts it). Idempotent against replays: ids already
    * tombstoned or absent from the index contribute nothing, and
    * [[Tombstones.record]] takes the one snapshot of the new ids that
    * both the stats and the tombstone write read. The physical purge
    * — and re-addability of a deleted id — comes with the next
    * [[compact]]. Crash between the tombstone write and the meta
    * rewrite leaves stats at their pre-delete values — and a replayed
    * delete is a no-op against the already-written tombstones, so the
    * drift stands until [[compact]] recounts (probes are SAFE
    * meanwhile: the tombstone filter is live, only N/avgdl are a
    * delete behind — the same compact-heals posture as [[append]]). */
  def delete(handle: Handle, ids: DataFrame): Handle = {
    val spark = ids.sparkSession
    require(ids.columns.contains(handle.idCol),
      s"delete: the ids frame must carry '${handle.idCol}', " +
        s"has ${ids.columns.mkString(", ")}")
    Maintenance.withAppendMarker(Maintenance.fsOf(spark), new Path(handle.dir)) {
      val cur = load(spark, handle.dir)
      require(cur.version == CurrentVersion,
        s"delete: ${handle.dir} is a v${cur.version} (legacy) index — " +
          "rebuild the index to upgrade before deleting from it")
      val id = cur.idCol
      val doclens = spark.read.parquet(s"${handle.dir}/doclens")
      val inIndex = ids.select(col(id)).na.drop().distinct()
        .join(doclens.select(col(id)), Seq(id), "left_semi")
      Tombstones.record(spark, handle.dir, id, inIndex) { fresh =>
        Some(statsOf(doclens.join(fresh, Seq(id), "left_semi"), id, cur.fields))
          .filter(_._1 > 0L)
      } match {
        case None => cur
        case Some(doomed) =>
          val upd = shifted(cur, doomed, -1L)
            .copy(nTombstones = cur.nTombstones + doomed._1)
          writeMeta(spark, handle.dir, upd)
          upd
      }
    }
  }

  /** Rewrite the index state deduplicated and re-sorted — the
    * maintenance pass for the append loop: posting rows collapse to
    * distinct (a replayed append re-derives identical rows under the
    * frozen tokenizer), doclens to one row per id, tombstoned docs are
    * purged, and the collection stats are recounted from the
    * deduplicated doclens, healing any replay drift in `meta`. Lock,
    * snapshot, swap and crash posture are [[Maintenance]]'s compact
    * protocol. */
  def compact(handle: Handle, waitForAppendsMs: Long = 60000L): Handle = {
    val spark = SparkSession.active
    val fs = Maintenance.fsOf(spark)
    Maintenance.withCompactLock(fs, new Path(handle.dir), waitForAppendsMs)(
      compactLocked(spark, handle, fs))
  }

  private[ops] def compactLocked(
      spark: SparkSession, handle: Handle, fs: FileSystem): Handle = {
    val dir = handle.dir
    val cur = load(spark, dir)
    require(cur.version == CurrentVersion,
      s"compact: $dir is a v${cur.version} (legacy) index — rewriting it " +
        s"would mix schemas; rebuild the index to upgrade")
    val tables = Seq("postings", "doclens") ++
      (if (fs.exists(new Path(s"$dir/termvecs"))) Seq("termvecs") else Nil)
    Maintenance.compactTables(spark, fs, dir, tables) {
      case ("postings", rows, out) => writePostings(rows.distinct(), out, "overwrite")
      case ("doclens", rows, out) =>
        rows.groupBy(col(handle.idCol), col("field"))
          .agg(max(col("n_tok_f")).as("n_tok_f"))
          .write.mode("overwrite").parquet(out)
      case (_, rows, out) => writeTermvecs(rows.distinct(), cur.idCol, out, "overwrite")
    }
    val h = handleOf(dir, cur.idCol, cur.fields, cur.numBuckets,
      statsOf(spark.read.parquet(s"$dir/doclens"), cur.idCol, cur.fields))
    writeMeta(spark, dir, h)
    h
  }

  /** Re-open a persisted index: one tiny JSON read, no data touched —
    * driver-side ([[Maintenance.readMetaRow]]); the old spark.read.json
    * cost two cluster jobs per handle open. */
  def load(spark: SparkSession, dir: String): Handle = {
    import scala.jdk.CollectionConverters._
    val meta = Maintenance.readMetaRow(spark, s"$dir/meta")
    // indexes written before textCol was persisted were hardwired to
    // "text" — that is their effective build column (the DedupIndex
    // bandSize back-compat rule)
    val textCol = if (meta.has("textCol")) meta.get("textCol").asText else "text"
    // pre-v2 metas carry no version: their layout IS v1
    val version = if (meta.has("version")) meta.get("version").asInt else 1
    val fields = if (meta.has("fields"))
      meta.get("fields").elements().asScala.map(_.asText).toSeq
    else Seq(textCol)
    val fieldTokens = if (meta.has("fieldTokens"))
      meta.get("fieldTokens").elements().asScala.map(_.asLong).toSeq
    else Seq(meta.get("totalTokens").asLong)
    // metas written before delete() existed imply "no tombstones"
    val nTombstones = if (meta.has("nTombstones"))
      meta.get("nTombstones").asLong else 0L
    val numBuckets = meta.get("numBuckets").asInt
    // cross-check the postings partitioning against the meta: a crash
    // between rebuild()'s table swaps can land a new-numBuckets
    // postings table beside a not-yet-swapped meta, and every probe
    // would then prune with the WRONG bucket mod (silent misses). A
    // partition value >= numBuckets is proof of the torn state in the
    // upgrade direction — one directory listing, no data read.
    val fs = Maintenance.fsOf(spark)
    val postingsRoot = new Path(s"$dir/postings")
    if (fs.exists(postingsRoot)) {
      val badBucket = fs.listStatus(postingsRoot).iterator
        .map(_.getPath.getName)
        .filter(_.startsWith("term_bucket="))
        .flatMap(n => n.stripPrefix("term_bucket=").toIntOption)
        .find(_ >= numBuckets)
      require(badBucket.isEmpty,
        s"$dir: postings carry partition term_bucket=${badBucket.get} but " +
          s"meta says numBuckets=$numBuckets — a rebuild crashed between " +
          "its table swaps (new postings under a stale meta). Recover by " +
          "re-running rebuild() from the source of truth.")
    }
    Handle(dir, meta.get("idCol").asText, textCol,
      numBuckets,
      meta.get("nDocs").asLong, meta.get("totalTokens").asLong,
      version, fields, fieldTokens, nTombstones)
  }

  /** Index consistency check — the fsck every long-lived on-disk
    * state needs after enough appends, deletes, compactions and
    * crash recoveries: one pass over the index's own tables (never
    * the corpus) verifying the invariants the probes rely on, as a
    * `(check, value)` report. All-zero drift/orphan/mismatch rows =
    * healthy; the absolute rows (`n_docs`, `total_tokens`,
    * `doclens_rows`, `posting_rows`) let a caller cross-check
    * against the source of truth. Checks:
    *
    *  - `meta_ndocs_drift` / `meta_tokens_drift` — meta stats minus
    *    a recount over the LIVE doclens (distinct per (id, field),
    *    tombstoned ids excluded): nonzero after a replayed append or
    *    a crashed delete, healed by compact — this row quantifies
    *    exactly what compact would fix
    *  - `postings_orphan_docs` — distinct posting ids with no
    *    doclens row (a torn append's partial write)
    *  - `tombstone_orphans` — tombstoned ids the doclens never held
    *    (harmless to probes, but evidence of a caller deleting
    *    unknown ids)
    *  - `positions_tf_mismatch` — v2 posting rows where
    *    `size(positions) ≠ tf`
    *  - `positions_out_of_range` — rows where a position ≥ the
    *    field length
    *  - `duplicate_posting_rows` — rows minus distinct rows
    *    (replayed appends; compact collapses them)
    *
    * Every check is one scan/aggregate over index tables — at 100 TB
    * this is the cheap audit you run BEFORE trusting a recovered
    * index, not a corpus pass. */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val h = load(spark, dir)
    require(h.version == CurrentVersion,
      s"fsck: $dir is a v${h.version} (legacy) index — rebuild to upgrade")
    val doclens = spark.read.parquet(s"$dir/doclens")
    val postings = spark.read.parquet(s"$dir/postings")
    val tombs = Tombstones.read(spark, dir)
    // FOUR aggregate actions instead of the old ten driver round-trips
    // (the audit was job-count-bound, not data-bound; every reported
    // value is unchanged):
    def cnt(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    // 1. one postings pass — row count, tf/position invariants, AND the
    //    distinct-row count (replay duplicates) in a single aggregate
    val postCols = postings.columns.map(col).toSeq
    val badRows = postings.agg(
      cnt(size(col("positions")) =!= col("tf")),
      cnt(array_max(col("positions")).cast("long") >= col("n_tok_f")),
      count(lit(1)),
      countDistinct(struct(postCols: _*))).head()
    val dupPostings = badRows.getLong(2) - badRows.getLong(3)
    // 2. one doclens pass — total rows plus the LIVE deduped stats
    //    (distinct per (id, field), tombstoned ids excluded) that the
    //    meta-drift rows compare against
    val withT = tombs match {
      case None => doclens.withColumn("__t", lit(false))
      case Some(ts) => doclens
        .join(ts.select(col(h.idCol)).distinct().withColumn("__t", lit(true)),
          Seq(h.idCol), "left")
        .withColumn("__t", coalesce(col("__t"), lit(false)))
    }
    val dlAgg = withT
      .groupBy(col(h.idCol), col("field"))
      .agg(count(lit(1)).as("__n"), max(col("n_tok_f")).as("__ntf"),
        max(col("__t")).as("__t"))
      .agg(
        coalesce(sum(col("__n")), lit(0L)),
        countDistinct(when(!col("__t"), col(h.idCol))),
        coalesce(sum(when(!col("__t"), col("__ntf"))), lit(0L))).head()
    val (doclensRows, liveN, liveTokens) =
      (dlAgg.getLong(0), dlAgg.getLong(1), dlAgg.getLong(2))
    // 3. one id-membership pass (posting ids, doclens ids, tombstoned
    //    ids) for both orphan checks
    val tombIdFrame = tombs.map(_.select(col(h.idCol)))
      .getOrElse(doclens.select(col(h.idCol)).limit(0))
    val morph = Seq(
        postings.select(col(h.idCol)), doclens.select(col(h.idCol)),
        tombIdFrame)
      .zipWithIndex
      .map { case (df, i) => df.select(col(h.idCol), lit(i).as("__src")) }
      .reduce(_ unionByName _)
      .groupBy(col(h.idCol)).agg(
        cnt(col("__src") === 0).as("__c0"),
        cnt(col("__src") === 1).as("__c1"),
        cnt(col("__src") === 2).as("__c2"))
      .agg(
        cnt(col("__c0") > 0 && col("__c1") === 0), // postings_orphan_docs
        cnt(col("__c2") > 0 && col("__c1") === 0)).head() // tombstone_orphans
    // 4. the forward index, when present, must mirror the postings
    //    exactly: same row count (a 1:1 projection — a torn append
    //    leaves one table short), same (id, field, term) key set, and
    //    every stored doc_bucket re-deriving from the row's own id (a
    //    partition key drifting from its hash silently breaks the
    //    probe's pruning — the DedupIndex band0 rule). One tagged-union
    //    groupBy carries all four checks.
    val fs = Maintenance.fsOf(spark)
    val tvChecks =
      if (!fs.exists(new Path(s"$dir/termvecs")))
        Seq.empty[(String, Long)]
      else {
        val tv = spark.read.parquet(s"$dir/termvecs")
        val key = Seq(h.idCol, "field", "term")
        val r = tv.select(key.map(col) :+ lit(0).as("__src") :+
            when(col("doc_bucket") =!= docBucket(h.idCol), 1L)
              .otherwise(0L).as("__mm"): _*)
          .unionByName(postings.select(
            key.map(col) :+ lit(1).as("__src") :+ lit(0L).as("__mm"): _*))
          .groupBy(key.map(col): _*).agg(
            cnt(col("__src") === 0).as("__ctv"),
            cnt(col("__src") === 1).as("__cp"),
            coalesce(sum(col("__mm")), lit(0L)).as("__mm"))
          .agg(
            coalesce(sum(col("__ctv")), lit(0L)),
            cnt(col("__ctv") > 0 && col("__cp") === 0),
            cnt(col("__cp") > 0 && col("__ctv") === 0),
            coalesce(sum(col("__mm")), lit(0L))).head()
        Seq(
          ("termvec_rows", r.getLong(0)),
          ("termvec_keys_missing_postings", r.getLong(1)),
          ("posting_keys_missing_termvecs", r.getLong(2)),
          ("termvec_bucket_mismatch", r.getLong(3)))
      }
    (Seq(
      ("doclens_rows", doclensRows),
      ("posting_rows", badRows.getLong(2)),
      ("n_docs", h.nDocs),
      ("total_tokens", h.totalTokens),
      ("n_tombstones", h.nTombstones),
      ("meta_ndocs_drift", h.nDocs - liveN),
      ("meta_tokens_drift", h.totalTokens - liveTokens),
      ("postings_orphan_docs", morph.getLong(0)),
      ("tombstone_orphans", morph.getLong(1)),
      ("positions_tf_mismatch", badRows.getLong(0)),
      ("positions_out_of_range", badRows.getLong(1)),
      ("duplicate_posting_rows", dupPostings)) ++ tvChecks)
      .toDF("check", "value")
  }

  // ---- the probe cores (conventions: see the object scaladoc) ----

  /** Collapse a pruned postings slice to one `(term, doc, n_tok, tf)`
    * row per key — the classic-BM25 "concatenated document" view the
    * whole-document probes score, and the ONE place the pre-compact
    * duplicate-row semantics of an at-least-once replayed [[append]]
    * are decided for them: a replayed append lays bit-identical posting
    * rows, so duplicates must collapse (never a plain `sum`, which
    * would double the doc's tf until [[compact]]) while the real v2
    * across-FIELDS total still sums. ONE shuffle either way: single-field slices (and v1) take
    * `max` per (term, doc); multi-field slices collect the (field, tf)
    * pairs as a SET — bit-identical replayed rows collapse in the set,
    * two distinct fields always form distinct structs — and fold the
    * across-field sum per-row (exact long addition, order-free). On a
    * clean index both shapes aggregate the same rows the old two-level
    * max-then-sum did — values, and therefore scores, bit-identical.
    * Neither shape reads `positions`, so the scan stays narrow. */
  private def collapseTf(handle: Handle, raw: DataFrame): DataFrame = {
    val nFields =
      if (handle.fields.nonEmpty) handle.fields.size else 1
    if (handle.version >= 2 && nFields > 1)
      raw.groupBy(col("term"), col(handle.idCol), col("n_tok"))
        .agg(collect_set(struct(col("field"), col("tf"))).as("__fs"))
        .select(col("term"), col(handle.idCol), col("n_tok"),
          aggregate(col("__fs"), lit(0L),
            (acc, x) => acc + x.getField("tf")).as("tf"))
    else
      // one row per (term, doc) on a clean index — max collapses
      // replay duplicates and equals the row's tf
      raw.groupBy(col("term"), col(handle.idCol), col("n_tok"))
        .agg(max(col("tf")).as("tf"))
  }

  /** The `docFilter` convention every probe shares (see the object
    * scaladoc): a semi-join of the already-pruned slice against the
    * qualifying ids. Callers attach df BEFORE applying it, so the
    * collection statistics stay corpus-wide. */
  private def restrict(
      handle: Handle, rows: DataFrame,
      docFilter: Option[DataFrame]): DataFrame =
    docFilter match {
      case None => rows
      case Some(f) =>
        require(f.columns.contains(handle.idCol),
          s"docFilter must carry '${handle.idCol}', " +
            s"has ${f.columns.mkString(", ")}")
        rows.join(f.select(col(handle.idCol)), Seq(handle.idCol), "left_semi")
    }

  /** Per-term document frequency attached IN-PLAN: `rows` gains a
    * pivotable `__df` column — the distinct-doc count of its term over
    * the (unrestricted) pruned slice, the [[collapseTf]] pre-compact
    * convention. Replaces the probes' separate driver `.collect()` of
    * a df map: one Spark action and one slice re-scan fewer per probe
    * (the df aggregate rides the SAME plan and AQE reuses the slice's
    * exchange), and the per-term idf literals become per-term pivoted
    * columns carrying the identical BIGINT df — scores are
    * bit-identical (same Long df, same double arithmetic in the same
    * order). */
  private def withDfColumn(rows: DataFrame, idCol: String): DataFrame =
    rows.join(
      rows.groupBy("term").agg(countDistinct(col(idCol)).as("__df")),
      Seq("term"))

  /** The Robertson idf over an in-plan per-term df column — the exact
    * column form of the old driver literal
    * `log(1 + (N - df + 0.5)/(df + 0.5))` (Long subtraction, then the
    * double cast, then + 0.5, matching Scala's left-to-right literal
    * evaluation bit-for-bit). `dfI` NULL (term absent from the pruned
    * slice, or absent from THIS doc's pivot group) coalesces to 0 —
    * those rows' tf is 0/NULL so the term contributes exactly 0 either
    * way, as with the old global literal. The batch probes' non-NULL
    * df gives the same doubles their old `N.toDouble − df.toDouble`
    * spelling did: both are exact for every count below 2⁵³. */
  private def idfOf(nDocs: Long, dfI: Column): Column = {
    val dfc = coalesce(dfI, lit(0L))
    val num = (lit(nDocs) - dfc).cast("double") + lit(0.5)
    val den = dfc.cast("double") + lit(0.5)
    log(lit(1.0) + num / den)
  }

  /** The BM25 term polynomial `idf·tf(k1+1)/(tf + k1(1−b+b·len/avgdl))`
    * over double `tf` and `len`, in [[Retrieval.scoreWith]]'s
    * association order — every probe scores with this one spelling. */
  private def bm25Term(
      tf: Column, len: Column, avgdl: Double, idf: Column,
      k1: Double, b: Double): Column =
    idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * len / lit(avgdl)))

  /** The exact-integer score convention: `round(c·2²⁰)` as a BIGINT. */
  private def quantize(c: Column): Column =
    round(c * lit(1048576.0d)).cast("long")

  /** The guards every probe but [[topK]] and [[rm3Expand]] shares. */
  private def requireProbe(
      handle: Handle, op: String, k: Int, positional: Boolean = false): Unit = {
    require(!positional || handle.version >= CurrentVersion,
      s"$op needs the positional v$CurrentVersion layout; ${handle.dir} is " +
        s"v${handle.version} (no positions/fields on its posting rows) — " +
        s"rebuild the index to upgrade")
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, s"$op over an empty index")
  }

  /** The single-query term guards: at least `min` terms, none NULL, all
    * lowercase (documents are lowercased before matching) and non-empty
    * unless `emptyOk`, distinct when `distinct`, and at most
    * [[MaxQueryTerms]] distinct terms when `capped` (the per-term
    * columns are a driver-resident model). */
  private def requireTerms(
      terms: Seq[String], op: String, min: Int = 1, emptyOk: Boolean = false,
      distinct: Boolean = true, capped: Boolean = true): Unit = {
    require(terms.size >= min,
      s"$op needs at least ${if (min > 1) "two query terms" else "one query term"}")
    require(!terms.contains(null), s"$op: NULL query term in $terms")
    require(terms.forall(t => (emptyOk || t.nonEmpty) && t == t.toLowerCase),
      s"$op: query terms must be ${if (emptyOk) "" else "non-empty and "}" +
        s"lowercase (documents are lowercased before matching): $terms")
    require(!distinct || terms.distinct.size == terms.size,
      s"$op: query terms must be distinct, got duplicates in $terms")
    require(!capped || terms.distinct.size <= MaxQueryTerms,
      s"$op: at most $MaxQueryTerms query terms (driver-resident per-term " +
        s"stats), got ${terms.distinct.size}")
  }

  /** The field a field-restricted probe runs against — `field`, or the
    * index's only field — and that field's average length. */
  private def fieldOf(
      handle: Handle, field: Option[String], op: String): (String, Double) = {
    val fld = field.getOrElse {
      require(handle.fields.size == 1,
        s"$op: multi-field index (${handle.fields.mkString(", ")}): name " +
          "the field to probe")
      handle.fields.head
    }
    val fi = handle.fields.indexOf(fld)
    require(fi >= 0, s"unknown field '$fld' — index has ${handle.fields}")
    (fld, handle.fieldTokens(fi).toDouble / handle.nDocs.toDouble)
  }

  private def avgdlOf(handle: Handle): Double =
    handle.totalTokens.toDouble / handle.nDocs.toDouble

  /** Single-query core: the query terms' postings, pruned to their
    * buckets (hashed on the driver, [[engineBucketOf]]) and terms —
    * and to `fields` unless empty — with tombstoned docs dropped. */
  private def termSlice(
      spark: SparkSession, handle: Handle, terms: Seq[String],
      fields: Seq[String]): DataFrame = {
    val buckets = terms.map(engineBucketOf(_, handle.numBuckets)).distinct
    val hit = col("term_bucket").isin(buckets: _*) && col("term").isin(terms: _*)
    Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(if (fields.isEmpty) hit else hit && col("field").isin(fields: _*)))
  }

  /** Single-query core: one row per `keys` group carrying `__tf$i`,
    * `__pos$i` (when `positions`) and `__df$i` for each term, in
    * query-term order, so per-term scores add left to right whatever
    * the row layout. */
  private def pivot(
      rows: DataFrame, keys: Seq[Column], terms: Seq[String],
      positions: Boolean): DataFrame = {
    val srcs = Seq("tf" -> "__tf") ++
      (if (positions) Seq("positions" -> "__pos") else Nil) :+ ("__df" -> "__df")
    val aggs = for ((src, to) <- srcs; (t, i) <- terms.zipWithIndex)
      yield max(when(col("term") === t, col(src))).as(s"$to$i")
    rows.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Single-query core up to the scorer: the [[termSlice]] — collapsed
    * per (term, doc) for a whole-document probe (`field` None), or
    * narrowed to `field` with its positions — with df attached in-plan,
    * then `docFilter`, then the [[pivot]] keyed by (id, `n_tok` or
    * `n_tok_f`). */
  private def pivotedSlice(
      spark: SparkSession, handle: Handle, terms: Seq[String],
      field: Option[String], docFilter: Option[DataFrame]): DataFrame = {
    val slice = termSlice(spark, handle, terms, field.toSeq)
    val rows = if (field.isEmpty) collapseTf(handle, slice) else slice
    pivot(restrict(handle, withDfColumn(rows, handle.idCol), docFilter),
      Seq(col(handle.idCol), col(if (field.isEmpty) "n_tok" else "n_tok_f")),
      terms, positions = field.nonEmpty)
  }

  /** Term `i`'s BM25 score on a [[pivot]]ed row; an absent term has
    * tf 0. */
  private def pivotTerm(
      handle: Handle, i: Int, len: String, avgdl: Double,
      k1: Double, b: Double): Column =
    bm25Term(coalesce(col(s"__tf$i").cast("double"), lit(0.0)),
      col(len).cast("double"), avgdl, idfOf(handle.nDocs, col(s"__df$i")), k1, b)

  /** The best `width`-token window of a doc given its per-term
    * positions arrays `ps` (an array of arrays, one per query term):
    * windows anchor at each occurrence — any window slides right to its
    * first hit without losing one — and the best maximizes (distinct
    * terms covered, total hits, −start), an integer-only lexicographic
    * `array_max` with a unique answer. Per-row array arithmetic: no
    * explode, no self-join. Emits `win_start`, `win_n_terms`,
    * `win_n_hits`. */
  private def bestWindow(ps: Column, width: Int): Seq[Column] = {
    def inWin(p: Column): Column => Column = x => x >= p && x < p + lit(width)
    val best = array_max(transform(array_distinct(flatten(ps)), p => struct(
      aggregate(ps, lit(0), (acc, ar) =>
        acc + when(exists(ar, inWin(p)), lit(1)).otherwise(lit(0))).as("nt"),
      aggregate(ps, lit(0), (acc, ar) => acc + size(filter(ar, inWin(p)))).as("nh"),
      (-p).as("negstart"))))
    Seq((-best.getField("negstart")).cast("long").as("win_start"),
      best.getField("nt").cast("long").as("win_n_terms"),
      best.getField("nh").cast("long").as("win_n_hits"))
  }

  /** The single-query tail: positive scores, top `k` by (score desc,
    * id) — one TakeOrderedAndProject. */
  private def topOf(handle: Handle, scored: DataFrame, score: String, k: Int): DataFrame =
    scored.filter(col(score) > 0).orderBy(col(score).desc, col(handle.idCol)).limit(k)

  /** Batch core: the in-plan term guard for an unbounded query table —
    * a NULL or non-lowercase term raises row-wise instead of silently
    * matching nothing. */
  private def checkedTerm(c: Column, op: String): Column =
    when(c.isNull, raise_error(lit(s"$op: NULL term element in the query terms")))
      .when(c =!= lower(c), raise_error(concat(lit(s"$op: query terms must be " +
        "lowercase (documents are lowercased before matching): "), c)))
      .otherwise(c)

  /** Batch core: the postings of a term table's terms. Buckets are one
    * collect bounded by `numBuckets` (never by the terms), the term
    * restriction a semi-join, tombstoned docs dropped, the rows
    * collapsed per (term, doc) when `collapse` ([[collapseTf]]), and the
    * slice checkpointed once — it feeds both df and the candidates. */
  private def batchSlice(
      spark: SparkSession, handle: Handle, terms: DataFrame,
      fields: Seq[String], collapse: Boolean): DataFrame = {
    val buckets = terms
      .select(pmod(hash(col("term")), lit(handle.numBuckets)).cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val inBuckets = col("term_bucket").isin(buckets: _*)
    val rows = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(if (fields.isEmpty) inBuckets else inBuckets && col("field").isin(fields: _*))
        .join(terms.select("term").distinct(), Seq("term"), "left_semi"))
    (if (collapse) collapseTf(handle, rows) else rows).localCheckpoint(false)
  }

  /** Batch core: the query table with a duplicate qid raising in-plan
    * and its terms array, passed through `guard`, as `__terms`. */
  private def oneRowPerQid(
      queries: DataFrame, qidCol: String, termsCol: String, op: String)(
      guard: Column => Column): DataFrame =
    queries.withColumn("__n", count(lit(1)).over(Window.partitionBy(qidCol)))
      .select(when(col("__n") > 1, raise_error(concat(
          lit(s"$op: duplicate query id "), col(qidCol).cast("string"))))
        .otherwise(col(qidCol)).as(qidCol), guard(col(termsCol)).as("__terms"))

  /** Batch core: a batch row's BM25 score from its own `tf` and `__df`. */
  private def rowTerm(
      handle: Handle, len: String, avgdl: Double, k1: Double, b: Double): Column =
    bm25Term(col("tf").cast("double"), col(len).cast("double"), avgdl,
      idfOf(handle.nDocs, col("__df")), k1, b)

  /** Batch core: ranks 1..k per query by (score_q desc, id), a
    * qid-partitioned window — no global sort. */
  private def rankPerQuery(
      scored: DataFrame, qidCol: String, idCol: String, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy(qidCol)
        .orderBy(col("score_q").desc, col(idCol))))
      .filter(col("rank") <= k)

  // ---- the probes ----

  /** Index-backed BM25 top-k — result-identical to
    * [[Retrieval.bm25TopK]] over the same corpus (raw doubles, bit for
    * bit), but the work is proportional to the query terms' postings,
    * never the corpus: the single-query core and one
    * TakeOrderedAndProject. `docFilter` is the metadata predicate of
    * production retrieval ("top-k where lang = 'en'" —
    * [[AnnIndex.query]]'s `filter` is the vector twin): the k results
    * are the k best qualifying docs, where post-filtering an unfiltered
    * top-k would surface fewer. Emits `(id, n_tok, score)`.
    * Probe conventions: [[Bm25Index]]. */
  def topK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      k: Int = 10, k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireTerms(queryTerms, "topK", emptyOk = true)
    require(handle.nDocs > 0, "topK over an empty index")
    val score = queryTerms.indices
      .map(pivotTerm(handle, _, "n_tok", avgdlOf(handle), k1, b)).reduce(_ + _)
    topOf(handle, pivotedSlice(spark, handle, queryTerms, None, docFilter)
      .select(col(handle.idCol), col("n_tok"), score.as("score")), "score", k)
  }

  /** Batched BM25 top-k — the RAG evaluation shape: thousands of
    * queries amortize ONE pruned pass over the index (the batch core).
    * `queries` carries `(qidCol, termsCol: array<string>)` with no
    * bound on the query count or the term universe. Scores are
    * quantized ([[topK]] keeps raw doubles; the two agree on ranking to
    * 2⁻²⁰ resolution). Duplicate terms collapse per qid — within an
    * array AND across rows sharing the qid (BM25 scores term presence
    * once per term).
    *
    * `attrEquals = Some((attrs, attrCol, queryCol))` is the PER-QUERY
    * metadata filter ([[AnnIndex.queryBatch]]'s `attrEquals`, on the
    * lexical side): `attrs` is the caller's `(idCol, attrCol, …)`
    * attribute table — the postings are term-partitioned and store no
    * attributes, so per-query filters resolve through a doc-keyed
    * side table — and a candidate qualifies for a query only when its
    * `attrCol` equals THAT query's `queryCol` value. Each query ranks
    * the k best docs in ITS slice; a doc with no attribute row (or a
    * NULL on either side — SQL equality) qualifies for nothing. Rows
    * sharing a qid must agree on the attribute value (conflicting
    * values would silently merge two different filters into one
    * query's scores — raises in-plan, NULL counted as a value); on
    * the doc side, bit-identical duplicate attribute rows collapse
    * and an id carrying conflicting rows raises in-plan (duplicates
    * would otherwise multiply candidate rows through the join and
    * silently double score_q). Statistics stay corpus-wide.
    * Emits `(qidCol, idCol, n_tok, score_q, rank)`, ranks 1..k by
    * (score_q desc, id). Probe conventions: [[Bm25Index]]. */
  def topKBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      qidCol: String, termsCol: String, k: Int = 10,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None,
      attrEquals: Option[(DataFrame, String, String)] = None): DataFrame = {
    requireProbe(handle, "topKBatch", k)
    attrEquals.foreach { case (attrs, ac, qc) =>
      require(queries.columns.contains(qc),
        s"topKBatch: queries must carry the per-query attribute column " +
          s"'$qc', has ${queries.columns.mkString(", ")}")
      require(attrs.columns.contains(handle.idCol) && attrs.columns.contains(ac),
        s"topKBatch: the attribute table must carry '${handle.idCol}' and " +
          s"'$ac', has ${attrs.columns.mkString(", ")}")
      require(ac != "term" && ac != handle.idCol && ac != "n_tok" &&
          ac != "tf" && ac != qidCol && ac != "__qattr",
        s"topKBatch: attribute column '$ac' collides with a probe column — " +
          "alias it in the attribute table first")
    }
    val qattr = attrEquals.toSeq.map { case (_, _, qc) => col(qc).as("__qattr") }
    val qtRaw = queries
      .select(col(qidCol) +: explode(col(termsCol)).as("__t") +: qattr: _*)
      .select(col(qidCol) +: checkedTerm(col("__t"), "topKBatch").as("term") +:
        attrEquals.toSeq.map(_ => col("__qattr")): _*)
      .distinct()
    val qt = attrEquals match {
      case None => qtRaw
      case Some(_) =>
        // two rows sharing a qid but carrying different attribute
        // values would merge two filters into one query — raise
        // row-wise (the query table is unbounded, so in-plan). The
        // value is struct-wrapped because collect_set drops bare
        // NULLs: a qid carrying both NULL and 'x' must count as TWO
        // conflicting values (the NULL rows would match nothing while
        // the 'x' rows filter — a silently half-filtered query), and
        // struct(NULL) is a non-null element the set keeps.
        qtRaw
          .withColumn("__na", size(collect_set(struct(col("__qattr")))
            .over(Window.partitionBy(qidCol))))
          .select(col(qidCol),
            when(col("__na") > 1, raise_error(concat(
                lit("topKBatch: query id "), col(qidCol).cast("string"),
                lit(" carries conflicting attribute values"))))
              .otherwise(col("term")).as("term"),
            col("__qattr"))
    }
    val pruned = batchSlice(spark, handle, qt, Nil, collapse = true)
    val dfs = pruned.groupBy("term").agg(count(lit(1)).as("__df"))
    val id = col(handle.idCol)
    val candidates = restrict(handle, pruned, docFilter)
    // the per-query attribute equality: candidates join the caller's
    // attribute table on the doc id (its predicate and projection push
    // to ITS scan; only the term-bounded candidate ids join against it)
    val candAttr = attrEquals match {
      case None => candidates
      case Some((attrs, ac, _)) =>
        // duplicate attribute rows per doc id — even bit-identical
        // ones — would multiply candidate rows through this join and
        // silently double score_q (AnnIndex stores attrs one-per-row;
        // this table is the caller's). Exact duplicates collapse via
        // distinct() on the candidate-bounded projection; an id still
        // carrying >1 row after that holds CONFLICTING values and
        // raises in-plan (the loud-failure posture — the attr table
        // is unbounded, so no driver-side check). The semi-join
        // bounds the distinct+window to the term-pruned candidate
        // slice, never the corpus-scaled attribute table.
        val guarded = attrs.select(id, col(ac))
          .join(candidates.select(id).distinct(), Seq(handle.idCol), "left_semi")
          .distinct()
          .withColumn("__nav", count(lit(1)).over(Window.partitionBy(handle.idCol)))
          .select(id,
            when(col("__nav") > 1, raise_error(concat(
                lit("topKBatch: doc id "), id.cast("string"),
                lit(" carries conflicting attribute rows in the " +
                  "attribute table"))))
              .otherwise(col(ac)).as(ac))
        candidates.join(guarded, Seq(handle.idCol))
    }
    val scored0 = qt.join(candAttr, Seq("term"))
    val scored = (attrEquals match {
        case None => scored0
        case Some((_, ac, _)) => scored0.filter(col(ac) === col("__qattr"))
      }).join(dfs, Seq("term"))
      .withColumn("__sq", quantize(rowTerm(handle, "n_tok", avgdlOf(handle), k1, b)))
      .groupBy(col(qidCol), id, col("n_tok"))
      .agg(sum(col("__sq")).as("score_q"))
      .filter(col("score_q") > 0L)
    rankPerQuery(scored, qidCol, handle.idCol, k)
  }

  /** Phrase top-k over the positional postings (v2 layout): candidates
    * are the docs containing every DISTINCT phrase term in `field`,
    * then the adjacency check verifies the exact token sequence from
    * the sorted `positions` arrays in the pruned slice — a
    * bag-of-words doc that merely contains the terms is rejected;
    * `phrase_tf` counts the phrase's occurrences. Matching docs rank by
    * the BM25 polynomial over the distinct terms restricted to the
    * field (field length, field avgdl, field df): for a phrase probe
    * the field is the document. The corpus is never re-tokenized.
    * Emits `(id, n_tok, phrase_tf, score)`, top `k` by
    * (score desc, id). Probe conventions: [[Bm25Index]]. */
  def phraseTopK(
      spark: SparkSession, handle: Handle, phrase: Seq[String],
      k: Int = 10, field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireProbe(handle, "phraseTopK", k, positional = true)
    requireTerms(phrase, "phraseTopK", min = 2, distinct = false)
    val (fld, avgdlF) = fieldOf(handle, field, "phraseTopK")
    val terms = phrase.distinct
    val id = col(handle.idCol)
    val present = terms.indices.map(i => col(s"__pos$i").isNotNull).reduce(_ && _)
    // an occurrence at position p needs slot j's term at p + j for all j
    val slot = phrase.map(terms.indexOf)
    val phraseTf = size(filter(col(s"__pos${slot.head}"),
      p => slot.zipWithIndex.drop(1)
        .map { case (d, j) => array_contains(col(s"__pos$d"), p + j) }
        .reduce(_ && _)))
    val score = terms.indices
      .map(pivotTerm(handle, _, "n_tok_f", avgdlF, k1, b)).reduce(_ + _)
    pivotedSlice(spark, handle, terms, Some(fld), docFilter).filter(present)
      .withColumn("phrase_tf", phraseTf.cast("long"))
      .filter(col("phrase_tf") >= 1)
      .select(id, col("n_tok_f").as("n_tok"), col("phrase_tf"), score.as("score"))
      .orderBy(col("score").desc, id)
      .limit(k)
  }

  /** Snippet extraction from the positional postings — the
    * presentation step a RAG pipeline runs after ranking: for each of
    * the query's top-`k` docs, the best `width`-token window
    * (maximizing DISTINCT query terms covered, then total term hits,
    * then the smallest start) computed entirely from the index's
    * sorted `positions` arrays — the raw text is NEVER re-read or
    * re-tokenized (the caller slices the snippet out of the stored
    * doc by token offset). Candidate windows are anchored at term
    * occurrences: any window slides right to its first hit without
    * losing one, so the hit-anchored set contains an optimal window
    * and the tie-break makes the answer unique. The window scan is
    * per-row array arithmetic on the pivoted positions (one
    * `transform` over the candidate starts, an `array_max` over
    * lexicographic (n_terms, n_hits, −start) structs) — no explode, no
    * self-join. Scoring is [[phraseTopK]]'s field-restricted
    * polynomial. Emits `(id, n_tok, score, win_start, win_n_terms,
    * win_n_hits)`, top `k` by (score desc, id).
    * Probe conventions: [[Bm25Index]]. */
  def snippetTopK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      width: Int = 16, k: Int = 10, field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireProbe(handle, "snippetTopK", k, positional = true)
    requireTerms(queryTerms, "snippetTopK")
    require(width >= 1, s"width must be >= 1, got $width")
    val (fld, avgdlF) = fieldOf(handle, field, "snippetTopK")
    val id = col(handle.idCol)
    val score = queryTerms.indices
      .map(pivotTerm(handle, _, "n_tok_f", avgdlF, k1, b)).reduce(_ + _)
    // orderBy → select → limit is the Limit(Project(Sort)) shape that
    // plans as ONE TakeOrderedAndProject: the top k surface through a
    // partial per-partition take (no global sort exchange), and the
    // window-scan projection runs on the K SURVIVORS only — a project
    // placed above the limit instead would break the pattern into
    // Sort + single-partition Exchange + GlobalLimit (a mid-plan
    // funnel) and scan windows for every candidate
    pivotedSlice(spark, handle, queryTerms, Some(fld), docFilter)
      .select((id +: col("n_tok_f").as("n_tok") +: score.as("score") +:
        queryTerms.indices.map(i =>
          coalesce(col(s"__pos$i"), array().cast("array<int>"))
            .as(s"__pos$i"))): _*)
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, id)
      .select(Seq(id, col("n_tok"), col("score")) ++
        bestWindow(array(queryTerms.indices.map(i => col(s"__pos$i")): _*), width): _*)
      .limit(k)
  }

  /** Batched snippet extraction — [[snippetTopK]] for a query TABLE
    * (completing the batch family: [[topKBatch]] scores,
    * [[phraseTopKBatch]] matches phrases, this one also returns each
    * hit's best window): one pruned positional pass serves every query
    * (the batch core), and the window-scan arithmetic runs over the k
    * SURVIVORS per query only: survivors join back to the pruned slice,
    * positions collect per (query, doc), and the scan is per-row
    * higher-order-function arithmetic — no explode, no self-join.
    * Duplicate qids, empty term arrays and duplicate terms within a
    * query raise in-plan. Emits `(qid, id, n_tok, score_q, rank,
    * win_start, win_n_terms, win_n_hits)`, ranks 1..k by
    * (score_q desc, id). Probe conventions: [[Bm25Index]]. */
  def snippetTopKBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      qidCol: String, termsCol: String, width: Int = 16, k: Int = 10,
      field: Option[String] = None, k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireProbe(handle, "snippetTopKBatch", k, positional = true)
    require(width >= 1, s"width must be >= 1, got $width")
    val (fld, avgdlF) = fieldOf(handle, field, "snippetTopKBatch")
    val qt = oneRowPerQid(queries, qidCol, termsCol, "snippetTopKBatch") { ts =>
        when(size(ts) < 1, raise_error(concat(
            lit("snippetTopKBatch: empty terms for query "), col(qidCol).cast("string"))))
          .when(size(array_distinct(ts)) =!= size(ts), raise_error(concat(
            lit("snippetTopKBatch: duplicate terms for query "),
            col(qidCol).cast("string"))))
          .otherwise(ts)
      }
      .select(col(qidCol), explode(col("__terms")).as("__t"))
      .select(col(qidCol), checkedTerm(col("__t"), "snippetTopKBatch").as("term"))
      .localCheckpoint(false) // feeds buckets, the score join, the window join
    val id = col(handle.idCol)
    // replay duplicates are handled at each consumer instead of by an
    // extra wide shuffle of the positions-carrying slice: distinct-doc
    // df, max-before-sum scoring, and a SET collect for the windows
    val pruned = batchSlice(spark, handle, qt, Seq(fld), collapse = false)
    val dfs = pruned.groupBy("term").agg(countDistinct(id).as("__df"))
    val cand = qt.join(restrict(handle, pruned, docFilter), Seq("term"))
    // per-(query, term, doc) max collapses replay-duplicate rows
    // before the across-terms sum — narrow rows, map-side combine
    val scored = cand.join(dfs, Seq("term"))
      .withColumn("__sq", quantize(rowTerm(handle, "n_tok_f", avgdlF, k1, b)))
      .groupBy(col(qidCol), id, col("n_tok_f"), col("term"))
      .agg(max(col("__sq")).as("__sq"))
      .groupBy(col(qidCol), id, col("n_tok_f"))
      .agg(sum(col("__sq")).as("score_q"))
      .filter(col("score_q") > 0L)
    // window arithmetic on the survivors only: one positions array per
    // (query, DISTINCT term, doc) row collects per hit. collect_SET:
    // replay-duplicate posting rows carry bit-identical arrays and
    // must count once, while two distinct terms can never collide —
    // a position holds exactly one term, so their position sets are
    // disjoint and their arrays always differ
    rankPerQuery(scored, qidCol, handle.idCol, k)
      .join(cand.select(col(qidCol), id, col("positions")),
        Seq(qidCol, handle.idCol))
      .groupBy(col(qidCol), id, col("n_tok_f"), col("score_q"), col("rank"))
      .agg(collect_set(col("positions")).as("__ps"))
      .select(Seq(col(qidCol), id, col("n_tok_f").as("n_tok"), col("score_q"),
        col("rank")) ++ bestWindow(col("__ps"), width): _*)
  }

  /** Proximity-weighted BM25 top-k over the positional postings —
    * between bag-of-words [[topK]] and exact-sequence [[phraseTopK]]:
    * documents where the query terms cluster TOGETHER outrank
    * bag-of-words matches without requiring exact adjacency (minimal
    * span weighting — Tao & Zhai's finding that the best proximity
    * signal is the smallest window covering all terms). Scoring is
    * quantized: `score_q = Σ_t round(s_t·2²⁰)` (the field-restricted
    * polynomial per term) plus, for docs containing EVERY distinct
    * query term, a bonus `round(proxWeight·2²⁰·|Q| / minwin)` where
    * `minwin` is the smallest token window containing all terms
    * (minwin ≥ |Q|, so the bonus caps at `proxWeight·2²⁰` for
    * perfectly-packed terms and decays with spread). `minwin` is
    * computed per candidate row from the sorted positions arrays (for
    * each occurrence position s, the window must stretch to
    * `max_t min{p ∈ pos_t : p ≥ s}`; the minimum over starts is the
    * answer — no explode, no self-join), emitted as a column for
    * auditing (NULL when a term is missing). Emits
    * `(id, n_tok, minwin, score_q)`, top `k` by (score_q desc, id).
    * Probe conventions: [[Bm25Index]]. */
  def proximityTopK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      k: Int = 10, proxWeight: Double = 1.0, field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireProbe(handle, "proximityTopK", k, positional = true)
    requireTerms(queryTerms, "proximityTopK", min = 2)
    require(proxWeight > 0.0, s"proxWeight must be positive, got $proxWeight")
    val (fld, avgdlF) = fieldOf(handle, field, "proximityTopK")
    val scoreQ = queryTerms.indices
      .map(i => quantize(pivotTerm(handle, i, "n_tok_f", avgdlF, k1, b))).reduce(_ + _)
    // minwin from the positions arrays: candidate window starts are
    // every occurrence; per start the window stretches to each term's
    // NEXT occurrence at-or-after it — the greatest of those minus
    // the start (+1) is that start's width, the minimum over starts
    // the doc's minimal span
    def pos(i: Int) = coalesce(col(s"__pos$i"), array().cast("array<int>"))
    val starts = array_distinct(flatten(array(queryTerms.indices.map(pos): _*)))
    def nextGE(i: Int, s: Column) = array_min(filter(pos(i), p => p >= s))
    val widths = transform(starts, s =>
      when(queryTerms.indices.map(i => nextGE(i, s).isNotNull).reduce(_ && _),
        greatest(queryTerms.indices.map(i => nextGE(i, s)): _*) - s + lit(1)))
    val minwin = array_min(filter(widths, w => w.isNotNull)).cast("long")
    val bonus = when(col("minwin").isNotNull,
        round(lit(proxWeight) * lit(1048576.0d) *
          lit(queryTerms.size.toDouble) / col("minwin").cast("double"))
          .cast("long"))
      .otherwise(lit(0L))
    topOf(handle, pivotedSlice(spark, handle, queryTerms, Some(fld), docFilter)
      .withColumn("minwin", minwin)
      .select(col(handle.idCol), col("n_tok_f").as("n_tok"), col("minwin"),
        (scoreQ + bonus).as("score_q")), "score_q", k)
  }

  /** Batched phrase probe — [[phraseTopK]]'s table form: a TABLE of
    * phrases shares ONE pruned pass over the positional postings (the
    * batch core). `queries` carries `(qidCol, phraseCol:
    * array<string>)`; a duplicate qid or a sub-2-term phrase raises
    * in-plan. Adjacency is fully relational so it composes at any
    * phrase length per row: each phrase SLOT's postings explode to
    * `(qid, doc, base = position − slot)` rows and a base where ALL
    * slots are present is one phrase occurrence — repeated-term
    * phrases work because every slot joins the term's posting row
    * independently. Scoring is the field-restricted polynomial over
    * each phrase's DISTINCT terms, quantized; ranking runs over
    * adjacency survivors only. Emits `(qidCol, idCol, n_tok,
    * phrase_tf, score_q, rank)`, ranks 1..k by (score_q desc, id); a
    * phrase with no matching doc emits nothing.
    * Probe conventions: [[Bm25Index]]. */
  def phraseTopKBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      qidCol: String, phraseCol: String, k: Int = 10,
      field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireProbe(handle, "phraseTopKBatch", k, positional = true)
    val (fld, avgdlF) = fieldOf(handle, field, "phraseTopKBatch")
    val slots = oneRowPerQid(queries, qidCol, phraseCol, "phraseTopKBatch") { ts =>
        when(size(ts) < 2, raise_error(concat(lit("phraseTopKBatch: a phrase " +
          "needs at least two terms, query "), col(qidCol).cast("string")))).otherwise(ts)
      }
      .select(col(qidCol), size(col("__terms")).as("__plen"),
        posexplode(col("__terms")).as(Seq("__slot", "__t")))
      .select(col(qidCol), col("__plen"), col("__slot"),
        checkedTerm(col("__t"), "phraseTopKBatch").as("term"))
      .localCheckpoint(false) // feeds buckets, the slot join, the score join
    val id = col(handle.idCol)
    // replay duplicates collapse WITHOUT a wide shuffle of the
    // positions-carrying slice: ONE narrow collapse (term/doc/length/tf
    // — positions never shuffle) feeds both the df count and the
    // scoring join, and the base grouping below collapses duplicate
    // (slot, base) rows by construction
    val pruned = batchSlice(spark, handle, slots, Seq(fld), collapse = false)
    val narrow = pruned
      .groupBy(col("term"), id, col("n_tok_f")).agg(max(col("tf")).as("tf"))
    // rows unique per (term, doc) within the fixed field: count == df
    val dfs = narrow.groupBy("term").agg(count(lit(1)).as("__df"))
    // one row per (query, slot, matching doc), exploded to the base
    // position each slot's occurrences would anchor: base where every
    // slot appears == one occurrence of the full phrase
    val bases = slots.join(restrict(handle, pruned, docFilter), Seq("term"))
      .select(col(qidCol), col("__plen"), col("__slot"), id,
        explode(expr("transform(positions, x -> x - __slot)")).as("__base"))
    val matched = bases
      .groupBy(col(qidCol), id, col("__base"), col("__plen"))
      .agg(countDistinct(col("__slot")).as("__nslots"))
      .filter(col("__nslots") === col("__plen"))
      .groupBy(col(qidCol), id)
      .agg(count(lit(1)).as("phrase_tf"))
    // scoring joins the already-collapsed narrow frame — one sum per
    // (query, doc), no duplicate rows to guard against here
    val scored = slots.select(col(qidCol), col("term")).distinct()
      .join(restrict(handle, narrow, docFilter), Seq("term"))
      .join(dfs, Seq("term"))
      .withColumn("__sq", quantize(rowTerm(handle, "n_tok_f", avgdlF, k1, b)))
      .groupBy(col(qidCol), id, col("n_tok_f"))
      .agg(sum(col("__sq")).as("score_q"))
    rankPerQuery(matched.join(scored, Seq(qidCol, handle.idCol)), qidCol, handle.idCol, k)
      .select(col(qidCol), id, col("n_tok_f").as("n_tok"),
        col("phrase_tf"), col("score_q"), col("rank"))
  }

  /** Weighted-term BM25 top-k — the second pass of relevance-feedback
    * retrieval ([[rm3Expand]] produces the weights; any caller-built
    * `(term, weight_q)` table works). The score composes the exact
    * integer convention with the weights: per (term, doc)
    * `round(weight_q · s)` where `s` is the classic per-term BM25
    * double and `weight_q` the term's 2²⁰-quantized weight,
    * BIGINT-summed per doc (`score_q2` is thus in units of 2⁻⁴⁰ of a
    * weighted score). A weight table that is a LocalRelation (as
    * [[rm3Expand]]'s output is) takes the single-query core: it is
    * collected without a job, validated on the driver, and the weight
    * attaches as a literal-map lookup. Any other weight table takes
    * the batch core with in-plan guards. Both reject the same inputs —
    * a NULL term, a non-lowercase or duplicate term, a NULL weight_q,
    * or one whose long cast is <= 0, such as 0.5 — and score
    * bit-identically. Emits `(id, n_tok, score_q2)`, top `k` by
    * (score_q2 desc, id). Probe conventions: [[Bm25Index]]. */
  def topKWeighted(
      spark: SparkSession, handle: Handle, weights: DataFrame,
      k: Int = 10, k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireProbe(handle, "topKWeighted", k)
    require(weights.columns.contains("term") && weights.columns.contains("weight_q"),
      s"weights must carry (term, weight_q), has ${weights.columns.mkString(", ")}")
    val isLocal = weights.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val (pruned, attachWeight: (DataFrame => DataFrame)) =
      if (isLocal) {
        // LocalTableScan.executeCollect is driver-side — no job
        val rows = weights.select(col("term"), col("weight_q").cast("long")).collect()
        val terms = rows.map(_.getString(0)).toSeq
        requireTerms(terms, "topKWeighted", min = 0, emptyOk = true, capped = false)
        rows.foreach(r => require(!r.isNullAt(1) && r.getLong(1) > 0L,
          s"topKWeighted: weight_q must be positive for ${r.getString(0)}"))
        val wmap = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        (collapseTf(handle, termSlice(spark, handle, terms, Nil)),
          (df: DataFrame) =>
            df.withColumn("weight_q", element_at(typedLit(wmap), col("term"))))
      } else {
        val wt = weights
          .select(checkedTerm(col("term"), "topKWeighted").as("term"),
            // the driver path's rule: NULL, or a long cast <= 0 (0.5 is 0)
            when(col("weight_q").isNull || col("weight_q").cast("long") <= 0L,
                raise_error(concat(
                  lit("topKWeighted: weight_q must be positive for "), col("term"))))
              .otherwise(col("weight_q").cast("long")).as("weight_q"))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy("term")))
          .select(when(col("__n") > 1, raise_error(concat(
              lit("topKWeighted: duplicate term "), col("term"))))
            .otherwise(col("term")).as("term"), col("weight_q"))
          .localCheckpoint(false) // feeds the bucket collect AND the score join
        (batchSlice(spark, handle, wt, Nil, collapse = true),
          (df: DataFrame) => df.join(wt, Seq("term")))
      }
    val dfs = pruned.groupBy("term").agg(count(lit(1)).as("__df"))
    val termScore = rowTerm(handle, "n_tok", avgdlOf(handle), k1, b)
    topOf(handle, attachWeight(restrict(handle, pruned, docFilter))
      .join(dfs, Seq("term"))
      .withColumn("__sq", round(col("weight_q").cast("double") * termScore).cast("long"))
      .groupBy(col(handle.idCol), col("n_tok"))
      .agg(sum(col("__sq")).as("score_q2")), "score_q2", k)
  }

  /** RM3 pseudo-relevance-feedback query expansion over the standing
    * index: run the original query, treat its top `fbDocs` hits as
    * relevant, build a relevance model from their term statistics,
    * and interpolate it with the original query into a weighted term
    * table for [[topKWeighted]] — retrieval quality's classic
    * no-supervision lever (Lavrenko & Croft's relevance models).
    *
    * Every weight is derived in exact integer arithmetic so the
    * chain is order-free and oracle-replayable:
    *  - first pass: [[topK]]'s single-query core with the quantized
    *    per-term combiner — doc score `s_q = Σ_t round(s_t·2²⁰)`
    *    (BIGINT, a term absent from the doc contributes 0), top
    *    `fbDocs` by (s_q desc, id): the same scores and selection
    *    [[topKBatch]] gives a one-row query table;
    *  - relevance model: for every term t of feedback doc d — term
    *    frequencies fetched from the index-resident forward table
    *    (`termvecs/`, fbDocs point lookups pruned to the ids'
    *    doc_buckets) when the index carries it and `textCol` is one of
    *    its fields, else re-tokenized from `corpus` (the legacy path;
    *    both produce the same tf/length values, so weights are
    *    bit-identical) — the contribution `round(tf_td · s_q(d) /
    *    len_d)` — P(t|d) times the doc's (quantized) query likelihood
    *    — BIGINT-summed over the feedback set into `w_q(t)`;
    *  - expansion: top `fbTerms` candidates by (w_q desc, term);
    *  - interpolation: original terms get `round(λ·2²⁰/|Q|)` each
    *    (uniform query model), selected terms add
    *    `round((1−λ)·2²⁰·w_q/Σw_q)` (the relevance model normalized
    *    over the selected set) — both exact given the integer
    *    inputs.
    * `docFilter` restricts the FEEDBACK pool: the fbDocs exemplars are
    * the best qualifying docs ("expand from English docs only") —
    * compose with [[topKWeighted]]'s own `docFilter` for a
    * fully-filtered RM3 retrieval. Emits `(term, weight_q, in_query,
    * w_q)` — ready for [[topKWeighted]], with the provenance columns
    * for auditing. Probe conventions: [[Bm25Index]]. */
  def rm3Expand(
      spark: SparkSession, handle: Handle, corpus: DataFrame,
      queryTerms: Seq[String], fbDocs: Int = 5, fbTerms: Int = 5,
      lambda: Double = 0.5, textCol: String = "text",
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    require(fbDocs >= 1, s"fbDocs must be >= 1, got $fbDocs")
    require(fbTerms >= 1, s"fbTerms must be >= 1, got $fbTerms")
    require(lambda > 0.0 && lambda < 1.0,
      s"lambda must be in (0, 1) — 1 disables feedback, 0 discards the query; " +
        s"got $lambda")
    requireTerms(queryTerms, "rm3Expand", emptyOk = true, capped = false)
    import spark.implicits._
    // first pass; id-type-agnostic: the id column stays whatever the
    // index was built with (long, string, …). The feedback frame is
    // fbDocs rows by contract — collected ONCE and re-entered as a
    // local relation (one Spark job; at probe latencies the chain's
    // job count IS the cost)
    val sq = queryTerms.indices.map { i =>
      // a term absent from the doc contributes exactly 0, not a
      // quantized 0-tf score (the batch convention has no such row)
      when(col(s"__tf$i").isNull, lit(0L))
        .otherwise(quantize(pivotTerm(handle, i, "n_tok", avgdlOf(handle), k1, b)))
    }.reduce(_ + _)
    val first = topOf(handle, pivotedSlice(spark, handle, queryTerms, None, docFilter)
        .select(col(handle.idCol), sq.as("score_q")), "score_q", fbDocs)
      .select(col(handle.idCol), col("score_q").as("__sq_doc"))
    val firstRows = first.collect()
    require(firstRows.nonEmpty, s"rm3Expand: the query $queryTerms matched nothing")
    val fbIds: Seq[Any] = firstRows.map(_.get(0)).toSeq
    val fbScores = spark.createDataFrame(
      java.util.Arrays.asList(firstRows: _*), first.schema)
    // feedback term frequencies: INDEX-RESIDENT when the forward index
    // exists (fbDocs point lookups into the doc-bucket-partitioned
    // termvecs — partition pruning on the ids' buckets plus an id
    // filter into id-sorted row groups) — else the legacy corpus
    // re-fetch+re-tokenize, which paid a full scan + tokenize per query
    val hasTv = Maintenance.fsOf(spark).exists(new Path(s"${handle.dir}/termvecs")) &&
      handle.fields.contains(textCol)
    val termFreqs =
      if (hasTv) {
        // driver-side engine murmur3 (see engineBucketOf) — the old
        // one-local-row .head() spelling cost a job per expansion
        val buckets = fbIds.map(engineBucketOf(_, NumDocBuckets)).distinct
        spark.read.parquet(s"${handle.dir}/termvecs")
          .filter(col("doc_bucket").isin(buckets: _*) &&
            col(handle.idCol).isin(fbIds: _*) && col("field") === textCol)
          // replayed-append duplicates collapse; a clean index has one
          // row per key
          .groupBy(col(handle.idCol), col("n_tok_f").cast("long").as("__len"),
            col("term"))
          .agg(max(col("tf")).as("__tf"))
      } else {
        corpus.filter(col(handle.idCol).isin(fbIds: _*))
          .select(col(handle.idCol), toks(textCol).as("__toks"))
          .select(col(handle.idCol), size(col("__toks")).cast("long").as("__len"),
            explode(col("__toks")).as("term"))
          .groupBy(col(handle.idCol), col("__len"), col("term"))
          .agg(count(lit(1)).as("__tf"))
      }
    val wq = termFreqs
      .join(broadcast(fbScores), Seq(handle.idCol))
      .withColumn("__c", round(col("__tf").cast("double") *
        col("__sq_doc").cast("double") / col("__len").cast("double")).cast("long"))
      .groupBy("term").agg(sum(col("__c")).as("w_q"))
    // the selected set is fbTerms rows by contract: ONE
    // TakeOrderedAndProject job collects it, and the normalization +
    // interpolation tail runs in exact DRIVER arithmetic
    val selRows = wq
      .orderBy(col("w_q").desc, col("term"))
      .limit(fbTerms)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val totalW = selRows.map(_._2).sum
    require(totalW > 0L,
      s"rm3Expand: the feedback docs' relevance-model mass rounded to zero " +
        s"(every candidate term's tf·s/len < 0.5) — raise fbDocs or rethink " +
        s"the query $queryTerms")
    val origQ = math.round(lambda * 1048576.0 / queryTerms.size)
    val sel = selRows.toMap
    // Spark's round(double) is BigDecimal.valueOf half-up — replicated
    // exactly so the driver tail is bit-identical to the old in-plan one
    def roundHalfUp(x: Double): Long =
      java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val out = (queryTerms ++ selRows.map(_._1).filterNot(queryTerms.contains))
      .map { t =>
        val inQ = queryTerms.contains(t)
        val oq = if (inQ) origQ else 0L
        val eq = sel.get(t).map(w =>
          roundHalfUp((1.0 - lambda) * 1048576.0 * w.toDouble /
            totalW.toDouble)).getOrElse(0L)
        (t, oq + eq, inQ, sel.getOrElse(t, 0L))
      }
      // a selected term whose interpolated weight rounds to zero
      // (w_q/Σw_q < 2⁻²¹ under a dominant sibling) contributes
      // nothing — drop it rather than hand topKWeighted a
      // zero-weight row its guard would (rightly) refuse
      .filter(_._2 > 0L)
    out.toDF("term", "weight_q", "in_query", "w_q")
  }

  /** Field-weighted BM25F top-k (the simple Robertson form): per
    * field, tf normalizes by THAT field's length
    * (`B_f = (1-b) + b·len_f/avgdl_f`), the weighted normalized tfs
    * sum across fields into one pseudo-frequency, and saturation
    * applies ONCE to the combined value —
    * `score(d) = Σ_t idf_t · tf̃_t / (k1 + tf̃_t)` with idf over docs
    * matching in ANY weighted field. Index once, tune `weights` per
    * query — a title hit can outrank a body hit without re-indexing.
    * The cross-FIELD sum quantizes each component and integer-sums
    * (order-free on any partitioning); cross-term addition is a
    * left-to-right column reduce. Emits `(id, score)`, top `k` by
    * (score desc, id). Probe conventions: [[Bm25Index]]. */
  def bm25fTopK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      weights: Seq[(String, Double)], k: Int = 10,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requireProbe(handle, "bm25fTopK", k, positional = true)
    requireTerms(queryTerms, "bm25fTopK")
    require(weights.nonEmpty &&
        weights.map(_._1).distinct.size == weights.size,
      s"weights must be non-empty with distinct fields: $weights")
    weights.foreach { case (f, w) =>
      require(handle.fields.contains(f),
        s"unknown field '$f' — index has ${handle.fields}")
      require(w > 0.0, s"field weight must be positive: $f -> $w")
    }
    val wFields = weights.map(_._1)
    val id = col(handle.idCol)
    val avgdlF: Map[String, Double] = handle.fields.zip(handle.fieldTokens)
      .map { case (f, t) => f -> t.toDouble / handle.nDocs.toDouble }.toMap
    def fieldChain(value: String => Double) =
      wFields.tail.foldLeft(
        when(col("field") === wFields.head, lit(value(wFields.head)))) {
        case (acc, f) => acc.when(col("field") === f, lit(value(f)))
      }
    val bF = lit(1.0 - b) + lit(b) * col("n_tok_f").cast("double") /
      fieldChain(avgdlF)
    val wtf = fieldChain(weights.toMap) * col("tf").cast("double") / bF
    // a doc matching the term in TWO fields still counts once in df;
    // the inner max collapses replay duplicates, the outer sum is the
    // real across-fields total
    val perTermDoc = restrict(handle,
        withDfColumn(termSlice(spark, handle, queryTerms, wFields), handle.idCol),
        docFilter)
      .withColumn("__wq", quantize(wtf))
      .groupBy(id, col("term"), col("field"))
      .agg(max(col("__wq")).as("__wq"), max(col("__df")).as("__df"))
      .groupBy(id, col("term"))
      .agg(sum(col("__wq")).as("tf"), max(col("__df")).as("__df"))
    val score = queryTerms.indices.map { i =>
      val tft = coalesce(col(s"__tf$i"), lit(0L)).cast("double") / lit(1048576.0d)
      idfOf(handle.nDocs, col(s"__df$i")) * tft / (lit(k1) + tft)
    }.reduce(_ + _)
    topOf(handle, pivot(perTermDoc, Seq(id), queryTerms, positions = false)
      .select(id, score.as("score")), "score", k)
  }
}
