package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * contract): a REPLAYED append re-adds identical posting rows —
  * duplicates inflate that term's derived df and double-count the
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

  /** Collapse a pruned postings slice to one `(term, doc, n_tok, tf)`
    * row per key — the classic-BM25 "concatenated document" view
    * shared by [[topK]]/[[topKBatch]]/[[topKWeighted]], and the ONE
    * place the pre-compact duplicate-row semantics of an
    * at-least-once replayed [[append]] are decided for that family: a
    * replayed append lays bit-identical posting rows, so duplicates
    * must collapse (never a plain `sum`, which would double the doc's
    * tf until [[compact]]) while the real v2 across-FIELDS total still
    * sums. ONE shuffle either way: single-field slices (and v1) take
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

  /** The metadata-filter convention EVERY probe shares (see [[topK]]'s
    * scaladoc for the full rationale): `docFilter` is a frame of
    * QUALIFYING doc ids — the caller applies arbitrary predicates to
    * their attribute table and passes the id projection — and it
    * restricts the CANDIDATE set only, as a semi-join on the
    * already-pruned slice. Collection statistics (N, avgdl, df)
    * deliberately stay corpus-wide, so a qualifying doc's score is
    * bit-identical to its unfiltered score; callers compute df BEFORE
    * applying this. */
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
    * way, as with the old global literal. */
  private def idfOf(nDocs: Long, dfI: Column): Column = {
    val dfc = coalesce(dfI, lit(0L))
    val num = (lit(nDocs) - dfc).cast("double") + lit(0.5)
    val den = dfc.cast("double") + lit(0.5)
    log(lit(1.0) + num / den)
  }

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

  private def bucketsFor(
      spark: SparkSession, terms: Seq[String], numBuckets: Int): Seq[Int] =
    terms.map(engineBucketOf(_, numBuckets))

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

  /** Index-backed BM25 top-k — result-identical to
    * [[Retrieval.bm25TopK]] over the same corpus, but the work is
    * proportional to the QUERY TERMS' postings, never the corpus:
    * one partition-pruned scan for the per-term document frequencies
    * (a term-count-sized collect under [[MaxQueryTerms]]), one more
    * for the candidate rows, a doc-keyed pivot aggregate over the
    * candidates only, and TakeOrderedAndProject.
    *
    * `docFilter` is the metadata predicate of production retrieval
    * ("top-k where lang = 'en'" — [[AnnIndex.query]]'s `filter` is the
    * vector twin): a frame carrying the handle's id column whose rows
    * are the QUALIFYING docs (the caller applies arbitrary predicates
    * to their attribute table and passes the id projection). The k
    * results are the k best qualifying docs — post-filtering an
    * unfiltered top-k would surface fewer. Collection statistics
    * (N, avgdl, df) deliberately stay CORPUS-wide: idf describes the
    * collection, not the filtered slice (the IR convention — scores of
    * qualifying docs are bit-identical to their unfiltered scores, so
    * pagination and cross-filter score comparison stay coherent). The
    * join is candidate-slice × id-projected filter scan: the filter
    * side's predicate and projection push down to ITS source, and the
    * slice side is query-term-bounded — Catalyst broadcasts whichever
    * side is small (an allowlist broadcasts; a corpus-scaled attribute
    * scan shuffles only the slice's ids against it). */
  def topK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      k: Int = 10, k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    require(queryTerms.nonEmpty, "topK needs at least one query term")
    require(queryTerms.size <= MaxQueryTerms,
      s"at most $MaxQueryTerms query terms (driver-resident per-term stats), " +
        s"got ${queryTerms.size}")
    require(queryTerms.forall(t => t == t.toLowerCase),
      s"query terms must be lowercase (documents are lowercased before matching): " +
        queryTerms.filterNot(t => t == t.toLowerCase).mkString(", "))
    require(queryTerms.distinct.size == queryTerms.size,
      s"query terms must be distinct: $queryTerms")
    require(handle.nDocs > 0, "topK over an empty index")
    val buckets = bucketsFor(spark, queryTerms, handle.numBuckets).distinct
    val raw = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(queryTerms: _*)))
    // df(term) == distinct docs in the pruned slice (== posting-row
    // count on v1/single-field; a multi-field doc matching in two
    // fields must still count once) — the [[collapseTf]] pre-compact
    // convention (see phraseTopK), attached IN-PLAN ([[withDfColumn]])
    // instead of a per-probe driver collect
    val pruned = withDfColumn(collapseTf(handle, raw), handle.idCol)
    val avgdl = handle.totalTokens.toDouble / handle.nDocs.toDouble
    val id = col(handle.idCol)
    // the metadata predicate restricts CANDIDATES only — df above is
    // deliberately computed over the unfiltered slice (see scaladoc)
    val candidates = restrict(handle, pruned, docFilter)
    // pivot each term's tf (and its df) to its own column so the
    // per-term scores add LEFT-TO-RIGHT in query-term order —
    // bit-identical to Retrieval.scoreWith's column reduce,
    // independent of row layout
    val pivoted = candidates.groupBy(id, col("n_tok")).agg(
      max(when(col("term") === queryTerms.head, col("tf"))).as("__tf0"),
      (queryTerms.zipWithIndex.drop(1).map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"__tf$i") } ++
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("__df"))).as(s"__df$i") }): _*)
    val perTerm = queryTerms.zipWithIndex.map { case (_, i) =>
      val idf = idfOf(handle.nDocs, col(s"__df$i"))
      val tf = coalesce(col(s"__tf$i").cast("double"), lit(0.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("n_tok").cast("double") / lit(avgdl)))
    }
    pivoted.select(id, col("n_tok"), perTerm.reduce(_ + _).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, id)
      .limit(k)
  }

  /** Batched BM25 top-k — the RAG evaluation shape: thousands of
    * queries amortize ONE pruned pass over the index instead of one
    * probe each. `queries` carries `(qidCol, termsCol: array<string>)`
    * with no bound on the query count or the term universe:
    * bucket pruning comes from the DISTINCT BUCKETS of the batch's
    * terms (a collect bounded by `numBuckets`, never by the terms),
    * the term restriction is a semi-join (broadcast when the batch is
    * small), per-term df stays a DataFrame (never collected), and the
    * per-query ranking is a qid-PARTITIONED window over candidate
    * rows only — no global sort, no driver-resident query state.
    *
    * Scores are emitted in the library's exact-integer convention:
    * each (query, doc, term) score quantizes to `round(s·2²⁰)` and
    * `score_q` is their BIGINT sum — order-free, bit-identical on any
    * partitioning (a float sum across a query's terms would
    * re-associate by row layout). [[topK]] keeps raw doubles for
    * bit-parity with [[Retrieval.bm25TopK]]; the two conventions
    * agree on ranking to 2⁻²⁰ resolution. Duplicate terms collapse
    * per qid — within an array AND across rows sharing the qid (BM25
    * scores term presence once per term). The single-query probe's
    * input guards hold here too, enforced IN-PLAN because the term
    * universe is unbounded: a NULL term element or a non-lowercase
    * term raises row-wise instead of silently matching nothing.
    * `docFilter` restricts CANDIDATES for the whole batch to the
    * qualifying-id frame while df/N/avgdl stay corpus-wide — exactly
    * [[topK]]'s metadata-filter convention.
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
    * (score_q desc, id). */
  def topKBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      qidCol: String, termsCol: String, k: Int = 10,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None,
      attrEquals: Option[(DataFrame, String, String)] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "topKBatch over an empty index")
    docFilter.foreach(f => require(f.columns.contains(handle.idCol),
      s"docFilter must carry '${handle.idCol}', " +
        s"has ${f.columns.mkString(", ")}"))
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
      .select(col(qidCol) +:
        when(col("__t").isNull, raise_error(lit(
          "topKBatch: NULL term element in the query terms array")))
          .when(col("__t") =!= lower(col("__t")), raise_error(concat(
            lit("topKBatch: query terms must be lowercase (documents are " +
              "lowercased before matching): "), col("__t"))))
          .otherwise(col("__t")).as("term") +:
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
        val w = org.apache.spark.sql.expressions.Window.partitionBy(qidCol)
        qtRaw
          .withColumn("__na", size(collect_set(struct(col("__qattr"))).over(w)))
          .select(col(qidCol),
            when(col("__na") > 1, raise_error(concat(
                lit("topKBatch: query id "), col(qidCol).cast("string"),
                lit(" carries conflicting attribute values"))))
              .otherwise(col("term")).as("term"),
            col("__qattr"))
    }
    // distinct buckets of the batch's terms: a <= numBuckets collect
    val buckets = qt
      .select(pmod(hash(col("term")), lit(handle.numBuckets)).cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = collapseTf(handle, Tombstones.liveOnly(spark, handle.dir, handle.idCol,
        spark.read.parquet(s"${handle.dir}/postings")
          .filter(col("term_bucket").isin(buckets: _*))
          .join(qt.select("term").distinct(), Seq("term"), "left_semi")))
      .localCheckpoint(false) // feeds df counts AND candidates
    val dfs = pruned.groupBy("term").agg(count(lit(1)).as("__df"))
    val avgdl = handle.totalTokens.toDouble / handle.nDocs.toDouble
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (lit(handle.nDocs.toDouble) - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val termScore = idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("n_tok").cast("double") / lit(avgdl)))
    val id = col(handle.idCol)
    // [[topK]]'s docFilter convention: candidates restricted, df from
    // the UNFILTERED slice (collection statistics describe the corpus)
    val candidates = restrict(handle, pruned, docFilter)
    // the PER-QUERY metadata equality ([[AnnIndex.queryBatch]]'s
    // `attrEquals` on the lexical side): candidates join the caller's
    // attribute table on the doc id, and each query keeps only the
    // docs whose attribute equals ITS value — tenant isolation, "each
    // query ranks k docs in ITS language". The attribute table is a
    // caller-side projection (the postings are term-partitioned and
    // carry no attributes), its predicate and projection push to ITS
    // scan, and only the term-bounded candidate slice's ids join
    // against it. Statistics stay corpus-wide, as always.
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
        val proj = attrs.select(id, col(ac))
          .join(candidates.select(id).distinct(), Seq(handle.idCol),
            "left_semi")
          .distinct()
        val wA = org.apache.spark.sql.expressions.Window
          .partitionBy(handle.idCol)
        val guarded = proj
          .withColumn("__nav", count(lit(1)).over(wA))
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
      .withColumn("__sq", round(termScore * lit(1048576.0d)).cast("long"))
      .groupBy(col(qidCol), id, col("n_tok"))
      .agg(sum(col("__sq")).as("score_q"))
      .filter(col("score_q") > 0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qidCol).orderBy(col("score_q").desc, id)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private def requirePositional(handle: Handle, op: String): Unit =
    require(handle.version >= CurrentVersion,
      s"$op needs the positional v$CurrentVersion layout; ${handle.dir} is " +
        s"v${handle.version} (no positions/fields on its posting rows) — " +
        s"rebuild the index to upgrade")

  private def requireQueryTerms(terms: Seq[String], op: String): Unit = {
    require(terms.nonEmpty, s"$op needs at least one query term")
    require(terms.forall(t => t != null && t.nonEmpty && t == t.toLowerCase),
      s"$op: query terms must be non-empty and lowercase (documents are " +
        s"lowercased before matching): $terms")
  }

  /** Phrase top-k over the positional postings (v2 layout): candidates
    * are the docs containing every DISTINCT phrase term in `field`
    * (one pruned pass, the [[topK]] discipline), then the adjacency
    * check verifies the exact token sequence from the sorted
    * `positions` arrays IN the pruned slice — a bag-of-words doc that
    * merely contains the terms is rejected; `phrase_tf` counts the
    * phrase's occurrences. Matching docs rank by the classic BM25
    * polynomial over the distinct terms RESTRICTED to the field
    * (field length, field avgdl from the meta sidecar, field df from
    * the slice): for a phrase probe the field is the document. Work
    * is proportional to the phrase terms' postings — the corpus is
    * never re-tokenized (the oracle re-derives positions from raw
    * text and must agree with the index's). `docFilter` is [[topK]]'s
    * metadata-filter convention — "this exact phrase, where
    * lang = 'en'": candidates restricted, df/N/avgdl corpus-wide, a
    * qualifying doc's score bit-identical to its unfiltered one.
    * Emits `(id, n_tok, phrase_tf, score)`, top `k` by
    * (score desc, id). */
  def phraseTopK(
      spark: SparkSession, handle: Handle, phrase: Seq[String],
      k: Int = 10, field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requirePositional(handle, "phraseTopK")
    requireQueryTerms(phrase, "phraseTopK")
    require(phrase.size >= 2,
      "a phrase needs at least two terms — use topK for a single term")
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "phraseTopK over an empty index")
    val distinctTerms = phrase.distinct
    require(distinctTerms.size <= MaxQueryTerms,
      s"at most $MaxQueryTerms distinct phrase terms, got ${distinctTerms.size}")
    val fld = field.getOrElse {
      require(handle.fields.size == 1,
        s"multi-field index (${handle.fields.mkString(", ")}): name the " +
          "field to run the phrase against")
      handle.fields.head
    }
    val fi = handle.fields.indexOf(fld)
    require(fi >= 0, s"unknown field '$fld' — index has ${handle.fields}")
    val buckets = bucketsFor(spark, distinctTerms, handle.numBuckets).distinct
    val pruned = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(distinctTerms: _*) && col("field") === fld))
    // df counts DISTINCT docs, the [[collapseTf]] pre-compact
    // convention: an at-least-once replayed append lays bit-identical
    // posting rows, and a raw row count here would inflate df in the
    // positional probes only — the same index must score consistently
    // across probe families until compact reclaims the duplicates.
    // Attached IN-PLAN ([[withDfColumn]]) instead of a driver collect.
    val prunedDf = withDfColumn(pruned, handle.idCol)
    val id = col(handle.idCol)
    // candidates restricted AFTER the df derivation — stats corpus-wide
    val pivoted = restrict(handle, prunedDf, docFilter)
      .groupBy(id, col("n_tok_f")).agg(
      max(when(col("term") === distinctTerms.head, col("tf"))).as("__tf0"),
      (distinctTerms.zipWithIndex.drop(1).map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"__tf$i") } ++
        distinctTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("positions"))).as(s"__pos$i") } ++
        distinctTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("__df"))).as(s"__df$i") }): _*)
    val present = distinctTerms.indices
      .map(i => col(s"__pos$i").isNotNull).reduce(_ && _)
    // an occurrence at position p needs slot j's term at p + j for all j
    val slot = phrase.map(distinctTerms.indexOf)
    val phraseTf = size(filter(col(s"__pos${slot.head}"),
      p => slot.zipWithIndex.drop(1)
        .map { case (d, j) => array_contains(col(s"__pos$d"), p + j) }
        .reduce(_ && _)))
    val avgdlF = handle.fieldTokens(fi).toDouble / handle.nDocs.toDouble
    val perTerm = distinctTerms.zipWithIndex.map { case (_, i) =>
      val idf = idfOf(handle.nDocs, col(s"__df$i"))
      val tf = coalesce(col(s"__tf$i").cast("double"), lit(0.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("n_tok_f").cast("double") / lit(avgdlF)))
    }
    pivoted.filter(present)
      .withColumn("phrase_tf", phraseTf.cast("long"))
      .filter(col("phrase_tf") >= 1)
      .select(id, col("n_tok_f").as("n_tok"), col("phrase_tf"),
        perTerm.reduce(_ + _).as("score"))
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
    * and the tie-break makes the answer unique. The whole
    * window-scan is per-row array arithmetic on the pivoted
    * positions (one `transform` over the candidate starts, an
    * `array_max` over lexicographic (n_terms, n_hits, −start)
    * structs) — no explode, no self-join, codegen-friendly; work is
    * proportional to the top docs' occurrence counts. Scoring and
    * ranking are [[phraseTopK]]'s field-restricted polynomial over
    * the same pruned slice; `docFilter` is [[topK]]'s metadata-filter
    * convention (candidates restricted, stats corpus-wide). Emits
    * `(id, n_tok, score, win_start, win_n_terms, win_n_hits)`, top
    * `k` by (score desc, id). */
  def snippetTopK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      width: Int = 16, k: Int = 10, field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requirePositional(handle, "snippetTopK")
    requireQueryTerms(queryTerms, "snippetTopK")
    require(queryTerms.distinct.size == queryTerms.size,
      s"query terms must be distinct: $queryTerms")
    require(queryTerms.size <= MaxQueryTerms,
      s"at most $MaxQueryTerms query terms, got ${queryTerms.size}")
    require(width >= 1, s"width must be >= 1, got $width")
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "snippetTopK over an empty index")
    val fld = field.getOrElse {
      require(handle.fields.size == 1,
        s"multi-field index (${handle.fields.mkString(", ")}): name the " +
          "field to snippet against")
      handle.fields.head
    }
    val fi = handle.fields.indexOf(fld)
    require(fi >= 0, s"unknown field '$fld' — index has ${handle.fields}")
    val buckets = bucketsFor(spark, queryTerms, handle.numBuckets).distinct
    val pruned = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(queryTerms: _*) && col("field") === fld))
    // distinct-doc df — the [[collapseTf]] pre-compact convention
    // (see phraseTopK): replayed-append duplicate rows must not
    // inflate df in the positional probes only. Attached IN-PLAN
    // ([[withDfColumn]]) instead of a driver collect.
    val prunedDf = withDfColumn(pruned, handle.idCol)
    val id = col(handle.idCol)
    // candidates restricted AFTER the df derivation — stats corpus-wide
    val pivoted = restrict(handle, prunedDf, docFilter)
      .groupBy(id, col("n_tok_f")).agg(
      max(when(col("term") === queryTerms.head, col("tf"))).as("__tf0"),
      (queryTerms.zipWithIndex.drop(1).map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"__tf$i") } ++
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t,
            col("positions"))).as(s"__pos$i") } ++
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("__df"))).as(s"__df$i") }): _*)
    val avgdlF = handle.fieldTokens(fi).toDouble / handle.nDocs.toDouble
    val perTerm = queryTerms.zipWithIndex.map { case (_, i) =>
      val idf = idfOf(handle.nDocs, col(s"__df$i"))
      val tf = coalesce(col(s"__tf$i").cast("double"), lit(0.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("n_tok_f").cast("double") / lit(avgdlF)))
    }
    // per-row window scan: candidate starts are every term occurrence;
    // score each start by (distinct terms covered, total hits, −start)
    // and take the lexicographic array_max — integer-only, unique
    val starts = array_distinct(flatten(
      array(queryTerms.indices.map(i => col(s"__pos$i")): _*)))
    def inWin(i: Int, p: org.apache.spark.sql.Column) =
      filter(col(s"__pos$i"), x => x >= p && x < p + lit(width))
    val winStructs = transform(starts, p => struct(
      queryTerms.indices
        .map(i => when(exists(col(s"__pos$i"), x => x >= p && x < p + lit(width)),
          lit(1)).otherwise(lit(0)))
        .reduce(_ + _).as("nt"),
      queryTerms.indices.map(i => size(inWin(i, p))).reduce(_ + _).as("nh"),
      (-p).as("negstart")))
    val best = array_max(winStructs)
    // orderBy → select → limit is the Limit(Project(Sort)) shape that
    // plans as ONE TakeOrderedAndProject: the top k surface through a
    // partial per-partition take (no global sort exchange), and the
    // window-scan projection runs on the K SURVIVORS only — a project
    // placed above the limit instead would break the pattern into
    // Sort + single-partition Exchange + GlobalLimit (a mid-plan
    // funnel) and scan windows for every candidate
    pivoted
      .select((id +: col("n_tok_f").as("n_tok") +:
        perTerm.reduce(_ + _).as("score") +:
        queryTerms.indices.map(i =>
          coalesce(col(s"__pos$i"), array().cast("array<int>"))
            .as(s"__pos$i"))): _*)
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, id)
      .select(id, col("n_tok"), col("score"),
        (-best.getField("negstart")).cast("long").as("win_start"),
        best.getField("nt").cast("long").as("win_n_terms"),
        best.getField("nh").cast("long").as("win_n_hits"))
      .limit(k)
  }

  /** Batched snippet extraction — [[snippetTopK]] for a query TABLE
    * (the RAG-presentation step at evaluation scale, completing the
    * batch family: [[topKBatch]] scores, [[phraseTopKBatch]] matches
    * phrases, this one also returns each hit's best window): one
    * pruned positional pass serves every query, scoring is the
    * exact-integer `score_q = Σ round(s·2²⁰)` batch convention,
    * ranking a qid-partitioned window, and the window-scan arithmetic
    * (distinct terms covered, total hits, smallest start — computed
    * from the stored `positions` arrays, the text never re-read) runs
    * over the k SURVIVORS per query only: survivors join back to the
    * pruned slice, positions collect per (query, doc), and the scan
    * is per-row higher-order-function arithmetic — no explode, no
    * self-join. `docFilter` restricts CANDIDATES for the whole batch
    * ([[topK]]'s metadata-filter convention: stats corpus-wide).
    * Emits `(qid, id, n_tok, score_q, rank, win_start,
    * win_n_terms, win_n_hits)`, ranks 1..k by (score_q desc, id). */
  def snippetTopKBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      qidCol: String, termsCol: String, width: Int = 16, k: Int = 10,
      field: Option[String] = None, k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requirePositional(handle, "snippetTopKBatch")
    require(width >= 1, s"width must be >= 1, got $width")
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "snippetTopKBatch over an empty index")
    val fld = field.getOrElse {
      require(handle.fields.size == 1,
        s"multi-field index (${handle.fields.mkString(", ")}): name the " +
          "field to snippet against")
      handle.fields.head
    }
    val fi = handle.fields.indexOf(fld)
    require(fi >= 0, s"unknown field '$fld' — index has ${handle.fields}")
    // in-plan guards (the topKBatch posture — the query table is
    // unbounded): duplicate qids, empty term arrays, duplicate terms
    // within a query, NULL / non-lowercase terms all raise row-wise
    val dupW = org.apache.spark.sql.expressions.Window.partitionBy(qidCol)
    val qv = queries
      .withColumn("__n", count(lit(1)).over(dupW))
      .select(
        when(col("__n") > 1, raise_error(concat(
            lit("snippetTopKBatch: duplicate query id "),
            col(qidCol).cast("string"))))
          .otherwise(col(qidCol)).as(qidCol),
        when(size(col(termsCol)) < 1, raise_error(concat(
            lit("snippetTopKBatch: empty terms for query "),
            col(qidCol).cast("string"))))
          .when(size(array_distinct(col(termsCol))) =!= size(col(termsCol)),
            raise_error(concat(
              lit("snippetTopKBatch: duplicate terms for query "),
              col(qidCol).cast("string"))))
          .otherwise(col(termsCol)).as("__terms"))
    val qt = qv
      .select(col(qidCol), explode(col("__terms")).as("__t"))
      .select(col(qidCol),
        when(col("__t").isNull, raise_error(lit(
          "snippetTopKBatch: NULL term element in the query terms array")))
          .when(col("__t") =!= lower(col("__t")), raise_error(concat(
            lit("snippetTopKBatch: query terms must be lowercase " +
              "(documents are lowercased before matching): "), col("__t"))))
          .otherwise(col("__t")).as("term"))
      .localCheckpoint(false) // feeds buckets, the score join, the window join
    val buckets = qt
      .select(pmod(hash(col("term")), lit(handle.numBuckets)).cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val id = col(handle.idCol)
    // the collapseTf pre-compact convention, enforced at each consumer
    // (see phraseTopKBatch) instead of via an extra wide shuffle of
    // the positions-carrying slice: distinct-doc df, max-before-sum
    // scoring, and a SET collect for the window arrays
    val pruned = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
        spark.read.parquet(s"${handle.dir}/postings")
          .filter(col("term_bucket").isin(buckets: _*) && col("field") === fld)
          .join(qt.select("term").distinct(), Seq("term"), "left_semi"))
      .localCheckpoint(false) // feeds df counts, the score join, the window join
    val dfs = pruned.groupBy("term").agg(countDistinct(id).as("__df"))
    val avgdlF = handle.fieldTokens(fi).toDouble / handle.nDocs.toDouble
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (lit(handle.nDocs.toDouble) - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val termScore = idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("n_tok_f").cast("double") / lit(avgdlF)))
    // candidates restricted AFTER the df derivation — stats corpus-wide
    val cand = qt.join(restrict(handle, pruned, docFilter), Seq("term"))
    // per-(query, term, doc) max collapses replay-duplicate rows
    // before the across-terms sum — narrow rows, map-side combine
    val scored = cand.join(dfs, Seq("term"))
      .withColumn("__sq", round(termScore * lit(1048576.0d)).cast("long"))
      .groupBy(col(qidCol), id, col("n_tok_f"), col("term"))
      .agg(max(col("__sq")).as("__sq"))
      .groupBy(col(qidCol), id, col("n_tok_f"))
      .agg(sum(col("__sq")).as("score_q"))
      .filter(col("score_q") > 0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qidCol).orderBy(col("score_q").desc, id)
    val surv = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    // window arithmetic on the survivors only: one positions array per
    // (query, DISTINCT term, doc) row collects per hit, then the scan
    // is order-free per-row arithmetic (nt/nh are sums over the
    // arrays, array_max picks the lexicographic best). collect_SET:
    // replay-duplicate posting rows carry bit-identical arrays and
    // must count once, while two distinct terms can never collide —
    // a position holds exactly one term, so their position sets are
    // disjoint and their arrays always differ
    val ps = surv
      .join(cand.select(col(qidCol), id, col("positions")),
        Seq(qidCol, handle.idCol))
      .groupBy(col(qidCol), id, col("n_tok_f"), col("score_q"), col("rank"))
      .agg(collect_set(col("positions")).as("__ps"))
    val starts = array_distinct(flatten(col("__ps")))
    val winStructs = transform(starts, p => struct(
      aggregate(col("__ps"), lit(0), (acc, ar) =>
        acc + when(exists(ar, x => x >= p && x < p + lit(width)), lit(1))
          .otherwise(lit(0))).as("nt"),
      aggregate(col("__ps"), lit(0), (acc, ar) =>
        acc + size(filter(ar, x => x >= p && x < p + lit(width)))).as("nh"),
      (-p).as("negstart")))
    val best = array_max(winStructs)
    ps.select(col(qidCol), id, col("n_tok_f").as("n_tok"),
      col("score_q"), col("rank"),
      (-best.getField("negstart")).cast("long").as("win_start"),
      best.getField("nt").cast("long").as("win_n_terms"),
      best.getField("nh").cast("long").as("win_n_hits"))
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

  /** Proximity-weighted BM25 top-k over the positional postings —
    * between bag-of-words [[topK]] and exact-sequence [[phraseTopK]]:
    * documents where the query terms cluster TOGETHER outrank
    * bag-of-words matches without requiring exact adjacency (minimal
    * span weighting — Tao & Zhai's finding that the best proximity
    * signal is the smallest window covering all terms). Scoring is
    * the exact-integer convention: `score_q = Σ_t round(s_t·2²⁰)`
    * (the field-restricted polynomial per term) plus, for docs
    * containing EVERY distinct query term, a bonus
    * `round(proxWeight·2²⁰·|Q| / minwin)` where `minwin` is the
    * smallest token window containing all terms (minwin ≥ |Q|, so
    * the bonus caps at `proxWeight·2²⁰` for perfectly-packed terms
    * and decays with spread). `minwin` is computed per candidate row
    * from the index's sorted positions arrays with array arithmetic
    * (for each occurrence position s, the window must stretch to
    * `max_t min{p ∈ pos_t : p ≥ s}`; the minimum over starts is the
    * answer — no explode, no self-join), emitted as a column for
    * auditing (NULL when a term is missing). One pruned pass; work
    * proportional to the query terms' postings; `docFilter` is
    * [[topK]]'s metadata-filter convention (candidates restricted,
    * stats corpus-wide). Emits `(id, n_tok, minwin, score_q)`, top
    * `k` by (score_q desc, id). */
  def proximityTopK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      k: Int = 10, proxWeight: Double = 1.0, field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requirePositional(handle, "proximityTopK")
    requireQueryTerms(queryTerms, "proximityTopK")
    require(queryTerms.distinct.size == queryTerms.size,
      s"query terms must be distinct: $queryTerms")
    require(queryTerms.size >= 2,
      "proximity needs at least two terms — use topK for one")
    require(queryTerms.size <= MaxQueryTerms,
      s"at most $MaxQueryTerms query terms, got ${queryTerms.size}")
    require(proxWeight > 0.0, s"proxWeight must be positive, got $proxWeight")
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "proximityTopK over an empty index")
    val fld = field.getOrElse {
      require(handle.fields.size == 1,
        s"multi-field index (${handle.fields.mkString(", ")}): name the " +
          "field to probe")
      handle.fields.head
    }
    val fi = handle.fields.indexOf(fld)
    require(fi >= 0, s"unknown field '$fld' — index has ${handle.fields}")
    val buckets = bucketsFor(spark, queryTerms, handle.numBuckets).distinct
    val pruned = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(queryTerms: _*) && col("field") === fld))
    // distinct-doc df — the [[collapseTf]] pre-compact convention
    // (see phraseTopK): replayed-append duplicate rows must not
    // inflate df in the positional probes only. Attached IN-PLAN
    // ([[withDfColumn]]) instead of a driver collect.
    val prunedDf = withDfColumn(pruned, handle.idCol)
    val id = col(handle.idCol)
    // candidates restricted AFTER the df derivation — stats corpus-wide
    val pivoted = restrict(handle, prunedDf, docFilter)
      .groupBy(id, col("n_tok_f")).agg(
      max(when(col("term") === queryTerms.head, col("tf"))).as("__tf0"),
      (queryTerms.zipWithIndex.drop(1).map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"__tf$i") } ++
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t,
            col("positions"))).as(s"__pos$i") } ++
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("__df"))).as(s"__df$i") }): _*)
    val avgdlF = handle.fieldTokens(fi).toDouble / handle.nDocs.toDouble
    val perTermQ = queryTerms.zipWithIndex.map { case (_, i) =>
      val idf = idfOf(handle.nDocs, col(s"__df$i"))
      val tf = coalesce(col(s"__tf$i").cast("double"), lit(0.0))
      round(idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("n_tok_f").cast("double") / lit(avgdlF)))
        * lit(1048576.0d)).cast("long")
    }
    // minwin from the positions arrays: candidate window starts are
    // every occurrence; per start the window stretches to each term's
    // NEXT occurrence at-or-after it — the greatest of those minus
    // the start (+1) is that start's width, the minimum over starts
    // the doc's minimal span
    val starts = array_distinct(flatten(
      array(queryTerms.indices.map(i =>
        coalesce(col(s"__pos$i"), array().cast("array<int>"))): _*)))
    def nextGE(i: Int, s: org.apache.spark.sql.Column) =
      array_min(filter(coalesce(col(s"__pos$i"), array().cast("array<int>")),
        p => p >= s))
    val widths = transform(starts, s =>
      when(queryTerms.indices.map(i => nextGE(i, s).isNotNull).reduce(_ && _), {
        val nexts = queryTerms.indices.map(i => nextGE(i, s))
        greatest(nexts: _*) - s + lit(1)
      }))
    val minwin = array_min(filter(widths, w => w.isNotNull)).cast("long")
    val bonus = when(col("minwin").isNotNull,
        round(lit(proxWeight) * lit(1048576.0d) *
          lit(queryTerms.size.toDouble) / col("minwin").cast("double"))
          .cast("long"))
      .otherwise(lit(0L))
    pivoted
      .withColumn("minwin", minwin)
      .select(id, col("n_tok_f").as("n_tok"), col("minwin"),
        (perTermQ.reduce(_ + _) + bonus).as("score_q"))
      .filter(col("score_q") > 0L)
      .orderBy(col("score_q").desc, id)
      .limit(k)
  }

  /** Batched phrase probe — [[phraseTopK]]'s table form and the
    * phrase member of the amortized-probe family
    * ([[topKBatch]]/[[graft.ops.AnnIndex.queryBatch]]): a TABLE of
    * phrases shares ONE pruned pass over the positional postings.
    * `queries` carries `(qidCol, phraseCol: array<string>)`, no bound
    * on the query count or term universe — guards are IN-PLAN
    * (duplicate qid, sub-2-term phrase, NULL or non-lowercase element
    * all raise row-wise). Adjacency is fully relational so it
    * composes at any phrase length per row: each phrase SLOT's
    * postings explode to `(qid, doc, base = position − slot)` rows
    * and a base where ALL slots are present is one phrase occurrence
    * — repeated-term phrases work because every slot joins the term's
    * posting row independently. Scoring is the field-restricted BM25
    * polynomial over each phrase's DISTINCT terms in the exact-integer
    * `score_q` convention (per-(query, doc, term) `round(s·2²⁰)`
    * BIGINT-summed — order-free), df stays a DataFrame (never
    * collected), ranking a qid-partitioned window over adjacency
    * survivors only. `docFilter` restricts CANDIDATES for the whole
    * batch ([[topK]]'s metadata-filter convention: df/N/avgdl stay
    * corpus-wide). Emits `(qidCol, idCol, n_tok, phrase_tf,
    * score_q, rank)`, ranks 1..k by (score_q desc, id); a phrase with
    * no matching doc simply emits nothing. */
  def phraseTopKBatch(
      spark: SparkSession, handle: Handle, queries: DataFrame,
      qidCol: String, phraseCol: String, k: Int = 10,
      field: Option[String] = None,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requirePositional(handle, "phraseTopKBatch")
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "phraseTopKBatch over an empty index")
    val fld = field.getOrElse {
      require(handle.fields.size == 1,
        s"multi-field index (${handle.fields.mkString(", ")}): name the " +
          "field to run the phrases against")
      handle.fields.head
    }
    val fi = handle.fields.indexOf(fld)
    require(fi >= 0, s"unknown field '$fld' — index has ${handle.fields}")
    val dupW = org.apache.spark.sql.expressions.Window.partitionBy(qidCol)
    val qv = queries
      .withColumn("__n", count(lit(1)).over(dupW))
      .select(
        when(col("__n") > 1, raise_error(concat(
            lit("phraseTopKBatch: duplicate query id "), col(qidCol))))
          .otherwise(col(qidCol)).as(qidCol),
        when(size(col(phraseCol)) < 2, raise_error(concat(
            lit("phraseTopKBatch: a phrase needs at least two terms, query "),
            col(qidCol))))
          .otherwise(col(phraseCol)).as("__phrase"))
    val slots = qv
      .select(col(qidCol), size(col("__phrase")).as("__plen"),
        posexplode(col("__phrase")).as(Seq("__slot", "__t")))
      .select(col(qidCol), col("__plen"), col("__slot"),
        when(col("__t").isNull, raise_error(lit(
          "phraseTopKBatch: NULL term element in a phrase")))
          .when(col("__t") =!= lower(col("__t")), raise_error(concat(
            lit("phraseTopKBatch: phrase terms must be lowercase " +
              "(documents are lowercased before matching): "), col("__t"))))
          .otherwise(col("__t")).as("term"))
      .localCheckpoint(false) // feeds buckets, the slot join, the score join
    val buckets = slots
      .select(pmod(hash(col("term")), lit(handle.numBuckets)).cast("int").as("__b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val id = col(handle.idCol)
    // the [[collapseTf]] pre-compact convention, enforced WITHOUT the
    // old wide shuffle of the positions-carrying slice: an
    // at-least-once replayed append lays bit-identical posting rows,
    // so ONE narrow collapse (term/doc/length/tf — positions never
    // shuffle) feeds both the df count and the scoring join, and the
    // base grouping below collapses duplicate (slot, base) rows by
    // construction — on a clean index every level degenerates to the
    // plain single-row case
    val pruned = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
        spark.read.parquet(s"${handle.dir}/postings")
          .filter(col("term_bucket").isin(buckets: _*) && col("field") === fld)
          .join(slots.select("term").distinct(), Seq("term"), "left_semi"))
      .localCheckpoint(false) // feeds df counts, the slot join, the score join
    val narrow = pruned
      .groupBy(col("term"), id, col("n_tok_f")).agg(max(col("tf")).as("tf"))
    // rows unique per (term, doc) within the fixed field: count == df
    val dfs = narrow.groupBy("term").agg(count(lit(1)).as("__df"))
    // candidates restricted AFTER the df derivation — stats stay
    // corpus-wide ([[topK]]'s docFilter convention)
    val candSlice = restrict(handle, pruned, docFilter)
    // one row per (query, slot, matching doc), exploded to the base
    // position each slot's occurrences would anchor: base where every
    // slot appears == one occurrence of the full phrase
    val bases = slots.join(candSlice, Seq("term"))
      .select(col(qidCol), col("__plen"), col("__slot"), id,
        explode(expr("transform(positions, x -> x - __slot)")).as("__base"))
    val matched = bases
      .groupBy(col(qidCol), id, col("__base"), col("__plen"))
      .agg(countDistinct(col("__slot")).as("__nslots"))
      .filter(col("__nslots") === col("__plen"))
      .groupBy(col(qidCol), id)
      .agg(count(lit(1)).as("phrase_tf"))
    val avgdlF = handle.fieldTokens(fi).toDouble / handle.nDocs.toDouble
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (lit(handle.nDocs.toDouble) - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val termScore = idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("n_tok_f").cast("double") / lit(avgdlF)))
    // scoring joins the already-collapsed narrow frame — one sum per
    // (query, doc), no duplicate rows to guard against here
    val scored = slots.select(col(qidCol), col("term")).distinct()
      .join(restrict(handle, narrow, docFilter), Seq("term"))
      .join(dfs, Seq("term"))
      .withColumn("__sq", round(termScore * lit(1048576.0d)).cast("long"))
      .groupBy(col(qidCol), id, col("n_tok_f"))
      .agg(sum(col("__sq")).as("score_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qidCol).orderBy(col("score_q").desc, id)
    matched.join(scored, Seq(qidCol, handle.idCol))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qidCol), id, col("n_tok_f").as("n_tok"),
        col("phrase_tf"), col("score_q"), col("rank"))
  }

  /** Weighted-term BM25 top-k — the second pass of relevance-feedback
    * retrieval ([[rm3Expand]] produces the weights; any caller-built
    * `(term, weight_q)` table works). The term set is DATA-DERIVED
    * (an expansion model's output), so nothing here is
    * driver-resident: guards are in-plan, bucket pruning comes from
    * the distinct buckets of the weight table's terms (a
    * ≤ numBuckets collect), df stays a DataFrame, and the score is
    * the exact-integer convention composed with the weights —
    * per (term, doc) `round(weight_q · s)` where `s` is the classic
    * per-term BM25 double and `weight_q` the term's 2²⁰-quantized
    * weight, BIGINT-summed per doc (order-free; `score_q2` is thus in
    * units of 2⁻⁴⁰ of a weighted score). `docFilter` is [[topK]]'s
    * metadata-filter convention — the expanded second pass of a
    * filtered RM3 retrieval ranks only qualifying docs while
    * df/N/avgdl stay corpus-wide. Emits `(id, n_tok, score_q2)`,
    * top `k` by (score_q2 desc, id). */
  def topKWeighted(
      spark: SparkSession, handle: Handle, weights: DataFrame,
      k: Int = 10, k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "topKWeighted over an empty index")
    require(weights.columns.contains("term") && weights.columns.contains("weight_q"),
      s"weights must carry (term, weight_q), has ${weights.columns.mkString(", ")}")
    // Weights are a TERM TABLE — |Q| + fbTerms rows by the rm3Expand
    // contract, and a LocalRelation whenever they come from rm3Expand
    // (built on the driver). The fast path collects them WITHOUT a job
    // (LocalTableScan.executeCollect is driver-side), validates on the
    // driver, derives buckets via [[engineBucketOf]], and attaches the
    // weight as a literal-map lookup — four fewer Spark jobs per probe
    // (no weights checkpoint, no bucket collect, no weights-side
    // exchange for the score join). Distributed weight frames keep the
    // in-plan validation path; both reject the same inputs (a NULL
    // term, a non-lowercase or duplicate term, a NULL weight_q, or one
    // whose long cast is <= 0, such as 0.5). Scores are bit-identical:
    // the same Long weight multiplies the same per-term double.
    val isLocal = weights.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val (pruned, attachWeight: (DataFrame => DataFrame)) =
      if (isLocal) {
        // LocalTableScan.executeCollect is driver-side — no job
        val rows = weights.select(col("term"), col("weight_q").cast("long")).collect()
        rows.foreach { r =>
          require(!r.isNullAt(0), "topKWeighted: NULL term")
          val t = r.getString(0)
          require(t == t.toLowerCase,
            s"topKWeighted: terms must be lowercase (documents are " +
              s"lowercased before matching): $t")
          require(!r.isNullAt(1) && r.getLong(1) > 0L,
            s"topKWeighted: weight_q must be positive for $t")
        }
        val dup = rows.groupBy(_.getString(0))
          .collectFirst { case (t, g) if g.size > 1 => t }
        require(dup.isEmpty, s"topKWeighted: duplicate term ${dup.getOrElse("")}")
        val terms = rows.map(_.getString(0)).toSeq
        val wmap = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
        val buckets = terms.map(engineBucketOf(_, handle.numBuckets)).distinct
        val slice = collapseTf(handle, Tombstones.liveOnly(spark, handle.dir, handle.idCol,
          spark.read.parquet(s"${handle.dir}/postings")
            .filter(col("term_bucket").isin(buckets: _*) &&
              col("term").isin(terms: _*))))
        (slice, (df: DataFrame) =>
          df.withColumn("weight_q", element_at(typedLit(wmap), col("term"))))
      } else {
        val dupW = org.apache.spark.sql.expressions.Window.partitionBy("term")
        val wt = weights
          .withColumn("__n", count(lit(1)).over(dupW))
          .select(
            when(col("term").isNull, raise_error(lit(
                "topKWeighted: NULL term")))
              .when(col("term") =!= lower(col("term")), raise_error(concat(
                lit("topKWeighted: terms must be lowercase (documents are " +
                  "lowercased before matching): "), col("term"))))
              .when(col("__n") > 1, raise_error(concat(
                lit("topKWeighted: duplicate term "), col("term"))))
              .otherwise(col("term")).as("term"),
            // the fast path's rule: NULL, or a long cast <= 0 (0.5 is 0)
            when(col("weight_q").isNull || col("weight_q").cast("long") <= 0L,
                raise_error(concat(
                  lit("topKWeighted: weight_q must be positive for "), col("term"))))
              .otherwise(col("weight_q").cast("long")).as("weight_q"))
          .localCheckpoint(false) // feeds bucket collect AND the score join
        val buckets = wt
          .select(pmod(hash(col("term")), lit(handle.numBuckets)).cast("int").as("__b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val slice = collapseTf(handle, Tombstones.liveOnly(spark, handle.dir, handle.idCol,
          spark.read.parquet(s"${handle.dir}/postings")
            .filter(col("term_bucket").isin(buckets: _*))
            .join(wt.select("term"), Seq("term"), "left_semi")))
        (slice, (df: DataFrame) => df.join(wt, Seq("term")))
      }
    // one in-plan df per term over the UNRESTRICTED slice (count of
    // collapsed rows — the original convention here); candidates
    // restricted AFTER — stats corpus-wide
    val dfs = pruned.groupBy("term").agg(count(lit(1)).as("__df"))
    val avgdl = handle.totalTokens.toDouble / handle.nDocs.toDouble
    val tf = col("tf").cast("double")
    val idf = log(lit(1.0) +
      (lit(handle.nDocs.toDouble) - col("__df").cast("double") + lit(0.5)) /
        (col("__df").cast("double") + lit(0.5)))
    val termScore = idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("n_tok").cast("double") / lit(avgdl)))
    val id = col(handle.idCol)
    attachWeight(restrict(handle, pruned, docFilter))
      .join(dfs, Seq("term"))
      .withColumn("__sq",
        round(col("weight_q").cast("double") * termScore).cast("long"))
      .groupBy(id, col("n_tok"))
      .agg(sum(col("__sq")).as("score_q2"))
      .filter(col("score_q2") > 0L)
      .orderBy(col("score_q2").desc, id)
      .limit(k)
  }

  /** RM3 pseudo-relevance-feedback query expansion over the standing
    * index: run the original query, treat its top `fbDocs` hits as
    * relevant, build a relevance model from their term statistics,
    * and interpolate it with the original query into a weighted term
    * table for [[topKWeighted]] — retrieval quality's classic
    * no-supervision lever (Lavrenko & Croft's relevance models; the
    * reference pipeline has no retrieval feedback loop — this is
    * engine-side infrastructure for the RAG stack).
    *
    * Every weight is derived in exact integer arithmetic so the
    * chain is order-free and oracle-replayable:
    *  - first pass: [[topK]]'s candidates in the [[topKBatch]]
    *    convention — doc score `s_q = Σ_t round(s_t·2²⁰)` (BIGINT),
    *    top `fbDocs` by (s_q desc, id);
    *  - relevance model: for every term t of feedback doc d — term
    *    frequencies fetched from the INDEX-RESIDENT forward table
    *    (`termvecs/`, fbDocs point lookups pruned to the ids'
    *    doc_buckets; the postings table is term-partitioned and a
    *    by-doc read of it would scan every bucket) when the index
    *    carries it and `textCol` is one of its fields, else
    *    re-tokenized from `corpus` (the pre-forward-index path,
    *    kept for legacy indexes; both produce the same statFrames
    *    tf/length values, so weights are bit-identical) — the
    *    contribution
    *    `round(tf_td · s_q(d) / len_d)` — P(t|d) times the doc's
    *    (quantized) query likelihood — BIGINT-summed over the
    *    feedback set into `w_q(t)`;
    *  - expansion: top `fbTerms` candidates by (w_q desc, term);
    *  - interpolation: original terms get `round(λ·2²⁰/|Q|)` each
    *    (uniform query model), selected terms add
    *    `round((1−λ)·2²⁰·w_q/Σw_q)` (the relevance model normalized
    *    over the selected set) — both exact given the integer
    *    inputs.
    * `docFilter` restricts the FEEDBACK pool ([[topK]]'s metadata
    * convention, applied to the first pass): the fbDocs relevant
    * exemplars are the best QUALIFYING docs, so the relevance model
    * is built from the caller's slice ("expand from English docs
    * only") while df/N/avgdl stay corpus-wide — compose with
    * [[topKWeighted]]'s own `docFilter` for a fully-filtered RM3
    * retrieval. Emits `(term, weight_q, in_query, w_q)` — ready for
    * [[topKWeighted]], with the provenance columns for auditing. */
  /** Single-query top-k in the BATCH quantized convention —
    * [[rm3Expand]]'s first pass: score_q values and selection
    * BIT-IDENTICAL to [[topKBatch]] for a one-row query table (same
    * per-(doc, term) `round(s·2²⁰)` quantization, same integer sum,
    * same (score_q desc, id) order), but in [[topK]]'s plan shape —
    * driver-resident per-term df (one collect), no query-table
    * distinct, no checkpoint, no window: TakeOrderedAndProject
    * instead. At probe latency the chain's JOB COUNT is the cost;
    * this is three fewer jobs than the batch machinery pays for one
    * query. Terms are assumed validated by the caller. */
  private def topKQuantizedSingle(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String], k: Int,
      k1: Double, b: Double, docFilter: Option[DataFrame]): DataFrame = {
    val buckets = bucketsFor(spark, queryTerms, handle.numBuckets).distinct
    // df attached IN-PLAN ([[withDfColumn]]) — this probe now costs
    // ZERO actions of its own; the caller's one collect executes the
    // whole chain
    val pruned = withDfColumn(collapseTf(handle,
      Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(queryTerms: _*)))), handle.idCol)
    val avgdl = handle.totalTokens.toDouble / handle.nDocs.toDouble
    val id = col(handle.idCol)
    val candidates = restrict(handle, pruned, docFilter)
    val pivoted = candidates.groupBy(id, col("n_tok")).agg(
      max(when(col("term") === queryTerms.head, col("tf"))).as("__tf0"),
      (queryTerms.zipWithIndex.drop(1).map { case (t, i) =>
        max(when(col("term") === t, col("tf"))).as(s"__tf$i") } ++
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("__df"))).as(s"__df$i") }): _*)
    val perTerm = queryTerms.zipWithIndex.map { case (_, i) =>
      val idf = idfOf(handle.nDocs, col(s"__df$i"))
      val tf = col(s"__tf$i").cast("double")
      val termScore = idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("n_tok").cast("double") / lit(avgdl)))
      // a term absent from the doc has NO (query, doc, term) row in
      // the batch convention — it contributes exactly 0, not a
      // quantized 0-tf score
      when(col(s"__tf$i").isNull, lit(0L))
        .otherwise(round(termScore * lit(1048576.0d)).cast("long"))
    }
    pivoted.select(id, perTerm.reduce(_ + _).as("score_q"))
      .filter(col("score_q") > 0L)
      .orderBy(col("score_q").desc, id)
      .limit(k)
  }

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
    require(queryTerms.nonEmpty && queryTerms.distinct.size == queryTerms.size,
      s"query terms must be non-empty and distinct: $queryTerms")
    require(queryTerms.forall(t => t == t.toLowerCase),
      s"query terms must be lowercase: $queryTerms")
    import spark.implicits._
    // first pass in the quantized convention (one row per query);
    // id-type-agnostic: the id column stays whatever the index was
    // built with (long, string, …). The feedback frame is fbDocs rows
    // by contract — collected ONCE and re-entered as a local relation
    // (one Spark job; the old localCheckpoint-then-collect shape paid
    // an extra eager materialization, and at probe latencies the
    // chain's job count IS the cost)
    val first = topKQuantizedSingle(spark, handle, queryTerms,
        k = fbDocs, k1 = k1, b = b, docFilter = docFilter)
      .select(col(handle.idCol), col("score_q").as("__sq_doc"))
    val firstRows = first.collect()
    require(firstRows.nonEmpty, s"rm3Expand: the query $queryTerms matched nothing")
    val fbIds: Seq[Any] = firstRows.map(_.get(0)).toSeq
    val fbScores = spark.createDataFrame(
      java.util.Arrays.asList(firstRows: _*), first.schema)
    // feedback term frequencies: INDEX-RESIDENT when the forward index
    // exists (fbDocs point lookups into the doc-bucket-partitioned
    // termvecs — partition pruning on the ids' buckets plus an id
    // filter into id-sorted row groups; tf/length are the same
    // statFrames values re-tokenizing would compute, so weights are
    // bit-identical) — else the legacy corpus re-fetch+re-tokenize.
    // This was the measured cost dominator of the RM3 chain: the
    // corpus pass paid a full scan + tokenize per query.
    val fs = Maintenance.fsOf(spark)
    val hasTv = fs.exists(
        new Path(s"${handle.dir}/termvecs")) &&
      handle.fields.contains(textCol)
    val termFreqs =
      if (hasTv) {
        // driver-side engine murmur3 (see engineBucketOf) — the old
        // one-local-row .head() spelling cost a job per expansion
        val buckets = fbIds.map(engineBucketOf(_, NumDocBuckets)).distinct
        spark.read.parquet(s"${handle.dir}/termvecs")
          .filter(col("doc_bucket").isin(buckets: _*) &&
            col(handle.idCol).isin(fbIds: _*) && col("field") === textCol)
          // replayed-append duplicates collapse (the collapseTf
          // pre-compact convention); a clean index has one row per key
          .groupBy(col(handle.idCol), col("n_tok_f").cast("long").as("__len"),
            col("term"))
          .agg(max(col("tf")).as("__tf"))
      } else {
        val toksOf = split(trim(lower(col(textCol))), "\\s+")
        corpus.filter(col(handle.idCol).isin(fbIds: _*))
          .select(col(handle.idCol), toksOf.as("__toks"))
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
    // interpolation tail runs in exact DRIVER arithmetic — the old
    // shape paid three more jobs (checkpoint, Σw_q aggregate, the
    // full_outer join) to compute a |Q|+fbTerms-row table
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
    * The cross-FIELD sum quantizes each component to `round(x·2²⁰)`
    * and integer-sums (order-free on any partitioning — the
    * [[topKBatch]] convention); cross-term addition is a
    * left-to-right column reduce. One pruned pass; work proportional
    * to the query terms' postings; `docFilter` is [[topK]]'s
    * metadata-filter convention (candidates restricted, idf/df
    * corpus-wide). Emits `(id, score)`, top `k` by (score desc, id). */
  def bm25fTopK(
      spark: SparkSession, handle: Handle, queryTerms: Seq[String],
      weights: Seq[(String, Double)], k: Int = 10,
      k1: Double = Retrieval.DefaultK1,
      b: Double = Retrieval.DefaultB,
      docFilter: Option[DataFrame] = None): DataFrame = {
    requirePositional(handle, "bm25fTopK")
    requireQueryTerms(queryTerms, "bm25fTopK")
    require(queryTerms.distinct.size == queryTerms.size,
      s"query terms must be distinct: $queryTerms")
    require(queryTerms.size <= MaxQueryTerms,
      s"at most $MaxQueryTerms query terms, got ${queryTerms.size}")
    require(k >= 1, s"k must be >= 1, got $k")
    require(handle.nDocs > 0, "bm25fTopK over an empty index")
    require(weights.nonEmpty &&
        weights.map(_._1).distinct.size == weights.size,
      s"weights must be non-empty with distinct fields: $weights")
    weights.foreach { case (f, w) =>
      require(handle.fields.contains(f),
        s"unknown field '$f' — index has ${handle.fields}")
      require(w > 0.0, s"field weight must be positive: $f -> $w")
    }
    val wFields = weights.map(_._1)
    val buckets = bucketsFor(spark, queryTerms, handle.numBuckets).distinct
    val pruned = Tombstones.liveOnly(spark, handle.dir, handle.idCol,
      spark.read.parquet(s"${handle.dir}/postings")
        .filter(col("term_bucket").isin(buckets: _*) &&
          col("term").isin(queryTerms: _*) && col("field").isin(wFields: _*)))
    val id = col(handle.idCol)
    // a doc matching the term in TWO fields still counts once —
    // attached IN-PLAN ([[withDfColumn]]) instead of a driver collect
    val prunedDf = withDfColumn(pruned, handle.idCol)
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
    // candidates restricted AFTER the df derivation — stats corpus-wide
    val perTermDoc = restrict(handle, prunedDf, docFilter)
      .withColumn("__wq", round(wtf * lit(1048576.0d)).cast("long"))
      // inner max collapses bit-identical replayed-append rows (the
      // [[collapseTf]] pre-compact convention), outer sum is the real
      // across-fields total; on a clean index both aggregate one row
      // per key — values unchanged
      .groupBy(id, col("term"), col("field"))
      .agg(max(col("__wq")).as("__wq"), max(col("__df")).as("__df"))
      .groupBy(id, col("term"))
      .agg(sum(col("__wq")).as("__twq"), max(col("__df")).as("__df"))
    val pivoted = perTermDoc.groupBy(id).agg(
      max(when(col("term") === queryTerms.head, col("__twq"))).as("__tw0"),
      (queryTerms.zipWithIndex.drop(1).map { case (t, i) =>
        max(when(col("term") === t, col("__twq"))).as(s"__tw$i") } ++
        queryTerms.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("__df"))).as(s"__df$i") }): _*)
    val perTerm = queryTerms.zipWithIndex.map { case (_, i) =>
      val idf = idfOf(handle.nDocs, col(s"__df$i"))
      val tft = coalesce(col(s"__tw$i"), lit(0L)).cast("double") / lit(1048576.0d)
      idf * tft / (lit(k1) + tft)
    }
    pivoted.select(id, perTerm.reduce(_ + _).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, id)
      .limit(k)
  }
}
