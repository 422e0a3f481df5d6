package graft.tools

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{AnnIndex, Bm25Index, CurationRefresh, DedupIndex}
import graft.queries.EmbeddingQueries.Dim
import graft.queries.QueryDef

/** Scale profile: runs the [[Declared]] queries on an sf-layout corpus
  * and on the same corpus blown up `SPARK_GRAFT_SCALE` times (default
  * 10), prints each entry's x1 and xN wall time, and checks every
  * EXECUTED (post-AQE) plan with [[PlanShape.violations]] — no equi-join
  * flipping to a nested loop, no cartesian, no mid-plan single-partition
  * funnel.
  *
  * The ×N corpus is an sf-layout directory: `documents` and `embeddings`
  * replicated with distinct id spaces, every other table copied
  * unchanged. Each document copy gets a ` copymarkerI` token, so short
  * docs' cross-copy jaccard drops below the 0.8 threshold while every
  * copy's own near-dup structure is kept; embeddings copy with shifted
  * ids only, so identical vectors stress the tie and bucket-size paths.
  *
  * A declared query runs its bench form as `graft.Bench` does:
  * `benchPrepare` once, untimed, on each directory, then
  * `benchFn.getOrElse(fn)` into the noop sink — x1 warm-up, x1, xN. The
  * other thirteen entries have no query form and run on hand-built
  * handles: the query-axis batch probes (corpus fixed, query table ×10),
  * a synthetic 256×16-codebook probe, and the index lifecycle spans
  * (shadow rebuild, locked window, refresh, streaming ingest).
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_SCALE=10 sbt "runMain graft.tools.ProfileScale"
  *
  * `SPARK_GRAFT_SCALE_ONLY=q82,q112` restricts the sweep to entries whose
  * label starts with one of those q-numbers. Nothing is caught: a
  * prepare or run that throws ends the sweep with a non-zero exit.
  */
object ProfileScale {

  /** The declared queries profiled, by [[SparkEntry.allQueries]] name. */
  val Declared: Seq[String] = Seq(
    "q46_near_dup_pipeline", "q47_ann_topk", "q48_ivf_topk",
    "q56_repeated_bigrams", "q57_tf_idf", "q59_pq_adc_topk",
    "q61_decontaminate", "q62_boilerplate_ngrams", "q67_paragraph_dedup",
    "q69_char_lm_score", "q70_bm25_topk", "q71_url_canonical_dedup",
    "q72_sequence_packing", "q73_domain_cap", "q74_corpus_stats",
    "q75_bpe_tokenize", "q76_exact_substr_dedup", "q77_bloom_decontaminate",
    "q78_dsir_weights", "q80_bpe_train", "q81_nb_classify",
    "q82_minlen_dup_spans", "q83_char_lm_interp", "q84_fuzzy_decontaminate",
    "q85_semdedup", "q86_ppl_buckets", "q87_ann_recall", "q88_sq_codes",
    "q90_mixture_sample", "q91_line_dedup", "q92_pq_train", "q94_rrf_hybrid",
    "q95_dedup_incremental", "q96_cluster_keeper", "q99_word_lm",
    "q100_cms_frequency", "q101_word_lm_kn", "q102_chunk_overlap",
    "q103_containment", "q104_script_profile", "q105_materialize_chunks",
    "q109_unimax_alloc", "q110_vocab_drift", "q112_minlen_refine",
    "q113_bpe_token_ids", "q114_materialize_eos", "q115_pii_stats",
    "q116_temperature_alloc", "q121_lsh_plan_band", "q123_unigram_segment",
    "q126_attention_layout", "q127_unigram_em_round",
    "q129_random_projection", "q130_topk_per_stratum", "q131_sketch_topk",
    "q132_bpe_decode", "q133_pmi_collocations", "q134_char_entropy",
    "q135_centroid_classify", "q136_token_budget_select",
    "q137_confusion_matrix", "q138_lm_rollout", "q139_corpus_diff",
    "q140_table_health", "q141_packing_efficiency",
    "q142_similarity_histogram", "q143_pack_nosplit", "q144_sft_loss_mask",
    "q145_bm25_index_topk", "q146_unigram_shrink", "q147_sft_sequences",
    "q148_bm25_batch", "q149_ann_index_topk", "q150_hybrid_index_rag",
    "q151_ann_batch", "q152_embedding_drift", "q153_ann_rebuild",
    "q154_bm25_phrase", "q155_bm25f_fields", "q156_bm25_phrase_batch",
    "q157_bm25_delete_probe", "q158_ann_delete_probe",
    "q159_dedup_index_delete", "q161_rm3_topk", "q163_bm25_snippets",
    "q165_bm25_proximity", "q166_hybrid_batch_rag", "q167_bm25_fsck",
    "q168_dedup_fsck", "q169_ann_fsck", "q170_ann_filtered_probe",
    "q171_lifecycle_cross_fsck", "q172_imported_vocab_tokenize",
    "q173_bm25_shard_merge", "q175_ann_refined_probe",
    "q176_imported_vocab_ids", "q177_ann_batch_refined",
    "q178_bm25_snippet_batch", "q179_ann_shard_merge", "q180_ann_cell_stats",
    "q181_refine_recall", "q182_tombstone_reconcile", "q183_id_decontaminate",
    "q184_bm25_filtered_topk", "q185_ann_batch_filtered",
    "q186_bm25_batch_filtered", "q187_bm25_phrase_filtered",
    "q188_bm25_proximity_filtered", "q189_rm3_filtered_topk",
    "q190_bm25_batch_attr", "q191_unigram_token_ids",
    "q192_unigram_decode_roundtrip", "q193_unigram_pack_ids",
    "q194_unigram_id_decontaminate", "q195_hybrid_filtered_rag",
    "q196_rm3_filtered_feedback", "q198_bm25_rebuild", "q199_dedup_rebuild",
    "q200_bm25_shadow_rebuild", "q201_dedup_shadow_rebuild")

  def main(args: Array[String]): Unit = {
    val byName = SparkEntry.allQueries.map(q => q.name -> q).toMap
    val unknown = Declared.filterNot(byName.contains)
    require(unknown.isEmpty, s"no declared query named ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val spark = SparkSession.builder()
      .master("local[*]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(QueryDef.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.initialize(verbose = true) // surface the components-rounds line
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val scratch = Files.createTempDirectory("graft_scale_").toString
    val dirs = Seq(sfDir, s"$scratch/sf_x$factor")
    val scales = Seq(1, factor)
    writeScaled(spark, fs, sfDir, dirs(1), factor)

    // Time CONSTRUCTION + execution: several operators materialize
    // stage boundaries eagerly (localCheckpoint) while the plan is
    // built, so timing only the final action would miss that work.
    def run(label: String, mk: => DataFrame): Double = {
      val t0 = System.nanoTime()
      val df = mk
      df.write.mode("overwrite").format("noop").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val bad = PlanShape.violations(df.queryExecution.executedPlan, banNestedLoop = true)
      val shape = if (bad.isEmpty) "shape OK" else s"SHAPE VIOLATIONS:\n  ${bad.mkString("\n  ")}"
      println(f"[scale] $label%-12s $secs%8.3f s   $shape")
      secs
    }
    def done: DataFrame = spark.range(1).toDF() // the arm did its own writes
    def copyFresh(src: String, dst: String): String = {
      fs.delete(new Path(dst), true)
      FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, fs.getConf)
      dst
    }

    // ---- hand-built state for the arms, index 0 = x1, 1 = xN; lazy,
    // and forced by each arm's untimed prepare ----
    def docsAt(i: Int) = QueryDef.t(spark, dirs(i), "documents").select("doc_id", "text")
    def vecsAt(i: Int) = QueryDef.t(spark, dirs(i), "embeddings")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // nCells scales with the corpus, so cells stay constant-size and a
    // fixed-nProbe probe reads about constant absolute work
    def annBuild(src: DataFrame, dir: String, i: Int) = AnnIndex.build(src,
      "embedding", "doc_id", dir, nCells = 4 * scales(i), m = 4, k = 4, dim = Dim, iters = 2)
    lazy val bm25 = scales.indices.map(i =>
      Bm25Index.build(docsAt(i), "doc_id", s"$scratch/bm25_$i"))
    lazy val ann = scales.indices.map(i => annBuild(vecsAt(i), s"$scratch/ann_$i", i))
    lazy val dedup = scales.indices.map(i =>
      DedupIndex.build(docsAt(i), "doc_id", s"$scratch/dedup_$i"))
    def batchQs(n: Int, termsCol: String, qs: Seq[Seq[String]]): DataFrame = {
      import spark.implicits._
      (0 until n).flatMap(c => qs.indices.map(j => (1L + 3 * c + j, qs(j))))
        .toDF("qid", termsCol)
    }
    val termQs = Seq(Seq("data", "the"), Seq("query"), Seq("the", "query", "data"))
    val phraseQs = Seq(Seq("the", "data"), Seq("data", "the"), Seq("and", "the", "data"))
    val nQueries = Seq(1, 10) // the query axis: x1 = one batch, xN = ten
    def bm25Batch(c: Int, i: Int) = Bm25Index.topKBatch(spark, bm25(c),
      batchQs(nQueries(i), "terms", termQs), "qid", "terms", k = 25)
    def annBatch(c: Int, i: Int) = AnnIndex.queryBatch(spark, ann(c),
      vecsAt(c).filter(col("doc_id") < 8 * nQueries(i)), "embedding", "doc_id",
      k = 25, nProbe = 2)
    // FAISS-typical 256×16 codebooks: the LUT-join plan must stay O(m)
    // at real codebook sizes. Measuring the probe needs no trained
    // model, so the codes are synthetic over the real id space.
    lazy val bigCb = scales.indices.map { i =>
      val dest = s"$scratch/bigcb_$i"
      vecsAt(i).select(col("doc_id") +: pmod(col("doc_id"), lit(8)).as("cell") +:
          (0 until 16).map(mi => pmod(col("doc_id") * (mi + 1), lit(256)).as(s"code_$mi")): _*)
        .repartition(col("cell")).write.partitionBy("cell").parquet(s"$dest/codes")
      AnnIndex.Handle(dest,
        (0L until 8L).map(c => c -> Seq.tabulate(Dim)(j => ((c * 13 + j * 7) % 29 - 14.0) / 7.0)),
        (0 until 16).map(mi => (0L until 256L).map(cid =>
          cid -> Seq.tabulate(4)(j => ((mi * 31 + cid * 7 + j) % 97).toDouble))))
    }
    lazy val annShadow = scales.indices.map(i =>
      copyFresh(ann(i).dir, s"$scratch/annshadow_$i"))
    // the locked window: restore pristine state, start the unlocked
    // sidecar pass, land a FIXED 200-row delta through the live append
    // path right before the lock, and print the LOCKED span (catch-up +
    // swap) on its own line — it must stay about flat from x1 to xN
    lazy val lockDocs = docsAt(0).filter(col("doc_id") < 200)
      .select((col("doc_id") + lit(50000000L)).as("doc_id"), col("text")).localCheckpoint(true)
    lazy val lockVecs = vecsAt(0).filter(col("doc_id") < 200)
      .select((col("doc_id") + lit(50000000L)).as("doc_id"), col("embedding"))
      .localCheckpoint(true)
    def lockspan(kind: String, i: Int, pristine: String)(
        rebuild: (String, () => Unit) => Unit): DataFrame = {
      val dest = copyFresh(pristine, s"$scratch/lock_${kind}_$i")
      var t0 = 0L
      rebuild(dest, () => t0 = System.nanoTime())
      val tag = s"lockspan $kind x${scales(i)}"
      println(f"[scale] $tag%-24s locked-span ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      done
    }
    // CurationRefresh with a FIXED absolute delta at every scale: ids
    // < 200 added, [200, 400) changed, [400, 600) removed. `refresh
    // add` (no deletes, no compact) must stay about flat; `refresh
    // full` runs the three compact purges, corpus-linear by contract,
    // and is graded against the trio-build line printed at prepare.
    def revised(c: DataFrame) = c.withColumn("text",
      when(col("doc_id") >= 200 && col("doc_id") < 400, concat(col("text"), lit(" [old]")))
        .otherwise(col("text")))
    lazy val refr = scales.indices.map { i =>
      docsAt(i).join(vecsAt(i), Seq("doc_id")).write.parquet(s"$scratch/refr_corpus_$i")
      val corpus = spark.read.parquet(s"$scratch/refr_corpus_$i")
      val old = revised(corpus).filter(col("doc_id") >= 200)
      val root = s"$scratch/refr_pristine_$i"
      val t0 = System.nanoTime()
      DedupIndex.build(old, "doc_id", s"$root/dedup")
      Bm25Index.build(old, "doc_id", s"$root/bm25")
      annBuild(old, s"$root/ann", i)
      val tag = s"refresh x${scales(i)}"
      println(f"[scale] $tag%-24s trio-build ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      CurationRefresh.snapshot(old, s"$root/state")
      (corpus, root)
    }
    def refreshArm(kind: String, i: Int): DataFrame = {
      val (corpus, pristine) = refr(i)
      val work = s"$scratch/refr_${kind}_$i"
      Seq("dedup", "bm25", "ann", "state").foreach(t => copyFresh(s"$pristine/$t", s"$work/$t"))
      val neu = if (kind == "add") revised(corpus)
        else corpus.filter(col("doc_id") < 400 || col("doc_id") >= 600)
      val t0 = System.nanoTime()
      val rep = CurationRefresh.refresh(spark, neu, s"$work/state", s"$work/dedup",
        s"$work/bm25", s"$work/ann", "embedding")
      val tag = s"refresh $kind x${scales(i)}"
      println(f"[scale] $tag%-24s refresh-span ${(System.nanoTime() - t0) / 1e9}%7.3f s " +
        s"(+${rep.added} ~${rep.changed} -${rep.removed} =${rep.unchanged})")
      done
    }
    // streaming ingest: a fixed 200-doc batch of FRESH ids per call
    // through the full screen -> gate -> three-append trigger, against
    // copies of the trio (the sink appends)
    lazy val ingTrio = scales.indices.map(i => (
      DedupIndex.load(spark, copyFresh(dedup(i).dir, s"$scratch/ing_dedup_$i")),
      Bm25Index.load(spark, copyFresh(bm25(i).dir, s"$scratch/ing_bm25_$i")),
      AnnIndex.load(spark, copyFresh(ann(i).dir, s"$scratch/ing_ann_$i"))))
    var ingestEpoch = 0L
    def ingestRun(i: Int): DataFrame = {
      ingestEpoch += 1
      val batch = spark.range(200)
        .select((col("id") + lit(10000000L * ingestEpoch)).as("doc_id"))
        .withColumn("text", concat(lit("fresh ingest document number "),
          col("doc_id").cast("string"), lit(" with a deterministic tail of filler words")))
        .withColumn("embedding", transform(sequence(lit(0), lit(Dim - 1)),
          j => ((col("doc_id") % 89 + j * 17) % 37).cast("double") / lit(37.0)))
      val (dh, bh, ah) = ingTrio(i)
      graft.streaming.CurationIngest.curationSink(dh, bh, ah, s"$scratch/ing_verdicts_$i",
        "embedding", qualityGate = length(col("text")) > 20)(batch, ingestEpoch)
      done
    }

    // (label, untimed prepare, run at index 0 = x1 / 1 = xN)
    val entries: Seq[(String, () => Any, Int => DataFrame)] =
      Declared.map(byName).map { q =>
        (q.name, () => dirs.foreach(d => q.benchPrepare.foreach(_(spark, d))),
          (i: Int) => q.benchFn.getOrElse(q.fn)(spark, dirs(i)))
      } ++ Seq[(String, () => Any, Int => DataFrame)](
        ("q148 bm25-batch-10q-c1", () => bm25, bm25Batch(0, _)),
        ("q148 bm25-batch-10q-c10", () => bm25, bm25Batch(1, _)),
        ("q151 ann-batch-10q-c1", () => ann, annBatch(0, _)),
        ("q151 ann-batch-10q-c10", () => ann, annBatch(1, _)),
        ("q156 bm25-phrase-batch-10q-c10", () => bm25, i => Bm25Index.phraseTopKBatch(
          spark, bm25(1), batchQs(nQueries(i), "phrase", phraseQs), "qid", "phrase", k = 25)),
        ("q151 ann-batch-bigcb", () => bigCb, i => AnnIndex.queryBatch(spark, bigCb(i),
          vecsAt(i).filter(col("doc_id") < 8), "embedding", "doc_id", k = 25, nProbe = 2)),
        ("shadow ann-rebuild", () => annShadow, i => {
          AnnIndex.rebuildShadow(() => vecsAt(i), "embedding", "doc_id", annShadow(i),
            nCells = 4 * scales(i), m = 4, k = 4, dim = Dim, iters = 2)
          done
        }),
        ("lockspan bm25", () => (bm25, lockDocs.count()), i =>
          lockspan("bm25", i, bm25(i).dir) { (dest, mark) =>
            Bm25Index.rebuildShadow(() => docsAt(i).unionByName(lockDocs), "doc_id", dest,
              beforeLock = () => {
                Bm25Index.append(Bm25Index.load(spark, dest), lockDocs); mark()
              })
            ()
          }),
        ("lockspan dedup", () => (dedup, lockDocs.count()), i =>
          lockspan("dedup", i, dedup(i).dir) { (dest, mark) =>
            DedupIndex.rebuildShadow(() => docsAt(i).unionByName(lockDocs), "doc_id", dest,
              beforeLock = () => {
                DedupIndex.append(DedupIndex.load(spark, dest), lockDocs); mark()
              })
            ()
          }),
        ("lockspan ann", () => (ann, lockVecs.count()), i =>
          lockspan("ann", i, ann(i).dir) { (dest, mark) =>
            AnnIndex.rebuildShadow(() => vecsAt(i).unionByName(lockVecs), "embedding",
              "doc_id", dest, nCells = 4 * scales(i), m = 4, k = 4, dim = Dim, iters = 2,
              beforeLock = () => {
                AnnIndex.append(AnnIndex.load(spark, dest), lockVecs, "embedding", "doc_id")
                mark()
              })
            ()
          }),
        ("refresh add", () => refr, refreshArm("add", _)),
        ("refresh full", () => refr, refreshArm("full", _)),
        ("ingest curation-trigger", () => ingTrio, ingestRun))
    // SPARK_GRAFT_SCALE_ONLY=q82,q112 restricts the sweep by q-number
    // prefix. Blank tokens are ignored; a filter that matches nothing
    // fails instead of sweeping zero entries.
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val picked = entries.filter { case (name, _, _) =>
      only.isEmpty || only.exists(p => name == p || name.startsWith(p + " ") ||
        name.startsWith(p + "_"))
    }
    require(picked.nonEmpty, s"SPARK_GRAFT_SCALE_ONLY='${only.mkString(",")}' " +
      "matched no entry — check the query prefixes (e.g. q82,q112)")

    val results = picked.map { case (name, prepare, at) =>
      prepare()
      run(s"$name x1(warm)", at(0)) // JIT/codegen warm-up at x1
      (name, run(s"$name x1", at(0)), run(s"$name x$factor", at(1)))
    }
    results.foreach { case (name, t1, tN) =>
      println(f"[scale] $name%-12s x1 $t1%7.3f s -> x$factor $tN%7.3f s   " +
        f"wall ratio ${tN / t1}%5.2fx for ${factor}x input")
    }
    spark.stop()
    FileUtil.fullyDelete(new java.io.File(scratch))
  }

  /** Writes `sfDir` blown up `factor` times as an sf-layout directory at
    * `out`: `documents` and `embeddings` as `factor` copies with
    * disjoint id spaces (documents get a per-copy marker token and their
    * `n_chars` recomputed), every other table copied unchanged. Fails
    * unless each replicated table holds exactly `factor ×` its source's
    * rows. */
  private def writeScaled(
      spark: SparkSession, fs: FileSystem, sfDir: String, out: String, factor: Int): Unit = {
    def replicate(name: String, id: String, rest: Int => Seq[Column]): Unit = {
      val src = spark.read.parquet(s"$sfDir/$name.parquet")
      val span = src.agg(max(id)).head().getLong(0) + 1
      (0 until factor)
        .map(i => src.select((col(id) + lit(i * span)).as(id) +: rest(i): _*))
        .reduce(_ unionByName _)
        .write.parquet(s"$out/$name.parquet")
      val (n, scaled) = (src.count(), spark.read.parquet(s"$out/$name.parquet").count())
      require(scaled == factor * n, s"scaled $name holds $scaled rows, not $factor × $n")
      println(s"[scale] corpus x$factor: $name $scaled rows")
    }
    replicate("documents", "doc_id", i => {
      val text = concat(col("text"), lit(s" copymarker$i"))
      Seq(text.as("text"), col("lang"), col("source"), length(text).cast("long").as("n_chars"))
    })
    replicate("embeddings", "vec_id", _ => Seq(col("embedding"), col("label")))
    fs.listStatus(new Path(sfDir)).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") &&
        !Seq("documents.parquet", "embeddings.parquet").contains(p.getName))
      .foreach(p => FileUtil.copy(fs, p, fs, new Path(s"$out/${p.getName}"), false, fs.getConf))
  }
}
