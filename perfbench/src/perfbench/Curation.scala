package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{BpeTrain, Dedup, Dsir, Packing, Sampling, Sketches, TextAnalysis}

/** CurationDemo's stage order over a generated corpus: normalize ->
  * strip HTML -> redact PII -> quality gate -> sentence dedup -> exact
  * dedup -> paragraph dedup -> repeated-span dedup -> near-dup dedup ->
  * Bloom decontamination -> DSIR selection -> mixture balancing ->
  * split -> BPE training -> token counts -> token-id packing, plus the
  * count-min frequency audit. Every stage boundary is checkpointed and
  * counted, as CurationDemo does. The packed shards are written out as
  * parquet. There is no warm-up: a pass is the chain as a fresh batch
  * job runs it.
  *
  * Checks: exact dedup and decontamination remove documents and the
  * paragraph and span dedups remove text (the corpus plants each kind
  * of redundancy; near duplicates are mostly gutted by the finer
  * stages before the near-dup stage sees them), the count-min sketch never
  * underestimates, and the per-stage retained
  * counts and the digest of the packed ids equal the ones recorded for
  * the seed. After the loop of a traced run, the standing-index mix
  * ([[IndexMix]]) runs over a quarter of the last pass's training split,
  * traced and charged to the pass, and its checks must hold. */
final class Curation extends Workload {
  private val nDocs = 600
  private val vocab = 2000
  private var corpus: Path = _
  private var seed = 0L

  def generate(seed: Long, inputs: Path, repoRoot: Path): Unit = {
    this.seed = seed
    corpus = inputs.resolve("corpus.jsonl")
    CorpusGen.writeJsonLines(corpus, CorpusGen.generate(seed, nDocs, vocab))
  }

  private final class Out(val counts: Seq[(String, Long)], val chars: Map[String, Long],
      val packedDir: Path, val minOverestimate: Long)
  private var lastTrain: Option[DataFrame] = None

  def pass(ctx: Ctx, i: Int): Any = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    var df = spark.read.schema(schema).json(corpus.toString)
    val counts = Seq.newBuilder[(String, Long)]
    val chars = Seq.newBuilder[(String, Long)]
    def stage(name: String, module: String)(f: DataFrame => DataFrame): Unit = {
      df = tr.span(module)(f(df).localCheckpoint(true))
      val r = df.agg(count(lit(1)), coalesce(sum(length(col("text"))), lit(0L))).head()
      counts += name -> r.getLong(0)
      chars += name -> r.getLong(1)
    }

    stage("nfc-normalize", "ops.TextAnalysis") { d =>
      TextAnalysis.nfcNormalize(d, "text", "nfc").drop("text").withColumnRenamed("nfc", "text")
    }
    stage("quality-filter", "ops.TextAnalysis") { d =>
      TextAnalysis.gopherQuality(d, "text", minTok = 5, maxTok = 400, minAvgWordLen = 2.0,
          maxAvgWordLen = 12.0, maxTopWordFrac = 0.5)
        .filter(col("quality_pass") === 1).select("doc_id", "source", "text")
    }
    stage("exact-dedup", "ops.Dedup") { d =>
      Dedup.exact(d, "text", "doc_id").filter(!col("is_duplicate"))
        .select("doc_id", "source", "text")
    }
    stage("paragraph-dedup", "ops.TextAnalysis") { d =>
      TextAnalysis.paragraphDedup(d, "doc_id", "text", sep = ". ")
        .filter(col("n_kept") > 0)
        .join(d.select("doc_id", "source"), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("clean_text").as("text"))
    }
    stage("substr-span-dedup", "ops.Dedup") { d =>
      Dedup.minLenDupSpans(d, "doc_id", "text", minLen = 12, seedK = 6)
        .filter(length(trim(col("clean_text"))) > 0)
        .select(col("doc_id"), col("source"), col("clean_text").as("text"))
    }
    stage("near-dup-dedup", "ops.Dedup") { d =>
      Dedup.nearDuplicates(d, "doc_id", threshold = 0.8)
        .filter(!col("is_near_duplicate")).select("doc_id", "source", "text")
    }
    stage("bloom-decontam", "ops.TextAnalysis") { d =>
      TextAnalysis.bloomDecontaminate(
          d.filter(col("doc_id") >= CorpusGen.EvalDocs), d.filter(col("doc_id") < CorpusGen.EvalDocs),
          "doc_id", "text", n = 3, minOverlap = 5L,
          expectedEvalGrams = 1L << 16, numBits = 1L << 19)
        .filter(col("contaminated") === 0).select("doc_id", "source", "text")
    }
    stage("dsir-select", "ops.Dsir") { d =>
      val target = d.filter(col("doc_id") % 17 === 0)
      val raw = d.filter(col("doc_id") % 17 =!= 0)
      val keep = math.max(1L, raw.count() * 85L / 100L)
      Dsir.dsirResample(raw, target, "doc_id", "text", k = keep.toInt, numBuckets = 4096)
        .select("doc_id", "source", "text")
        .unionByName(target.select("doc_id", "source", "text"))
    }
    stage("mixture-balance", "ops.Sampling") { d =>
      val uniform = CorpusGen.Sources.map(s => s -> 1.0 / CorpusGen.Sources.size)
      val k = (d.count() * 92L / 100L).toInt
      Sampling.mixtureSample(d, "doc_id", "source", uniform, k, preFilterFactor = Some(2.0))
        .filter(col("mix_kept") === 1).select("doc_id", "source", "text")
    }
    stage("split", "ops.Sampling") { d =>
      Sampling.assignSplit(d, "doc_id", Seq(("train", 0.75), ("val", 0.125), ("test", 0.125)))
    }
    val vocabTable = tr.span("ops.BpeTrain") {
      BpeTrain.trainVocab(df.filter(col("split") === "train"), "text", numMerges = 512,
        minPairCount = 1L, fast = true)
    }
    val train = df.filter(col("split") === "train")
    val packed = tr.span("ops.Packing") {
      Packing.packTokenIds(Packing.withShuffleKey(train, "doc_id", seed = "epoch0"),
        "shuffle_key", "text", vocabTable, ctxLen = 512L, shardCol = "source")
    }
    val packedDir = ctx.work.resolve(s"packed_$i")
    tr.span("ops.Packing")(packed.write.mode("overwrite").parquet(packedDir.toString))
    val minOverestimate = tr.span("ops.Sketches") {
      val probes = train.select(explode(TextAnalysis.ngramsOf(col("text"), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("g")).limit(10).select(col("g").as("w"))
      Sketches.cmsFrequencyAudit(train, "text", probes, "w", gram = 2, depth = 4, width = 1024)
        .agg(min("overest")).head().getLong(0)
    }
    lastTrain = Some(train)
    new Out(counts.result(), chars.result().toMap, packedDir, minOverestimate)
  }

  def check(ctx: Ctx, i: Int, result: Any): Seq[String] = {
    val o = result.asInstanceOf[Out]
    val problems = Seq.newBuilder[String]
    val order = o.counts.map(_._1)
    def removed(s: String, of: Map[String, Long], what: String): Unit = {
      val before = of(order(order.indexOf(s) - 1))
      if (of(s) >= before) problems += s"$s removed no $what ($before -> ${of(s)})"
    }
    Seq("exact-dedup", "bloom-decontam").foreach(removed(_, o.counts.toMap, "documents"))
    Seq("paragraph-dedup", "substr-span-dedup").foreach(removed(_, o.chars, "text"))
    if (o.minOverestimate < 0) problems += s"count-min sketch underestimated by ${-o.minOverestimate}"
    // the packed shards, read back: rows and an order-free hash per source
    val digest = ctx.spark.read.parquet(o.packedDir.toString)
      .groupBy("shard").agg(count(lit(1)), sum(pmod(xxhash64(col("*")), lit(1000000007L))))
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}:${r.getLong(2)}").sorted.mkString(",")
    val all = o.counts.map { case (k, v) => s"$k=$v" }.mkString(",") + "|" + digest
    problems ++= ctx.checkDigest("", ctx.sha256(all))
    ctx.log(s"curation pass $i: ${o.counts.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    problems.result()
  }

  override def tracedChecks(ctx: Ctx): Seq[String] =
      lastTrain.toSeq.filter(_ => ctx.fits("the index mix", 100)).flatMap { train =>
    val o = ctx.tracer.pass(Tracer.AfterLoop, traced = true) {
      // a quarter of the split: the mix's cost is Spark jobs, not rows
      IndexMix.run(ctx, train.filter(col("doc_id") % 4 === 0), seed, vocab,
        ctx.work.resolve("index").toString)
    }
    ctx.log(s"index mix: ${o.canonical}")
    ctx.passGauge("index.probe_ms.p50", Stats.median(o.probeMs))
    ctx.passGauge("index.write_ms.p50", Stats.median(o.writeMs))
    IndexMix.check(o) ++ ctx.checkDigest(".index", ctx.sha256(o.canonical))
  }
}
