package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.BenchAccess
import graft.ops.{AnnIndex, Bm25Index, DedupIndex, Retrieval}
import graft.streaming.CurationIngest

/** The standing-index read/write mix over a set of documents:
  *  - the DedupIndex / Bm25Index / AnnIndex trio is built as one shard
  *    each, with clustered 64-dim vectors made from the seed and the
  *    cluster's tier as the ANN filter attribute;
  *  - probes: BM25 top-k for the first of [[Queries]] Zipf-skewed term
  *    sets, one topKBatch of all of them, ANN top-k for a document's
  *    vector plain and filtered by tier, and RRF fusion of the lexical
  *    and the plain semantic ranking;
  *  - one tombstone delete (CurationIngest.deletionSink) of the first
  *    query's top two hits, then the batch and the plain ANN probe again;
  *  - Maintenance.compactTrio, whose report holds a crossFsck of the trio
  *    before the compaction and one after it.
  * Every probe's result is collected inside the span of its module, and
  * every probe and write is timed. */
object IndexMix {
  val Dim = 64
  val Clusters = 8
  val Queries = 3
  val K = 10

  final case class Out(indexed: Long, lexical: Seq[Long], batch: Seq[Seq[Long]],
      semantic: Seq[Long], filtered: Seq[Long], filterTier: String, fused: Seq[Long],
      deleted: Set[Long], batchAfter: Seq[Seq[Long]], semanticAfter: Seq[Long],
      compact: Map[String, Long], tiers: Map[Long, String],
      probeMs: Seq[Double], writeMs: Seq[Double]) {
    /** Every result in a fixed order. */
    def canonical: String = (Seq(Seq(indexed), lexical) ++ batch ++
        Seq(semantic, filtered, fused) ++ batchAfter :+ semanticAfter)
      .map(_.mkString(" ")).mkString("|") + "|" + compact.toSeq.sorted.mkString(",")
  }

  def run(ctx: Ctx, docs: DataFrame, seed: Long, vocab: Int, dir: String): Out = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val probeMs = mutable.ArrayBuffer.empty[Double]
    val writeMs = mutable.ArrayBuffer.empty[Double]
    def timed[T](into: mutable.ArrayBuffer[Double], module: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = tr.span(module)(f)
      into += (System.nanoTime() - t0) / 1e6
      r
    }
    val rnd = new Random(seed * 7919 + 17)

    // clustered vectors, one per document: the cluster's centre plus noise
    val centres = Array.fill(Clusters, Dim)(rnd.nextGaussian())
    val ids = docs.select("doc_id").as[Long].collect().sorted
    def vecOf(id: Long): (Seq[Double], String) = {
      val r = new Random(seed * 1000003L + id)
      val c = r.nextInt(Clusters)
      (centres(c).toSeq.map(_ + 0.3 * r.nextGaussian()), s"t${c % 3}")
    }
    val vecs = ids.map { id => val (v, t) = vecOf(id); (id, v, t) }.toSeq
      .toDF("doc_id", "embedding", "tier")
    val corpus = docs.select("doc_id", "text").join(vecs, Seq("doc_id")).localCheckpoint(true)

    val dedupDir = s"$dir/dedup"
    val bm25Dir = s"$dir/bm25"
    val annDir = s"$dir/ann"
    val dedup = tr.span("ops.DedupIndex")(DedupIndex.build(corpus.select("doc_id", "text"),
      "doc_id", dedupDir))
    // 8 term buckets, not the default 64: the mix indexes under a hundred documents
    val bm25 = tr.span("ops.Bm25Index")(Bm25Index.build(corpus.select("doc_id", "text"),
      "doc_id", bm25Dir, numBuckets = 8))
    val ann = tr.span("ops.AnnIndex")(AnnIndex.build(corpus.select("doc_id", "embedding", "tier"),
      "embedding", "doc_id", annDir, nCells = 4, m = 4, k = 4, dim = Dim, iters = 2,
      attrCols = Seq("tier")))

    // the reads; query terms are drawn from the corpus's Zipf law
    val dict = CorpusGen.words(new Random(seed), vocab)
    val zipf = new CorpusGen.Zipf(vocab, 1.1)
    // one of the ten commonest words, so every query matches, and two Zipf draws
    val terms = Seq.fill(Queries) {
      (dict(rnd.nextInt(10)) +: Seq.fill(2)(dict(zipf.draw(rnd)))).distinct
    }
    def batched(h: Bm25Index.Handle): Seq[Seq[Long]] = timed(probeMs, "ops.Bm25Index") {
      val qs = terms.zipWithIndex.map { case (q, i) => (i.toLong, q) }.toDF("qid", "terms")
      val rows = Bm25Index.topKBatch(spark, h, qs, "qid", "terms", k = K)
        .select("qid", "doc_id", "rank").as[(Long, Long, Long)].collect()
      terms.indices.map(i => rows.filter(_._1 == i).sortBy(_._3).map(_._2).toSeq)
    }
    val lex = timed(probeMs, "ops.Bm25Index") {
      Bm25Index.topK(spark, bm25, terms.head, k = K).select("doc_id").as[Long].collect().toSeq
    }
    val batch = batched(bm25)
    val (qv, filterTier) = vecOf(ids(0))
    def semantic(h: AnnIndex.Handle, filter: Option[Column]): Seq[Long] =
      timed(probeMs, "ops.AnnIndex") {
        AnnIndex.query(spark, h, "doc_id", qv, k = K, nProbe = 2, filter = filter)
          .select("doc_id").as[Long].collect().toSeq
      }
    val sem = semantic(ann, None)
    val filtered = semantic(ann, Some(col("tier") === filterTier))
    val fused = timed(probeMs, "ops.Retrieval") {
      def ranking(xs: Seq[Long]) = xs.zipWithIndex.map { case (id, r) => (id, r + 1L) }
        .toDF("doc_id", "rank")
      Retrieval.rrfFuse(Seq(ranking(lex), ranking(sem)), "doc_id", rrfK = 60, k = K)
        .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    }

    // the write, then the reads again on the reloaded indexes
    val doomed = lex.take(2).toSet
    timed(writeMs, "streaming.CurationIngest") {
      CurationIngest.deletionSink(dedup, bm25, ann, s"$dir/audit")(
        corpus.select("doc_id", "text").filter(col("doc_id").isin(doomed.toSeq: _*)), 1L)
    }
    val batchAfter = batched(tr.span("ops.Bm25Index")(Bm25Index.load(spark, bm25Dir)))
    val semAfter = semantic(tr.span("ops.AnnIndex")(AnnIndex.load(spark, annDir)), None)

    val compact = tr.span("ops.Maintenance") {
      BenchAccess.compactTrio(spark, dedupDir, bm25Dir, annDir).as[(String, Long)].collect().toMap
    }

    Out(ids.length, lex, batch, sem, filtered, filterTier, fused, doomed, batchAfter, semAfter,
      compact, ids.map(id => id -> vecOf(id)._2).toMap, probeMs.toSeq, writeMs.toSeq)
  }

  /** Problems with a mix's results (empty when they are right). */
  def check(o: Out): Seq[String] = {
    val p = Seq.newBuilder[String]
    def bad(cond: Boolean, msg: => String): Unit = if (cond) p += msg
    (o.lexical +: o.batch ++: Seq(o.semantic, o.filtered, o.fused)).foreach { r =>
      bad(r.isEmpty || r.size > K || r.distinct.size != r.size, s"a probe returned $r")
    }
    bad(o.lexical.size != o.batch.head.size ||
        (o.lexical.size < K && o.lexical.toSet != o.batch.head.toSet),
      s"topK and topKBatch disagree: ${o.lexical} vs ${o.batch.head}")
    bad(o.filtered.exists(id => !o.tiers.get(id).contains(o.filterTier)),
      s"filtered ANN probe returned documents outside tier ${o.filterTier}: ${o.filtered}")
    bad(!o.fused.forall(id => o.lexical.contains(id) || o.semantic.contains(id)),
      s"RRF fusion returned documents in neither ranking: ${o.fused}")
    bad((o.batchAfter.flatten ++ o.semanticAfter).exists(o.deleted),
      s"deleted documents ${o.deleted} still returned after the delete")
    for (when <- Seq("pre_", "post_")) {
      val r = o.compact.collect { case (k, v) if k.startsWith(when) => k.stripPrefix(when) -> v }
      val dirty = r.filter { case (k, v) =>
        (k.contains("_not_") || k == "tombstone_disagreements") && v != 0
      }
      bad(dirty.nonEmpty, s"crossFsck ${when}compact reports a diverged trio: $dirty")
      val live = o.indexed - o.deleted.size
      bad(Seq("dedup_live_docs", "bm25_live_docs", "bm25_meta_ndocs", "ann_live_codes")
          .exists(k => !r.get(k).contains(live)),
        s"crossFsck ${when}compact: expected $live live documents in every index: $r")
    }
    p.result()
  }
}
