package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The StagedCuration→trio composition ([[CurationRefresh]]): a config
  * change recomputes the curated corpus; the refresh must route ONLY
  * the diff's delta into the standing indexes and land the exact state
  * a clean build over the new corpus would have. */
class CurationRefreshSpec extends SparkSpec {

  private def corpusOf(sf: String): DataFrame = {
    val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    docs.join(emb, Seq("doc_id"))
  }

  /** (old, new): old misses %7=0 docs and revises %5=0 texts; new is
    * the pure %11<>3 subset — all four diff statuses non-empty. */
  private def oldNew(sf: String): (DataFrame, DataFrame) = {
    val corpus = corpusOf(sf)
    val old = corpus.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" [rev1]"))).otherwise(col("text")))
    (old, corpus.filter(col("doc_id") % 11 =!= 3))
  }

  private def buildTrio(corpus: DataFrame, root: String): (String, String, String) = {
    val (dd, bd, ad) = (s"$root/dedup", s"$root/bm25", s"$root/ann")
    DedupIndex.build(corpus, "doc_id", dd)
    Bm25Index.build(corpus, "doc_id", bd)
    AnnIndex.build(corpus, "embedding", "doc_id", ad,
      nCells = 4, m = 4, k = 4, dim = 64, iters = 1)
    (dd, bd, ad)
  }

  private def rmTree(dir: String): Unit = {
    val root = java.nio.file.Path.of(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.delete(p); () })
  }

  private def screenRows(h: DedupIndex.Handle, batch: DataFrame): Seq[(Long, Boolean, Boolean, Any, Boolean)] =
    DedupIndex.dedupBatch(spark, h, batch, threshold = 0.8)
      .select("doc_id", "exact_dup", "near_dup", "near_dup_of", "is_new")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.get(3), r.getBoolean(4)))
      .sortBy(_._1).toSeq

  private def topkRows(dir: String): Seq[(Long, Long, Double)] =
    Bm25Index.topK(spark, Bm25Index.load(spark, dir),
        Seq("data", "the", "query"), k = 10)
      .select(col("doc_id"), col("n_tok"), round(col("score"), 9).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq

  test("refresh: delta-only, end state equals a clean build over the new corpus") {
    val root = java.nio.file.Files.createTempDirectory("refr").toString
    try {
      val (old, neu) = oldNew("sf0.001")
      val (dd, bd, ad) = buildTrio(old, s"$root/live")
      CurationRefresh.snapshot(old, s"$root/state")
      val rep = CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding",
        auditDir = Some(s"$root/audit"))

      // the report IS the delta: counts re-derivable from the predicates
      val ids = corpusOf("sf0.001").select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      def inOld(id: Long) = id % 7 != 0
      def inNew(id: Long) = id % 11 != 3
      // a %5=0 doc only CHANGES if its text is non-null (null survives
      // the revision concat as null — md5s stay null-equal)
      val added = ids.keys.count(id => !inOld(id) && inNew(id))
      val removed = ids.keys.count(id => inOld(id) && !inNew(id))
      val changed = ids.keys.count(id =>
        inOld(id) && inNew(id) && id % 5 == 0 && ids(id).nonEmpty)
      assert(!rep.resumed)
      assert(rep.added == added, s"added ${rep.added} vs $added")
      assert(rep.removed == removed, s"removed ${rep.removed} vs $removed")
      assert(rep.changed == changed, s"changed ${rep.changed} vs $changed")
      assert(rep.unchanged ==
        ids.size - added - removed - changed -
          ids.keys.count(id => !inOld(id) && !inNew(id)))

      // deletion audit rows: one per removed/changed doc
      assert(spark.read.parquet(s"$root/audit").count() == removed + changed)

      // end-state equality, all three indexes, vs a CLEAN build over
      // the new corpus (ANN compared under the refreshed index's own
      // frozen models via buildWith — refresh never retrains)
      val (cd, cb, _) = buildTrio(neu, s"$root/clean")
      val probe = corpusOf("sf0.001").filter(col("doc_id") % 2 === 1)
      assert(screenRows(DedupIndex.load(spark, dd), probe) ==
        screenRows(DedupIndex.load(spark, cd), probe))
      assert(topkRows(bd) == topkRows(cb))
      val refreshed = AnnIndex.load(spark, ad)
      AnnIndex.buildWith(neu, "embedding", "doc_id", s"$root/cleanann",
        refreshed.centroids, refreshed.codebooks)
      def codeRows(d: String) = spark.read.parquet(s"$d/codes")
        .collect().map(_.toSeq).toSet
      assert(codeRows(s"$ad") == codeRows(s"$root/cleanann"))

      // the snapshot advanced: a second refresh with the same corpus
      // is a pure no-op delta
      val rep2 = CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding")
      assert(rep2.added == 0 && rep2.changed == 0 && rep2.removed == 0)
    } finally rmTree(root)
  }

  test("refresh: a new corpus that changes or removes every indexed doc") {
    val root = java.nio.file.Files.createTempDirectory("refrall").toString
    try {
      val corpus = corpusOf("sf0.001").filter(col("text").isNotNull)
      val old = corpus.filter(col("doc_id") < 40)
        .withColumn("text", concat(col("text"), lit(" [rev1]")))
      val neu = corpus.filter(col("doc_id") < 20 || col("doc_id").between(40, 59))
      val (dd, bd, ad) = buildTrio(old, s"$root/live")
      CurationRefresh.snapshot(old, s"$root/state")
      // every old doc is deleted, so each compact purges its whole table
      val rep = CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding")
      assert(rep.unchanged == 0 && rep.changed + rep.removed == old.count())
      assert(rep.added == neu.filter(col("doc_id") >= 40).count())
      val (cd, cb, _) = buildTrio(neu, s"$root/clean")
      val probe = corpusOf("sf0.001").filter(col("doc_id") < 80)
      assert(screenRows(DedupIndex.load(spark, dd), probe) ==
        screenRows(DedupIndex.load(spark, cd), probe))
      assert(topkRows(bd) == topkRows(cb))
      assert(spark.read.parquet(s"$ad/codes").count() == neu.count())
    } finally rmTree(root)
  }

  test("refresh: shared fingerprints survive a removed twin (refcount)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("refr2").toString
    try {
      val mkEmb = udf((id: Long) => // +1 keeps every norm strictly positive
        Array.tabulate(64)(i => ((((id + 1) * (i + 3)) % 17) + 1).toFloat / 18f))
      def withEmb(df: DataFrame) = df.withColumn("embedding", mkEmb(col("doc_id")))
      // unchanged filler rows keep the quantizer training sane (k-means
      // with more cells than vectors is not this test's subject)
      val filler = (100L to 115L).map(i =>
        (i, s"filler document number $i with some distinct words w$i x$i"))
      // doc 1 and doc 2 share the exact same text; the refresh removes
      // doc 2 but doc 1 is retained — the shared fingerprint must NOT
      // retire with the twin (a clean build over the new corpus has it)
      val old = withEmb((Seq(
        (1L, "alpha beta gamma delta shared twin text"),
        (2L, "alpha beta gamma delta shared twin text"),
        (3L, "some completely unrelated document body here")) ++ filler)
        .toDF("doc_id", "text"))
      val neu = withEmb((Seq(
        (1L, "alpha beta gamma delta shared twin text"),
        (3L, "some completely unrelated document body here")) ++ filler)
        .toDF("doc_id", "text"))
      val (dd, bd, ad) = buildTrio(old, s"$root/live")
      CurationRefresh.snapshot(old, s"$root/state")
      val rep = CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding")
      assert(rep.removed == 1 && rep.added == 0 && rep.changed == 0)
      // a new doc with the twin text still screens as an exact dup
      val screen = screenRows(DedupIndex.load(spark, dd),
        withEmb(Seq((9L, "alpha beta gamma delta shared twin text"))
          .toDF("doc_id", "text")))
      assert(screen.head._2, s"twin text screened as new: $screen")
      // and the removed id answers no retrieval probe
      val hits = Bm25Index.topK(spark, Bm25Index.load(spark, bd),
        Seq("shared", "twin"), k = 10).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(hits.contains(1L) && !hits.contains(2L), hits.toString)
    } finally rmTree(root)
  }

  test("refresh: crash before ingest resumes to the same end state") {
    val root = java.nio.file.Files.createTempDirectory("refr3").toString
    try {
      val (old, neu) = oldNew("sf0.001")
      val (dd, bd, ad) = buildTrio(old, s"$root/live")
      CurationRefresh.snapshot(old, s"$root/state")
      val boom = intercept[RuntimeException](CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding",
        beforeIngest = () => sys.error("crash before ingest")))
      assert(boom.getMessage.contains("crash before ingest"))
      // deletes+compact ran; ingest did not; marker says so
      val resumed = CurationRefresh.resumePending(
        spark, s"$root/state", dd, bd, ad, "embedding")
      assert(resumed.exists(_.resumed))
      val (cd, _, _) = buildTrio(neu, s"$root/clean")
      val probe = corpusOf("sf0.001").filter(col("doc_id") % 2 === 1)
      assert(screenRows(DedupIndex.load(spark, dd), probe) ==
        screenRows(DedupIndex.load(spark, cd), probe))
      // nothing left pending
      assert(CurationRefresh.resumePending(
        spark, s"$root/state", dd, bd, ad, "embedding").isEmpty)
    } finally rmTree(root)
  }

  test("refresh: crash before swap rolls forward; a fresh refresh completes it first") {
    val root = java.nio.file.Files.createTempDirectory("refr4").toString
    try {
      val (old, neu) = oldNew("sf0.001")
      val (dd, bd, ad) = buildTrio(old, s"$root/live")
      CurationRefresh.snapshot(old, s"$root/state")
      intercept[RuntimeException](CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding",
        beforeSwap = () => sys.error("crash before swap")))
      // calling refresh again (same corpus) first completes the
      // pending one, then runs a no-op delta on top
      val rep = CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding")
      assert(rep.resumed)
      assert(rep.added == 0 && rep.changed == 0 && rep.removed == 0)
      val (cd, _, _) = buildTrio(neu, s"$root/clean")
      val probe = corpusOf("sf0.001").filter(col("doc_id") % 2 === 1)
      assert(screenRows(DedupIndex.load(spark, dd), probe) ==
        screenRows(DedupIndex.load(spark, cd), probe))
    } finally rmTree(root)
  }

  test("refresh: screen mode gates upserts and writes verdicts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("refr5").toString
    try {
      val mkEmb = udf((id: Long) => // +1 keeps every norm strictly positive
        Array.tabulate(64)(i => ((((id + 2) * (i + 5)) % 19) + 1).toFloat / 20f))
      def withEmb(df: DataFrame) = df.withColumn("embedding", mkEmb(col("doc_id")))
      val filler = (100L to 115L).map(i =>
        (i, s"filler document number $i with some distinct words w$i x$i"))
      val old = withEmb((Seq(
        (1L, "first document with plenty of words to index")) ++ filler)
        .toDF("doc_id", "text"))
      val neu = withEmb((Seq(
        (1L, "first document with plenty of words to index"),
        (2L, "good added document with plenty of quality words"),
        (3L, "bad")) ++ filler)
        .toDF("doc_id", "text"))
      val (dd, bd, ad) = buildTrio(old, s"$root/live")
      CurationRefresh.snapshot(old, s"$root/state")
      val rep = CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding",
        screen = Some(length(col("text")) > 10),
        verdictsDir = Some(s"$root/verdicts"))
      assert(rep.added == 2)
      // the quality reject left a verdict row but no index state
      val verdicts = spark.read.parquet(s"$root/verdicts")
        .select("doc_id", "quality_pass").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(verdicts == Map(2L -> true, 3L -> false))
      val live = spark.read.parquet(s"$bd/doclens")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(live == (100L to 115L).toSet + 1L + 2L, live.toString)
      // screen mode: a second same-corpus refresh still reports a
      // clean no-op delta (doc 3 stays un-indexed but snapshotted —
      // the SCREEN rejected it; the diff must not re-submit it)
      val rep2 = CurationRefresh.refresh(
        spark, neu, s"$root/state", dd, bd, ad, "embedding",
        screen = Some(length(col("text")) > 10),
        verdictsDir = Some(s"$root/verdicts"))
      assert(rep2.added == 0 && rep2.changed == 0 && rep2.removed == 0)
    } finally rmTree(root)
  }
}
