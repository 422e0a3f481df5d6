package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>` or
  * `array<double>`). Brute-force cosine is the exact baseline;
  * random-hyperplane LSH bucketing is the 100 TB path: candidates come
  * from an equi-join on bucket instead of a cross join.
  *
  * All DataFrame-level operators score with the NATIVE codegen'd
  * [[graft.plans.DotProduct]] expression — the portable
  * `aggregate(zip_with(...))` fold below runs interpreted (higher-order
  * array functions don't codegen) and exists as the session-free
  * fallback with bit-identical results.
  */
object Similarity {

  /** Embedding cast to array<double>. */
  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Sequential-fold dot product of two equal-length double arrays —
    * deterministic (left-to-right IEEE754, no parallel reduction).
    * Portable fallback; prefer the native path via the DataFrame
    * operators. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Codegen'd dot product (same left-to-right IEEE754 sequence as the
    * fold — bit-identical, just compiled to a straight loop). */
  private def nDot(s: SparkSession, a: Column, b: Column): Column = {
    graft.plans.DotProduct.register(s)
    call_function("graft_dot", a, b)
  }

  private def nCosine(s: SparkSession, a: Column, b: Column): Column =
    nDot(s, a, b) / (sqrt(nDot(s, a, a)) * sqrt(nDot(s, b, b)))

  /** The native cosine, for sibling ops ([[AnnIndex.queryBatchRefined]]'s
    * exact pass) — same left-to-right IEEE754 sequence as [[cosine]]. */
  private[ops] def cosineOf(s: SparkSession, a: Column, b: Column): Column =
    nCosine(s, a, b)

  /** Exact top-k nearest neighbors of `queryVec` (a literal vector) by
    * cosine. The scan is embarrassingly parallel; the top-k is a
    * TakeOrdered (no full sort at scale). */
  def bruteForceKnn(
      df: DataFrame, embCol: String, idCol: String,
      queryVec: Seq[Double], k: Int = 10): DataFrame = {
    val q = array(queryVec.map(lit): _*)
    df.withColumn("cosine", nCosine(df.sparkSession, col(embCol), q))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cosine"))
  }

  /** Deterministic pseudo-random hyperplane component p,j (exact
    * rational -> identical on any engine; mirrors the oracle-checked
    * query path). */
  private def h(p: Int, j: Int): Double = ((p * 131 + j * 7919) % 97 - 48) / 48.0

  /** Random-hyperplane LSH bucket id (`numPlanes` sign bits) for each
    * row. Same-bucket rows are near-neighbor candidates. */
  def lshBucket(df: DataFrame, embCol: String, dim: Int, numPlanes: Int = 8): DataFrame = {
    val bucket = (0 until numPlanes).map { p =>
      val plane = array((0 until dim).map(j => lit(h(p, j))): _*)
      when(nDot(df.sparkSession, col(embCol), plane) > 0, 1 << p).otherwise(0)
    }.reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** Seeded variant of [[h]] for the dense projection matrix — a
    * DIFFERENT seed yields a different (deterministic) matrix, so
    * sketches for independent purposes don't share planes. The hash
    * runs in Long + floorMod so ANY seed keeps coefficients in the
    * symmetric [-1, 1] family — Int arithmetic would overflow
    * `seed * 31` for large seeds and bias the sketch (the % result
    * goes negative, coefficients collapse to [-3, 1]/48). For the
    * non-negative small seeds of every shipped query this is
    * value-identical to the historical Int form, so oracle hashes are
    * unchanged. */
  private[graft] def hs(seed: Int, p: Int, j: Int): Double =
    (Math.floorMod(p * 131L + j * 7919L + seed * 31L, 97L) - 48L) / 48.0

  /** Johnson–Lindenstrauss random projection: reduce `dim`-dimensional
    * embeddings to `outDim` coordinates `y_p = Σ_j h(seed,p,j)·x_j`
    * under the library's deterministic rational plane family (exact on
    * any engine — the [[lshBucket]] construction, kept dense instead
    * of thresholded to sign bits). Distances/cosines are preserved in
    * expectation with ~1/√outDim relative error, so a brute-force
    * scan over the sketch costs `outDim/dim` of the full scan —
    * shortlist on the sketch, re-score survivors exactly (the classic
    * two-stage retrieval; [[recallAtK]] measures what the shortlist
    * misses).
    *
    * 100 TB shape: the outDim×dim matrix rides in the plan as
    * literals (driver-resident-model pattern, guarded), each output
    * coordinate is ONE codegen'd [[graft.plans.DotProduct]] straight
    * loop — a narrow zero-shuffle projection; nothing driver-side
    * touches row data. Appends `projected` (`array<double>`). */
  def randomProject(
      df: DataFrame, embCol: String, dim: Int, outDim: Int,
      seed: Int = 0): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got outDim=$outDim dim=$dim")
    require(seed >= 0, s"seed must be >= 0, got $seed")
    require(outDim.toLong * dim <= (1 << 20),
      s"projection matrix $outDim x $dim exceeds the literal-plan guard")
    val s = df.sparkSession
    val coords = (0 until outDim).map { p =>
      val row = array((0 until dim).map(j => lit(hs(seed, p, j))): _*)
      nDot(s, col(embCol), row)
    }
    df.withColumn("projected", array(coords: _*))
  }

  /** Driver-side replay of one projected coordinate — the same
    * left-to-right IEEE754 fold the [[graft.plans.DotProduct]]
    * expression runs, so a query vector projected here is
    * bit-identical to a row projected in the plan. */
  private def projectVec(v: Seq[Double], outDim: Int, seed: Int): Seq[Double] =
    (0 until outDim).map { p =>
      var acc = 0.0
      v.indices.foreach(j => acc += v(j) * hs(seed, p, j))
      acc
    }

  /** Two-stage retrieval over the [[randomProject]] sketch — the
    * composition that makes a JL sketch pay at 100 TB: stage 1
    * shortlists `shortlist` candidates by cosine on the `outDim`-wide
    * sketch (the full scan touches `outDim/dim` of the bytes an exact
    * scan reads), stage 2 re-scores ONLY the shortlist against the
    * full vectors and keeps the exact-cosine top `k`. Both stages are
    * TakeOrdered — no global sort, no window. Recall is tunable via
    * `shortlist` (wider = closer to exact; [[recallAtK]] measures the
    * gap against [[bruteForceKnn]]). Ties break to the lower id at
    * both stages — deterministic. */
  def sketchTopK(
      df: DataFrame, embCol: String, idCol: String,
      queryVec: Seq[Double], dim: Int, k: Int = 10,
      outDim: Int = 16, seed: Int = 0, shortlist: Int = 50): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need shortlist >= k >= 1, got k=$k shortlist=$shortlist")
    require(queryVec.length == dim,
      s"query vector has ${queryVec.length} dims, expected $dim")
    val s = df.sparkSession
    val qSketch = array(projectVec(queryVec, outDim, seed).map(lit): _*)
    val short = randomProject(df, embCol, dim, outDim, seed)
      .withColumn("__scos", nCosine(s, col("projected"), qSketch))
      .orderBy(col("__scos").desc, col(idCol))
      .limit(shortlist)
      .localCheckpoint(false) // stage 2 must not re-run the stage-1 scan
    val q = array(queryVec.map(lit): _*)
    short
      .withColumn("cosine", nCosine(s, col(embCol), q))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cosine"))
  }

  /** Approximate top-k per query row: bucket both sides, join on
    * bucket, rank candidates by cosine within each query's bucket.
    * Recall is tunable via numPlanes (fewer planes = bigger buckets =
    * higher recall, more compute). */
  def annTopK(
      data: DataFrame, queries: DataFrame, embCol: String, idCol: String,
      dim: Int, k: Int = 10, numPlanes: Int = 8): DataFrame = {
    val d = lshBucket(data, embCol, dim, numPlanes).alias("d")
    val q = lshBucket(queries, embCol, dim, numPlanes).alias("q")
    val w = Window.partitionBy(col(s"q.$idCol")).orderBy(col("cosine").desc, col(s"d.$idCol"))
    q.join(d, col("q.bucket") === col("d.bucket") && col(s"q.$idCol") =!= col(s"d.$idCol"))
      .withColumn("cosine", nCosine(data.sparkSession, col(s"q.$embCol"), col(s"d.$embCol")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(s"q.$idCol").as("query_id"), col(s"d.$idCol").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Exact multi-query brute-force top-k — the ground-truth side of
    * ANN evaluation ([[recallAtK]]). Every (query, candidate) pair is
    * scored: O(|queries| × |data|) BY CONSTRUCTION, which is exactly
    * why ANN retrieval exists — run it over a SAMPLED query panel
    * (tens to thousands of queries), never corpus × corpus. The query
    * panel broadcasts via a hash equi-join on a constant key (a
    * BroadcastHashJoin that stays in whole-stage codegen — not the
    * nested-loop join a raw crossJoin would plan); ranking windows are
    * partitioned BY QUERY, so even at panel × corpus size no
    * unpartitioned sort appears. */
  def bruteForceTopK(
      data: DataFrame, queries: DataFrame, embCol: String, idCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // the all-pairs comparison is INTENTIONAL (this is the ground
    // truth an ANN index is measured against), but it must still plan
    // as a broadcast HASH join: a literal key constant-folds out of
    // the join condition and the planner degrades to a nested-loop
    // join — deriving the single shared key from the id column keeps
    // it an equi-join the optimizer cannot fold away
    val d = data.select(col(idCol), col(embCol))
      .withColumn("__one", pmod(col(idCol).cast("long"), lit(1L))).alias("d")
    val q = queries.select(col(idCol), col(embCol))
      .withColumn("__one", pmod(col(idCol).cast("long"), lit(1L))).alias("q")
    val w = Window.partitionBy(col(s"q.$idCol"))
      .orderBy(col("cosine").desc, col(s"d.$idCol"))
    d.join(broadcast(q),
        col("q.__one") === col("d.__one") && col(s"q.$idCol") =!= col(s"d.$idCol"))
      .withColumn("cosine", nCosine(data.sparkSession, col(s"q.$embCol"), col(s"d.$embCol")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(s"q.$idCol").as("query_id"), col(s"d.$idCol").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Recall@k — the standard ANN quality metric: for each query, the
    * fraction of the EXACT top-k ([[bruteForceTopK]]) that the
    * approximate result set ([[annTopK]] / [[ivfTopK]] /
    * [[pqTopKFromCodes]]) recovered. Both inputs are
    * `(query_id, neighbor_id, ...)` result sets. Output is one row per
    * query WITH GROUND TRUTH (a query absent from `exact` has no
    * denominator — callers evaluate over the panel they ranked):
    * `n_exact`, `n_hits`, `recall = n_hits / n_exact`. The division is
    * small-integer-exact, so recall is bit-identical on any engine.
    *
    * Shape at 100 TB: both result sets are panel-sized (queries × k),
    * not corpus-sized — everything here is dimension-table work. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("neighbor_id"))
    val ap = approx.select(col("query_id"), col("neighbor_id"))
    val nEx = ex.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val hits = ap.join(ex, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    nEx.join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall", col("n_hits").cast("double") / col("n_exact"))
  }

  /** Round-half-away-from-zero — Spark `round()` and DuckDB `round()`
    * both round halves AWAY from zero; `math.round` rounds toward
    * +∞, which disagrees on negative halves — a driver-side replay of
    * an engine quantization must use this. */
  private def roundHalfAway(x: Double): Long =
    if (x >= 0) math.round(x) else -math.round(-x)

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein) —
    * the diversity pass a RAG retriever runs over its candidate list:
    * greedily pick `k` items maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)` so near-duplicate hits
    * stop crowding out coverage. The greedy loop is inherently
    * sequential and the candidate list is top-N-sized BY CONSTRUCTION
    * (a retriever's output, never the corpus) — so this runs on the
    * driver over the collected candidates, with `maxCandidates` the
    * loud ceiling (the [[trainCodebook]] "models are driver-resident"
    * posture; the corpus-scaled work already happened upstream in the
    * index probe that produced `candidates`).
    *
    * Determinism: each step's selection value quantizes ONCE to
    * `mmr_q = round((λ·rel − (1−λ)·maxSim)·2²⁰)` (half away from
    * zero, the engine rule) and ties break to the smaller id — the
    * whole trajectory is exactly replayable as `k` unrolled argmax
    * CTEs. `maxSim` is 0 while the selected set is empty, so step 1
    * is the pure-relevance argmax. Cosines are spelled exactly as the
    * relational scorers spell them (left-associated dot chains,
    * `dot/(√·√)`).
    *
    * `candidates`: `(idCol, relCol)` — ids long-castable, rel double
    * (a cosine, an RRF score… higher = more relevant). `embeddings`
    * supplies `(idCol, embCol)` for every candidate id (missing one
    * raises). Emits `(idCol, relCol, mmr_q, mmr_rank)`, ranks 1..k in
    * selection order. */
  def mmrRerank(
      candidates: DataFrame, embeddings: DataFrame,
      idCol: String, relCol: String, embCol: String,
      k: Int = 10, lambda: Double = 0.7,
      maxCandidates: Int = 1024): DataFrame = {
    val spark = candidates.sparkSession
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda > 0.0 && lambda < 1.0,
      s"lambda must be in (0, 1) — 1 is plain relevance ranking, 0 ignores " +
        s"it entirely; got $lambda")
    val cand = candidates
      .select(col(idCol).cast("long").as("__id"),
        col(relCol).cast("double").as("__rel"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    require(cand.nonEmpty, "mmrRerank: empty candidate set")
    require(cand.size <= maxCandidates,
      s"mmrRerank: ${cand.size} candidates exceed maxCandidates=" +
        s"$maxCandidates — MMR is a top-N re-ranker, trim upstream or " +
        "raise the ceiling deliberately")
    require(cand.map(_._1).distinct.size == cand.size,
      s"mmrRerank: duplicate candidate ids")
    val ids = cand.map(_._1)
    val vecs: Map[Long, Seq[Double]] = embeddings
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol).cast("long"),
        transform(col(embCol), x => x.cast("double")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val missing = ids.filterNot(vecs.contains)
    require(missing.isEmpty,
      s"mmrRerank: no embedding for candidate ids ${missing.take(5)}")
    def dotD(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val norm: Map[Long, Double] =
      vecs.map { case (id, v) => id -> math.sqrt(dotD(v, v)) }
    def sim(a: Long, b: Long): Double =
      dotD(vecs(a), vecs(b)) / (norm(a) * norm(b))
    val oneMinus = 1.0 - lambda
    var remaining = cand.map { case (id, rel) => (id, rel, 0.0) } // (id, rel, maxSim)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Long, Int)]
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel, ms) =>
        (id, rel, ms, roundHalfAway((lambda * rel - oneMinus * ms) * 1048576.0))
      }
      val (bid, brel, _, bq) = scored.minBy { case (id, _, _, q) => (-q, id) }
      picked += ((bid, brel, bq, rank))
      remaining = remaining.collect {
        case (id, rel, ms) if id != bid => (id, rel, math.max(ms, sim(id, bid)))
      }
      rank += 1
    }
    import spark.implicits._
    picked.toSeq.toDF("__id", "__rel", "mmr_q", "mmr_rank")
      .select(col("__id").as(idCol), col("__rel").as(relCol),
        col("mmr_q"), col("mmr_rank"))
  }

  /** Deterministic IVF codebook: the `k` rows with the smallest ids.
    * Real systems train k-means; the codebook is always tiny and
    * driver-resident — the Spark-side shape (broadcast argmax assign,
    * cell equi-join probe) is identical either way. */
  def deterministicCentroids(
      df: DataFrame, embCol: String, idCol: String, k: Int): Seq[(Long, Seq[Double])] =
    df.select(col(idCol).cast("long"), asDouble(col(embCol)))
      .orderBy(col(idCol)).limit(k).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq

  /** The `exactMean` quantization step: 2^20. Quantization error is
    * ~5e-7 per coordinate — noise for codebook quality, determinism
    * for the training. */
  val ExactMeanScale: Double = 1048576.0

  /** k-means-trained IVF codebook (Lloyd's algorithm, DataFrame-native):
    * seeds from [[deterministicCentroids]], then `iters` rounds of
    * assign — the narrow zero-shuffle literal-codebook argmax of
    * [[ivfAssign]] — followed by ONE per-cell groupBy computing the
    * element-wise mean. Per round: one scan, one shuffle on `cell`
    * (k-bounded), one k-by-dim driver collect (the codebook is always
    * tiny and driver-resident). Cells that go empty keep their previous
    * centroid.
    *
    * With `exactMean = false` centroid means average doubles in
    * partial-aggregation order, so training is not bit-deterministic
    * across cluster layouts — fine when only assignment quality
    * matters. `exactMean = true` instead sums each coordinate
    * QUANTIZED to integers (round(x * 2^20) — exact, order-free
    * integer addition) and divides once at the end: training becomes
    * bit-reproducible on any cluster layout and re-derivable
    * relationally, which is what the q63/q64 oracles check. */
  def trainCodebook(
      df: DataFrame, embCol: String, idCol: String,
      k: Int, dim: Int, iters: Int = 5,
      exactMean: Boolean = false): Seq[(Long, Seq[Double])] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var centroids = deterministicCentroids(df, embCol, idCol, k)
    for (_ <- 0 until iters) {
      // project the cast array ONCE; element_at then hits the
      // materialized column. Folding asDouble(col(embCol)) into every
      // aggregate would re-run the array cast per output column —
      // O(dim^2) per row per iteration (the same Catalyst inlining
      // pitfall as outer-column lambda references; CollapseProject
      // keeps this projection because the alias is non-cheap and
      // referenced dim times).
      val cast = ivfAssign(df, embCol, centroids)
        .select(col("cell"), asDouble(col(embCol)).as("__emb"))
      val means: Map[Long, Seq[Double]] =
        if (exactMean)
          cast.groupBy("cell")
            .agg(count(lit(1)).as("__n"),
              (0 until dim).map(j =>
                sum(round(element_at(col("__emb"), j + 1) * ExactMeanScale)
                  .cast("long")).as(s"m$j")): _*)
            .collect()
            .map { r =>
              val n = r.getLong(1).toDouble
              r.getLong(0) ->
                (0 until dim).map(j => r.getLong(j + 2).toDouble / n / ExactMeanScale).toSeq
            }.toMap
        else
          cast.groupBy("cell")
            .agg(avg(element_at(col("__emb"), 1)).as("m0"),
              (1 until dim).map(j => avg(element_at(col("__emb"), j + 1)).as(s"m$j")): _*)
            .collect()
            .map(r => r.getLong(0) -> (0 until dim).map(j => r.getDouble(j + 1)).toSeq)
            .toMap
      centroids = centroids.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    centroids
  }

  /** Ceiling on a nearest-class-mean model's class count — the
    * prototype table is a driver-resident model. */
  val MaxProtoClasses: Int = 1 << 12

  /** Nearest-class-mean (Rocchio / prototype) classifier over
    * embeddings — the cheap embedding-space domain/quality filter
    * (a labeled seed set stands in for a trained head; the
    * FineWeb-style "classifier gate" at its simplest): each class's
    * prototype is the EXACT-integer mean of its training embeddings
    * (the [[trainCodebook]] `exactMean` discipline — coordinates
    * quantized `round(x·2²⁰)`, order-free BIGINT sums, one division
    * at the end — so training is bit-reproducible on any cluster
    * layout and re-derivable relationally), and every scored row
    * takes the argmax-cosine prototype, ties to the LOWEST label.
    *
    * 100 TB shape: ONE class-keyed aggregate over the (small) train
    * split builds the model; scoring is a narrow zero-shuffle
    * literal-prototype argmax over the corpus — the [[ivfAssign]]
    * shape with class prototypes for cells. Appends `pred_label`
    * (long) and `pred_cosine` to `score`'s rows. */
  def centroidClassify(
      train: DataFrame, score: DataFrame, embCol: String, idCol: String,
      labelCol: String, dim: Int): DataFrame = {
    val spark = train.sparkSession
    val cast = train.select(col(labelCol).cast("long").as("__lbl"),
      asDouble(col(embCol)).as("__emb"))
    val rows = cast.groupBy("__lbl")
      .agg(count(lit(1)).as("__n"),
        (0 until dim).map(j =>
          sum(round(element_at(col("__emb"), j + 1) * ExactMeanScale)
            .cast("long")).as(s"s$j")): _*)
      .collect()
    require(rows.nonEmpty, "centroidClassify: the train split is empty")
    require(rows.length <= MaxProtoClasses,
      s"centroidClassify: ${rows.length} classes exceed the " +
        s"driver-resident-model ceiling $MaxProtoClasses")
    rows.foreach { r =>
      require(!r.isNullAt(0),
        "centroidClassify: the train split contains NULL labels — " +
          "filter them out or assign a class before training")
      require(!(2 until dim + 2).exists(r.isNullAt),
        s"centroidClassify: class ${r.getLong(0)} has no non-null " +
          s"$dim-dimensional embeddings — its prototype is undefined")
    }
    val protos: Seq[(Long, Seq[Double])] = rows.map { r =>
      val n = r.getLong(1).toDouble
      r.getLong(0) ->
        (0 until dim).map(j => r.getLong(j + 2).toDouble / n / ExactMeanScale).toSeq
    }.toSeq.sortBy(_._1)
    val cands = protos.map { case (lbl, v) =>
      struct(nCosine(spark, col(embCol), array(v.map(lit): _*)).as("sim"),
        lit(-lbl).as("nl")) // greatest on ties -> highest nl -> LOWEST label
    }
    val best = if (cands.length == 1) cands.head else greatest(cands: _*)
    score.withColumn("__best", best)
      .withColumn("pred_label", -col("__best.nl"))
      .withColumn("pred_cosine", col("__best.sim"))
      .drop("__best")
  }

  /** Max-cosine centroid (struct argmax; ties -> highest centroid id)
    * of each row's embedding. */
  private[ops] def bestCells(
      s: SparkSession, embCol: String, centroids: Seq[(Long, Seq[Double])]): Seq[Column] =
    centroids.map { case (cid, vec) =>
      struct(nCosine(s, col(embCol), array(vec.map(lit): _*)).as("sim"), lit(cid).as("cid"))
    }

  /** IVF coarse quantization: assign every row to its max-cosine
    * centroid cell. The codebook is a literal expression per centroid
    * (no join, no shuffle — a narrow codegen'd pass, the 100 TB shape
    * for inverted-file partitioning). */
  def ivfAssign(df: DataFrame, embCol: String, centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "ivfAssign needs at least one centroid")
    val cells = bestCells(df.sparkSession, embCol, centroids)
    // greatest() requires >= 2 args; a 1-centroid codebook is legal
    val best = if (cells.length == 1) cells.head else greatest(cells: _*)
    df.withColumn("__best", best)
      .withColumn("cell", col("__best.cid"))
      .drop("__best")
  }

  /** IVF approximate top-k: data is assigned to cells once; each query
    * probes its `nProbe` best cells and ranks only same-cell rows —
    * candidates come from a cell equi-join instead of a cross join,
    * with recall tunable via nProbe. */
  def ivfTopK(
      data: DataFrame, queries: DataFrame, embCol: String, idCol: String,
      centroids: Seq[(Long, Seq[Double])], k: Int = 10, nProbe: Int = 2): DataFrame = {
    val d = ivfAssign(data, embCol, centroids).alias("d")
    val probed = queries
      .withColumn("__cells",
        slice(reverse(array_sort(array(bestCells(queries.sparkSession, embCol, centroids): _*))),
          1, nProbe))
      .withColumn("cell", explode(transform(col("__cells"), c => c.getField("cid"))))
      .drop("__cells").alias("q")
    val w = Window.partitionBy(col(s"q.$idCol")).orderBy(col("cosine").desc, col(s"d.$idCol"))
    probed.join(d, col("q.cell") === col("d.cell") && col(s"q.$idCol") =!= col(s"d.$idCol"))
      .withColumn("cosine", nCosine(data.sparkSession, col(s"q.$embCol"), col(s"d.$embCol")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(s"q.$idCol").as("query_id"), col(s"d.$idCol").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Deterministic per-subspace product-quantization codebooks: the
    * `k` smallest-id rows' subvectors, one codebook per subspace (the
    * PQ twin of [[deterministicCentroids]]; production swaps in
    * [[trainCodebook]]-style Lloyd's per subspace without changing
    * [[pqEncode]]'s shape). Requires the embedding dim to divide into
    * `m` equal subspaces. */
  def pqSubCodebooks(
      df: DataFrame, embCol: String, idCol: String,
      m: Int, k: Int): Seq[Seq[(Long, Seq[Double])]] = {
    val rows = deterministicCentroids(df, embCol, idCol, k)
    require(rows.nonEmpty, "pqSubCodebooks needs at least one row")
    val dim = rows.head._2.length
    require(m >= 1 && dim % m == 0, s"dim $dim does not divide into $m subspaces")
    val sub = dim / m
    (0 until m).map(mi =>
      rows.map { case (cid, v) => cid -> v.slice(mi * sub, (mi + 1) * sub) })
  }

  /** Product-quantization encode: each embedding is cut into `m`
    * subvectors and each coded to its nearest sub-centroid by L2 —
    * `m` small codes replace the full vector (the compact-code ANN
    * representation: at 100 TB the code table is what gets scanned,
    * not the raw vectors). The codebooks are literal expressions, so
    * the whole encode is a NARROW zero-shuffle pass like [[ivfAssign]].
    * Distances fold left-to-right per subspace (`(x-y)^2` zip, then a
    * sequential sum) — bit-identical to an explicit SQL sum chain, so
    * codes are oracle-checkable. Ties go to the smallest centroid id. */
  def pqEncode(
      df: DataFrame, embCol: String,
      codebooks: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "pqEncode needs at least one centroid per subspace")
    val subDim = codebooks.head.head._2.length
    require(codebooks.flatten.forall(_._2.length == subDim),
      "all sub-centroids must share the subspace dimension")
    val emb = asDouble(col(embCol))
    codebooks.zipWithIndex.foldLeft(df) { case (d, (cb, mi)) =>
      val subv = slice(emb, lit(mi * subDim + 1), lit(subDim))
      val cells = cb.map { case (cid, cv) =>
        val diffSq = zip_with(subv, array(cv.map(lit): _*), (x, y) => (x - y) * (x - y))
        struct(aggregate(diffSq, lit(0.0), (acc, v) => acc + v).as("dist"),
          lit(cid).as("cid"))
      }
      val best = if (cells.length == 1) cells.head else least(cells: _*)
      d.withColumn(s"code_$mi", best.getField("cid"))
    }
  }

  /** k-means-TRAINED product-quantization codebooks: per-subspace
    * Lloyd's rounds (the [[trainCodebook]] pattern applied to each of
    * the `m` subspaces at once). Seeds from [[pqSubCodebooks]], then
    * per round: ONE [[pqEncode]] assignment pass (narrow literal
    * argmin by squared L2, ties to the smallest centroid id — the
    * exact rule the encoder itself uses, so training optimizes the
    * quantizer that will actually run) followed by ONE
    * `(subspace, code)`-keyed aggregate computing every sub-centroid
    * mean — the m subspaces share a single shuffle per round via
    * posexplode, and the aggregate output is `m x k` rows regardless
    * of corpus size. Means are exact-integer quantized
    * (round(x * 2^20) summed as longs, divided once — order-free,
    * bit-reproducible on any cluster layout, re-derivable
    * relationally; the [[trainCodebook]] `exactMean` discipline).
    * Sub-cells that go empty keep their previous centroid. */
  def trainPqCodebooks(
      df: DataFrame, embCol: String, idCol: String,
      m: Int, k: Int, dim: Int, iters: Int = 5): Seq[Seq[(Long, Seq[Double])]] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(m >= 1 && dim % m == 0, s"dim $dim does not divide into $m subspaces")
    var codebooks = pqSubCodebooks(df, embCol, idCol, m, k)
    val subDim = dim / m
    for (_ <- 0 until iters) {
      // project the cast ONCE (the trainCodebook lesson), then explode
      // the m (subspace, code) assignments of each row into rows and
      // slice out the matching subvector — one scan, one m*k-bounded
      // shuffle, never one aggregate per subspace
      val enc = pqEncode(df, embCol, codebooks)
        .select(asDouble(col(embCol)).as("__emb"),
          array((0 until m).map(mi => col(s"code_$mi")): _*).as("__codes"))
        .select(posexplode(col("__codes")).as(Seq("mi", "code")), col("__emb"))
        .select(col("mi"), col("code"),
          slice(col("__emb"), col("mi") * subDim + 1, lit(subDim)).as("__sub"))
      val means: Map[(Int, Long), Seq[Double]] =
        enc.groupBy("mi", "code")
          .agg(count(lit(1)).as("__n"),
            (0 until subDim).map(j =>
              sum(round(element_at(col("__sub"), j + 1) * ExactMeanScale)
                .cast("long")).as(s"m$j")): _*)
          .collect()
          .map { r =>
            val n = r.getLong(2).toDouble
            (r.getInt(0), r.getLong(1)) ->
              (0 until subDim).map(j => r.getLong(j + 3).toDouble / n / ExactMeanScale).toSeq
          }.toMap
      codebooks = codebooks.zipWithIndex.map { case (cb, mi) =>
        cb.map { case (cid, old) => cid -> means.getOrElse((mi, cid), old) }
      }
    }
    codebooks
  }

  /** LUT-size ceiling for the when-chain ADC formulation: past ~1k
    * total entries the single generated expression approaches janino's
    * 64 KB method limit and falls back to interpreted eval — exactly
    * the hot path that must stay compiled. Larger codebooks switch to
    * m broadcast equi-joins against literal LUT frames (the
    * [[graft.ops.AnnIndex.queryBatch]] shape), bit-equal by
    * construction: the SAME driver-computed lookup doubles enter the
    * plan as join payloads instead of when-branch literals, and the
    * per-subspace columns add in the same left-to-right order. */
  val MaxWhenChainLutEntries: Int = 1024

  /** PQ asymmetric-distance top-k (ADC) over an ALREADY-ENCODED code
    * table (`code_0..code_{m-1}` columns, as produced by [[pqEncode]]):
    * the query vector stays exact; every data row is scored from its
    * CODES ALONE by summing per-subspace lookup tables
    * dist(query_sub, centroid[code]) built driver-side (m × k doubles).
    * The scan touches only the m code columns — at 100 TB this is the
    * point of PQ: codes are precomputed at ingest and the raw vectors
    * are never read at query time. Scoring is a narrow sum of m CASE
    * lookups; top-k is orderBy+limit (TakeOrdered per-partition heaps).
    * Lookup distances fold left-to-right like [[pqEncode]]'s, so
    * results stay oracle-checkable. */
  def pqTopKFromCodes(
      encoded: DataFrame, idCol: String,
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      queryVec: Seq[Double], k: Int = 10): DataFrame = {
    val luts = pqQueryLuts(codebooks, queryVec)
    val scored =
      if (codebooks.map(_.size).sum <= MaxWhenChainLutEntries) {
        val score = luts.zipWithIndex.map { case (lut, mi) =>
          // codes always hit a cid, so the chain needs no otherwise
          lut.tail.foldLeft(when(col(s"code_$mi") === lut.head._1, lit(lut.head._2))) {
            case (acc, (cid, d)) => acc.when(col(s"code_$mi") === cid, lit(d))
          }
        }.reduce(_ + _)
        encoded.withColumn("pq_dist", score)
      } else pqScoreJoined(encoded, luts)
    scored
      .orderBy(col("pq_dist").asc, col(idCol))
      .limit(k)
      .select(col(idCol), col("pq_dist"))
  }

  /** Per-subspace `(cid, dist(query_sub, centroid))` lookup tables,
    * computed driver-side — the shared input of both ADC formulations
    * (folded left-to-right like [[pqEncode]]'s distances, so either
    * path stays oracle-checkable). */
  private[ops] def pqQueryLuts(
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      queryVec: Seq[Double]): Seq[Seq[(Long, Double)]] = {
    val subDim = codebooks.head.head._2.length
    require(queryVec.length == codebooks.length * subDim,
      s"query dim ${queryVec.length} != ${codebooks.length} x $subDim")
    codebooks.zipWithIndex.map { case (cb, mi) =>
      val qs = queryVec.slice(mi * subDim, (mi + 1) * subDim)
      cb.map { case (cid, cv) =>
        cid -> qs.zip(cv).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
      }
    }
  }

  /** Join-based ADC scoring for codebooks past the when-chain ceiling:
    * each subspace's LUT becomes a k-row literal frame broadcast-joined
    * on the code column — m compact equi-joins instead of one
    * m·k-branch expression, whole-stage-codegen-clean at any size. */
  private[ops] def pqScoreJoined(
      encoded: DataFrame, luts: Seq[Seq[(Long, Double)]]): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val joined = luts.zipWithIndex.foldLeft(encoded) { case (df, (lut, mi)) =>
      df.join(
        broadcast(lut.toDF(s"code_$mi", s"__qd$mi")), Seq(s"code_$mi"))
    }
    joined.withColumn("pq_dist",
      luts.indices.map(mi => col(s"__qd$mi")).reduce(_ + _))
      .drop(luts.indices.map(mi => s"__qd$mi"): _*)
  }

  /** Convenience ADC top-k from RAW embeddings: derives the codes on
    * the fly with [[pqEncode]] (so this variant DOES read the vectors)
    * and delegates to [[pqTopKFromCodes]]. Production keeps a
    * materialized code table and queries it directly. */
  def pqTopK(
      data: DataFrame, embCol: String, idCol: String,
      codebooks: Seq[Seq[(Long, Seq[Double])]],
      queryVec: Seq[Double], k: Int = 10): DataFrame =
    pqTopKFromCodes(pqEncode(data, embCol, codebooks), idCol, codebooks, queryVec, k)

  /** Per-dimension `(min, max)` ranges for int8 scalar quantization
    * ([[sqEncode]]) — ONE bounded aggregate (2 × dim output columns,
    * map-side partial min/max), collected to the driver like every
    * model in this library. The cast array is projected ONCE before
    * the per-dimension `element_at`s (the [[trainCodebook]] lesson:
    * folding the cast into each aggregate re-runs it per column). */
  def sqFit(df: DataFrame, embCol: String, dim: Int): Seq[(Double, Double)] = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    // r17: ONE posexplode + a dim-group aggregate instead of a 2·dim-
    // expression-wide agg — 128 aggregate expressions exceed the
    // whole-stage-codegen field limit (spark.sql.codegen.maxFields =
    // 100), so the wide form ran INTERPRETED and paid ~0.15 s of
    // per-task buffer setup on every partition (q89 profile: 15.7
    // task-seconds on 2 000 rows). Same exact min/max per dimension;
    // a position with no non-null value keeps the old
    // getDouble(null)=0.0 reading.
    val byDim = df
      .select(posexplode(asDouble(col(embCol))).as(Seq("__j", "__x")))
      .groupBy("__j").agg(min(col("__x")).as("mn"), max(col("__x")).as("mx"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    (0 until dim).map(j => byDim.getOrElse(j, (0.0, 0.0)))
  }

  /** Int8 scalar quantization (SQ8 — the FAISS `ScalarQuantizer`
    * shape): each coordinate is affinely mapped to a 0..255 code,
    * `code_j = clamp(round((x_j - min_j) / scale_j))` with
    * `scale_j = (max_j - min_j) / 255` — a 4× (float) / 8× (double)
    * compression that, unlike PQ, keeps per-dimension resolution.
    * Appends `codes` (array<int>) and `recon_err` (the squared-L2
    * reconstruction error against the dequantized vector — the
    * quantization-quality signal; per-dimension terms are quantized to
    * 2^-20 and summed as exact integers, so the error is bit-identical
    * on any engine). A degenerate dimension (max == min) codes to 0.
    *
    * Shape at 100 TB: the stats are 2 × dim driver-resident doubles
    * baked into the expression as literals — the encode is a NARROW
    * zero-shuffle codegen'd pass like [[pqEncode]]. */
  def sqEncode(
      df: DataFrame, embCol: String,
      stats: Seq[(Double, Double)]): DataFrame = {
    require(stats.nonEmpty, "sqEncode needs at least one dimension stat")
    val scales = stats.map { case (mn, mx) => (mx - mn) / 255.0 }
    val emb = col("__sqemb")
    val codes = stats.zipWithIndex.map { case ((mn, _), j) =>
      if (scales(j) == 0.0) lit(0)
      else least(lit(255), greatest(lit(0),
        round((element_at(emb, j + 1) - mn) / scales(j)).cast("int")))
    }
    val errQ = stats.zipWithIndex.map { case ((mn, _), j) =>
      val xhat = lit(mn) + element_at(col("codes"), j + 1).cast("double") * scales(j)
      val d = element_at(emb, j + 1) - xhat
      round(d * d * TextAnalysis.LogQuantScale).cast("long")
    }.reduce(_ + _)
    df.withColumn("__sqemb", asDouble(col(embCol)))
      .withColumn("codes", array(codes: _*))
      .withColumn("recon_err", errQ.cast("double") / TextAnalysis.LogQuantScale)
      .drop("__sqemb")
  }

  /** SQ asymmetric-distance top-k over an ALREADY-ENCODED code table
    * (`codes` as produced by [[sqEncode]]): the query stays exact,
    * every row is scored from its codes alone by squared-L2 against
    * the dequantized coordinates — at scale the materialized code
    * table is what gets scanned, never the raw vectors (the
    * [[pqTopKFromCodes]] story with per-dimension resolution).
    * Distance terms are quantized to 2^-20 and summed as exact
    * integers, so the ranking (dist asc, id) is engine-portable;
    * `sq_dist` reports the dequantized double. TakeOrdered — no
    * global sort. */
  def sqTopKFromCodes(
      encoded: DataFrame, idCol: String,
      stats: Seq[(Double, Double)], queryVec: Seq[Double],
      k: Int = 10): DataFrame = {
    require(queryVec.length == stats.length,
      s"query dim ${queryVec.length} != ${stats.length}")
    val scales = stats.map { case (mn, mx) => (mx - mn) / 255.0 }
    val distQ = stats.zipWithIndex.map { case ((mn, _), j) =>
      val xhat = lit(mn) + element_at(col("codes"), j + 1).cast("double") * scales(j)
      val d = lit(queryVec(j)) - xhat
      round(d * d * TextAnalysis.LogQuantScale).cast("long")
    }.reduce(_ + _)
    encoded.withColumn("__dq", distQ)
      .orderBy(col("__dq").asc, col(idCol))
      .limit(k)
      .select(col(idCol),
        (col("__dq").cast("double") / TextAnalysis.LogQuantScale).as("sq_dist"))
  }

  /** Embedding-cosine near-duplicate pairs: LSH bucket, then pairwise
    * cosine within buckets, keep pairs above `threshold`. */
  def cosineNearDupPairs(
      df: DataFrame, embCol: String, idCol: String,
      dim: Int, threshold: Double = 0.95, numPlanes: Int = 8): DataFrame = {
    val b = lshBucket(df, embCol, dim, numPlanes)
    val a = b.alias("a"); val c = b.alias("c")
    a.join(c, col("a.bucket") === col("c.bucket") && col(s"a.$idCol") < col(s"c.$idCol"))
      .withColumn("cosine", nCosine(df.sparkSession, col(s"a.$embCol"), col(s"c.$embCol")))
      .filter(col("cosine") >= threshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"c.$idCol").as("id_b"), col("cosine"))
  }

  /** Embedding near-dup dedup end to end — the vector-space twin of
    * [[Dedup.nearDuplicates]]: bucketed cosine pairs, then TRANSITIVE
    * connected components so chains A~B~C collapse onto one keeper.
    * Every flagged row's `dup_of` points at the minimum id in its
    * cluster. The pair list is materialized once (it feeds both
    * directions of the component graph). */
  def cosineNearDuplicates(
      df: DataFrame, embCol: String, idCol: String,
      dim: Int, threshold: Double = 0.95, numPlanes: Int = 8): DataFrame = {
    val pairs = cosineNearDupPairs(df, embCol, idCol, dim, threshold, numPlanes)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      .localCheckpoint(false)
    val dupMap = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol), col("comp").as("dup_of"))
    df.join(dupMap, Seq(idCol), "left")
      .withColumn("is_near_duplicate", col("dup_of").isNotNull)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by k-means clustering — train an `exactMean`
    * codebook ([[trainCodebook]] — bit-deterministic Lloyd's), assign
    * every embedding to its max-cosine cell (narrow literal-codebook
    * argmax, zero shuffle), compare pairs ONLY within a cell, and
    * collapse transitive near-dup groups onto their minimum id (the
    * paper keeps one representative per group; min-id is this
    * library's deterministic choice throughout). Differs from
    * [[cosineNearDuplicates]] exactly as the paper differs from plain
    * LSH: clusters are LEARNED from the data's own density, so
    * semantically-close-but-bit-different documents land in one cell
    * without a hyperplane family's tuning.
    *
    * Adds `dup_of` + `is_semantic_duplicate`. 100 TB shape: the
    * codebook is driver-resident (k × dim), assignment narrow; the
    * within-cell self-join is the paper's own cost model — size `k`
    * so cells stay pairwise-feasible (they use k ~ sqrt(N)/const).
    * The quadratic is BOUNDED, not assumed: a cell above
    * `maxCellSize` (a duplicated web corpus produces exactly such
    * degenerate cells) refuses loudly by default — raise `k`, the
    * paper's own prescription — or, with `bandOversized = true`, only
    * the oversized cells switch to banded candidate generation (the
    * minhash/simhash banding move): `bands` sign-bit keys of
    * `planesPerBand` hyperplanes each, candidates = same cell AND
    * agreement on ≥ 1 band, DISTINCT, then exact-cosine verified.
    * Probabilistic recall inside those cells only — and the
    * near-identical mass that blew the cell up agrees on every band,
    * so it is exactly what banding retains; healthy cells keep the
    * paper's exact within-cell semantics bit-for-bit. Pairs are
    * materialized once and feed both component directions. */
  def semDeDup(
      df: DataFrame, embCol: String, idCol: String,
      k: Int, dim: Int, iters: Int = 2, threshold: Double = 0.95,
      maxCellSize: Long = MaxSemDedupCell, bandOversized: Boolean = false,
      bands: Int = 4, planesPerBand: Int = 4): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    require(bands >= 1 && planesPerBand >= 1 && bands * planesPerBand <= 30,
      s"bands x planesPerBand out of [1, 30]: $bands x $planesPerBand")
    val spark = df.sparkSession
    val codebook = trainCodebook(df, embCol, idCol, k, dim, iters, exactMean = true)
    val cells = ivfAssign(df, embCol, codebook)
      .select(col(idCol), col(embCol), col("cell"))
      .localCheckpoint(false)
    // the skew check is one aggregate over the k-bounded cell space
    val oversized = cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCellSize)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(oversized.isEmpty || bandOversized,
      s"semDeDup: cell(s) above maxCellSize=$maxCellSize — " +
        oversized.map { case (c, n) =>
          s"cell $c holds $n rows (~${n * n / 2} pair candidates)" }
          .mkString("; ") +
        ". Raise k (the paper sizes k so cells stay pairwise-feasible)" +
        " or set bandOversized = true to switch the oversized cells to" +
        " banded candidate generation (probabilistic recall there only).")
    def allPairsOf(in: DataFrame): DataFrame = {
      val a = in.alias("a"); val c = in.alias("c")
      a.join(c, col("a.cell") === col("c.cell") && col(s"a.$idCol") < col(s"c.$idCol"))
        .withColumn("cosine",
          nCosine(spark, col(s"a.$embCol"), col(s"c.$embCol")))
        .filter(col("cosine") >= threshold)
        .select(col(s"a.$idCol").as("doc_a"), col(s"c.$idCol").as("doc_b"))
    }
    val pairs = (if (oversized.isEmpty) allPairsOf(cells) else {
      val overIds = oversized.map(_._1)
      val healthy = allPairsOf(cells.filter(!col("cell").isin(overIds: _*)))
      // banded candidates inside the oversized cells: ONE sign-bit
      // bucket of bands*planesPerBand hyperplanes, sliced into
      // per-band keys; candidates = same cell AND >= 1 agreeing band,
      // DISTINCT before the exact-cosine verify (the
      // Dedup.nearDuplicates candidate discipline)
      val bb = lshBucket(cells.filter(col("cell").isin(overIds: _*)),
          embCol, dim, bands * planesPerBand)
        .localCheckpoint(false)
      val cand = bandedCandidates(bb, idCol, bands, planesPerBand)
      val emb = bb.select(col(idCol), col(embCol))
      val banded = cand
        .join(emb.select(col(idCol).as("doc_a"), col(embCol).as("__ea")), Seq("doc_a"))
        .join(emb.select(col(idCol).as("doc_b"), col(embCol).as("__eb")), Seq("doc_b"))
        .withColumn("cosine", nCosine(spark, col("__ea"), col("__eb")))
        .filter(col("cosine") >= threshold)
        .select(col("doc_a"), col("doc_b"))
      healthy.unionByName(banded)
    }).localCheckpoint(false)
    val dupMap = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol), col("comp").as("dup_of"))
    df.join(dupMap, Seq(idCol), "left")
      .withColumn("is_semantic_duplicate", col("dup_of").isNotNull)
  }

  /** [[semDeDup]]'s oversized-cell candidate generator, factored out
    * so the pair-count bound is directly testable: per band `i`, the
    * key is `planesPerBand` sign bits sliced out of the ONE
    * `lshBucket` value; candidates = same cell AND same key on ≥ 1
    * band, `(doc_a < doc_b)`-oriented, DISTINCT across bands. */
  private[graft] def bandedCandidates(
      bb: DataFrame, idCol: String, bands: Int, planesPerBand: Int): DataFrame = {
    val mask = (1 << planesPerBand) - 1
    (0 until bands).map { i =>
      val keyed = bb.withColumn("__band",
        shiftright(col("bucket"), i * planesPerBand).bitwiseAND(lit(mask)))
      val a = keyed.alias("a"); val c = keyed.alias("c")
      a.join(c, col("a.cell") === col("c.cell") &&
          col("a.__band") === col("c.__band") &&
          col(s"a.$idCol") < col(s"c.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"), col(s"c.$idCol").as("doc_b"))
    }.reduce(_ unionByName _).distinct()
  }

  /** Embedding-distribution drift between two corpus snapshots under
    * a FROZEN codebook — the measurement [[AnnIndex]]'s retrain
    * contract calls for ("retrain deliberately when drift warrants")
    * and the vector-side sibling of the text monitors (corpusDiff /
    * vocabDrift): assign BOTH snapshots to the standing centroids
    * (the index's own quantizers), then per cell report the
    * population share and the mean cosine-to-centroid fit of each
    * snapshot. A cell whose share moved is traffic drift; a cell
    * whose NEW fit degraded holds vectors its centroid no longer
    * represents — the retrain signal.
    *
    * Exact-integer discipline: per-row fit quantizes to
    * `round(cos·2²⁰)` and the per-cell means divide the BIGINT sums,
    * so every output is partition-invariant and engine-replayable.
    * 100 TB shape: one narrow literal-codebook assignment pass per
    * snapshot feeding ONE cell-keyed aggregate each (k-bounded,
    * collected under the driver-resident-model discipline — the
    * totals come from the k rows, no extra corpus pass); the result
    * is a k-row report. Emits `(cell, n_old, n_new, share_old,
    * share_new, fit_old, fit_new)` — shares over each snapshot's own
    * total, fits NULL for an empty cell, one row per centroid even
    * when both snapshots miss it (an emptied cell IS drift). */
  def embeddingDrift(
      oldDf: DataFrame, newDf: DataFrame, embCol: String,
      centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    require(centroids.nonEmpty, "embeddingDrift needs at least one centroid")
    val s = oldDf.sparkSession
    import s.implicits._
    def cellAgg(df: DataFrame): Map[Long, (Long, Long)] = {
      val cells = bestCells(s, embCol, centroids)
      val best = if (cells.length == 1) cells.head else greatest(cells: _*)
      df.withColumn("__b", best)
        .select(col("__b.cid").as("cell"),
          round(col("__b.sim") * lit(1048576.0d)).cast("long").as("__fq"))
        .groupBy("cell").agg(count(lit(1)).as("n"), sum("__fq").as("sq"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    val o = cellAgg(oldDf)
    val nw = cellAgg(newDf)
    val totOld = o.values.map(_._1).sum
    val totNew = nw.values.map(_._1).sum
    val rows = centroids.map(_._1).sorted.map { cid =>
      val (no, sqo) = o.getOrElse(cid, (0L, 0L))
      val (nn, sqn) = nw.getOrElse(cid, (0L, 0L))
      (cid, no, nn,
        if (totOld > 0) no.toDouble / totOld.toDouble else 0.0,
        if (totNew > 0) nn.toDouble / totNew.toDouble else 0.0,
        if (no > 0) Some(sqo.toDouble / no.toDouble / 1048576.0d) else None,
        if (nn > 0) Some(sqn.toDouble / nn.toDouble / 1048576.0d) else None)
    }
    rows.toDF("cell", "n_old", "n_new", "share_old", "share_new",
      "fit_old", "fit_new")
  }

  /** Per-cell row ceiling for [[semDeDup]]'s within-cell self-join:
    * 2¹⁴ rows is ~1.3·10⁸ pair candidates in ONE cell — the largest
    * quadratic a healthy cluster should ever pay. A corpus that
    * breaches it is telling you `k` is too small for its size (or to
    * opt into the banded fallback for the skewed cells). */
  val MaxSemDedupCell: Long = 1L << 14
}
