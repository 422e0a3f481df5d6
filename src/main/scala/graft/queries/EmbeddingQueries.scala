package graft.queries

import org.apache.spark.sql.functions._
import QueryDef._

/** Similarity search over the `embeddings` table (64-dim float
  * vectors). Dot products are generated as explicit left-associative
  * 64-term sums so Spark and DuckDB evaluate the identical IEEE754
  * operation sequence — bit-exact without tolerances.
  */
object EmbeddingQueries {

  val Dim = 64

  /** `a[1]*b[1] + ... + a[64]*b[64]` for the given dialect element
    * accessor. */
  private[queries] def dotSum(elem: (String, Int) => String, a: String, b: String): String =
    (1 to Dim).map(j => s"(${elem(a, j)} * ${elem(b, j)})").mkString(" + ")

  private[queries] def sparkElem(arr: String, j: Int) = s"CAST(element_at($arr, $j) AS DOUBLE)"
  private[queries] def duckElem(arr: String, j: Int) = s"CAST($arr[$j] AS DOUBLE)"

  /** Brute-force cosine top-k against a query vector (vec_id 0): the
    * exact baseline every ANN variant is measured against. At scale the
    * query vector broadcasts and the scan is embarrassingly parallel;
    * the Spark top-k is `orderBy().limit(k)` -> TakeOrderedAndProject
    * (per-partition heaps, no global sort, no single-partition window);
    * rank is attached to the already-sorted 10-row result with
    * zipWithIndex. The DuckDB oracle keeps its window formulation —
    * same rows either way. */
  val q33 = QueryDef(
    "q33_knn_bruteforce",
    (s, dir) => {
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      val scored = s.sql(s"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
            (${dotSum(sparkElem, "embedding", "qv")}) AS dot,
            (${dotSum(sparkElem, "embedding", "embedding")}) AS naa,
            (${dotSum(sparkElem, "qv", "qv")}) AS nbb
          FROM embeddings CROSS JOIN q WHERE vec_id <> 0)
        SELECT vec_id, dot / (sqrt(naa) * sqrt(nbb)) AS cos_raw FROM scored""")
      val top10 = scored.orderBy(col("cos_raw").desc, col("vec_id")).limit(10)
      graft.util.Ids.withRowIndex(top10, "rank")
        .select(col("rank").cast("int").as("rank"), col("vec_id"),
          round(col("cos_raw"), 6).as("cosine"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      scored AS (
        SELECT vec_id,
          (${dotSum(duckElem, "embedding", "qv")}) AS dot,
          (${dotSum(duckElem, "embedding", "embedding")}) AS naa,
          (${dotSum(duckElem, "qv", "qv")}) AS nbb
        FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
      ranked AS (
        SELECT vec_id, dot / (sqrt(naa) * sqrt(nbb)) AS cos_raw,
          row_number() OVER (ORDER BY dot / (sqrt(naa) * sqrt(nbb)) DESC, vec_id) AS rank
        FROM scored)
      SELECT rank, vec_id, round(cos_raw, 6) AS cosine
      FROM ranked WHERE rank <= 10 ORDER BY rank"""),
    bench = true)

  /** Deterministic pseudo-random hyperplane h[p][j] as exact SQL text:
    * integer residue divided by 48.0 — identical double on any engine. */
  private def hval(p: Int, j: Int): String = {
    val v = (p * 131 + (j - 1) * 7919) % 97 - 48
    s"($v/48.0)"
  }

  private def planeDot(elem: (String, Int) => String, p: Int): String =
    (1 to Dim).map(j => s"(${elem("embedding", j)} * ${hval(p, j)})").mkString(" + ")

  private[queries] def bucketExpr(elem: (String, Int) => String): String =
    (0 until 8).map(p =>
      s"(CASE WHEN (${planeDot(elem, p)}) > 0 THEN ${1 << p} ELSE 0 END)"
    ).mkString(" + ")

  /** Random-hyperplane LSH bucketing (the scale path for ANN): 8
    * sign-bits -> 256 buckets; neighbor candidates are then found with
    * an equi-join on bucket instead of an all-pairs scan. */
  val q34 = QueryDef(
    "q34_ann_lsh_bucket",
    (s, dir) => {
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      // sort outside the SQL: a plain ORDER BY would re-execute the
      // 512-term bucket expression for range-bound sampling
      s.sql(s"SELECT vec_id, (${bucketExpr(sparkElem)}) AS bucket FROM embeddings")
        .oracleOrderBy("vec_id")
    },
    Some(s"SELECT vec_id, (${bucketExpr(duckElem)}) AS bucket FROM embeddings ORDER BY vec_id"),
    bench = true)

  /** IVF coarse-quantization cells (the inverted-file ANN scale path,
    * complementing q34's hyperplane LSH): 4 deterministic centroids
    * (vec_id 0..3), every vector assigned to its max-cosine cell, ties
    * to the highest centroid id. Same left-associative dot-product text
    * on both engines -> bit-exact. */
  private def ivfSql(elem: (String, Int) => String): String =
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
      scored AS (
        SELECT vec_id, cid,
          (${dotSum(elem, "embedding", "cv")}) AS dot,
          (${dotSum(elem, "embedding", "embedding")}) AS naa,
          (${dotSum(elem, "cv", "cv")}) AS ncc
        FROM embeddings CROSS JOIN c),
      ranked AS (
        SELECT vec_id, cid, dot/(sqrt(naa)*sqrt(ncc)) AS sim,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY dot/(sqrt(naa)*sqrt(ncc)) DESC, cid DESC) AS rn
        FROM scored)
      SELECT vec_id, cid AS cell, round(sim, 6) AS best_sim
      FROM ranked WHERE rn = 1"""

  val q44 = QueryDef(
    "q44_ivf_cells",
    (s, dir) => {
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      // presentation sort via oracleOrderBy, NOT an ORDER BY in the
      // shared SQL: range-partition bound sampling would execute the
      // heavy IVF scoring subplan twice (the q34 lesson). The shared
      // text carries NO sort; only the oracle appends one.
      s.sql(ivfSql(sparkElem)).oracleOrderBy("vec_id")
    },
    Some(ivfSql(duckElem) + " ORDER BY vec_id"))

  /** Squared-L2 between embedding and centroid over subspace `mi`
    * (16 dims starting at mi*16+1), as an explicit left-associative
    * sum — the same IEEE754 sequence the library's zip+fold runs. */
  private def subL2(elem: (String, Int) => String, mi: Int): String = {
    val sub = Dim / PqM
    (1 to sub).map { j =>
      val idx = mi * sub + j
      val d = s"(${elem("embedding", idx)} - ${elem("cv", idx)})"
      s"($d * $d)"
    }.mkString(" + ")
  }

  private val PqM = 4 // subspaces of 16 dims each

  private def pqSql(elem: (String, Int) => String): String = {
    val picks = (0 until PqM).map { mi =>
      s"""s$mi AS (
          SELECT e.vec_id, c.cid, (${subL2(elem, mi)}) AS dist
          FROM embeddings e CROSS JOIN c),
        p$mi AS (
          SELECT vec_id, cid AS code_$mi FROM (
            SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
            FROM s$mi) ranked$mi WHERE rn = 1)"""
    }.mkString(",\n        ")
    val joins = (1 until PqM).map(mi => s"JOIN p$mi USING (vec_id)").mkString(" ")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
        $picks
      SELECT vec_id, ${(0 until PqM).map(mi => s"code_$mi").mkString(", ")}
      FROM p0 $joins ORDER BY vec_id"""
  }

  /** Product-quantization codes (the compact-code ANN representation):
    * 4 subspaces of 16 dims, each coded to its nearest-L2 deterministic
    * sub-centroid (vec_id 0..3's subvectors), ties to the lowest cid.
    * Drives the LIBRARY op (`Similarity.pqEncode` — narrow literal
    * argmin, zero shuffle); the oracle re-derives every code
    * relationally with explicit per-subspace distance sums. */
  val q58 = QueryDef(
    "q58_pq_codes",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cbs = graft.ops.Similarity.pqSubCodebooks(e, "embedding", "vec_id", m = PqM, k = 4)
      graft.ops.Similarity.pqEncode(e, "embedding", cbs)
        .select(col("vec_id") +: (0 until PqM).map(mi => col(s"code_$mi")): _*)
        .oracleOrderBy("vec_id")
    },
    Some(pqSql(duckElem)),
    bench = true)

  /** Squared-L2 between the query vector and centroid over subspace
    * `mi` — the oracle's lookup-table entry. */
  private def subL2Q(elem: (String, Int) => String, mi: Int): String = {
    val sub = Dim / PqM
    (1 to sub).map { j =>
      val idx = mi * sub + j
      val d = s"(${elem("qv", idx)} - ${elem("cv", idx)})"
      s"($d * $d)"
    }.mkString(" + ")
  }

  private def pqAdcSql(elem: (String, Int) => String): String = {
    val picks = (0 until PqM).map { mi =>
      s"""s$mi AS (
          SELECT e.vec_id, c.cid, (${subL2(elem, mi)}) AS dist
          FROM embeddings e CROSS JOIN c),
        p$mi AS (
          SELECT vec_id, cid AS code_$mi FROM (
            SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
            FROM s$mi) ranked$mi WHERE rn = 1),
        lut$mi AS (SELECT cid, (${subL2Q(elem, mi)}) AS qd FROM c CROSS JOIN q)"""
    }.mkString(",\n        ")
    val joins = (1 until PqM).map(mi => s"JOIN p$mi USING (vec_id)").mkString(" ")
    val lutJoins = (0 until PqM).map(mi => s"JOIN lut$mi l$mi ON l$mi.cid = p$mi.code_$mi").mkString(" ")
    val distSum = (0 until PqM).map(mi => s"l$mi.qd").mkString(" + ")
    s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 4),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        $picks,
        scored AS (
          SELECT p0.vec_id, ($distSum) AS pq_dist
          FROM p0 $joins $lutJoins)
      SELECT vec_id, round(pq_dist, 6) AS adc_dist FROM (
        SELECT vec_id, pq_dist FROM scored
        ORDER BY pq_dist ASC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""
  }

  /** PQ asymmetric-distance top-k (ADC — the compact-code query path):
    * rows are ranked from their q58 codes alone via per-subspace
    * lookup tables against the exact query vector (vec_id 0). Drives
    * the LIBRARY op (`Similarity.pqTopK`, narrow CASE-lookup sum over
    * the m code columns + TakeOrdered); the oracle re-derives codes,
    * lookup tables, and the top-10 relationally. */
  val q59 = QueryDef(
    "q59_pq_adc_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cbs = graft.ops.Similarity.pqSubCodebooks(e, "embedding", "vec_id", m = PqM, k = 4)
      val qv = e.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .collect().head.getSeq[Double](0).toSeq
      graft.ops.Similarity.pqTopK(e, "embedding", "vec_id", cbs, qv, k = 10)
        .select(col("vec_id"), round(col("pq_dist"), 6).as("adc_dist"))
        .oracleOrderBy("vec_id")
    },
    Some(pqAdcSql(duckElem)),
    bench = true)

  // ---- k-means-trained IVF (q63/q64): the oracle re-derives the same
  // Lloyd's rounds relationally. Training is engine-portable because
  // `trainCodebook(exactMean = true)` sums each coordinate QUANTIZED
  // to integers (round(x * 2^20) — exact, order-free addition) and
  // divides once at the end; assignment ties go to the highest cid
  // like ivfAssign's struct-argmax.

  private val TrainIters = 2
  private val TrainK = 4

  /** The `iters` Lloyd's rounds as chained CTEs: `c0` seeds from the
    * 4 smallest ids (= deterministicCentroids), each round assigns
    * every vector to its max-cosine cell and rebuilds the per-cell
    * quantized-mean centroid list; empty cells keep their previous
    * centroid. Ends with `c{iters}`. Every CTE is MATERIALIZED:
    * DuckDB inlines plain CTEs per reference, and each `cv[j]` access
    * would re-expand the previous round's whole centroid expression —
    * exponential across rounds (the un-materialized form OOMs at
    * sf0.01). */
  private def lloydCtes(elem: (String, Int) => String, iters: Int): String = {
    val seed =
      s"c0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cid, " +
        s"CAST(embedding AS DOUBLE[]) AS cv FROM embeddings WHERE vec_id < $TrainK)"
    val rounds = (1 to iters).map { r =>
      val prev = s"c${r - 1}"
      val sums = (0 until Dim).map(j =>
        s"sum(CAST(round(${elem("e.embedding", j + 1)} * 1048576.0) AS BIGINT)) AS s$j")
        .mkString(", ")
      val coords = (0 until Dim).map(j => s"CAST(s$j AS DOUBLE) / n / 1048576.0")
        .mkString(", ")
      s"""a$r AS MATERIALIZED (
        SELECT vec_id, cid AS cell FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY (${dotSum(elem, "e.embedding", "c.cv")})
                / (sqrt(${dotSum(elem, "e.embedding", "e.embedding")})
                   * sqrt(${dotSum(elem, "c.cv", "c.cv")})) DESC, c.cid DESC) AS rn
          FROM embeddings e CROSS JOIN $prev c) t$r WHERE rn = 1),
      m$r AS MATERIALIZED (
        SELECT cell, [$coords] AS mv FROM (
          SELECT cell, count(*) AS n, $sums
          FROM embeddings e JOIN a$r USING (vec_id) GROUP BY cell) g$r),
      c$r AS MATERIALIZED (
        SELECT p.cid, coalesce(m.mv, p.cv) AS cv
        FROM $prev p LEFT JOIN m$r m ON m.cell = p.cid)"""
    }
    (seed +: rounds).mkString(",\n      ")
  }

  private def trainedCodebook(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[(Long, Seq[Double])] =
    graft.ops.Similarity.trainCodebook(t(s, dir, "embeddings"), "embedding", "vec_id",
      k = TrainK, dim = Dim, iters = TrainIters, exactMean = true)

  /** The trained codebook ITSELF, one row per (centroid, coordinate) —
    * the direct bit-level check that `trainCodebook(exactMean = true)`
    * equals the relational Lloyd's re-derivation: two full rounds of
    * assignment + quantized means must agree on every one of the
    * k × dim doubles. */
  val q63 = QueryDef(
    "q63_kmeans_codebook",
    (s, dir) => {
      import s.implicits._
      trainedCodebook(s, dir)
        .flatMap { case (cid, v) => v.zipWithIndex.map { case (x, j) => (cid, j + 1, x) } }
        .toDF("cid", "j", "v")
        .select(col("cid"), col("j").cast("int").as("j"),
          round(col("v"), 6).as("coord"))
        .oracleOrderBy("cid", "j")
    },
    Some(s"""WITH ${lloydCtes(duckElem, TrainIters)}
      SELECT cid, CAST(j AS INTEGER) AS j, round(cv[j], 6) AS coord
      FROM c$TrainIters, LATERAL unnest(generate_series(1, $Dim)) AS u(j)
      ORDER BY cid, j"""),
    bench = true)

  /** IVF probe retrieval over the TRAINED codebook — q48's end-to-end
    * shape (assign every row, probe each query's 2 best cells, rank
    * same-cell candidates by cosine) with the k-means centroids in
    * place of the seed rows; the oracle chains the Lloyd's CTEs into
    * the same assignment/probe/rank pipeline. */
  val q64 = QueryDef(
    "q64_ivf_trained_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 20),
          "embedding", "vec_id", trainedCodebook(s, dir), k = 5, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("cosine"), 6).as("cosine"))
        .oracleOrderBy("query_id", "rank")
    },
    Some {
      val elem: (String, Int) => String = duckElem
      s"""WITH ${lloydCtes(elem, TrainIters)},
        cellscore AS (
          SELECT vec_id, cid,
            (${dotSum(elem, "embedding", "cv")})
              / (sqrt(${dotSum(elem, "embedding", "embedding")})
                 * sqrt(${dotSum(elem, "cv", "cv")})) AS sim
          FROM embeddings CROSS JOIN c$TrainIters),
        cellrank AS (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn
          FROM cellscore),
        assigned AS (SELECT vec_id, cid AS cell FROM cellrank WHERE rn = 1),
        probes AS (SELECT vec_id, cid AS cell FROM cellrank WHERE rn <= 2 AND vec_id < 20),
        cand AS (
          SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id,
            (${dotSum(elem, "eq.embedding", "ed.embedding")})
              / (sqrt(${dotSum(elem, "eq.embedding", "eq.embedding")})
                 * sqrt(${dotSum(elem, "ed.embedding", "ed.embedding")})) AS cos
          FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.vec_id
          JOIN embeddings eq ON eq.vec_id = p.vec_id
          JOIN embeddings ed ON ed.vec_id = a.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
            row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS rank
          FROM cand)
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cosine
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
    },
    bench = true)

  /** SemDeDup (library `Similarity.semDeDup` — Abbas et al. 2023):
    * semantic dedup over the TRAINED k-means cells — assign every
    * embedding to its max-cosine trained centroid, compare pairs only
    * within a cell, flag transitive >= 0.95-cosine groups keeping the
    * minimum id. The oracle chains the Lloyd's CTEs (the q63/q64
    * machinery) into the final-codebook assignment, the within-cell
    * pairwise cosine filter, and the q46-style recursive reachability
    * closure — every vector's keeper pointer is hash-checked. */
  val q85 = QueryDef(
    "q85_semdedup",
    (s, dir) => {
      graft.ops.Similarity.semDeDup(
        t(s, dir, "embeddings"), "embedding", "vec_id",
        k = TrainK, dim = Dim, iters = TrainIters, threshold = 0.95)
        .select(col("vec_id"), col("dup_of"), col("is_semantic_duplicate"))
        .oracleOrderBy("vec_id")
    },
    Some {
      val elem: (String, Int) => String = duckElem
      s"""WITH RECURSIVE ${lloydCtes(elem, TrainIters)},
        cellscore AS (
          SELECT vec_id, cid,
            (${dotSum(elem, "embedding", "cv")})
              / (sqrt(${dotSum(elem, "embedding", "embedding")})
                 * sqrt(${dotSum(elem, "cv", "cv")})) AS sim
          FROM embeddings CROSS JOIN c$TrainIters),
        assigned AS MATERIALIZED (
          SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY sim DESC, cid DESC) AS rn
            FROM cellscore) t WHERE rn = 1),
        pairs AS MATERIALIZED (
          SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
          FROM assigned a
          JOIN assigned b ON b.cell = a.cell AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE (${dotSum(elem, "ea.embedding", "eb.embedding")})
                / (sqrt(${dotSum(elem, "ea.embedding", "ea.embedding")})
                   * sqrt(${dotSum(elem, "eb.embedding", "eb.embedding")}))
                >= CAST(0.95 AS DOUBLE)),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, re.r FROM edges e JOIN reach re ON re.id = e.dst),
        comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
        dupmap AS (SELECT id, comp FROM comp WHERE id <> comp)
        SELECT v.vec_id, dm.comp AS dup_of,
          dm.id IS NOT NULL AS is_semantic_duplicate
        FROM embeddings v LEFT JOIN dupmap dm ON dm.id = v.vec_id
        ORDER BY v.vec_id"""
    },
    bench = true)

  /** Shared SQ8 derivation CTEs (q88/q89): per-dimension min/max over
    * the corpus, per-coordinate scale `(mx-mn)/255`, and every
    * vector's clamped affine code — ending in
    * `cd(vec_id, j, x, mn, sc, code)`. Mirrors
    * `Similarity.sqFit`/`sqEncode` exactly: identical doubles in,
    * identical `round` (both engines take halves away from zero),
    * identical clamp. */
  private def sqCtes: String =
    s"""e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      st AS MATERIALIZED (
        SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
        FROM e, LATERAL unnest(generate_series(1, $Dim)) t(j) GROUP BY j),
      c0 AS (
        SELECT e.vec_id, s.j, e.v[s.j] AS x, s.mn,
          CASE WHEN s.mx = s.mn THEN CAST(0 AS DOUBLE)
               ELSE (s.mx - s.mn) / CAST(255 AS DOUBLE) END AS sc
        FROM e CROSS JOIN st s),
      cd AS MATERIALIZED (
        SELECT vec_id, j, x, mn, sc,
          CASE WHEN sc = 0 THEN 0
               ELSE CAST(least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                 round((x - mn) / sc))) AS INT) END AS code
        FROM c0)"""

  /** Int8 scalar quantization (library `Similarity.sqFit`/`sqEncode` —
    * the FAISS ScalarQuantizer shape, complementing q58's PQ): every
    * coordinate affinely coded to 0..255 against per-dimension corpus
    * min/max, plus the squared-L2 reconstruction error (per-dim terms
    * quantized to 2^-20, summed as exact integers). The oracle
    * re-derives stats, every one of the 64 codes per vector, and the
    * exact-integer error sum; the hash covers the full code string. */
  val q88 = QueryDef(
    "q88_sq_codes",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val stats = graft.ops.Similarity.sqFit(e, "embedding", Dim)
      graft.ops.Similarity.sqEncode(e, "embedding", stats)
        .select(col("vec_id"),
          array_join(col("codes").cast("array<string>"), " ").as("codes"),
          round(col("recon_err"), 6).as("recon_err"))
        .oracleOrderBy("vec_id")
    },
    Some(s"""WITH $sqCtes,
      ag AS (
        SELECT vec_id,
          array_to_string(list(code ORDER BY j), ' ') AS codes,
          sum(CAST(round((x - (mn + code * sc)) * (x - (mn + code * sc))
            * CAST(1048576 AS DOUBLE)) AS BIGINT)) AS eq
        FROM cd GROUP BY vec_id)
      SELECT vec_id, codes,
        round(CAST(eq AS DOUBLE) / CAST(1048576 AS DOUBLE), 6) AS recon_err
      FROM ag ORDER BY vec_id"""),
    bench = true)

  /** SQ asymmetric-distance top-k (library `Similarity.sqTopKFromCodes`
    * — the q59 ADC story with per-dimension resolution): rows ranked
    * against the exact query vector (vec_id 0) from their int8 codes
    * alone; per-dimension distance terms quantized to 2^-20 and summed
    * as exact integers, so the (dist, id) ranking is engine-portable.
    * The oracle chains the q88 CTEs into the same scoring and top-10. */
  val q89 = QueryDef(
    "q89_sq_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val stats = graft.ops.Similarity.sqFit(e, "embedding", Dim)
      val qv = e.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .collect().head.getSeq[Double](0).toSeq
      val encoded = graft.ops.Similarity.sqEncode(e, "embedding", stats)
      graft.ops.Similarity.sqTopKFromCodes(encoded, "vec_id", stats, qv, k = 10)
        .select(col("vec_id"), round(col("sq_dist"), 6).as("sq_dist"))
        .oracleOrderBy("vec_id")
    },
    Some(s"""WITH $sqCtes,
      q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
      dt AS (
        SELECT cd.vec_id,
          sum(CAST(round((q.qv[cd.j] - (cd.mn + cd.code * cd.sc))
            * (q.qv[cd.j] - (cd.mn + cd.code * cd.sc))
            * CAST(1048576 AS DOUBLE)) AS BIGINT)) AS dq
        FROM cd CROSS JOIN q GROUP BY cd.vec_id)
      SELECT vec_id, round(CAST(dq AS DOUBLE) / CAST(1048576 AS DOUBLE), 6) AS sq_dist
      FROM (SELECT vec_id, dq FROM dt ORDER BY dq ASC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""))

  // ---- k-means-TRAINED product quantization (q92/q93): per-subspace
  // Lloyd's rounds re-derived relationally. The library
  // (`Similarity.trainPqCodebooks`) assigns with pqEncode's own rule
  // (squared L2, ties -> smallest cid) and computes quantized-integer
  // means (round(x * 2^20) summed as longs — order-free), so every
  // trained coordinate is bit-reproducible from SQL.

  private val PqTrainIters = 2

  /** Squared-L2 between embedding subspace `mi` (full-vector indices
    * mi*16+1 .. mi*16+16) and a SUBSPACE-LOCAL centroid `cv[1..16]`,
    * as an explicit left-associative sum (pqEncode's fold order). */
  private def subL2Train(elem: (String, Int) => String, mi: Int): String = {
    val sub = Dim / PqM
    (1 to sub).map { j =>
      val d = s"(${elem("e.embedding", mi * sub + j)} - c.cv[$j])"
      s"($d * $d)"
    }.mkString(" + ")
  }

  /** The per-subspace Lloyd's rounds as chained CTEs: for each of the
    * `PqM` subspaces, `pc{mi}_0` seeds from the 4 smallest ids'
    * subvectors (= pqSubCodebooks), each round assigns every vector's
    * subvector to its nearest-L2 sub-centroid (ties to the smallest
    * cid — the ENCODER's own rule) and rebuilds quantized-mean
    * sub-centroids; empty sub-cells keep their previous centroid.
    * Every CTE MATERIALIZED (the q63 lesson: DuckDB inlines plain
    * CTEs and the centroid expressions re-expand exponentially across
    * rounds). Ends with `pc{mi}_{iters}` per subspace. */
  private def pqLloydCtes(elem: (String, Int) => String, iters: Int): String = {
    val sub = Dim / PqM
    (0 until PqM).map { mi =>
      val seedCoords = (1 to sub).map(j => elem("embedding", mi * sub + j)).mkString(", ")
      val seed =
        s"pc${mi}_0 AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS cid, " +
          s"[$seedCoords] AS cv FROM embeddings WHERE vec_id < 4)"
      val rounds = (1 to iters).map { r =>
        val prev = s"pc${mi}_${r - 1}"
        val sums = (0 until sub).map(j =>
          s"sum(CAST(round(${elem("e.embedding", mi * sub + j + 1)} * 1048576.0) AS BIGINT)) AS s$j")
          .mkString(", ")
        val coords = (0 until sub).map(j => s"CAST(s$j AS DOUBLE) / n / 1048576.0")
          .mkString(", ")
        s"""pa${mi}_$r AS MATERIALIZED (
          SELECT vec_id, cid AS code FROM (
            SELECT e.vec_id, c.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY (${subL2Train(elem, mi)}) ASC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN $prev c) t${mi}_$r WHERE rn = 1),
        pm${mi}_$r AS MATERIALIZED (
          SELECT code, [$coords] AS mv FROM (
            SELECT a.code, count(*) AS n, $sums
            FROM embeddings e JOIN pa${mi}_$r a USING (vec_id) GROUP BY a.code) g${mi}_$r),
        pc${mi}_$r AS MATERIALIZED (
          SELECT p.cid, coalesce(m.mv, p.cv) AS cv
          FROM $prev p LEFT JOIN pm${mi}_$r m ON m.code = p.cid)"""
      }
      (seed +: rounds).mkString(",\n      ")
    }.mkString(",\n      ")
  }

  private def trainedPqCodebooks(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[Seq[(Long, Seq[Double])]] =
    graft.ops.Similarity.trainPqCodebooks(t(s, dir, "embeddings"), "embedding", "vec_id",
      m = PqM, k = 4, dim = Dim, iters = PqTrainIters)

  /** The TRAINED PQ codebooks themselves, one row per
    * (subspace, sub-centroid, coordinate) — the direct bit-level check
    * that `trainPqCodebooks` equals the relational per-subspace
    * Lloyd's re-derivation: two rounds of encoder-rule assignment +
    * quantized means must agree on all m x k x 16 doubles. */
  val q92 = QueryDef(
    "q92_pq_train",
    (s, dir) => {
      import s.implicits._
      trainedPqCodebooks(s, dir).zipWithIndex
        .flatMap { case (cb, mi) =>
          cb.flatMap { case (cid, v) =>
            v.zipWithIndex.map { case (x, j) => (mi, cid, j + 1, x) }
          }
        }
        .toDF("mi", "cid", "j", "v")
        .select(col("mi").cast("int").as("mi"), col("cid"),
          col("j").cast("int").as("j"), round(col("v"), 6).as("coord"))
        .oracleOrderBy("mi", "cid", "j")
    },
    Some {
      val sub = Dim / PqM
      val parts = (0 until PqM).map(mi =>
        s"""SELECT $mi AS mi, cid, CAST(j AS INTEGER) AS j, round(cv[j], 6) AS coord
          FROM pc${mi}_$PqTrainIters, LATERAL unnest(generate_series(1, $sub)) AS u$mi(j)""")
        .mkString("\n      UNION ALL\n      ")
      s"""WITH ${pqLloydCtes(duckElem, PqTrainIters)}
      $parts
      ORDER BY mi, cid, j"""
    },
    bench = true)

  /** PQ ADC top-k over the TRAINED codebooks — q59's compact-code
    * query path with learned sub-centroids in place of the seed rows:
    * rows are re-encoded against the trained books (one narrow pass)
    * and ranked from their codes alone via per-subspace lookup tables
    * against the exact query vector (vec_id 0). The oracle chains the
    * Lloyd's CTEs into final assignment, lookup tables, and the same
    * explicit left-to-right 4-term distance sum. */
  val q93 = QueryDef(
    "q93_pq_trained_topk",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cbs = trainedPqCodebooks(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .collect().head.getSeq[Double](0).toSeq
      graft.ops.Similarity.pqTopK(e, "embedding", "vec_id", cbs, qv, k = 10)
        .select(col("vec_id"), round(col("pq_dist"), 6).as("adc_dist"))
        .oracleOrderBy("vec_id")
    },
    Some {
      val elem: (String, Int) => String = duckElem
      val sub = Dim / PqM
      val finals = (0 until PqM).map { mi =>
        val lutTerms = (1 to sub).map { j =>
          val d = s"(${elem("q.qv", mi * sub + j)} - c.cv[$j])"
          s"($d * $d)"
        }.mkString(" + ")
        s"""fa$mi AS (
          SELECT vec_id, cid AS code_$mi FROM (
            SELECT e.vec_id, c.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY (${subL2Train(elem, mi)}) ASC, c.cid ASC) AS rn
            FROM embeddings e CROSS JOIN pc${mi}_$PqTrainIters c) ft$mi WHERE rn = 1),
        flut$mi AS (
          SELECT cid, ($lutTerms) AS qd FROM pc${mi}_$PqTrainIters c CROSS JOIN qq q)"""
      }.mkString(",\n        ")
      val joins = (1 until PqM).map(mi => s"JOIN fa$mi USING (vec_id)").mkString(" ")
      val lutJoins = (0 until PqM)
        .map(mi => s"JOIN flut$mi l$mi ON l$mi.cid = fa$mi.code_$mi").mkString(" ")
      val distSum = (0 until PqM).map(mi => s"l$mi.qd").mkString(" + ")
      s"""WITH ${pqLloydCtes(elem, PqTrainIters)},
        qq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        $finals,
        scored AS (
          SELECT fa0.vec_id, ($distSum) AS pq_dist
          FROM fa0 $joins $lutJoins)
      SELECT vec_id, round(pq_dist, 6) AS adc_dist FROM (
        SELECT vec_id, pq_dist FROM scored
        ORDER BY pq_dist ASC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""
    },
    bench = true)

  /** Seeded dense plane component h[seed][p][j] as exact SQL text —
    * the q34 `hval` family with the seed term `Similarity.randomProject`
    * mixes in. */
  private def hsval(seed: Int, p: Int, j: Int): String = {
    val v = (p * 131 + (j - 1) * 7919 + seed * 31) % 97 - 48
    s"($v/48.0)"
  }

  /** `arr[1]*h(p,1) + ... + arr[64]*h(p,64)` — one projected
    * coordinate, left-associative. */
  private def projCoord(elem: (String, Int) => String, seed: Int, p: Int,
      arr: String = "embedding"): String =
    (1 to Dim).map(j => s"(${elem(arr, j)} * ${hsval(seed, p, j)})")
      .mkString(" + ")

  /** Johnson–Lindenstrauss random projection (library
    * `Similarity.randomProject`): 64-dim vectors reduced to 16 dense
    * coordinates under the deterministic rational plane family (q34's
    * construction kept dense instead of thresholded to sign bits) —
    * the sketch a two-stage retrieval shortlists on at 1/4 the scan
    * cost. Every coordinate of every vector is checked: the hash
    * covers the 2⁻²⁰-quantized integer value of all 16 outputs per
    * row (the native DotProduct loop and the oracle's explicit
    * left-associative sum are bit-identical IEEE754 sequences). */
  val q129 = QueryDef(
    "q129_random_projection",
    (s, dir) => {
      val proj = graft.ops.Similarity.randomProject(
        t(s, dir, "embeddings"), "embedding", dim = Dim, outDim = 16, seed = 0)
      proj.select(col("vec_id"),
          md5(concat_ws(",", transform(col("projected"),
            y => round(y * 1048576.0d).cast("long").cast("string")))).as("proj_fp"))
        .oracleOrderBy("vec_id")
    },
    Some {
      val coords = (0 until 16).map(p =>
        s"CAST(round((${projCoord(duckElem, 0, p)}) * 1048576.0) AS BIGINT)")
      s"""SELECT vec_id,
        md5(concat_ws(',', ${coords.map(c => s"CAST($c AS VARCHAR)").mkString(", ")}))
          AS proj_fp
      FROM embeddings ORDER BY vec_id"""
    },
    bench = true)

  /** Two-stage sketch retrieval (library `Similarity.sketchTopK` —
    * the composition that makes q129's JL sketch pay: shortlist 50
    * candidates by cosine on the 16-dim sketch, exact-rescore only
    * the shortlist, keep the true-cosine top 10). The oracle replays
    * both stages — the 16 projected coordinates of every vector AND
    * of the query, the sketch-cosine shortlist rank, then the exact
    * 64-dim rescore — so a single shortlist miss or rank swap breaks
    * the hash. Query = vec 0's embedding, excluded from the corpus
    * (the q33 convention; q33 is this query's exact baseline). */
  val q131 = QueryDef(
    "q131_sketch_topk",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select("embedding").head.getSeq[Float](0).map(_.toDouble)
      val top = graft.ops.Similarity.sketchTopK(
        emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", qv,
        dim = Dim, k = 10, outDim = 16, seed = 0, shortlist = 50)
      graft.util.Ids.withRowIndex(top, "rank")
        .select(col("rank").cast("int").as("rank"), col("vec_id"),
          round(col("cosine"), 6).as("cosine"))
    },
    Some {
      val ys = (0 until 16).map(p => s"(${projCoord(duckElem, 0, p)}) AS y$p")
      val zs = (0 until 16).map(p => s"(${projCoord(duckElem, 0, p, "qv")}) AS z$p")
      def chain(f: Int => String) = (0 until 16).map(f).mkString(" + ")
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        pr AS (SELECT vec_id, embedding, qv,
            ${(ys ++ zs).mkString(",\n            ")}
          FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
        sc AS (SELECT vec_id, embedding, qv,
            (${chain(p => s"(y$p * z$p)")}) AS dotyz,
            (${chain(p => s"(y$p * y$p)")}) AS naa,
            (${chain(p => s"(z$p * z$p)")}) AS nbb
          FROM pr),
        shortl AS (SELECT vec_id, embedding, qv,
            row_number() OVER (
              ORDER BY dotyz / (sqrt(naa) * sqrt(nbb)) DESC, vec_id) AS srk
          FROM sc),
        ex AS (SELECT vec_id,
            (${dotSum(duckElem, "embedding", "qv")}) AS dot,
            (${dotSum(duckElem, "embedding", "embedding")}) AS naa2,
            (${dotSum(duckElem, "qv", "qv")}) AS nbb2
          FROM shortl WHERE srk <= 50),
        ranked AS (SELECT vec_id, dot / (sqrt(naa2) * sqrt(nbb2)) AS cos_raw,
            row_number() OVER (
              ORDER BY dot / (sqrt(naa2) * sqrt(nbb2)) DESC, vec_id) AS rank
          FROM ex)
      SELECT rank, vec_id, round(cos_raw, 6) AS cosine
      FROM ranked WHERE rank <= 10 ORDER BY rank"""
    },
    bench = true)

  /** Shared q135/q137 oracle CTE block: exact-integer-mean prototypes
    * from the `vec_id % 5 <> 0` split, cosine argmax over the held-out
    * rows, ending in a `pr` CTE of per-vector (label, pred). */
  private val protoCtesDuck: String = {
    val elem: (String, Int) => String = duckElem
    val sums = (0 until Dim).map(j =>
      s"sum(CAST(round(${elem("embedding", j + 1)} * 1048576.0) AS BIGINT)) AS s$j")
      .mkString(", ")
    val coords = (0 until Dim).map(j => s"CAST(s$j AS DOUBLE) / n / 1048576.0")
      .mkString(", ")
    s"""tr AS MATERIALIZED (
        SELECT CAST(label AS BIGINT) AS lbl, embedding
        FROM embeddings WHERE vec_id % 5 <> 0),
      g AS MATERIALIZED (
        SELECT lbl, count(*) AS n, $sums FROM tr GROUP BY lbl),
      cent AS MATERIALIZED (SELECT lbl, [$coords] AS cv FROM g),
      sc AS (
        SELECT e.vec_id, CAST(e.label AS INT) AS label, c.lbl,
          (${dotSum(elem, "e.embedding", "c.cv")})
            / (sqrt(${dotSum(elem, "e.embedding", "e.embedding")})
               * sqrt(${dotSum(elem, "c.cv", "c.cv")})) AS sim
        FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 5 = 0),
      rk AS (
        SELECT vec_id, label, lbl, sim,
          row_number() OVER (PARTITION BY vec_id
            ORDER BY sim DESC, lbl ASC) AS rn
        FROM sc),
      pr AS MATERIALIZED (
        SELECT vec_id, label, CAST(lbl AS BIGINT) AS pred_label, sim
        FROM rk WHERE rn = 1)"""
  }

  /** Nearest-class-mean classification (library
    * `Similarity.centroidClassify` — the cheap embedding-space
    * domain/quality gate; q81's NB classifier is its text-feature
    * sibling): per-label EXACT-integer-mean prototypes trained on the
    * `vec_id % 5 <> 0` split (the q63 `exactMean` discipline, so the
    * model is re-derivable relationally), every held-out vector
    * assigned its argmax-cosine prototype, ties to the lowest label.
    * The oracle rebuilds the 10 prototypes from the same quantized
    * sums and replays the cosine argmax — every held-out vector's
    * prediction, cosine and correctness flag are hash-checked. */
  val q135 = QueryDef(
    "q135_centroid_classify",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Similarity.centroidClassify(
          emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0),
          "embedding", "vec_id", "label", dim = Dim)
        .select(col("vec_id"), col("label"), col("pred_label"),
          round(col("pred_cosine"), 6).as("pred_cosine"),
          (col("pred_label") === col("label")).as("correct"))
        .oracleOrderBy("vec_id")
    },
    Some(s"""WITH $protoCtesDuck
      SELECT vec_id, label, pred_label,
        round(sim, 6) AS pred_cosine, (pred_label = label) AS correct
      FROM pr ORDER BY vec_id"""),
    bench = true)

  /** Per-class confusion report over the q135 predictions (library
    * `Eval.confusion` — the per-class quality card that closes the
    * evaluation family next to q124's calibration and q125's
    * selective-prediction curve): exact per-(truth, pred) counts fold
    * to per-class tp/fp/fn/support and the derived precision, recall
    * and F1 — classes never predicted (or never true) keep zero-count
    * rows instead of vanishing. The oracle replays the q135 prototype
    * chain into the same grid arithmetic. */
  val q137 = QueryDef(
    "q137_confusion_matrix",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val preds = graft.ops.Similarity.centroidClassify(
        emb.filter(col("vec_id") % 5 =!= 0), emb.filter(col("vec_id") % 5 === 0),
        "embedding", "vec_id", "label", dim = Dim)
      graft.ops.Eval.confusion(preds, "label", "pred_label")
        .select(col("label"), col("tp"), col("fp"), col("fn"),
          col("support"), col("n_pred"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"))
        .oracleOrderBy("label")
    },
    Some(s"""WITH $protoCtesDuck,
      cm AS MATERIALIZED (
        SELECT CAST(label AS VARCHAR) AS truth, CAST(pred_label AS VARCHAR) AS pred,
          count(*) AS n
        FROM pr GROUP BY 1, 2),
      bt AS (SELECT truth AS label, sum(n) AS support FROM cm GROUP BY 1),
      bp AS (SELECT pred AS label, sum(n) AS n_pred FROM cm GROUP BY 1),
      tp AS (SELECT truth AS label, n AS tp0 FROM cm WHERE truth = pred),
      base AS (
        SELECT coalesce(bt.label, bp.label) AS label,
          CAST(coalesce(tp.tp0, 0) AS BIGINT) AS tp,
          CAST(coalesce(bp.n_pred, 0) AS BIGINT) AS n_pred,
          CAST(coalesce(bt.support, 0) AS BIGINT) AS support
        FROM bt FULL OUTER JOIN bp ON bt.label = bp.label
        LEFT JOIN tp ON tp.label = coalesce(bt.label, bp.label))
      SELECT label, tp, n_pred - tp AS fp, support - tp AS fn, support, n_pred,
        CASE WHEN n_pred > 0
          THEN round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END AS precision,
        CASE WHEN support > 0
          THEN round(CAST(tp AS DOUBLE) / CAST(support AS DOUBLE), 6) END AS recall,
        CASE WHEN n_pred > 0 AND support > 0 AND tp > 0
          THEN round(2.0 * (CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
            * (CAST(tp AS DOUBLE) / CAST(support AS DOUBLE))
            / ((CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE))
               + (CAST(tp AS DOUBLE) / CAST(support AS DOUBLE))), 6)
          WHEN n_pred > 0 AND support > 0 THEN 0.0 END AS f1
      FROM base ORDER BY label"""),
    bench = true)

  /** q149's fixed index location — q150's hybrid probes the SAME
    * persisted index (build once, two consumers). */
  private[queries] def annIdxDir(dir: String): String =
    QueryDef.idxScratchDir("annidx", dir)

  /** Build-once-per-JVM: q149 and q150 share the persisted index
    * (identical corpus + params ⇒ identical bit content, so whichever
    * runs first builds it; a fresh JVM always rebuilds, so stale
    * cross-session /tmp state can never leak into a verify run). */
  private val annBuilt = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[queries] def buildAnnIdx(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    if (annBuilt.add(annIdxDir(dir))) {
      graft.ops.AnnIndex.build(t(s, dir, "embeddings"), "embedding", "vec_id",
        annIdxDir(dir), nCells = TrainK, m = PqM, k = 4, dim = Dim,
        iters = TrainIters)
      ()
    }

  private val qvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()

  /** vec 0's embedding as the query vector, double-cast in-plan (the
    * q93 convention, so the collected doubles are the engine's own).
    * Memoized per corpus dir: the vector is the CALLER's input, not
    * index work — a timed bench probe must not pay a corpus-table
    * scan to re-fetch it (benchPrepare warms the cache). */
  private[queries] def queryVec0(
      s: org.apache.spark.sql.SparkSession, dir: String): Seq[Double] =
    qvCache.computeIfAbsent(dir, _ =>
      t(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .collect().head.getSeq[Double](0).toSeq)

  /** The index-state replay every ANN-index oracle shares: both
    * training chains (IVF Lloyd's + per-subspace PQ Lloyd's, CTE
    * families name-disjoint), the corpus cell assignment, and the
    * encoder-rule code assignment `fa0..fa{m-1}`. Query-specific
    * probing/ADC layers on top (q149/q150's vec-0 form below, q151's
    * per-query-row form). */
  private[queries] def annIndexStateCtesDuck: String = {
    val elem: (String, Int) => String = duckElem
    val fas = (0 until PqM).map { mi =>
      s"""fa$mi AS (
        SELECT vec_id, cid AS code_$mi FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY (${subL2Train(elem, mi)}) ASC, c.cid ASC) AS rn
          FROM embeddings e CROSS JOIN pc${mi}_$PqTrainIters c) ft$mi WHERE rn = 1)"""
    }.mkString(",\n      ")
    s"""${lloydCtes(elem, TrainIters)},
      ${pqLloydCtes(elem, PqTrainIters)},
      cellscore AS (
        SELECT vec_id, cid,
          (${dotSum(elem, "embedding", "cv")})
            / (sqrt(${dotSum(elem, "embedding", "embedding")})
               * sqrt(${dotSum(elem, "cv", "cv")})) AS sim
        FROM embeddings CROSS JOIN c$TrainIters),
      assigned AS (
        SELECT vec_id, cid AS cell FROM (
          SELECT vec_id, cid,
            row_number() OVER (PARTITION BY vec_id
              ORDER BY sim DESC, cid DESC) AS rn
          FROM cellscore) x WHERE rn = 1),
      $fas"""
  }

  /** The q149/q150 shared DuckDB replay of `AnnIndex.build` + `query`
    * for vec 0 at nProbe = 2: both training chains (the q63/q64 IVF
    * machinery AND the q92/q93 per-subspace machinery — CTE families
    * name-disjoint), the corpus cell assignment, the driver's
    * nProbe-cell rule ((-sim, -cid) = sim DESC, cid DESC), the
    * encoder-rule code assignment, the ADC lookup tables, and the
    * probed-cells-only scores. Ends with `annscored(vec_id, pq_dist)`
    * — NOT yet ranked or limited, so q149 can top-k it and q150 can
    * rank it for fusion. */
  private[queries] def annProbeCtesDuck: String = {
    val elem: (String, Int) => String = duckElem
    val sub = Dim / PqM
    val fluts = (0 until PqM).map { mi =>
      val lutTerms = (1 to sub).map { j =>
        val d = s"(${elem("q.qv", mi * sub + j)} - c.cv[$j])"
        s"($d * $d)"
      }.mkString(" + ")
      s"""flut$mi AS (
        SELECT cid, ($lutTerms) AS qd FROM pc${mi}_$PqTrainIters c CROSS JOIN qq q)"""
    }.mkString(",\n      ")
    val joins = (1 until PqM).map(mi => s"JOIN fa$mi USING (vec_id)").mkString(" ")
    val lutJoins = (0 until PqM)
      .map(mi => s"JOIN flut$mi l$mi ON l$mi.cid = fa$mi.code_$mi").mkString(" ")
    val distSum = (0 until PqM).map(mi => s"l$mi.qd").mkString(" + ")
    s"""$annIndexStateCtesDuck,
      qq AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      qcell AS (
        SELECT cid AS cell FROM (
          SELECT c.cid,
            row_number() OVER (ORDER BY
              (${dotSum(elem, "q.qv", "c.cv")})
                / (sqrt(${dotSum(elem, "q.qv", "q.qv")})
                   * sqrt(${dotSum(elem, "c.cv", "c.cv")})) DESC,
              c.cid DESC) AS rn
          FROM c$TrainIters c CROSS JOIN qq q) y WHERE rn <= 2),
      $fluts,
      annscored AS (
        SELECT fa0.vec_id, ($distSum) AS pq_dist
        FROM fa0 $joins $lutJoins
        JOIN assigned a ON a.vec_id = fa0.vec_id
        JOIN qcell qc ON qc.cell = a.cell)"""
  }

  /** Persistent ANN index probe (library `AnnIndex` build/load/query —
    * the IVF-PQ index whose cell-partitioned code table a probe reads
    * only `nProbe` cells of; until now verified by OpsSpec parity
    * only, this gives the END-TO-END disk round-trip its own DuckDB
    * oracle): train (k-means centroids + PQ codebooks, both
    * exact-integer Lloyd's), persist, re-load, then answer vec 0's
    * query through the pruned scan. The oracle chains BOTH training
    * replays, the corpus cell assignment, the driver's nProbe-cell
    * rule, the encoder-rule code assignment, the ADC lookup table and
    * the probed-cells-only ranking ([[annProbeCtesDuck]]) — one wrong
    * centroid coordinate, code or probe cell anywhere breaks the
    * hash. The bench form splits the one-time build out of the timed
    * region (the q145 discipline). */
  val q149 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      graft.ops.AnnIndex.query(s, graft.ops.AnnIndex.load(s, annIdxDir(dir)),
          "vec_id", queryVec0(s, dir), k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("pq_dist"), 6).as("adc_dist"))
        .oracleOrderBy("vec_id")
    }
    QueryDef(
      "q149_ann_index_topk",
      (s, dir) => { buildAnnIdx(s, dir); probe(s, dir) },
      Some(s"""WITH $annProbeCtesDuck
      SELECT vec_id, round(pq_dist, 6) AS adc_dist FROM (
        SELECT vec_id, pq_dist FROM annscored
        ORDER BY pq_dist ASC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""),
      bench = true,
      benchPrepare = Some((s, dir) => {
        buildAnnIdx(s, dir)
        queryVec0(s, dir) // warm the memo: the probe must not pay the fetch
        ()
      }),
      benchFn = Some(probe))
  }

  /** The q151/q166 shared batched-probe replay: the full index-state
    * derivation ([[annIndexStateCtesDuck]]) plus, for the query set
    * `qsetWhere` selects from `embeddings`, the per-query probe rule,
    * per-(query, sub-centroid) lookup tables and the qid-partitioned
    * ranking. Ends with `brk(qid, vec_id, pq_dist, rank)` — callers
    * cut at their own k. */
  private[queries] def annBatchCtesDuck(qsetWhere: String): String = {
    val elem: (String, Int) => String = duckElem
    val sub = Dim / PqM
    val qluts = (0 until PqM).map { mi =>
      val lutTerms = (1 to sub).map { j =>
        val d = s"(${elem("q.embedding", mi * sub + j)} - c.cv[$j])"
        s"($d * $d)"
      }.mkString(" + ")
      s"""qlut$mi AS (
          SELECT q.qid, c.cid, ($lutTerms) AS qd
          FROM qset q CROSS JOIN pc${mi}_$PqTrainIters c)"""
    }.mkString(",\n        ")
    val faJoins = (1 until PqM)
      .map(mi => s"JOIN fa$mi ON fa$mi.vec_id = fa0.vec_id").mkString(" ")
    val lutJoins = (0 until PqM)
      .map(mi => s"JOIN qlut$mi l$mi ON l$mi.qid = p.qid AND l$mi.cid = fa$mi.code_$mi")
      .mkString(" ")
    val distSum = (0 until PqM).map(mi => s"l$mi.qd").mkString(" + ")
    s"""$annIndexStateCtesDuck,
        qset AS (SELECT vec_id AS qid, embedding FROM embeddings WHERE $qsetWhere),
        qprobes AS (
          SELECT qid, cid AS cell FROM (
            SELECT q.qid, c.cid,
              row_number() OVER (PARTITION BY q.qid ORDER BY
                (${dotSum(elem, "q.embedding", "c.cv")})
                  / (sqrt(${dotSum(elem, "q.embedding", "q.embedding")})
                     * sqrt(${dotSum(elem, "c.cv", "c.cv")})) DESC,
                c.cid DESC) AS rn
            FROM qset q CROSS JOIN c$TrainIters c) z WHERE rn <= 2),
        $qluts,
        bscored AS (
          SELECT p.qid, fa0.vec_id, ($distSum) AS pq_dist
          FROM qprobes p
          JOIN assigned a ON a.cell = p.cell
          JOIN fa0 ON fa0.vec_id = a.vec_id $faJoins $lutJoins),
        brk AS (
          SELECT qid, vec_id, pq_dist,
            CAST(row_number() OVER (PARTITION BY qid
              ORDER BY pq_dist ASC, vec_id) AS INT) AS rank
          FROM bscored)"""
  }

  /** Batched ANN index probe (library `AnnIndex.queryBatch` — the
    * vector-side twin of q148's batched BM25: a query TABLE amortizes
    * one pruned pass over the persisted code table; q149 is the
    * single-vector form): 8 query rows, each probing its own 2 best
    * cells, ADC-scored and ranked per query. The oracle layers the
    * per-query probe rule and per-(query, sub-centroid) lookup tables
    * over the shared index-state replay — every query's candidate
    * set, distance and rank hash-checked. */
  val q151 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      val e = t(s, dir, "embeddings")
      graft.ops.AnnIndex.queryBatch(s,
          graft.ops.AnnIndex.load(s, annIdxDir(dir)),
          e.filter(col("vec_id") < 8), "embedding", "vec_id",
          k = 5, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"),
          round(col("pq_dist"), 6).as("adc_dist"), col("rank"))
        .oracleOrderBy("query_id", "rank")
    }
    QueryDef(
      "q151_ann_batch",
      (s, dir) => { buildAnnIdx(s, dir); probe(s, dir) },
      Some(s"""WITH ${annBatchCtesDuck("vec_id < 8")}
        SELECT qid AS query_id, vec_id AS neighbor_id,
          round(pq_dist, 6) AS adc_dist, rank
        FROM brk WHERE rank <= 5 ORDER BY query_id, rank"""),
      bench = true,
      benchPrepare = Some((s, dir) => buildAnnIdx(s, dir)),
      benchFn = Some(probe))
  }

  /** Embedding-distribution drift under a frozen codebook (library
    * `Similarity.embeddingDrift` — the measurement `AnnIndex`'s
    * "retrain deliberately when drift warrants" contract calls for,
    * and corpusDiff/vocabDrift's vector-side sibling): the old
    * snapshot is the full table (the population the codebook was
    * trained on), the new snapshot its odd-id half; per trained cell,
    * both snapshots' shares and mean quantized cosine-to-centroid
    * fits. The oracle chains the Lloyd's replay into both
    * assignments (keeping the winning sim), the 2⁻²⁰ quantization,
    * the BIGINT sums and the same division/rounding order. */
  val q152 = QueryDef(
    "q152_embedding_drift",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ops.Similarity.embeddingDrift(
          e, e.filter(col("vec_id") % 2 === 1), "embedding",
          trainedCodebook(s, dir))
        .select(col("cell"), col("n_old"), col("n_new"),
          round(col("share_old"), 6).as("share_old"),
          round(col("share_new"), 6).as("share_new"),
          round(col("fit_old"), 6).as("fit_old"),
          round(col("fit_new"), 6).as("fit_new"))
        .oracleOrderBy("cell")
    },
    Some {
      val elem: (String, Int) => String = duckElem
      def assignCtes(p: String, filter: String): String =
        s"""${p}sc AS (
          SELECT vec_id, cid,
            (${dotSum(elem, "embedding", "cv")})
              / (sqrt(${dotSum(elem, "embedding", "embedding")})
                 * sqrt(${dotSum(elem, "cv", "cv")})) AS sim
          FROM embeddings CROSS JOIN c$TrainIters $filter),
        ${p}asg AS (
          SELECT vec_id, cid, sim FROM (
            SELECT vec_id, cid, sim,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY sim DESC, cid DESC) AS rn
            FROM ${p}sc) x WHERE rn = 1),
        ${p}agg AS (
          SELECT cid AS cell, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(round(sim * 1048576.0) AS BIGINT)) AS BIGINT) AS sq
          FROM ${p}asg GROUP BY cid)"""
      s"""WITH ${lloydCtes(elem, TrainIters)},
        ${assignCtes("o", "")},
        ${assignCtes("w", "WHERE vec_id % 2 = 1")},
        tot AS (SELECT (SELECT sum(n) FROM oagg) AS t_old,
                  (SELECT sum(n) FROM wagg) AS t_new),
        spine AS (SELECT cid AS cell FROM c$TrainIters)
      SELECT s.cell,
        coalesce(o.n, 0) AS n_old, coalesce(w.n, 0) AS n_new,
        round(CAST(coalesce(o.n, 0) AS DOUBLE) / CAST(t.t_old AS DOUBLE), 6)
          AS share_old,
        round(CAST(coalesce(w.n, 0) AS DOUBLE) / CAST(t.t_new AS DOUBLE), 6)
          AS share_new,
        CASE WHEN o.n > 0 THEN
          round(CAST(o.sq AS DOUBLE) / CAST(o.n AS DOUBLE) / 1048576.0, 6)
        END AS fit_old,
        CASE WHEN w.n > 0 THEN
          round(CAST(w.sq AS DOUBLE) / CAST(w.n AS DOUBLE) / 1048576.0, 6)
        END AS fit_new
      FROM spine s
      LEFT JOIN oagg o ON o.cell = s.cell
      LEFT JOIN wagg w ON w.cell = s.cell, tot t
      ORDER BY s.cell"""
    },
    bench = true)

  /** q153's index dir: a SEPARATE on-disk state from q149's, because
    * its history is different — built on the even half, frozen-model
    * appended the odd half, then [[graft.ops.AnnIndex.rebuild]]t on
    * the full corpus. */
  private def annRebuildDir(dir: String): String =
    QueryDef.idxScratchDir("annrebuild", dir)

  private val annRebuilt = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def buildAnnRebuildIdx(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    if (annRebuilt.add(annRebuildDir(dir))) {
      val e = t(s, dir, "embeddings")
      val d = annRebuildDir(dir)
      val h = graft.ops.AnnIndex.build(e.filter(col("vec_id") % 2 === 0),
        "embedding", "vec_id", d, nCells = TrainK, m = PqM, k = 4, dim = Dim,
        iters = TrainIters)
      graft.ops.AnnIndex.append(h, e.filter(col("vec_id") % 2 === 1),
        "embedding", "vec_id")
      graft.ops.AnnIndex.rebuild(e, "embedding", "vec_id", d,
        nCells = TrainK, m = PqM, k = 4, dim = Dim, iters = TrainIters)
      ()
    }

  /** Retrain-and-migrate (library `AnnIndex.rebuild` — the operator
    * form of q152's drift→retrain contract): the index is built on
    * HALF the corpus, the other half folded in under those frozen
    * (now-stale) quantizers, then rebuild retrains both quantizers on
    * the full corpus, re-encodes every row and swaps all three tables
    * under the maintenance lock. The oracle is q149's full derivation
    * VERBATIM — training on the full corpus, probe rule, ADC — so the
    * hash passes only if rebuild's end state is bit-identical to a
    * clean build of the current corpus: one stale centroid, leftover
    * old-model code row or missed swap anywhere breaks it (the
    * q145-vs-q70 "one text proves both" move, applied to state
    * migration). */
  val q153 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      graft.ops.AnnIndex.query(s,
          graft.ops.AnnIndex.load(s, annRebuildDir(dir)),
          "vec_id", queryVec0(s, dir), k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("pq_dist"), 6).as("adc_dist"))
        .oracleOrderBy("vec_id")
    }
    QueryDef(
      "q153_ann_rebuild",
      (s, dir) => { buildAnnRebuildIdx(s, dir); probe(s, dir) },
      Some(s"""WITH $annProbeCtesDuck
      SELECT vec_id, round(pq_dist, 6) AS adc_dist FROM (
        SELECT vec_id, pq_dist FROM annscored
        ORDER BY pq_dist ASC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""),
      bench = true,
      benchPrepare = Some((s, dir) => {
        buildAnnRebuildIdx(s, dir)
        queryVec0(s, dir) // warm the memo: the probe must not pay the fetch
        ()
      }),
      benchFn = Some(probe))
  }

  /** q170's index dir: q149's exact training/codes state plus the
    * `label` column stored alongside the codes — its own dir so the
    * attribute column never perturbs the shared index's files. */
  private def annAttrIdxDir(dir: String): String =
    QueryDef.idxScratchDir("annattridx", dir)

  private def buildAnnAttrIdx(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    if (annRebuilt.add(annAttrIdxDir(dir))) {
      graft.ops.AnnIndex.build(
        t(s, dir, "embeddings"), "embedding", "vec_id", annAttrIdxDir(dir),
        nCells = TrainK, m = PqM, k = 4, dim = Dim, iters = TrainIters,
        attrCols = Seq("label"))
      ()
    }

  /** Filtered ANN probe (library `AnnIndex.query` with a metadata
    * predicate — the "top-k where lang = 'en'" production shape):
    * the index stores the `label` attribute INSIDE the
    * cell-partitioned code table, and the probe's predicate restricts
    * the CANDIDATE set before ranking, so the k results are the k
    * best QUALIFYING vectors from the probed cells — post-filtering
    * an unfiltered top-k would surface fewer (here: strictly fewer)
    * qualifying hits. The oracle is q149's full derivation (training
    * chains, probe rule, ADC) with the label predicate applied to the
    * scored candidates only — a filter leaking into training or cell
    * selection, or a non-qualifying row occupying a slot, breaks the
    * hash. */
  val q170 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      graft.ops.AnnIndex.query(s,
          graft.ops.AnnIndex.load(s, annAttrIdxDir(dir)),
          "vec_id", queryVec0(s, dir), k = 10, nProbe = 2,
          filter = Some(col("label") === 3))
        .select(col("vec_id"), round(col("pq_dist"), 6).as("adc_dist"))
        .oracleOrderBy("vec_id")
    }
    QueryDef(
      "q170_ann_filtered_probe",
      (s, dir) => { buildAnnAttrIdx(s, dir); probe(s, dir) },
      Some(s"""WITH $annProbeCtesDuck
      SELECT vec_id, round(pq_dist, 6) AS adc_dist FROM (
        SELECT s.vec_id, s.pq_dist FROM annscored s
        JOIN embeddings e ON e.vec_id = s.vec_id
        WHERE e.label = 3
        ORDER BY s.pq_dist ASC, s.vec_id LIMIT 10) topk
      ORDER BY vec_id"""),
      bench = true,
      benchPrepare = Some((s, dir) => {
        buildAnnAttrIdx(s, dir)
        queryVec0(s, dir) // warm the memo: the probe must not pay the fetch
        ()
      }),
      benchFn = Some(probe))
  }

  /** Refined ANN probe (library `AnnIndex.queryRefined` — the FAISS
    * "refine" pattern: ADC shortlist `k·refine` from the compressed
    * codes, then EXACT cosine re-rank over the raw vectors fetched as
    * a point lookup): the true neighbor a lossy PQ cutoff would
    * misrank is recovered at a candidate-bounded price. The oracle
    * composes q149's full derivation (training, probe rule, ADC) with
    * q33's exact-cosine machinery: the ADC top-40 by (pq_dist, id)
    * feeds an element-exact cosine against vec 0, top-10 by (cosine
    * desc, id). A wrong shortlist member, fetch leak (a row outside
    * the shortlist scoring) or re-rank tie-break breaks the hash. */
  val q175 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      graft.ops.AnnIndex.queryRefined(s,
          graft.ops.AnnIndex.load(s, annIdxDir(dir)),
          t(s, dir, "embeddings"), "embedding", "vec_id",
          queryVec0(s, dir), k = 10, nProbe = 2, refine = 4)
        .select(col("vec_id"), round(col("cosine"), 6).as("cosine"))
        .oracleOrderBy("vec_id")
    }
    QueryDef(
      "q175_ann_refined_probe",
      (s, dir) => { buildAnnIdx(s, dir); probe(s, dir) },
      Some(s"""WITH $annProbeCtesDuck,
      shortlist AS (
        SELECT vec_id FROM annscored
        ORDER BY pq_dist ASC, vec_id LIMIT 40),
      qq2 AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      rescored AS (
        SELECT e.vec_id,
          (${dotSum(duckElem, "e.embedding", "q.qv")}) AS dot,
          (${dotSum(duckElem, "e.embedding", "e.embedding")}) AS naa,
          (${dotSum(duckElem, "q.qv", "q.qv")}) AS nbb
        FROM embeddings e JOIN shortlist sl ON sl.vec_id = e.vec_id
        CROSS JOIN qq2 q)
      SELECT vec_id, round(cosine, 6) AS cosine FROM (
        SELECT vec_id, dot / (sqrt(naa) * sqrt(nbb)) AS cosine
        FROM rescored
        ORDER BY dot / (sqrt(naa) * sqrt(nbb)) DESC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""),
      bench = true,
      benchPrepare = Some((s, dir) => {
        buildAnnIdx(s, dir)
        queryVec0(s, dir) // warm the memo: the probe must not pay the fetch
        ()
      }),
      benchFn = Some(probe))
  }

  /** Batched refine (library `AnnIndex.queryBatchRefined` — q175's
    * exact re-rank for a query TABLE: one ADC pass amortizes the
    * pruned code scan over the batch, one broadcast-joined exact pass
    * re-ranks every query's shortlist together, the corpus touched in
    * ONE (id, embedding) scan): three query vectors, ADC top-40 each,
    * exact cosine top-10 each. The oracle composes q151's per-query
    * batch derivation with the element-exact cosine — a wrong
    * per-query shortlist, a cross-query candidate leak or a re-rank
    * tie-break breaks the hash. */
  val q177 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      val e = t(s, dir, "embeddings")
      graft.ops.AnnIndex.queryBatchRefined(s,
          graft.ops.AnnIndex.load(s, annIdxDir(dir)),
          e.filter(col("vec_id") < 3), e, "embedding", "vec_id",
          k = 10, nProbe = 2, refine = 4)
        .select(col("query_id").as("qid"), col("neighbor_id").as("vec_id"),
          round(col("cosine"), 6).as("cosine"), col("rank"))
        .oracleOrderBy("qid", "rank")
    }
    QueryDef(
      "q177_ann_batch_refined",
      (s, dir) => { buildAnnIdx(s, dir); probe(s, dir) },
      Some(s"""WITH ${annBatchCtesDuck("vec_id < 3")},
        sl AS (SELECT qid, vec_id FROM brk WHERE rank <= 40),
        rescored AS (
          SELECT sl.qid, e.vec_id,
            (${dotSum(duckElem, "q.embedding", "e.embedding")}) AS dot,
            (${dotSum(duckElem, "q.embedding", "q.embedding")}) AS nqq,
            (${dotSum(duckElem, "e.embedding", "e.embedding")}) AS nee
          FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
          JOIN qset q ON q.qid = sl.qid),
        rr AS (
          SELECT qid, vec_id, dot / (sqrt(nqq) * sqrt(nee)) AS cosine,
            CAST(row_number() OVER (PARTITION BY qid
              ORDER BY dot / (sqrt(nqq) * sqrt(nee)) DESC, vec_id) AS INT)
              AS rank
          FROM rescored)
        SELECT qid, vec_id, round(cosine, 6) AS cosine, rank
        FROM rr WHERE rank <= 10 ORDER BY qid, rank"""),
      bench = true,
      benchPrepare = Some((s, dir) => { buildAnnIdx(s, dir); () }),
      benchFn = Some(probe))
  }

  /** q179's merged index — the train-centrally / encode-at-site flow:
    * the shared index's models (trained on the FULL corpus) encode
    * the even and odd halves into separate shard dirs (`buildWith`),
    * then `AnnIndex.merge` unifies them by file copy. Per-JVM memo. */
  private def annMergeDir(dir: String): String =
    QueryDef.idxScratchDir("annmerged", dir)

  private def buildAnnMergedIdx(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    if (annRebuilt.add(annMergeDir(dir))) {
      buildAnnIdx(s, dir) // the model donor
      val h = graft.ops.AnnIndex.load(s, annIdxDir(dir))
      val e = t(s, dir, "embeddings")
      val a = QueryDef.idxScratchDir("annsharda", dir)
      val b = QueryDef.idxScratchDir("annshardb", dir)
      graft.ops.AnnIndex.buildWith(e.filter(col("vec_id") % 2 === 0),
        "embedding", "vec_id", a, h.centroids, h.codebooks)
      graft.ops.AnnIndex.buildWith(e.filter(col("vec_id") % 2 === 1),
        "embedding", "vec_id", b, h.centroids, h.codebooks)
      graft.ops.AnnIndex.merge(s, Seq(a, b), annMergeDir(dir))
      ()
    }

  /** Shard-merge for the persistent ANN index (library
    * `AnnIndex.buildWith` + `AnnIndex.merge` — the vector member of
    * the merge family, and the train-centrally / encode-at-site
    * deployment shape: one site trains, every site encodes its slice
    * under the frozen models, one merge unifies the shards by FILE
    * COPY — legal exactly because the models are bit-equal): the full
    * corpus's models encode the even/odd halves into two shard dirs,
    * merge unifies them, and the vec-0 probe must answer EXACTLY as
    * q149's whole-corpus build does — q149's oracle VERBATIM, so one
    * derivation proves the single build, the per-site encode and the
    * merge against each other. */
  val q179 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      graft.ops.AnnIndex.query(s,
          graft.ops.AnnIndex.load(s, annMergeDir(dir)),
          "vec_id", queryVec0(s, dir), k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("pq_dist"), 6).as("adc_dist"))
        .oracleOrderBy("vec_id")
    }
    QueryDef(
      "q179_ann_shard_merge",
      (s, dir) => { buildAnnMergedIdx(s, dir); probe(s, dir) },
      Some(s"""WITH $annProbeCtesDuck
      SELECT vec_id, round(pq_dist, 6) AS adc_dist FROM (
        SELECT vec_id, pq_dist FROM annscored
        ORDER BY pq_dist ASC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""),
      bench = true,
      benchPrepare = Some((s, dir) => {
        buildAnnMergedIdx(s, dir)
        queryVec0(s, dir) // warm the memo: the probe must not pay the fetch
        ()
      }),
      benchFn = Some(probe))
  }

  /** q158's index dir: q149's exact state plus a tombstone delete —
    * its own dir so the shared index stays pristine for q149/q150/
    * q151. */
  private def annDelIdxDir(dir: String): String =
    QueryDef.idxScratchDir("anndelidx", dir)

  private def buildAnnDelIdx(
      s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    if (annRebuilt.add(annDelIdxDir(dir))) {
      val e = t(s, dir, "embeddings")
      val d = annDelIdxDir(dir)
      val h = graft.ops.AnnIndex.build(e, "embedding", "vec_id", d,
        nCells = TrainK, m = PqM, k = 4, dim = Dim, iters = TrainIters)
      graft.ops.AnnIndex.delete(h,
        e.filter(col("vec_id") % 5 === 2).select(col("vec_id")), "vec_id")
      ()
    }

  /** Tombstone deletion on the persistent ANN index (library
    * `AnnIndex.delete` — the vector-side right-to-be-forgotten path:
    * a delete writes a small tombstone side table that every probe
    * anti-joins; the cell-partitioned code table is never rewritten
    * — that is compact's job). Build q149's exact index in its own
    * dir, delete every `vec_id % 5 = 2` vector, run the same vec-0
    * probe. The oracle is q149's full derivation (both training
    * chains on the FULL corpus — the quantizers are frozen by a
    * delete — probe rule, ADC) with the remainder filter applied to
    * the candidate set only: a deleted vector occupying any result
    * slot, or the filter leaking into training, breaks the hash. */
  val q158 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      graft.ops.AnnIndex.query(s,
          graft.ops.AnnIndex.load(s, annDelIdxDir(dir)),
          "vec_id", queryVec0(s, dir), k = 10, nProbe = 2)
        .select(col("vec_id"), round(col("pq_dist"), 6).as("adc_dist"))
        .oracleOrderBy("vec_id")
    }
    QueryDef(
      "q158_ann_delete_probe",
      (s, dir) => { buildAnnDelIdx(s, dir); probe(s, dir) },
      Some(s"""WITH $annProbeCtesDuck
      SELECT vec_id, round(pq_dist, 6) AS adc_dist FROM (
        SELECT vec_id, pq_dist FROM annscored
        WHERE vec_id % 5 <> 2
        ORDER BY pq_dist ASC, vec_id LIMIT 10) topk
      ORDER BY vec_id"""),
      bench = true,
      benchPrepare = Some((s, dir) => {
        buildAnnDelIdx(s, dir)
        queryVec0(s, dir) // warm the memo: the probe must not pay the fetch
        ()
      }),
      benchFn = Some(probe))
  }

  /** MMR diversity re-ranking (library `Similarity.mmrRerank` —
    * Carbonell & Goldstein's maximal marginal relevance over a
    * retriever's candidate list: greedy picks maximize
    * `λ·rel − (1−λ)·max_sel cos`, so near-duplicate hits stop
    * crowding out coverage): brute-force cosine top-20 for vec 0
    * feeds a 5-pick MMR at λ = 0.7. The greedy trajectory is exactly
    * replayable because each step's value quantizes once to
    * `round(v·2²⁰)` with ties to the smaller id — the oracle unrolls
    * all five argmax steps as CTEs (select → re-score the remainder
    * with `greatest(ms, cos(·, picked))` → select …), the q80
    * unrolled-DP discipline. One wrong cosine, quantization or
    * tie-break anywhere reorders the picks and breaks the hash. */
  val q162 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      val e = t(s, dir, "embeddings")
      val cand = graft.ops.Similarity.bruteForceTopK(
          e, e.filter(col("vec_id") === 0), "embedding", "vec_id", k = 20)
        .select(col("neighbor_id").as("vec_id"), col("cosine").as("rel"))
      graft.ops.Similarity.mmrRerank(cand, e, "vec_id", "rel", "embedding",
          k = 5, lambda = 0.7)
        .select(col("vec_id"), round(col("rel"), 6).as("rel"),
          col("mmr_q"), col("mmr_rank"))
        .oracleOrderBy("mmr_rank")
    }
    QueryDef(
      "q162_mmr_rerank",
      probe,
      Some {
        val elem: (String, Int) => String = duckElem
        def cos(a: String, b: String) =
          s"(${dotSum(elem, a, b)}) / (sqrt(${dotSum(elem, a, a)}) " +
            s"* sqrt(${dotSum(elem, b, b)}))"
        // λ = 0.7 spelled as literals; 1−λ MUST be spelled (1 − 0.7)
        // — the Scala side computes 1.0 − 0.7 = 0.30000000000000004,
        // not the literal 0.3
        def vq(ms: String) =
          s"CAST(round((CAST(0.7 AS DOUBLE) * rel - " +
            s"(CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * $ms) " +
            s"* CAST(1048576 AS DOUBLE)) AS BIGINT)"
        val steps = (1 to 5).map { j =>
          val prev = if (j == 1) "cand" else s"r${j - 1}"
          val ms = if (j == 1) "CAST(0 AS DOUBLE)" else "ms"
          val pick = s"""s$j AS (
            SELECT id, rel, emb${if (j == 1) "" else ", ms"}, ${vq(ms)} AS q
            FROM $prev ORDER BY ${vq(ms)} DESC, id LIMIT 1)"""
          val rescore = if (j == 5) "" else s""",
          r$j AS (
            SELECT c.id, c.rel, c.emb,
              greatest(${if (j == 1) "CAST(0 AS DOUBLE)" else "c.ms"},
                ${cos("c.emb", "s.emb")}) AS ms
            FROM $prev c, s$j s WHERE c.id <> s.id)"""
          pick + rescore
        }.mkString(",\n          ")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          cand AS MATERIALIZED (
            SELECT id, rel, emb FROM (
              SELECT d.vec_id AS id, ${cos("q.qv", "d.embedding")} AS rel,
                d.embedding AS emb
              FROM embeddings d, q WHERE d.vec_id <> 0
              ORDER BY rel DESC, d.vec_id LIMIT 20) c0),
          $steps
          SELECT id AS vec_id, round(rel, 6) AS rel, q AS mmr_q,
            CAST(rk AS INT) AS mmr_rank
          FROM (
            SELECT id, rel, q, 1 AS rk FROM s1
            UNION ALL SELECT id, rel, q, 2 FROM s2
            UNION ALL SELECT id, rel, q, 3 FROM s3
            UNION ALL SELECT id, rel, q, 4 FROM s4
            UNION ALL SELECT id, rel, q, 5 FROM s5) u
          ORDER BY mmr_rank"""
      },
      bench = true)
  }

  /** ANN-index consistency check (library `AnnIndex.fsck` —
    * `Bm25Index.fsck`'s vector twin), run against q158's
    * built-then-deleted state: pre-compact the code table is intact
    * (`code_rows` = the full corpus), every cell a trained centroid,
    * every sub-code in its codebook, no duplicates, and the
    * tombstones all reference rows the table holds. */
  val q169 = QueryDef(
    "q169_ann_fsck",
    (s, dir) => {
      buildAnnDelIdx(s, dir)
      graft.ops.AnnIndex.fsck(s, annDelIdxDir(dir))
        .oracleOrderBy("check")
    },
    Some("""SELECT * FROM (
        SELECT 'code_rows' AS "check", CAST(count(*) AS BIGINT) AS value
        FROM embeddings
        UNION ALL
        SELECT 'n_tombstones', CAST(count(*) AS BIGINT)
        FROM embeddings WHERE vec_id % 5 = 2
        UNION ALL SELECT 'invalid_cells', CAST(0 AS BIGINT)
        UNION ALL SELECT 'invalid_codes', CAST(0 AS BIGINT)
        UNION ALL SELECT 'duplicate_code_rows', CAST(0 AS BIGINT)
        UNION ALL SELECT 'tombstone_orphans', CAST(0 AS BIGINT)) r
      ORDER BY "check""""),
    bench = true,
    benchPrepare = Some((s, dir) => { buildAnnDelIdx(s, dir); () }))

  /** Cell-occupancy report (library `AnnIndex.cellStats` — the
    * operational metric behind the nProbe/recall trade and the
    * rebuild trigger q152's drift monitor complements), over q158's
    * built-then-deleted state so live ≠ total: one row per trained
    * centroid with total and tombstone-filtered counts. The oracle
    * replays the cell assignment (q149's training + assignment CTEs)
    * and counts per cell with and without the deletion predicate —
    * a lost row, a miscounted tombstone or a dropped empty cell
    * breaks the hash. */
  val q180 = QueryDef(
    "q180_ann_cell_stats",
    (s, dir) => {
      buildAnnDelIdx(s, dir)
      graft.ops.AnnIndex.cellStats(s, annDelIdxDir(dir))
        .oracleOrderBy("cell")
    },
    Some(s"""WITH $annIndexStateCtesDuck,
      cnt AS (
        SELECT a.cell,
          CAST(count(*) AS BIGINT) AS n_codes,
          CAST(count(*) FILTER (WHERE a.vec_id % 5 <> 2) AS BIGINT) AS n_live
        FROM assigned a GROUP BY a.cell)
      SELECT c.cid AS cell,
        coalesce(cnt.n_codes, 0) AS n_codes,
        coalesce(cnt.n_live, 0) AS n_live
      FROM c$TrainIters c LEFT JOIN cnt ON cnt.cell = c.cid
      ORDER BY cell"""),
    bench = true,
    benchPrepare = Some((s, dir) => { buildAnnDelIdx(s, dir); () }))

  /** Refine-recall evaluation (library `Similarity.recallAtK` over
    * `AnnIndex.queryBatch` vs `queryBatchRefined` — the measurement
    * that justifies the refine pattern: how much of the EXACT top-5
    * does each probe recover, per query, on the same index): an
    * 8-query panel, self excluded on every side (the q87 recall
    * convention), ADC top-5 vs exact-re-ranked top-5 from a ×4
    * shortlist, against brute-force ground truth. The oracle replays
    * the batched ADC (q151's derivation), the shortlist re-rank
    * (q177's), the exact panel, and both recall joins — refined
    * recall ≥ ADC recall per query is a THEOREM given the shortlist
    * contains the ADC top-k; the oracle pins the exact values. */
  val q181 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      val e = t(s, dir, "embeddings")
      val panel = e.filter(col("vec_id") < 8)
      val h = graft.ops.AnnIndex.load(s, annIdxDir(dir))
      val exact = graft.ops.Similarity.bruteForceTopK(
        e, panel, "embedding", "vec_id", k = 5)
      def dropSelfTop5(df: org.apache.spark.sql.DataFrame,
          ord: org.apache.spark.sql.Column) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(ord, col("neighbor_id"))
        df.filter(col("neighbor_id") =!= col("query_id"))
          .withColumn("__r", row_number().over(w)).filter(col("__r") <= 5)
          .select(col("query_id"), col("neighbor_id"))
      }
      val adc = dropSelfTop5(
        graft.ops.AnnIndex.queryBatch(s, h, panel, "embedding", "vec_id",
          k = 6, nProbe = 2), col("pq_dist").asc)
      val refined = dropSelfTop5(
        graft.ops.AnnIndex.queryBatchRefined(s, h, panel, e, "embedding",
          "vec_id", k = 6, nProbe = 2, refine = 4), col("cosine").desc)
      graft.ops.Similarity.recallAtK(adc, exact)
        .withColumn("probe", lit("adc"))
        .unionByName(graft.ops.Similarity.recallAtK(refined, exact)
          .withColumn("probe", lit("refined")))
        .select(col("probe"), col("query_id"), col("n_exact"),
          col("n_hits"), round(col("recall"), 6).as("recall"))
        .oracleOrderBy("probe", "query_id")
    }
    QueryDef(
      "q181_refine_recall",
      (s, dir) => { buildAnnIdx(s, dir); probe(s, dir) },
      Some(s"""WITH ${annBatchCtesDuck("vec_id < 8")},
        adc AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              ORDER BY rank) AS rn
            FROM brk WHERE rank <= 6 AND vec_id <> qid) a WHERE rn <= 5),
        sl AS (SELECT qid, vec_id FROM brk WHERE rank <= 24),
        resc AS (
          SELECT sl.qid, e.vec_id,
            (${dotSum(duckElem, "q.embedding", "e.embedding")})
              / (sqrt(${dotSum(duckElem, "q.embedding", "q.embedding")})
                 * sqrt(${dotSum(duckElem, "e.embedding", "e.embedding")}))
              AS cosine
          FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
          JOIN qset q ON q.qid = sl.qid),
        ref6 AS (
          SELECT qid, vec_id, cosine, row_number() OVER (PARTITION BY qid
            ORDER BY cosine DESC, vec_id) AS rank
          FROM resc QUALIFY rank <= 6),
        ref AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              ORDER BY rank) AS rn
            FROM ref6 WHERE vec_id <> qid) r WHERE rn <= 5),
        ecand AS (
          SELECT q.qid, d.vec_id,
            (${dotSum(duckElem, "q.embedding", "d.embedding")})
              / (sqrt(${dotSum(duckElem, "q.embedding", "q.embedding")})
                 * sqrt(${dotSum(duckElem, "d.embedding", "d.embedding")}))
              AS cosine
          FROM qset q JOIN embeddings d ON d.vec_id <> q.qid),
        ex AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
              ORDER BY cosine DESC, vec_id) AS rank
            FROM ecand) er WHERE rank <= 5),
        ne AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_exact
               FROM ex GROUP BY qid),
        ha AS (SELECT a.qid, CAST(count(*) AS BIGINT) AS n_hits
               FROM adc a JOIN ex USING (qid, vec_id) GROUP BY a.qid),
        hr AS (SELECT r.qid, CAST(count(*) AS BIGINT) AS n_hits
               FROM ref r JOIN ex USING (qid, vec_id) GROUP BY r.qid)
        SELECT probe, qid AS query_id, n_exact, n_hits,
          round(CAST(n_hits AS DOUBLE) / n_exact, 6) AS recall
        FROM (
          SELECT 'adc' AS probe, ne.qid, ne.n_exact,
            coalesce(ha.n_hits, 0) AS n_hits
          FROM ne LEFT JOIN ha ON ha.qid = ne.qid
          UNION ALL
          SELECT 'refined', ne.qid, ne.n_exact, coalesce(hr.n_hits, 0)
          FROM ne LEFT JOIN hr ON hr.qid = ne.qid) u
        ORDER BY probe, query_id"""),
      bench = true,
      benchPrepare = Some((s, dir) => { buildAnnIdx(s, dir); () }),
      benchFn = Some(probe))
  }

  /** Per-query filtered batch probe (library `AnnIndex.queryBatch`
    * with `attrEquals` — the MULTI-TENANT production shape: q170's
    * shared predicate filters the whole batch one way; here every
    * query row carries its OWN required attribute value, "each query
    * ranks k candidates with ITS label"): eight queries each demand
    * candidates matching their own `label`, the equality prunes
    * BEFORE the LUT joins and the per-query ranking window, so each
    * query ranks k QUALIFYING candidates. The oracle composes q151's
    * full batched derivation with the per-query label equality
    * (candidates join the attribute table, queries join their own
    * wanted value, rank RECOMPUTED over the qualifying slice) —
    * equality leaking across queries, a non-qualifying candidate
    * occupying a slot, or ranking before filtering all break the
    * hash. */
  val q185 = {
    def probe(s: org.apache.spark.sql.SparkSession, dir: String)
        : org.apache.spark.sql.DataFrame = {
      val e = t(s, dir, "embeddings")
      graft.ops.AnnIndex.queryBatch(s,
          graft.ops.AnnIndex.load(s, annAttrIdxDir(dir)),
          e.filter(col("vec_id") < 8)
            .select(col("vec_id"), col("embedding"), col("label").as("want")),
          "embedding", "vec_id", k = 5, nProbe = 2,
          attrEquals = Some(("label", "want")))
        .select(col("query_id"), col("neighbor_id"),
          round(col("pq_dist"), 6).as("adc_dist"), col("rank"))
        .oracleOrderBy("query_id", "rank")
    }
    QueryDef(
      "q185_ann_batch_filtered",
      (s, dir) => { buildAnnAttrIdx(s, dir); probe(s, dir) },
      Some(s"""WITH ${annBatchCtesDuck("vec_id < 8")},
        want AS (SELECT vec_id AS qid, label FROM embeddings
                 WHERE vec_id < 8),
        fscored AS (
          SELECT b.qid, b.vec_id, b.pq_dist FROM bscored b
          JOIN embeddings e ON e.vec_id = b.vec_id
          JOIN want w ON w.qid = b.qid
          WHERE e.label = w.label),
        frk AS (SELECT qid, vec_id, pq_dist,
            CAST(row_number() OVER (PARTITION BY qid
              ORDER BY pq_dist ASC, vec_id) AS INT) AS rank
          FROM fscored)
      SELECT qid AS query_id, vec_id AS neighbor_id,
        round(pq_dist, 6) AS adc_dist, rank
      FROM frk WHERE rank <= 5 ORDER BY query_id, rank"""),
      bench = true,
      benchPrepare = Some((s, dir) => buildAnnAttrIdx(s, dir)),
      benchFn = Some(probe))
  }

  val all: Seq[QueryDef] =
    Seq(q33, q34, q44, q58, q59, q63, q64, q85, q88, q89, q92, q93, q129,
      q131, q135, q137, q149, q151, q152, q153, q158, q162, q169, q170,
      q175, q177, q179, q180, q181, q185)
}
