package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval over a document corpus: BM25 scoring and top-k
  * search. The curation use cases are retrieval-based decontamination
  * (find training docs that answer an eval question) and targeted
  * quality audits (pull the corpus slice about a topic).
  *
  * Deliberately NOT an inverted-index build: at 100 TB the index is a
  * second corpus-sized dataset, while a query-time scan is a NARROW
  * map (per-row term counts against a handful of query terms) feeding
  * `TakeOrderedAndProject` — no wide shuffle at all. The only
  * corpus-wide work is one single-row aggregate for the collection
  * statistics (N, avgdl, per-term document frequencies), which
  * map-side-combines to one row per partition.
  */
object Retrieval {

  /** Okapi BM25 defaults (Robertson et al., TREC-3). */
  val DefaultK1 = 1.2
  val DefaultB = 0.75

  private def toks(textCol: String): Column =
    split(trim(lower(col(textCol))), "\\s+")

  /** Collection statistics for `queryTerms`: document count, total
    * token count, and per-term document frequency — ONE single-row
    * aggregate job (the scan's partial rows are term-count-wide, not
    * corpus-wide). Returns (N, totalTokens, df per term). */
  def collectionStats(
      df: DataFrame, textCol: String,
      queryTerms: Seq[String]): (Long, Long, Map[String, Long]) = {
    val t = df.select(toks(textCol).as("__toks"))
    // coalesce: over an EMPTY corpus sum() is SQL NULL and the Long
    // unboxing below would NPE before the caller's empty-corpus
    // require could produce its diagnostic
    val aggs =
      coalesce(sum(size(col("__toks")).cast("long")), lit(0L)).as("__total") +:
        queryTerms.zipWithIndex.map { case (term, i) =>
          coalesce(sum(when(array_contains(col("__toks"), term), 1L).otherwise(0L)),
            lit(0L)).as(s"__df$i")
        }
    val row = t.agg(count(lit(1)).as("__n"), aggs: _*).head()
    val dfs = queryTerms.zipWithIndex
      .map { case (term, i) => term -> row.getAs[Long](s"__df$i") }.toMap
    (row.getAs[Long]("__n"), row.getAs[Long]("__total"), dfs)
  }

  /** BM25 score of every document against `queryTerms`, plus top-k
    * selection. Emits `(idCol, n_tok, score)` for the `k` best-scoring
    * documents with at least one query term, ties broken by id.
    *
    * The idf uses the non-negative Robertson formulation
    * `ln(1 + (N - df + 0.5) / (df + 0.5))`. Collection stats are baked
    * in as literals, so the scoring pass is a pure per-row expression:
    * tokenize once (projected, so the split is NOT re-inlined into
    * each term's count — the Catalyst lambda trap), one `filter` count
    * per query term, and the codegen'd polynomial. The plan is scan →
    * map → TakeOrderedAndProject: the 100 TB shape. */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = DefaultK1, b: Double = DefaultB): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(!queryTerms.contains(null), s"bm25TopK: NULL query term in $queryTerms")
    // documents are tokenized LOWERCASED, so a mixed-case query term
    // would silently match nothing — reject it rather than return an
    // empty result that reads as "no documents mention it"
    require(queryTerms.forall(t => t == t.toLowerCase),
      s"query terms must be lowercase (documents are lowercased before matching): " +
        queryTerms.filterNot(t => t == t.toLowerCase).mkString(", "))
    require(queryTerms.distinct.size == queryTerms.size,
      s"query terms must be distinct: $queryTerms")
    val (n, totalTok, dfs) = collectionStats(df, textCol, queryTerms)
    require(n > 0, "bm25TopK over an empty corpus")
    val avgdl = totalTok.toDouble / n.toDouble
    val scored = scoreWith(df, idCol, textCol, queryTerms, n, avgdl, dfs, k1, b)
    scored.filter(col("score") > 0.0)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** The scoring map alone (collection stats supplied by the caller —
    * production keeps them precomputed next to the corpus). */
  def scoreWith(
      df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], nDocs: Long, avgdl: Double,
      docFreqs: Map[String, Long],
      k1: Double = DefaultK1, b: Double = DefaultB): DataFrame = {
    val missing = queryTerms.filterNot(docFreqs.contains)
    require(missing.isEmpty, s"no document frequency supplied for: $missing")
    val withToks = df.select(col(idCol), toks(textCol).as("__toks"))
      .withColumn("n_tok", size(col("__toks")).cast("long"))
    val perTerm = queryTerms.map { term =>
      val dft = docFreqs(term)
      // idf as an ENGINE-evaluated ln over exact inputs (integers and
      // halves are exact doubles), so the DuckDB twin reproduces the
      // identical value from the same integers
      val idf = log(lit(1.0) + lit(nDocs - dft + 0.5) / lit(dft + 0.5))
      val tf = size(filter(col("__toks"), x => x === term)).cast("double")
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("n_tok").cast("double") / lit(avgdl)))
    }
    withToks.select(col(idCol), col("n_tok"),
      perTerm.reduce(_ + _).as("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N ranked
    * result lists — the standard hybrid-retrieval combiner (e.g. BM25
    * lexical + embedding-cosine semantic over the same id space):
    * `score(d) = Σ_i 1 / (rrfK + rank_i(d))`, documents absent from a
    * list contribute 0 for it. Each input must carry `(idCol, rank)`
    * with 1-based ranks.
    *
    * Determinism: the per-list ranks are PIVOTED to columns first
    * (one groupBy on id over result-list-sized input — top-k lists,
    * never corpus-sized) and the reciprocal terms are summed as an
    * explicit left-to-right column expression, so the fused score is
    * bit-identical on any engine/partitioning — never a float SUM in
    * arbitrary aggregation order. Emits the fused top-`k`:
    * `(idCol, rank_0..rank_{n-1}, rrf_score, rank)`, ties by id;
    * the final rank attaches via zipWithIndex on the already-sorted
    * k rows (no single-partition window). */
  def rrfFuse(
      rankings: Seq[DataFrame], idCol: String,
      rrfK: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(rrfK >= 0, s"rrfK must be >= 0, got $rrfK")
    val n = rankings.size
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(idCol), lit(i).as("__sys"), col("rank").cast("long").as("__rank"))
    }.reduce(_ unionByName _)
    val pivoted = tagged.groupBy(idCol)
      .agg(max(when(col("__sys") === 0, col("__rank"))).as("rank_0"),
        (1 until n).map(i =>
          max(when(col("__sys") === i, col("__rank"))).as(s"rank_$i")): _*)
    val score = (0 until n).map(i =>
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col(s"rank_$i").cast("double")),
          lit(0.0)))
      .reduce(_ + _)
    val top = pivoted.withColumn("rrf_score", score)
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
    graft.util.Ids.withRowIndex(top, "rank")
  }

  /** Batched reciprocal-rank fusion — [[rrfFuse]]'s table form and
    * the hybrid member of the amortized-probe family: every ranking
    * carries a query id, and each query's lists fuse independently
    * (the RAG-evaluation shape — [[Bm25Index.topKBatch]] +
    * [[AnnIndex.queryBatch]] feed it directly). Same arithmetic as
    * the single-query form: per system `1/(rrfK + rank)` summed
    * left-to-right in system order (deterministic — never a float
    * aggregate), absent-from-a-system contributes exact 0. Ranking
    * is a qid-PARTITIONED window over fused candidates only — no
    * global sort at any query count. Emits `(qidCol, idCol,
    * rank_0..rank_{n-1}, rrf_score, rank)`, ranks 1..k by
    * (rrf_score desc, id). */
  def rrfFuseBatch(
      rankings: Seq[DataFrame], qidCol: String, idCol: String,
      rrfK: Int = 60, k: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuseBatch needs at least one ranking")
    require(rrfK >= 0, s"rrfK must be >= 0, got $rrfK")
    require(k >= 1, s"k must be >= 1, got $k")
    val n = rankings.size
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col(qidCol), col(idCol), lit(i).as("__sys"),
        col("rank").cast("long").as("__rank"))
    }.reduce(_ unionByName _)
    val pivoted = tagged.groupBy(qidCol, idCol)
      .agg(max(when(col("__sys") === 0, col("__rank"))).as("rank_0"),
        (1 until n).map(i =>
          max(when(col("__sys") === i, col("__rank"))).as(s"rank_$i")): _*)
    val score = (0 until n).map(i =>
        coalesce(lit(1.0) / (lit(rrfK.toDouble) + col(s"rank_$i").cast("double")),
          lit(0.0)))
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(qidCol)
      .orderBy(col("rrf_score").desc, col(idCol))
    pivoted.withColumn("rrf_score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Ranking-quality evaluation over a judged panel — the metric
    * harness a retrieval deployment runs before and after every
    * index/scoring change ([[Similarity.recallAtK]] is the ANN twin;
    * this is the graded-relevance general form): per query,
    * reciprocal rank, hits@k, and nDCG@k against a qrels table.
    *
    * `results` carries `(qidCol, idCol, rankCol)` — any ranked list
    * ([[Bm25Index.topKBatch]], [[AnnIndex.queryBatch]],
    * [[rrfFuse]]…); ranks beyond `k` are ignored. `qrels` carries
    * `(qidCol, idCol, grade)` with integer grades ≥ 0 (0 = judged
    * non-relevant, ≥ 1 = relevant; graded values feed nDCG's
    * `2^grade − 1` gains). Output is one row per query WITH at least
    * one relevant judgment (the [[Similarity.recallAtK]] posture —
    * callers evaluate the panel they judged):
    *
    *  - `n_rel` — relevant judgments for the query
    *  - `hits_k` — relevant docs in the top `k`
    *  - `rr_q` — `round(2²⁰ / first_relevant_rank)` (0 when no
    *    relevant doc ranks ≤ k): an exact integer, order-free
    *  - `dcg_q` / `idcg_q` — `Σ round((2^grade − 1) / (ln(rank+1)
    *    / ln 2) · 2²⁰)` over the relevant hits at their actual /
    *    ideal positions (ideal = grades sorted desc, ties to the
    *    smaller id), BIGINT sums of per-hit quantizations — the
    *    log spelled `ln(x)/ln(2)` so any engine replays it
    *    bit-for-bit (a native log2 may round differently)
    *  - `ndcg` — `dcg_q / idcg_q` as a double (both sides exact
    *    integers, so the division is engine-invariant)
    *
    * Every stage is a qid-keyed join/aggregate or a qid-partitioned
    * window — panel-sized work, nothing corpus-scaled, no global
    * sort. */
  def evalRanking(
      results: DataFrame, qrels: DataFrame,
      qidCol: String, idCol: String, rankCol: String = "rank",
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Seq(qidCol, idCol, rankCol).foreach(c =>
      require(results.columns.contains(c),
        s"results must carry '$c', has ${results.columns.mkString(", ")}"))
    Seq(qidCol, idCol, "grade").foreach(c =>
      require(qrels.columns.contains(c),
        s"qrels must carry '$c', has ${qrels.columns.mkString(", ")}"))
    val qid = col(qidCol)
    // duplicate-(qid, id) guards, in-plan because both tables are
    // unbounded (the topKBatch/queryBatch posture): a duplicate
    // judgment row would silently inflate n_rel and idcg_q, a
    // duplicate result row hits_k and dcg_q — raise loudly instead.
    // ONE (qid, id)-keyed aggregate per input (map-side combine, no
    // sort) rather than a window: on a duplicate-free panel the
    // `first` IS the row's value, and any key with two rows raises
    // before a value could matter.
    def dupGuard(df: DataFrame, valueCol: String, what: String): DataFrame =
      df.groupBy(qid, col(idCol))
        .agg(count(lit(1)).as("__n"), first(col(valueCol)).as(valueCol))
        .select(qid,
          when(col("__n") > 1, raise_error(concat(
              lit(s"evalRanking: duplicate ($qidCol, $idCol) in $what: ("),
              qid.cast("string"), lit(", "), col(idCol).cast("string"),
              lit(")"))))
            .otherwise(col(idCol)).as(idCol),
          col(valueCol))
    val rel = dupGuard(qrels, "grade", "qrels")
      .select(qid, col(idCol), col("grade").cast("long").as("grade"))
      .filter(col("grade") >= 1L)
    val perQuery = rel.groupBy(qidCol).agg(count(lit(1)).as("n_rel"))
    val log2rank: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      r => log(r.cast("double") + lit(1.0)) / log(lit(2.0))
    val gain = (g: org.apache.spark.sql.Column) =>
      pow(lit(2.0), g.cast("double")) - lit(1.0)
    // relevant hits at their ACTUAL ranks (the duplicate guard runs
    // over the FULL result table, not the rank<=k slice — a ranked
    // list carrying the same doc twice is malformed wherever the
    // copies sit)
    val hits = dupGuard(results, rankCol, "results")
      .select(qid, col(idCol), col(rankCol).cast("long").as("__rank"))
      .filter(col("__rank") <= k)
      .join(rel, Seq(qidCol, idCol))
      .withColumn("__dg",
        round(gain(col("grade")) / log2rank(col("__rank")) * lit(1048576.0d))
          .cast("long"))
    val actual = hits.groupBy(qidCol).agg(
      count(lit(1)).as("hits_k"),
      min(col("__rank")).as("__minr"),
      sum(col("__dg")).as("dcg_q"))
    // the IDEAL ordering: grades descending, ties to the smaller id
    val idealW = org.apache.spark.sql.expressions.Window
      .partitionBy(qidCol).orderBy(col("grade").desc, col(idCol))
    val ideal = rel
      .withColumn("__pos", row_number().over(idealW))
      .filter(col("__pos") <= k)
      .withColumn("__dg",
        round(gain(col("grade")) / log2rank(col("__pos")) * lit(1048576.0d))
          .cast("long"))
      .groupBy(qidCol).agg(sum(col("__dg")).as("idcg_q"))
    perQuery.join(ideal, Seq(qidCol))
      .join(actual, Seq(qidCol), "left")
      .select(qid, col("n_rel"),
        coalesce(col("hits_k"), lit(0L)).as("hits_k"),
        coalesce(round(lit(1048576.0d) / col("__minr").cast("double"))
          .cast("long"), lit(0L)).as("rr_q"),
        coalesce(col("dcg_q"), lit(0L)).as("dcg_q"),
        col("idcg_q"),
        (coalesce(col("dcg_q"), lit(0L)).cast("double") /
          col("idcg_q").cast("double")).as("ndcg"))
  }
}
