package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators — the training-data
  * pipeline generalization of Merge's hash+distance entity dedup
  * (SURVEY §7.1.9). Everything is expression-only (no UDFs) and
  * shuffle-minimal: one groupBy for signatures, one equi-join per LSH
  * band for candidates.
  */
object Dedup {

  /** Exact dedup by content hash.
    * Returns the input with `is_duplicate` and `keep_id` columns: for
    * each group of byte-identical `textCol` values, the row with the
    * smallest `idCol` is the keeper. One shuffle on a 128-bit key with
    * map-side partial aggregation — at 100 TB this is the cheapest
    * possible dedup.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // NULL text carries no content evidence: such rows come back as
    // their own keepers (is_duplicate = false), NOT silently dropped
    // (an inner join on the null fingerprint would lose them) and NOT
    // grouped with each other (null <=> null would call two unknown
    // documents identical)
    val groups = df.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as("keep_id"))
    df.withColumn("__fp", md5(col(textCol)))
      .join(groups, Seq("__fp"), "left")
      .withColumn("keep_id", coalesce(col("keep_id"), col(idCol)))
      .withColumn("is_duplicate", col(idCol) =!= col("keep_id"))
      .drop("__fp")
  }

  /** Snapshot diff between two corpus versions — the release-ops
    * question every refreshed training set answers before shipping
    * ("what actually changed since the last cut?"): per id, `added`
    * (new only), `removed` (old only), `changed` (both sides, content
    * md5 differs — including to/from NULL text), or `unchanged`.
    * Returns `(idCol, status, old_md5, new_md5)`.
    *
    * Precondition (the library-wide id contract): `idCol` is unique
    * within each side — a duplicated id fans the full-outer join out
    * into one verdict row per pairing, double-counting the delta. Run
    * [[Eval.tableHealth]]'s primary-key contract on both snapshots
    * first if uniqueness is in doubt; this op deliberately does not
    * pay a corpus-wide distinct to re-check it.
    *
    * 100 TB shape: md5 computed in-scan on both sides, ONE id-keyed
    * full-outer hash join, a narrow CASE — nothing else. Feed the
    * `changed`+`added` slice into incremental dedup
    * ([[dedupAgainst]] / [[DedupIndex.dedupBatch]]) and the
    * `removed` slice into index maintenance and the refresh pipeline
    * only ever touches the delta. */
  def corpusDiff(
      oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol), md5(col(textCol)).as("old_md5"))
      .withColumn("__in_old", lit(true))
    val n = newDf.select(col(idCol), md5(col(textCol)).as("new_md5"))
      .withColumn("__in_new", lit(true))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("old_md5") <=> col("new_md5"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col(idCol), col("status"), col("old_md5"), col("new_md5"))
  }

  /** Ordered lowercase whitespace tokens. */
  def tokens(textCol: Column): Column = split(trim(lower(textCol)), "\\s+")

  /** MinHash signature columns `mh0..mh{n-1}` over 3-token shingles.
    * ONE md5 per shingle; the n hash families are derived by double
    * hashing h_i = a + i*b from two 28-bit halves of the digest (the
    * standard Kirsch–Mitzenmacher construction) — 8x cheaper than one
    * keyed md5 per family, and min over the doc's shingles stays
    * order-free, so the signature is deterministic under any
    * partitioning. Input must have a `text` column; docs with fewer
    * than 3 tokens get all-NULL signatures.
    *
    * Computed by the native [[graft.plans.MinhashSignature]]
    * expression: the previous `array_min(transform(transform(...)))`
    * formulation ran every lambda interpreted (higher-order functions
    * don't codegen — the effect a minhash A/B measured), and
    * materialized the shingle + digest arrays per row. The signature
    * array is projected in its own step so the one-pass expression
    * runs once, not once per mh column. */
  def minhashSignatures(df: DataFrame, numHashes: Int = 8): DataFrame = {
    graft.plans.MinhashSignature.register(df.sparkSession)
    val mhs = (0 until numHashes).map(i =>
      element_at(col("__mh"), i + 1).as(s"mh$i"))
    df.withColumn("__mh",
        call_function("graft_minhash", col("text"), lit(numHashes), lit(3)))
      .select(df.columns.map(col) ++ mhs: _*)
  }

  /** LSH candidate pairs: documents agreeing on at least one band of
    * `bandSize` consecutive minhashes. The band equi-joins replace the
    * all-pairs comparison — the only scale-viable near-dup shape.
    * Returns (doc_a, doc_b) with doc_a < doc_b. */
  def lshCandidatePairs(
      sigs: DataFrame, idCol: String,
      numHashes: Int = 8, bandSize: Int = 4): DataFrame = {
    require(bandSize >= 1 && numHashes >= bandSize && numHashes % bandSize == 0,
      s"numHashes ($numHashes) must be a positive multiple of bandSize ($bandSize) — " +
        "a remainder would silently drop the trailing hashes from every band")
    val bands = (0 until numHashes / bandSize).map(b => (b * bandSize) until ((b + 1) * bandSize))
    val a = sigs.alias("a"); val b = sigs.alias("b")
    bands.map { band =>
      a.join(b,
        band.map(i => col(s"a.mh$i") === col(s"b.mh$i")).reduce(_ && _) &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    }.reduce(_ unionByName _).distinct()
  }

  /** Exact word-set Jaccard similarity for given candidate pairs.
    * `pairs` has (doc_a, doc_b); result adds a `jaccard` column.
    * Cost is |pairs| * avg doc size — run AFTER LSH banding.
    *
    * Shape: tokenize ONLY docs that appear in a candidate pair
    * (semi-join first — after banding the candidate set is a tiny
    * fraction of the corpus), attach each side's distinct-word ARRAY
    * with one equi-join per side, and compute |A∩B| with a narrow
    * `array_intersect` (hash-set, O(|A|+|B|)) — no explode, no
    * word-level shuffle, no per-pair aggregation. The earlier
    * explode + 3-join + groupBy formulation shuffled the word list
    * three times and was the most expensive stage of the near-dup
    * pipeline; the counts (and therefore the jaccard doubles) are
    * identical.
    *
    * Docs whose `text` is NULL have no word set and never score —
    * inner joins drop their pairs, matching the explode formulation
    * (explode of a NULL array emits no rows).
    */
  def jaccardForPairs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val pairIds = pairs.select(col("doc_a").as("__id"))
      .unionByName(pairs.select(col("doc_b").as("__id"))).distinct()
    // candidate-sized; feeds both join sides, so materialize once
    val toks = docs.select(col(idCol).as("__id"),
        array_distinct(tokens(col("text"))).as("__t"))
      .filter(col("__t").isNotNull)
      .join(pairIds, Seq("__id"), "left_semi")
      .localCheckpoint(false)
    pairs
      .join(toks.select(col("__id").as("doc_a"), col("__t").as("__ta")), Seq("doc_a"))
      .join(toks.select(col("__id").as("doc_b"), col("__t").as("__tb")), Seq("doc_b"))
      .withColumn("__ni", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("jaccard",
        col("__ni").cast("double") /
          (size(col("__ta")) + size(col("__tb")) - col("__ni")))
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Banding-configuration evaluation harness — the tuning question
    * every MinHash deployment answers BEFORE a 100 TB run: for this
    * (numHashes, bandSize), what fraction of the truly-similar pairs
    * does banding surface (recall), and how much junk does the verify
    * stage then have to kill (precision)? Ground truth is brute-force
    * all-pairs Jaccard over the SAME 3-token shingle sets the MinHash
    * signatures sketch — the similarity banding actually approximates,
    * so recall measures the banding S-curve's miss rate at
    * `threshold`, not a different metric's disagreement. Docs with no
    * shingles (< 3 tokens) are outside this metric entirely (exact
    * dedup owns them). Brute force means this is by contract an
    * EVALUATION on a bounded sample (`maxSampleRows` guards the
    * quadratic — tune on the sample, deploy the config on the
    * corpus); the all-pairs join rides a constant-key broadcast HASH
    * join (codegen), never a CartesianProduct node.
    *
    * Returns one row: `n_truth`, `n_cand`, `n_hit` (candidates that
    * are true pairs), `precision` (n_hit/n_cand), `recall`
    * (n_hit/n_truth) — NaN when the denominator is zero. */
  def lshEvaluate(
      docs: DataFrame, idCol: String, threshold: Double,
      numHashes: Int = 8, bandSize: Int = 4,
      maxSampleRows: Long = 10000L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold out of (0,1]: $threshold")
    val spark = docs.sparkSession
    // guard FIRST on a cheap projected count (an oversized input must
    // fail with the require, not an executor OOM while checkpointing
    // it), THEN materialize the projection once for all downstream use
    val proj = docs.select(col(idCol).as("__id"), col("text"))
    val nDocs = proj.count()
    require(nDocs <= maxSampleRows,
      s"lshEvaluate is a quadratic EVALUATION harness: got $nDocs rows " +
        s"(> $maxSampleRows) — n^2 pairs AND a broadcast of every row's " +
        s"3-shingle array; evaluate on a sample, deploy the config on the corpus")
    val sample = proj.localCheckpoint(false)
    // distinct 3-shingle set per doc — the set the signatures sketch
    val shingled = sample.select(col("__id"),
        array_distinct(tokenNgrams(tokens(col("text")), 3)).as("__t"))
      .filter(col("__t").isNotNull && size(col("__t")) > 0)
      .withColumn("__k", lit(1))
      .localCheckpoint(false) // feeds both sides of the all-pairs join
    val a = shingled.alias("a"); val b = shingled.alias("b")
    val truth = a.join(broadcast(b),
        col("a.__k") === col("b.__k") && col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
        col("a.__t").as("__ta"), col("b.__t").as("__tb"))
      .withColumn("__ni", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .filter(col("__ni").cast("double") /
        (size(col("__ta")) + size(col("__tb")) - col("__ni")) >= threshold)
      .select("doc_a", "doc_b")
    val cand = lshCandidatePairs(
        minhashSignatures(sample, numHashes).filter(col("mh0").isNotNull),
        "__id", numHashes, bandSize)
    // both pair sets are unique by construction (a<b all-pairs; the
    // banded candidates are distinct'd), so |truth|, |cand| and
    // |truth ∩ cand| are flag sums over ONE tagged-union groupBy —
    // one aggregate action instead of three counting actions plus two
    // checkpoints (the harness was job-count-bound, not data-bound;
    // same membershipFlags move as the fsck family)
    val flags = truth.select(col("doc_a"), col("doc_b"),
        lit(1L).as("__t"), lit(0L).as("__c"))
      .unionByName(cand.select(col("doc_a"), col("doc_b"),
        lit(0L).as("__t"), lit(1L).as("__c")))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("__t")).as("__t"), sum(col("__c")).as("__c"))
    val r = flags.agg(
      coalesce(sum(when(col("__t") > 0, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("__c") > 0, 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("__t") > 0 && col("__c") > 0, 1L).otherwise(0L)),
        lit(0L))).head()
    val nTruth = r.getLong(0); val nCand = r.getLong(1); val nHit = r.getLong(2)
    spark.range(1).select(
      lit(nTruth).as("n_truth"), lit(nCand).as("n_cand"), lit(nHit).as("n_hit"),
      (if (nCand > 0) lit(nHit.toDouble / nCand) else lit(Double.NaN)).as("precision"),
      (if (nTruth > 0) lit(nHit.toDouble / nTruth) else lit(Double.NaN)).as("recall"))
  }

  /** One banding configuration with its S-curve characteristics at a
    * target similarity: `pCandidate` = 1 − (1 − t^bandSize)^bands (the
    * probability a pair of true similarity `t` shares at least one
    * band) and `midpoint` = (1/bands)^(1/bandSize), the similarity
    * where the curve crosses ~0.5 — the classic (b, r) design rule
    * places it at the dedup threshold. */
  final case class LshPlan(
      numHashes: Int, bandSize: Int, bands: Int,
      pCandidate: Double, midpoint: Double)

  /** Banding-plan chooser — the design-time companion of
    * [[lshEvaluate]] (which MEASURES a config on a sample, while this
    * enumerates the choices worth measuring): every (numHashes =
    * bands × bandSize) ≤ `maxHashes`, ranked by |midpoint − threshold|
    * (then fewer hashes — cheaper signatures win ties). Driver-side
    * arithmetic over a few dozen combinations; nothing distributed. */
  def lshPlans(threshold: Double, maxHashes: Int = 64): Seq[LshPlan] = {
    require(threshold > 0 && threshold < 1, s"threshold out of (0,1): $threshold")
    require(maxHashes >= 2, s"maxHashes must be >= 2, got $maxHashes")
    val plans = for {
      r <- 1 to maxHashes
      b <- 1 to maxHashes / r
      if b * r >= 2
    } yield LshPlan(b * r, r, b,
      1.0 - math.pow(1.0 - math.pow(threshold, r), b),
      math.pow(1.0 / b, 1.0 / r))
    plans.sortBy(p => (math.abs(p.midpoint - threshold), p.numHashes, p.bandSize))
  }

  /** Principled S-curve banding planner — the MMDS ch.3 upgrade of
    * [[lshPlans]]' midpoint heuristic: for every (bands b, rows r)
    * with b·r ≤ `maxHashes`, integrate the banding curve
    * P(s) = 1 − (1 − s^r)^b on both sides of `threshold` and pick the
    * config minimizing `fnWeight · fn_area + fp_area`, where
    * `fn_area` = ∫ₜ¹ (1 − P) ds is the mass of TRUE near-dup pairs
    * banding misses and `fp_area` = ∫₀ᵗ P ds the junk it surfaces for
    * the verify stage to kill. False negatives are unrecoverable
    * (a missed pair never reaches verify) while false positives only
    * cost verify compute — hence the asymmetric default weight.
    *
    * Engine-portable by construction, so the whole candidate table
    * hash-checks against a DuckDB replay: midpoint-rule integration on
    * `steps` DYADIC sample points s_i = (2i−1)/(2·steps) (exactly
    * representable doubles), powers computed as left-associated
    * multiply chains (`aggregate(sequence(...))` — no libm, identical
    * IEEE rounding in any engine), each term quantized to 2⁻²⁰ and
    * summed as exact BIGINTs. The frame is bounded by
    * maxHashes·H(maxHashes) rows (~380 at 64); selection is a
    * single-row min-struct aggregate broadcast back — no window.
    *
    * Returns one row per candidate: `bands`, `rows_per_band`,
    * `hashes_used`, `p_at_t` (P at `threshold`, 6 dp), `fp_area`,
    * `fn_area` (6 dp), `cost_q` (exact quantized-integer objective)
    * and `chosen`. */
  def lshPlanCurve(
      spark: org.apache.spark.sql.SparkSession,
      threshold: Double, maxHashes: Int = 16,
      fnWeight: Long = 10L, steps: Int = 1024): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold out of (0,1): $threshold")
    require(maxHashes >= 2 && maxHashes <= 64,
      s"maxHashes out of [2,64]: $maxHashes — signatures beyond 64 hashes " +
        "buy no banding resolution at these corpus scales")
    require(fnWeight >= 1, s"fnWeight must be >= 1, got $fnWeight")
    require(steps >= 16 && steps <= 65536 && (steps & (steps - 1)) == 0,
      s"steps must be a power of two in [16,65536] (dyadic sample points), got $steps")
    import spark.implicits._
    val cands = for { r <- 1 to maxHashes; b <- 1 to maxHashes / r } yield (b, r)
    val base = cands.toDF("bands", "rows_per_band")
    // P(s) = 1 − (1 − s^r)^b via multiply chains: 1.0·s·s·…  is
    // bit-identical to DuckDB's list_reduce over the same list
    def pDetect(s: Column): Column = {
      val sr = aggregate(sequence(lit(1), col("rows_per_band")),
        lit(1.0d), (acc, _) => acc * s)
      lit(1.0d) - aggregate(sequence(lit(1), col("bands")),
        lit(1.0d), (acc, _) => acc * (lit(1.0d) - sr))
    }
    val q = lit(1048576.0d) // 2^20
    val scored = base
      .select(col("bands"), col("rows_per_band"),
        explode(sequence(lit(1), lit(steps))).as("i"))
      .withColumn("s", (col("i") * 2 - 1).cast("double") / lit((2 * steps).toDouble))
      .withColumn("p", pDetect(col("s")))
      .groupBy("bands", "rows_per_band")
      .agg(
        sum(when(col("s") < threshold,
          round(col("p") * q).cast("long")).otherwise(0L)).as("fp_q"),
        sum(when(col("s") >= threshold,
          round((lit(1.0d) - col("p")) * q).cast("long")).otherwise(0L)).as("fn_q"))
      .withColumn("cost_q", lit(fnWeight) * col("fn_q") + col("fp_q"))
      .withColumn("p_at_t_q", round(pDetect(lit(threshold)) * q).cast("long"))
    val best = scored.agg(min(struct(
      col("cost_q"), col("bands"), col("rows_per_band"))).as("__b"))
      .withColumn("__k", lit(1))
    // constant-key broadcast HASH join (not a nested loop) back onto
    // the candidate table — the q87/q96 single-row-attach pattern
    scored.withColumn("__k", lit(1)).join(broadcast(best), Seq("__k"))
      .select(col("bands"), col("rows_per_band"),
        (col("bands") * col("rows_per_band")).as("hashes_used"),
        round(col("p_at_t_q").cast("double") / q, 6).as("p_at_t"),
        round(col("fp_q").cast("double") / q / steps, 6).as("fp_area"),
        round(col("fn_q").cast("double") / q / steps, 6).as("fn_area"),
        col("cost_q"),
        (struct(col("cost_q"), col("bands"), col("rows_per_band")) === col("__b"))
          .as("chosen"))
  }

  /** Plan-then-apply: run [[lshPlanCurve]], take the chosen (b, r),
    * compute b·r-hash signatures over `docs` and surface the banding
    * candidate pairs at that config — the full design-to-deployment
    * LSH loop ([[lshEvaluate]] measures a config on a sample, this
    * picks one and runs it). The plan frame is bounded (driver
    * collect of one chosen row is the library's dimension-collect
    * discipline); the apply side is the usual band equi-joins.
    * Returns one row: the chosen config's plan columns plus
    * `n_cand_pairs` over `docs`. */
  def lshPlanAndBand(
      docs: DataFrame, idCol: String, threshold: Double,
      maxHashes: Int = 16, fnWeight: Long = 10L, steps: Int = 1024): DataFrame = {
    val spark = docs.sparkSession
    val plan = lshPlanCurve(spark, threshold, maxHashes, fnWeight, steps)
      .filter(col("chosen")).localCheckpoint(false)
    val chosen = plan.select("bands", "rows_per_band").head()
    val (b, r) = (chosen.getInt(0), chosen.getInt(1))
    val nCand = lshCandidatePairs(
      minhashSignatures(docs.select(col(idCol).as("__id"), col("text")), b * r)
        .filter(col("mh0").isNotNull),
      "__id", b * r, r).count()
    plan.select(col("bands"), col("rows_per_band"), col("hashes_used"),
      col("p_at_t"), col("fp_area"), col("fn_area"),
      lit(nCand).as("n_cand_pairs"))
  }

  /** Driver-resident edge ceiling for [[connectedComponents]]'s
    * union-find fast path — the explicit-guard discipline every
    * driver-resident model in this library follows
    * ([[BpeTrain.MaxPieces]], [[UnigramTokenizer.MaxVocab]]): 2M
    * (id, id) pairs is tens of MB on the driver; a corpus whose
    * verified near-dup EDGE LIST exceeds it runs the distributed
    * label-propagation loop instead. */
  val MaxDriverEdges: Int = 1 << 21

  /** Connected components over an undirected (doc_a, doc_b) edge list
    * by min-label propagation WITH label doubling: every node adopts
    * the minimum of its own label, its neighbors' labels, and its
    * label's label (pointer jumping). The jump makes label chains
    * collapse geometrically, so convergence takes O(log diameter)
    * shuffle rounds instead of O(diameter) — at 100 TB a 1000-link
    * chain is ~10 rounds, not 1000. Each round is two joins + one
    * aggregation, all distributed; `maxIters` bounds pathological
    * inputs. Labels are checkpointed per round so the plan stays
    * linear.
    * Returns (id, comp) where comp = the minimum id in the component.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 30): DataFrame = {
    // The seed below IS propagation round 1, and certifying convergence
    // requires observing one further round with zero label changes —
    // so at least one loop round must be allowed to run.
    require(maxIters >= 2,
      s"maxIters must be >= 2 (the seed counts as round 1), got $maxIters")
    // ---- fast path: the edge list is the VERIFIED near-duplicate
    // pair set — orders of magnitude smaller than the corpus (bounded
    // by the duplication rate, not the row count). When it fits the
    // driver guard AND the id type's total order is replicable on the
    // driver (Spark's `least` is numeric order for integral ids,
    // binary UTF-8 for strings), one union-find over one collect
    // replaces the whole iterative loop: the distributed path costs
    // ~6 Spark jobs PER ROUND (three joins + a checkpoint under AQE)
    // and its job-count floor dominated q96/q46/q53 at bench scale.
    // Labels are identical by construction: comp == the component's
    // minimum member id, exactly the converged min-label fixpoint.
    val idType = edges.schema("doc_a").dataType
    val cmp: Option[(Any, Any) => Int] =
      if (idType != edges.schema("doc_b").dataType) None
      else idType match {
        case org.apache.spark.sql.types.LongType => Some((a, b) =>
          java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long]))
        case org.apache.spark.sql.types.IntegerType => Some((a, b) =>
          Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int]))
        case org.apache.spark.sql.types.StringType => Some((a, b) =>
          org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String])))
        case _ => None
      }
    val fastLabels: Option[DataFrame] = cmp.flatMap { c =>
      val rows = edges.select(col("doc_a"), col("doc_b"))
        .limit(MaxDriverEdges + 1).collect()
      val anyNull = rows.exists(r => r.isNullAt(0) || r.isNullAt(1))
      if (rows.length > MaxDriverEdges || anyNull) None
      else {
        // union-find with path compression, then label every member
        // with its component's minimum id under the engine's order
        val parent = new java.util.HashMap[Any, Any]()
        def find(x: Any): Any = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var cur = x // compress
          while (parent.get(cur) != r) {
            val nxt = parent.get(cur); parent.put(cur, r); cur = nxt
          }
          r
        }
        rows.foreach { row =>
          val a = row.get(0); val b = row.get(1)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(ra, rb)
        }
        val minOf = new java.util.HashMap[Any, Any]()
        parent.keySet().forEach { n =>
          val r = find(n)
          val m = minOf.get(r)
          if (m == null || c(n, m) < 0) minOf.put(r, n)
        }
        val spark = edges.sparkSession
        val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
        parent.keySet().forEach { n =>
          out.add(org.apache.spark.sql.Row(n, minOf.get(find(n))))
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", idType),
          org.apache.spark.sql.types.StructField("comp", idType)))
        Some(spark.createDataFrame(out, schema))
      }
    }
    fastLabels.getOrElse(connectedComponentsLoop(edges, maxIters))
  }

  /** The distributed label-propagation loop — [[connectedComponents]]'s
    * fallback beyond [[MaxDriverEdges]] (or for exotic id types).
    * `private[ops]` so the spec can pin fast-path/loop equality. */
  private[ops] def connectedComponentsLoop(
      edges: DataFrame, maxIters: Int): DataFrame = {
    val sym = edges
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().localCheckpoint(false)
    // Seed with round 1 folded into the initialization: with comp == id
    // everywhere, the first propagation round reduces to
    // least(id, min(neighbor id)) and the pointer jump is a no-op — so
    // compute that directly from the symmetrized edges. One groupBy
    // replaces the old init-distinct PLUS the whole first (2-join +
    // agg) round. Every node appears as src in `sym`, so coverage and
    // the jump invariant (comp <= id, every label is a node id) hold.
    var labels = sym.groupBy("src").agg(min("dst").as("__m"))
      .select(col("src").as("id"), least(col("src"), col("__m")).as("comp"))
      .localCheckpoint(false)
    var changed = 1L
    var it = 1 // the seed IS propagation round 1
    while (changed > 0 && it < maxIters) {
      val nbrMin = sym.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("comp").as("nbr_comp"))
      // pointer jump: the label of my label (comp is always <= id, and
      // every label value is itself a node id, so the lookup hits)
      val jump = labels.select(col("id").as("comp"), col("comp").as("jump_comp"))
      // ONE job per round: the convergence count rides the checkpoint's
      // materialization as an observed metric instead of a second
      // driver action over the cached result.
      val obs = org.apache.spark.sql.Observation()
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .join(jump, Seq("comp"), "left")
        .withColumn("new_comp", least(col("comp"),
          coalesce(col("nbr_comp"), col("comp")),
          coalesce(col("jump_comp"), col("comp"))))
        .observe(obs, sum(when(col("new_comp") =!= col("comp"), 1L).otherwise(0L))
          .as("changed"))
        .localCheckpoint(true)
      changed = obs.get.get("changed").collect { case n: Long => n }.getOrElse(0L)
      labels = next.select(col("id"), col("new_comp").as("comp"))
      it += 1
    }
    // silent non-convergence would emit an internally inconsistent
    // cluster map (dup_of pointing at rows that are themselves dups)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($changed labels still changing) — a component's diameter exceeds " +
          "maxIters; raise it for pathologically chained inputs")
    graft.util.Logs.debug("dedup", s"connected components converged in $it rounds")
    labels
  }

  /** Near-dup dedup end to end: minhash -> LSH bands -> jaccard verify
    * -> connected components over the verified pairs. Every member of a
    * duplicate cluster except its minimum id is flagged, with `dup_of`
    * pointing at the cluster keeper — TRANSITIVE: a chain A~B~C with no
    * direct A~C edge still collapses onto A.
    */
  def nearDuplicates(
      docs: DataFrame, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 8, bandSize: Int = 4): DataFrame = {
    // Materialize each stage boundary: signatures feed one subplan per
    // (band x join side), candidate pairs feed both the jaccard
    // intersection and the final pair join, and the verified edge list
    // feeds both directions of the component graph. Without the
    // checkpoints the md5-shingle pipeline re-executes for EVERY
    // consumer (measured 6x slower end to end at sf0.1) — at 100 TB
    // these are exactly the stage outputs a pipeline would persist.
    val sigs = minhashSignatures(docs, numHashes)
      .select(col(idCol) +: (0 until numHashes).map(i => col(s"mh$i")): _*)
      .localCheckpoint(false)
    val pairs = lshCandidatePairs(sigs, idCol, numHashes, bandSize).localCheckpoint(false)
    val verified = jaccardForPairs(docs, idCol, pairs)
      .filter(col("jaccard") >= threshold).localCheckpoint(false)
    val dupMap = connectedComponents(verified)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol), col("comp").as("dup_of"))
    docs.join(dupMap, Seq(idCol), "left")
      .withColumn("is_near_duplicate", col("dup_of").isNotNull)
  }

  /** Candidate-pair similarity histogram — the threshold-tuning
    * artifact a near-dup deployment reads BEFORE committing a
    * threshold ([[lshEvaluate]] scores one config against quadratic
    * truth on a sample; this profiles the verified-candidate
    * DISTRIBUTION at corpus scale): the same banded candidate
    * generation as [[nearDuplicates]], exact word-set jaccard per
    * candidate, histogrammed into `bins` equal-width buckets over
    * [0, 1] (jaccard 1.0 clamps into the top bin). A bimodal shape —
    * mass near 0 from band collisions, mass near 1 from real dups —
    * shows where the threshold cuts; empty bins are emitted so the
    * valley is visible. Returns `(bin, lo, hi, n_pairs)`.
    *
    * 100 TB shape: candidates come from band equi-joins (never
    * all-pairs), the verify tokenizes only pair members (the
    * [[jaccardForPairs]] sliver), and the histogram is ONE bounded
    * aggregate joined onto a `bins`-row spine. */
  def similarityHistogram(
      docs: DataFrame, idCol: String, bins: Int = 20,
      numHashes: Int = 8, bandSize: Int = 4): DataFrame = {
    require(bins >= 1 && bins <= 4096, s"bins out of [1,4096]: $bins")
    val sigs = minhashSignatures(docs, numHashes)
      .filter(col("mh0").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(i => col(s"mh$i")): _*)
      .localCheckpoint(false)
    val pairs = lshCandidatePairs(sigs, idCol, numHashes, bandSize)
      .localCheckpoint(false)
    val counts = jaccardForPairs(docs, idCol, pairs)
      .withColumn("bin",
        least(floor(col("jaccard") * bins), lit((bins - 1).toDouble)).cast("long"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    docs.sparkSession.range(bins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(col("bin"),
        (col("bin").cast("double") / bins).as("lo"),
        ((col("bin") + 1).cast("double") / bins).as("hi"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
  }

  /** MinHash-based FUZZY decontamination — the near-duplicate
    * complement of `TextAnalysis.decontaminate`'s exact n-gram
    * overlap (the Dolma-style eval hygiene pass: a training document
    * that paraphrases or lightly edits an eval document shares few
    * exact 13-grams but a high word-set jaccard): band the train AND
    * eval corpora with the same LSH scheme as [[nearDuplicates]],
    * equi-join candidate (train, eval) pairs per band, verify with
    * exact word-set jaccard, and flag train docs with any verified
    * pair at or above `threshold`.
    *
    * Adds `n_fuzzy_matches` (eval docs at >= threshold),
    * `max_jaccard` (highest verified CANDIDATE jaccard, 0.0 when no
    * candidate — near-misses below threshold are visible) and
    * `fuzzy_contaminated`. Train/eval id spaces may overlap: ids are
    * side-tagged internally before the shared-frame jaccard join.
    * Both inputs need a `text` column (the [[minhashSignatures]]
    * contract).
    *
    * 100 TB shape: the eval side is dimension-sized, so its banded
    * signatures broadcast (AQE); the train corpus is touched once for
    * signatures (narrow native expression) and once per band for the
    * candidate equi-join — never an all-pairs comparison; the exact
    * verify tokenizes ONLY docs appearing in some candidate pair
    * (the [[jaccardForPairs]] sliver). */
  def fuzzyDecontaminate(
      train: DataFrame, eval: DataFrame, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 8, bandSize: Int = 4): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    def tag(df: DataFrame, side: Int): DataFrame =
      minhashSignatures(df, numHashes).filter(col("mh0").isNotNull)
        .select(struct(lit(side).as("s"), col(idCol).as("i")).as("__fid") +:
          (0 until numHashes).map(i => col(s"mh$i")): _*)
    val tSig = tag(train, 0).localCheckpoint(false)
    val eSig = tag(eval, 1).localCheckpoint(false)
    require(bandSize >= 1 && numHashes >= bandSize && numHashes % bandSize == 0,
      s"numHashes ($numHashes) must be a positive multiple of bandSize ($bandSize)")
    val bands = (0 until numHashes / bandSize)
      .map(b => (b * bandSize) until ((b + 1) * bandSize))
    val a = tSig.alias("a"); val b = eSig.alias("b")
    val pairs = bands.map { band =>
      a.join(b, band.map(i => col(s"a.mh$i") === col(s"b.mh$i")).reduce(_ && _))
        .select(col("a.__fid").as("doc_a"), col("b.__fid").as("doc_b"))
    }.reduce(_ unionByName _).distinct()
    val tagged = train
      .select(struct(lit(0).as("s"), col(idCol).as("i")).as("__fid"), col("text"))
      .unionByName(eval
        .select(struct(lit(1).as("s"), col(idCol).as("i")).as("__fid"), col("text")))
    val scored = jaccardForPairs(tagged, "__fid", pairs)
      .groupBy(col("doc_a.i").as(idCol))
      .agg(sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("n_fuzzy_matches"),
        max(col("jaccard")).as("max_jaccard"))
    train.join(scored, Seq(idCol), "left")
      .withColumn("n_fuzzy_matches", coalesce(col("n_fuzzy_matches"), lit(0L)))
      .withColumn("max_jaccard", coalesce(col("max_jaccard"), lit(0.0)))
      .withColumn("fuzzy_contaminated", (col("n_fuzzy_matches") > 0).cast("int"))
  }

  /** INCREMENTAL dedup: screen a NEW batch of documents against an
    * already-curated corpus without reprocessing the corpus — the
    * append-only ingestion shape (a 100 TB corpus is curated once;
    * each day's crawl must dedup against it, not trigger an
    * all-corpus re-dedup). Two screens, both corpus-preserving:
    *
    *  1. EXACT — the batch anti-probes the corpus's distinct md5
    *     fingerprint set (at scale: a precomputed fingerprint table;
    *     the join is one equi-join on a 128-bit key, and only the
    *     batch side is new work).
    *  2. NEAR — MinHash/LSH band equi-joins BETWEEN batch and corpus
    *     signatures only (never corpus x corpus — that work is
    *     already done), candidates verified by exact word-set jaccard
    *     ([[jaccardForPairs]]'s candidate-sliver tokenization).
    *
    * Emits every batch row plus `exact_dup`, `near_dup`,
    * `near_dup_of` (smallest verified corpus match, NULL when none)
    * and `is_new` (survives both screens). NULL-text batch rows
    * carry no content evidence and pass as new ([[exact]]'s rule).
    * Ids must be unique ACROSS the two frames (one id space — the
    * append-only invariant); both frames need a `text` column (the
    * [[minhashSignatures]] contract). */
  def dedupAgainst(
      corpus: DataFrame, batch: DataFrame, idCol: String,
      threshold: Double = 0.8, numHashes: Int = 8, bandSize: Int = 4): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    require(bandSize >= 1 && numHashes >= bandSize && numHashes % bandSize == 0,
      s"numHashes ($numHashes) must be a positive multiple of bandSize ($bandSize)")
    val corpusFp = corpus.filter(col("text").isNotNull)
      .select(md5(col("text")).as("__fp")).distinct()
    val exactHit = batch.filter(col("text").isNotNull)
      .select(col(idCol), md5(col("text")).as("__fp"))
      .join(corpusFp, Seq("__fp"), "left_semi")
      .select(col(idCol), lit(true).as("exact_dup"))
    val bSig = minhashSignatures(batch, numHashes).filter(col("mh0").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(i => col(s"mh$i")): _*)
      .localCheckpoint(false)
    val cSig = minhashSignatures(corpus, numHashes).filter(col("mh0").isNotNull)
      .select(col(idCol) +: (0 until numHashes).map(i => col(s"mh$i")): _*)
      .localCheckpoint(false)
    val bands = (0 until numHashes / bandSize)
      .map(b => (b * bandSize) until ((b + 1) * bandSize))
    val a = bSig.alias("a"); val b = cSig.alias("b")
    // doc_a = batch id, doc_b = corpus id — a cross-frame pair carries
    // no a<b ordering (the id spaces are disjoint, not interleaved)
    val pairs = bands.map { band =>
      a.join(b, band.map(i => col(s"a.mh$i") === col(s"b.mh$i")).reduce(_ && _))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
    }.reduce(_ unionByName _).distinct().localCheckpoint(false)
    val docs = batch.select(col(idCol), col("text"))
      .unionByName(corpus.select(col(idCol), col("text")))
    val nearHit = jaccardForPairs(docs, idCol, pairs)
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_a").as(idCol))
      .agg(min(col("doc_b")).as("near_dup_of"))
    batch.join(exactHit, Seq(idCol), "left")
      .join(nearHit, Seq(idCol), "left")
      .withColumn("exact_dup", coalesce(col("exact_dup"), lit(false)))
      .withColumn("near_dup", col("near_dup_of").isNotNull)
      .withColumn("is_new", !col("exact_dup") && !col("near_dup"))
  }

  /** Quality-aware keeper selection: given cluster assignments (e.g.
    * [[nearDuplicates]]' components) and a per-document quality score,
    * keep the BEST document of each cluster instead of the smallest
    * id — the curation-grade dedup rule (min-id keeps whichever
    * variant crawled first; a real pipeline keeps the cleanest).
    * Argmax per cluster with ties broken by the smallest id, computed
    * as ONE struct-max aggregate (map-side partial, k-bounded output —
    * never a per-cluster sort or window). NULL scores rank below
    * every real score. Emits every input row plus `keeper_id`,
    * `n_members`, and `is_kept`. */
  def keepBest(
      docs: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame = {
    val best = docs.groupBy(col(clusterCol))
      .agg(
        max(struct(
          coalesce(col(scoreCol).cast("double"), lit(Double.NegativeInfinity)).as("s"),
          (-col(idCol)).as("ni"))).as("__b"),
        count(lit(1)).as("n_members"))
      .select(col(clusterCol), (-col("__b.ni")).as("keeper_id"), col("n_members"))
    docs.join(best, Seq(clusterCol))
      .withColumn("is_kept", col(idCol) === col("keeper_id"))
  }

  /** 64-bit SimHash fingerprint (hex string) from md5 of the distinct
    * words: per-bit majority vote. Computed by the native per-row
    * [[graft.plans.SimhashFingerprint]] expression — a NARROW
    * projection with zero shuffle (the previous explode + 64-sum
    * groupBy formulation shuffled the whole exploded word list).
    * Near-dups differ in few bits — compare with [[hammingHex]]. */
  def simhash(df: DataFrame, idCol: String): DataFrame = {
    graft.plans.SimhashFingerprint.register(df.sparkSession)
    df.select(col(idCol), call_function("graft_simhash", col("text")).as("simhash"))
      // the explode-based formulation emitted NO row for NULL text
      // (explode of a null array) — keep that contract
      .filter(col("simhash").isNotNull)
  }

  /** Exact-substring duplicate spans — the span-level generalization of
    * document dedup (the "remove any text that repeats verbatim
    * anywhere in the corpus" pass of modern pretraining pipelines,
    * approximated at `k`-token window granularity instead of suffix
    * arrays): every window of `k` consecutive whitespace tokens whose
    * exact text occurs MORE THAN ONCE across the entire corpus — any
    * document, any position, including twice within one document —
    * marks its token positions as duplicated; overlapping and adjacent
    * marks merge into spans. With `keepFirst` (the default, mirroring
    * remove-all-but-one semantics) the globally first occurrence of
    * each window — minimum `(id, pos)` — keeps its tokens unmarked, so
    * one copy of every duplicated passage survives.
    *
    * Output adds four columns: `n_dup_windows` (flagged window count),
    * `n_spans` (merged span count), `dup_spans`
    * (`array<struct<s,e>>` inclusive 0-based token ranges, empty when
    * clean, null when `textCol` is null), `n_dup_tokens`, and
    * `clean_text` — the tokens outside every span rejoined with single
    * spaces (token-space surgery: the operator tokenizes, so output
    * whitespace is normalized; case and punctuation inside tokens are
    * preserved — windows match case-SENSITIVELY, this is *exact*
    * substring dedup).
    *
    * 100 TB shape: one shuffle keying the corpus's windows by a
    * 128-bit gram hash with map-side partial aggregation (count +
    * min-occurrence — an aggregate, NOT a window over the gram, so a
    * million-fold repeated passage never buffers in one task), one
    * gram-keyed equi-join back, one per-document regroup bounded by
    * document length. Span merging folds each document's sorted flag
    * positions in-row; the token filter costs
    * O(tokens × merged spans) per row — merged spans are bounded by
    * the document's alternation structure, not its window count. */
  def exactSubstrSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 50, keepFirst: Boolean = true): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens, got $k")
    // staged projections: each step references materialized attributes,
    // never re-inlines the tokenizer into downstream lambdas
    val withToks = df.withColumn("__toks", split(trim(col(textCol)), "\\s+"))
    val occHere = struct(col(idCol).as("d"), col("pos").as("p"))
    val occ = withToks
      .select(col(idCol), posexplode(tokenNgrams(col("__toks"), k)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"), md5(col("gram")).as("__g"))
    val dup = occ.groupBy("__g")
      .agg(count(lit(1)).as("occ_n"), min(occHere).as("first_occ"))
      .filter(col("occ_n") >= 2)
    val flagged = occ.join(dup, Seq("__g"))
      .filter(if (keepFirst) occHere =!= col("first_occ") else lit(true))
    val perDoc = flagged.groupBy(idCol).agg(
      sort_array(collect_list(col("pos"))).as("__starts"),
      count(lit(1)).as("n_dup_windows"))

    val emptySpans = expr("CAST(array() AS array<struct<s:int,e:int>>)")
    val spansOf = aggregate(
      coalesce(col("__starts"), expr("CAST(array() AS array<int>)")),
      emptySpans,
      (acc, p) => {
        val last = element_at(acc, -1)
        val fresh = concat(acc, array(struct(p.as("s"), (p + lit(k - 1)).as("e"))))
        // sorted equal-length windows: the running span's end is always
        // the previous start + k - 1, so extend = overwrite the end
        val extend = concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("s").as("s"), (p + lit(k - 1)).as("e"))))
        when(size(acc) === 0, fresh)
          .when(p > last.getField("e") + 1, fresh) // gap: covered sets disjoint
          .otherwise(extend)
      })

    withToks
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_dup_windows", coalesce(col("n_dup_windows"), lit(0L)))
      .withColumn("dup_spans",
        when(col("__toks").isNull, lit(null)).otherwise(spansOf))
      .drop("__starts")
      .withColumn("n_spans", coalesce(size(col("dup_spans")), lit(0)).cast("long"))
      .withColumn("n_dup_tokens", coalesce(
        aggregate(col("dup_spans"), lit(0),
          (acc, sp) => acc + sp.getField("e") - sp.getField("s") + 1),
        lit(0)).cast("long"))
      .withColumn("clean_text", array_join(
        filter(col("__toks"), (t, i) =>
          !exists(col("dup_spans"), sp =>
            i >= sp.getField("s") && i <= sp.getField("e"))), " "))
      .drop("__toks")
  }

  /** Case-preserving `k`-token windows (exact-substring semantics must
    * not equate `The` with `the`) — the canonical staggered-slice zip
    * lives in [[TextAnalysis.ngramsOfTokens]]. */
  private def tokenNgrams(toks: Column, n: Int): Column =
    TextAnalysis.ngramsOfTokens(toks, n)

  /** General interval union over a SORTED `array<struct<s,e>>` column
    * (lengths vary, unlike [[exactSubstrSpans]]'s equal windows): fold
    * (s, e) pairs, extending the running span with the running max
    * end; adjacent-or-overlapping intervals coalesce. */
  private def mergeIntervals(sp: Column): Column = {
    val emptySpans = expr("CAST(array() AS array<struct<s:int,e:int>>)")
    aggregate(
      coalesce(sp, expr("CAST(array() AS array<struct<s:int,e:int>>)")),
      emptySpans,
      (acc, x) => {
        val last = element_at(acc, -1)
        val fresh = concat(acc, array(struct(
          x.getField("s").as("s"), x.getField("e").as("e"))))
        val extend = concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last.getField("s").as("s"),
            greatest(last.getField("e"), x.getField("e")).as("e"))))
        when(size(acc) === 0, fresh)
          .when(x.getField("s") > last.getField("e") + 1, fresh)
          .otherwise(extend)
      })
  }

  /** Minimum-match-length duplicate spans — [[exactSubstrSpans]] with
    * the window size decoupled from the match length (the seed-and-
    * extend narrowing toward suffix-array semantics): SEED with
    * duplicated `seedK`-token windows, EXTEND each non-first seed
    * occurrence against the window's globally-first occurrence (exact
    * token-by-token longest common extension, both directions, in-row),
    * keep only maximal extensions of at least `minLen` tokens, and
    * union the surviving intervals per document. Compared to a plain
    * `exactSubstrSpans(k = seedK)` pass, short coincidental repeats
    * below `minLen` are rejected after extension instead of marked —
    * the OpsSpec exercises inputs where the two answers differ.
    *
    * APPROXIMATION, stated precisely: each occurrence is extended only
    * against its seed gram's FIRST occurrence (min `(id, pos)`), not
    * against every other occurrence. A passage all of whose copies
    * share their full extent (the overwhelmingly common case —
    * boilerplate, quotations, mirrored documents) is found exactly;
    * an occurrence whose longest partner is NOT the seed's first
    * occurrence can under-extend when every one of its seed grams
    * first occurs in some shorter-matching location. Exhaustive
    * pairing would be quadratic in a gram's occurrence count (a
    * million-fold-repeated passage forbids it); first-occurrence
    * pairing keeps the pair set EXACTLY as large as the flagged
    * occurrence set. The q82 oracle re-derives this approximation
    * bit-for-bit.
    *
    * `refine = true` runs a SECOND extension round that closes the
    * common under-extension without going quadratic: each merged
    * round-1 span contributes its two boundary seed windows (span
    * start; last full window before the end), each re-paired with its
    * gram's SECOND-earliest occurrence — the partner round 1 never
    * consulted — and extended the same way; only pairs whose partner
    * is strictly earlier (the keeper rule) survive, and intervals of
    * at least `minLen` union into the round-1 set. One or two pairs
    * per surviving span, so the extra cost is bounded by the final
    * span count, not the occurrence count. A passage whose true
    * longest partner is the third-or-later occurrence of every
    * boundary gram can still under-extend — each round is a rank down
    * the occurrence list, quadratic in the limit, and one round
    * covers the decoy-first-occurrence case that actually arises. The
    * q112 oracle re-derives the refined answer bit-for-bit; OpsSpec
    * has the fixture where round 1 under-extends and the refined pass
    * equals brute force.
    *
    * Output mirrors [[exactSubstrSpans]]: `n_seed_hits` (flagged seed
    * windows), `n_spans`, `dup_spans` (inclusive 0-based token ranges,
    * null for null text), `n_dup_tokens`, `clean_text`.
    *
    * 100 TB shape: the seed pass is the exactSubstrSpans shape (one
    * gram-hash-keyed aggregate with map-side partials — never a window
    * over the gram), and extension joins token arrays ONLY for the
    * candidate sliver (semi-join first, the `jaccardForPairs`
    * pattern). One pair row per flagged occurrence, extension is a
    * narrow per-row scan bounded by document length. */
  def minLenDupSpans(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 50, seedK: Int = 25, refine: Boolean = false): DataFrame = {
    require(seedK >= 2, s"seed window must span at least 2 tokens, got $seedK")
    require(minLen >= seedK,
      s"minLen ($minLen) must be >= seedK ($seedK) — a seed the operator " +
        "cannot even observe would silently never match")
    val withToks = df.withColumn("__toks", split(trim(col(textCol)), "\\s+"))
    val occHere = struct(col(idCol).as("d"), col("pos").as("p"))
    val occ = withToks
      .select(col(idCol), posexplode(tokenNgrams(col("__toks"), seedK)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"), md5(col("gram")).as("__g"))
    val dup = occ.groupBy("__g")
      .agg(count(lit(1)).as("occ_n"), min(occHere).as("first_occ"))
      .filter(col("occ_n") >= 2)
    // one pair per flagged occurrence: (occurrence, gram's first occ);
    // checkpointed — it feeds the id sliver, the extension join, and
    // (with __g retained) the refine round's second-occurrence table,
    // so no stage ever re-walks the corpus gram stream
    val flagged = occ.join(dup, Seq("__g"))
      .filter(occHere =!= col("first_occ"))
      .select(col("__g"), col(idCol), col("pos"),
        col("first_occ.d").as("__fd"), col("first_occ.p").as("__fp"))
      .localCheckpoint(false)
    // token arrays ONLY for docs appearing in some pair (sliver; both
    // join sides read it, so materialize once)
    val pairIds = flagged.select(col(idCol).as("__id"))
      .unionByName(flagged.select(col("__fd").as("__id"))).distinct()
    val toks = withToks.select(col(idCol).as("__id"), col("__toks").as("__t"))
      .join(pairIds, Seq("__id"), "left_semi")
      .localCheckpoint(false)
    // DIAGONAL COLLAPSE before the array join: seeds sharing
    // (doc, partner, pos - partner_pos) lie on one alignment diagonal,
    // and consecutive seed positions there are exactly the windows of
    // one maximal common run — every member extends to the SAME
    // maximal interval, so one representative (the island's min pos)
    // per gap-separated group produces a bit-identical span union
    // while shrinking the array-bearing join from O(flagged windows)
    // to O(distinct duplicated runs). For a long duplicated passage
    // (the case that makes flagged large) this is a ~passage-length
    // reduction; the x10 profile's all-windows-duplicated worst case
    // dropped from 23.4 s to 9.6 s wall (6.6x -> 3.0x scaling ratio).
    val reps = flagged
      .withColumn("__delta", col("pos") - col("__fp"))
      .groupBy(col(idCol), col("__fd"), col("__delta"))
      .agg(sort_array(collect_list(col("pos"))).as("__ps"))
      .select(col(idCol), col("__fd"), col("__delta"),
        // greatest(i, 1): element_at is 1-based and throws on index 0
        // even when the i === 0 disjunct already decides the row —
        // Column || does not short-circuit evaluation
        explode(filter(col("__ps"), (p, i) =>
          (i === 0) || (p - element_at(col("__ps"), greatest(i, lit(1))) > 1))).as("pos"))
      .withColumn("__fp", col("pos") - col("__delta"))
    // longest common extension against the first occurrence, both
    // directions. The lambdas index MATERIALIZED attribute arrays
    // (checkpointed join outputs) — not recomputed expressions, so the
    // Catalyst re-inlining trap does not apply. array_position returns
    // 0 (not null) when no mismatch exists -> all maxN positions match.
    def extLen(maxN: Column, eqAt: Column => Column): Column = {
      val eqArr = transform(sequence(lit(1), greatest(maxN, lit(1))), eqAt)
      val firstFalse = array_position(eqArr, lit(false))
      when(maxN < 1, lit(0)).otherwise(
        coalesce(when(firstFalse === 0, lit(null)).otherwise(firstFalse - 1), maxN))
        .cast("int")
    }
    val ext = reps
      .join(toks.select(col("__id").as(idCol), col("__t").as("__ta")), Seq(idCol))
      .join(toks.select(col("__id").as("__fd"), col("__t").as("__tb")), Seq("__fd"))
    val el = extLen(least(col("pos"), col("__fp")),
      j => element_at(col("__ta"), col("pos") - j + 1) ===
        element_at(col("__tb"), col("__fp") - j + 1))
    val er = extLen(
      least(size(col("__ta")) - col("pos") - seedK,
        size(col("__tb")) - col("__fp") - seedK),
      j => element_at(col("__ta"), col("pos") + lit(seedK) + j) ===
        element_at(col("__tb"), col("__fp") + lit(seedK) + j))
    val spans0 = ext
      .withColumn("__el", el).withColumn("__er", er)
      .filter(lit(seedK) + col("__el") + col("__er") >= minLen)
      .select(col(idCol), (col("pos") - col("__el")).as("s"),
        (col("pos") + lit(seedK - 1) + col("__er")).as("e"))

    // optional round 2: re-pair each merged round-1 span's boundary
    // windows with their grams' SECOND occurrence (see scaladoc) —
    // one or two pairs per surviving span, same extension machinery
    val allSpans = if (!refine) spans0 else {
      // spans0 feeds the refine seeds AND the final union — checkpoint
      // so the round-1 extension lineage (the heaviest stage) runs once
      val spans0c = spans0.localCheckpoint(false)
      val merged1 = spans0c.groupBy(idCol)
        .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__sp"))
        .select(col(idCol), explode(mergeIntervals(col("__sp"))).as("__m"))
        .select(col(idCol), col("__m.s").as("s"), col("__m.e").as("e"))
      // flagged IS the non-first occurrence stream, so the per-gram
      // second occurrence is one bounded aggregate over it — no second
      // corpus tokenization pass
      val seconds = flagged.groupBy("__g").agg(min(occHere).as("second_occ"))
      val seeds2 = merged1.select(col(idCol),
        explode(array_distinct(array(col("s"), col("e") - lit(seedK - 1)))).as("pos"))
      // the boundary window's gram rebuilds in-row from the token
      // sliver (same space-join + md5 as the occ stream) — joining occ
      // here would re-tokenize the corpus a third time
      val pairs2 = seeds2
        .join(toks.select(col("__id").as(idCol), col("__t")), Seq(idCol))
        .withColumn("__g",
          md5(array_join(slice(col("__t"), col("pos") + 1, lit(seedK)), " ")))
        .join(seconds, Seq("__g"))
        .filter(col("second_occ") < occHere) // strictly-earlier keeper rule
        .select(col(idCol), col("pos"),
          col("second_occ.d").as("__fd"), col("second_occ.p").as("__fp"))
      val ext2 = pairs2
        .join(toks.select(col("__id").as(idCol), col("__t").as("__ta")), Seq(idCol))
        .join(toks.select(col("__id").as("__fd"), col("__t").as("__tb")), Seq("__fd"))
      val spans2 = ext2
        .withColumn("__el", el).withColumn("__er", er)
        .filter(lit(seedK) + col("__el") + col("__er") >= minLen)
        .select(col(idCol), (col("pos") - col("__el")).as("s"),
          (col("pos") + lit(seedK - 1) + col("__er")).as("e"))
      spans0c.unionByName(spans2)
    }

    val perDoc = allSpans.groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__sp"))
    val seedCounts = flagged.groupBy(idCol).agg(count(lit(1)).as("n_seed_hits"))

    withToks
      .join(seedCounts, Seq(idCol), "left")
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_seed_hits", coalesce(col("n_seed_hits"), lit(0L)))
      .withColumn("dup_spans",
        when(col("__toks").isNull, lit(null))
          .otherwise(mergeIntervals(col("__sp"))))
      .drop("__sp")
      .withColumn("n_spans", coalesce(size(col("dup_spans")), lit(0)).cast("long"))
      .withColumn("n_dup_tokens", coalesce(
        aggregate(col("dup_spans"), lit(0),
          (acc, sp) => acc + sp.getField("e") - sp.getField("s") + 1),
        lit(0)).cast("long"))
      .withColumn("clean_text", array_join(
        filter(col("__toks"), (t, i) =>
          !exists(col("dup_spans"), sp =>
            i >= sp.getField("s") && i <= sp.getField("e"))), " "))
      .drop("__toks")
  }

  /** All pairs within `maxHamming` bits over a 16-hex-char (64-bit)
    * fingerprint column (SimHash, perceptual image hash, any 64-bit
    * sketch) — EXACT, never all-pairs: the hash splits into
    * `maxHamming + 1` disjoint nibble bands and pairs are generated
    * by per-band equi-joins, then verified with the true Hamming
    * distance. Pigeonhole makes the banding complete: at most
    * `maxHamming` differing bits cannot touch all `maxHamming + 1`
    * bands, so every qualifying pair agrees on some whole band and
    * surfaces in that band's join — the result set equals the
    * brute-force quadratic filter at equi-join cost (the
    * [[lshCandidatePairs]] discipline applied to Hamming space).
    * Emits `(id_a, id_b, hamming)` with `id_a < id_b`; NULL
    * fingerprints never pair. */
  def hammingNearDupPairs(
      df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    // 15 -> 16 one-nibble bands, the finest split 16 nibbles allow
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val nBands = maxHamming + 1
    // 1-based substr bounds of nBands contiguous nibble ranges
    val bounds = (0 to nBands).map(i => 1 + (16 * i) / nBands)
    // decode the fingerprint ONCE PER DOC into two 32-bit longs: the
    // verify then costs two xor + two bit_count per PAIR, not sixteen
    // per-nibble string decodes (measured 17.5 s -> single-digit on the
    // 166k-pair sf0.1 corpus), and the joins carry four longs instead
    // of two 16-char strings
    val withBands = df.filter(col(hashCol).isNotNull)
      .select(col(idCol) +:
        conv(substring(col(hashCol), 1, 8), 16, 10).cast("long").as("__hi") +:
        conv(substring(col(hashCol), 9, 8), 16, 10).cast("long").as("__lo") +:
        (0 until nBands).map(bi =>
          substring(col(hashCol), bounds(bi), bounds(bi + 1) - bounds(bi))
            .as(s"__b$bi")): _*)
      .localCheckpoint(false) // feeds one subplan per (band x side)
    val a = withBands.alias("a"); val b = withBands.alias("b")
    val pairs = (0 until nBands).map { bi =>
      a.join(b, col(s"a.__b$bi") === col(s"b.__b$bi") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          col(s"a.__hi").as("__ahi"), col(s"a.__lo").as("__alo"),
          col(s"b.__hi").as("__bhi"), col(s"b.__lo").as("__blo"))
    }.reduce(_ unionByName _)
    // verify BEFORE the distinct: hamming is a pure pair function, so
    // deduplicating (id_a, id_b, hamming) afterwards shuffles only the
    // three output columns
    pairs
      .withColumn("hamming",
        (bit_count(col("__ahi").bitwiseXOR(col("__bhi"))) +
          bit_count(col("__alo").bitwiseXOR(col("__blo")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
  }

  /** Hamming distance between two equal-length hex-string fingerprint
    * COLUMN NAMES (bit_count over per-nibble XOR). */
  def hammingHex(aCol: String, bCol: String): Column = {
    val terms = (1 to 16).map { i =>
      val na = s"(instr('0123456789abcdef', substr($aCol, $i, 1)) - 1)"
      val nb = s"(instr('0123456789abcdef', substr($bCol, $i, 1)) - 1)"
      s"bit_count($na ^ $nb)"
    }
    expr(terms.mkString(" + "))
  }
}
