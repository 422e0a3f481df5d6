package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for corpus curation. The
  * sampling decision is a pure function of the row's id (the first 28
  * bits of its md5), so a sample is REPRODUCIBLE across runs,
  * partitionings, and engines: re-running a 100 TB pipeline keeps the
  * exact same holdout rows, and adding data never reshuffles earlier
  * membership. Every operator here is a narrow zero-shuffle filter or
  * projection — sampling costs one codegen'd map over the scan.
  */
object Sampling {

  /** 2^28 — the unit-hash denominator. 28 bits = 7 hex digits, enough
    * resolution for per-million sampling rates while staying exactly
    * representable in a double (so `u` is a dyadic rational and
    * compares bit-identically on any IEEE754 engine). */
  val UnitDenominator: Double = (1L << 28).toDouble

  /** The 28-bit md5 integer behind [[hashUnit]] — the single source of
    * the engine-portable decode, shared with [[Dsir]]'s feature
    * bucketing and Gumbel uniform so the two modules can never
    * silently diverge from the DuckDB nibble-polynomial mirror. */
  private[ops] def hash28(c: Column): Column =
    conv(substring(md5(c), 1, 7), 16, 10).cast("long")

  /** Uniform [0,1) hash of the id: the first 7 hex digits of
    * md5(id as string) as a 28-bit integer over 2^28. DuckDB spells
    * the same decode as an instr nibble polynomial (q60's oracle). */
  def hashUnit(id: Column): Column =
    hash28(id.cast("string")).cast("double") / UnitDenominator

  /** Keep rows whose unit hash falls below `fraction` — a
    * deterministic Bernoulli sample. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction out of [0,1]: $fraction")
    df.filter(hashUnit(col(idCol)) < fraction)
  }

  /** Per-stratum sampling rates (quota curation: upsample rare
    * sources, cap dominant ones). Strata missing from `fractions` get
    * `defaultFraction`. */
  def stratifiedSample(
      df: DataFrame, idCol: String, strataCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0): DataFrame = {
    (fractions.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction out of [0,1]: $f"))
    // deterministic CASE order (sorted keys) so the plan is stable
    val frac = fractions.toSeq.sortBy(_._1).foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) => when(col(strataCol) === stratum, lit(f)).otherwise(acc)
    }
    df.filter(hashUnit(col(idCol)) < frac)
  }

  /** Largest-remainder apportionment of `k` slots over target
    * proportions — deterministic: every stratum gets its floor share
    * `floor(k·p)`, and the leftover slots go to the largest fractional
    * remainders (ties by stratum name ascending). The exact-seat
    * method election systems use; never over- or under-allocates. */
  private[ops] def apportion(target: Seq[(String, Double)], k: Int): Map[String, Long] = {
    val base = target.map { case (s, p) =>
      val share = k * p
      (s, math.floor(share).toLong, share - math.floor(share))
    }
    val left = (k - base.map(_._2).sum).toInt
    val bump = base.sortBy { case (s, _, frac) => (-frac, s) }
      .take(left).map(_._1).toSet
    base.map { case (s, b, _) => s -> (b + (if (bump(s)) 1L else 0L)) }.toMap
  }

  /** Domain-mixture resampling — the data-mixing pass every pretraining
    * corpus gets (the DoReMi/Pile recipe applied): select `k` documents
    * whose stratum composition matches `target` proportions, e.g.
    * upweighting rare languages against a web-crawl's natural skew.
    * Per-stratum quotas come from largest-remainder [[apportion]]ment;
    * within each stratum the quota fills with the smallest
    * `(hashUnit(id), id)` rows — a deterministic uniform draw without
    * replacement, reproducible across runs, partitionings, and engines.
    * Every input row comes back with `mix_kept` 1/0 (strata outside
    * the target — including a NULL stratum — are all 0). A stratum
    * with fewer rows than its quota keeps everything it has: the
    * output then UNDERSHOOTS `k`, which is the honest answer — check
    * `sum(mix_kept)` downstream rather than silently backfilling from
    * over-represented strata.
    *
    * Shape at 100 TB: quotas and (with `preFilterFactor`) per-stratum
    * counts are dimension-sized driver models; selection is one window
    * per stratum. `preFilterFactor = Some(c)` bounds that window's
    * input the way [[graft.ops.Urls.capPerDomain]] does: only rows
    * with `hash < c·quota/count` are ranked (an expected `c·quota`
    * rows per stratum instead of the stratum's full row set — the
    * dominant-language window input drops from corpus-scale to
    * quota-scale), survivor-deficient strata fall back to ranking
    * their full set so the result NEVER changes, and cut rows come
    * back unranked as `mix_kept` 0. */
  def mixtureSample(
      df: DataFrame, idCol: String, strataCol: String,
      target: Seq[(String, Double)], k: Int,
      preFilterFactor: Option[Double] = None): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(target.nonEmpty, "mixtureSample needs at least one target stratum")
    require(target.map(_._1).distinct.size == target.size,
      s"duplicate target strata: ${target.map(_._1)}")
    require(target.forall(_._2 > 0.0), s"target proportions must be positive: $target")
    require(math.abs(target.map(_._2).sum - 1.0) < 1e-9,
      s"target proportions must sum to 1: $target")
    preFilterFactor.foreach(c => require(c > 1.0,
      s"preFilterFactor must be > 1 (margin over the expected quota-th hash), got $c"))
    val quotas = apportion(target, k)
    val quotaCol = quotas.toSeq.sortBy(_._1).foldLeft(lit(0L): Column) {
      case (acc, (s, q)) => when(col(strataCol) === s, lit(q)).otherwise(acc)
    }
    val u = hashUnit(col(idCol))
    val w = Window.partitionBy(strataCol).orderBy(u, col(idCol))
    def rankQuota(part: DataFrame): DataFrame = part
      .withColumn("__rk", row_number().over(w))
      .withColumn("mix_kept", (col("__rk") <= quotaCol).cast("int"))
      .drop("__rk")
    val inTarget = coalesce(col(strataCol).isin(quotas.keys.toSeq: _*), lit(false))
    val tgt = df.filter(inTarget)
    val rest = df.filter(!inTarget).withColumn("mix_kept", lit(0))
    val ranked = preFilterFactor match {
      case None => rankQuota(tgt)
      case Some(c) =>
        val counts = tgt.groupBy(strataCol).agg(count(lit(1)).as("__n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val thr = quotas.toSeq.sortBy(_._1).foldLeft(lit(0.0): Column) {
          case (acc, (s, q)) =>
            val n = counts.getOrElse(s, 0L)
            val t = if (n == 0) 1.0 else math.min(1.0, c * q.toDouble / n)
            when(col(strataCol) === s, lit(t)).otherwise(acc)
        }
        val surv = tgt.filter(u < thr)
        val survCounts = surv.groupBy(strataCol).agg(count(lit(1)).as("__n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val deficient = quotas.collect {
          case (s, q) if survCounts.getOrElse(s, 0L) < q => s
        }.toSeq
        val defCol =
          if (deficient.isEmpty) lit(false)
          else col(strataCol).isin(deficient: _*)
        rankQuota(tgt.filter(defCol))
          .unionByName(rankQuota(tgt.filter(!defCol && u < thr)))
          .unionByName(tgt.filter(!defCol && u >= thr)
            .withColumn("mix_kept", lit(0)))
    }
    ranked.unionByName(rest)
  }

  /** UniMax budget allocation (Chung et al. 2023, arXiv:2304.09151 —
    * the multilingual mixing rule): distribute a total token `budget`
    * across strata so every stratum gets an EQUAL share of what
    * remains, except no stratum may repeat its own corpus more than
    * `maxEpochs` times — water-filling from the smallest stratum up.
    * The small strata hit their epoch cap and hand their unused share
    * back; the large ones split the rest uniformly. This is the
    * principled alternative to temperature sampling ([[mixtureSample]]
    * covers the fixed-proportion case): no tuned exponent, and no
    * low-resource stratum is repeated into memorization.
    *
    * Exact integer arithmetic end to end: strata are processed in
    * ascending (token-count, name) order; at each step the share is
    * `floor(remaining_budget / remaining_strata)` and the allocation
    * `min(share, maxEpochs · n_tokens)` — every number re-derivable
    * relationally (the oracle replays the fold as a recursive CTE).
    *
    * Returns one row per stratum: `n_tokens`, `alloc_tokens`,
    * `epochs` (alloc/n, the sampling rate a loader applies — > 1
    * means repeat). 100 TB shape: ONE stratum-keyed token count
    * (map-side partial agg), then a driver fold over the
    * strata-bounded table — the model-sized collect every allocator
    * in this library uses. */
  def uniMaxAllocation(
      df: DataFrame, textCol: String, strataCol: String,
      budget: Long, maxEpochs: Long = 4L): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(strataCol).agg(
      coalesce(sum(
        when(col(textCol).isNull || length(trim(col(textCol))) === 0, 0)
          .otherwise(size(split(trim(col(textCol)), "\\s+")))
          .cast("long")), lit(0L)).as("n_tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(counts.forall(_._1 != null),
      s"uniMaxAllocation: NULL value in stratum column '$strataCol' — " +
        "coalesce nulls to a label or filter them out before allocating")
    val sorted = counts.sortBy { case (s, n) => (n, s) } // ascending: small strata cap first
    var rem = budget
    var left = sorted.length
    val rows = sorted.map { case (s, n) =>
      val share = rem / left // floor — exact on both engines
      val alloc = math.min(share, maxEpochs * n)
      rem -= alloc; left -= 1
      (s, n, alloc,
        if (n > 0) alloc.toDouble / n.toDouble else Double.NaN)
    }
    rows.toSeq.toDF(strataCol, "n_tokens", "alloc_tokens", "epochs")
  }

  /** Quality-ranked selection: keep the `k` BEST rows of every
    * stratum by `scoreCol` (ties broken by `idCol` — total order,
    * deterministic), flagging survivors with `stratum_kept` = 1 and
    * keeping every input row (filter on the flag to materialize the
    * cut). The curation move after a quality scorer has run: "the top
    * 10k documents per domain/source by LM score", the score-ranked
    * sibling of `Urls.capPerDomain`'s hash-ranked cap.
    *
    * Skew-aware 100 TB shape (capPerDomain's construction): ONE
    * stratum-keyed count, then only the OVER-cap strata's rows enter
    * the partitioned rank window — under-cap strata (the long tail,
    * almost all rows under a Zipfian stratum distribution) pass
    * through a narrow filter and never shuffle into the window. A
    * NULL stratum is its own capped group (null-safe join), NULL
    * scores always rank LAST regardless of direction. For a single
    * pathologically dominant stratum, pre-cut with a score threshold
    * from `TextAnalysis.quantileBuckets` before ranking. */
  def topKPerStratum(
      df: DataFrame, strataCol: String, scoreCol: String, idCol: String,
      k: Long, ascending: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("__n"))
      .withColumnRenamed(strataCol, "__cstrat")
    val joined = df.join(counts, col(strataCol) <=> col("__cstrat"))
      .drop("__cstrat")
    val under = joined.filter(col("__n") <= k)
      .withColumn("stratum_kept", lit(1))
    val over = joined.filter(col("__n") > k)
    val ord =
      if (ascending) Seq(col(scoreCol).asc_nulls_last, col(idCol))
      else Seq(col(scoreCol).desc_nulls_last, col(idCol))
    val w = Window.partitionBy(strataCol).orderBy(ord: _*)
    val ranked = over
      .withColumn("__rk", row_number().over(w))
      .withColumn("stratum_kept", (col("__rk") <= k).cast("int"))
      .drop("__rk")
    under.unionByName(ranked).drop("__n")
  }

  /** Temperature-scaled token allocation — the multilingual mixing
    * baseline [[uniMaxAllocation]] improves on (and [[mixtureSample]]'s
    * fixed proportions generalize): stratum i's share of `budget` is
    * proportional to `n_i^tau`. `tau = 1` reproduces natural
    * proportions; `tau -> 0` approaches uniform; mT5's 0.3 and XLM-R's
    * 0.7 are the canonical settings. No epoch cap — that is exactly
    * UniMax's critique — so small strata CAN be allocated past
    * repetition (`epochs` > maxEpochs); this operator exists as the
    * comparable baseline, not the recommendation.
    *
    * Engine-portable determinism: the only transcendental step is
    * `w_i = round(exp(tau * ln n_i) * 2^20)` (both engines spell the
    * identical exp/ln composition, quantized once); everything after
    * is exact integer arithmetic — `floor(budget*w_i / sum w)` base
    * shares via BigInt, leftover tokens to the largest exact
    * remainders (`budget*w_i - base_i*sum_w`, ties by stratum
    * ascending). ONE stratum-keyed token count, then a strata-bounded
    * driver fold — the allocator shape of this library. */
  def temperatureAllocation(
      df: DataFrame, textCol: String, strataCol: String,
      budget: Long, tau: Double = 0.7): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(strataCol).agg(
      coalesce(sum(
        when(col(textCol).isNull || length(trim(col(textCol))) === 0, 0)
          .otherwise(size(split(trim(col(textCol)), "\\s+")))
          .cast("long")), lit(0L)).as("n_tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(counts.forall(_._1 != null),
      s"temperatureAllocation: NULL value in stratum column '$strataCol' — " +
        "coalesce nulls to a label or filter them out before allocating")
    val wq = counts.map { case (s, n) =>
      val w = if (n <= 0L) 0L
        else math.round(math.exp(tau * math.log(n.toDouble)) * 1048576.0)
      (s, n, w)
    }
    val sw = wq.map(t => BigInt(t._3)).sum
    require(sw > 0, "temperatureAllocation: no stratum has any tokens")
    val based = wq.map { case (s, n, w) =>
      val num = BigInt(budget) * BigInt(w)
      val b = (num / sw).toLong
      (s, n, w, b, num - BigInt(b) * sw) // exact remainder
    }
    val left = budget - based.map(_._4).sum
    val bump = based
      .sortWith((a, b) => if (a._5 != b._5) a._5 > b._5 else a._1 < b._1)
      .take(left.toInt).map(_._1).toSet
    based.toSeq.map { case (s, n, w, b, _) =>
      val alloc = b + (if (bump(s)) 1L else 0L)
      (s, n, w, alloc,
        if (n > 0) alloc.toDouble / n.toDouble else Double.NaN)
    }.toDF(strataCol, "n_tokens", "weight_q", "alloc_tokens", "epochs")
  }

  /** Deterministic split assignment (train/val/test): cumulative
    * thresholds over the unit hash; every row gets exactly one label
    * and membership never changes as the corpus grows. Weights must be
    * positive and sum to 1 (within 1e-9). Prefer dyadic weights
    * (0.75/0.125/0.125) — the cumulative bounds are then exact in
    * binary and identical in any engine's float parser. */
  def assignSplit(
      df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "assignSplit needs at least one split")
    require(splits.forall(_._2 > 0.0), s"split weights must be positive: $splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $splits")
    val u = hashUnit(col(idCol))
    val bounds = splits.scanLeft(0.0)(_ + _._2).tail
    // the last split is the otherwise-branch: u < 1 always lands there
    val label = splits.zip(bounds).dropRight(1)
      .foldRight(lit(splits.last._1): Column) { case (((name, _), bound), rest) =>
        when(u < bound, name).otherwise(rest)
      }
    df.withColumn(outCol, label)
  }

  /** Ceiling on [[tokenBudgetSelect]]'s histogram resolution — the
    * per-bin token sums are a driver-resident model. */
  val MaxBudgetBins: Int = 1 << 16

  /** Budget-constrained quality selection — "take the best documents
    * until the token budget is spent", the curation step that turns a
    * scored corpus into a fixed-size training set: documents are
    * ranked by a `[0,1]` quality score (descending), then by id, and
    * the selection is the longest prefix whose token sum fits
    * `budget`.
    *
    * A naive implementation is a GLOBAL sort + running sum — a
    * single-partition window, the banned scale-killer. This is the
    * two-pass histogram form instead: quality quantizes to one of
    * `bins` integer bins, pass 1 aggregates per-bin token sums
    * (bounded by [[MaxBudgetBins]], collected as the driver-resident
    * cutoff model), the driver walks bins best-first to find the
    * boundary bin and its remaining budget, and pass 2 selects whole
    * bins above the boundary plus the id-ordered prefix INSIDE the
    * boundary bin — the only windowed work is a partitioned running
    * sum over that single bin's rows. Within-bin ranking is by id
    * (quality ties at `bins` resolution are broken deterministically,
    * not by a finer sort); NULL quality never selects, and neither
    * does a NULL token count — a row with no token evidence can't be
    * charged against the budget, so it routes to the never-selected
    * bucket exactly like NULL quality (its `budget_bin` stays NULL).
    *
    * Note the two passes scan `df` twice — materialize an expensive
    * upstream first (the [[TextAnalysis.quantileBuckets]] contract).
    * Token counts must be non-negative (the prefix rule needs a
    * monotone running sum) — enforced at runtime from the same
    * pass-1 aggregate. Returns the input plus `budget_bin` and
    * `selected`. */
  def tokenBudgetSelect(
      df: DataFrame, idCol: String, qualityCol: String, tokensCol: String,
      budget: Long, bins: Int = 1024): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(bins >= 1 && bins <= MaxBudgetBins,
      s"bins out of [1, $MaxBudgetBins]: $bins")
    // spelled with an explicit null/NaN branch: Spark's least/greatest
    // SKIP nulls (least(floor(null * bins), bins-1) would quietly file
    // a null-quality row into the TOP bin) and order NaN ABOVE every
    // double (least(NaN, bins-1) = bins-1 — a 0/0 quality ratio would
    // select FIRST); both mean "no quality evidence" = never selected
    val q = col(qualityCol).cast("double")
    val toks = col(tokensCol).cast("long")
    val binc = when(q.isNull || isnan(q) || toks.isNull,
        lit(null).cast("long"))
      .otherwise(greatest(least(floor(q * bins),
        lit((bins - 1).toDouble)), lit(0.0d)).cast("long"))
    val binned = df.withColumn("budget_bin", binc)
    // min(toks) rides the same pass-1 aggregate: one extra column, no
    // extra scan, and it turns the documented non-negativity
    // precondition into a loud failure instead of a silently
    // non-monotone running sum
    val hist0 = binned.groupBy("budget_bin")
      .agg(sum(toks).as("ts"), min(toks).as("mn"))
      .collect()
    hist0.foreach { r =>
      require(r.isNullAt(2) || r.getLong(2) >= 0L,
        s"tokenBudgetSelect: negative token count in $tokensCol " +
          s"(bin min ${r.getLong(2)}); token counts must be >= 0")
    }
    val hist = hist0
      .flatMap(r => if (r.isNullAt(0)) None
        else Some(r.getLong(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))))
      .sortBy(-_._1)
    var acc = 0L
    var boundary = -1L // -1: every non-null bin is a full bin
    var rem = 0L
    val it = hist.iterator
    var done = false
    while (it.hasNext && !done) {
      val (bin, ts) = it.next()
      if (acc + ts <= budget) acc += ts
      else { boundary = bin; rem = budget - acc; done = true }
    }
    if (!done) {
      // everything fits: no boundary bin, all non-null bins select
      binned.withColumn("selected", col("budget_bin").isNotNull)
    } else {
      val fullPart = binned.filter(col("budget_bin") > boundary)
        .withColumn("selected", lit(true))
      val w = Window.partitionBy("budget_bin").orderBy(col(idCol))
      val boundaryPart = binned.filter(col("budget_bin") === boundary)
        .withColumn("selected",
          sum(col(tokensCol).cast("long")).over(w) <= rem)
      val restPart = binned
        .filter(col("budget_bin") < boundary || col("budget_bin").isNull)
        .withColumn("selected", lit(false))
      fullPart.unionByName(boundaryPart).unionByName(restPart)
    }
  }
}
