package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Classifier evaluation — the confusion-matrix report that closes the
  * model-evaluation family ([[NbClassifier.reliabilityReport]] covers
  * calibration, its selective-prediction curve coverage/accuracy
  * trade-offs; this is the per-class quality card a gate decision
  * reads): exact per-(truth, pred) counts, then per-class true
  * positives, false positives, false negatives, support, and the
  * derived precision / recall / F1.
  *
  * 100 TB shape: ONE (truth, pred)-keyed aggregate over the scored
  * corpus — bounded by classes² — then everything else is arithmetic
  * on that tiny table (two re-aggregations + outer joins, all
  * class-count-sized). Ratios are computed from the exact BIGINT
  * counts with plain IEEE division, so any engine re-derives them
  * bit-identically; classes absent from one side (never predicted /
  * never true) appear with zero counts rather than vanishing.
  */
object Eval {

  /** Per-class confusion report. `truthCol`/`predCol` may be any
    * equality-comparable type; NULL truth or pred rows are counted
    * into the grid like any other value (a NULL prediction is a real
    * outcome worth seeing) but form their own class row. Returns
    * `(label, tp, fp, fn, support, n_pred, precision, recall, f1)`
    * with NULL ratios where the denominator is zero. */
  def confusion(df: DataFrame, truthCol: String, predCol: String): DataFrame = {
    val cm = df
      .groupBy(col(truthCol).cast("string").as("truth"),
        col(predCol).cast("string").as("pred"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // classes^2-bounded; feeds three aggregates
    // null-safe (<=>) join keys throughout: equi-joins on `label` would
    // never match the NULL class against itself, splitting it into two
    // half-rows and losing its true positives — the doc promises NULL
    // truth/pred forms ONE class row like any other value
    val byTruth = cm.groupBy(col("truth").as("label_t"))
      .agg(sum("n").as("support"))
    val byPred = cm.groupBy(col("pred").as("label_p"))
      .agg(sum("n").as("n_pred"))
    val tp = cm.filter(col("truth") <=> col("pred"))
      .select(col("truth").as("label_tp"), col("n").as("tp0"))
    val base = byTruth
      .join(byPred, col("label_t") <=> col("label_p"), "full_outer")
      .withColumn("label",
        when(col("label_t").isNotNull || col("support").isNotNull,
          col("label_t")).otherwise(col("label_p")))
      .join(tp, col("label") <=> col("label_tp"), "left")
      .select(col("label"),
        coalesce(col("tp0"), lit(0L)).as("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("support"), lit(0L)).as("support"))
    base.select(col("label"), col("tp"),
      (col("n_pred") - col("tp")).as("fp"),
      (col("support") - col("tp")).as("fn"),
      col("support"), col("n_pred"),
      when(col("n_pred") > 0,
        col("tp").cast("double") / col("n_pred").cast("double")).as("precision"),
      when(col("support") > 0,
        col("tp").cast("double") / col("support").cast("double")).as("recall"),
      when(col("n_pred") > 0 && col("support") > 0 && col("tp") > 0,
        lit(2.0) * (col("tp").cast("double") / col("n_pred").cast("double"))
          * (col("tp").cast("double") / col("support").cast("double"))
          / ((col("tp").cast("double") / col("n_pred").cast("double"))
            + (col("tp").cast("double") / col("support").cast("double"))))
        .otherwise(when(col("n_pred") > 0 && col("support") > 0, lit(0.0)))
        .as("f1"))
  }

  /** Ceiling on the number of columns one health report may profile —
    * the per-column distinct aggregates expand the scan `k`-fold. */
  val MaxHealthColumns: Int = 64

  /** The ONE-pass aggregation [[tableHealth]] reshapes — exposed so
    * the scale profiler audits the REAL expanded-scan plan
    * (tableHealth itself returns a LocalRelation after the driver
    * reshape, which would make a plan-shape check vacuous). */
  private[graft] def healthAgg(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c")))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Declarative table-health report — the data-contract check (the
    * deequ / Great-Expectations move) an ingest pipeline runs before
    * a snapshot is allowed downstream: per profiled column, the row
    * count, NULL count and fraction, exact distinct (non-null) count
    * and duplicate-row count (`non-null − distinct`). A primary-key
    * contract is the report read `n_null == 0 && n_dup == 0` on the
    * key's row; a required-field contract is `null_frac == 0`.
    *
    * 100 TB shape: ONE aggregation pass over the table (the multiple
    * exact `count(distinct)`s plan as a `k`-way Expand — a deliberate
    * trade for EXACT contract numbers, bounded by
    * [[MaxHealthColumns]]; swap in `approx_count_distinct` upstream
    * when an estimate is acceptable), collected as one
    * dimension-sized row and re-shaped driver-side into the k-row
    * report. Returns `(column, n_rows, n_null, null_frac,
    * n_distinct, n_dup)` sorted by column name. */
  def tableHealth(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableHealth needs at least one column")
    require(cols.distinct.size == cols.size, s"duplicate columns in $cols")
    require(cols.size <= MaxHealthColumns,
      s"${cols.size} columns exceed MaxHealthColumns=$MaxHealthColumns — " +
        "profile in batches, the expanded scan is k-fold")
    val r = healthAgg(df, cols).collect().head
    val n = r.getLong(0)
    val spark = df.sparkSession
    import spark.implicits._
    cols.sorted.map { c =>
      val nonNull = r.getAs[Long](s"__nn_$c")
      val nd = r.getAs[Long](s"__nd_$c")
      val nNull = n - nonNull
      (c, n, nNull,
        if (n > 0) Some(nNull.toDouble / n.toDouble) else None,
        nd, nonNull - nd)
    }.toDF("column", "n_rows", "n_null", "null_frac", "n_distinct", "n_dup")
  }
}
