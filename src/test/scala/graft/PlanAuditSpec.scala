package graft

/** Plan-regression gate: every SparkEntry query must execute without
  * the scale-killers [[graft.tools.PlanShape]] detects — a
  * CartesianProduct, an unpartitioned Window (the whole input funneled
  * through ONE partition), or a single-partition shuffle Exchange
  * anywhere except the two shapes that are correct at 100 TB (the
  * final global aggregation of a partial/final pair, and the
  * presentation-only `oracleOrderBy` at the plan ROOT).
  *
  * The audit walks the EXECUTED adaptive plan (post-AQE), so it guards
  * the plans the driver actually benchmarks. Stages materialized by
  * localCheckpoint inside an operator (q37 cascade, q46 components)
  * run as separate jobs and are audited by their own operators' specs.
  *
  * `banNestedLoop` stays OFF here: q44's IVF assign legitimately
  * broadcast-crosses the corpus with its k-row codebook (bounded by
  * the `vec_id < k` pushed filter, not recognizable as a literal).
  * tools/ProfileScale DOES ban nested loops when it runs the declared
  * queries' bench forms at x1 and xN, so a bounded cross prints there as
  * a violation to review.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  for (q <- SparkEntry.allQueries) {
    test(s"${q.name}: no cartesian / unpartitioned window / mid-plan single-partition exchange") {
      val df = q.fn(spark, sfDir)
      df.collect() // drive AQE to the final physical plan
      val violations = graft.tools.PlanShape.violations(
        df.queryExecution.executedPlan)
      assert(violations.isEmpty, violations.mkString("\n"))
    }
  }
}
