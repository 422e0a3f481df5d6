package perfbench

/** The per-layer metrics: for every module on a measured chain, six
  * figures per traced pass, reported as medians over traced passes. */
object Layers {
  /** The modules the GTFS chain, the curation chain and the index mix call. */
  val Modules = Seq(
    "io.LoadGtfs", "operators.Merge", "operators.Tasks1", "operators.CalendarTasks",
    "operators.AssignDirections", "operators.SplitTripLegs", "io.SaveGtfs",
    "model.FeedValidator",
    "ops.TextAnalysis", "ops.Dedup", "ops.Sketches", "ops.Dsir", "ops.Sampling",
    "ops.BpeTrain", "ops.Packing",
    "ops.DedupIndex", "ops.Bm25Index", "ops.AnnIndex", "ops.Retrieval", "ops.Maintenance",
    "streaming.CurationIngest")

  private val suffixes: Seq[(String, String, ModuleTotals => Double)] = Seq(
    ("wall_s", "s", _.wallS), ("driver_s", "s", _.driverS), ("jobs", "count", _.jobs.toDouble),
    ("task_s", "s", _.taskS), ("shuffle_mb", "MB", _.shuffleMb),
    ("rows_read", "count", _.rowsRead.toDouble))

  val Gauges = Seq("io.SaveGtfs.zip_concat_s" -> "s", "spark.gc_s" -> "s")
  /** Gauges printed beside the metrics: the index mix's latencies. */
  val Beside = Seq("index.probe_ms.p50" -> "ms", "index.write_ms.p50" -> "ms")

  /** Every per-layer metric; a module a workload never calls reads 0. */
  def metrics(traces: Seq[PassTrace], gauges: Map[String, Seq[Double]])
      : Seq[(String, (Double, String))] = {
    val empty = new ModuleTotals
    Modules.flatMap { m =>
      suffixes.map { case (s, u, f) =>
        s"$m.$s" -> (Stats.median(traces.map(t => f(t.modules.getOrElse(m, empty)))), u)
      }
    } ++ Gauges.map { case (g, u) => g -> (gauges.get(g).map(Stats.median).getOrElse(0.0), u) }
  }
}
