package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. `generate` writes the seeded inputs
  * (not timed); `pass` is one timed unit of the closed loop, the first
  * one cold, as a fresh batch job runs it; `check` verifies a pass's
  * outputs and returns its problems (empty when correct). */
trait Workload {
  def generate(seed: Long, inputs: Path, repoRoot: Path): Unit
  def pass(ctx: Ctx, i: Int): Any
  def check(ctx: Ctx, i: Int, result: Any): Seq[String]
  /** Extra checks run once after the loop of a traced run; each extra
    * runs only if [[Ctx.fits]] says the run has time left for it. */
  def tracedChecks(ctx: Ctx): Seq[String] = Nil
}

/** What a workload sees of the run. Per-pass gauges are held as pending
  * until the pass's check passes, so a failed pass contributes nothing.
  * `recorded` maps `<workload><part>-<seed>` to the output digest in
  * expected_digests.txt. The JVM must be done `deadlineS` seconds after
  * it started. */
final class Ctx(val spark: SparkSession, val work: Path, workload: String, inputSeed: Long,
    recorded: Map[String, String], deadlineS: Double) {
  val tracer = new Tracer(spark.sparkContext)
  private[perfbench] val pendingGauge = mutable.LinkedHashMap.empty[String, Double]
  private[perfbench] val skipped = mutable.ArrayBuffer.empty[String]

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Whether `what`, which takes up to `needS` seconds on a slow host,
    * ends before the deadline; if not, it is recorded as skipped. */
  def fits(what: String, needS: Double): Boolean = {
    val leftS = deadlineS - ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    if (leftS < needS) {
      skipped += what
      log(f"skipped $what: $leftS%.0f s left, it may take $needS%.0f s")
    }
    leftS >= needS
  }

  def passGauge(name: String, v: Double): Unit = pendingGauge(name) = v

  /** Compares an output digest with the one recorded for this part of
    * the workload's output and its inputs. */
  def checkDigest(part: String, digest: String): Seq[String] = {
    val key = s"$workload$part-$inputSeed"
    recorded.get(key) match {
      case Some(d) if d == digest => Nil
      case Some(d) => Seq(s"output digest $digest differs from the one recorded for $key, $d")
      case None => Seq(s"no digest recorded for $key; this run's is $digest")
    }
  }

  def sha256(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
    .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
}

object Main {
  private val workloads: Map[String, () => Workload] = Map(
    "gtfs_small" -> (() => new Gtfs),
    "curation" -> (() => new Curation))

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val jvmStartCpuS = cpuS()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val deadlineS = opts("deadline").toDouble
    val injectEvery = opts.get("inject-failure").map(_.toInt).getOrElse(0)
    val root = Path.of(opts("root")).toAbsolutePath
    val out = Path.of(opts("result"))
    // the inputs of a seed are those of one of the seeds whose output
    // digests are recorded, so every run's output is checked
    val recorded = Files.readAllLines(root.resolve("perfbench/expected_digests.txt")).asScala
      .map(_.split(" ")).collect { case Array(k, d) => k -> d }.toMap
    val recordedSeeds = recorded.keys.collect { case s"$w-$n" if w == name => n.toLong }.toSeq.sorted
    require(recordedSeeds.nonEmpty, s"no digests recorded for workload $name")
    val inputSeed = recordedSeeds(Math.floorMod(seed - 1, recordedSeeds.size.toLong).toInt)
    val make = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val w = make()
    val build = root.resolve(".bench_build")
    val runDir = Path.of(opts("run-dir")).toAbsolutePath
    val inputs = Files.createDirectories(runDir.resolve("inputs"))
    val work = Files.createDirectories(runDir.resolve("work"))

    val cores = Runtime.getRuntime.availableProcessors()
    val master = s"local[$cores]"
    def startSpark(): SparkSession = {
      val s = SparkSession.builder().master(master).appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", runDir.resolve("tmp").toString)
        .config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def secondsOf[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    // inputs first: generation is not set-up
    val (_, genS) = secondsOf(w.generate(inputSeed, inputs, root))

    // set-up: JVM and Spark start; its CPU time, at the reference host's
    // speed, is the metric, as the wall time of a run on a shared host is
    // mostly the host's doing
    val genCpuS = cpuS()
    val (spark, sparkS) = secondsOf(startSpark())
    val ctx = new Ctx(spark, work, name, inputSeed, recorded, deadlineS)
    val setupCpuS = jvmStartCpuS + cpuS() - genCpuS
    val setupS = jvmStartS + sparkS
    ctx.log(f"set-up $setupCpuS%.2f CPU s, $setupS%.2f s: jvm $jvmStartS%.2f, spark $sparkS%.2f; " +
      f"inputs generated in $genS%.2f s (not set-up)")

    // the closed loop: one client, next pass after the previous one
    val passS = mutable.ArrayBuffer.empty[Double]
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    val gauges = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val traces = mutable.ArrayBuffer.empty[PassTrace]
    var attempted = 0
    var failed = 0
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    // the host's speed right before and right after the passes; on a
    // shared host the CPU time of the same pass varies by a third with
    // the other guests' load, and this unit varies with it
    val probeS = mutable.ArrayBuffer.from(HostSpeed.measure(5))
    val steal0 = stealS()
    val loopT0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loopT0) / 1e9
    while (elapsed < seconds || attempted == 0) {
      val i = attempted
      attempted += 1
      ctx.pendingGauge.clear()
      val gc0 = gc.map(_.getCollectionTime).sum
      val c0 = cpuS()
      val t0 = System.nanoTime()
      val result = try Right(ctx.tracer.pass(i, trace)(w.pass(ctx, i)))
        catch { case e: Throwable => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = cpuS() - c0
      val gcS = (gc.map(_.getCollectionTime).sum - gc0) / 1e3
      val problems = result match {
        case Left(e) => Seq(s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(r) =>
          try w.check(ctx, i, r) catch { case e: Throwable =>
            Seq(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
      }
      val injected = injectEvery > 0 && (i + 1) % injectEvery == 0
      val all = problems ++ (if (injected) Seq("injected failure") else Nil)
      if (all.nonEmpty) {
        failed += 1
        ctx.log(f"pass $i FAILED after $dt%.3f s: ${all.take(8).mkString(" | ")}")
      } else {
        passS += dt
        passCpuS += dc
        ctx.pendingGauge.foreach { case (k, v) => gauges.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
        gauges.getOrElseUpdate("spark.gc_s", mutable.ArrayBuffer.empty) += gcS
        if (trace) traces ++= ctx.tracer.summarise(i)
        ctx.log(f"pass $i ok in $dt%.3f s, $dc%.3f CPU s")
      }
    }
    val peakRssMb = procStatusKb("VmHWM") / 1024.0
    // CPU time the hypervisor gave to other guests while the passes ran
    val passStealS = stealS() - steal0
    probeS ++= HostSpeed.measure(5)
    val hostUnitS = Stats.median(probeS)
    ctx.log(f"host unit ${probeS.map(_ * 1e3).map(x => f"$x%.1f").mkString(" ")} ms")
    ctx.pendingGauge.clear()
    val tracedProblems = if (!trace) Nil else
      try w.tracedChecks(ctx) catch { case e: Throwable =>
        Seq(s"traced checks threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    tracedProblems.foreach(p => ctx.log(s"traced check FAILED: $p"))
    if (tracedProblems.isEmpty)
      ctx.pendingGauge.foreach { case (k, v) => gauges.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v }
    // traced work after the loop is charged to the first traced pass
    ctx.tracer.summarise(Tracer.AfterLoop).foreach(t => if (traces.nonEmpty) traces(0) = traces(0).plus(t))

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    // figures printed beside the metrics, not in the result
    val beside = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupCpuS * HostSpeed.ReferenceS / hostUnitS, "s")
      beside("setup_cpu_s") = (setupCpuS, "s")
      metrics("pass_cpu_units.p50") = (Stats.median(passCpuS) / hostUnitS, "host-units")
      beside("pass_cpu_s.p50") = (Stats.median(passCpuS), "s")
      beside("host_unit_ms") = (hostUnitS * 1e3, "ms")
      beside("setup_wall_s") = (setupS, "s")
      beside("pass_s.p50") = (Stats.median(passS), "s")
    } else {
      Layers.metrics(traces.toSeq, gauges.view.mapValues(_.toSeq).toMap)
        .foreach { case (k, v) => metrics(k) = v }
      beside("jvm.peak_rss_mb") = (peakRssMb, "MB")
      // against the untraced runs' figures, the tracing overhead
      beside("traced.pass_cpu_units.p50") = (Stats.median(passCpuS) / hostUnitS, "host-units")
      beside("traced.pass_cpu_s.p50") = (Stats.median(passCpuS), "s")
      beside("traced.pass_s.p50") = (Stats.median(passS), "s")
      Layers.Beside.foreach { case (g, u) => gauges.get(g).foreach(v => beside(g) = (Stats.median(v), u)) }
    }

    val host = Seq(
      "nproc" -> cores.toString,
      "mem_total_kb" -> meminfoKb("MemTotal").toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "master" -> master,
      "cpu_steal_s_during_passes" -> f"$passStealS%.1f")
    val samples = Seq(
      "passes" -> passS.size, "traced_passes" -> traces.size)
    val report = new StringBuilder
    report ++= s"workload $name seed $seed (inputs of seed $inputSeed) seconds $seconds " +
      s"trace ${if (trace) 1 else 0}\n"
    report ++= s"host ${host.map { case (k, v) => s"$k=$v" }.mkString(" ")}\n"
    report ++= s"samples ${samples.map { case (k, v) => s"$k=$v" }.mkString(" ")}\n"
    report ++= f"fail_ratio ${failed.toDouble / attempted}%.4f ($failed of $attempted passes)\n"
    if (ctx.skipped.nonEmpty)
      report ++= s"skipped for lack of time (their modules read 0): ${ctx.skipped.mkString(", ")}\n"
    if (trace) {
      val strays = traces.map(_.strayJobs).sum
      report ++= s"trace jobs ${traces.map(_.jobs).mkString(",")} per traced pass; " +
        s"jobs outside any span of their pass: $strays\n"
      ctx.tracer.dump(build.resolve(s"trace-$name-$seed.jsonl"))
    }
    metrics.foreach { case (k, (v, u)) => report ++= f"$k%-40s $v%.6f $u\n" }
    beside.foreach { case (k, (v, u)) => report ++= f"$k%-40s $v%.6f $u (beside the metrics)\n" }
    val correct = failed == 0 && tracedProblems.isEmpty && traces.forall(_.strayJobs == 0)
    val json = new StringBuilder("{")
    json ++= s""""correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {"""
    json ++= metrics.map { case (k, (v, u)) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
      .mkString(", ")
    json ++= "}}"
    Files.writeString(out, report.toString + json.toString + "\n")
    spark.stop()
    sys.exit(0) // a thread the program left behind must not hold the JVM
  }

  private def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  private def procStatusKb(key: String): Long =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  /** The host's CPU steal time so far, all CPUs, in seconds (USER_HZ = 100). */
  private def stealS(): Double =
    Files.readAllLines(Path.of("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.split("\\s+")).filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(0.0)
  private def meminfoKb(key: String): Long =
    Files.readAllLines(Path.of("/proc/meminfo")).asScala
      .find(_.startsWith(key + ":")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}

object Stats {
  /** Median with linear interpolation; NaN on no samples. */
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
