package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.ZipFile

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.io.{LoadGtfs, SaveGtfs}
import graft.model.{DateRange, FeedDataset, FeedValidator, GtfsSchemas}
import graft.operators._

/** The GTFS chain: Merge(LoadGtfs x2) -> GenerateTripHeadsign ->
  * RemoveUnusedEntities -> TruncateCalendars -> SimplifyCalendars ->
  * AssignDirections -> SplitTripLegs -> SaveGtfs, with GtfsDemo's
  * checkpoints. One pass runs the chain once over the two generated feed
  * versions. There is no warm-up: a pass is the chain as a fresh batch
  * job runs it.
  *
  * After every pass, untimed: the output zip is read back through
  * LoadGtfs and every table must hold as many rows as its member file, and the
  * zip's row-sorted content digest must equal the one recorded for the
  * seed. After the loop of a traced run: FeedValidator on the last
  * output, traced and charged to the pass, must report no violation, and
  * GtfsDemo's own chain on the WKD fixture must reproduce the fixture's
  * known counts with no violation. */
final class Gtfs extends Workload {
  private var feed: GtfsGen.Feed = _
  private var fixture: Path = _

  // the columns GtfsDemo writes
  private val headers = Seq(
    "agency.txt" -> Seq("agency_id", "agency_name", "agency_url", "agency_timezone",
      "agency_lang"),
    "routes.txt" -> Seq("agency_id", "route_id", "route_short_name", "route_long_name",
      "route_type", "route_color", "route_text_color"),
    "stops.txt" -> Seq("stop_id", "stop_name", "stop_lat", "stop_lon", "wheelchair_boarding"),
    "calendar.txt" -> Seq("service_id", "monday", "tuesday", "wednesday", "thursday",
      "friday", "saturday", "sunday", "start_date", "end_date"),
    "calendar_dates.txt" -> Seq("service_id", "date", "exception_type"),
    "trips.txt" -> Seq("route_id", "service_id", "trip_id", "trip_headsign",
      "trip_short_name", "direction_id", "shape_id", "wheelchair_accessible", "bikes_allowed"),
    "stop_times.txt" -> Seq("trip_id", "arrival_time", "departure_time", "stop_id",
      "stop_sequence"),
    "shapes.txt" -> Seq("shape_id", "shape_pt_sequence", "shape_pt_lat", "shape_pt_lon"),
    "feed_info.txt" -> Seq("feed_publisher_name", "feed_publisher_url", "feed_lang",
      "feed_version"))
  private val savedTables = headers.map { case (f, _) =>
    f -> graft.io.GtfsSpec.byGtfsName(f).get.sqlName
  }

  // GtfsDemo on wkd.zip, as the repository produces it today
  private val fixtureCounts = Map("trips" -> 372L, "stop_times" -> 6276L,
    "calendar_exceptions" -> 214L, "calendars" -> 2L, "stops" -> 28L, "shape_points" -> 1128L)

  def generate(seed: Long, inputs: Path, repoRoot: Path): Unit = {
    feed = GtfsGen.write(inputs, seed)
    fixture = repoRoot.resolve("src/test/resources/fixtures/wkd.zip")
    require(Files.isRegularFile(fixture), s"missing fixture $fixture")
  }

  private def save(out: Path) = SaveGtfs(headers, out, ensureOrder = true)

  private def emptyFeed(ctx: Ctx) = FeedDataset(GtfsSchemas.all.map { case (n, s) =>
    n -> ctx.spark.createDataFrame(ctx.spark.sparkContext.emptyRDD[Row], s)
  }.toMap, FeedDataset.gtfsFkGraph)

  private final class Out(val zip: Path, val feed: FeedDataset)
  private var last: Option[FeedDataset] = None

  def pass(ctx: Ctx, i: Int): Any = {
    val tr = ctx.tracer
    val rt = TaskRuntime(ctx.spark)
    val out = ctx.work.resolve(s"gtfs_out_$i.zip")
    def traced(module: String, t: Task): Task = new Task {
      override def name = t.name
      def execute(f: FeedDataset, r: TaskRuntime) = tr.span(module)(t.execute(f, r))
    }
    def load(prefix: String, zip: Path) = FeedToMerge(prefix, r =>
      tr.span("io.LoadGtfs")(LoadGtfs(zip).execute(emptyFeed(ctx), r)))
    val p = new Pipeline(Seq(
      traced("operators.Merge", Merge(Seq(load("1", feed.v1), load("2", feed.v2)))),
      traced("operators.Tasks1", GenerateTripHeadsign),
      traced("operators.Tasks1", RemoveUnusedEntities),
      traced("operators.CalendarTasks", TruncateCalendars(
        DateRange.bounded(GtfsGen.TruncStart, GtfsGen.TruncEnd), failOnEmpty = false)),
      traced("operators.CalendarTasks", SimplifyCalendars(generateNewIds = true, idPrefix = "s")),
      traced("operators.AssignDirections", AssignDirections(feed.outboundPairs,
        routes = RouteSelector(routeType = Some(2)), overwrite = true)),
      traced("operators.SplitTripLegs", SplitTripLegs()),
      traced("io.SaveGtfs", save(out))),
      checkpointAfter = Set("RemoveUnusedEntities", "AssignDirections"))
    val f = p.run(emptyFeed(ctx), rt)
    SaveGtfs.lastPhaseSeconds.foreach { case (_, zipS) => ctx.passGauge("io.SaveGtfs.zip_concat_s", zipS) }
    new Out(out, f)
  }

  def check(ctx: Ctx, i: Int, result: Any): Seq[String] = {
    val o = result.asInstanceOf[Out]
    val problems = Seq.newBuilder[String]
    last = Some(o.feed)
    val (digest, rows) = canonicalDigest(o.zip)
    val back = LoadGtfs(o.zip).execute(emptyFeed(ctx), TaskRuntime(ctx.spark))
    for ((file, table) <- savedTables) {
      val got = back(table).count()
      if (got != rows(file)) problems += s"$table: read back $got rows, $file holds ${rows(file)}"
    }
    problems ++= ctx.checkDigest("", digest)
    Files.deleteIfExists(o.zip)
    problems.result()
  }

  /** FeedValidator on the last pass's output, as a traced unit of its
    * own, then GtfsDemo's chain on the WKD fixture, untraced; each only
    * if the run has time left for it. */
  override def tracedChecks(ctx: Ctx): Seq[String] = {
    val violations = last.toSeq.filter(_ => ctx.fits("FeedValidator", 40)).flatMap { f =>
      ctx.tracer.pass(Tracer.AfterLoop, traced = true) {
        ctx.tracer.span("model.FeedValidator")(FeedValidator.validate(f))
      }
    }
    if (!ctx.fits("the WKD anchor", 70)) return violations.map(x => s"chain output violation: $x")
    val rt = TaskRuntime(ctx.spark)
    val p = new Pipeline(Seq(
      LoadGtfs(fixture, extraFields = true),
      GenerateTripHeadsign,
      RemoveUnusedEntities,
      TruncateCalendars(DateRange.bounded("2023-06-01", "2023-12-31"), failOnEmpty = false),
      SimplifyCalendars(generateNewIds = true, idPrefix = "s"),
      AssignDirections(Seq(("wsrod", "plglo"), ("plglo", "gmrad"), ("plglo", "milgr")),
        overwrite = true),
      SplitTripLegs(),
      save(ctx.work.resolve("wkd_out.zip"))),
      checkpointAfter = Set("RemoveUnusedEntities", "AssignDirections"))
    val f = p.run(FeedDataset(Map.empty, FeedDataset.gtfsFkGraph), rt)
    val got = fixtureCounts.keys.map(t => t -> f(t).count()).toMap
    val v = FeedValidator.validate(f)
    ctx.log(s"wkd anchor: ${got.toSeq.sorted.map { case (k, n) => s"$k=$n" }.mkString(" ")}, " +
      s"${v.size} violations; chain output: ${violations.size} violations")
    violations.map(x => s"chain output violation: $x") ++
      (if (got != fixtureCounts) Seq(s"WKD fixture chain drifted: $got, expected $fixtureCounts")
       else Nil) ++ v.map(x => s"WKD fixture violation: $x")
  }

  /** SHA-256 over every member's header and its data lines in sorted
    * order, and the rows each member should load as: its data lines, or
    * for calendar.txt the services named in it or in calendar_dates.txt. */
  private def canonicalDigest(zip: Path): (String, Map[String, Long]) = {
    val md = MessageDigest.getInstance("SHA-256")
    val rows = Map.newBuilder[String, Long]
    val zf = new ZipFile(zip.toFile)
    val serviceIds = mutable.Set.empty[String]
    try zf.entries().asScala.toSeq.sortBy(_.getName).foreach { e =>
      val lines = new String(zf.getInputStream(e).readAllBytes(), StandardCharsets.UTF_8)
        .split("\r\n", -1).filter(_.nonEmpty)
      rows += e.getName -> (lines.length - 1L)
      if (e.getName == "calendar.txt" || e.getName == "calendar_dates.txt")
        serviceIds ++= lines.tail.map(_.takeWhile(_ != ','))
      md.update(e.getName.getBytes(StandardCharsets.UTF_8))
      (lines.head +: lines.tail.sorted).foreach { l =>
        md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
      }
    } finally zf.close()
    // LoadGtfs implies a calendar for every service of calendar_dates.txt
    (md.digest().map(b => f"$b%02x").mkString,
      rows.result().updated("calendar.txt", serviceIds.size.toLong))
  }
}
