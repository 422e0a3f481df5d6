package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.FeedDataset

/** Insert one literal entity row (reference: AddEntity,
  * tasks/add_entity.py:8-18). */
final case class AddEntity(table: String, values: Map[String, Any]) extends Task {
  override def name = s"AddEntity($table)"
  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset = {
    import org.apache.spark.sql.types._
    val schema = feed(table).schema
    // Unprovided values on non-nullable fields get the entity-model
    // defaults ('' / false / 0 — mirroring the reference dataclass
    // defaults); a null in a column Catalyst believes non-nullable
    // corrupts codegen downstream. Nullability comes from the REGISTRY
    // schema where the table is a known GTFS one: transformations
    // relax the runtime schema to nullable, but the model contract
    // (and FeedValidator) still demands the sentinel defaults.
    val registry = graft.model.GtfsSchemas.all.find(_._1 == table).map(_._2)
    def modelNullable(f: StructField): Boolean =
      registry.flatMap(_.fields.find(_.name == f.name).map(_.nullable))
        .getOrElse(f.nullable)
    // null only when BOTH schemas allow it: the registry carries the
    // model contract (runtime schemas relax to nullable after
    // transformations), while a literal-built runtime table can be
    // STRICTER than the registry (lit() columns are non-nullable)
    def default(f: StructField): Any =
      if (modelNullable(f) && f.nullable) null
      else f.dataType match {
        case StringType            => ""
        case BooleanType           => false
        case IntegerType           => 0
        case LongType              => 0L
        case DoubleType            => 0.0
        // non-nullable dates default to the reference's 1111-11-11
        // "signals exceptions" sentinel (calendar.py:41-42) and
        // non-nullable maps (extra_table_rows.fields) to empty —
        // the old null fallback failed createDataFrame's null check
        case DateType              => graft.io.GtfsDates.SignalsExceptions
        case MapType(_, _, _)      => Map.empty[String, String]
        case _                     => null
      }
    val row = Row.fromSeq(schema.fields.toSeq.map(f => values.getOrElse(f.name, default(f))))
    val one = rt.spark.createDataFrame(java.util.List.of(row), schema)
    feed.updated(table, feed(table).unionByName(one))
  }
}

/** Run one SQL statement with every feed table registered as a temp
  * view and the GTFS scalar functions registered (reference: ExecuteSQL,
  * tasks/exec_sql.py:7-17 — there the statement is SQLite SQL; here it
  * is Spark SQL). SELECT statements may replace a table via `saveAs`;
  * the reference's UPDATE/DELETE statements are covered by the
  * UpdateTable / DeleteRows tasks below (SURVEY §7.3: mutation is
  * re-expressed, not emulated). */
final case class ExecuteSql(statement: String, saveAs: Option[String] = None) extends Task {
  override def name = "ExecuteSql"
  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset = {
    graft.functions.GtfsFunctions.registerAll(rt.spark)
    feed.tables.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    val out = rt.spark.sql(statement)
    saveAs match {
      case Some(t) => feed.withCascade(t, out)
      case None    => feed
    }
  }
}

/** UPDATE :table SET col = expr WHERE pred — the join-free Spark
  * re-expression of the reference's update path (db.py:420-441):
  * conditional column rewrite. */
final case class UpdateTable(table: String, set: Map[String, Column], where: Column)
    extends Task {
  override def name = s"UpdateTable($table)"
  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset = {
    // ONE projection, every SET value and the WHERE evaluated against
    // the ORIGINAL row — SQL UPDATE semantics. A sequential withColumn
    // fold would let later columns see already-updated data (and Map
    // iteration order is unspecified): SET a=x, b=a would copy the NEW
    // a or the old one depending on hash order.
    val base = feed(table)
    // resolve SET keys like Spark resolves columns (case-insensitive)
    // and FAIL on unknowns — SQL UPDATE errors on a bad column, and a
    // typo'd key silently updating nothing is worse
    val byKey = set.map { case (k, v) =>
      val actual = base.columns.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"UpdateTable($table): no such column '$k' (have ${base.columns.mkString(", ")})"))
      actual -> v
    }
    // two SET keys differing only in case resolve to the same column and
    // would collapse silently in the Map — fail loudly instead, matching
    // SQL's "column specified more than once"
    require(byKey.size == set.size,
      s"UpdateTable($table): SET keys ${set.keys.mkString(", ")} resolve to " +
        s"duplicate columns (${byKey.keys.mkString(", ")})")
    val df = base.select(base.columns.map { c =>
      byKey.get(c) match {
        case Some(value) => when(where, value).otherwise(col(c)).as(c)
        case None        => col(c)
      }
    }: _*)
    feed.updated(table, df)
  }
}

/** DELETE FROM :table WHERE pred, with FK cascade (SQLite cascades are
  * implicit in the reference; explicit here, SURVEY §1.4). */
final case class DeleteRows(table: String, where: Column) extends Task {
  override def name = s"DeleteRows($table)"
  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset =
    feed.withCascade(table, feed(table).filter(!where || where.isNull))
}

/** Fill empty trip headsigns with the name of the trip's last stop
  * (reference: GenerateTripHeadsign, tasks/generate_trip_headsign.py —
  * a correlated ORDER BY stop_sequence DESC LIMIT 1 subquery, here a
  * window top-1 + left join; SURVEY J1). */
case object GenerateTripHeadsign extends Task {
  override def name = "GenerateTripHeadsign"
  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset = {
    val w = Window.partitionBy(col("trip_id")).orderBy(col("stop_sequence").desc)
    val lastStop = feed("stop_times")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(feed("stops").select(col("stop_id"), col("name").as("last_stop_name")),
        Seq("stop_id"), "left")
      .select(col("trip_id").as("h_trip_id"), col("last_stop_name"))
    val trips = feed("trips")
    val out = trips
      .join(lastStop, trips("trip_id") === col("h_trip_id"), "left")
      .withColumn("headsign",
        when(col("headsign").isNull || col("headsign") === "", col("last_stop_name"))
          .otherwise(col("headsign")))
      .drop("h_trip_id", "last_stop_name")
    feed.updated("trips", out)
  }
}

/** Drop entities that serve no purpose, in the reference's fixed order
  * with FK cascades after every step (reference: RemoveUnusedEntities,
  * tasks/remove_unused_entities.py; SURVEY J2).
  *
  * The seven steps are decided on narrow key frames — trips
  * (trip_id, calendar_id, route_id), calendars, stops (stop_id,
  * location_type, parent_station), routes (route_id, agency_id) and
  * agencies — and the full tables are cascaded once at the end
  * ([[FeedDataset.withShrunk]]). This equals cascading after every step:
  * rows are only ever removed, so filtering a child once against its
  * parent's final rows equals filtering it after each of the parent's
  * shrinks; and every edge the per-step cascades apply to a decided table
  * is applied here to its key frame after its parent's last shrink
  * (trips against calendars after step 3, against routes after step 7;
  * routes against agencies after step 7; the stops self-FK twice after
  * steps 4 and 5, as `withCascade` applies it). A step reads its inputs in
  * the state the earlier steps left them: step 4's stop_times are those
  * of the trips kept by steps 1-3, steps 6 and 7 see the routes before
  * the routes' own cascade. The edges from trips to shapes are never
  * applied, since shapes never shrink.
  *
  * Only the key frames are checkpointed; stop_times is scanned once for
  * the step-1 counts and once for the step-4 used stops. */
case object RemoveUnusedEntities extends Task {
  import FeedDataset.keepReferencing

  override def name = "RemoveUnusedEntities"
  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset = {
    val stopTimes = feed("stop_times")

    // 1. trips with 0 or 1 stop_time (remove_unused_entities.py:38-42)
    val multi = stopTimes.groupBy("trip_id").count().filter(col("count") >= 2)
      .select("trip_id")
    val trips1 = feed("trips").select("trip_id", "calendar_id", "route_id")
      .join(multi, Seq("trip_id"), "left_semi")
      .localCheckpoint(true)

    // 2. calendars without trips (:45-49)
    val calendars2 = feed("calendars")
      .join(trips1.select("calendar_id"), Seq("calendar_id"), "left_semi")

    // 3. calendars without active dates (:52-70) — expansion kernel; a
    // calendar's dates depend only on its own exceptions, so the
    // exceptions of calendars dropped by step 2 need no filtering
    val withDates = CalendarOps.activeDates(calendars2, feed("calendar_exceptions"))
      .select("calendar_id").distinct()
    val calendars = calendars2.join(withDates, Seq("calendar_id"), "left_semi")
      .select("calendar_id")
      .localCheckpoint(true)
    val trips3 = keepReferencing(trips1, Seq("calendar_id"), calendars)

    // 4. stops (location_type 0) without stop_times (:73-77), counting
    // the stop_times of the trips kept so far
    val lt = col("location_type")
    val usedStops = keepReferencing(stopTimes.select("trip_id", "stop_id"), Seq("trip_id"),
      trips3.select("trip_id")).select("stop_id")
    val stops0 = feed("stops").select("stop_id", "location_type", "parent_station")
    val stops4 = dropOrphanedPlaces(
      stops0.filter(lt =!= 0)
        .unionByName(stops0.filter(lt === 0).join(usedStops, Seq("stop_id"), "left_semi"))
        .localCheckpoint(true))

    // 5. stations (location_type 1) without child stops (:80-85)
    val parentsInUse = stops4.filter(lt === 0)
      .select(col("parent_station").as("stop_id")).filter(col("stop_id").isNotNull)
    val stops = dropOrphanedPlaces(
      stops4.filter(lt =!= 1)
        .unionByName(stops4.filter(lt === 1).join(parentsInUse, Seq("stop_id"), "left_semi")))
      .select("stop_id")
      .localCheckpoint(true)

    // 6. routes without trips (:88-92)
    val routes6 = feed("routes").select("route_id", "agency_id")
      .join(trips3.select("route_id"), Seq("route_id"), "left_semi")

    // 7. agencies without routes (:95-99), then the routes' cascade
    val agencies = feed("agencies").select("agency_id")
      .join(routes6.select("agency_id"), Seq("agency_id"), "left_semi")
      .localCheckpoint(true)
    val routes = keepReferencing(routes6, Seq("agency_id"), agencies)
      .select("route_id")
      .localCheckpoint(true)
    val trips = keepReferencing(trips3, Seq("route_id"), routes)
      .select("trip_id")
      .localCheckpoint(true)

    feed.withShrunk(Map(
      "trips" -> trips, "calendars" -> calendars, "stops" -> stops,
      "routes" -> routes, "agencies" -> agencies))
  }

  /** The stops self-FK cascade as `withCascade` applies it, twice:
    * places whose parent station is gone, then their children. */
  private def dropOrphanedPlaces(stops: DataFrame): DataFrame = {
    def once(s: DataFrame) = keepReferencing(s, Seq("parent_station"), s.select("stop_id"))
    once(once(stops))
  }
}

/** Composable route filter (reference: selector.Routes,
  * selector.py:40-78): conjunction of optional conditions, compiled to
  * one Column predicate — pushed down by Catalyst. */
final case class RouteSelector(
    agencyId: Option[String] = None,
    routeType: Option[Int] = None,
    ids: Set[String] = Set.empty) {

  def predicate: Column = {
    var p: Column = lit(true)
    agencyId.foreach(a => p = p && col("agency_id") === a)
    routeType.foreach(t => p = p && col("type") === t)
    if (ids.nonEmpty) p = p && col("route_id").isin(ids.toSeq: _*)
    p
  }

  /** Matching routes (selector.find, selector.py:67-78). */
  def find(feed: FeedDataset): DataFrame = feed("routes").filter(predicate)

  /** Matching route_ids as a one-column frame (selector.find_ids). */
  def findIds(feed: FeedDataset): DataFrame = find(feed).select("route_id")
}
