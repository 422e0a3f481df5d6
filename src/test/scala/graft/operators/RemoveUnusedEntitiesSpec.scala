package graft.operators

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.io.GtfsDates
import graft.model.{FeedDataset, FkEdge, GtfsSchemas}

/** RemoveUnusedEntities against a plain-Scala model of the reference's
  * seven steps, each followed by an `ON DELETE CASCADE` run to its
  * fixpoint, on one feed of many small generated islands.
  *
  * Islands share no id (every id carries the island's prefix), so each
  * is an independent case; together they cover NULL FKs, FK orphans,
  * station -> platform -> boarding-area and station -> exit trees,
  * removal-only and exceptions-only calendars, trips with 0-3
  * stop_times and agencies referenced only by fare_attributes.
  *
  * At most three levels of places hang below a removed place (a station
  * under a missing parent, its platforms, their boarding areas): the
  * model's cascade removes them all in step 4, the task's two
  * applications of the stops self-FK in each of steps 4 and 5 by the end
  * of step 5, which no later step can tell apart. */
class RemoveUnusedEntitiesSpec extends SparkSpec {
  import RemoveUnusedEntitiesSpec._

  test("RemoveUnusedEntities equals the seven cascaded steps on generated islands") {
    val rnd = new Random(20261017L)
    val db = new Gen(rnd)
    (0 until 240).foreach(db.island)
    val input: Db = GtfsSchemas.all.map { case (t, _) => t -> db.rows(t).toVector }.toMap

    val (expected, removedBySteps) = Model.removeUnused(input, FeedDataset.gtfsFkGraph)
    // every step must have something to decide, or the islands test nothing
    removedBySteps.zipWithIndex.foreach { case (n, i) =>
      assert(n >= 10, s"step ${i + 1} removed only $n rows: islands too tame")
    }
    for (t <- Seq("trips", "stops", "routes", "agencies", "calendars", "stop_times",
        "transfers", "fare_rules", "fare_attributes", "calendar_exceptions"))
      assert(expected(t).nonEmpty && expected(t).size < input(t).size, s"$t: no mix of kept and dropped")

    val feed = FeedDataset(GtfsSchemas.all.map { case (t, schema) =>
      t -> spark.createDataFrame(
        java.util.List.of(input(t).map(r => toRow(schema, r)): _*), schema)
    }.toMap, FeedDataset.gtfsFkGraph)
    val out = RemoveUnusedEntities.execute(feed, rt)

    for ((t, _) <- GtfsSchemas.all) {
      val pk = GtfsSchemas.primaryKeys(t)
      val got = out(t).select(pk.head, pk.tail: _*).collect()
        .map(r => pk.indices.map(i => String.valueOf(r.get(i))).mkString("|")).sorted.toSeq
      val want = expected(t).map(r => pk.map(c => String.valueOf(r(c))).mkString("|")).sorted
      assert(got == want, s"$t differs: extra ${got.diff(want).take(5)}, missing ${want.diff(got).take(5)}")
    }
  }
}

object RemoveUnusedEntitiesSpec {
  type Rec = Map[String, Any]
  type Db = Map[String, Vector[Rec]]

  private def toRow(schema: StructType, r: Rec): Row = Row.fromSeq(schema.fields.toSeq.map { f =>
    r.getOrElse(f.name, if (f.nullable) null else f.dataType match {
      case StringType  => ""
      case IntegerType => 0
      case LongType    => 0L
      case DoubleType  => 0.0
      case BooleanType => false
      case DateType    => java.sql.Date.valueOf("2024-01-01")
      case _: MapType  => Map.empty[String, String]
      case other       => throw new IllegalArgumentException(s"no default for $other")
    })
  })

  /** The reference's steps on in-memory rows. */
  object Model {
    private val Weekdays = Seq("monday", "tuesday", "wednesday", "thursday", "friday",
      "saturday", "sunday")

    /** Calendar columns for weekday flags given Monday first. */
    def weekdayBits(bits: Seq[Boolean]): Seq[(String, Any)] = Weekdays.zip(bits)

    /** The kept rows of every table and the rows each step removed
      * itself (before its cascade). */
    def removeUnused(input: Db, graph: Seq[FkEdge]): (Db, Seq[Int]) = {
      var db = input
      val removed = mutable.Buffer.empty[Int]
      def step(table: String)(keep: Rec => Boolean): Unit = {
        val kept = db(table).filter(keep)
        removed += db(table).size - kept.size
        db = cascade(db.updated(table, kept), table, graph)
      }
      def ids(table: String, c: String): Set[Any] = db(table).map(_(c)).toSet

      // 1. trips with 0 or 1 stop_time
      val stopTimesPerTrip = db("stop_times").groupBy(_("trip_id")).map { case (k, v) => k -> v.size }
      step("trips")(t => stopTimesPerTrip.getOrElse(t("trip_id"), 0) >= 2)
      // 2. calendars without trips
      val usedCalendars = ids("trips", "calendar_id")
      step("calendars")(c => usedCalendars(c("calendar_id")))
      // 3. calendars without active dates
      val exceptions = db("calendar_exceptions").groupBy(_("calendar_id"))
      step("calendars")(c => activeDates(c, exceptions.getOrElse(c("calendar_id"), Vector.empty)).nonEmpty)
      // 4. stops without stop_times
      val usedStops = ids("stop_times", "stop_id")
      step("stops")(s => s("location_type") != 0 || usedStops(s("stop_id")))
      // 5. stations without child stops
      val parents = db("stops").filter(_("location_type") == 0).map(_("parent_station")).toSet
      step("stops")(s => s("location_type") != 1 || parents(s("stop_id")))
      // 6. routes without trips
      val usedRoutes = ids("trips", "route_id")
      step("routes")(r => usedRoutes(r("route_id")))
      // 7. agencies without routes
      val usedAgencies = ids("routes", "agency_id")
      step("agencies")(a => usedAgencies(a("agency_id")))
      (db, removed.toSeq)
    }

    /** Filter every table reachable from `from` against its parents until
      * nothing changes; a NULL FK references nothing and is kept. */
    private def cascade(input: Db, from: String, graph: Seq[FkEdge]): Db = {
      var reach = Set(from)
      var grown = true
      while (grown) {
        val next = reach ++ graph.filter(e => reach(e.parent)).map(_.child)
        grown = next != reach
        reach = next
      }
      val edges = graph.filter(e => reach(e.parent))
      var db = input
      var changed = true
      while (changed) {
        changed = false
        for (e <- edges) {
          val keys = db(e.parent).map(r => e.parentCols.map(r)).toSet
          val kept = db(e.child).filter(r =>
            e.childCols.exists(c => r.get(c).forall(_ == null)) || keys(e.childCols.map(r)))
          if (kept.size != db(e.child).size) { changed = true; db = db.updated(e.child, kept) }
        }
      }
      db
    }

    private def activeDates(cal: Rec, exceptions: Seq[Rec]): Set[LocalDate] = {
      def date(v: Any) = v.asInstanceOf[java.sql.Date].toLocalDate
      val (start, end) = (date(cal("start_date")), date(cal("end_date")))
      val sentinel = date(GtfsDates.SignalsExceptions)
      val base =
        if (start == sentinel || end == sentinel || start.isAfter(end)) Set.empty[LocalDate]
        else Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
          .filter(d => cal(Weekdays(d.getDayOfWeek.getValue - 1)) == true).toSet
      def ofType(t: Int) = exceptions.filter(_("exception_type") == t).map(e => date(e("date"))).toSet
      base ++ ofType(1) -- ofType(2)
    }
  }

  /** Generates islands: each call adds one island's rows, ids prefixed
    * with the island number. */
  final class Gen(rnd: Random) {
    val rows: mutable.Map[String, mutable.Buffer[Rec]] =
      mutable.Map(GtfsSchemas.all.map { case (t, _) => t -> mutable.Buffer.empty[Rec] }: _*)
    private var nextFareRule = 0L
    private var nextTransfer = 0L
    private def chance(p: Double) = rnd.nextDouble() < p
    private def pick[T](xs: Seq[T]): Option[T] =
      if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))
    private def add(t: String, r: (String, Any)*): Unit = rows(t) += r.toMap
    private def day(d: Int) = java.sql.Date.valueOf(LocalDate.of(2024, 1, 1).plusDays(d))

    def island(n: Int): Unit = {
      val p = f"i$n%03d_"
      val orphan = s"${p}missing"
      // a reference to one of `ids`, or an orphan; None stands for NULL
      def ref(ids: Seq[String], orphanP: Double): String =
        if (chance(orphanP)) orphan else pick(ids).getOrElse(orphan)
      def nullableRef(ids: Seq[String]): Option[String] =
        if (chance(0.35)) None else Some(ref(ids, 0.15))

      val agencies = (0 until 1 + rnd.nextInt(3)).map(k => s"${p}A$k")
      agencies.foreach(a => add("agencies", "agency_id" -> a))
      val routes = (0 until rnd.nextInt(4)).map(k => s"${p}R$k")
      routes.foreach(r => add("routes", "route_id" -> r, "agency_id" -> ref(agencies, 0.1)))

      val shapes = (0 until rnd.nextInt(3)).map(k => s"${p}SH$k")
      shapes.foreach { s =>
        add("shapes", "shape_id" -> s)
        (0 until 2).foreach(i => add("shape_points", "shape_id" -> s, "sequence" -> i))
      }

      val calendars = (0 until 1 + rnd.nextInt(3)).map { k =>
        val id = s"${p}C$k"
        val exceptions = mutable.Map.empty[Int, Int]
        val start = rnd.nextInt(30)
        rnd.nextInt(4) match {
          case 0 => // weekday pattern, sometimes empty or inverted
            val bits = Seq.fill(7)(chance(0.4))
            add("calendars", Seq("calendar_id" -> id, "start_date" -> day(start),
              "end_date" -> day(start + rnd.nextInt(20) - 3)) ++
              Model.weekdayBits(bits): _*)
          case 1 => // exceptions only
            add("calendars", "calendar_id" -> id, "start_date" -> GtfsDates.SignalsExceptions,
              "end_date" -> GtfsDates.SignalsExceptions)
            (0 until rnd.nextInt(3)).foreach(_ => exceptions(start + rnd.nextInt(10)) = 1)
          case _ => // every day of a short range, some or all removed again
            val len = 1 + rnd.nextInt(3)
            add("calendars", Seq("calendar_id" -> id, "start_date" -> day(start),
              "end_date" -> day(start + len - 1)) ++ Model.weekdayBits(Seq.fill(7)(true)): _*)
            val all = chance(0.6)
            (0 until len).foreach(i => if (all || chance(0.5)) exceptions(start + i) = 2)
        }
        if (chance(0.3)) exceptions(start + rnd.nextInt(40)) = 1 + rnd.nextInt(2)
        exceptions.foreach { case (d, t) =>
          add("calendar_exceptions", "calendar_id" -> id, "date" -> day(d), "exception_type" -> t)
        }
        id
      }
      if (chance(0.2)) add("calendar_exceptions", "calendar_id" -> orphan, "date" -> day(3),
        "exception_type" -> 1)

      // places: stations with platforms (some with boarding areas) and
      // exits, some under a missing parent; lone stops; stops under a
      // missing station
      val stops = mutable.Buffer.empty[String]
      def stop(id: String, lt: Int, parent: Option[String]): String = {
        add("stops", "stop_id" -> id, "location_type" -> lt, "parent_station" -> parent.orNull)
        stops += id
        id
      }
      (0 until rnd.nextInt(3)).foreach { k =>
        val station = stop(s"${p}ST$k", 1, if (chance(0.15)) Some(orphan) else None)
        (0 until rnd.nextInt(3)).foreach { j =>
          val platform = stop(s"${p}ST${k}_P$j", 0, Some(station))
          if (chance(0.3)) stop(s"${platform}_B", 4, Some(platform))
        }
        if (chance(0.5)) stop(s"${p}ST${k}_E", 2, Some(station))
      }
      (0 until 1 + rnd.nextInt(3)).foreach(k => stop(s"${p}S$k", 0, None))
      if (chance(0.25)) {
        val lost = stop(s"${p}L", 0, Some(orphan))
        if (chance(0.5)) stop(s"${lost}_B", 4, Some(lost))
      }

      val trips = (0 until rnd.nextInt(5)).map { k =>
        val id = s"${p}T$k"
        add("trips", "trip_id" -> id, "route_id" -> ref(routes, 0.1),
          "calendar_id" -> ref(calendars, 0.1), "shape_id" -> nullableRef(shapes).orNull)
        val n = Seq(0, 1, 2, 2, 3)(rnd.nextInt(5))
        (0 until n).foreach { i =>
          add("stop_times", "trip_id" -> id, "stop_sequence" -> i, "stop_id" -> ref(stops.toSeq, 0.1))
        }
        if (chance(0.2)) add("frequencies", "trip_id" -> id, "start_time" -> 0)
        id
      }
      if (chance(0.2)) (0 until 2).foreach { i =>
        add("stop_times", "trip_id" -> orphan, "stop_sequence" -> i, "stop_id" -> ref(stops.toSeq, 0))
      }
      if (chance(0.1)) add("frequencies", "trip_id" -> orphan, "start_time" -> 0)

      val fares = (0 until rnd.nextInt(3)).map { k =>
        val id = s"${p}F$k"
        add("fare_attributes", "fare_id" -> id, "agency_id" -> ref(agencies, 0.1))
        id
      }
      (0 until rnd.nextInt(3)).foreach { _ =>
        nextFareRule += 1
        add("fare_rules", "fare_rule_id" -> nextFareRule, "fare_id" -> ref(fares, 0.1),
          "route_id" -> nullableRef(routes).orNull)
      }
      (0 until rnd.nextInt(3)).foreach { _ =>
        nextTransfer += 1
        add("transfers", "transfer_id" -> nextTransfer,
          "from_stop_id" -> nullableRef(stops.toSeq).orNull,
          "to_stop_id" -> nullableRef(stops.toSeq).orNull,
          "from_route_id" -> nullableRef(routes).orNull,
          "to_route_id" -> nullableRef(routes).orNull,
          "from_trip_id" -> nullableRef(trips).orNull,
          "to_trip_id" -> nullableRef(trips).orNull)
      }
    }
  }
}
