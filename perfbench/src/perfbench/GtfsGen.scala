package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.util.Random

/** Two seeded versions of a suburban-rail GTFS feed, shaped like WKD
  * (about 30 stops, 3 routes, 370 trips, 6.3k stop_times, 1.1k shape
  * points and 2 running calendars with holiday exceptions per version).
  *
  * The feeds are built so every task of the chain does real work:
  *  - Merge: most stops and routes of version 2 equal version 1's and
  *    merge; some stops are renamed or moved by about 50 m and one
  *    route is recoloured, so their ids conflict and get renamed.
  *  - GenerateTripHeadsign: about a third of the trips have no headsign.
  *  - RemoveUnusedEntities: a few stops are never called at, one route
  *    has no trips and one trip has a single stop_time.
  *  - TruncateCalendars: one calendar per version lies wholly outside
  *    the truncation range [[TruncStart]]..[[TruncEnd]] and is cut.
  *  - SimplifyCalendars: the weekday calendars of both versions have
  *    the same days in range and collapse into one.
  *  - AssignDirections: every rail trip calls at both terminals of its
  *    route once, and [[outboundPairs]] lists each rail route's pair.
  *  - SplitTripLegs: about a tenth of the rail trips run a middle
  *    section as a replacement bus (platform `BUS`) and are split.
  */
object GtfsGen {
  val TruncStart = "2023-06-01"
  val TruncEnd = "2023-12-31"

  final case class Feed(v1: Path, v2: Path, outboundPairs: Seq[(String, String)])

  private final case class Stop(id: String, name: String, lat: Double, lon: Double)
  private final case class Route(id: String, rail: Boolean, color: String, stops: IndexedSeq[Int])

  // weekday / weekend holidays inside and outside the truncation range
  private val holidays = Seq("20230608", "20230815", "20231101", "20231225", "20231226",
    "20240101", "20240401")
  private val weekendHolidays = Seq("20231111", "20240106", "20240331")

  def write(dir: Path, seed: Long): Feed = {
    val rnd = new Random(seed)
    val nRoutes = 3
    val stopsPerRoute = 17
    // consecutive routes share half their stops; a few stops stay unused
    val step = stopsPerRoute / 2
    val nUsed = step * nRoutes + stopsPerRoute - step
    val nStops = nUsed + 2
    val stops = (0 until nStops).map { i =>
      Stop(f"s$i%05d", s"Stacja ${i + 1} ${rnd.alphanumeric.take(4).mkString}",
        52.0 + rnd.nextDouble() * 0.5, 20.5 + rnd.nextDouble())
    }
    val routes = (0 until nRoutes).map { r =>
      Route(f"R$r%03d", rail = r % 3 != 2, color = f"${rnd.nextInt(0xffffff)}%06X",
        stops = (0 until stopsPerRoute).map(k => r * step + k))
    }
    val pairs = routes.filter(_.rail).map(r => (stops(r.stops.head).id, stops(r.stops.last).id))

    // version 2: rename ~10 %, move ~5 % of the stops by ~50 m (never a
    // terminal, so the outbound pairs keep naming both versions' stops),
    // recolour one route
    val terminals = routes.flatMap(r => Seq(r.stops.head, r.stops.last)).toSet
    val stops2 = stops.zipWithIndex.map { case (s, i) =>
      val u = rnd.nextDouble()
      if (terminals(i)) s
      else if (u < 0.10) s.copy(name = s.name + " II")
      else if (u < 0.15) s.copy(lat = s.lat + 0.00045)
      else s
    } :+ Stop("n0000", "Nowy przystanek 0", 52.2 + rnd.nextDouble() * 0.1, 20.8)
    val routes2 = routes.zipWithIndex.map { case (r, i) =>
      if (i == 1) r.copy(color = "0000FF") else r
    }

    val trips = 370
    val shapePts = 183 // about 1.1k over the 2 x 3 route directions
    val v1 = dir.resolve("v1.zip")
    val v2 = dir.resolve("v2.zip")
    writeFeed(v1, new Random(rnd.nextLong()), "2023-05-08", stops, routes, trips, shapePts,
      extraCalendar = ("E", "20230301", "20230531"), weekendShift = 0)
    writeFeed(v2, new Random(rnd.nextLong()), "2023-09-01", stops2, routes2, trips, shapePts,
      extraCalendar = ("F", "20240108", "20240331"), weekendShift = 1,
      emptyRoute = Some(f"X$nRoutes%03d"))
    Feed(v1, v2, pairs)
  }

  private def writeFeed(
      path: Path, rnd: Random, version: String, stops: IndexedSeq[Stop],
      routes: IndexedSeq[Route], nTrips: Int, shapePts: Int,
      extraCalendar: (String, String, String), weekendShift: Int,
      emptyRoute: Option[String] = None): Unit = {
    val files = mutable.LinkedHashMap.empty[String, StringBuilder]
    def file(name: String, header: String): StringBuilder =
      files.getOrElseUpdate(name, new StringBuilder(header).append("\r\n"))
    def row(sb: StringBuilder, cells: Any*): Unit = sb.append(cells.mkString(",")).append("\r\n")

    row(file("agency.txt", "agency_id,agency_name,agency_url,agency_lang,agency_timezone"),
      "0", "Kolej Testowa", "http://example.com/", "pl", "Europe/Warsaw")
    row(file("feed_info.txt", "feed_publisher_name,feed_publisher_url,feed_lang,feed_version"),
      "Generator", "http://example.com/", "pl", version)
    val fares = file("fare_attributes.txt",
      "fare_id,price,currency_type,payment_method,transfers,transfer_duration,agency_id")
    Seq(("1", "4.10"), ("2", "5.50"), ("3", "8.00")).foreach { case (id, p) =>
      row(fares, id, p, "PLN", "1", "0", "", "0")
    }
    val st = file("stops.txt", "stop_id,stop_name,stop_lat,stop_lon,wheelchair_boarding")
    stops.foreach(s => row(st, s.id, s.name, f"${s.lat}%.7f", f"${s.lon}%.7f", "2"))
    val rt = file("routes.txt",
      "agency_id,route_id,route_short_name,route_long_name,route_type,route_color,route_text_color")
    routes.foreach { r =>
      row(rt, "0", r.id, r.id, s"Linia ${r.id}", if (r.rail) "2" else "3", r.color, "FFFFFF")
    }
    emptyRoute.foreach(id => row(rt, "0", id, id, "Linia bez kursow", "3", "777777", "FFFFFF"))

    val cal = file("calendar.txt",
      "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date")
    row(cal, "D", 1, 1, 1, 1, 1, 0, 0, "20230508", "20240430")
    row(cal, "C", 0, 0, 0, 0, 0, 1, 1, "20230508", "20240430")
    row(cal, extraCalendar._1, 1, 1, 1, 1, 1, 1, 1, extraCalendar._2, extraCalendar._3)
    val cd = file("calendar_dates.txt", "service_id,date,exception_type")
    holidays.foreach { d => row(cd, "D", d, 2); row(cd, "C", d, 1) }
    weekendHolidays.drop(weekendShift).foreach(d => row(cd, "C", d, 2))

    // one shape per route and direction, sampled along its stops
    val shp = file("shapes.txt", "shape_id,shape_pt_sequence,shape_pt_lat,shape_pt_lon")
    routes.zipWithIndex.foreach { case (r, ri) =>
      Seq(0, 1).foreach { dir =>
        val seq = if (dir == 0) r.stops else r.stops.reverse
        (0 until shapePts).foreach { p =>
          val f = p.toDouble * (seq.size - 1) / (shapePts - 1)
          val a = stops(seq(f.toInt)); val b = stops(seq(math.min(f.toInt + 1, seq.size - 1)))
          val w = f - f.toInt
          row(shp, s"${ri * 2 + dir}", p,
            f"${a.lat + (b.lat - a.lat) * w + rnd.nextGaussian() * 1e-5}%.8f",
            f"${a.lon + (b.lon - a.lon) * w + rnd.nextGaussian() * 1e-5}%.8f")
        }
      }
    }

    val tr = file("trips.txt", "route_id,service_id,trip_id,trip_headsign,trip_short_name," +
      "direction_id,shape_id,wheelchair_accessible,bikes_allowed")
    val stt = file("stop_times.txt",
      "trip_id,arrival_time,departure_time,stop_id,stop_sequence,platform")
    def hms(s: Int): String = f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
    (0 until nTrips).foreach { t =>
      val ri = t % routes.size
      val r = routes(ri)
      val dir = (t / routes.size) % 2
      val u = rnd.nextDouble()
      val service = if (u < 0.70) "D" else if (u < 0.96) "C" else extraCalendar._1
      val tripId = s"$service-${10000 + t}"
      val seq = if (dir == 0) r.stops else r.stops.reverse
      val headsign = if (rnd.nextDouble() < 0.33) "" else stops(seq.last).name
      row(tr, r.id, service, tripId, headsign, 10000 + t, dir, ri * 2 + dir, 1, 1)
      // a rail trip now and then runs a middle section as a replacement bus
      val bus = if (r.rail && rnd.nextDouble() < 0.10) {
        val a = 3 + rnd.nextInt(seq.size / 2); (a, a + 3 + rnd.nextInt(4))
      } else (-1, -1)
      val calls = if (t == 7) 1 else seq.size // one trip with a single stop_time
      var clock = 4 * 3600 + 1800 + rnd.nextInt(19 * 3600)
      (0 until calls).foreach { k =>
        val dwell = if (k == 0 || k == seq.size - 1) 0 else 30 * rnd.nextInt(2)
        val platform = if (k >= bus._1 && k < bus._2) "BUS" else ""
        row(stt, tripId, hms(clock), hms(clock + dwell), stops(seq(k)).id, k, platform)
        clock += dwell + 120 + 30 * rnd.nextInt(5)
      }
    }

    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(path.toFile)))
    try files.foreach { case (name, sb) =>
      zip.putNextEntry(new ZipEntry(name))
      zip.write(sb.toString.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    } finally zip.close()
  }
}
