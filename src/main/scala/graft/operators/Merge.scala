package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GtfsFunctions
import graft.model.FeedDataset

/** One feed to merge into the accumulated dataset (reference:
  * DatabaseToMerge, merge.py:20-37). `load` is called lazily; the
  * optional pre-merge pipeline runs on the loaded feed only (the
  * reference's temp-copy semantics are free here — FeedDatasets are
  * immutable). */
final case class FeedToMerge(
    prefix: String,
    load: TaskRuntime => FeedDataset,
    preMergePipeline: Option[Pipeline] = None)

/** Merge N feeds into the current one (reference: Merge,
  * tasks/merge.py; SURVEY J3 — the flagship composite).
  *
  * Reference semantics preserved exactly (merge.py:105-178 rules):
  * agencies/attributions same-id union keeping the first encountered;
  * routes merged on (id, agency, short_name, type, color); stops merged
  * on the full attribute hash AND haversine distance <=
  * `distanceBetweenSimilarStopsM` to the nearest known candidate;
  * calendars/fares/shapes/trips and children never merged — ids
  * prefixed `prefix<sep>id`; id conflicts resolved with the lowest free
  * numeric suffix; translations partially merged (feed_info ones
  * dropped); FeedInfo folded (first one's attributes, versions joined).
  *
  * Scale shape: feeds fold SEQUENTIALLY (merge.py:387-425 dedups
  * against already-merged state including renamed ids — an inherently
  * ordered accumulation, SURVEY §7.4.1), but within each feed every
  * step is a set join: hash-equi join + distance filter + min_by for
  * stops, broadcast rename maps applied to the fact tables. The only
  * driver-side work is numeric-suffix resolution over the (few)
  * conflicting ids. Dimension state is checkpointed per feed so plan
  * depth stays linear in the number of feeds; fact tables stay lazy
  * unions.
  */
final case class Merge(
    feeds: Seq[FeedToMerge],
    separator: String = ":",
    feedVersionSeparator: String = "/",
    distanceBetweenSimilarStopsM: Double = 10.0) extends Task {

  override def name = "Merge"

  private val routeHashCols = Seq("route_id", "agency_id", "short_name", "type", "color")
  private val stopHashCols = Seq("stop_id", "name", "code", "zone_id", "location_type",
    "parent_station", "wheelchair_boarding", "platform_code")

  def execute(feed: FeedDataset, rt: TaskRuntime): FeedDataset = {
    var acc = feed

    // --- accumulated merge state (initialize_known_objects, merge.py:253-274)
    // known route hashes -> actual id; hash uses the ORIGINAL incoming id.
    // The ids in use are exactly the known mapped/actual ids: every id a
    // merged feed adds also enters the known hashes.
    var knownRoutes = acc("routes").select(
      routeHashCols.map(c => col(c).as(s"h_$c")) :+ col("route_id").as("mapped_id"): _*)
      .localCheckpoint(true)
    var knownStops = acc("stops").select(
      stopHashCols.map(c => col(c).as(s"h_$c")) ++
        Seq(col("stop_id").as("actual_id"), col("lat").as("k_lat"), col("lon").as("k_lon"),
          monotonically_increasing_id().as("k_seq")): _*)
      .localCheckpoint(true)
    val runtimeHasFeedInfo = !acc("feed_info").isEmpty
    val feedInfos = scala.collection.mutable.Buffer.empty[Option[org.apache.spark.sql.Row]]

    feeds.foreach { toMerge =>
      val loaded = toMerge.load(rt)
      val inc0 = toMerge.preMergePipeline.map(_.run(loaded, rt)).getOrElse(loaded)
      val pfx = toMerge.prefix + separator
      def prefixed(c: Column): Column = concat(lit(pfx), c)

      // --- agencies / attributions: INSERT OR IGNORE (first wins)
      def insertOrIgnore(table: String, pk: String): DataFrame =
        acc(table).unionByName(
          inc0(table).join(acc(table).select(pk), Seq(pk), "left_anti"))
      val agencies = insertOrIgnore("agencies", "agency_id")
      val attributions = insertOrIgnore("attributions", "attribution_id")

      // --- route resolution (merge.py:341-368)
      val incRoutes = inc0("routes").localCheckpoint(true)
      val rJoined = incRoutes.join(
        knownRoutes,
        routeHashCols.map(c => col(c) <=> col(s"h_$c")).reduce(_ && _),
        "left")
      val rMerged = rJoined.filter(col("mapped_id").isNotNull)
        .select(col("route_id").as("old_id"), col("mapped_id").as("new_id"))
      val rUnmatched = rJoined.filter(col("mapped_id").isNull).select(incRoutes.columns.map(col): _*)
      val rConflicts = resolveConflicts(rUnmatched.select("route_id"),
        knownRoutes.select(col("mapped_id").as("route_id")), "route_id", rt)
      // (broadcast hints are applied at the join sites — hinting a
      // checkpointed frame that is later re-selected detaches the hint
      // and triggers HintErrorLogger warnings)
      val routeMap = rMerged.unionByName(rConflicts).localCheckpoint(true)

      def remapRoutes(df: DataFrame, c: String): DataFrame = remap(df, c, routeMap)

      // NOTE: known hash keeps the ORIGINAL id (hash computed pre-rename,
      // merge.py:349-354) but maps to the renamed id.
      val rUnmatchedWithNew = rUnmatched
        .join(broadcast(routeMap.withColumnRenamed("old_id", "route_id")),
          Seq("route_id"), "left")
        .withColumn("final_id", coalesce(col("new_id"), col("route_id")))
      knownRoutes = knownRoutes.unionByName(
        rUnmatchedWithNew.select(
          routeHashCols.map(c => col(c).as(s"h_$c")) :+ col("final_id").as("mapped_id"): _*))
        .localCheckpoint(true)
      val routes = acc("routes").unionByName(
        remapRoutes(incRoutes, "route_id")
          .join(acc("routes").select("route_id"), Seq("route_id"), "left_anti"))

      // --- stop resolution (merge.py:387-425): hash join + <=10m nearest
      val incStops = inc0("stops").localCheckpoint(true)
      val sJoined = incStops.alias("i").join(
        knownStops,
        stopHashCols.map(c => col(s"i.$c") <=> col(s"h_$c")).reduce(_ && _),
        "left")
        .withColumn("dist_m",
          GtfsFunctions.haversineMeters(col("i.lat"), col("i.lon"), col("k_lat"), col("k_lon")))
      val sBest = sJoined
        .withColumn("cand",
          when(col("actual_id").isNotNull && col("dist_m") <= distanceBetweenSimilarStopsM,
            struct(col("dist_m"), col("k_seq"), col("actual_id"))))
        .groupBy(col("i.stop_id").as("stop_id"))
        .agg(min(col("cand")).as("best"))
        .select(col("stop_id"), col("best.actual_id").as("matched_id"))
      val sMerged = sBest.filter(col("matched_id").isNotNull)
        .select(col("stop_id").as("old_id"), col("matched_id").as("new_id"))
      val sUnmatchedIds = sBest.filter(col("matched_id").isNull).select("stop_id")
      val sUnmatched = incStops.join(sUnmatchedIds, Seq("stop_id"), "left_semi")
      val sConflicts = resolveConflicts(sUnmatchedIds,
        knownStops.select(col("actual_id").as("stop_id")), "stop_id", rt)
      val stopMap = sMerged.unionByName(sConflicts).localCheckpoint(true)

      def remapStops(df: DataFrame, c: String): DataFrame = remap(df, c, stopMap)

      val sUnmatchedWithNew = sUnmatched
        .join(broadcast(stopMap.withColumnRenamed("old_id", "stop_id")),
          Seq("stop_id"), "left")
        .withColumn("final_id", coalesce(col("new_id"), col("stop_id")))
      knownStops = knownStops.unionByName(
        sUnmatchedWithNew.select(
          stopHashCols.map(c => col(c).as(s"h_$c")) ++ Seq(
            col("final_id").as("actual_id"), col("lat").as("k_lat"), col("lon").as("k_lon"),
            monotonically_increasing_id().as("k_seq")): _*))
        .localCheckpoint(true)
      // parent_station follows the incoming db's ON UPDATE CASCADE
      val stops = acc("stops").unionByName(
        remapStops(remapStops(incStops, "stop_id"), "parent_station")
          .join(acc("stops").select("stop_id"), Seq("stop_id"), "left_anti"))

      // --- calendars + exceptions: always prefixed (merge.py:427-443)
      val calendars = acc("calendars").unionByName(
        inc0("calendars").withColumn("calendar_id", prefixed(col("calendar_id"))))
      val calendarExceptions = acc("calendar_exceptions").unionByName(
        inc0("calendar_exceptions").withColumn("calendar_id", prefixed(col("calendar_id"))))

      // --- fares (merge.py:445-464): fare_id prefixed, rules re-keyed
      val fareAttributes = acc("fare_attributes").unionByName(
        inc0("fare_attributes").withColumn("fare_id", prefixed(col("fare_id"))))
      val incFareRules = remapRoutes(
        inc0("fare_rules").withColumn("fare_id", prefixed(col("fare_id"))), "route_id")
      val fareRules = acc("fare_rules")
        .unionByName(freshIds(acc("fare_rules"), incFareRules, "fare_rule_id"))

      // --- shapes (merge.py:466-476)
      val shapes = acc("shapes").unionByName(
        inc0("shapes").withColumn("shape_id", prefixed(col("shape_id"))))
      val shapePoints = acc("shape_points").unionByName(
        inc0("shape_points").withColumn("shape_id", prefixed(col("shape_id"))))

      // --- trips (merge.py:478-501)
      val incTrips = remapRoutes(inc0("trips"), "route_id")
        .withColumn("trip_id", prefixed(col("trip_id")))
        .withColumn("calendar_id", prefixed(col("calendar_id")))
        .withColumn("shape_id",
          when(col("shape_id").isNotNull, prefixed(col("shape_id"))))
        .withColumn("block_id",
          when(col("block_id").isNotNull, prefixed(col("block_id"))))
      val trips = acc("trips").unionByName(incTrips)

      // --- stop_times / frequencies (merge.py:503-512)
      val stopTimes = acc("stop_times").unionByName(
        remapStops(inc0("stop_times"), "stop_id")
          .withColumn("trip_id", prefixed(col("trip_id"))))
      val frequencies = acc("frequencies").unionByName(
        inc0("frequencies").withColumn("trip_id", prefixed(col("trip_id"))))

      // --- transfers (merge.py:514-525): re-keyed, refs remapped
      val incTransfers0 = remapStops(remapStops(
        remapRoutes(remapRoutes(inc0("transfers"), "from_route_id"), "to_route_id"),
        "from_stop_id"), "to_stop_id")
        .withColumn("from_trip_id",
          when(col("from_trip_id").isNotNull, prefixed(col("from_trip_id"))))
        .withColumn("to_trip_id",
          when(col("to_trip_id").isNotNull, prefixed(col("to_trip_id"))))
      val transfers = acc("transfers")
        .unionByName(freshIds(acc("transfers"), incTransfers0, "transfer_id"))

      // --- translations (merge.py:527-544): feed_info dropped, ids
      // remapped per table (conditional broadcast joins against the
      // rename maps — no collected when-chains), dedup on the UNIQUE
      // tuple preferring acc
      val incTrans = remapValueWhere(
        remapValueWhere(
          inc0("translations").filter(col("table_name") =!= "feed_info"),
          "record_id", col("table_name") === "routes", routeMap),
        "record_id", col("table_name") === "stops", stopMap)
        .withColumn("record_id",
          when(col("table_name").isin("trips", "stop_times") && col("record_id") =!= "",
            prefixed(col("record_id")))
            .otherwise(col("record_id")))
      val uniqueCols = Seq("table_name", "field_name", "language", "record_id",
        "record_sub_id", "field_value")
      val transAll = acc("translations").withColumn("__src", lit(0))
        .unionByName(freshIds(acc("translations"), incTrans, "translation_id")
          .withColumn("__src", lit(1)))
      val wTrans = Window.partitionBy(uniqueCols.map(col): _*).orderBy(col("__src"))
      val translations = transAll.withColumn("__rn", row_number().over(wTrans))
        .filter(col("__rn") === 1).drop("__src", "__rn")

      // --- extra table rows (merge.py:546-555)
      val extraRows = acc("extra_table_rows").unionByName(
        freshIds(acc("extra_table_rows"), inc0("extra_table_rows"), "extra_table_row_id"))

      // --- feed info collection (merge.py:557-567)
      if (!runtimeHasFeedInfo)
        feedInfos += inc0("feed_info").collect().headOption

      acc = acc.updatedAll(
        "agencies" -> agencies, "attributions" -> attributions,
        "routes" -> routes, "stops" -> stops,
        "calendars" -> calendars, "calendar_exceptions" -> calendarExceptions,
        "fare_attributes" -> fareAttributes, "fare_rules" -> fareRules,
        "shapes" -> shapes, "shape_points" -> shapePoints,
        "trips" -> trips, "stop_times" -> stopTimes,
        "frequencies" -> frequencies, "transfers" -> transfers,
        "translations" -> translations, "extra_table_rows" -> extraRows)
        .materialized("agencies", "attributions", "routes", "stops", "calendars",
          "fare_attributes", "shapes", "translations")
    }

    // --- FeedInfo fold (insert_feed_info, merge.py:569-583): only when
    // the runtime db had none and ALL merged feeds had one — first
    // one's attributes, versions joined.
    if (!runtimeHasFeedInfo && feedInfos.nonEmpty && feedInfos.forall(_.isDefined)) {
      val rows = feedInfos.map(_.get)
      val first = rows.head
      val version = rows.map(_.getAs[String]("version")).mkString(feedVersionSeparator)
      val schema = acc("feed_info").schema
      val newRow = org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map {
        case "version" => version
        case f => first.getAs[Any](f)
      })
      acc = acc.updated("feed_info",
        rt.spark.createDataFrame(java.util.List.of(newRow), schema))
    }
    acc
  }

  /** Rename `idCol` of `df` through a broadcast (old_id, new_id) map;
    * ids absent from the map pass through. */
  private def remap(df: DataFrame, idCol: String, map: DataFrame): DataFrame =
    df.join(
      broadcast(map.select(col("old_id").as(idCol), col("new_id").as(s"__new_$idCol"))),
      Seq(idCol), "left")
      .withColumn(idCol, coalesce(col(s"__new_$idCol"), col(idCol)))
      .drop(s"__new_$idCol")

  /** Conditional remap of `idCol` through the (old_id, new_id) map,
    * applied only to rows satisfying `rowCond` — a broadcast left join
    * on `rowCond && idCol = old_id`, so the map never leaves the
    * executors (merge.py ids_to_change is changed-ids only; no-op
    * old_id == new_id pairs are filtered out before the join). */
  private def remapValueWhere(
      df: DataFrame, idCol: String, rowCond: Column, map: DataFrame): DataFrame = {
    val renames = map.filter(col("old_id") =!= col("new_id"))
      .withColumnRenamed("old_id", "__remap_old")
      .withColumnRenamed("new_id", "__remap_new")
    df.join(broadcast(renames), rowCond && col(idCol) === col("__remap_old"), "left")
      .withColumn(idCol, coalesce(col("__remap_new"), col(idCol)))
      .drop("__remap_old", "__remap_new")
  }

  /** `inc` with freshly generated sequential surrogate ids continuing
    * after `cur`'s max (SQLite INTEGER PRIMARY KEY autoincrement
    * analogue). The max-id is a scalar collect; the numbering itself is
    * a distributed zipWithIndex (no single-partition window). */
  private def freshIds(cur: DataFrame, inc: DataFrame, idCol: String): DataFrame = {
    val maxId = cur.agg(coalesce(max(col(idCol)), lit(0L))).collect().head.getLong(0)
    graft.util.Ids.withRowIndex(inc, "__fresh_id", startAt = maxId + 1)
      .withColumn(idCol, col("__fresh_id"))
      .drop("__fresh_id")
  }

  /** Reference find_non_conflicting_id (tools/strings.py:73-91): for
    * each unmatched incoming id colliding with a used id, the lowest
    * free `id<sep>N`. Only the conflicting ids and their suffix
    * families are collected — conflicts are rare; everything else stays
    * distributed. Returns (old_id, new_id) pairs (renames only).
    *
    * Mirrors merge.py resolve_*_conflicts reservation semantics: the
    * free-suffix search runs against used ids UNION every unmatched
    * incoming id (a rename target must not collide with a
    * non-conflicting id arriving in the same feed), and each assigned
    * id is reserved before the next conflict is resolved. */
  private def resolveConflicts(
      incomingIds: DataFrame, usedIds: DataFrame, idCol: String,
      rt: TaskRuntime): DataFrame = {
    import rt.spark.implicits._
    val conflicts = incomingIds.join(usedIds, Seq(idCol), "left_semi")
      .collect().map(_.getString(0))
    if (conflicts.isEmpty) {
      return Seq.empty[(String, String)].toDF("old_id", "new_id")
    }
    val cond = conflicts.map(c =>
      col(idCol) === c || col(idCol).startsWith(c + separator)).reduce(_ || _)
    val reserved = usedIds.unionByName(incomingIds)
    val family = scala.collection.mutable.Set(
      reserved.filter(cond).collect().map(_.getString(0)): _*)
    val renames = conflicts.sorted.map { id =>
      val n = Iterator.from(1).find(i => !family.contains(s"$id$separator$i")).get
      val newId = s"$id$separator$n"
      family += newId
      (id, newId)
    }
    renames.toSeq.toDF("old_id", "new_id")
  }
}
