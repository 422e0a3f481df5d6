package graft.model

import org.apache.spark.sql.DataFrame

/** A foreign-key edge: rows of `child` reference `parent` via
  * `childCols` -> `parentCols`. Mirrors the reference's SQLite
  * `FOREIGN KEY ... ON DELETE CASCADE` declarations (e.g.
  * stop_time.py:55), which Spark has no equivalent for — cascades are
  * re-expressed as explicit semi-joins over this graph.
  */
final case class FkEdge(
    child: String,
    childCols: Seq[String],
    parent: String,
    parentCols: Seq[String])

/** The Spark analogue of the reference's whole SQLite database
  * (`DBConnection`, db.py): an immutable map of entity name ->
  * DataFrame. Every Task is a pure function FeedDataset => FeedDataset;
  * the mutable-DB semantics of the reference become dataflow.
  */
final case class FeedDataset(tables: Map[String, DataFrame], fkGraph: Seq[FkEdge]) {

  def apply(name: String): DataFrame = tables(name)
  def get(name: String): Option[DataFrame] = tables.get(name)
  def updated(name: String, df: DataFrame): FeedDataset =
    copy(tables = tables.updated(name, df))
  def updatedAll(kv: (String, DataFrame)*): FeedDataset =
    copy(tables = tables ++ kv)

  /** Cut the lineage of the named (small, dimension-sized) tables by
    * eager local checkpoint. Multi-step tasks that rewrite the same
    * dimension repeatedly (Merge, once per merged feed) MUST do this
    * between steps: Catalyst analyzes logical plans as trees, so a
    * chain of rewrites over shared, ever-deepening subplans blows up
    * tree size exponentially. Each checkpoint is at least one Spark job
    * and re-runs the table's whole lazy lineage, so a task that only
    * decides which rows survive should checkpoint narrow key frames
    * instead and cascade once at the end (RemoveUnusedEntities,
    * [[withShrunk]]). Fact tables (stop_times at 100 TB) are
    * deliberately NOT checkpointed — they stay lazy chains of
    * broadcast semi-joins against the flat checkpointed dimensions. */
  def materialized(names: String*): FeedDataset =
    copy(tables = names.foldLeft(tables) { (t, n) =>
      t.updated(n, t(n).localCheckpoint(true))
    })

  /** Replace `name` with `df` and drop orphaned children transitively,
    * emulating SQLite's `ON DELETE CASCADE` (SURVEY §1.4). For one
    * deletion; a task that deletes from several tables in turn should
    * decide them all first and call [[withShrunk]] once.
    *
    * Scale notes: each cascade step is one `left_semi` join on the FK
    * key — shuffle-free when the parent side is small enough for a
    * broadcast (Catalyst/AQE decides), and a plain shuffled semi-join
    * otherwise. Children are processed in BFS order over the FK graph so
    * multi-parent children (e.g. lineitem -> orders AND supplier) are
    * semi-joined against every retained parent exactly once per edge.
    */
  def withCascade(name: String, df: DataFrame): FeedDataset = {
    var acc: Map[String, DataFrame] = tables.updated(name, df)
    // BFS from the updated table; a child may be revisited if several of
    // its parents shrank. Each edge is applied at most twice so the
    // stops self-FK (parent_station) terminates: GTFS's place hierarchy
    // is at most two levels (station -> stop/exit), and unbounded
    // re-queueing would grow the logical plan exponentially.
    val applied = scala.collection.mutable.Map.empty[FkEdge, Int].withDefaultValue(0)
    var frontier: List[String] = List(name)
    var guard = 0
    while (frontier.nonEmpty && guard < 256) {
      guard += 1
      val parent = frontier.head
      frontier = frontier.tail
      // One distinct-key build per (parent, key columns) per BFS pop,
      // materialized: a parent with several outgoing edges on the same
      // key (nation -> customer AND supplier, trips -> stop_times /
      // frequencies / transfers) would otherwise re-derive — and at run
      // time re-EXECUTE — its whole shrink chain once per edge, because
      // the lazy key-set plan nests every upstream cascade join. The
      // checkpoint caps the plan at one level per BFS step; key sets
      // are retained-dimension-key-sized, never fact-sized. Safe to
      // memoize within a pop: acc(parent) only changes mid-pop via a
      // self-FK edge, which invalidates the memo below.
      val keySets = scala.collection.mutable.Map.empty[Seq[String], DataFrame]
      fkGraph.filter(e => e.parent == parent && applied(e) < 2).foreach { e =>
        applied(e) += 1
        acc.get(e.child).foreach { child =>
          import org.apache.spark.sql.functions.col
          val parentKeys = keySets.getOrElseUpdate(e.parentCols, {
            acc(e.parent)
              .select(e.parentCols.map(col): _*).distinct()
              .localCheckpoint(true)
          })
          acc = acc.updated(e.child, FeedDataset.keepReferencing(child, e.childCols, parentKeys))
          // a self-FK edge just shrank the table we're popping — the
          // memoized key sets are stale for the remaining edges
          if (e.child == parent) keySets.clear()
          if (!frontier.contains(e.child)) frontier = frontier :+ e.child
        }
      }
    }
    copy(tables = acc)
  }

  /** Keep only the rows of each table of `kept` whose key is in its key
    * frame, and filter every other table once against its final
    * parents — the net effect of `ON DELETE CASCADE` after several
    * deletions.
    *
    * A key frame holds the key columns of the table's surviving rows,
    * each key once, with every cascade among the kept tables (their
    * self-FKs included) already applied; their own FK edges are not
    * re-applied. Every other table with a kept or filtered parent is
    * filtered against each such parent, parents first, in one lazy pass;
    * a kept parent supplies its keys from its (small, usually
    * checkpointed) key frame rather than from its full table. Filtering
    * a child once against its final parent equals filtering it against
    * each of the parent's intermediate states, because a parent only
    * shrinks and NULL FKs are kept throughout. Edges from unchanged
    * parents are not applied, and a self-FK of a table not in `kept` is
    * ignored. Parent key columns must be keys of the parent (GTFS FKs
    * reference primary keys), since [[FeedDataset.keepReferencing]]
    * needs them unique. */
  def withShrunk(kept: Map[String, DataFrame]): FeedDataset = {
    import org.apache.spark.sql.functions.col
    var acc = tables ++ kept.map { case (t, keys) =>
      t -> tables(t).join(keys, keys.columns.toSeq, "left_semi")
    }
    val changed = scala.collection.mutable.Set(kept.keys.toSeq: _*)
    def keysOf(e: FkEdge): DataFrame =
      kept.getOrElse(e.parent, acc(e.parent)).select(e.parentCols.map(col): _*)
    val edges = fkGraph.filter(e => !kept.contains(e.child) && e.child != e.parent)
      .groupBy(_.child)
    var pending = edges.keySet
    while (pending.nonEmpty) {
      val ready = pending.filter(c => edges(c).forall(e => !pending.contains(e.parent)))
      require(ready.nonEmpty, s"FK graph has a cycle through ${pending.mkString(", ")}")
      for (c <- ready; child <- acc.get(c)) {
        val live = edges(c).filter(e => changed(e.parent) && acc.contains(e.parent))
        if (live.nonEmpty) {
          acc = acc.updated(c, live.foldLeft(child) { (df, e) =>
            FeedDataset.keepReferencing(df, e.childCols, keysOf(e))
          })
          changed += c
        }
      }
      pending --= ready
    }
    copy(tables = acc)
  }
}

object FeedDataset {
  /** Rows of `child` whose FK `childCols` are NULL or match a row of
    * `parentKeys` (the parent key columns, in `childCols` order, each
    * key at most once) — one FK edge of a cascade.
    *
    * SQLite FK semantics: a NULL FK references nothing and is never
    * cascaded, so those rows are kept unconditionally. The parent key
    * columns are renamed so self-FK edges (stops.parent_station ->
    * stops.stop_id) don't trip Spark's ambiguous-self-join detection.
    * The child plan appears exactly ONCE — a filter/union split would
    * copy the child subtree per edge and grow the logical plan
    * exponentially across multi-FK tables like transfers. */
  def keepReferencing(child: DataFrame, childCols: Seq[String], parentKeys: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val renamed = parentKeys.columns.toSeq.map(pc => s"__cascade_$pc")
    val keys = parentKeys.toDF(renamed: _*).withColumn("__cascade_hit", lit(1))
    val cond = childCols.zip(renamed).map { case (cc, pc) => col(cc) === col(pc) }.reduce(_ && _)
    val anyNull = childCols.map(col(_).isNull).reduce(_ || _)
    child.join(keys, cond, "left")
      .filter(anyNull || col("__cascade_hit").isNotNull)
      .drop((renamed :+ "__cascade_hit"): _*)
  }

  /** FK graph of the 16-table GTFS model, dependency edges from SURVEY
    * §1.2 (DDL cites per entity). */
  val gtfsFkGraph: Seq[FkEdge] = Seq(
    FkEdge("routes", Seq("agency_id"), "agencies", Seq("agency_id")),
    FkEdge("fare_attributes", Seq("agency_id"), "agencies", Seq("agency_id")),
    FkEdge("fare_rules", Seq("fare_id"), "fare_attributes", Seq("fare_id")),
    FkEdge("fare_rules", Seq("route_id"), "routes", Seq("route_id")),
    FkEdge("calendar_exceptions", Seq("calendar_id"), "calendars", Seq("calendar_id")),
    FkEdge("stops", Seq("parent_station"), "stops", Seq("stop_id")),
    FkEdge("trips", Seq("route_id"), "routes", Seq("route_id")),
    FkEdge("trips", Seq("calendar_id"), "calendars", Seq("calendar_id")),
    FkEdge("trips", Seq("shape_id"), "shapes", Seq("shape_id")),
    FkEdge("stop_times", Seq("trip_id"), "trips", Seq("trip_id")),
    FkEdge("stop_times", Seq("stop_id"), "stops", Seq("stop_id")),
    FkEdge("frequencies", Seq("trip_id"), "trips", Seq("trip_id")),
    FkEdge("shape_points", Seq("shape_id"), "shapes", Seq("shape_id")),
    FkEdge("transfers", Seq("from_stop_id"), "stops", Seq("stop_id")),
    FkEdge("transfers", Seq("to_stop_id"), "stops", Seq("stop_id")),
    FkEdge("transfers", Seq("from_route_id"), "routes", Seq("route_id")),
    FkEdge("transfers", Seq("to_route_id"), "routes", Seq("route_id")),
    FkEdge("transfers", Seq("from_trip_id"), "trips", Seq("trip_id")),
    FkEdge("transfers", Seq("to_trip_id"), "trips", Seq("trip_id")))

  /** FK graph of the driver's TPC-H-ish synthetic tables (TESTDATA.md),
    * used by the cascade-delete demonstration query. */
  val tpchFkGraph: Seq[FkEdge] = Seq(
    FkEdge("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")),
    FkEdge("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey")),
    FkEdge("supplier", Seq("s_nationkey"), "nation", Seq("n_nationkey")),
    FkEdge("orders", Seq("o_custkey"), "customer", Seq("c_custkey")),
    FkEdge("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey")),
    FkEdge("lineitem", Seq("l_suppkey"), "supplier", Seq("s_suppkey")))
}
