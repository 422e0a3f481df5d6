package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One verifiable operator demonstration: a Spark query over the
  * driver's synthetic tables plus (where SQL-expressible) an equivalent
  * DuckDB oracle query. `bench = true` marks headline queries timed by
  * `graft.Bench`. `benchPrepare`/`benchFn` let a query whose correctness
  * form synthesizes its own input (e.g. q71's messy-URL variants) move
  * that synthesis OUT of the timed region: the bench harness runs
  * `benchPrepare` once untimed (materialize input), then times `benchFn`
  * (the operator alone). Verify always uses `fn`, so the oracle hash is
  * untouched by the split. */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    benchPrepare: Option[(SparkSession, String) => Unit] = None,
    benchFn: Option[(SparkSession, String) => DataFrame] = None)

object QueryDef {

  /** Final presentation sort for the oracle harness. A plain `orderBy`
    * range-partitions, and computing the range bounds SAMPLES the child
    * plan — the (often expensive) upstream executes twice. Verification
    * outputs are small, so one shuffle to a single partition + an
    * in-partition sort yields the identical total order in ONE pass.
    * Presentation-only: a production 100 TB sink would not globally
    * sort at all. */
  implicit class OracleOrder(private val df: DataFrame) extends AnyVal {
    def oracleOrderBy(cols: String*): DataFrame =
      df.repartition(1).sortWithinPartitions(cols.map(col): _*)
  }
  /** Prefix for DuckDB oracle SQLs whose evaluation materializes
    * corpus-scaled intermediate state (the q183/q194 id-gram joins:
    * every 20-gram of every document as a concatenated string). On a
    * loaded host DuckDB's default budget (80 % of physical RAM, most
    * of it already taken by neighbours) OOMs the oracle into an `err`
    * — the r14 q183 failure — even though the SQL itself is fine. A
    * fixed memory_limit plus a temp_directory makes the oracle degrade
    * to out-of-core SLOW instead of dying. DuckDB's Python API runs
    * multi-statement strings and returns the last statement's result
    * (verified against con.execute / duckdb.sql / fetchdf), so the
    * PRAGMA prefix is transparent to the driver's compare. Sized for a
    * SHARED long-lived connection (the checker runs every oracle on
    * one con, so the limit persists and must also cover buffers held
    * from the ~200 prior queries): q183 needs <16 GB standalone but a
    * 16 GB cap starved it mid-suite; 48 GB is comfortable while still
    * bounded far below the 80 %-of-RAM default that dies on a loaded
    * host. */
  def memBound(sql: String): String =
    "PRAGMA memory_limit='48GB'; " +
      "PRAGMA temp_directory='/tmp/graft_duckdb_spill.tmp'; " + sql

  /** The events table stores TIMESTAMP(NANOS), which Spark only reads
    * as raw int64 with this conf set — parquet footer reading fails
    * otherwise, even for queries that never touch `ts`. Entry points
    * (Bench/Verify/tools/test harness) set it at session build; query
    * functions never mutate session state. */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Per-JVM scratch location for a persisted index keyed to a corpus
    * dir. The key is the corpus path's sanitized BASENAME plus a
    * SHA-256 prefix of the FULL path — two distinct dirs can never
    * map to one location (the old `hashCode` hex could collide, and
    * the per-JVM build-once memo would then silently serve the first
    * corpus's index to the second) — plus the JVM's pid, so
    * concurrent JVMs pointed at the same corpus never race one
    * directory (the build memos are per-JVM anyway; sharing the path
    * across processes was never sound). */
  def idxScratchDir(kind: String, dir: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val base = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_" +
      s"${ProcessHandle.current().pid()}_${base}_$sha"
    // lifecycle: this JVM's pid-keyed dirs die with it (one shutdown
    // hook deletes every dir handed out), and the FIRST call also
    // sweeps siblings left by DEAD pids (a crashed/killed prior run
    // never reaches its own hook) — without either, every JVM on a
    // shared/CI host leaks its index builds into java.io.tmpdir
    // forever. Live foreign pids are never touched, and neither is
    // any dir this harness did not hand out: every path gets a
    // SIBLING `<path>.owned` marker (sibling, not inside — merge/build
    // consumers require the dir itself not to exist yet), and the
    // sweep only ever deletes marker-carrying dirs. A name that merely
    // pattern-matches `graft_<word>_<digits>_*` but belongs to someone
    // else has no marker and is left alone.
    if (scratchDirs.add(p)) {
      try new java.io.File(p + OwnedMarkerSuffix).createNewFile()
      catch { case scala.util.control.NonFatal(_) => false } // best-effort
      if (scratchHooked.compareAndSet(false, true)) {
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          scratchDirs.forEach { d =>
            val dir = new java.io.File(d)
            deleteScratch(dir)
            // marker only once the dir is confirmed gone — a partial
            // delete must stay visible to a later sweep's retry
            if (!dir.exists())
              deleteScratch(new java.io.File(d + OwnedMarkerSuffix))
          }))
        sweepDeadPidScratch()
      }
    }
    p
  }

  private[queries] val OwnedMarkerSuffix = ".owned"

  private val scratchDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val scratchHooked =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private def deleteScratch(f: java.io.File): Unit = {
    try {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteScratch))
      f.delete()
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort
    ()
  }

  /** Delete `graft_<kind>_<pid>_…` scratch dirs whose pid is no longer
    * alive AND that carry this harness's `<path>.owned` sibling marker
    * (written at hand-out; a foreign dir that happens to match the
    * name pattern is never touched — the deliberate trade: dirs leaked
    * by PRE-marker versions of this code, or whose best-effort marker
    * write failed, are never reclaimed either and need one manual
    * sweep; safety against deleting someone else's data wins) —
    * exposed for the spec; called once per JVM from [[idxScratchDir]].
    * The marker is removed only AFTER the dir is confirmed gone: a
    * partially-deletable dir (held-open file, permission error on one
    * child) keeps its marker so the next sweep retries, instead of
    * becoming a permanently unsweepable leftover. */
  private[queries] def sweepDeadPidScratch(): Unit = {
    val re = "^graft_[A-Za-z0-9]+_([0-9]+)_.*".r
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val self = ProcessHandle.current().pid()
    Option(tmp.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName.stripSuffix(OwnedMarkerSuffix) match {
        case re(pid) if pid.toLong != self &&
            !ProcessHandle.of(pid.toLong).isPresent &&
            new java.io.File(
              f.getPath.stripSuffix(OwnedMarkerSuffix) + OwnedMarkerSuffix
            ).exists() =>
          val dir = new java.io.File(f.getPath.stripSuffix(OwnedMarkerSuffix))
          deleteScratch(dir)
          if (!dir.exists())
            deleteScratch(new java.io.File(dir.getPath + OwnedMarkerSuffix))
        case _ => ()
      }
    }
  }

  /** Read one synthetic table (TESTDATA.md layout). */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // The synthetic files are written as a single parquet row group, so
    // the scan yields ONE partition no matter how it is split — the
    // md5/codec-heavy text and vector pipelines would run on one core.
    // Hash-repartitioning these small tables by their key costs a tiny
    // shuffle (that the downstream per-key groupBy would pay anyway)
    // and restores full parallelism; the big fact tables are left
    // untouched — at real scale their parallelism comes from file
    // splits and a blanket repartition would be a 100 TB shuffle.
    //
    // The partition COUNT is pinned (repartition(n, col), not
    // repartition(col)): AQE's partition coalescing is BYTE-based, and
    // these tables are small in bytes but dense in compute (BPE
    // tokenization, n-gram explodes, per-gram md5) — with an unpinned
    // count AQE folded the ~1.5 MB exchange back to 1–2 partitions and
    // the whole text family ran serially (q183 profile: 11 tasks,
    // taskSec ≈ wall on a 32-core host). AQE never coalesces a
    // user-specified count. n = defaultParallelism is scale-adaptive
    // (cores of whatever cluster runs this), never a baked constant;
    // 5000 keys over ≤ a few hundred partitions hash-spread fine.
    //
    // GATED ON SCAN LAYOUT (r17): the pin exists to recover
    // parallelism a single-row-group local file cannot provide. A
    // production-scale table arrives as MANY file splits — its scan
    // already parallelizes, and a blanket load-time
    // repartition(cores, key) there would be a full-corpus exchange
    // capped at core count (giant partitions, spill). When the scan
    // yields >= defaultParallelism partitions the loader returns it
    // untouched; the r16 verdict flagged the ungated form as
    // scale-wrong. (r17 A/B kept the pin for BOTH tables at bench
    // scale: unpinning embeddings moved the ANN family ≤ ±5% except
    // q85_semdedup, which got 35% SLOWER unpinned.)
    val n = s.sparkContext.defaultParallelism
    def spread(key: String): DataFrame =
      if (df.rdd.getNumPartitions >= n) df
      else df.repartition(n, col(key))
    name match {
      case "documents"  => spread("doc_id")
      case "embeddings" => spread("vec_id")
      case _            => df
    }
  }
}
