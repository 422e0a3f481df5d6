package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization and URL-keyed deduplication — the first pass
  * of every web-crawl curation pipeline (the same page is fetched as
  * `HTTP://WWW.Example.COM:80/a/?utm_source=x` and
  * `http://example.com/a`; without canonicalization, content dedup
  * pays a full text comparison for what a key normalization solves).
  *
  * Everything here is a NARROW codegen'd string expression — zero
  * shuffle for canonicalization, one hash-keyed shuffle for the dedup
  * itself — and every primitive (instr/substr/lower/regexp/array ops)
  * is engine-portable so the DuckDB oracle reproduces it byte for
  * byte.
  */
object Urls {

  /** Query parameters dropped during canonicalization: click/campaign
    * trackers that never change the fetched content. */
  val TrackingParams: Seq[String] = Seq("utm_[A-Za-z]+", "fbclid", "gclid", "ref")

  private val trackingRe = s"^(${TrackingParams.mkString("|")})="

  /** Canonicalize an absolute `scheme://host[:port][/path][?query][#frag]`
    * URL:
    *
    *   - fragment dropped (never sent to the server),
    *   - scheme and host lowercased, a leading `www.` and the
    *     scheme's default port (`:80` / `:443`) dropped,
    *   - tracking parameters ([[TrackingParams]]) removed, remaining
    *     query parameters SORTED (param order is almost always
    *     insignificant; sorting merges permutations),
    *   - trailing path slash dropped, empty path becomes `/`.
    *
    * Expects well-formed absolute URLs (no userinfo, no relative
    * refs) — the crawl-frontier shape. Malformed strings pass through
    * mostly unchanged rather than erroring: this runs inside a map
    * over billions of rows, where one bad row must not kill a stage.
    *
    * This Column spelling is for composability on SMALL frames; on
    * bulk data use [[withCanonicalUrl]] — the identical chain staged
    * through materialized aliases, which Catalyst would otherwise
    * inline combinatorially here (each intermediate re-evaluated at
    * every textual reference). */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*", "")
    val sep = instr(u, "://")
    val scheme = lower(substring(u, lit(1), sep - 1))
    val rest = substring(u, sep + 3, length(u))
    // authority ends at the first '/' or '?' (query-without-path URLs
    // like host?a=1 are legal), else runs to the end
    val slash = instr(rest, "/")
    val qm = instr(rest, "?")
    val hostEnd =
      when(slash > 0 && (qm === 0 || slash < qm), slash)
        .when(qm > 0, qm)
        .otherwise(length(rest) + 1)
    val rawHost = lower(substring(rest, lit(1), hostEnd - 1))
    val noWww = regexp_replace(rawHost, "^www\\.", "")
    val host =
      when(scheme === "http", regexp_replace(noWww, ":80$", ""))
        .when(scheme === "https", regexp_replace(noWww, ":443$", ""))
        .otherwise(noWww)
    val tail = substring(rest, hostEnd, length(rest))
    val tq = instr(tail, "?")
    val rawPath = when(tq > 0, substring(tail, lit(1), tq - 1)).otherwise(tail)
    val rawQuery = when(tq > 0, substring(tail, tq + 1, length(tail))).otherwise(lit(""))
    val noSlash = regexp_replace(rawPath, "/+$", "")
    val path = when(noSlash === "", "/").otherwise(noSlash)
    val params = array_sort(filter(split(rawQuery, "&"),
      p => p =!= "" && !p.rlike(trackingRe)))
    val query = array_join(params, "&")
    // a scheme-less string (instr = 0) must pass through, not have its
    // first two characters eaten by the `sep + 3` arithmetic — two
    // DIFFERENT malformed URLs would otherwise collapse onto one key
    when(sep === 0, u).otherwise(
      concat(scheme, lit("://"), host, path,
        when(query === "", "").otherwise(concat(lit("?"), query))))
  }

  /** `substring(col, startCol, len)` is literal-only in the public API;
    * `Column.substr` takes columns. */
  private def substring(c: Column, start: Column, len: Column): Column =
    c.substr(start, len)

  /** [[canonicalizeUrl]] as a STAGED projection chain — the form to
    * use on bulk data. The single-Column spelling textually inlines
    * every intermediate (`rest` appears inside `hostEnd` which appears
    * inside `host` and `tail`...), exploding into a plan where the
    * fragment-strip regexp alone is re-evaluated dozens of times per
    * row (measured 3x slower end-to-end on the sf0.1 dedup query).
    * Here each intermediate is a NON-CHEAP alias referenced more than
    * once, which `CollapseProject` deliberately keeps materialized, so
    * every stage computes once per row. Still narrow — zero shuffle,
    * one codegen'd pipeline. */
  def withCanonicalUrl(
      df: DataFrame, urlCol: String, outCol: String = "canonical_url"): DataFrame = {
    requireNoStagingColumns(df)
    val u = col("__u"); val rest = col("__rest"); val scheme = col("__scheme")
    val hostEnd = col("__hostEnd"); val tail = col("__tail"); val tq = col("__tq")
    val rawPath = col("__rawPath"); val noSlash = col("__noSlash")
    val staged = df
      .withColumn("__u", regexp_replace(col(urlCol), "#.*", ""))
      .withColumn("__sep", instr(u, "://"))
      .withColumn("__scheme", lower(substring(u, lit(1), col("__sep") - 1)))
      .withColumn("__rest", substring(u, col("__sep") + 3, length(u)))
      .withColumn("__slash", instr(rest, "/"))
      .withColumn("__qm", instr(rest, "?"))
      .withColumn("__hostEnd",
        when(col("__slash") > 0 && (col("__qm") === 0 || col("__slash") < col("__qm")),
          col("__slash"))
          .when(col("__qm") > 0, col("__qm"))
          .otherwise(length(rest) + 1))
      .withColumn("__noWww",
        regexp_replace(lower(substring(rest, lit(1), hostEnd - 1)), "^www\\.", ""))
      .withColumn("__host",
        when(scheme === "http", regexp_replace(col("__noWww"), ":80$", ""))
          .when(scheme === "https", regexp_replace(col("__noWww"), ":443$", ""))
          .otherwise(col("__noWww")))
      .withColumn("__tail", substring(rest, hostEnd, length(rest)))
      .withColumn("__tq", instr(tail, "?"))
      .withColumn("__rawPath", when(tq > 0, substring(tail, lit(1), tq - 1)).otherwise(tail))
      .withColumn("__noSlash", regexp_replace(rawPath, "/+$", ""))
      .withColumn("__query", array_join(array_sort(filter(
        split(when(tq > 0, substring(tail, tq + 1, length(tail))).otherwise(lit("")), "&"),
        p => p =!= "" && !p.rlike(trackingRe))), "&"))
      .withColumn(outCol,
        // scheme-less strings pass through (see canonicalizeUrl)
        when(col("__sep") === 0, u).otherwise(
          concat(scheme, lit("://"), col("__host"),
            when(noSlash === "", "/").otherwise(noSlash),
            when(col("__query") === "", "").otherwise(concat(lit("?"), col("__query"))))))
    staged.drop(staged.columns.filter(_.startsWith("__")): _*)
  }

  /** URL-keyed dedup: one row per canonical URL with the duplicate
    * count and the smallest id (the kept fetch). One shuffle on the
    * canonical-URL hash with map-side partial aggregation — the q24
    * exact-dedup shape with the (staged) canonicalization fused into
    * the key. */
  def dedupByUrl(df: DataFrame, urlCol: String, idCol: String): DataFrame =
    withCanonicalUrl(df, urlCol)
      .groupBy("canonical_url")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** The staged helpers build (and then drop) `__`-prefixed
    * intermediates — an input already carrying such a column would be
    * silently overwritten and removed, so fail loudly instead. */
  private def requireNoStagingColumns(df: DataFrame): Unit = {
    val clash = df.columns.filter(_.startsWith("__"))
    require(clash.isEmpty,
      s"input columns collide with staging names (rename them first): ${clash.mkString(", ")}")
  }

  /** Canonical host + label array as `__sep`/`__host`/`__labels`
    * staging columns (host lowercased, `www.` and ANY port dropped) —
    * shared by the two [[withDomain]] spellings. */
  private def withHostLabels(df: DataFrame, urlCol: String): DataFrame = {
    requireNoStagingColumns(df)
    val u = col("__u"); val rest = col("__rest")
    df
      .withColumn("__u", regexp_replace(col(urlCol), "#.*", ""))
      .withColumn("__sep", instr(u, "://"))
      .withColumn("__rest", substring(u, col("__sep") + 3, length(u)))
      .withColumn("__slash", instr(rest, "/"))
      .withColumn("__qm", instr(rest, "?"))
      .withColumn("__hostEnd",
        when(col("__slash") > 0 && (col("__qm") === 0 || col("__slash") < col("__qm")),
          col("__slash"))
          .when(col("__qm") > 0, col("__qm"))
          .otherwise(length(rest) + 1))
      .withColumn("__host", regexp_replace(regexp_replace(
        lower(substring(rest, lit(1), col("__hostEnd") - 1)),
        "^www\\.", ""), ":[0-9]+$", ""))
      .withColumn("__labels", split(col("__host"), "\\."))
  }

  /** Registrable-domain approximation into `outCol`: the canonical
    * host (lowercased, `www.` and ANY port dropped) reduced to its
    * last two dot-labels. Deliberately public-suffix-list-free —
    * `shop.example.co.uk` yields `co.uk`, which under-merges nothing
    * and over-merges ccSLD sites; thread a PSL-backed column in place
    * of this one when exactness matters. Narrow, staged like
    * [[withCanonicalUrl]]. */
  def withDomain(df: DataFrame, urlCol: String, outCol: String = "domain"): DataFrame = {
    val staged = withHostLabels(df, urlCol)
      .withColumn(outCol,
        // scheme-less (or NULL) input has no parseable authority —
        // domain NULL, never a chopped-prefix pseudo-domain
        when(col("__sep") === 0, lit(null).cast("string"))
          .when(size(col("__labels")) <= 2, col("__host"))
          .otherwise(array_join(
            slice(col("__labels"), size(col("__labels")) - 1, lit(2)), ".")))
    staged.drop(staged.columns.filter(_.startsWith("__")): _*)
  }

  /** PSL-backed [[withDomain]]: registrable domain = the host's
    * LONGEST suffix present in `suffixes` (a one-string-column public
    * suffix table — `co.uk`, `com.au`, `com`, ... — the caller loads
    * however much of the list their crawl needs) plus one more label.
    * Hosts matching NO suffix fall back to the last-two-labels
    * heuristic; a host that IS a bare public suffix has no registrable
    * domain (NULL).
    *
    * Shape: no explode, no row key — the host's last-k-label strings
    * (k up to the table's deepest suffix, a driver-side scalar off a
    * dimension table) each broadcast-equi-join the suffix table once,
    * and the deepest hit wins via coalesce. K narrow broadcast joins,
    * zero shuffle of the corpus. Plain suffix rules only: the PSL's
    * wildcard (`*.ck`) and exception (`!www.ck`) rules are out of
    * scope, documented — they are a handful of entries that a caller
    * can pre-expand into plain rows if their crawl hits those ccTLDs. */
  def withDomain(
      df: DataFrame, urlCol: String, suffixes: DataFrame,
      outCol: String): DataFrame = {
    val suffixCol = suffixes.columns.headOption.getOrElse(
      sys.error("suffix table must have a string column"))
    // deepest suffix in the table bounds the join count — a bounded
    // dimension-table scalar (the full PSL tops out at 5 labels)
    val maxDepth = suffixes
      .agg(max(size(split(col(suffixCol), "\\.")))).head().getInt(0)
    require(maxDepth >= 1, "suffix table is empty")
    val labeled = withHostLabels(df, urlCol)
      .withColumn("__n", size(col("__labels")))
    val withCands = (1 to maxDepth).foldLeft(labeled) { (acc, k) =>
      acc.withColumn(s"__cand$k",
        when(col("__n") >= k,
          array_join(slice(col("__labels"), col("__n") - (k - 1), lit(k)), ".")))
    }
    val joined = (1 to maxDepth).foldLeft(withCands) { (acc, k) =>
      acc.join(
        broadcast(suffixes.select(col(suffixCol).as(s"__sfx$k")).distinct()),
        col(s"__cand$k") === col(s"__sfx$k"), "left")
    }
    // deepest hit wins: ascending fold wraps the deepest test OUTERMOST
    // (coalesce evaluates outside-in); matched depth d needs d+1 labels
    // for a registrable domain
    val matchedDepth = (1 to maxDepth).foldLeft(lit(null).cast("int")) {
      (acc, k) => coalesce(when(col(s"__sfx$k").isNotNull, lit(k)), acc)
    }
    val staged = joined
      .withColumn("__depth", matchedDepth)
      .withColumn(outCol,
        when(col("__sep") === 0, lit(null).cast("string"))
          .when(col("__depth").isNotNull && col("__n") > col("__depth"),
            array_join(slice(col("__labels"),
              col("__n") - col("__depth"), col("__depth") + 1), "."))
          .when(col("__depth").isNotNull, lit(null).cast("string"))
          .when(col("__n") <= 2, col("__host"))
          .otherwise(array_join(
            slice(col("__labels"), col("__n") - 1, lit(2)), ".")))
    staged.drop(staged.columns.filter(_.startsWith("__")): _*)
  }

  /** Per-domain quota cap — the anti-spam pass of a crawl curation
    * pipeline: at most `maxPerDomain` documents survive per domain,
    * chosen DETERMINISTICALLY (smallest [[Sampling.hashUnit]] of the
    * id, ties by id — membership is stable across runs and as other
    * domains grow). Emits the domain, the domain's total count and a
    * 0/1 `domain_kept`.
    *
    * Skew-aware shape: domain counts are one map-side-combined
    * aggregate; domains UNDER the cap (the overwhelming majority — a
    * real corpus's domain histogram is long-tailed) keep all rows and
    * never enter a window. Only rows of over-cap domains are ranked,
    * in a window partitioned by domain, so the sort input shrinks to
    * the spam/mega-domains themselves. The under/over split consumes
    * the parsed input twice — a deliberate trade: two narrow scans
    * cost less than the single-pass alternative, which windows (sorts)
    * EVERY domain's rows including the long tail; persist the input
    * upstream if it is expensive to recompute.
    *
    * `preFilterFactor` (the 100 TB knob): without it, one pathological
    * domain holding half the corpus still ranks in ONE window task.
    * With `Some(c)` (c > 1), rows of over-cap domains whose
    * [[Sampling.hashUnit]] is at or above `c * cap / count` are cut
    * from the window input BEFORE ranking — they re-enter the output
    * as `domain_kept = 0`, never sorted. The result stays EXACT, not
    * probabilistic: hashUnit is uniform, so a domain's cap-th smallest
    * hash sits near `cap / count` and `c` of 4–8 leaves the window a
    * small multiple of the cap; the rare domain whose survivor count
    * still falls short of the cap (possible — hashes cluster) is
    * detected by a per-domain survivor count and ranked over its FULL
    * row set, so no row that belongs in the top `cap` can be lost. */
  def capPerDomain(
      df: DataFrame, urlCol: String, idCol: String,
      maxPerDomain: Long,
      preFilterFactor: Option[Double] = None): DataFrame = {
    require(maxPerDomain >= 1, s"maxPerDomain must be >= 1, got $maxPerDomain")
    preFilterFactor.foreach(c => require(c > 1.0,
      s"preFilterFactor must be > 1 (margin over the expected cap-th hash), got $c"))
    val withDom = withDomain(df, urlCol)
    // null-SAFE join back: unparseable URLs get a NULL domain, which
    // groupBy keeps as its own group but a plain equi-join would drop —
    // the operator's contract is one output row per input row, and the
    // null-domain bucket is capped like any other (it is exactly the
    // junk a cap exists to bound)
    val counts = withDom.groupBy("domain").agg(count(lit(1)).as("domain_count"))
      .withColumnRenamed("domain", "__cdomain")
    val joined = withDom.join(counts, col("domain") <=> col("__cdomain"))
      .drop("__cdomain")
    val under = joined.filter(col("domain_count") <= maxPerDomain)
      .withColumn("domain_kept", lit(1))
    val over = joined.filter(col("domain_count") > maxPerDomain)
    val ranked = preFilterFactor match {
      case None    => rankOverCap(over, idCol, maxPerDomain)
      case Some(c) =>
        val pre = preWindowSplit(over, idCol, maxPerDomain, c)
        // survivor-deficient domains (survivors < cap) rank their FULL
        // row set — exactness; everyone else ranks survivors only and
        // the cut rows come back unranked as kept = 0
        val staging = Seq("__h", "__deficient", "__precount", "__factor")
        val full = rankOverCap(
          pre.filter(col("__deficient")).drop(staging: _*),
          idCol, maxPerDomain)
        val survivors = rankOverCap(
          pre.filter(!col("__deficient") && col("__h") < preThreshold(maxPerDomain))
            .drop(staging: _*),
          idCol, maxPerDomain)
        val cut = pre
          .filter(!col("__deficient") && col("__h") >= preThreshold(maxPerDomain))
          .drop(staging: _*)
          .withColumn("domain_kept", lit(0))
        full.unionByName(survivors).unionByName(cut)
    }
    under.unionByName(ranked)
  }

  /** Rank an over-cap subset: smallest `hashUnit(id)` first, ties by
    * id — deterministic, stable across runs. */
  private def rankOverCap(over: DataFrame, idCol: String, cap: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("domain")
      .orderBy(Sampling.hashUnit(col(idCol)), col(idCol))
    over
      .withColumn("__rk", row_number().over(w))
      .withColumn("domain_kept", (col("__rk") <= cap).cast("int"))
      .drop("__rk")
  }

  /** The per-row hash-threshold: `c * cap / domain_count`, capped at 1
    * (small over-cap domains keep everything in the window). Assumes
    * `__factor` is in scope as a literal via [[preWindowSplit]]. */
  private def preThreshold(cap: Long): Column =
    least(lit(1.0), col("__factor") * lit(cap.toDouble) / col("domain_count"))

  /** Annotate the over-cap subset with its hash (`__h`), the pre-filter
    * survivor count per domain (`__precount`) and the deficiency flag.
    * `private[ops]` so the spec can assert the window input really is
    * bounded for a pathological domain. */
  private[ops] def preWindowSplit(
      over: DataFrame, idCol: String, cap: Long, c: Double): DataFrame = {
    val withH = over
      .withColumn("__factor", lit(c))
      .withColumn("__h", Sampling.hashUnit(col(idCol)))
    val preCounts = withH.filter(col("__h") < preThreshold(cap))
      .groupBy("domain").agg(count(lit(1)).as("__precount"))
      .withColumnRenamed("domain", "__pdomain")
    withH.join(preCounts, col("domain") <=> col("__pdomain"), "left")
      .drop("__pdomain")
      .withColumn("__deficient",
        col("__precount").isNull || col("__precount") < cap)
  }
}
