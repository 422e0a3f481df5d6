package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QueryDef._

/** Training-data text operators over the `documents` table: exact and
  * near dedup (minhash/LSH, simhash, jaccard), token/quality/lang-id
  * analysis, fingerprinting. All oracle formulas are built from
  * engine-portable primitives (md5, replace, split, instr) so DuckDB
  * reproduces Spark bit-for-bit.
  */
object TextQueries {

  /** Distinct lowercase whitespace-split words per doc (Spark side). */
  private def words(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      explode(array_distinct(split(trim(lower(col("text"))), "\\s+"))).as("w"))

  private[queries] val wordsSqlDuck =
    """SELECT DISTINCT doc_id, w FROM (
         SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')) AS w
         FROM documents)"""

  /** Exact dedup by content hash (hash-groupBy; at 100 TB this is one
    * shuffle on a 128-bit key with map-side partial aggregation). */
  val q24 = QueryDef(
    "q24_dedup_exact",
    (s, dir) => {
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("fingerprint"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_doc_id"))
        .oracleOrderBy("fingerprint")
    },
    Some("""SELECT md5(text) AS fingerprint, count(*) AS n_dups, min(doc_id) AS keep_doc_id
      FROM documents GROUP BY md5(text) ORDER BY fingerprint"""),
    bench = true)

  /** Whitespace token counting (§ text analysis). */
  val q25 = QueryDef(
    "q25_token_count",
    (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
          col("n_chars"))
        .oracleOrderBy("doc_id")
    },
    Some("""SELECT doc_id, CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
        n_chars
      FROM documents ORDER BY doc_id"""))

  /** Quality scoring: length / avg word length / stopword-ish ratio.
    * Integer-exact numerators keep the ratios bit-identical. */
  val q26 = QueryDef(
    "q26_text_quality",
    (s, dir) => {
      t(s, dir, "documents")
        .withColumn("n_char", length(col("text")).cast("long"))
        .withColumn("n_nospace", length(regexp_replace(col("text"), " ", "")).cast("long"))
        .withColumn("n_tok", size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("n_the3", (col("n_char") - length(regexp_replace(col("text"), "the", "")).cast("long")))
        .select(col("doc_id"), col("n_char"), col("n_tok"),
          round(col("n_nospace").cast("double") / col("n_tok"), 6).as("avg_word_len"),
          round(col("n_the3") / 3 / col("n_tok"), 6).as("the_ratio"))
        .oracleOrderBy("doc_id")
    },
    Some("""SELECT doc_id, n_char, n_tok,
        round(CAST(n_nospace AS DOUBLE)/n_tok, 6) AS avg_word_len,
        round(n_the3/3/n_tok, 6) AS the_ratio
      FROM (SELECT doc_id,
              CAST(length(text) AS BIGINT) AS n_char,
              CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nospace,
              CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tok,
              CAST(length(text) - length(replace(text, 'the', '')) AS BIGINT) AS n_the3
            FROM documents)
      ORDER BY doc_id"""))

  /** Marker-word language-ID heuristic (n-gram-style scoring: count
    * marker occurrences via the replace-length trick, argmax wins). */
  val q27 = QueryDef(
    "q27_lang_markers",
    (s, dir) => {
      val padded = concat(lit(" "), col("text"), lit(" "))
      def cnt(marker: String) =
        ((length(padded) - length(regexp_replace(padded, java.util.regex.Pattern.quote(s" $marker "), " "))) /
          (marker.length + 1)).cast("long")
      t(s, dir, "documents")
        .withColumn("c_the", cnt("the"))
        .withColumn("c_data", cnt("data"))
        .withColumn("c_join", cnt("join"))
        .withColumn("pred_lang",
          when(col("c_the") >= col("c_data") && col("c_the") >= col("c_join"), "en")
            .when(col("c_data") >= col("c_join"), "da").otherwise("jo"))
        .select("doc_id", "c_the", "c_data", "c_join", "pred_lang", "lang")
        .oracleOrderBy("doc_id")
    },
    Some("""SELECT doc_id, c_the, c_data, c_join,
        CASE WHEN c_the >= c_data AND c_the >= c_join THEN 'en'
             WHEN c_data >= c_join THEN 'da' ELSE 'jo' END AS pred_lang, lang
      FROM (SELECT doc_id, lang,
              CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ' ')))/4 AS BIGINT) AS c_the,
              CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' data ', ' ')))/5 AS BIGINT) AS c_data,
              CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' join ', ' ')))/5 AS BIGINT) AS c_join
            FROM documents)
      ORDER BY doc_id"""))

  /** Canonical word-set fingerprint (document fingerprinting): md5 over
    * the sorted distinct word set. */
  val q28 = QueryDef(
    "q28_word_fingerprint",
    (s, dir) => {
      val ws = array_distinct(split(trim(lower(col("text"))), "\\s+"))
      // NULL text: the oracle's per-word GROUP BY has no group for the
      // doc — drop it here too so the row sets agree on any corpus
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          md5(array_join(array_sort(ws), " ")).as("wset_fp"),
          size(ws).cast("long").as("n_uniq"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""SELECT doc_id, md5(string_agg(w, ' ' ORDER BY w)) AS wset_fp,
        count(*) AS n_uniq
      FROM ($wordsSqlDuck)
      GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  private val shinglesSqlDuck =
    """SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
       FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS toks
             FROM documents),
            LATERAL unnest(generate_series(1, len(toks)-2)) AS t(i)"""

  /** 28-bit integer from 7 hex digits of `m` starting at 1-based `pos`
    * — the engine-portable hex decode (instr nibble polynomial, the
    * same trick the simhash oracle uses). */
  private def hexPolyDuck(m: String, pos: Int): String =
    (0 until 7).map(j =>
      s"(instr('0123456789abcdef', substr($m, ${pos + j}, 1)) - 1) * CAST(${1L << (4 * (6 - j))} AS BIGINT)")
      .mkString(" + ")

  private[queries] val sigSqlDuck =
    s"""SELECT doc_id, ${(0 until 8).map(i => s"min(a + $i*b) AS mh$i").mkString(", ")}
        FROM (SELECT doc_id,
                ${hexPolyDuck("m", 1)} AS a,
                ${hexPolyDuck("m", 9)} AS b
              FROM (SELECT doc_id, md5(sh) AS m FROM ($shinglesSqlDuck)))
        GROUP BY doc_id"""

  /** MinHash signatures WITHOUT the presentation sort — q30's band
    * joins must see the naturally-partitioned signatures, not a
    * repartition(1) output (PlanAuditSpec guards this). Drives the
    * library module (native one-pass expression); the isNotNull filter
    * mirrors the oracle, which only emits docs that HAVE shingles. */
  private def sigSpark(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashSignatures(t(s, dir, "documents"))
      .filter(col("mh0").isNotNull)
      .select(col("doc_id") +: (0 until 8).map(i => col(s"mh$i")): _*)

  /** MinHash signatures over 3-token shingles (near-dup dedup): ONE
    * md5 per shingle, 8 hash families by double hashing h_i = a + i*b
    * over two 28-bit digest halves (Kirsch–Mitzenmacher) — pure
    * integer math, bit-identical across engines, and min over the
    * doc's shingles is order-free under any parallelism. */
  val q29 = QueryDef(
    "q29_minhash_signature",
    (s, dir) => sigSpark(s, dir).oracleOrderBy("doc_id"),
    Some(s"$sigSqlDuck ORDER BY doc_id"),
    bench = true)

  /** LSH banding over the minhash signatures: candidate pairs agreeing
    * on band (mh0..mh3) or band (mh4..mh7) — the bucket-equi-join that
    * replaces all-pairs comparison at 100 TB. */
  val q30 = QueryDef(
    "q30_lsh_band_pairs",
    (s, dir) => {
      val sig = sigSpark(s, dir)
      val a = sig.alias("a"); val b = sig.alias("b")
      def band(cols: Range) = a.join(b,
          cols.map(i => col(s"a.mh$i") === col(s"b.mh$i")).reduce(_ && _) &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      band(0 until 4).unionByName(band(4 until 8)).distinct().oracleOrderBy("doc_a", "doc_b")
    },
    Some(s"""WITH sig AS ($sigSqlDuck)
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
          ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
         AND a.doc_id < b.doc_id
        UNION ALL
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
          ON a.mh4 = b.mh4 AND a.mh5 = b.mh5 AND a.mh6 = b.mh6 AND a.mh7 = b.mh7
         AND a.doc_id < b.doc_id)
      ORDER BY doc_a, doc_b"""))

  /** Word-set Jaccard similarity between neighboring docs (n-gram
    * Jaccard near-dup scoring; integer-count ratio is exact). */
  val q31 = QueryDef(
    "q31_jaccard_neighbors",
    (s, dir) => {
      val w = words(s, dir)
      val n = w.groupBy("doc_id").agg(count(lit(1)).as("nw"))
      val wa = w.alias("wa"); val wb = w.alias("wb")
      val inter = wa.join(wb, col("wb.w") === col("wa.w") &&
          col("wb.doc_id") === col("wa.doc_id") + 1)
        .groupBy(col("wa.doc_id").as("doc_a")).agg(count(lit(1)).as("ni"))
      val d = t(s, dir, "documents").select("doc_id")
      val d1 = d.alias("d1"); val d2 = d.alias("d2")
      val n1 = n.alias("n1"); val n2 = n.alias("n2")
      d1.join(d2, col("d2.doc_id") === col("d1.doc_id") + 1)
        .join(n1, col("n1.doc_id") === col("d1.doc_id"))
        .join(n2, col("n2.doc_id") === col("d2.doc_id"))
        .join(inter, col("doc_a") === col("d1.doc_id"), "left")
        .select(col("d1.doc_id").as("doc_a"), col("d2.doc_id").as("doc_b"),
          round(coalesce(col("ni"), lit(0L)).cast("double") /
            (col("n1.nw") + col("n2.nw") - coalesce(col("ni"), lit(0L))), 6).as("jaccard"))
        .oracleOrderBy("doc_a")
    },
    Some(s"""WITH w AS ($wordsSqlDuck),
        n AS (SELECT doc_id, count(*) AS nw FROM w GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_a, count(*) AS ni FROM w a JOIN w b
                    ON b.w = a.w AND b.doc_id = a.doc_id + 1 GROUP BY a.doc_id)
      SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b,
        round(CAST(coalesce(ni, 0) AS DOUBLE) / (n1.nw + n2.nw - coalesce(ni, 0)), 6) AS jaccard
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      JOIN n n1 ON n1.doc_id = d1.doc_id
      JOIN n n2 ON n2.doc_id = d2.doc_id
      LEFT JOIN inter ON inter.doc_a = d1.doc_id
      ORDER BY doc_a"""),
    bench = true)

  // ---- SimHash: 64-bit signature, per-bit majority over md5(word).
  // ONE md5 per word packed into four 32-bit ints, bits tested with
  // shifts — not 64 separate digest evaluations inside the aggregates.
  // s_{i}_{k} is still "bit k of hex digit i", so the output strings
  // are identical to the naive nibble formulation.

  /** The 8-hex-digit group `g` of digest `m` as a BIGINT, per dialect
    * (Spark has conv; DuckDB gets the instr polynomial). */
  private def groupInt(dialect: String, g: Int): String =
    if (dialect == "spark")
      s"CAST(conv(substr(m, ${8 * g + 1}, 8), 16, 10) AS BIGINT)"
    else
      (0 until 8).map(j =>
        s"(instr('0123456789abcdef', substr(m, ${8 * g + 1 + j}, 1)) - 1) * CAST(${1L << (4 * (7 - j))} AS BIGINT)")
        .mkString("(", " + ", ")")

  /** Bit k (LSB-first) of hex digit i of the digest, from the packed
    * group ints g0..g3. */
  private def bitOf(dialect: String, i: Int, k: Int): String = {
    val g = i / 8; val j = i % 8; val bit = (7 - j) * 4 + k
    if (dialect == "spark") s"(shiftright(g$g, $bit) & 1)"
    else s"((g$g >> $bit) & 1)"
  }

  private def simhashSums(dialect: String): String =
    (for { i <- 0 until 16; k <- 0 until 4 } yield
      s"sum(2 * ${bitOf(dialect, i, k)} - 1) AS s_${i}_$k").mkString(",\n        ")

  private def simhashHex: String = {
    val chars = (0 until 16).map { i =>
      val nibble = (3 to 0 by -1).map(k =>
        s"(CASE WHEN s_${i}_$k > 0 THEN ${1 << k} ELSE 0 END)").mkString(" + ")
      s"substr('0123456789abcdef', 1 + ($nibble), 1)"
    }
    s"concat(${chars.mkString(", ")})"
  }

  private def simhashSql(
      dialect: String, wordsClause: String, withOrder: Boolean = true): String =
    s"""SELECT doc_id, $simhashHex AS simhash
      FROM (SELECT doc_id,
        ${simhashSums(dialect)}
        FROM (SELECT doc_id,
                ${(0 until 4).map(g => s"${groupInt(dialect, g)} AS g$g").mkString(", ")}
              FROM (SELECT doc_id, md5(w) AS m FROM ($wordsClause)))
        GROUP BY doc_id)
      ${if (withOrder) "ORDER BY doc_id" else ""}"""

  /** The DuckDB-dialect simhash statement, shared with q40's oracle. */
  private[queries] def simhashDuckSql: String = simhashSql("duck", wordsSqlDuck)

  /** Same, unordered — for embedding in larger oracle statements. */
  private[queries] def simhashDuckSqlNoOrder: String =
    simhashSql("duck", wordsSqlDuck, withOrder = false)

  /** SimHash document fingerprint: per-bit majority vote over
    * md5-hashed words, driving the library module — since round 3 a
    * native per-row expression (ZERO shuffle; the DuckDB oracle keeps
    * the explode + 64-sum formulation and must still hash-match bit
    * for bit). */
  val q32 = QueryDef(
    "q32_simhash",
    (s, dir) => {
      graft.ops.Dedup.simhash(t(s, dir, "documents"), "doc_id")
        .oracleOrderBy("doc_id")
    },
    Some(simhashDuckSql),
    bench = true)

  /** Non-distinct lowercased tokens, shared by q55/q57 oracles. */
  private val tokSqlDuck =
    """SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')) AS tok
       FROM documents"""

  /** Gopher-style composite quality filter (library module; ZERO
    * shuffle — per-row HOFs — so at 100 TB it is a map over the scan).
    * The oracle reconstructs the per-doc mode count the relational way
    * (unnest + two GROUP BYs); both sides gate the pass flag on the
    * RAW ratios and round only for presentation. */
  val q55 = QueryDef(
    "q55_gopher_quality",
    (s, dir) => {
      // NULL-text docs get all-NULL metrics from the library; the
      // oracle's inner join drops them — align the row sets
      graft.ops.TextAnalysis.gopherQuality(
          t(s, dir, "documents").filter(col("text").isNotNull), "text")
        .select(col("doc_id"), col("n_tok"),
          round(col("avg_word_len"), 6).as("avg_word_len"),
          round(col("top_word_frac"), 6).as("top_word_frac"),
          col("quality_pass"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""WITH tf AS (SELECT doc_id, tok, count(*) AS c
                FROM ($tokSqlDuck) GROUP BY doc_id, tok),
        agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok, max(c) AS max_tf
                FROM tf GROUP BY doc_id),
        base AS (SELECT d.doc_id, a.n_tok,
                   CAST(length(regexp_replace(d.text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE) / a.n_tok AS awl,
                   CAST(a.max_tf AS DOUBLE) / a.n_tok AS twf
                 FROM documents d JOIN agg a ON a.doc_id = d.doc_id)
      SELECT doc_id, n_tok,
        round(awl, 6) AS avg_word_len, round(twf, 6) AS top_word_frac,
        CAST(CASE WHEN n_tok BETWEEN 30 AND 70
                   AND awl >= CAST(3.5 AS DOUBLE) AND awl <= CAST(5.0 AS DOUBLE)
                   AND twf <= CAST(0.1 AS DOUBLE)
              THEN 1 ELSE 0 END AS INT) AS quality_pass
      FROM base ORDER BY doc_id"""))

  /** Repeated-bigram fraction (the Gopher/RefinedWeb within-document
    * repetition filter; library module — narrow, n-grams never leave
    * their row). The oracle rebuilds the bigrams via generate_series
    * like the shingle CTE; docs with <2 tokens drop from both sides. */
  val q56 = QueryDef(
    "q56_repeated_bigrams",
    (s, dir) => {
      graft.ops.TextAnalysis.repeatedNgramStats(t(s, dir, "documents"), "text", 2)
        .filter(col("n_ngrams") > 0)
        .select(col("doc_id"), col("n_ngrams").as("n_bigrams"),
          col("n_distinct"),
          round(col("repeated_frac"), 6).as("repeated_frac"))
        .oracleOrderBy("doc_id")
    },
    Some("""WITH bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
              FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS toks
                    FROM documents),
                   LATERAL unnest(generate_series(1, len(toks)-1)) AS t(i))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(count(DISTINCT bg) AS BIGINT) AS n_distinct,
             round(CAST(1 AS DOUBLE) - CAST(count(DISTINCT bg) AS DOUBLE) / count(*), 6)
               AS repeated_frac
      FROM bg GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** Corpus TF-IDF (library module): (doc, term) term frequency joined
    * with the vocabulary-sized document-frequency side, N baked in as
    * a literal. ln() is the one transcendental in the oracle corpus —
    * both engines evaluate IEEE-double natural log on identical
    * inputs, and the 6-decimal round absorbs any ulp slack. */
  val q57 = QueryDef(
    "q57_tf_idf",
    (s, dir) => {
      graft.ops.TextAnalysis.tfIdf(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("tok"), col("tf"), col("df"),
          round(col("tf_idf"), 6).as("tf_idf"))
        .oracleOrderBy("doc_id", "tok")
    },
    Some(s"""WITH tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                FROM ($tokSqlDuck) GROUP BY doc_id, tok),
        dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
      SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
        round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tf_idf
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
      ORDER BY doc_id, tok"""),
    bench = true)

  /** The unit hash of doc_id in DuckDB: the instr nibble polynomial
    * over the first 7 hex digits of md5, over 2^28 (the same dyadic
    * value Spark computes with conv). */
  private[queries] val unitHashDuck = {
    val poly = (0 until 7).map(j =>
      s"(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), ${1 + j}, 1)) - 1) * CAST(${1L << (4 * (6 - j))} AS BIGINT)")
      .mkString(" + ")
    s"CAST($poly AS DOUBLE) / CAST(268435456 AS DOUBLE)"
  }

  /** Deterministic corpus curation (library module `graft.ops.Sampling`
    * — reproducible at any scale because membership is a pure function
    * of the id hash, and a narrow zero-shuffle filter): per-source
    * stratified sampling rates, then dyadic train/val/test split
    * thresholds (0.75/0.875 are exact in binary — bit-identical CASE
    * boundaries on both engines). */
  val q60 = QueryDef(
    "q60_deterministic_split",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val sampled = graft.ops.Sampling.stratifiedSample(docs, "doc_id", "source",
        Map("src0" -> 0.8, "src1" -> 0.5), defaultFraction = 0.25)
      graft.ops.Sampling.assignSplit(sampled, "doc_id",
        Seq(("train", 0.75), ("val", 0.125), ("test", 0.125)))
        .select(col("doc_id"), col("source"),
          round(graft.ops.Sampling.hashUnit(col("doc_id")), 6).as("u"),
          col("split"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""WITH h AS (SELECT doc_id, source, $unitHashDuck AS u FROM documents)
      SELECT doc_id, source, round(u, 6) AS u,
        CASE WHEN u < CAST(0.75 AS DOUBLE) THEN 'train'
             WHEN u < CAST(0.875 AS DOUBLE) THEN 'val'
             ELSE 'test' END AS split
      FROM h
      WHERE u < CASE source WHEN 'src0' THEN CAST(0.8 AS DOUBLE)
                            WHEN 'src1' THEN CAST(0.5 AS DOUBLE)
                            ELSE CAST(0.25 AS DOUBLE) END
      ORDER BY doc_id"""),
    bench = true)

  /** Benchmark decontamination (library module; at scale the eval
    * trigram set broadcasts): docs 0..9 act as the held-out eval
    * corpus, every other document is scored by how many DISTINCT
    * trigrams it shares with them and flagged at >= 5. The oracle
    * reuses the shingle CTE on both sides of the join. */
  val q61 = QueryDef(
    "q61_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.decontaminate(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 3, minOverlap = 5L)
        .select(col("doc_id"), col("n_overlap"), col("contaminated"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""WITH tg AS (SELECT DISTINCT doc_id, sh FROM ($shinglesSqlDuck) sh_t
                WHERE doc_id >= 10),
        eg AS (SELECT DISTINCT sh FROM ($shinglesSqlDuck) sh_e WHERE doc_id < 10),
        ov AS (SELECT tg.doc_id, count(*) AS n_overlap
               FROM tg JOIN eg USING (sh) GROUP BY tg.doc_id)
      SELECT d.doc_id,
        CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        CAST(CASE WHEN coalesce(ov.n_overlap, 0) >= 5 THEN 1 ELSE 0 END AS INT)
          AS contaminated
      FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
      WHERE d.doc_id >= 10 ORDER BY d.doc_id"""),
    bench = true)

  /** Bloom-pre-filtered decontamination (library
    * `TextAnalysis.bloomDecontaminate`): the same held-out split and
    * threshold as q61, but the eval trigram set is folded into a
    * fixed-size Bloom sketch (Spark's `bloom_filter_agg`), the train
    * grams are probed by the codegen'd native membership predicate,
    * and only the surviving candidates reach the exact verification
    * join — which removes every false positive, so the OUTPUT is
    * byte-identical to exact decontamination and the oracle is the
    * same relational derivation. The filter is sized small (64 Kibit)
    * on purpose: a leaky Bloom must still verify to the exact rows. */
  val q77 = QueryDef(
    "q77_bloom_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.bloomDecontaminate(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 3, minOverlap = 5L,
        expectedEvalGrams = 1L << 12, numBits = 1L << 16)
        .select(col("doc_id"), col("n_overlap"), col("contaminated"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""WITH tg AS (SELECT DISTINCT doc_id, sh FROM ($shinglesSqlDuck) sh_t
                WHERE doc_id >= 10),
        eg AS (SELECT DISTINCT sh FROM ($shinglesSqlDuck) sh_e WHERE doc_id < 10),
        ov AS (SELECT tg.doc_id, count(*) AS n_overlap
               FROM tg JOIN eg USING (sh) GROUP BY tg.doc_id)
      SELECT d.doc_id,
        CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        CAST(CASE WHEN coalesce(ov.n_overlap, 0) >= 5 THEN 1 ELSE 0 END AS INT)
          AS contaminated
      FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
      WHERE d.doc_id >= 10 ORDER BY d.doc_id"""),
    bench = true)

  /** Corpus-frequency boilerplate detection (library module — the
    * cross-document twin of q56's within-document repetition): flag
    * trigrams appearing in >= 3 distinct docs, score each doc by its
    * boilerplate count and fraction. */
  val q62 = QueryDef(
    "q62_boilerplate_ngrams",
    (s, dir) => {
      graft.ops.TextAnalysis.boilerplateStats(
        t(s, dir, "documents"), "doc_id", "text", n = 3, minDocFreq = 3L)
        .filter(col("n_grams") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_boiler"),
          round(col("boiler_frac"), 6).as("boiler_frac"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""WITH dg AS (SELECT DISTINCT doc_id, sh FROM ($shinglesSqlDuck) s),
        b AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM dg GROUP BY sh) t
              WHERE df >= 3),
        pd AS (SELECT dg.doc_id, count(*) AS n_boiler
               FROM dg JOIN b USING (sh) GROUP BY dg.doc_id),
        ng AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id)
      SELECT d.doc_id, CAST(ng.n_grams AS BIGINT) AS n_grams,
        CAST(coalesce(pd.n_boiler, 0) AS BIGINT) AS n_boiler,
        round(CAST(coalesce(pd.n_boiler, 0) AS DOUBLE) / ng.n_grams, 6)
          AS boiler_frac
      FROM documents d JOIN ng USING (doc_id) LEFT JOIN pd USING (doc_id)
      ORDER BY doc_id"""),
    bench = true)

  /** HTML cleanup (library module `TextAnalysis.stripHtml`): every doc
    * wrapped in synthetic markup + entities, tags stripped and the
    * five predefined entities decoded with `&amp;` last. The oracle
    * spells the identical regexp + replace chain. */
  val q65 = QueryDef(
    "q65_strip_html",
    (s, dir) => {
      val html = concat(lit("<p class=\"note\">"), col("text"),
        lit(" &amp; <b>tail</b> &#39;q&#39; &lt;raw&gt;</p>"))
      t(s, dir, "documents")
        .select(col("doc_id"), graft.ops.TextAnalysis.stripHtml(html).as("clean"))
        .oracleOrderBy("doc_id")
    },
    Some("""SELECT doc_id,
        replace(replace(replace(replace(replace(replace(
          regexp_replace(
            '<p class="note">' || text || ' &amp; <b>tail</b> &#39;q&#39; &lt;raw&gt;</p>',
            '<[^>]*>', '', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS clean
      FROM documents ORDER BY doc_id"""),
    bench = true)

  /** PII redaction (library module `TextAnalysis.redactPii`): a
    * synthetic email, URL, two IPs (adjacent — the bracketed-context
    * two-pass case), an IPv6, and three phone shapes appended per doc,
    * plus the canonical FALSE positives that must survive — a version
    * string, a five-part dotted run, an ISO date, a clock time, and an
    * SSN-shaped 3-2-4 run. Both engines run the same lookahead-free
    * patterns; the hash proves every placeholder lands and every
    * negative survives in all 500 documents. */
  val q66 = QueryDef(
    "q66_redact_pii",
    (s, dir) => {
      val tainted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org or https://crawl.example.org/doc/"),
        col("doc_id").cast("string"), lit("?ref=1 from 10.0."),
        pmod(col("doc_id"), lit(250)).cast("string"),
        lit(".7 10.99.0.8 via fe80:0:0:ab:1:2:3:4 ring (022) 345 67"),
        pmod(col("doc_id"), lit(100)).cast("string"),
        lit(" or +1 800 555 0199 or 555-867-5309"),
        lit(" keep v1.2.3 1.2.3.4.5 2024-01-15 08:30:45 123-45-6789 tail"))
      t(s, dir, "documents")
        .select(col("doc_id"), graft.ops.TextAnalysis.redactPii(tainted).as("clean"))
        .oracleOrderBy("doc_id")
    },
    Some("""SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(
          regexp_replace(
          regexp_replace(
          regexp_replace(
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.org or https://crawl.example.org/doc/'
              || CAST(doc_id AS VARCHAR) || '?ref=1 from 10.0.'
              || CAST(doc_id % 250 AS VARCHAR)
              || '.7 10.99.0.8 via fe80:0:0:ab:1:2:3:4 ring (022) 345 67'
              || CAST(doc_id % 100 AS VARCHAR)
              || ' or +1 800 555 0199 or 555-867-5309'
              || ' keep v1.2.3 1.2.3.4.5 2024-01-15 08:30:45 123-45-6789 tail',
            'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b(?:[0-9A-Fa-f]{1,4}:){4,7}[0-9A-Fa-f]{1,4}\b', '<IP>', 'g'),
          '(^|[^0-9.])((?:[0-9]{1,3}\.){3}[0-9]{1,3})(\z|[^0-9.])', '\1<IP>\3', 'g'),
          '(^|[^0-9.])((?:[0-9]{1,3}\.){3}[0-9]{1,3})(\z|[^0-9.])', '\1<IP>\3', 'g'),
          '\(\d{2,4}\)[ -]?\d{3}[ -]?\d{2,4}', '<PHONE>', 'g'),
          '\+\d{1,3}[ -]?\d{2,4}[ -]?\d{3,4}[ -]?\d{2,4}', '<PHONE>', 'g'),
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS clean
      FROM documents ORDER BY doc_id"""),
    bench = true)

  /** PII audit counts (library `TextAnalysis.piiStats` — what q66's
    * redaction removes, counted by type; the data-card / gating
    * metric). Same taint as q66 (1 URL, 1 email, 3 IPs, 3 phones per
    * doc plus the false-positive gauntlet), counts derived on both
    * engines via the identical replace-length arithmetic over the
    * redacted text, minus literal placeholders already present. */
  val q115 = QueryDef(
    "q115_pii_stats",
    (s, dir) => {
      val tainted = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org or https://crawl.example.org/doc/"),
        col("doc_id").cast("string"), lit("?ref=1 from 10.0."),
        pmod(col("doc_id"), lit(250)).cast("string"),
        lit(".7 10.99.0.8 via fe80:0:0:ab:1:2:3:4 ring (022) 345 67"),
        pmod(col("doc_id"), lit(100)).cast("string"),
        lit(" or +1 800 555 0199 or 555-867-5309"),
        lit(" keep v1.2.3 1.2.3.4.5 2024-01-15 08:30:45 123-45-6789 tail"))
      graft.ops.TextAnalysis.piiStats(
          t(s, dir, "documents").select(col("doc_id"), tainted.as("text")),
          "doc_id", "text")
        .select(col("doc_id"), col("n_url"), col("n_email"),
          col("n_ip"), col("n_phone"), col("pii_total"))
        .oracleOrderBy("doc_id")
    },
    Some("""WITH red AS MATERIALIZED (
        SELECT doc_id,
          text || ' contact user' || CAST(doc_id AS VARCHAR)
            || '@mail.example.org or https://crawl.example.org/doc/'
            || CAST(doc_id AS VARCHAR) || '?ref=1 from 10.0.'
            || CAST(doc_id % 250 AS VARCHAR)
            || '.7 10.99.0.8 via fe80:0:0:ab:1:2:3:4 ring (022) 345 67'
            || CAST(doc_id % 100 AS VARCHAR)
            || ' or +1 800 555 0199 or 555-867-5309'
            || ' keep v1.2.3 1.2.3.4.5 2024-01-15 08:30:45 123-45-6789 tail' AS o
        FROM documents),
      rr AS MATERIALIZED (
        SELECT doc_id, o,
          regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(o,
            'https?://[^ \t\n\x0B\f\r]+', '<URL>', 'g'),
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b(?:[0-9A-Fa-f]{1,4}:){4,7}[0-9A-Fa-f]{1,4}\b', '<IP>', 'g'),
          '(^|[^0-9.])((?:[0-9]{1,3}\.){3}[0-9]{1,3})(\z|[^0-9.])', '\1<IP>\3', 'g'),
          '(^|[^0-9.])((?:[0-9]{1,3}\.){3}[0-9]{1,3})(\z|[^0-9.])', '\1<IP>\3', 'g'),
          '\(\d{2,4}\)[ -]?\d{3}[ -]?\d{2,4}', '<PHONE>', 'g'),
          '\+\d{1,3}[ -]?\d{2,4}[ -]?\d{3,4}[ -]?\d{2,4}', '<PHONE>', 'g'),
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS r
        FROM red)
      SELECT doc_id,
        CAST(greatest((len(r) - len(replace(r, '<URL>', ''))) // 5
           - (len(o) - len(replace(o, '<URL>', ''))) // 5, 0) AS BIGINT) AS n_url,
        CAST(greatest((len(r) - len(replace(r, '<EMAIL>', ''))) // 7
           - (len(o) - len(replace(o, '<EMAIL>', ''))) // 7, 0) AS BIGINT) AS n_email,
        CAST(greatest((len(r) - len(replace(r, '<IP>', ''))) // 4
           - (len(o) - len(replace(o, '<IP>', ''))) // 4, 0) AS BIGINT) AS n_ip,
        CAST(greatest((len(r) - len(replace(r, '<PHONE>', ''))) // 7
           - (len(o) - len(replace(o, '<PHONE>', ''))) // 7, 0) AS BIGINT) AS n_phone,
        CAST(greatest((len(r) - len(replace(r, '<URL>', ''))) // 5
           - (len(o) - len(replace(o, '<URL>', ''))) // 5, 0)
           + greatest((len(r) - len(replace(r, '<EMAIL>', ''))) // 7
           - (len(o) - len(replace(o, '<EMAIL>', ''))) // 7, 0)
           + greatest((len(r) - len(replace(r, '<IP>', ''))) // 4
           - (len(o) - len(replace(o, '<IP>', ''))) // 4, 0)
           + greatest((len(r) - len(replace(r, '<PHONE>', ''))) // 7
           - (len(o) - len(replace(o, '<PHONE>', ''))) // 7, 0) AS BIGINT) AS pii_total
      FROM rr ORDER BY doc_id"""),
    bench = true)

  /** Corpus-wide paragraph dedup (library module
    * `TextAnalysis.paragraphDedup`, split on '. ' for the synthetic
    * corpus): first (doc, pos) occurrence of each distinct paragraph
    * survives, documents reassemble in order, fully-duplicated docs
    * come back empty. The oracle keeps a window formulation (result
    * sets match; the library deliberately uses groupBy+join for skew
    * safety instead). */
  val q67 = QueryDef(
    "q67_paragraph_dedup",
    (s, dir) => {
      graft.ops.TextAnalysis.paragraphDedup(
          t(s, dir, "documents"), "doc_id", "text", sep = ". ")
        .select(col("doc_id"), col("clean_text"), col("n_kept"))
        .oracleOrderBy("doc_id")
    },
    Some("""WITH p AS (
        SELECT doc_id, i AS pos, parts[i] AS par
        FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents) s,
             LATERAL unnest(generate_series(1, len(parts))) AS t(i)),
      keep AS (
        SELECT doc_id, pos, par FROM (
          SELECT doc_id, pos, par,
            row_number() OVER (PARTITION BY md5(par) ORDER BY doc_id, pos) AS rn
          FROM p) r WHERE rn = 1),
      agg AS (
        SELECT doc_id, string_agg(par, '. ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM keep GROUP BY doc_id)
      SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
             coalesce(a.n_kept, 0) AS n_kept
      FROM documents d LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id"""),
    bench = true)

  /** Unicode NFC normalization (native expression behind the library
    * module): decomposed sequences appended per doc (e + combining
    * acute, A + ring, o + diaeresis) must come back canonically
    * composed, byte-identical to DuckDB's `nfc_normalize`
    * (ICU vs utf8proc — both implement the same Unicode algorithm). */
  val q68 = QueryDef(
    "q68_nfc_normalize",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        // DECOMPOSED on the way in (e+U+0301, A+U+030A, o+U+0308) so
        // the Spark expression does the composing, not the literal
        .withColumn("mixed",
          concat(col("text"), lit(" Cafe\u0301 A\u030Angstro\u0308m")))
      graft.ops.TextAnalysis.nfcNormalize(docs, "mixed", "nfc")
        .select(col("doc_id"), col("nfc"))
        .oracleOrderBy("doc_id")
    },
    Some("""SELECT doc_id,
        nfc_normalize(text || ' Cafe' || chr(769) || ' A' || chr(778)
          || 'ngstro' || chr(776) || 'm') AS nfc
      FROM documents ORDER BY doc_id"""),
    bench = true)

  /** MinHash-based FUZZY decontamination (library
    * `Dedup.fuzzyDecontaminate` — the near-duplicate complement of
    * q61/q77's exact n-gram overlap): train docs (doc_id >= 10) whose
    * word-set jaccard against ANY eval doc (doc_id < 10) reaches 0.8,
    * where candidates come from the SAME two-band LSH scheme as
    * q29/q30 — never an all-pairs comparison — and every candidate is
    * exactly verified. The oracle replays signatures (Kirsch–
    * Mitzenmacher double hashing over one md5), both band joins, and
    * the verify jaccard; the hash covers each train doc's match count,
    * 6-decimal max candidate jaccard, and flag. */
  val q84 = QueryDef(
    "q84_fuzzy_decontaminate",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.fuzzyDecontaminate(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", threshold = 0.8)
        .select(col("doc_id"), col("n_fuzzy_matches"),
          round(col("max_jaccard"), 6).as("max_jaccard"),
          col("fuzzy_contaminated"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""WITH sig AS MATERIALIZED ($sigSqlDuck),
      cand AS (
        SELECT DISTINCT ta, eb FROM (
          SELECT a.doc_id AS ta, b.doc_id AS eb FROM sig a JOIN sig b
            ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
          WHERE a.doc_id >= 10 AND b.doc_id < 10
          UNION ALL
          SELECT a.doc_id AS ta, b.doc_id AS eb FROM sig a JOIN sig b
            ON a.mh4 = b.mh4 AND a.mh5 = b.mh5 AND a.mh6 = b.mh6 AND a.mh7 = b.mh7
          WHERE a.doc_id >= 10 AND b.doc_id < 10)),
      w AS MATERIALIZED ($wordsSqlDuck),
      n AS (SELECT doc_id, count(*) AS nw FROM w GROUP BY doc_id),
      inter AS (
        SELECT c.ta, c.eb, count(*) AS ni
        FROM cand c
        JOIN w wa ON wa.doc_id = c.ta
        JOIN w wb ON wb.doc_id = c.eb AND wb.w = wa.w
        GROUP BY c.ta, c.eb),
      j AS (
        SELECT c.ta, c.eb,
          CAST(coalesce(i.ni, 0) AS DOUBLE)
            / (na.nw + nb.nw - coalesce(i.ni, 0)) AS jac
        FROM cand c
        LEFT JOIN inter i ON i.ta = c.ta AND i.eb = c.eb
        JOIN n na ON na.doc_id = c.ta
        JOIN n nb ON nb.doc_id = c.eb),
      agg AS (
        SELECT ta,
          CAST(sum(CASE WHEN jac >= CAST(0.8 AS DOUBLE) THEN 1 ELSE 0 END) AS BIGINT)
            AS n_fuzzy_matches,
          max(jac) AS mx
        FROM j GROUP BY ta)
      SELECT d.doc_id,
        coalesce(a.n_fuzzy_matches, 0) AS n_fuzzy_matches,
        round(coalesce(a.mx, CAST(0 AS DOUBLE)), 6) AS max_jaccard,
        CAST(CASE WHEN coalesce(a.n_fuzzy_matches, 0) > 0 THEN 1 ELSE 0 END AS INT)
          AS fuzzy_contaminated
      FROM documents d LEFT JOIN agg a ON a.ta = d.doc_id
      WHERE d.doc_id >= 10
      ORDER BY d.doc_id"""),
    bench = true)

  /** Within-document duplicate-line removal (library
    * `TextAnalysis.dedupLines` — the Gopher-style in-document
    * repetition scrub that the cross-document paragraph pass q67
    * misses). The synthetic corpus is single-line, so the query first
    * LINEIFIES each document deterministically — 5-token lines, then a
    * blank line and a repeat of the first line (guaranteeing every
    * multi-line doc at least one true duplicate plus natural repeats
    * from the corpus's own token runs) — and the operator then keeps
    * blank lines and first occurrences only. Both engines build the
    * identical lineified text and the identical first-occurrence test
    * (array_position / list_position); the hash covers the full
    * cleaned text. */
  val q91 = QueryDef(
    "q91_line_dedup",
    (s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      val nLines = floor((size(toks) + lit(4)) / lit(5)).cast("int")
      val lines = transform(sequence(lit(0), nLines - 1),
        i => concat_ws(" ", slice(toks, i * 5 + 1, lit(5))))
      val lined = concat(array_join(lines, "\n"), lit("\n\n"),
        element_at(lines, 1))
      val input = t(s, dir, "documents")
        .select(col("doc_id"),
          when(col("text").isNull, lit(null)).otherwise(lined).as("text"))
      graft.ops.TextAnalysis.dedupLines(input, "text")
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          col("clean_text"))
        .oracleOrderBy("doc_id")
    },
    Some("""WITH tk AS (
        SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS t
        FROM documents),
      ln AS (
        SELECT doc_id, list_transform(
            range(0, CAST(floor((len(t) + 4) / 5) AS INT)),
            i -> array_to_string(t[(i*5+1):(i*5+5)], ' ')) AS lines
        FROM tk),
      d AS (
        SELECT doc_id,
          string_split(array_to_string(lines, chr(10)) || chr(10) || chr(10)
            || lines[1], chr(10)) AS ls
        FROM ln),
      k AS (
        SELECT doc_id, len(ls) AS n_lines,
          list_transform(
            list_filter(range(1, len(ls) + 1),
              i -> trim(ls[i]) = '' OR list_position(ls, ls[i]) = i),
            i -> ls[i]) AS kept
        FROM d)
      SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        CAST(n_lines - len(kept) AS BIGINT) AS n_dup_lines,
        array_to_string(kept, chr(10)) AS clean_text
      FROM k ORDER BY doc_id"""))

  /** Eval-side contamination containment report (library
    * `TextAnalysis.containmentScore` — the reverse direction of
    * q61/q77, which flag TRAINING docs): per held-out eval document,
    * the fraction of its distinct trigrams found anywhere in the
    * training split — the number benchmark cards publish. The oracle
    * re-derives both distinct gram sets and every per-doc ratio
    * bit-exactly. */
  val q103 = QueryDef(
    "q103_containment",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.containmentScore(
        docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
        "doc_id", "text", n = 3)
        .filter(col("n_grams") > 0)
        .select(col("doc_id"), col("n_grams"), col("n_matched"),
          round(col("containment"), 6).as("containment"))
        .oracleOrderBy("doc_id")
    },
    Some(s"""WITH eg AS (SELECT DISTINCT doc_id, sh FROM ($shinglesSqlDuck) se
                WHERE doc_id < 10),
        tset AS (SELECT DISTINCT sh FROM ($shinglesSqlDuck) st WHERE doc_id >= 10),
        m AS (SELECT eg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN t.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_matched
              FROM eg LEFT JOIN tset t USING (sh) GROUP BY eg.doc_id)
      SELECT doc_id, n_grams, n_matched,
        round(CAST(n_matched AS DOUBLE) / CAST(n_grams AS DOUBLE), 6) AS containment
      FROM m ORDER BY doc_id"""),
    bench = true)

  /** Codepoint-range script profiling (library
    * `TextAnalysis.scriptProfile` — the zero-cost first-stage language
    * router): the ASCII corpus is deterministically mixed first —
    * every 7th-mod-3 doc gets vowels+tnsrhl transliterated to Cyrillic
    * lookalikes (flipping its dominant script), every 7th-mod-5 doc
    * only `a`/`o` (Cyrillic present, Latin still dominant) — then each
    * doc's per-script char counts, dominant script and dominance
    * fraction are hash-checked. Fixed codepoint ranges, not
    * `\p{Script}` classes, so both engines count identically. */
  val q104 = QueryDef(
    "q104_script_profile",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val mixed = docs.withColumn("text",
        when(col("doc_id") % 7 === 3,
          translate(col("text"), "aeioutnsrhl", "аеіоутнсрхл"))
          .when(col("doc_id") % 7 === 5, translate(col("text"), "ao", "ао"))
          .otherwise(col("text")))
      graft.ops.TextAnalysis.scriptProfile(mixed, "text")
        .select(col("doc_id"), col("n_latin"), col("n_cyrillic"), col("n_greek"),
          col("n_cjk"), col("script"),
          round(col("script_frac"), 6).as("script_frac"))
        .oracleOrderBy("doc_id")
    },
    Some("""WITH mixed AS MATERIALIZED (
        SELECT doc_id,
          CASE WHEN doc_id % 7 = 3
                 THEN translate(text, 'aeioutnsrhl', 'аеіоутнсрхл')
               WHEN doc_id % 7 = 5 THEN translate(text, 'ao', 'ао')
               ELSE text END AS text
        FROM documents),
      counted AS (
        SELECT doc_id,
          CAST(length(text) - length(regexp_replace(text, '[a-zA-Z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
          CAST(length(text) - length(regexp_replace(text, '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
          CAST(length(text) - length(regexp_replace(text, '[\x{0370}-\x{03FF}]', '', 'g')) AS BIGINT) AS n_greek,
          CAST(length(text) - length(regexp_replace(text, '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic,
          CAST(length(text) - length(regexp_replace(text, '[\x{0900}-\x{097F}]', '', 'g')) AS BIGINT) AS n_devanagari,
          CAST(length(text) - length(regexp_replace(text, '[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]', '', 'g')) AS BIGINT) AS n_hangul,
          CAST(length(text) - length(regexp_replace(text, '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS BIGINT) AS n_cjk
        FROM mixed),
      dom AS (
        SELECT counted.*,
          n_latin + n_cyrillic + n_greek + n_arabic + n_devanagari + n_hangul + n_cjk AS tot,
          greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_devanagari, n_hangul, n_cjk) AS mx
        FROM counted)
      SELECT doc_id, n_latin, n_cyrillic, n_greek, n_cjk,
        CASE WHEN tot <= 0 THEN 'none'
             WHEN n_latin = mx THEN 'latin'
             WHEN n_cyrillic = mx THEN 'cyrillic'
             WHEN n_greek = mx THEN 'greek'
             WHEN n_arabic = mx THEN 'arabic'
             WHEN n_devanagari = mx THEN 'devanagari'
             WHEN n_hangul = mx THEN 'hangul'
             ELSE 'cjk' END AS script,
        CASE WHEN tot > 0 THEN round(CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE), 6) END
          AS script_frac
      FROM dom ORDER BY doc_id"""),
    bench = true)

  /** LSH banding evaluation (library `Dedup.lshEvaluate` — the
    * precision/recall tuning pass run on a SAMPLE before committing a
    * banding config to a corpus-scale run; q87 is its ANN sibling):
    * brute-force ground truth over the SAME 3-shingle sets the
    * signatures sketch (the similarity banding approximates — recall
    * is the banding S-curve's actual miss rate, not a different
    * metric's disagreement), threshold 0.5, vs the 2×4-band candidate
    * set. The oracle replays the quadratic shingle-set truth
    * (shared-shingle pairs only — a zero-overlap pair cannot reach a
    * positive threshold), the signature band joins, and the exact hit
    * counts and ratios. */
  val q106 = QueryDef(
    "q106_lsh_eval",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.lshEvaluate(docs, "doc_id", threshold = 0.5,
          numHashes = 8, bandSize = 4)
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"))
    },
    Some(s"""WITH shd AS MATERIALIZED (
        SELECT DISTINCT doc_id, sh FROM ($shinglesSqlDuck)),
      sz AS (SELECT doc_id, count(*) AS s FROM shd GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
        FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      truth AS MATERIALIZED (
        SELECT doc_a, doc_b FROM inter
        JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        WHERE CAST(ni AS DOUBLE) / (sa.s + sb.s - ni) >= CAST(0.5 AS DOUBLE)),
      sig AS MATERIALIZED ($sigSqlDuck),
      cand AS MATERIALIZED (
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
            ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
            AND a.doc_id < b.doc_id
          UNION ALL
          SELECT a.doc_id, b.doc_id FROM sig a JOIN sig b
            ON a.mh4 = b.mh4 AND a.mh5 = b.mh5 AND a.mh6 = b.mh6 AND a.mh7 = b.mh7
            AND a.doc_id < b.doc_id)),
      hit AS (SELECT count(*) AS h FROM cand JOIN truth USING (doc_a, doc_b)),
      c AS (SELECT (SELECT count(*) FROM truth) AS n_truth,
                   (SELECT count(*) FROM cand) AS n_cand,
                   (SELECT h FROM hit) AS n_hit)
      SELECT CAST(n_truth AS BIGINT) AS n_truth, CAST(n_cand AS BIGINT) AS n_cand,
        CAST(n_hit AS BIGINT) AS n_hit,
        round(CAST(n_hit AS DOUBLE) / n_cand, 6) AS precision,
        round(CAST(n_hit AS DOUBLE) / n_truth, 6) AS recall
      FROM c"""),
    bench = true,
    // the harness is BY CONTRACT a sample-run (quadratic ground
    // truth); at the bench SF the full-corpus form it is
    // oracle-checked with at sf0.01 would be an O(n^2) marathon —
    // bench the documented usage: a 1/10 sample
    benchFn = Some { (s, dir) =>
      val docs = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      graft.ops.Dedup.lshEvaluate(docs, "doc_id", threshold = 0.5,
        numHashes = 8, bandSize = 4)
    })

  /** Blocklist term filtering (library `TextAnalysis.blocklistFilter`
    * — the C4 bad-words pass, exact-token so no scunthorpe effect):
    * a deterministic blocklist drawn from the corpus's own vocabulary
    * exercises real hits; every count, fraction and flag
    * hash-checks. */
  val q107 = QueryDef(
    "q107_blocklist",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.blocklistFilter(docs, "text",
          terms = Seq("batch", "slow", "error"), minHits = 2L)
        .select(col("doc_id"), col("n_hits"),
          round(col("hit_frac"), 6).as("hit_frac"), col("blocked"))
        .oracleOrderBy("doc_id")
    },
    Some("""WITH tk AS MATERIALIZED (
        SELECT doc_id, string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+') AS t,
          CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')) END AS ntok
        FROM documents),
      h AS (
        SELECT doc_id,
          CAST(len(list_filter(t, x -> x IN ('batch', 'slow', 'error'))) AS BIGINT)
            AS n_hits, ntok
        FROM tk)
      SELECT doc_id, n_hits,
        CASE WHEN ntok > 0 THEN round(CAST(n_hits AS DOUBLE) / ntok, 6) END AS hit_frac,
        CAST(CASE WHEN n_hits >= 2 THEN 1 ELSE 0 END AS INT) AS blocked
      FROM h ORDER BY doc_id"""),
    bench = true)

  /** Vocabulary/Zipf statistics (library `TextAnalysis.vocabStats` —
    * the tokenizer-sizing report; q74 profiles strata, this profiles
    * the vocabulary itself): exact token/vocab/hapax counts plus the
    * top-10 occurrence mass fraction, all one vocabulary-keyed
    * aggregate + TakeOrdered. */
  val q108 = QueryDef(
    "q108_vocab_stats",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextAnalysis.vocabStats(docs, "text", topK = 10)
        .select(col("n_tokens"), col("n_vocab"), col("n_hapax"),
          round(col("topk_mass_frac"), 6).as("topk_mass_frac"))
    },
    Some("""WITH cnt AS MATERIALIZED (
        SELECT w, count(*) AS c FROM (
          SELECT unnest(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+')) AS w
          FROM documents) u
        WHERE len(w) > 0 GROUP BY w),
      tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n_tokens,
                     CAST(count(*) AS BIGINT) AS n_vocab,
                     CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_hapax
              FROM cnt),
      topm AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS t FROM (
        SELECT c FROM cnt ORDER BY c DESC, w LIMIT 10) x)
      SELECT n_tokens, n_vocab, n_hapax,
        round(CAST(t AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS topk_mass_frac
      FROM tot, topm"""),
    bench = true)

  /** Shared planner CTE block for q120/q121 — the DuckDB re-derivation
    * of `Dedup.lshPlanCurve(threshold=0.5, maxHashes=16, fnWeight=10,
    * steps=1024)`. Engine parity is exact by construction: dyadic
    * sample points s=(2i−1)/2048, powers as left-associated
    * `list_reduce` multiply chains (identical IEEE rounding to
    * Spark's `aggregate(sequence(...))` fold — 1.0·s equals s
    * exactly, so the chains coincide), per-term half-up quantization
    * to 2⁻²⁰ (DuckDB rounds half away from zero, the JVM half-up —
    * identical for these positive terms), BIGINT sums. */
  private val lshPlanCtesDuck =
    """cand AS (
        SELECT CAST(b AS INT) AS b, CAST(r AS INT) AS r
        FROM unnest(generate_series(1, 16)) AS tr(r),
             unnest(generate_series(1, 16)) AS tb(b)
        WHERE b * r <= 16),
      pt AS (
        SELECT b, r, s,
          CAST(1.0 AS DOUBLE) - list_reduce(list_transform(generate_series(1, b), x ->
            CAST(1.0 AS DOUBLE) - list_reduce(
              list_transform(generate_series(1, r), y -> s), (p1, q1) -> p1 * q1)),
            (p1, q1) -> p1 * q1) AS p
        FROM (SELECT b, r, CAST(2*i - 1 AS DOUBLE) / CAST(2048 AS DOUBLE) AS s
              FROM cand, LATERAL unnest(generate_series(1, 1024)) AS t(i))),
      agg AS (
        SELECT b, r,
          CAST(sum(CASE WHEN s < CAST(0.5 AS DOUBLE)
            THEN CAST(round(p * CAST(1048576 AS DOUBLE)) AS BIGINT) ELSE 0 END) AS BIGINT) AS fp_q,
          CAST(sum(CASE WHEN s >= CAST(0.5 AS DOUBLE)
            THEN CAST(round((CAST(1.0 AS DOUBLE) - p) * CAST(1048576 AS DOUBLE)) AS BIGINT) ELSE 0 END) AS BIGINT) AS fn_q
        FROM pt GROUP BY b, r),
      patt AS (
        SELECT b, r,
          CAST(round((CAST(1.0 AS DOUBLE) - list_reduce(list_transform(generate_series(1, b), x ->
            CAST(1.0 AS DOUBLE) - list_reduce(
              list_transform(generate_series(1, r), y -> CAST(0.5 AS DOUBLE)), (p1, q1) -> p1 * q1)),
            (p1, q1) -> p1 * q1)) * CAST(1048576 AS DOUBLE)) AS BIGINT) AS p_at_t_q
        FROM cand),
      costed AS (
        SELECT agg.b, agg.r, fp_q, fn_q, 10 * fn_q + fp_q AS cost_q, p_at_t_q
        FROM agg JOIN patt USING (b, r))"""

  /** Principled LSH banding planner (library `Dedup.lshPlanCurve` —
    * the MMDS S-curve design step that picks (bands, rows) BEFORE a
    * corpus-scale dedup run, upgrading the midpoint heuristic): every
    * config with b·r ≤ 16 hashes scored by midpoint-rule integration
    * of the banding curve on both sides of threshold 0.5, false
    * negatives weighted 10× (a missed pair never reaches verify; a
    * false positive only costs verify compute). Both engines compute
    * identical IEEE multiply chains on dyadic sample points and sum
    * 2⁻²⁰-quantized integers — the full candidate table hash-checks,
    * including the exact integer objective and the argmin choice. */
  val q120 = QueryDef(
    "q120_lsh_plan",
    (s, _) => graft.ops.Dedup.lshPlanCurve(s, threshold = 0.5, maxHashes = 16,
        fnWeight = 10L, steps = 1024)
      .oracleOrderBy("rows_per_band", "bands"),
    Some(s"""WITH $lshPlanCtesDuck,
      best AS (SELECT b AS mb, r AS mr FROM costed ORDER BY cost_q, b, r LIMIT 1)
      SELECT b AS bands, r AS rows_per_band, b * r AS hashes_used,
        round(CAST(p_at_t_q AS DOUBLE) / 1048576, 6) AS p_at_t,
        round(CAST(fp_q AS DOUBLE) / 1048576 / 1024, 6) AS fp_area,
        round(CAST(fn_q AS DOUBLE) / 1048576 / 1024, 6) AS fn_area,
        cost_q, (b = mb AND r = mr) AS chosen
      FROM costed, best
      ORDER BY rows_per_band, bands"""),
    bench = true)

  /** Plan-then-apply (library `Dedup.lshPlanAndBand` — the full
    * design-to-deployment LSH loop: q120 picks the config, this runs
    * it): signatures at the chosen b·r hash count over the corpus,
    * banding candidate pairs via the band equi-joins. The oracle
    * re-derives the argmin config, re-generates the double-hashing
    * signature family at that width (the same h_i = a + i·b 28-bit
    * construction as q29, parametric in i), bands rows by i div r
    * with an ordered string key, and counts the identical distinct
    * pair set. */
  val q121 = QueryDef(
    "q121_lsh_plan_band",
    (s, dir) => graft.ops.Dedup.lshPlanAndBand(
      t(s, dir, "documents"), "doc_id", threshold = 0.5, maxHashes = 16,
      fnWeight = 10L, steps = 1024),
    Some(s"""WITH $lshPlanCtesDuck,
      ch AS (SELECT b AS cb, r AS cr, p_at_t_q, fp_q, fn_q
             FROM costed ORDER BY cost_q, b, r LIMIT 1),
      base AS MATERIALIZED (
        SELECT doc_id, ${hexPolyDuck("m", 1)} AS a, ${hexPolyDuck("m", 9)} AS bb
        FROM (SELECT doc_id, md5(sh) AS m FROM ($shinglesSqlDuck))),
      sigrow AS MATERIALIZED (
        SELECT doc_id, i, min(a + i * bb) AS mh
        FROM base, ch, LATERAL unnest(generate_series(0, CAST(cb AS BIGINT) * cr - 1)) AS t(i)
        GROUP BY doc_id, i),
      bkey AS MATERIALIZED (
        SELECT s.doc_id, s.i // ch.cr AS band,
          string_agg(CAST(s.mh AS VARCHAR), ',' ORDER BY s.i) AS key
        FROM sigrow s, ch GROUP BY s.doc_id, band),
      pairs AS (
        SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
        FROM bkey x JOIN bkey y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_cand_pairs FROM pairs)
      SELECT cb AS bands, cr AS rows_per_band, cb * cr AS hashes_used,
        round(CAST(p_at_t_q AS DOUBLE) / 1048576, 6) AS p_at_t,
        round(CAST(fp_q AS DOUBLE) / 1048576 / 1024, 6) AS fp_area,
        round(CAST(fn_q AS DOUBLE) / 1048576 / 1024, 6) AS fn_area,
        n_cand_pairs
      FROM ch, n"""),
    bench = true)

  /** Top collocations by pointwise mutual information (library
    * `TextAnalysis.pmiCollocations` — multiword-expression mining /
    * tokenizer merge candidates): adjacent-word pairs with count >= 3,
    * `pmi_q = lnq(c12)+lnq(N)-lnq(c1)-lnq(c2)` as per-count 2⁻²⁰
    * quantized logs (order-free BIGINT arithmetic, the library's
    * ln-parity convention), top 50 by `(pmi_q desc, w1, w2)`. The
    * oracle re-derives both count tables, the N normalizer and every
    * quantized-log sum. */
  val q133 = QueryDef(
    "q133_pmi_collocations",
    (s, dir) => {
      graft.ops.TextAnalysis.pmiCollocations(
        t(s, dir, "documents"), "text", minCount = 3L, topK = 50)
        .oracleOrderBy("w1", "w2")
    },
    Some("""WITH tk AS MATERIALIZED (
        SELECT list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
                 w -> len(w) > 0) AS ws
        FROM documents),
      bg AS MATERIALIZED (
        SELECT s['w1'] AS w1, s['w2'] AS w2, count(*) AS c12 FROM (
          SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
            i -> {'w1': ws[i], 'w2': ws[i + 1]})) AS s
          FROM tk WHERE len(ws) >= 2) u
        GROUP BY 1, 2),
      un AS MATERIALIZED (
        SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM tk) u GROUP BY w),
      nn AS (SELECT CAST(round(ln(CAST(sum(c12) AS DOUBLE)) * 1048576.0) AS BIGINT)
               AS lnn FROM bg),
      j AS (
        SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS c12,
          CAST(u1.c AS BIGINT) AS c1, CAST(u2.c AS BIGINT) AS c2,
          CAST(round(ln(CAST(b.c12 AS DOUBLE)) * 1048576.0) AS BIGINT) + nn.lnn
            - CAST(round(ln(CAST(u1.c AS DOUBLE)) * 1048576.0) AS BIGINT)
            - CAST(round(ln(CAST(u2.c AS DOUBLE)) * 1048576.0) AS BIGINT) AS pmi_q
        FROM bg b JOIN un u1 ON u1.w = b.w1 JOIN un u2 ON u2.w = b.w2 CROSS JOIN nn
        WHERE b.c12 >= 3)
      SELECT w1, w2, c12, c1, c2, pmi_q FROM j
      ORDER BY pmi_q DESC, w1, w2 LIMIT 50"""),
    bench = true)

  /** Per-document character entropy (library `TextAnalysis.charEntropy`
    * — the cheap randomness signal that separates prose from base64 /
    * key-mash noise): `H = Σ p·ln(1/p)` over each document's
    * characters, per-term 2⁻²⁰ quantized. The Spark side computes the
    * histogram IN-ROW over the distinct-character set (zero shuffle);
    * the oracle replays the identical per-term arithmetic with list
    * lambdas. Empty/null docs are omitted by contract. */
  val q134 = QueryDef(
    "q134_char_entropy",
    (s, dir) => {
      graft.ops.TextAnalysis.charEntropy(t(s, dir, "documents"), "doc_id", "text")
        .oracleOrderBy("doc_id")
    },
    Some("""WITH cs AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split(text, ''), c -> len(c) > 0) AS cs
        FROM documents),
      t AS (SELECT doc_id, cs, len(cs) AS n, list_distinct(cs) AS ds
            FROM cs WHERE len(cs) > 0)
      SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
        CAST(len(ds) AS BIGINT) AS n_distinct_chars,
        CAST(list_sum(list_transform(ds, d ->
          CAST(round((CAST(len(list_filter(cs, x -> x = d)) AS DOUBLE)
                        / CAST(n AS DOUBLE))
            * ln(CAST(n AS DOUBLE)
                   / CAST(len(list_filter(cs, x -> x = d)) AS DOUBLE))
            * 1048576.0) AS BIGINT))) AS BIGINT) AS entropy_q
      FROM t ORDER BY doc_id"""),
    bench = true)

  /** Greedy bigram-LM rollout (library
    * `TextAnalysis.greedyBigramRollout` — the generation sanity probe
    * and cheapest memorization check against a corpus-trained LM):
    * the bigram maximum-likelihood next-word table, then every
    * vocabulary word's 4-step argmax chain, ties to the
    * lexicographically smallest continuation, dead ends NULL. The
    * oracle re-derives the vocabulary cap, the count tables, the
    * per-head rank and all four chained joins. */
  val q138 = QueryDef(
    "q138_lm_rollout",
    (s, dir) => {
      graft.ops.TextAnalysis.greedyBigramRollout(
        t(s, dir, "documents"), "text", steps = 4)
        .oracleOrderBy("seed")
    },
    Some("""WITH tk AS MATERIALIZED (
        SELECT list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'),
                 w -> len(w) > 0) AS ws
        FROM documents),
      cnt AS MATERIALIZED (
        SELECT w, count(*) AS c FROM (SELECT unnest(ws) AS w FROM tk) u GROUP BY w),
      voc AS MATERIALIZED (
        SELECT w FROM (
          SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rn FROM cnt) rv
        WHERE rn <= 65536),
      bg AS MATERIALIZED (
        SELECT s['mp'] AS mp, s['mc'] AS mc FROM (
          SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
            i -> {'mp': ws[i], 'mc': ws[i + 1]})) AS s
          FROM tk WHERE len(ws) >= 2) u),
      bgv AS (
        SELECT mp, mc, count(*) AS c FROM bg
        WHERE mp IN (SELECT w FROM voc) AND mc IN (SELECT w FROM voc)
        GROUP BY 1, 2),
      nx AS MATERIALIZED (
        SELECT mp, mc AS nw FROM (
          SELECT mp, mc, row_number() OVER (PARTITION BY mp
            ORDER BY c DESC, mc) AS rn FROM bgv) rb
        WHERE rn = 1),
      r AS (
        SELECT v.w AS seed, n1.nw AS s1, n2.nw AS s2, n3.nw AS s3, n4.nw AS s4
        FROM voc v
        LEFT JOIN nx n1 ON n1.mp = v.w
        LEFT JOIN nx n2 ON n2.mp = n1.nw
        LEFT JOIN nx n3 ON n3.mp = n2.nw
        LEFT JOIN nx n4 ON n4.mp = n3.nw)
      SELECT seed, s1, s2, s3, s4,
        concat_ws(' ', seed, s1, s2, s3, s4) AS rollout,
        CAST((CASE WHEN s1 IS NULL THEN 0 ELSE 1 END)
           + (CASE WHEN s2 IS NULL THEN 0 ELSE 1 END)
           + (CASE WHEN s3 IS NULL THEN 0 ELSE 1 END)
           + (CASE WHEN s4 IS NULL THEN 0 ELSE 1 END) AS INT) AS n_steps
      FROM r ORDER BY seed"""),
    bench = true)

  /** Candidate-pair similarity histogram (library
    * `Dedup.similarityHistogram` — the threshold-tuning artifact read
    * before committing a near-dup threshold; q106 scores ONE config
    * against quadratic truth, this profiles the verified-candidate
    * distribution at corpus scale): q30's banded candidates, q31's
    * exact word-set jaccard per candidate, 20 equal-width bins with
    * empty bins emitted. The oracle chains the q29/q30/q31 machinery
    * into the same binning. */
  val q142 = QueryDef(
    "q142_similarity_histogram",
    (s, dir) => {
      graft.ops.Dedup.similarityHistogram(
          t(s, dir, "documents"), "doc_id", bins = 20)
        .select(col("bin"), round(col("lo"), 6).as("lo"),
          round(col("hi"), 6).as("hi"), col("n_pairs"))
        .oracleOrderBy("bin")
    },
    Some(s"""WITH sig AS MATERIALIZED ($sigSqlDuck),
      pairs AS MATERIALIZED (
        SELECT DISTINCT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
            ON a.mh0 = b.mh0 AND a.mh1 = b.mh1 AND a.mh2 = b.mh2 AND a.mh3 = b.mh3
           AND a.doc_id < b.doc_id
          UNION ALL
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
            ON a.mh4 = b.mh4 AND a.mh5 = b.mh5 AND a.mh6 = b.mh6 AND a.mh7 = b.mh7
           AND a.doc_id < b.doc_id) u),
      w AS MATERIALIZED ($wordsSqlDuck),
      n AS (SELECT doc_id, count(*) AS nw FROM w GROUP BY doc_id),
      inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS ni
        FROM pairs p JOIN w wa ON wa.doc_id = p.doc_a
        JOIN w wb ON wb.doc_id = p.doc_b AND wb.w = wa.w
        GROUP BY 1, 2),
      j AS (
        SELECT p.doc_a, p.doc_b,
          CAST(coalesce(i.ni, 0) AS DOUBLE)
            / (na.nw + nb.nw - coalesce(i.ni, 0)) AS jac
        FROM pairs p JOIN n na ON na.doc_id = p.doc_a
        JOIN n nb ON nb.doc_id = p.doc_b
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b),
      bcnt AS (
        SELECT CAST(least(floor(jac * 20), 19.0) AS BIGINT) AS bin,
          count(*) AS n_pairs
        FROM j GROUP BY 1)
      SELECT CAST(r.i AS BIGINT) AS bin,
        round(CAST(r.i AS DOUBLE) / 20, 6) AS lo,
        round(CAST(r.i + 1 AS DOUBLE) / 20, 6) AS hi,
        CAST(coalesce(b.n_pairs, 0) AS BIGINT) AS n_pairs
      FROM range(0, 20) r(i) LEFT JOIN bcnt b ON b.bin = r.i ORDER BY bin"""),
    bench = true)

  val all: Seq[QueryDef] =
    Seq(q24, q25, q26, q27, q28, q29, q30, q31, q32, q55, q56, q57, q60, q61, q62,
      q65, q66, q67, q68, q77, q84, q91, q103, q104, q106, q107, q108, q115,
      q120, q121, q133, q134, q138, q142)
}
