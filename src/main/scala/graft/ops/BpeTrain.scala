package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{BpeSymbols, BpeVocab}

/** Greedy BPE merge-table TRAINING (Sennrich et al. 2016 — the learning
  * half of the tokenizer; [[graft.plans.BpeTokenize]] is the applying
  * half): pre-tokenize the corpus with the GPT-2 pattern, collapse to
  * DISTINCT pieces with occurrence weights, then repeat `numMerges`
  * times: count adjacent symbol pairs (weighted by piece frequency),
  * pick the max-count pair with a deterministic tie-break (count desc,
  * then pair lexicographic — byte order, the same collation Spark,
  * DuckDB and a plain string sort all agree on), and merge every
  * left-to-right non-overlapping occurrence of it in every piece.
  *
  * Engine-portable determinism: every quantity is an exact integer
  * (weighted pair counts) and the tie-break is total, so the learned
  * table is bit-identical on any partitioning and re-derivable
  * relationally round by round — the q80 oracle replays the exact
  * loop in DuckDB.
  *
  * 100 TB shape: the corpus is touched ONCE (pre-tokenize + piece
  * count — one shuffle keyed by piece with map-side partial agg); all
  * training rounds run on the DISTINCT-piece table, which is
  * vocabulary-bounded (Zipf), not corpus-bounded. Each round is one
  * pair-space-bounded aggregate (map-side partials collapse to at most
  * |symbol-vocab|^2 rows per task), one TakeOrdered(1) — never a
  * global sort — and one narrow per-row merge pass, checkpointed so
  * the plan stays linear across rounds (the `trainCodebook` /
  * `connectedComponents` bounded-rounds pattern). Real tokenizers run
  * tens of thousands of merges; each round is cheap here (the working
  * set is the piece table), but the loop is inherently sequential —
  * train on a SAMPLE of a 100 TB corpus, as every production tokenizer
  * pipeline does, rather than scaling rounds to the full corpus.
  */
object BpeTrain {

  /** One learned merge: `rank` is the merge order (0-based — exactly
    * the merges.txt line order), `pairCount` the weighted adjacent-pair
    * count that won the round. */
  final case class LearnedMerge(rank: Int, left: String, right: String, pairCount: Long)

  /** The ONE corpus-wide pass shared by every trainer: pre-tokenize,
    * collapse to distinct weighted pieces, attach symbol arrays, drop
    * single-symbol pieces (they never pair), checkpoint. */
  private def piecesFrame(
      df: DataFrame, textCol: String, byteLevel: Boolean): DataFrame = {
    BpeSymbols.register(df.sparkSession)
    df.select(explode(regexp_extract_all(
        col(textCol), lit(graft.ops.TextAnalysis.BpePattern), lit(0))).as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("w"))
      .select(call_function("graft_bpe_syms", col("piece"), lit(byteLevel)).as("syms"),
        col("w"))
      .filter(size(col("syms")) >= 2)
      .localCheckpoint(false)
  }

  /** One distributed round's argmax: weighted adjacent-pair counts via
    * the staggered-slice zip (no outer-column lambda references),
    * map-side partials over the bounded pair space, TakeOrdered(1) —
    * never a global sort. None = no pair reaches `minPairCount`. */
  private def bestPairOf(
      words: DataFrame, minPairCount: Long): Option[(String, String, Long)] = {
    val best = words
      .select(col("w"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("w").as("c"))
      .filter(col("c") >= minPairCount)
      .orderBy(col("c").desc, col("l"), col("r"))
      .limit(1)
      .collect()
    best.headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
  }

  /** Learn `numMerges` merges from `df`'s `textCol`. Stops early when
    * no adjacent pair reaches `minPairCount` (default 2 — a merge
    * occurring once compresses nothing). */
  def train(
      df: DataFrame, textCol: String, numMerges: Int,
      byteLevel: Boolean = true, minPairCount: Long = 2L): Seq[LearnedMerge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    var words = piecesFrame(df, textCol, byteLevel)

    val out = Seq.newBuilder[LearnedMerge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val best = bestPairOf(words, minPairCount)
      if (best.isEmpty) done = true
      else {
        val (l, r, c) = best.get
        out += LearnedMerge(rank, l, r, c)
        words = words
          .withColumn("syms", applyMerge(col("syms"), l, r))
          .filter(size(col("syms")) >= 2) // fully-merged pieces retire
          .localCheckpoint(false)
        rank += 1
      }
    }
    out.result()
  }

  /** Driver piece-table ceiling for [[trainFast]] — the library's
    * usual explicit-guard discipline for driver-resident state
    * (`Dsir.MaxBuckets` et al.). 2M distinct pre-tokenizer pieces at
    * tens of bytes each is low hundreds of MB; a corpus whose
    * distinct-piece table exceeds this should train with [[train]]
    * (or on a sample, as production tokenizer pipelines do). */
  val MaxPieces: Long = 1L << 21

  /** [[train]] with the greedy rounds run DRIVER-side: the ONE
    * distributed corpus pass (pre-tokenize + piece count) is
    * unchanged, then the vocabulary-bounded weighted piece table is
    * collected (under the [[MaxPieces]] guard) and the classic
    * incremental pair-count loop with a lazily-invalidated max-heap
    * learns the merges — no per-merge Spark job round-trips.
    *
    * Bit-identical to [[train]] by construction: the same distributed
    * expressions produce the pieces AND their initial symbol arrays
    * (`graft_bpe_syms`), the same exact-integer weighted pair counts,
    * and the same total tie-break (count desc, then left/right in
    * UTF-8 byte order — compared on bytes here because Spark's ORDER
    * BY is binary UTF-8, not Java's UTF-16 `compareTo`). OpsSpec
    * asserts equality with the distributed loop merge-for-merge,
    * including tie rounds and the early stop.
    *
    * Crossover: [[train]] costs one Spark job round-trip per merge
    * (~100 ms floor each — 32k merges is hours regardless of data
    * size); this costs one collect plus microseconds per merge, so it
    * wins from a few dozen merges up, i.e. for every real tokenizer.
    * Use [[train]] only when the distinct-piece table genuinely
    * cannot sit on the driver (the guard will say so). */
  def trainFast(
      df: DataFrame, textCol: String, numMerges: Int,
      byteLevel: Boolean = true, minPairCount: Long = 2L,
      maxPieces: Long = MaxPieces): Seq[LearnedMerge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    // the identical ONE corpus-wide pass as train's, symbols included
    val pieces = piecesFrame(df, textCol, byteLevel)
    val nPieces = pieces.count()
    require(nPieces <= maxPieces,
      s"trainFast collects the distinct-piece table to the driver: got " +
        s"$nPieces pieces (> $maxPieces) — raise maxPieces deliberately, " +
        "train on a sample, use trainHybrid (distributed rounds until the " +
        "table fits), or fall back to the distributed train()")
    val rows = pieces.collect()
    val words = rows.map(_.getSeq[String](0).toArray)
    val weights = rows.map(_.getLong(1))
    driverGreedyLoop(words, weights, numMerges, minPairCount)
  }

  /** [[trainFast]] without the cliff: when the distinct-piece table
    * exceeds `maxPieces` (a 100 TB multilingual corpus can), run the
    * DISTRIBUTED merge rounds first — each merge retires pieces that
    * collapse to a single symbol, and frequent words collapse first,
    * so the table shrinks round over round — and switch to the driver
    * heap loop the moment the survivors fit. Bit-identical to [[train]]
    * by construction: both phases implement the same recurrence over
    * the same exact-integer counts and (count desc, l, r) UTF-8
    * tie-break, and the driver phase resumes from the post-merge
    * symbol state with the remaining budget (OpsSpec asserts
    * merge-for-merge equality across the crossover). The per-round
    * `count()` is one job over the already-checkpointed piece table —
    * noise against the round's aggregate, and it makes the switch
    * exact. `switchProbe` is instrumentation (tests, profiling):
    * called once with (merges done distributed, pieces collected) iff
    * the driver phase starts. */
  def trainHybrid(
      df: DataFrame, textCol: String, numMerges: Int,
      byteLevel: Boolean = true, minPairCount: Long = 2L,
      maxPieces: Long = MaxPieces,
      switchProbe: (Int, Long) => Unit = (_, _) => ()): Seq[LearnedMerge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    var words = piecesFrame(df, textCol, byteLevel)
    val out = Seq.newBuilder[LearnedMerge]
    var rank = 0
    var done = false
    var n = words.count()
    while (n > maxPieces && rank < numMerges && !done) {
      bestPairOf(words, minPairCount) match {
        case None => done = true
        case Some((l, r, c)) =>
          out += LearnedMerge(rank, l, r, c)
          words = words
            .withColumn("syms", applyMerge(col("syms"), l, r))
            .filter(size(col("syms")) >= 2)
            .localCheckpoint(false)
          rank += 1
          n = words.count()
      }
    }
    if (!done && rank < numMerges) {
      switchProbe(rank, n)
      val rows = words.collect()
      out ++= driverGreedyLoop(
        rows.map(_.getSeq[String](0).toArray), rows.map(_.getLong(1)),
        numMerges - rank, minPairCount, rankOffset = rank)
    }
    out.result()
  }

  /** Spark's string ORDER BY compares binary UTF-8; Java's
    * `String.compareTo` compares UTF-16 code units, which disagrees
    * for supplementary characters — so the driver tie-break compares
    * the encoded bytes. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The classic incremental BPE learner over the collected piece
    * table: per-pair weighted counts, a word index per pair, and a
    * max-heap with lazy invalidation (every count change pushes a
    * fresh entry; popped entries are discarded unless they match the
    * live count — so the valid top IS the argmax under the same
    * (count desc, l, r) total order the distributed loop sorts by). */
  private def driverGreedyLoop(
      words: Array[Array[String]], weights: Array[Long],
      numMerges: Int, minPairCount: Long,
      rankOffset: Int = 0): Seq[LearnedMerge] = {
    import scala.collection.mutable
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occurs = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    val heapOrd = new Ordering[(Long, String, String)] {
      def compare(p: (Long, String, String), q: (Long, String, String)): Int = {
        if (p._1 != q._1) java.lang.Long.compare(p._1, q._1) // bigger count wins
        else {
          val cl = utf8Compare(p._2, q._2)
          if (cl != 0) -cl else -utf8Compare(p._3, q._3) // smaller string wins
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)

    def addWordPairs(idx: Int, sign: Long, touched: mutable.Set[(String, String)]): Unit = {
      val s = words(idx); val w = weights(idx) * sign
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val nc = counts.getOrElse(p, 0L) + w
        if (nc <= 0L) counts.remove(p) else counts(p) = nc
        if (sign > 0) occurs.getOrElseUpdate(p, mutable.Set.empty) += idx
        touched += p
        i += 1
      }
    }
    locally {
      val init = mutable.Set.empty[(String, String)]
      var idx = 0
      while (idx < words.length) { addWordPairs(idx, 1L, init); idx += 1 }
      init.foreach(p => heap.enqueue((counts(p), p._1, p._2)))
    }

    // the same left-to-right non-overlapping merge as applyMerge
    def mergeWord(s: Array[String], l: String, r: String): Array[String] = {
      val out = Array.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { out += (l + r); i += 2 }
        else { out += s(i); i += 1 }
      }
      out.result()
    }

    val out = Seq.newBuilder[LearnedMerge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // pop to the first live entry (count matches the current map)
      var best: Option[(Long, String, String)] = None
      while (best.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (counts.getOrElse((e._2, e._3), 0L) == e._1) best = Some(e)
      }
      best match {
        case Some((c, l, r)) if c >= minPairCount =>
          out += LearnedMerge(rankOffset + rank, l, r, c)
          val touched = mutable.Set.empty[(String, String)]
          val affected = occurs.getOrElse((l, r), mutable.Set.empty).toArray
          affected.foreach { idx =>
            val s = words(idx)
            var has = false
            var i = 0
            while (!has && i < s.length - 1) {
              if (s(i) == l && s(i + 1) == r) has = true; i += 1
            }
            if (has) { // occurs entries can be stale — verify first
              addWordPairs(idx, -1L, touched)
              words(idx) = mergeWord(s, l, r)
              addWordPairs(idx, 1L, touched)
            }
          }
          occurs.remove((l, r))
          touched.foreach { p =>
            val nc = counts.getOrElse(p, 0L)
            if (nc > 0L) heap.enqueue((nc, p._1, p._2))
          }
          rank += 1
        case _ => done = true // heap dry or best below the floor
      }
    }
    out.result()
  }

  /** [[train]] packaged as a ready-to-apply [[BpeVocab]] — feeds
    * [[TextAnalysis.bpeTokens]] unchanged. `fast = true` learns the
    * identical table via [[trainFast]]'s driver loop (the default for
    * real merge counts). */
  def trainVocab(
      df: DataFrame, textCol: String, numMerges: Int,
      byteLevel: Boolean = true, minPairCount: Long = 2L,
      fast: Boolean = false): BpeVocab = {
    val merges = if (fast) trainFast(df, textCol, numMerges, byteLevel, minPairCount)
      else train(df, textCol, numMerges, byteLevel, minPairCount)
    require(merges.nonEmpty,
      s"BPE training learned no merges (no adjacent pair reached " +
        s"minPairCount=$minPairCount) — the corpus is empty or degenerate")
    BpeVocab(merges.sortBy(_.rank).map(m => m.left -> m.right), byteLevel)
  }

  /** Merge every left-to-right non-overlapping occurrence of `(l, r)`
    * in a symbol array — the BPE apply step, as a narrow fold: the
    * accumulator carries the emitted prefix plus one pending symbol,
    * so a merged composite is never itself re-merged in the same pass
    * ("a a a" under (a,a) yields ["aa","a"], not ["aa","aa"]). The
    * lambda touches only its accumulator and element (no outer-column
    * references — the Catalyst inlining trap). O(len^2) array appends
    * per piece per round is fine: pieces are pre-tokenizer words. */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val emptyOut = expr("CAST(array() AS array<string>)")
    val noPending = lit(null).cast("string")
    aggregate(
      syms,
      struct(emptyOut.as("out"), noPending.as("prev")),
      (acc, x) => {
        val outA = acc.getField("out")
        val prev = acc.getField("prev")
        when(prev.isNull, struct(outA.as("out"), x.as("prev")))
          .when(prev === lit(l) && x === lit(r),
            struct(concat(outA, array(lit(l + r))).as("out"), noPending.as("prev")))
          .otherwise(struct(concat(outA, array(prev)).as("out"), x.as("prev")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("prev")))))
  }
}
