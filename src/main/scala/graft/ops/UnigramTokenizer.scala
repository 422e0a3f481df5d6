package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer (the SentencePiece model family — Kudo 2018,
  * the other production tokenizer beside BPE): a piece vocabulary
  * with log-probabilities, applied by Viterbi best-segmentation
  * instead of BPE's merge loop. This module covers the corpus side:
  * the frequency seed vocabulary (SentencePiece's own starting point
  * before EM pruning) and exact distributed Viterbi scoring under a
  * vocabulary — the pieces of a quality/perplexity signal and of
  * token-budget accounting that don't need the full EM trainer.
  *
  * 100 TB shape: the vocabulary is the driver-resident model (same
  * pattern as the BPE merge table and the IVF/PQ codebooks — bounded
  * by [[UnigramTokenizer.MaxVocab]] with an explicit require);
  * seeding is ONE substring-exploded aggregate over the
  * Zipf-bounded word table plus a TakeOrdered selection; scoring is
  * a narrow per-row expression with a per-thread word LRU — rows
  * never shuffle.
  *
  * All log-probs are 2⁻²⁰-quantized BIGINTs (`lp_q`), so Viterbi
  * sums are exact integers — the fixed-point convention the LM
  * scorers established for engine-parity oracles. */
object UnigramTokenizer {

  /** Ceiling on a collectable vocabulary (driver-resident model). */
  val MaxVocab: Int = 1 << 18

  /** The weighted distinct-word table every corpus pass in this module
    * derives — factored out so [[train]] (and [[shrinkToTarget]]) can
    * tokenize the corpus ONCE and feed the same checkpointed table to
    * the seed and every EM round, instead of re-deriving it per round
    * (the q146 profile: each round re-paid the corpus explode +
    * word aggregate). */
  private def weightedWords(
      docs: DataFrame, textCol: String, maxWordLen: Int): DataFrame =
    docs
      .select(explode(Dedup.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("wc"))

  /** Frequency seed vocabulary: all substrings of length 1..
    * `maxPieceLen` of every whitespace word (≤ `maxWordLen` chars,
    * weighted by word occurrences), keeping EVERY single-character
    * piece (full coverage) plus the `vocabSize` most frequent
    * multi-character pieces (count desc, piece asc — deterministic).
    * `lp_q = round(ln(cnt / total_selected) · 2²⁰)` where the
    * normalizer is the selected pieces' count mass.
    * Returns `(piece, cnt, lp_q)`. */
  def seedVocab(
      docs: DataFrame, textCol: String,
      maxPieceLen: Int = 4, vocabSize: Int = 256,
      maxWordLen: Int = 16): DataFrame =
    seedVocabFromWords(weightedWords(docs, textCol, maxWordLen),
      maxPieceLen, vocabSize, maxWordLen)

  private def seedVocabFromWords(
      words: DataFrame, maxPieceLen: Int, vocabSize: Int,
      maxWordLen: Int): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 16,
      s"maxPieceLen out of [1,16]: $maxPieceLen")
    require(vocabSize >= 1 && vocabSize <= MaxVocab,
      s"vocabSize out of [1,$MaxVocab]: $vocabSize")
    require(maxWordLen >= maxPieceLen,
      s"maxWordLen ($maxWordLen) must be >= maxPieceLen ($maxPieceLen)")
    val subs = words
      .select(col("wc"), explode(flatten(transform(
        sequence(lit(0), length(col("w")) - 1),
        i => transform(
          sequence(lit(1), least(lit(maxPieceLen), length(col("w")) - i)),
          l => substr(col("w"), i + 1, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("cnt"))
      .localCheckpoint(false) // feeds chars, the top-K sort, and nothing else twice
    val sel = subs.filter(length(col("piece")) === 1)
      .unionByName(subs.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(vocabSize))
      .localCheckpoint(false) // feeds the normalizer agg AND the output
    val tot = sel.agg(sum("cnt").as("__tot")).withColumn("__k", lit(1))
    sel.withColumn("__k", lit(1)).join(broadcast(tot), Seq("__k"))
      .select(col("piece"), col("cnt"),
        round(log(col("cnt").cast("double") / col("__tot").cast("double"))
          * 1048576.0d).cast("long").as("lp_q"))
  }

  /** Collect a `(piece, …, lp_q)` vocabulary frame into the
    * driver-resident model, under the [[MaxVocab]] guard. */
  def buildVocab(vocabDf: DataFrame): graft.plans.UnigramVocab = {
    val proj = vocabDf.select(col("piece"), col("lp_q").cast("long"))
    val n = proj.count()
    require(n <= MaxVocab,
      s"vocabulary has $n pieces (> $MaxVocab) — a unigram vocab is a " +
        "driver-resident model; cap the selection before building")
    graft.plans.UnigramVocab(
      proj.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq)
  }

  /** Best-segmentation pieces of ONE already-normalized word (or a
    * whitespace-joined run of them) — see
    * [[graft.plans.UnigramSegment]]. Returns `array<string>`. */
  def segmentCol(
      word: Column, vocab: graft.plans.UnigramVocab,
      unkLpQ: Long, maxWordLen: Int): Column = {
    graft.plans.UnigramScore.register(org.apache.spark.sql.SparkSession.active)
    call_function("graft_unigram_pieces", word,
      typedLit(vocab.pieces.map(_._1)), typedLit(vocab.pieces.map(_._2)),
      lit(unkLpQ), lit(maxWordLen))
  }

  /** One Viterbi-EM round (the SentencePiece training step this
    * module's seed/score halves were built toward — Kudo 2018 §3.2's
    * EM loop in its hard-EM form): segment every distinct corpus word
    * under the CURRENT vocabulary, credit each vocabulary piece with
    * the word-occurrence-weighted number of times it appears in a
    * best segmentation (the Viterbi E step), then re-estimate
    * `lp_q = round(ln((cnt + delta) / (total + delta·K)) · 2²⁰)` over
    * the kept pieces (Laplace-`delta` M step, exact-integer
    * quantization) and PRUNE: multi-character pieces used fewer than
    * `minCount` times drop; single-character pieces always stay (the
    * SentencePiece required-character rule — coverage survives any
    * number of rounds). UNK fallback pieces (characters outside the
    * vocabulary) are never adopted — EM re-weights the existing
    * vocabulary. Output `(piece, cnt, lp_q)` chains: feed it back via
    * [[buildVocab]] for the next round.
    *
    * 100 TB shape: ONE aggregate to the Zipf-bounded distinct-word
    * table, segmentation as a narrow expression over THAT table (the
    * corpus is never re-read per round), a piece-keyed aggregate
    * bounded by the vocabulary, and a broadcast of the single-row
    * normalizer — the same bounded-model discipline as [[seedVocab]].
    * Words longer than `maxWordLen` code points are excluded, exactly
    * as [[score]] excludes them (`n_long`). */
  def emRound(
      docs: DataFrame, textCol: String, vocabDf: DataFrame,
      unkLnProb: Double = -25.0, maxWordLen: Int = 16,
      minCount: Long = 1L, delta: Double = 1.0): DataFrame =
    emRoundFromWords(weightedWords(docs, textCol, maxWordLen), vocabDf,
      unkLnProb, maxWordLen, minCount, delta)

  private def emRoundFromWords(
      words: DataFrame, vocabDf: DataFrame,
      unkLnProb: Double, maxWordLen: Int,
      minCount: Long, delta: Double): DataFrame = {
    require(unkLnProb < 0, s"unkLnProb must be negative, got $unkLnProb")
    require(minCount >= 0, s"minCount must be >= 0, got $minCount")
    require(delta > 0, s"delta must be > 0, got $delta")
    val vocab = buildVocab(vocabDf)
    val unkQ = math.round(unkLnProb * 1048576.0d)
    val cnts = words
      .select(col("wc"),
        explode(segmentCol(col("w"), vocab, unkQ, maxWordLen)).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("cnt_em"))
    val kept = vocabDf.select(col("piece"))
      .join(cnts, Seq("piece"), "left")
      .withColumn("cnt", coalesce(col("cnt_em"), lit(0L)))
      .filter(length(col("piece")) === 1 || col("cnt") >= minCount)
      .select(col("piece"), col("cnt"))
      .localCheckpoint(false) // feeds the normalizer agg AND the output
    // the normalizer is ONE row over the vocabulary-bounded kept
    // table — bake it as literals (this op already collects the
    // vocabulary, and a constant-key join of a single row plans as a
    // nested-loop build): denominator spelled tot + delta·K, the
    // exact arithmetic the DuckDB replay performs
    val totRow = kept.agg(sum("cnt"), count(lit(1))).collect().head
    require(totRow.getLong(1) > 0,
      "the vocabulary pruned to nothing this round — every piece was " +
        "multi-char AND below minCount (single-char pieces survive " +
        "unconditionally). Lower minCount, or seed the vocabulary with " +
        "single-char coverage pieces (seedVocab always includes them).")
    val totD = (if (totRow.isNullAt(0)) 0L else totRow.getLong(0)).toDouble
    val denom = totD + delta * totRow.getLong(1).toDouble
    kept.select(col("piece"), col("cnt"),
      round(log((col("cnt").cast("double") + lit(delta)) / lit(denom))
        * 1048576.0d).cast("long").as("lp_q"))
  }

  /** The multi-round trainer: [[seedVocab]] then `rounds` chained
    * [[emRound]]s (each round's output feeds the next — lineage is
    * cut per round by emRound's checkpoint, so plans stay flat).
    * `rounds = 0` returns the seed unchanged. Returns the final
    * `(piece, cnt, lp_q)` table — [[buildVocab]] it for scoring. */
  def train(
      docs: DataFrame, textCol: String, rounds: Int = 2,
      maxPieceLen: Int = 4, vocabSize: Int = 256, maxWordLen: Int = 16,
      unkLnProb: Double = -25.0, minCount: Long = 1L,
      delta: Double = 1.0): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    // ONE corpus tokenize pass for the seed AND every round — the
    // word table is the same frame each step derives, checkpointed
    // lazily (materializes inside the seed's first action)
    val words = weightedWords(docs, textCol, maxWordLen).localCheckpoint(false)
    var v = seedVocabFromWords(words, maxPieceLen, vocabSize, maxWordLen)
    var i = 0
    while (i < rounds) {
      v = emRoundFromWords(words, v, unkLnProb, maxWordLen, minCount, delta)
      i += 1
    }
    v
  }

  /** Per-piece likelihood-loss column — the SentencePiece shrink
    * question for one multi-char piece: `alt_q` is the best
    * segmentation score of the piece's OWN surface with the full-span
    * candidate banned (the piece removed from the vocabulary — see
    * [[graft.plans.UnigramAltScore]]); NULL for single-char pieces. */
  private def altScoreCol(
      piece: Column, vocab: graft.plans.UnigramVocab, unkLpQ: Long): Column = {
    graft.plans.UnigramScore.register(org.apache.spark.sql.SparkSession.active)
    call_function("graft_unigram_alt", piece,
      typedLit(vocab.pieces.map(_._1)), typedLit(vocab.pieces.map(_._2)),
      lit(unkLpQ))
  }

  /** The vocabulary with per-piece pruning losses attached:
    * `loss_q = cnt · (lp_q − alt_q)` for multi-char pieces (how much
    * total corpus log-likelihood the vocabulary loses if the piece's
    * occurrences re-segment through the remaining pieces — Kudo
    * 2018 §3.2's pruning criterion in its Viterbi approximation),
    * NULL for single-char pieces (never pruned — coverage). Exact
    * integers end to end. Emits `(piece, cnt, lp_q, alt_q, loss_q)`;
    * model-sized work (the vocab probes itself under the expression),
    * no corpus pass. */
  def pieceLosses(
      vocabDf: DataFrame, unkLnProb: Double = -25.0): DataFrame = {
    require(unkLnProb < 0, s"unkLnProb must be negative, got $unkLnProb")
    val vocab = buildVocab(vocabDf)
    val unkQ = math.round(unkLnProb * 1048576.0d)
    vocabDf.select(col("piece"), col("cnt"), col("lp_q"))
      .withColumn("alt_q", altScoreCol(col("piece"), vocab, unkQ))
      .withColumn("loss_q",
        when(length(col("piece")) > 1,
          col("cnt") * (col("lp_q") - col("alt_q"))))
  }

  /** Prune the vocabulary to at most `targetVocab` pieces by
    * likelihood loss: every single-char piece is retained (the
    * SentencePiece required-character rule), multi-char pieces keep
    * the `targetVocab − n_single` most valuable by
    * (loss_q desc, piece asc) — the deterministic total order the
    * DuckDB replay ranks by. Log-probs pass through UNCHANGED;
    * re-estimate after pruning ([[shrinkRound]] chains [[emRound]]).
    * Returns `(piece, cnt, lp_q)`. */
  def pruneByLoss(
      vocabDf: DataFrame, targetVocab: Int,
      unkLnProb: Double = -25.0): DataFrame = {
    require(targetVocab >= 1 && targetVocab <= MaxVocab,
      s"targetVocab out of [1,$MaxVocab]: $targetVocab")
    val losses = pieceLosses(vocabDf, unkLnProb)
      .localCheckpoint(false) // feeds the single-count agg AND both arms
    val nSingle = losses.filter(length(col("piece")) === 1).count()
    require(targetVocab >= nSingle,
      s"targetVocab ($targetVocab) below the single-char floor " +
        s"($nSingle pieces) — single-char coverage is never pruned")
    val keepMulti = (targetVocab - nSingle).toInt
    losses.filter(length(col("piece")) === 1)
      .select(col("piece"), col("cnt"), col("lp_q"))
      .unionByName(losses.filter(length(col("piece")) > 1)
        .orderBy(col("loss_q").desc, col("piece")).limit(keepMulti)
        .select(col("piece"), col("cnt"), col("lp_q")))
  }

  /** One shrink step: prune to `targetVocab` by likelihood loss, then
    * re-estimate with a full [[emRound]] (every corpus word
    * re-segments under the survivors, usage re-credits, log-probs
    * re-quantize). The returned table chains like any round output. */
  def shrinkRound(
      docs: DataFrame, textCol: String, vocabDf: DataFrame,
      targetVocab: Int, unkLnProb: Double = -25.0, maxWordLen: Int = 16,
      minCount: Long = 1L, delta: Double = 1.0): DataFrame =
    emRound(docs, textCol, pruneByLoss(vocabDf, targetVocab, unkLnProb),
      unkLnProb, maxWordLen, minCount, delta)

  /** Shrink-to-target: the SentencePiece vocabulary schedule — repeat
    * (prune the lowest-loss multi-char pieces, re-estimate) until the
    * vocabulary fits `targetVocab`. Each round keeps at most
    * `shrinkKeep` of the surviving multi-char pieces (Kudo's gradual
    * schedule: pruning everything at once mis-ranks pieces whose loss
    * changes as their neighbors disappear), floored at the target so
    * the last round lands exactly. Terminates: `floor(m·shrinkKeep) <
    * m` for every m ≥ 1. Without this, [[train]]'s zero-use pruning
    * leaves the vocabulary seed-sized — the trained vocab was never
    * CHOSEN. Returns the final `(piece, cnt, lp_q)`. */
  def shrinkToTarget(
      docs: DataFrame, textCol: String, vocabDf: DataFrame,
      targetVocab: Int, shrinkKeep: Double = 0.75,
      unkLnProb: Double = -25.0, maxWordLen: Int = 16,
      minCount: Long = 1L, delta: Double = 1.0): DataFrame = {
    require(shrinkKeep > 0.0 && shrinkKeep < 1.0,
      s"shrinkKeep out of (0,1): $shrinkKeep")
    // one corpus tokenize pass shared by every shrink round (see train)
    val words = weightedWords(docs, textCol, maxWordLen).localCheckpoint(false)
    var v = vocabDf
    var total = v.count()
    while (total > targetVocab) {
      val nSingle = v.filter(length(col("piece")) === 1).count()
      require(targetVocab >= nSingle,
        s"targetVocab ($targetVocab) below the single-char floor ($nSingle)")
      val multis = (total - nSingle).toInt
      val keep = math.max(targetVocab - nSingle.toInt,
        (multis * shrinkKeep).toInt)
      v = emRoundFromWords(words,
        pruneByLoss(v, nSingle.toInt + keep, unkLnProb),
        unkLnProb, maxWordLen, minCount, delta)
      total = v.count()
    }
    v
  }

  /** The deterministic piece→id table — the unigram stack's
    * [[graft.plans.BpeVocab.idTableRows]]: `<unk>` at 0, the word
    * boundary `<w>` at 1, the distinct pieces SORTED at 2.. (see
    * [[graft.plans.UnigramVocab.idTableRows]] for why sorted order —
    * a `.vocab` artifact carries no ids, so the library's table is
    * the deterministic one shared by tokenize/decode/pack/
    * decontaminate). Returns `(piece, id)` rows for the dataloader's
    * sidecar vocabulary dump. */
  def idTableRows(vocab: graft.plans.UnigramVocab): Seq[(String, Int)] =
    vocab.idTableRows

  /** Unigram segmentation straight to vocabulary IDS (`array<int>`)
    * — the SentencePiece-family twin of
    * [[TextAnalysis.bpeTokenIds]]: each word of `trim(lower(text))`
    * segments by the [[score]] DP and maps through the deterministic
    * [[idTableRows]] table; unknown single-char fallbacks emit id 0,
    * word boundaries id 1, and words longer than `maxWordLen` code
    * points are excluded (the `n_long` rule). Feed the result to
    * [[Packing.packTokenIds]] for id shards and to
    * [[TextAnalysis.decontaminateIds]] for id-level hygiene — the
    * q117/q183 pipeline under a SentencePiece-family model. */
  def tokenIds(
      text: Column, vocab: graft.plans.UnigramVocab,
      unkLnProb: Double = -25.0, maxWordLen: Int = 16): Column = {
    require(unkLnProb < 0, s"unkLnProb must be negative, got $unkLnProb")
    graft.plans.UnigramScore.register(org.apache.spark.sql.SparkSession.active)
    call_function("graft_unigram_ids", trim(lower(text)),
      typedLit(vocab.pieces.map(_._1)), typedLit(vocab.pieces.map(_._2)),
      lit(math.round(unkLnProb * 1048576.0d)), lit(maxWordLen))
  }

  /** Decode unigram vocabulary ids back to text — the inverse of
    * [[tokenIds]] on its image: `decodeIds(tokenIds(text)) ==` the
    * normalized text's space-joined words (long words excluded at
    * encode). An id with no inverse — `<unk>`, out-of-range, NULL —
    * yields NULL for the whole row ([[TextAnalysis.bpeDecodeIds]]'s
    * loud posture). */
  def decodeIds(ids: Column, vocab: graft.plans.UnigramVocab): Column = {
    graft.plans.UnigramScore.register(org.apache.spark.sql.SparkSession.active)
    call_function("graft_unigram_decode", ids,
      typedLit(vocab.pieces.map(_._1)), typedLit(vocab.pieces.map(_._2)))
  }

  /** Viterbi score column over `trim(lower(text))` — see
    * [[graft.plans.UnigramScore]] for the exact DP and tie-break.
    * Returns a struct `(score_q, n_pieces, n_words, n_long)`. */
  def scoreCol(
      text: Column, vocab: graft.plans.UnigramVocab,
      unkLpQ: Long, maxWordLen: Int): Column = {
    graft.plans.UnigramScore.register(org.apache.spark.sql.SparkSession.active)
    call_function("graft_unigram", trim(lower(text)),
      typedLit(vocab.pieces.map(_._1)), typedLit(vocab.pieces.map(_._2)),
      lit(unkLpQ), lit(maxWordLen))
  }

  /** Per-document Viterbi segmentation report under `vocab`:
    * `(…, score_q, n_pieces, n_words, n_long, avg_nll)` where
    * `avg_nll = −score_q/2²⁰/n_pieces` (NULL when nothing scored).
    * `unkLnProb` is the per-character fallback log-prob for
    * characters outside the vocabulary. */
  def score(
      docs: DataFrame, textCol: String,
      vocab: graft.plans.UnigramVocab,
      unkLnProb: Double = -25.0, maxWordLen: Int = 16): DataFrame = {
    require(unkLnProb < 0, s"unkLnProb must be negative, got $unkLnProb")
    val unkQ = math.round(unkLnProb * 1048576.0d)
    docs
      .withColumn("__u", scoreCol(col(textCol), vocab, unkQ, maxWordLen))
      .withColumn("score_q", col("__u.score_q"))
      .withColumn("n_pieces", col("__u.n_pieces"))
      .withColumn("n_words", col("__u.n_words"))
      .withColumn("n_long", col("__u.n_long"))
      .withColumn("avg_nll",
        when(col("n_pieces") > 0,
          -(col("score_q").cast("double") / 1048576.0d) / col("n_pieces")))
      .drop("__u")
  }

  /** Serialize a trained unigram vocabulary to the standard
    * SentencePiece `.vocab` text artifact — one `piece<TAB>log_prob`
    * line per piece with `<unk>` FIRST (the SentencePiece convention;
    * its score carries the model's unknown-character log-prob), then
    * the pieces in vocabulary order. This is the unigram stack's
    * `BpeVocab.toGpt2Lines`: the trained model can leave the cluster
    * and load anywhere the format does. Log-probs print as
    * shortest-round-trip doubles of `lp_q/2²⁰` — the quantized values
    * are exact doubles and Java's shortest representation
    * round-trips, so [[fromSentencePieceLines]] recovers every `lp_q`
    * BIT-EXACTLY and a re-imported model segments identically. Fails
    * loudly on anything the format cannot represent: a piece with an
    * embedded tab/newline/carriage-return, a duplicate piece (the
    * parse would silently keep one), or a literal piece spelled
    * `<unk>` (reserved line). */
  def toSentencePieceLines(
      vocab: graft.plans.UnigramVocab, unkLpQ: Long): Seq[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    vocab.pieces.foreach { case (p, _) =>
      require(!p.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"piece '${p.flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)}' " +
          "contains a tab or newline — not representable in the " +
          "tab-separated .vocab format")
      require(p != "<unk>",
        "a literal piece '<unk>' collides with the reserved unknown entry")
      require(seen.add(p),
        s"duplicate piece '$p' — the artifact would silently drop one")
    }
    def fmt(q: Long): String = (q.toDouble / 1048576.0d).toString
    s"<unk>\t${fmt(unkLpQ)}" +:
      vocab.pieces.map { case (p, q) => s"$p\t${fmt(q)}" }
  }

  /** Parse a `.vocab` artifact back into `(vocabulary, unkLpQ)` — the
    * exact inverse of [[toSentencePieceLines]] (bit-parity round-trip
    * on every `lp_q`), accepting any artifact in the piece-TAB-score
    * shape with the conventional `<unk>` head line. Loud errors name
    * the offending 1-based line. */
  def fromSentencePieceLines(
      lines: Seq[String]): (graft.plans.UnigramVocab, Long) = {
    require(lines.nonEmpty, "empty .vocab artifact")
    def parse(line: String, i: Int): (String, Long) = {
      val cut = line.lastIndexOf('\t')
      require(cut > 0, s".vocab line ${i + 1} is not piece<TAB>log_prob: '$line'")
      val lp = try line.substring(cut + 1).toDouble catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s".vocab line ${i + 1} has an unparseable log-prob: '$line'", e)
      }
      // lp_q/2^20 scales back exactly (power-of-two exponent shift on
      // an exact double), so round() recovers the original integer
      (line.substring(0, cut), math.round(lp * 1048576.0d))
    }
    val (unkPiece, unkQ) = parse(lines.head, 0)
    require(unkPiece == "<unk>",
      s"the first .vocab line must be the <unk> entry, got '${lines.head}'")
    val pieces = lines.zipWithIndex.drop(1).map { case (l, i) => parse(l, i) }
    val dup = pieces.groupBy(_._1).collectFirst { case (p, g) if g.size > 1 => p }
    require(dup.isEmpty, s"duplicate piece '${dup.getOrElse("")}' in the artifact")
    (graft.plans.UnigramVocab(pieces), unkQ)
  }
}
