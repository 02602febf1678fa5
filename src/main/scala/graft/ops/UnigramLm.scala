package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed Unigram-LM (SentencePiece-style) tokenizer training —
  * the OTHER production tokenizer family next to BPE (Kudo 2018,
  * *Subword Regularization*), re-expressed with the same corpus-scale
  * split as [[Bpe]]: the 100 TB corpus collapses ONCE to its word
  * vocabulary (word, freq) — a many-orders-of-magnitude reduction — and
  * every EM iteration runs on that small frame only.
  *
  * Hard-EM loop, integer-exact end to end:
  *  - SEED: every word substring up to [[MaxPieceLen]] chars, counted by
  *    Σ freq over all (overlapping) occurrences; ALL single chars join
  *    the vocabulary (segmentability guarantee) plus the top `seedMultiK`
  *    multi-char pieces by (count desc, piece asc).
  *  - E-step: per DISTINCT word, Viterbi segmentation maximizing the sum
  *    of micro-fixed-point log-probs (`⌊ln(c/total)·10⁶ + ½⌋` — the one
  *    micro-rounded ln, the repo's portable-float pattern from
  *    token_pmi), ties broken toward the SMALLEST start index. The piece
  *    table broadcasts; the pass is one flatMap over the vocab frame.
  *  - M-step: Viterbi piece counts aggregate (one bounded hash agg —
  *    the result is vocabulary-sized, the bounded-collect family
  *    precedent from BPE's per-round argmax); singles persist with their
  *    count clamped to ≥ 1, multis prune to the top ⌈3m/4⌉ used pieces
  *    (count desc, piece asc) — the bottom-α prune per round.
  *
  * Determinism: counts are exact longs, ranking ties are total orders,
  * and the only float — the micro-rounded ln of a ratio of longs — is
  * replayed term-for-term by the SQL oracle's unrolled EM chain (the
  * bpe_merges replay discipline; the recursive-CTE wavefront carries the
  * Viterbi DP row exactly like the DTW oracle).
  *
  * 100 TB shape: corpus touched once (the word-vocab agg); each round is
  * one job over the vocab frame + a vocabulary-bounded collect; encoding
  * segments each DISTINCT word once and broadcast-joins the corpus
  * tokens — identical to [[Bpe.encodeStats]]'s split.
  *
  * Design deviations from Kudo 2018, chosen deliberately and both
  * oracle-motivated: (1) HARD EM (Viterbi counts) instead of soft EM
  * (forward–backward expected counts) — expected counts are sums of
  * exponentials of float log-probs, not replayable exactly by any SQL
  * twin, while the Viterbi path is a pure integer argmax; hard EM is
  * itself a standard unigram-LM variant (Viterbi training). (2) Pruning
  * drops the bottom-α pieces by USED COUNT rather than by
  * likelihood-loss-if-removed — the loss computation needs a second
  * per-word marginalization per candidate piece (same float-sum
  * problem); count-rank pruning keeps the same vocabulary-shrink
  * schedule with a total deterministic order. Both choices trade a few
  * points of segmentation likelihood for bit-exact reproducibility —
  * the property every other operator in this library holds.
  */
object UnigramLm {

  /** DEFAULT maximum piece length in chars — bounds the Viterbi band
    * (the DP looks back at most this far) and the seed substring
    * explosion. Overridable per training ([[train]]/[[seedVocab]] take
    * `maxPieceLen`; real SentencePiece vocabularies carry 8–16-char
    * pieces — the `unigram_len_sweep` face prices the knob).
    */
  val MaxPieceLen = 4

  /** Row bound above which a word→stat dim table stops broadcasting (see
    * [[encodeStatsWith]]'s join-strategy contract; [[Bpe.encodeStats]]
    * shares it). ~1M rows ≈ tens of MB of strings — comfortably a
    * broadcast; a web-scale distinct-token vocabulary (10⁸–10⁹ rows) is
    * not, and must shuffle-join.
    */
  val BroadcastVocabLimit: Long = 1L << 20

  final case class Piece(piece: String, cnt: Long, logpMicro: Long)

  /** The one micro-rounded float of the family: round-half-up of
    * ln(c/total) in micro units (floor(x·10⁶ + 0.5) — exact-integer
    * everywhere else, and this form is bit-stable between Java and
    * DuckDB at micro granularity, the proven token_pmi contract).
    */
  def microLn(c: Long, total: Long): Long =
    math.floor(math.log(c.toDouble / total.toDouble) * 1e6 + 0.5).toLong

  /** Word vocabulary: one row per distinct lower-cased whitespace token. */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Fixed micro log-prob for a single char absent from the piece table
    * (reachable only through the public API with a prebuilt vocabulary
    * applied to a corpus whose alphabet it does not cover — trained
    * vocabularies always contain every corpus char). Far below any real
    * piece (microLn bottoms out around −28·10⁶ even at total = 10¹²),
    * so an unknown char never outranks a trained segmentation; overflow
    * would need a single whitespace token past ~9·10⁶ chars.
    */
  val UnknownCharLogpMicro: Long = -1_000_000_000_000L

  /** Viterbi segmentation of one word under a piece→logp table: the
    * (start, end) 1-based inclusive char ranges of the best-scoring
    * split. Ties at a DP cell resolve to the SMALLEST start (ascending
    * scan + strict improvement), so the whole path is deterministic —
    * the SQL replay's `list_min(argmax)` rule. Every single char of the
    * training corpus is in a trained vocabulary by construction; a char
    * OUTSIDE the table segments as its own single-char piece at
    * [[UnknownCharLogpMicro]], so the DP has no unreachable cells (and
    * no `Long.MinValue` sentinel to overflow — prefix scores are always
    * real path sums).
    */
  def viterbiSplits(word: String, lp: collection.Map[String, Long]): List[(Int, Int)] =
    viterbiSplits(word, lp, bandOf(lp))

  /** The DP look-back band for a piece table: its longest piece. Hoist
    * this OUTSIDE any per-word loop (it scans the whole table).
    */
  def bandOf(lp: collection.Map[String, Long]): Int =
    if (lp.isEmpty) 1 else math.max(1, lp.keysIterator.map(_.length).max)

  /** [[viterbiSplits]] with the look-back band precomputed (callers in
    * distributed flatMaps pass `bandOf(table)` computed once).
    */
  def viterbiSplits(
      word: String, lp: collection.Map[String, Long], band: Int): List[(Int, Int)] = {
    val n = word.length
    val b = new Array[Long](n + 1)
    val a = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var best = Long.MinValue
      var arg = -1
      var i = math.max(1, j - band + 1)
      while (i <= j) {
        lp.get(word.substring(i - 1, j)) match {
          case Some(p) =>
            val s = b(i - 1) + p
            if (s > best) { best = s; arg = i }
          case None =>
        }
        i += 1
      }
      // No known piece ends at j (char j not in the vocabulary): fall
      // back to a single-char unknown piece, keeping every cell reachable.
      if (arg == -1) { best = b(j - 1) + UnknownCharLogpMicro; arg = j }
      b(j) = best
      a(j) = arg
      j += 1
    }
    var out = List.empty[(Int, Int)]
    var k = n
    while (k > 0) {
      out = (a(k), k) :: out
      k = a(k) - 1
    }
    out
  }

  /** [[viterbiSplits]] as piece strings. */
  def viterbiPieces(word: String, lp: collection.Map[String, Long]): List[String] =
    viterbiSplits(word, lp).map { case (s, e) => word.substring(s - 1, e) }

  /** Seed vocabulary off the word-vocab frame: all-occurrence substring
    * counts (one explode + hash agg over the vocab frame, never the
    * corpus), all singles + top-`seedMultiK` multis collected (bounded:
    * alphabet + K rows). `maxPieceLen` bounds the substring explosion
    * (and thereby every later DP band — no trained piece can exceed it).
    */
  def seedVocab(
      words: DataFrame, seedMultiK: Int, maxPieceLen: Int = MaxPieceLen): Seq[Piece] = {
    val spark = words.sparkSession
    import spark.implicits._
    val subs = words
      .as[(String, Long)]
      .flatMap { case (w, f) =>
        for {
          i <- 0 until w.length
          l <- 1 to math.min(maxPieceLen, w.length - i)
        } yield (w.substring(i, i + l), f)
      }
      .toDF("piece", "freq")
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("c"))
      .localCheckpoint(true) // singles + ranked multis both read it
    val singles = subs
      .filter(length(col("piece")) === 1)
      .as[(String, Long)].collect()
    val multis = subs
      .filter(length(col("piece")) >= 2)
      .orderBy(col("c").desc, col("piece"))
      .limit(seedMultiK)
      .as[(String, Long)].collect()
    withLogProbs((singles ++ multis).toSeq)
  }

  /** Attach micro log-probs for a (piece, count) set: total over exactly
    * this set.
    */
  private def withLogProbs(pcs: Seq[(String, Long)]): Seq[Piece] = {
    val total = pcs.map(_._2).sum
    pcs.map { case (p, c) => Piece(p, c, microLn(c, total)) }
  }

  /** One hard-EM round: broadcast Viterbi E-step over the vocab frame,
    * vocabulary-bounded count collect, clamp-singles + prune-multis
    * M-step.
    */
  def emRound(words: DataFrame, vocab: Seq[Piece]): Seq[Piece] = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.map(p => p.piece -> p.logpMicro).toMap)
    val band = vocab.foldLeft(1)((m, p) => math.max(m, p.piece.length))
    val counts = words
      .as[(String, Long)]
      .flatMap { case (w, f) =>
        viterbiSplits(w, bc.value, band).map { case (s, e) => w.substring(s - 1, e) -> f }
      }
      .toDF("piece", "freq")
      .groupBy(col("piece"))
      .agg(sum(col("freq")).as("c"))
      .as[(String, Long)]
      .collect()
      .toMap
    val singles = vocab.collect {
      case p if p.piece.length == 1 => p.piece -> math.max(counts.getOrElse(p.piece, 0L), 1L)
    }
    val used = counts.toSeq.filter(_._1.length >= 2).sortBy { case (p, c) => (-c, p) }
    val kept = used.take(((3 * used.size + 3) / 4).toInt)
    withLogProbs(singles ++ kept)
  }

  /** Train: seed + `rounds` hard-EM rounds. */
  def train(
      docs: DataFrame,
      rounds: Int = 2,
      seedMultiK: Int = 300,
      textCol: String = "text",
      maxPieceLen: Int = MaxPieceLen): Seq[Piece] =
    trainFromWords(
      wordVocab(docs, textCol).localCheckpoint(true), // one row per distinct word
      rounds, seedMultiK, maxPieceLen)

  /** [[train]] off a prebuilt (already pinned) word-vocab frame — a
    * piece-length sweep trains once per length over ONE corpus
    * tokenization instead of re-deriving the word frame per length.
    */
  def trainFromWords(
      words: DataFrame,
      rounds: Int = 2,
      seedMultiK: Int = 300,
      maxPieceLen: Int = MaxPieceLen): Seq[Piece] = {
    require(rounds >= 0 && seedMultiK >= 0 && maxPieceLen >= 1, "non-negative knobs")
    (1 to rounds).foldLeft(seedVocab(words, seedMultiK, maxPieceLen)) { (v, _) =>
      emRound(words, v)
    }
  }

  /** Registered-query face: a prebuilt (shared) trained vocabulary, from
    * [[train]], as a frame — (piece, piece_len, cnt, logp_micro).
    */
  def vocabDfFrom(spark: SparkSession, vocab: Seq[Piece]): DataFrame = {
    import spark.implicits._
    vocab
      .map(p => (p.piece, p.piece.length.toLong, p.cnt, p.logpMicro))
      .toDF("piece", "piece_len", "cnt", "logp_micro")
  }

  /** Encode the corpus with the trained tokenizer: per-document
    * (n_words, n_unigram_tokens, n_chars). Each DISTINCT word segments
    * once under the final vocabulary; documents broadcast-join their
    * exploded tokens to the word→piece-count table — heavy work on the
    * vocab, cheap join on the corpus, exactly [[Bpe.encodeStats]].
    */
  def encodeStats(
      docs: DataFrame,
      rounds: Int = 2,
      seedMultiK: Int = 300,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    encodeStatsWith(docs, train(docs, rounds, seedMultiK, textCol), textCol, idCol)

  /** [[encodeStats]] with a prebuilt (shared) trained vocabulary.
    *
    * Join-strategy contract: the word→piece-count table is
    * CORPUS-VOCABULARY-sized — data-dependent and unbounded (a web-scale
    * corpus carries 10⁸–10⁹ distinct tokens: typos, URLs, numbers), so a
    * forced broadcast is a driver/executor OOM at the 100 TB design
    * point even though every local SF sails through. The table
    * broadcasts only when its measured row count is at most
    * `broadcastVocabLimit` (one cheap job over the checkpointed,
    * vocabulary-sized frame); above the bound the join falls back to a
    * plain word-keyed shuffle.
    */
  def encodeStatsWith(
      docs: DataFrame,
      vocab: Seq[Piece],
      textCol: String = "text",
      idCol: String = "doc_id",
      broadcastVocabLimit: Long = BroadcastVocabLimit): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(vocab.map(p => p.piece -> p.logpMicro).toMap)
    val band = vocab.foldLeft(1)((m, p) => math.max(m, p.piece.length))
    // Eager pin: the frame feeds both the row-count gate and the join
    // build side (without it the corpus would tokenize twice more).
    val words = wordVocab(docs, textCol).localCheckpoint(true)
    val wordLens = words
      .as[(String, Long)]
      .map { case (w, _) => (w, viterbiSplits(w, bc.value, band).length.toLong) }
      .toDF("word", "n_pieces")
    val dim = if (words.count() <= broadcastVocabLimit) broadcast(wordLens) else wordLens
    docs
      .select(
        col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .join(dim, Seq("word"))
      .groupBy(col(idCol), col("n_chars"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_unigram_tokens"))
      .select(col(idCol), col("n_words"), col("n_unigram_tokens"), col("n_chars"))
  }
}
