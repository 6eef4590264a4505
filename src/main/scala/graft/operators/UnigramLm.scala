package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.UnigramDocStats

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING: the other half of
  * production tokenization beside BPE ([[Bpe]]) — a piece VOCABULARY with
  * per-piece surprisal costs, induced by hard EM (Viterbi E-step /
  * count-renormalize M-step, Kudo 2018's unigram model with the Viterbi
  * approximation) over the aggregated word-frequency table.
  *
  * Scale economics are [[Bpe.trainLocal]]'s: after the ONE corpus-wide
  * `wordFreq` shuffle the weighted word set is bounded by |vocabulary| ×
  * word length, not corpus size, so a 100 TB corpus trains over the same
  * tiny table as a 100 GB one — the EM loop runs on the driver with zero
  * jobs per iteration, and the cap guards the collect.
  *
  * Everything is integer-deterministic, so a SQL oracle replays the WHOLE
  * trainer — seeding, every EM round's segmentations and counts, and the
  * final costs — bit-for-bit:
  *
  *  - probabilities live as int64 fixed-point SURPRISALS:
  *    cost(p) = ilog2fp(total) − ilog2fp(cnt(p)), i.e. −log2 p scaled by
  *    2^[[LogFracBits]], computed by [[ilog2fp]] — an exact digit-by-digit
  *    integer algorithm (squaring a 62-bit-normalized mantissa, one output
  *    bit per step) that the oracle replays with HUGEINT arithmetic, with
  *    none of the cross-engine ULP risk a libm `ln` would carry;
  *  - the E-step is [[UnigramDocStats.viterbi]] — minimum total surprisal,
  *    ties by (piece count ASC, piece length DESC) at every position;
  *  - the M-step keeps every seed character (coverage) plus the multi-char
  *    pieces the E-step actually used, add-one smoothed.
  *
  * The reference has no tokenizer; LLM-pipeline capability upside per the
  * charter (same charter row as [[Bpe]]).
  */
object UnigramLm {

  /** Longest seeded piece. Substring seeding is |word|·MaxPieceLen pieces
    * per distinct word — bounded by the vocabulary, not the corpus. */
  val MaxPieceLen = 4

  /** Multi-char seed pieces kept (top by weighted substring count, ties
    * by piece text) beside ALL single characters. */
  val SeedTop = 40

  /** Hard-EM rounds. */
  val EmIters = 2

  /** Fixed-point fractional bits of [[ilog2fp]] — costs are
    * floor-ish(log2 · 2^16) integers. */
  val LogFracBits = 16

  /** A trained piece: raw final-E-step count and serving surprisal. */
  final case class Piece(piece: String, cnt: Long, cost: Long)

  /** The trained artifact: pieces sorted by piece text, plus the unknown
    * single-character cost (the smoothed count-zero surprisal) — all a
    * server needs to segment any batch. */
  final case class Vocab(pieces: Seq[Piece], unkCost: Long) {
    def pieceArr: Array[String] = pieces.map(_.piece).toArray
    def costArr: Array[Long] = pieces.map(_.cost).toArray
  }

  /** Fixed-point base-2 log: an int64 ≈ log2(n)·2^[[LogFracBits]] for
    * n ≥ 1, computed EXACTLY by the classic digit-by-digit method — the
    * integer part is the bit length minus one; each fractional bit comes
    * from squaring the 62-bit-normalized mantissa (128-bit product,
    * truncating renormalization). Deterministic integer arithmetic only,
    * so DuckDB replays it with HUGEINT squares and `//` — the whole
    * reason the tokenizer's probabilities can be hash-compared across
    * engines. (The truncation makes this an approximation of the real
    * log2 within ~LogFracBits ulps — fine: both sides compute the SAME
    * approximation, and monotonicity in n is preserved.) */
  def ilog2fp(n: Long): Long = {
    require(n >= 1, s"ilog2fp needs n >= 1: $n")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var m = n << (62 - e)
    var frac = 0L
    var i = 0
    while (i < LogFracBits) {
      val hi = Math.multiplyHigh(m, m)
      val lo = m * m
      if (hi >= (1L << 61)) { frac = (frac << 1) | 1L; m = (hi << 1) | (lo >>> 63) }
      else { frac = frac << 1; m = (hi << 2) | (lo >>> 62) }
      i += 1
    }
    (e.toLong << LogFracBits) + frac
  }

  private def costsOf(counts: Iterable[(String, Long)]): (java.util.HashMap[String, java.lang.Long], Long) = {
    val total = counts.iterator.map(_._2).sum
    val lgTotal = ilog2fp(total)
    val m = new java.util.HashMap[String, java.lang.Long](counts.size * 2)
    counts.foreach { case (p, c) => m.put(p, lgTotal - ilog2fp(c)) }
    (m, lgTotal)
  }

  /** Induce the unigram vocabulary from the aggregated `(word, freq)`
    * table, driver-locally (the [[Bpe.trainLocal]] economics; the
    * [[Bpe.MaxLocalWords]] cap guards the collect).
    *
    * Rounds: seed (all ≤[[MaxPieceLen]]-char substrings weighted by word
    * freq, overlapping occurrences counted; vocabulary = every single
    * char + top [[SeedTop]] multi-char), then [[EmIters]] × (Viterbi
    * E-step over the distinct words → keep chars + used multi-char pieces,
    * add-one smooth, recompute costs). Returned counts are the FINAL
    * E-step's raw counts; costs are the M-step surprisals a server
    * segments with. */
  def trainLocal(wordFreq: DataFrame): Vocab = {
    val words = Bpe.collectWordFreq(wordFreq)
    require(words.nonEmpty,
      "unigram training needs a non-empty corpus: the input produced " +
        "zero [a-z0-9]+ words (empty texts, or a wrong text column?)")

    // seed: every substring up to MaxPieceLen, overlapping starts counted
    val subCnt = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- words; i <- 0 until w.length;
         l <- 1 to math.min(MaxPieceLen, w.length - i))
      subCnt.updateWith(w.substring(i, i + l))(c => Some(c.getOrElse(0L) + f))
    val chars = subCnt.keysIterator.filter(_.length == 1).toSeq.sorted
    val multiTop = subCnt.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(SeedTop)
    val seed: Seq[(String, Long)] =
      chars.map(c => c -> subCnt(c)) ++ multiTop

    var (costs, unk) = costsOf(seed)
    var lastCnt = Map.empty[String, Long]
    for (_ <- 1 to EmIters) {
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- words;
           p <- UnigramDocStats.segment(w, costs, MaxPieceLen, unk))
        cnt.updateWith(p)(c => Some(c.getOrElse(0L) + f))
      // kept vocabulary: all seed chars (coverage) + used multi-char
      // pieces; add-one smoothing so a zero-count char stays segmentable
      val kept: Seq[(String, Long)] =
        chars.map(c => c -> (cnt.getOrElse(c, 0L) + 1L)) ++
          cnt.iterator.filter(_._1.length > 1).map { case (p, c) => (p, c + 1L) }
      val (nc, nu) = costsOf(kept)
      costs = nc
      unk = nu
      lastCnt = cnt.toMap
    }
    val pieces = (chars.map(c => c -> lastCnt.getOrElse(c, 0L)) ++
        lastCnt.iterator.filter(_._1.length > 1))
      .map { case (p, c) => Piece(p, c, costs.get(p).longValue) }
      .sortBy(_.piece)
    Vocab(pieces, unk)
  }

  /** Wide multi-char seed width for the SIZE-TARGETED trainer
    * (`trainLocal(wordFreq, targetVocab)`): real SentencePiece seeds
    * LARGE and PRUNES down to the requested vocabulary, so the seed must
    * overshoot every reasonable target. */
  val SeedWideTop = 120

  /** Surprisal cost of segmenting piece `p` WITHOUT `p` itself, under the
    * current cost table: Viterbi over `p` with maxPieceLen = |p| − 1 (the
    * only candidate of full length is `p`, so capping the length is
    * exactly "exclude p"; every single char is always kept, so the DP is
    * total and never touches unkCost in practice). */
  private def altSegCost(p: String,
                         costs: java.util.HashMap[String, java.lang.Long],
                         unk: Long): Long =
    graft.plans.UnigramDocStats
      .viterbi(p, costs, math.min(MaxPieceLen, p.length - 1), unk)._2(p.length)

  /** SIZE-TARGETED induction — the vocabulary size as a user knob, real
    * SentencePiece's EM+prune loop in the same exact int64 fixed point:
    * seed WIDE ([[SeedWideTop]] multi-char pieces beside all chars), then
    * each of the [[EmIters]] rounds runs the hard-EM E/M steps and PRUNES
    * the kept vocabulary back to `targetVocab` pieces before recosting:
    *
    *  - loss(p) = n(p) · (altCost(p) − cost(p)) for each kept multi-char
    *    piece — the exact integer increase in total corpus surprisal if
    *    every occurrence of `p` were re-segmented without it (altCost =
    *    [[altSegCost]], n = the smoothed kept count, cost from the kept
    *    cost table). Negative loss means dropping `p` IMPROVES the
    *    corpus cost — those go first.
    *  - keep the `targetVocab − |chars|` multi-char pieces with the
    *    LARGEST loss (ties by piece text ASC); every single char is
    *    retained unconditionally (coverage floor — `targetVocab` below
    *    |chars| is rejected).
    *  - recost the pruned vocabulary; the next E-step segments under it.
    *
    * Every step is integer-deterministic, so the SQL oracle replays the
    * seeding, both EM rounds, the per-piece alt-segmentation DP, the loss
    * ranking, and the final costs bit-for-bit. */
  def trainLocal(wordFreq: DataFrame, targetVocab: Int): Vocab = {
    val words = Bpe.collectWordFreq(wordFreq)
    require(words.nonEmpty,
      "unigram training needs a non-empty corpus: the input produced " +
        "zero [a-z0-9]+ words (empty texts, or a wrong text column?)")
    val subCnt = scala.collection.mutable.HashMap.empty[String, Long]
    for ((w, f) <- words; i <- 0 until w.length;
         l <- 1 to math.min(MaxPieceLen, w.length - i))
      subCnt.updateWith(w.substring(i, i + l))(c => Some(c.getOrElse(0L) + f))
    val chars = subCnt.keysIterator.filter(_.length == 1).toSeq.sorted
    require(targetVocab >= chars.size,
      s"targetVocab ($targetVocab) is below the single-char coverage " +
        s"floor (${chars.size}): every character is kept unconditionally")
    val multiTop = subCnt.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(SeedWideTop)
    val seed: Seq[(String, Long)] =
      chars.map(c => c -> subCnt(c)) ++ multiTop

    var (costs, unk) = costsOf(seed)
    var lastCnt = Map.empty[String, Long]
    var survivors = Set.empty[String]
    val keepN = targetVocab - chars.size
    for (_ <- 1 to EmIters) {
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, f) <- words;
           p <- UnigramDocStats.segment(w, costs, MaxPieceLen, unk))
        cnt.updateWith(p)(c => Some(c.getOrElse(0L) + f))
      val kept: Seq[(String, Long)] =
        chars.map(c => c -> (cnt.getOrElse(c, 0L) + 1L)) ++
          cnt.iterator.filter(_._1.length > 1).map { case (p, c) => (p, c + 1L) }
      val (kc, ku) = costsOf(kept)
      val keep = kept.filter(_._1.length > 1)
        .map { case (p, n) =>
          (p, n * (altSegCost(p, kc, ku) - kc.get(p).longValue))
        }
        .sortBy { case (p, loss) => (-loss, p) }
        .take(keepN).map(_._1).toSet
      val pruned = kept.filter { case (p, _) => p.length == 1 || keep(p) }
      val (nc, nu) = costsOf(pruned)
      costs = nc
      unk = nu
      lastCnt = cnt.toMap
      survivors = keep
    }
    val pieces = (chars.map(c => c -> lastCnt.getOrElse(c, 0L)) ++
        lastCnt.iterator.filter { case (p, _) => p.length > 1 && survivors(p) })
      .map { case (p, c) => Piece(p, c, costs.get(p).longValue) }
      .sortBy(_.piece)
    Vocab(pieces, unk)
  }

  /** Persist the trained vocabulary as one parquet file — the unigram
    * face of the persistable-artifact convention ([[Bpe.saveMerges]],
    * LSH/IVF/PQ/BM25). `unk_cost` rides on every row (scalar columns
    * only, lossless int64/string roundtrip). */
  def saveVocab(vocab: Vocab, spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    graft.sinks.ArtifactStore.publish(spark, path) { dir =>
      vocab.pieces.map(p => (p.piece, p.cnt, p.cost, vocab.unkCost))
        .toDF("piece", "cnt", "cost", "unk_cost")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  def loadVocab(spark: SparkSession, path: String): Vocab = {
    val rows = graft.sinks.ArtifactStore.readSurface(spark,
      graft.sinks.ArtifactStore.resolve(spark, path))
      .select(col("piece").cast("string"), col("cnt").cast("long"),
        col("cost").cast("long"), col("unk_cost").cast("long"))
      .collect()
    require(rows.nonEmpty, s"empty unigram vocabulary at $path")
    Vocab(rows.map(r => Piece(r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_.piece), rows.head.getLong(3))
  }
}
