package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic WordPiece tokenizer — the third subword family next to
  * [[Bpe]] (frequency-merge) and [[UnigramLm]] (likelihood-prune), so the
  * engine covers every major tokenizer a training-data pipeline meets
  * (BERT-style WordPiece, GPT-style BPE, SentencePiece unigram).
  *
  * Training is the BPE loop with the WordPiece SELECTION rule (Schuster &
  * Nakajima 2012; the HuggingFace trainer's form): the merged pair is the
  * one maximizing `freq(pair) / (freq(lhs) · freq(rhs))` — pairs that
  * co-occur far beyond their parts' popularity win, which is what makes
  * WordPiece prefer linguistically cohesive units over merely frequent
  * ones. To keep the argmax ENGINE-PORTABLE the ratio is compared in a
  * fixed point both engines evaluate exactly:
  *
  *   skey = (cnt << 40) div (freq(lhs) · freq(rhs))
  *
  * — 128-bit exact in both engines (Spark DECIMAL(38,0) `div`, DuckDB
  * HUGEINT `//`); cnt ≤ min(fl, fr) makes skey ≤ 2^40, so it rides a
  * BIGINT. Ties → lexicographically smallest (lhs, rhs) by code point.
  * Two true ratios closer than 2^-40 can floor to the same skey and
  * resolve by the tie-break — that floor IS the spec, replayed
  * identically by the oracle; it never desynchronizes the engines.
  *
  * Merge application, word splitting, and the train/trainLocal routing
  * are [[Bpe]]'s exactly (leftmost-nonoverlapping run parity, lowercase
  * [^a-z0-9]+ split, driver loop under [[Bpe.MaxLocalWords]] /
  * distributed windows past it).
  *
  * ENCODING is WordPiece's own greedy longest-match (NOT merge replay):
  * the trained vocabulary is every final piece tagged by position class
  * (`##`-less head pieces at word start, continuation pieces after), and
  * a word is consumed left-to-right taking the LONGEST matching piece of
  * its position class at each step; a dead end — or a word longer than
  * `maxChars` (HuggingFace's max_input_chars_per_word) — makes the WHOLE
  * word one [UNK] token. The `maxChars` cap is what lets the SQL oracle
  * replay the greedy loop as `maxChars` unrolled steps (each consumes
  * ≥ 1 char) instead of unbounded recursion.
  *
  * The reference has no tokenizer; LLM-pipeline capability upside per
  * the charter (as q95-q99/q129-q136 for the sibling families).
  */
object WordPiece {

  /** One induced merge: at `step`, (lhs, rhs) → lhs+rhs, with the pair
    * count and the fixed-point likelihood score that won the argmax. */
  final case class WpMerge(step: Int, lhs: String, rhs: String,
                           cnt: Long, skey: Long)

  /** The trained encode vocabulary: head pieces (legal at word start)
    * and continuation pieces (legal after), sorted, deduplicated. */
  final case class WpVocab(head: Array[String], cont: Array[String]) {
    require(head.nonEmpty || cont.isEmpty,
      "continuation pieces without any head piece cannot match anything")
  }

  private val ScaleShift = 40

  /** Induce `merges` WordPiece merges over the weighted word set;
    * returns the merge list and the final token table `(word, pos, tok)`.
    * Same contract as [[Bpe.train]], different argmax. */
  def train(wordFreq: DataFrame, merges: Int): (Seq[WpMerge], DataFrame) = {
    require(merges > 0, s"merges must be positive: $merges")
    val wWord = Window.partitionBy("word").orderBy("pos")
    val freqs = wordFreq.select(col("word"), col("freq"))
    var toks = OperatorCaches.register(Bpe.charTokens(wordFreq).persist())
    val induced = scala.collection.mutable.ListBuffer.empty[WpMerge]
    var exhausted = false
    for (step <- 1 to merges if !exhausted) {
      val withNext = toks.withColumn("ntok", lead(col("tok"), 1).over(wWord))
      // per-token corpus frequencies of the CURRENT state — bounded by
      // the token table (vocabulary × word length), never the corpus
      val tokFreq = toks.join(freqs, "word")
        .groupBy(col("tok")).agg(sum(col("freq")).as("tf"))
      val top = withNext.filter(col("ntok").isNotNull)
        .join(freqs, "word")
        .groupBy(col("tok").as("lhs"), col("ntok").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .join(tokFreq.select(col("tok").as("lhs"), col("tf").as("fl")), "lhs")
        .join(tokFreq.select(col("tok").as("rhs"), col("tf").as("fr")), "rhs")
        .withColumn("skey", expr(
          s"cast(cast(cnt as decimal(38,0)) * ${1L << ScaleShift} div " +
            "(cast(fl as decimal(38,0)) * cast(fr as decimal(38,0))) " +
            "as bigint)"))
        .orderBy(col("skey").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val row = top(0)
        val (l, r) = (row.getAs[String]("lhs"), row.getAs[String]("rhs"))
        induced += WpMerge(step, l, r, row.getAs[Long]("cnt"),
          row.getAs[Long]("skey"))
        // identical run-parity application as Bpe.train
        val flagged = withNext
          .withColumn("cand",
            (col("tok") === lit(l) && col("ntok") === lit(r)).cast("int"))
          .withColumn("grp", when(col("cand") === 1, col("pos") -
            sum(col("cand")).over(wWord.rowsBetween(
              Window.unboundedPreceding, Window.currentRow))))
        val wGrp = Window.partitionBy("word", "grp").orderBy("pos")
        val accepted = flagged.withColumn("acc",
          (col("cand") === 1 && row_number().over(wGrp) % 2 === 1).cast("int"))
        val next = accepted
          .withColumn("pacc", lag(col("acc"), 1).over(wWord))
          .filter(col("pacc").isNull || col("pacc") === 0)
          .select(col("word"),
            (row_number().over(wWord) - 1).as("pos"),
            when(col("acc") === 1, concat(col("tok"), col("ntok")))
              .otherwise(col("tok")).as("tok"))
        val p = OperatorCaches.register(next.persist())
        p.count()
        toks.unpersist(false)
        toks = p
      }
    }
    (induced.toList, toks)
  }

  /** Driver-local trainer, bit-identical to [[train]] (same argmax, same
    * fixed point via BigInt, same greedy application) — [[Bpe.trainLocal]]'s
    * economics: zero jobs per merge once the vocabulary-bounded word set
    * is collected. */
  def trainLocal(wordFreq: DataFrame, merges: Int): (Seq[WpMerge], DataFrame) =
    trainLocalWords(Bpe.collectWordFreq(wordFreq), merges,
      wordFreq.sparkSession)

  /** [[trainLocal]] over an already-collected word set — shared with
    * [[trainAuto]]'s fused route-and-collect path (see [[Bpe.trainAuto]]). */
  private def trainLocalWords(words: Array[(String, Long)], merges: Int,
                              spark: org.apache.spark.sql.SparkSession)
      : (Seq[WpMerge], DataFrame) = {
    require(merges > 0, s"merges must be positive: $merges")
    import spark.implicits._
    // code-point split, matching Bpe.charTokens' Spark substring
    // semantics (see Bpe.trainLocal's parity note)
    def codePointTokens(s: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        val n = Character.charCount(s.codePointAt(i))
        out += s.substring(i, i + n)
        i += n
      }
      out.toArray
    }
    var toks: Array[Array[String]] = words.map(w => codePointTokens(w._1))
    val induced = scala.collection.mutable.ListBuffer.empty[WpMerge]
    var exhausted = false
    for (step <- 1 to merges if !exhausted) {
      val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val tokFreq = scala.collection.mutable.HashMap.empty[String, Long]
      var wi = 0
      while (wi < toks.length) {
        val t = toks(wi)
        val f = words(wi)._2
        var i = 0
        while (i < t.length) {
          tokFreq(t(i)) = tokFreq.getOrElse(t(i), 0L) + f
          if (i < t.length - 1) {
            val k = (t(i), t(i + 1))
            pairCnt(k) = pairCnt.getOrElse(k, 0L) + f
          }
          i += 1
        }
        wi += 1
      }
      if (pairCnt.isEmpty) exhausted = true
      else {
        val scored = pairCnt.map { case ((l, r), c) =>
          val skey = ((BigInt(c) << ScaleShift) /
            (BigInt(tokFreq(l)) * BigInt(tokFreq(r)))).toLong
          ((l, r), c, skey)
        }
        val ((l, r), c, sk) = scored.minBy { case ((lh, rh), _, sky) =>
          (-sky, lh, rh)
        }(Ordering.Tuple3(Ordering.Long, Bpe.codePointOrdering,
          Bpe.codePointOrdering))
        induced += WpMerge(step, l, r, c, sk)
        toks = toks.map { t =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < t.length) {
            if (i < t.length - 1 && t(i) == l && t(i + 1) == r) {
              out += l + r; i += 2
            } else { out += t(i); i += 1 }
          }
          out.toArray
        }
      }
    }
    val tokRows = for {
      wi <- words.indices
      (tk, p) <- toks(wi).zipWithIndex
    } yield (words(wi)._1, p, tk)
    (induced.toList, tokRows.toDF("word", "pos", "tok"))
  }

  /** Route by vocabulary size, as [[Bpe.trainAuto]] — ONE capped collect
    * both routes and feeds the local trainer (the count()-then-collect
    * shape paid two jobs over the aggregated word table). */
  def trainAuto(wordFreq: DataFrame, merges: Int): (Seq[WpMerge], DataFrame) = {
    val persisted = OperatorCaches.register(wordFreq.persist())
    val collected = persisted
      .select(col("word").cast("string"), col("freq").cast("long"))
      .limit(Bpe.MaxLocalWords + 1).collect()
    if (collected.length <= Bpe.MaxLocalWords)
      trainLocalWords(
        collected.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1),
        merges, persisted.sparkSession)
    else train(persisted, merges)
  }

  /** Extract the encode vocabulary from a trained final token table:
    * every distinct piece tagged by position class (a piece seen both at
    * pos 0 and later registers in BOTH sets, like "abc" vs "##abc").
    * Vocabulary-bounded driver state, the [[Bpe.MaxLocalWords]] pattern. */
  def vocabOf(finalToks: DataFrame): WpVocab = {
    val rows = finalToks
      .select(col("tok").cast("string"), (col("pos") > 0).as("is_cont"))
      .distinct()
      .limit(Bpe.MaxLocalWords + 1).collect()
    require(rows.length <= Bpe.MaxLocalWords,
      s"piece set exceeds ${Bpe.MaxLocalWords} rows — not a trained " +
        "token table?")
    val (contRows, headRows) = rows.partition(_.getBoolean(1))
    WpVocab(headRows.map(_.getString(0)).sorted(Bpe.codePointOrdering),
      contRows.map(_.getString(0)).sorted(Bpe.codePointOrdering))
  }

  /** Persist the trained vocabulary as one parquet file (piece,
    * is_cont) — the WordPiece face of the persistable-artifact
    * convention (Bpe.saveMerges, UnigramLm, the index tiers). */
  def saveVocab(vocab: WpVocab, spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    graft.sinks.ArtifactStore.publish(spark, path) { dir =>
      (vocab.head.map((_, false)) ++ vocab.cont.map((_, true))).toSeq
        .toDF("piece", "is_cont")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  def loadVocab(spark: SparkSession, path: String): WpVocab = {
    val rows = graft.sinks.ArtifactStore.readSurface(spark,
      graft.sinks.ArtifactStore.resolve(spark, path))
      .select(col("piece").cast("string"), col("is_cont").cast("boolean"))
      .collect()
    val (contRows, headRows) = rows.partition(_.getBoolean(1))
    WpVocab(headRows.map(_.getString(0)).sorted(Bpe.codePointOrdering),
      contRows.map(_.getString(0)).sorted(Bpe.codePointOrdering))
  }
}
