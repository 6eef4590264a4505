package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding tokenizer: vocabulary induction (the
  * iterative pair-merge trainer) and corpus encoding, the token-counting
  * backbone a training-data pipeline needs before budget selection
  * (q82) and sequence packing (q68/q76) mean anything.
  *
  * Trains on DISTINCT WORDS weighted by corpus frequency — the classic
  * BPE-trainer shape (Sennrich et al. 2016): the token state is bounded
  * by |vocabulary| × word length, NOT corpus size, so a 100 TB corpus
  * trains over the same tiny table as a 100 GB one once word counts are
  * aggregated (one shuffle). Every merge round is:
  *
  *  1. adjacent-pair counts: one `lead` window + a partial-aggregated
  *     groupBy over the token table, freq-weighted (overlapping pairs
  *     count, as in the reference trainer);
  *  2. argmax pair, ties → lexicographically smallest (lhs, rhs) — ONE
  *     collected row per round (bounded driver state, the same pattern
  *     as [[Clustering]]'s lloyd);
  *  3. leftmost-nonoverlapping merge application via the run-parity
  *     rule: among maximal runs of consecutive candidate positions
  *     (only possible when lhs == rhs), every odd-indexed candidate
  *     merges — exactly the sequential left-to-right greedy result,
  *     computed with windows instead of a sequential scan.
  *
  * All windows partition by `word` (or (word, grp)) — nothing global,
  * nothing skewed: the widest partition is the longest word. Everything
  * is integer/string-deterministic, so a SQL oracle replays induction
  * and encoding bit-for-bit.
  *
  * The reference has no tokenizer (its gatherers count whitespace
  * tokens; see KM/lib/examples in kiji-mapreduce for the word-count
  * shape); this is LLM-pipeline capability upside per the charter.
  */
object Bpe {

  /** One induced merge: at `step`, (lhs, rhs) → lhs+rhs, with the
    * freq-weighted adjacent-pair count that won the argmax. */
  final case class Merge(step: Int, lhs: String, rhs: String, cnt: Long)

  /** Per-occurrence words of a document corpus: lowercased, split on
    * runs of non-alphanumerics, empties dropped. (doc_id, word) rows —
    * the corpus side q96-style encodes join back onto. */
  def docWords(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")

  /** Distinct words with corpus frequency — the weighted training set. */
  def wordFreq(docWords: DataFrame): DataFrame =
    docWords.groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial token state: every distinct word exploded to single
    * characters, (word, pos, tok). */
  def charTokens(wordFreq: DataFrame): DataFrame =
    wordFreq.select(col("word"),
      posexplode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as(Seq("pos", "tok")))

  /** Induce `merges` BPE merges over the weighted word set; returns the
    * merge list and the final token table `(word, pos, tok)` (the
    * training corpus's own encoding under the induced vocabulary).
    * Stops early if the token table runs out of adjacent pairs (every
    * word collapsed to one token). */
  def train(wordFreq: DataFrame, merges: Int): (Seq[Merge], DataFrame) = {
    require(merges > 0, s"merges must be positive: $merges")
    val wWord = Window.partitionBy("word").orderBy("pos")
    val freqs = wordFreq.select(col("word"), col("freq"))
    var toks = OperatorCaches.register(charTokens(wordFreq).persist())
    val induced = scala.collection.mutable.ListBuffer.empty[Merge]
    // The PREVIOUS round's token cache, retired but not yet dropped: the
    // next round's pair-count collect reads (and thereby materializes)
    // the CURRENT cache first, after which the parent is safe to drop —
    // so no round needs an explicit materialize-only count() job, and at
    // most two generations are ever cached at once (the same peak the
    // old count-then-unpersist sequence had). The final generation's
    // parent stays cached until OperatorCaches.releaseAll — the
    // registered-cache contract every caller already follows.
    var retired: Option[DataFrame] = None
    var exhausted = false
    for (step <- 1 to merges if !exhausted) {
      val withNext = toks.withColumn("ntok", lead(col("tok"), 1).over(wWord))
      // Equi-join on word — the token table is already hashed on word
      // from its windows, and AQE broadcasts freqs when it is small;
      // no hint, so a 10M-word vocabulary doesn't blow the broadcast cap.
      val top = withNext.filter(col("ntok").isNotNull)
        .join(freqs, "word")
        .groupBy(col("tok").as("lhs"), col("ntok").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      // the collect above read every partition of `toks`, so its cache
      // is materialized — the retired parent can go now
      retired.foreach(_.unpersist(false))
      retired = None
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        induced += Merge(step, l, r, c)
        // Run-parity merge application (see object doc, rule 3): runs of
        // consecutive candidates share grp = pos - runningCandCount;
        // odd row_number within a run merges, its right half drops.
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
        retired = Some(toks) // dropped after the next round materializes p
        toks = p
      }
    }
    (induced.toList, toks)
  }

  /** Driver-side cap for [[trainLocal]]'s word-set materialization. At 16
    * chars and a freq per word this is ~50 MB — far above any vocabulary
    * the per-merge economics favor local training for. */
  val MaxLocalWords: Int = 1 << 20

  /** Driver-local trainer over the SAME aggregated word-freq table —
    * bit-identical to [[train]] (property-pinned in BpeSpec /
    * EngineProperties), minus the per-merge job scheduling.
    *
    * Why it exists: [[train]] launches one Spark job per merge round
    * (pair-count agg + 1-row argmax collect). At the contract's 6 merges
    * that is fine; at a real 32k-vocab induction it is 32k SEQUENTIAL
    * jobs whose scheduling latency — not compute — dominates. But after
    * the one corpus-wide `wordFreq` shuffle the weighted word set is tiny
    * BY CONSTRUCTION (bounded by |vocabulary| × word length, not corpus
    * size), so the merge loop belongs on the driver: collect the words
    * once (capped, like `Similarity.centroidSet`) and iterate in memory —
    * zero jobs per merge. The distributed path remains for vocabularies
    * past the cap.
    *
    * Same semantics, same outputs: argmax ties → lexicographically
    * smallest (lhs, rhs); merge application is sequential leftmost-
    * nonoverlapping greedy (what train's run-parity windows compute);
    * early exhaustion when no adjacent pairs remain. */
  /** Code-point string ordering == UTF-8 byte ordering — what Spark's
    * orderBy and DuckDB's string comparison use. Java's natural String
    * ordering compares UTF-16 units instead, which sorts surrogate pairs
    * (U+10000+) BEFORE private-use BMP chars (U+E000..U+FFFD). */
  private[operators] val codePointOrdering: Ordering[String] = (a: String, b: String) => {
    var i = 0
    var j = 0
    var res = 0
    while (res == 0 && i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) res = Integer.compare(ca, cb)
      else { i += Character.charCount(ca); j += Character.charCount(cb) }
    }
    if (res != 0) res else Integer.compare(a.length - i, b.length - j)
  }

  /** The guarded word-freq collect both local trainers (BPE and
    * [[UnigramLm.trainLocal]]) share: cap-checked, decoded, sorted by
    * word — one definition so the cap and the collect contract can
    * never drift between the tokenizers. */
  private[operators] def collectWordFreq(wordFreq: DataFrame): Array[(String, Long)] = {
    val collected = wordFreq
      .select(col("word").cast("string"), col("freq").cast("long"))
      .limit(MaxLocalWords + 1).collect()
    require(collected.length <= MaxLocalWords,
      s"word set exceeds $MaxLocalWords rows — a vocabulary this large " +
        "should use the distributed trainer (Bpe.train)")
    collected.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
  }

  def trainLocal(wordFreq: DataFrame, merges: Int): (Seq[Merge], DataFrame) =
    trainLocalWords(collectWordFreq(wordFreq), merges, wordFreq.sparkSession)

  /** [[trainLocal]] over an ALREADY-COLLECTED word set (sorted by word,
    * the [[collectWordFreq]] contract) — the body shared with
    * [[trainAuto]]'s fused route-and-collect path. */
  private def trainLocalWords(words: Array[(String, Long)], merges: Int,
                              spark: org.apache.spark.sql.SparkSession)
      : (Seq[Merge], DataFrame) = {
    require(merges > 0, s"merges must be positive: $merges")
    import spark.implicits._
    // split by CODE POINTS, not UTF-16 chars: the distributed trainer's
    // charTokens uses Spark substring (code-point semantics), and a raw
    // char map would shatter supplementary-plane characters into
    // surrogate halves — diverging pair counts and breaking the
    // documented train == trainLocal parity
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
    val induced = scala.collection.mutable.ListBuffer.empty[Merge]
    var exhausted = false
    for (step <- 1 to merges if !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < toks.length) {
        val t = toks(wi)
        val f = words(wi)._2
        var i = 0
        while (i < t.length - 1) {
          val k = (t(i), t(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        // total order (cnt DESC, lhs ASC, rhs ASC) — iteration-order-free.
        // String comparison is by CODE POINT (== UTF-8 byte order, the
        // ordering Spark's orderBy and the DuckDB oracle use): Java's
        // default compareTo sorts UTF-16 units, which inverts
        // supplementary-plane vs private-use characters and would break
        // the train == trainLocal parity on tied counts.
        val ((l, r), c) = counts.minBy { case ((lh, rh), cn) =>
          (-cn, lh, rh)
        }(Ordering.Tuple3(Ordering.Long, codePointOrdering, codePointOrdering))
        induced += Merge(step, l, r, c)
        toks = toks.map { t =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < t.length) {
            if (i < t.length - 1 && t(i) == l && t(i + 1) == r) {
              out += l + r
              i += 2
            } else {
              out += t(i)
              i += 1
            }
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

  /** Route induction by vocabulary size: local merge loop when the
    * aggregated word set fits the driver cap (one cheap count of an
    * already-aggregated table), distributed windows past it. Outputs are
    * identical either way (the trainLocal == train parity property), so
    * callers — and the SQL oracle — never observe which path ran.
    * `maxLocalWords` parameterizes the cap for callers whose corpus is
    * known to exceed the driver budget (and for the q179 correctness
    * query, which pins the DISTRIBUTED trainer against the oracle by
    * forcing the routing past the local path). */
  def trainAuto(wordFreq: DataFrame, merges: Int,
                maxLocalWords: Long = MaxLocalWords.toLong)
      : (Seq[Merge], DataFrame) = {
    val persisted = OperatorCaches.register(wordFreq.persist())
    // clamp to the hard collect guard: a caller-raised cap above the
    // constant would route LOCAL past the driver budget — the
    // parameterized routing and the driver-budget guard must agree
    val cap = math.min(maxLocalWords, MaxLocalWords.toLong).toInt
    // ONE capped collect both ROUTES and FEEDS the local trainer: the
    // previous count()-then-collect shape paid two Spark jobs over the
    // aggregated word table for every local induction (q95/q109/q112 and
    // every CLI bpe build — measured round 19). Over-cap corpora collect
    // at most cap+1 rows before routing to the distributed trainer
    // (whose first pair-count job completes the cache the limit left
    // partially materialized).
    val collected = persisted
      .select(col("word").cast("string"), col("freq").cast("long"))
      .limit(cap + 1).collect()
    if (collected.length <= cap)
      trainLocalWords(
        collected.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1),
        merges, persisted.sparkSession)
    else train(persisted, merges)
  }

  /** Persist an induced merge list as one parquet file — the tokenizer's
    * trained artifact (train once on the corpus, tokenize every later
    * batch from the loaded vocabulary; the BPE face of the engine's
    * persistable-index convention). Step order IS the merge-application
    * order, so it rides along and [[loadMerges]] restores it exactly. */
  def saveMerges(merges: Seq[Merge], spark: org.apache.spark.sql.SparkSession,
                 path: String): Unit = {
    import spark.implicits._
    graft.sinks.ArtifactStore.publish(spark, path) { dir =>
      merges.toDF("step", "lhs", "rhs", "cnt")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
  }

  def loadMerges(spark: org.apache.spark.sql.SparkSession,
                 path: String): Seq[Merge] =
    graft.sinks.ArtifactStore.readSurface(spark,
        graft.sinks.ArtifactStore.resolve(spark, path))
      .select(col("step").cast("int"), col("lhs").cast("string"),
        col("rhs").cast("string"), col("cnt").cast("long"))
      .collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .toSeq
      .sortBy(_.step)
}
