package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.{ArtifactStore, SegmentedIndex, ShardedCommit}

/** A built BM25 inverted index as its four relational artifacts — all
  * integer-typed, so a parquet roundtrip is bit-lossless:
  *
  *   - `postings` (term, doc_id, tf): the inverted lists
  *   - `doclen`   (doc_id, dl): per-document token counts
  *   - `docfreq`  (term, df): per-term document frequencies
  *   - `stats`    (n_docs, total_len): 1-row corpus statistics
  *
  * The reference has no retrieval surface (it is a Hadoop job framework,
  * KM/framework/MapReduceJob.java); this is LLM-pipeline charter upside —
  * the lexical leg of hybrid retrieval beside the ANN index tiers, with
  * the same build-once/serve-many persistence contract as the LSH
  * (`Dedup.saveLshIndex`), IVF (`Clustering.saveIvfCodebook`), PQ
  * (`Clustering.savePqIndex`) and BPE (`Bpe.saveMerges`) artifacts.
  */
final case class Bm25Index(postings: DataFrame, doclen: DataFrame,
                           docfreq: DataFrame, stats: DataFrame)

/** Lexical retrieval: BM25 index build / persist / serve.
  *
  * Scale shape: the build is two token-stream aggregations (tf, dl) plus
  * two bounded rollups (df is vocabulary-sized, stats is 1 row) — every
  * stage partial-aggregates map-side, nothing is windowed. The serve path
  * broadcasts the (tiny) query-term set into the posting-list join on
  * `term`, so only matching terms' postings are ever scored — the
  * inverted-index access path, never a corpus scan; the final top-k
  * window partitions by q_id, never globally.
  *
  * Exactness (what makes the serve path oracle-checkable): each posting's
  * idf·tf_sat contribution is ONE double chain evaluated in a fixed
  * operand order, floored to int64 at scale 2^20, and only the int64s are
  * summed — addition-order-free, so stable from local[32] to a
  * 1000-executor cluster. See `LexicalQueries.q100` for the mirrored SQL.
  */
object Retrieval {

  /** Build the four index artifacts from a token stream `(doc_id, term)`
    * — one row per token OCCURRENCE (duplicates carry tf). */
  def buildBm25Index(terms: DataFrame): Bm25Index = {
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = terms.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    Bm25Index(tf, dl, df, stats)
  }

  /** Persist the index as four parquet tables under `path`. All columns
    * are int64/string, so save→load reproduces the build exactly.
    *
    * Four writes are four ACTIONS: unpersisted, each would re-run the
    * corpus tokenize+aggregate scan (docfreq/stats re-derive from the
    * postings/doclen subtrees). So postings and doclen are persisted and
    * the writes stage through [[ShardedCommit.stageAll]]: postings and
    * doclen first, concurrently, their jobs filling the caches; docfreq
    * and stats read those still-unfilled caches, so they stage in the
    * next round against the filled ones instead of waiting on the
    * filling jobs' block locks. */
  def saveBm25Index(index: Bm25Index, path: String,
                    expected: ArtifactStore.Expect = None): Unit = {
    val p = OperatorCaches.register(index.postings.persist())
    val dl = OperatorCaches.register(index.doclen.persist())
    ArtifactStore.publish(p.sparkSession, path, expected) { dir =>
      ShardedCommit.stageAll(Seq("postings" -> p, "doclen" -> dl,
          "docfreq" -> index.docfreq, "stats" -> index.stats).map {
        case (name, df) => (name, df, (d: DataFrame) =>
          d.write.mode("overwrite").parquet(s"$dir/$name"))
      })
    }
  }

  def loadBm25Index(spark: SparkSession, path: String): Bm25Index = {
    val p = ArtifactStore.resolve(spark, path)
    Bm25Index(
      ArtifactStore.readSurface(spark, s"$p/postings"),
      ArtifactStore.readSurface(spark, s"$p/doclen"),
      ArtifactStore.readSurface(spark, s"$p/docfreq"),
      ArtifactStore.readSurface(spark, s"$p/stats"))
  }

  /** REMOVE a doc set from the inverted index — the
    * right-to-be-forgotten leg: anti-join the per-doc surfaces
    * (postings, doclen) and re-derive the rollups (df from the
    * surviving postings, stats from the surviving doclen). Per-doc rows
    * are independent, so the result equals a fresh [[buildBm25Index]]
    * over the remaining corpus exactly (q163's oracle replays it).
    * `removedIds` is one `doc_id` column; coalesce keeps stats sane if
    * everything was removed. */
  def removeFromBm25Index(index: Bm25Index, removedIds: DataFrame)
      : Bm25Index = {
    val ids = removedIds.select(col("doc_id")).distinct()
    val postings = index.postings.join(ids, Seq("doc_id"), "left_anti")
    val doclen = index.doclen.join(ids, Seq("doc_id"), "left_anti")
    Bm25Index(postings, doclen,
      postings.groupBy(col("term")).agg(count(lit(1)).as("df")),
      doclen.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_len")))
  }

  /** Fold a DELTA batch of admitted documents into an existing index —
    * the update leg that completes build-once/serve-many into
    * build/serve/UPDATE (an ingestion cron that admits documents wants
    * them retrievable without re-tokenizing the archive). Every
    * artifact is a monoid under disjoint doc sets: postings/doclen
    * union (per-doc rows), docfreq sum-merges per term, stats adds —
    * so `update(build(A), terms(B)) == build(terms(A ∪ B))` EXACTLY
    * (the q153 oracle is the full-corpus build). Cost: O(delta)
    * tokenize + one term-keyed merge agg over docfreq (vocabulary-
    * sized, partial-aggregated) — the corpus postings are never
    * re-scanned.
    *
    * CONTRACT: delta doc_ids must be NEW (disjoint from the index's) —
    * re-ingesting an indexed doc would double-count its postings,
    * exactly like inserting a row twice. The ingestion screens
    * (lsh/cdc serve) are the dedup gate that upholds this upstream, and
    * the CLI `index-update` verb enforces it with an id overlap guard
    * (`IndexTool.update`). */
  def updateBm25Index(index: Bm25Index, deltaTerms: DataFrame): Bm25Index = {
    val d = buildBm25Index(deltaTerms)
    Bm25Index(
      index.postings.unionByName(d.postings),
      index.doclen.unionByName(d.doclen),
      index.docfreq.unionByName(d.docfreq)
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
      index.stats.unionByName(d.stats)
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_len")).as("total_len")))
  }

  /** The segmented BM25 tier ([[graft.sinks.SegmentedIndex]]): the
    * corpus-sized surfaces shard so a delta commits only the shards it
    * routes to. postings and docfreq ride the SAME term-hash shard — they
    * must stay term-consistent (a posting whose term has no df row
    * silently drops from every idf computation); doclen shards by doc
    * id; the 1-row stats is a singleton. Append-mode docfreq segments
    * are PARTIAL per-term counts, summed by the live view; a term's df
    * rows live only in its own shard, so per-shard merges equal the
    * global one. */
  object Bm25Sharded extends SegmentedIndex.Tier[Bm25Index] {
    import SegmentedIndex.{Family, Surface, Write}

    val families: Seq[Family] = Seq(
      Family("shards",
        n => pmod(xxhash64(col("term")), lit(n.toLong)).cast("int"), Seq(
          Surface("postings", Seq("term", "doc_id", "tf")),
          Surface("docfreq", Seq("term", "df")))),
      Family("docshards", n => pmod(col("doc_id"), lit(n.toLong)).cast("int"),
        Seq(Surface("doclen", Seq("doc_id", "dl")))))
    override val singletons: Seq[Surface] =
      Seq(Surface("stats", Seq("n_docs", "total_len")))
    val ids: (String, String) = ("doclen", "doc_id")

    override def live(s: SegmentedIndex.Scan, surface: String): DataFrame =
      if (surface == "docfreq" && s.layered(surface))
        s(surface).groupBy(col("term")).agg(sum(col("df")).as("df"))
      else s(surface)

    /** Persists the two corpus-derived bases: the postings/doclen
      * stagings fill the caches the docfreq and stats rollups then read
      * instead of re-running the corpus scan, staged a round later
      * ([[saveBm25Index]]'s economics). */
    def surfacesOf(index: Bm25Index): Map[String, DataFrame] = Map(
      "postings" -> OperatorCaches.register(index.postings.persist()),
      "doclen" -> OperatorCaches.register(index.doclen.persist()),
      "docfreq" -> index.docfreq, "stats" -> index.stats)

    def artifact(spark: SparkSession, dir: String,
                 view: String => DataFrame): Bm25Index =
      Bm25Index(view("postings"), view("doclen"), view("docfreq"),
        view("stats"))

    /** Fold a DELTA batch in ([[updateBm25Index]]'s exactness and
      * NEW-doc_ids contract): postings/doclen rows as-is, docfreq as
      * per-delta partials, stats re-added. */
    def delta(deltaTerms: DataFrame): SegmentedIndex.Fold = fold { _ =>
      val d = buildBm25Index(deltaTerms)
      // persist the BASE surfaces: d.docfreq and d.stats derive from the
      // same tf/doclen subtrees, so cache substitution covers every
      // consumer; the routing collects fill both caches, so every
      // surface then stages in one round
      OperatorCaches.register(d.postings.persist())
      OperatorCaches.register(d.doclen.persist())
      Write(Map("shards" -> d.postings, "docshards" -> d.doclen), s => Map(
        "postings" -> d.postings, "docfreq" -> d.docfreq,
        "doclen" -> d.doclen,
        "stats" -> s("stats").unionByName(d.stats)
          .agg(sum(col("n_docs")).as("n_docs"),
            sum(col("total_len")).as("total_len"))), Seq("stats"))
    }

    /** REMOVE a doc set. A document's terms hash across the whole term
      * grid, so removal touches EVERY term shard but only the doc shards
      * its ids route to; docfreq re-derives from the surviving postings
      * and stats decrements by the removed docs' doclen rollup. */
    def removal(removedIds: DataFrame): SegmentedIndex.Fold = fold { _ =>
      val ids = OperatorCaches.register(removedIds
        .select(col("doc_id")).distinct().persist())
      Write(Map("docshards" -> ids), s => {
        val kept = OperatorCaches.register(s.live("postings")
          .join(ids, Seq("doc_id"), "left_anti").persist())
        val touchedLen = s.live("doclen")
        val removed = touchedLen.join(ids, Seq("doc_id"), "left_semi")
          .agg(coalesce(count(lit(1)), lit(0L)).as("rm_docs"),
            coalesce(sum(col("dl")), lit(0L)).as("rm_len"))
        Map("postings" -> kept,
          "docfreq" -> kept.groupBy(col("term")).agg(count(lit(1)).as("df")),
          "doclen" -> touchedLen.join(ids, Seq("doc_id"), "left_anti"),
          "stats" -> s("stats").crossJoin(removed)
            .select((col("n_docs") - col("rm_docs")).as("n_docs"),
              (col("total_len") - col("rm_len")).as("total_len")))
      }, Seq("stats"))
    }
  }

  /** Rank the whole corpus for each query in `queryTerms` (q_id, term) —
    * one row per DISTINCT query term (tf-in-query is ignored, the
    * standard bag-of-words query model). Self-retrieval (doc_id == q_id)
    * is excluded, matching the "first rows are the queries" convention of
    * the ANN queries.
    *
    * @param scale fixed-point scale for the int64 score sum (2^20).
    * @return (q_id, rank, doc_id, n_terms, score) down to per-query ranks
    *         (no top-k cut — the caller cuts, so fusion legs can pool
    *         deeper than a final answer would).
    */
  def bm25Ranked(queryTerms: DataFrame, index: Bm25Index,
                 k1: Double, b: Double, scale: Long): DataFrame = {
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val idf = (col("n_docs").cast(DoubleType) - col("df").cast(DoubleType)
        + 0.5) / (col("df").cast(DoubleType) + 0.5) + 1.0
    val norm = lit(oneMinusB) +
      lit(b) * (col("dl").cast(DoubleType) /
        (col("total_len").cast(DoubleType) / col("n_docs").cast(DoubleType)))
    val sat = col("tf").cast(DoubleType) * k1p1 /
      (col("tf").cast(DoubleType) + lit(k1) * norm)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    broadcast(queryTerms).join(index.postings, "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(index.docfreq, "term")
      .join(index.doclen, "doc_id")
      .crossJoin(broadcast(index.stats))
      .withColumn("contrib",
        floor(idf * sat * lit(scale).cast(DoubleType)).cast(LongType))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("score"))
      .withColumn("rank", row_number().over(w).cast(LongType))
  }

  /** Reciprocal-rank fusion — the standard lexical+dense combiner for
    * hybrid retrieval (Cormack, Clarke & Büttcher, SIGIR 2009): each
    * system contributes 1/(kRrf + rank) for the docs in its shortlist,
    * missing docs contribute 0, fused ranking = descending sum (ties →
    * smaller doc_id). Inputs are the two shortlists as `(q_id, doc_id,
    * lex_rank)` / `(q_id, doc_id, dense_rank)`.
    *
    * Exactness: each reciprocal is one double division and the fusion is
    * ONE fixed-order addition of two coalesced terms, so an oracle
    * mirrors it textually and doubles hash-compare (q104/q180).
    *
    * Scale shape: both legs arrive top-N per query, so the full-outer
    * join touches two (queries × N)-row frames on (q_id, doc_id) —
    * corpus-independent; the final window partitions by q_id. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, kRrf: Int,
              topK: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("lex_rank") + kRrf).cast(DoubleType),
          lit(0.0)) +
          coalesce(lit(1.0) / (col("dense_rank") + kRrf).cast(DoubleType),
            lit(0.0)))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .where(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("doc_id"), col("lex_rank"),
        col("dense_rank"), col("rrf"))
  }
}
