package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.{ArtifactStore, SegmentStore, ShardedCommit}

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
    * postings/doclen subtrees). The writes run in two overlapped waves:
    * first postings+doclen (their write jobs populate the caches as they
    * run), then docfreq+stats — launched only after the base frames are
    * fully materialized, so cache substitution is GUARANTEED (launching
    * all four at once would let the derived jobs plan against a
    * still-cold cache and re-run the corpus scan). Within each wave the
    * independent write jobs overlap through driver-side futures (same
    * pattern as the k-means training chains). */
  def saveBm25Index(index: Bm25Index, path: String,
                    expected: ArtifactStore.Expect = None): Unit = {
    val p = OperatorCaches.register(index.postings.persist())
    val dl = OperatorCaches.register(index.doclen.persist())
    ArtifactStore.publish(p.sparkSession, path, expected) { dir =>
      def wave(frames: Seq[(String, DataFrame)]): Unit = {
        Clustering.concurrentFrames(frames.map(_._2)) { (i, df) =>
          df.write.mode("overwrite").parquet(s"$dir/${frames(i)._1}")
        }
        ()
      }
      wave(Seq("postings" -> p, "doclen" -> dl))
      wave(Seq("docfreq" -> index.docfreq, "stats" -> index.stats))
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

  // ────────────────────── sharded BM25 artifact ──────────────────────
  //
  // The rewrite-unit fix for the lexical tier: [[updateBm25Index]] is
  // exact but re-persists the unioned postings and re-aggregated docfreq
  // WHOLESALE — at 100 TB a daily crawl would rewrite the entire lexical
  // index. Here the corpus-sized surfaces shard into independent
  // generational roots and a delta commits only the shards it routes to:
  //
  //   <gen>/_num_shards                 the grid size
  //   <gen>/shards/<s>/_seg_*/postings/ term-hash shards: postings + the
  //   <gen>/shards/<s>/_seg_*/docfreq/    vocabulary rollup for ITS terms
  //   <gen>/docshards/<s>/_seg_*/doclen/ doc-id shards: per-doc lengths
  //   <gen>/stats/_gen_*/               the 1-row corpus rollup (O(1)
  //                                       rewrite per update by design)
  //
  // all inside the artifact generation `<gen>`; each shard root names
  // its live segments through its own generation pointer.
  //
  // postings and docfreq ride the SAME term shard and swap inside one
  // generation — they must stay term-consistent (a posting whose term
  // has no df row silently drops from every idf computation). All
  // touched roots commit in ONE all-or-nothing pointer transaction
  // (ArtifactStore.commitGenAll under the artifact-base claim).

  private def termShard(s: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("term")), lit(s.toLong)).cast("int")
  private def docShard(s: Int): org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(s.toLong)).cast("int")

  def saveBm25Sharded(index: Bm25Index, path: String,
                      numShards: Int): Unit = {
    val spark = index.postings.sparkSession
    // persist the two corpus-derived bases: postings' staging job
    // materializes the tf cache which the (wave-1) docfreq staging and
    // the stats rollup then substitute instead of re-running the
    // tokenize+aggregate corpus scan (saveBm25Index's wave economics,
    // now on the sharded path too)
    OperatorCaches.register(index.postings.persist())
    OperatorCaches.register(index.doclen.persist())
    ArtifactStore.publish(spark, path) { dir =>
      ShardedCommit.writeNumShards(spark, dir, numShards)
      commitBm25Shards(spark, dir,
        pinAll(spark, dir, "shards", 0 until numShards),
        index.postings.select(col("term"), col("doc_id"), col("tf"))
          .withColumn("shard", termShard(numShards)),
        index.docfreq.select(col("term"), col("df"))
          .withColumn("shard", termShard(numShards)),
        pinAll(spark, dir, "docshards", 0 until numShards),
        index.doclen.select(col("doc_id"), col("dl"))
          .withColumn("shard", docShard(numShards)),
        Some((index.stats.select(col("n_docs"), col("total_len")),
          ArtifactStore.pinGen(spark, s"$dir/stats"))),
        ShardedCommit.SegReplace)
    }
  }

  /** Each pinned shard root with its live segment names — one manifest
    * read per root, shared by every surface the caller scans. */
  private def liveSegs(spark: SparkSession,
                       pinned: Seq[(Int, ShardedCommit.Pin)])
      : Seq[(String, Seq[String])] =
    pinned.map { case (_, (root, _, gen)) =>
      root -> SegmentStore.segmentsAt(spark, gen) }

  /** One surface of a shard family as ONE multi-path scan over every
    * root's live segments, its columns in `cols`' order — never an
    * S-way union of single scans (the union's per-branch planning
    * overhead is the cost sharding must not add). */
  private def scanShards(spark: SparkSession,
                         segs: Seq[(String, Seq[String])], surface: String,
                         cols: String*): DataFrame =
    ArtifactStore.readSurface(spark, segs.flatMap { case (root, ss) =>
      ss.map(s => s"$root/$s/$surface") }: _*).select(cols.map(col): _*)

  /** [[scanShards]] with each row's shard id, recomputed with the
    * routing hash the rows were written under ([[termShard]] /
    * [[docShard]]): every writer stages a row into shard `s` only when
    * its hash mod S is `s`, so this equals the shard it was read from. */
  private def scanRouted(spark: SparkSession,
                         segs: Seq[(String, Seq[String])], surface: String,
                         shard: org.apache.spark.sql.Column,
                         cols: String*): DataFrame =
    scanShards(spark, segs, surface, cols: _*).withColumn("shard", shard)

  private def pinAll(spark: SparkSession, path: String, family: String,
                     shards: Seq[Int]): Seq[(Int, ShardedCommit.Pin)] =
    shards.map(sh => sh -> ArtifactStore.pinGen(spark, s"$path/$family/$sh"))

  /** Load the sharded artifact as a regular [[Bm25Index]]: every
    * surface is partition-column-free, so each loads as ONE multi-path
    * scan over its per-shard live SEGMENTS ([[scanShards]]; the path
    * list grows with append-mode segments until `index-compact`).
    * docfreq segments written by append-mode updates are PARTIAL df
    * counts; when any shard holds more than one segment the load
    * sum-merges them per term — after compaction the plan collapses
    * back to the plain scan. */
  def loadBm25Sharded(spark: SparkSession, root: String): Bm25Index = {
    val path = ArtifactStore.resolve(spark, root)
    val all = 0 until ShardedCommit.numShards(spark, path)
    val tSegs = liveSegs(spark, pinAll(spark, path, "shards", all))
    val dfRaw = scanShards(spark, tSegs, "docfreq", "term", "df")
    Bm25Index(
      scanShards(spark, tSegs, "postings", "term", "doc_id", "tf"),
      scanShards(spark, liveSegs(spark, pinAll(spark, path, "docshards", all)),
        "doclen", "doc_id", "dl"),
      if (tSegs.forall(_._2.size <= 1)) dfRaw
      else dfRaw.groupBy(col("term")).agg(sum(col("df")).as("df")),
      ArtifactStore.readSurface(spark,
        ArtifactStore.resolve(spark, s"$path/stats")))
  }

  /** Fold a DELTA batch in. Default (`append = true`, the 100 TB
    * posture): each touched shard gains one DELTA-SIZED segment —
    * postings/doclen rows as-is, docfreq as PARTIAL per-term counts the
    * load sum-merges — so the write volume is O(delta) even though a
    * crawl batch's term hashes spray across the whole grid (the x25
    * measurement that motivated segments: the merge-mode sharded
    * update re-persisted every touched shard's surface and ran SLOWER
    * than unsharded). `append = false` is the merge: per touched
    * shard, postings union + docfreq sum-merge, re-persisted wholesale —
    * the SEGMENT-COMPACTING write. Same exactness either way: a term's
    * df rows live only in its own shard, so per-shard merges equal the
    * global one and the serve-time sum over partials equals the merged
    * count.
    * Returns the touched TERM shard ids. */
  def updateBm25Sharded(spark: SparkSession, root: String,
                        deltaTerms: DataFrame,
                        append: Boolean = true): Seq[Int] = {
    val path = ArtifactStore.resolve(spark, root)
    val n = ShardedCommit.numShards(spark, path)
    val d = buildBm25Index(deltaTerms)
    // persist the BASE surfaces (not the shard-annotated projections):
    // d.docfreq and d.stats derive from the same tf/doclen subtrees, so
    // cache substitution covers every consumer below, including the
    // wave-1 docfreq staging
    OperatorCaches.register(d.postings.persist())
    OperatorCaches.register(d.doclen.persist())
    val dPost = d.postings.withColumn("shard", termShard(n))
    val dLen = d.doclen.withColumn("shard", docShard(n))
    val tTouched = dPost.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val dTouched = dLen.select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (tTouched.isEmpty && dTouched.isEmpty) return tTouched
    val tPinned = pinAll(spark, path, "shards", tTouched)
    val dPinned = pinAll(spark, path, "docshards", dTouched)
    val sPin = ArtifactStore.pinGen(spark, s"$path/stats")
    val newStats = ArtifactStore.readSurface(spark, sPin._3)
      .select(col("n_docs"), col("total_len")).unionByName(d.stats)
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_len")).as("total_len"))
    val dDf = d.docfreq.withColumn("shard", termShard(n))
    if (append) {
      commitBm25Shards(spark, path, tPinned, dPost, dDf, dPinned, dLen,
        Some((newStats, sPin)), ShardedCommit.SegAppend)
      return tTouched
    }
    val tSegs = liveSegs(spark, tPinned)
    val dSegs = liveSegs(spark, dPinned)
    commitBm25Shards(spark, path, tPinned,
      scanRouted(spark, tSegs, "postings", termShard(n),
          "term", "doc_id", "tf")
        .unionByName(dPost),
      scanRouted(spark, tSegs, "docfreq", termShard(n), "term", "df")
        .unionByName(dDf)
        .groupBy(col("shard"), col("term")).agg(sum(col("df")).as("df")),
      dPinned,
      scanRouted(spark, dSegs, "doclen", docShard(n), "doc_id", "dl")
        .unionByName(dLen),
      Some((newStats, sPin)),
      ShardedCommit.SegReplace)
    tTouched
  }

  /** Fold every shard's segment list back to ONE segment per root —
    * the read-amplification reset after a run of append-mode updates
    * (postings/doclen re-persist as-is, docfreq sum-merges its
    * partials; results are hash-identical by the same argument as the
    * merge update). One scan per surface over every shard's segments.
    * Returns (termShards, docShards) compacted. */
  def compactBm25Sharded(spark: SparkSession, root: String)
      : (Seq[Int], Seq[Int]) = {
    val path = ArtifactStore.resolve(spark, root)
    val n = ShardedCommit.numShards(spark, path)
    val all = (0 until n).toSeq
    val tPinned = pinAll(spark, path, "shards", all)
    val dPinned = pinAll(spark, path, "docshards", all)
    val tSegs = liveSegs(spark, tPinned)
    commitBm25Shards(spark, path, tPinned,
      scanRouted(spark, tSegs, "postings", termShard(n),
        "term", "doc_id", "tf"),
      scanRouted(spark, tSegs, "docfreq", termShard(n), "term", "df")
        .groupBy(col("shard"), col("term")).agg(sum(col("df")).as("df")),
      dPinned,
      scanRouted(spark, liveSegs(spark, dPinned), "doclen",
        docShard(n), "doc_id", "dl"),
      None, ShardedCommit.SegReplace)
    (all, all)
  }

  /** REMOVE a doc set. A document's terms hash across the whole term
    * grid, so removal inherently touches EVERY term shard (the per-doc
    * surfaces are the doc shards its ids route to) — but each shard
    * still rewrites independently, bounded, and in the one atomic
    * pointer transaction. docfreq re-derives per shard from its
    * surviving postings; stats decrements by the removed docs' doclen
    * rollup. Returns the touched DOC shard ids. */
  def removeFromBm25Sharded(spark: SparkSession, root: String,
                            removedIds: DataFrame): Seq[Int] = {
    val path = ArtifactStore.resolve(spark, root)
    val n = ShardedCommit.numShards(spark, path)
    val ids = OperatorCaches.register(removedIds
      .select(col("doc_id")).distinct().persist())
    val dTouched = ids.withColumn("shard", docShard(n))
      .select(col("shard")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (dTouched.isEmpty) return dTouched
    val tAll = (0 until n).toSeq
    val tPinned = pinAll(spark, path, "shards", tAll)
    val dPinned = pinAll(spark, path, "docshards", dTouched)
    val sPin = ArtifactStore.pinGen(spark, s"$path/stats")
    val keptPost = OperatorCaches.register(
      scanRouted(spark, liveSegs(spark, tPinned), "postings",
          termShard(n), "term", "doc_id", "tf")
        .join(ids, Seq("doc_id"), "left_anti").persist())
    val touchedLen = scanRouted(spark, liveSegs(spark, dPinned),
      "doclen", docShard(n), "doc_id", "dl")
    val removedAgg = touchedLen.join(ids, Seq("doc_id"), "left_semi")
      .agg(coalesce(count(lit(1)), lit(0L)).as("rm_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("rm_len"))
    val newStats = ArtifactStore.readSurface(spark, sPin._3)
      .select(col("n_docs"), col("total_len")).crossJoin(removedAgg)
      .select((col("n_docs") - col("rm_docs")).as("n_docs"),
        (col("total_len") - col("rm_len")).as("total_len"))
    commitBm25Shards(spark, path, tPinned,
      keptPost,
      keptPost.groupBy(col("shard"), col("term"))
        .agg(count(lit(1)).as("df")),
      dPinned,
      touchedLen.join(ids, Seq("doc_id"), "left_anti"),
      Some((newStats, sPin)),
      ShardedCommit.SegReplace)
    dTouched
  }

  /** Shared staging/commit tail of the sharded-BM25 writers — the
    * [[graft.sinks.ShardedCommit]] choreography (extracted there when
    * the LSH/CDC/SemDeDup tiers adopted the layout): postings+docfreq
    * swap together per term shard, doclen per doc shard, the 1-row
    * stats as a singleton root, one all-or-nothing pointer commit.
    * Full writes (build/remove/compact, `SegReplace`) and delta writes
    * (append-mode update, `SegAppend`) both land as immutable segments
    * through [[ShardedCommit.commitSegmented]]. */
  private def commitBm25Shards(
      spark: SparkSession, path: String,
      termShards: Seq[(Int, ShardedCommit.Pin)],
      postings: DataFrame, docfreq: DataFrame,
      docShards: Seq[(Int, ShardedCommit.Pin)],
      doclen: DataFrame,
      stats: Option[(DataFrame, ShardedCommit.Pin)],
      mode: ShardedCommit.SegMode): Unit = {
    import ShardedCommit.{SegFamily, Surface}
    ShardedCommit.commitSegmented(spark, path,
      Seq(
        SegFamily(termShards, Seq(
          Surface("postings", postings, () => postings.limit(0).drop("shard")),
          // wave 1: docfreq usually derives from the postings frame's
          // persisted lineage — staging it after the postings wave lets
          // it substitute the freshly materialized cache
          Surface("docfreq", docfreq, () => docfreq.limit(0).drop("shard"),
            wave = 1)),
          mode),
        SegFamily(docShards, Seq(
          Surface("doclen", doclen, () => doclen.limit(0).drop("shard"))),
          mode)),
      stats.toSeq)
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
