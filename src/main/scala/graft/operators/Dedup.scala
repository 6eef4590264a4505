package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._
import graft.sinks.{ArtifactStore, SegmentedIndex}

/** The persisted two-surface CDC chunk index (see
  * [[Dedup.buildCdcArtifact]]): `chunks` is the doc-grain occurrence
  * table `(doc_id, h)`, `rollup` the serve-side aggregate
  * `(h, first_doc, n_occ)` — the [[graft.operators.Bm25Index]] split of
  * invertible per-doc rows plus derived rollups. */
final case class CdcArtifact(chunks: DataFrame, rollup: DataFrame,
                             legacy: Boolean = false)

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Three families, all expressed as pure DataFrame transforms so they scale
  * to a 1000-executor cluster with no driver-side state:
  *
  *  - '''exact''': hash-groupBy on a normalized fingerprint. One shuffle on
  *    the fingerprint; partial aggregation makes the common all-unique case
  *    map-side cheap.
  *  - '''MinHash + banded LSH''': signature → band buckets → shuffle on the
  *    bucket key → candidate pairs ONLY within buckets (never all-pairs) →
  *    exact Jaccard rerank. The bucket join is the standard
  *    similarity-join shape: cost is sum of squares of bucket sizes, not
  *    n². Works for any gram alphabet (word shingles, char n-grams).
  *  - '''SimHash''': 32-bit fingerprint; near-dup pairs via byte-banding
  *    (4 bands × 8 bits ⇒ guaranteed recall for Hamming distance ≤ 3).
  *
  * Every hash is md5-derived (portable: the DuckDB oracle computes the
  * identical value), every arithmetic step stays in exact int64, so results
  * are bit-identical across engines and across any degree of parallelism.
  */
object Dedup {

  /** MinHash affine re-hash constants h_j(x) = (A_j·x + B_j) mod P over the
    * 28-bit base hash: products stay < 2^41, exact in int64 in both engines.
    * Single source of truth is the native signature kernel
    * ([[graft.plans.MinhashSignature]]); these forwards keep the oracle SQL
    * builders on the identical family. */
  val Prime: Long = graft.plans.MinhashSignature.Prime
  def hashA(j: Int): Long = graft.plans.MinhashSignature.hashA(j)
  def hashB(j: Int): Long = graft.plans.MinhashSignature.hashB(j)

  /** Exact dedup: cluster by fingerprint; survivor = min id per cluster.
    * Output: (fp, survivor_id, cluster_size), one row per cluster. */
  def exactClusters(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("id")).as("survivor_id"), count(lit(1)).as("cluster_size"))

  /** One minhash value: min over pre-hashed grams of the j-th affine
    * re-hash — cheap integer ops; the md5 base hash is computed ONCE per
    * gram (lambda subtrees are excluded from Spark's common-subexpression
    * elimination, so hashing inside every minhash would cost k× the md5s). */
  def minhashOfHashes(ghash: Column, j: Int): Column =
    array_min(transform(ghash,
      h => (lit(hashA(j)) * h + lit(hashB(j))) % Prime))

  /** Banded-LSH near-duplicate pairs over a gram-set column.
    *
    * The whole pipeline (signature, banding, exact-Jaccard rerank) runs on
    * 28-bit md5 gram hashes, computed once per gram: the signature is k
    * affine re-hashes of the precomputed array, and the rerank intersects
    * long arrays instead of strings (cheaper, and the oracle mirrors the
    * identical hashed-gram algorithm, so collisions — ~1e-5 per doc pair at
    * 150 grams — affect both engines identically).
    *
    * @param gramsDf  (id: long, grams: array<string>) — distinct grams per doc
    * @param numHashes signature length k (bands * rowsPerBand must == k)
    * @param bands     number of LSH bands
    * @param threshold exact-Jaccard cutoff applied to candidate pairs
    * @return (doc_a, doc_b, jaccard) for candidate pairs with j >= threshold
    */
  /** Corpus-scaled MinHash rows-per-band — the Σcandidates knob of banded
    * LSH, exactly analogous to [[Similarity.bitsFor]] for sign buckets.
    *
    * Derivation: a corpus whose BACKGROUND pairwise Jaccard is ~j_bg
    * (unrelated documents still share common grams) produces band
    * collisions with probability ≈ bands·j_bg^rows per pair — a CONSTANT,
    * so candidates grow ~n²·bands·j_bg^rows: quadratic at any fixed rows.
    * (Measured on the synthetic corpus: j_bg ≈ 0.17, rows=4 →
    * ~15× cost for 5× documents — the round-9 scaling curve.) Growing
    * rows with log(n) keeps n²·j_bg^rows ≈ n·target, i.e. candidates
    * LINEAR: each +1 row divides background collisions by 1/j_bg ≥ 4
    * (the conservative bound this ladder uses), so rows is the smallest
    * r in [4, MaxLshRows] with n ≤ 8·4^r. The floor keeps small-corpus
    * recall identical to the historical fixed shape (r=4 up to 2048
    * docs); the top is [[MaxLshRows]] (the modular band key removed the
    * old int64 cap of 7). Past the top, longer grams (lower j_bg) are
    * the next knob — rows and gram length trade against threshold-edge
    * recall on the standard S-curve 1-(1-j^rows)^bands; exact
    * duplicates (j≈1) are found at ANY rows.
    */
  /** Ladder top. Was 7 (the exact-int64 polynomial band key's limit)
    * until round 11; the modular band-key fold ([[bandKeyStructs]])
    * removed that cap, so the ladder now keeps tightening to 12 rows —
    * corpora past 131072 docs (where 7 rows saturated and candidate mass
    * went quadratic, measured on the 25×/50× scale corpora) get 8..12
    * rows and keep candidates/doc bounded. */
  val MaxLshRows = 12

  def lshRowsFor(n: Long): Int =
    (4 to MaxLshRows).find(r => n <= (8L << (2 * r))).getOrElse(MaxLshRows)

  /** DuckDB mirror of [[lshRowsFor]] over a COUNT expression. */
  def sqlLshRowsFor(nExpr: String): String =
    (4 until MaxLshRows).map(r => s"WHEN $nExpr <= ${8L << (2 * r)} THEN $r")
      .mkString("CASE ", " ", s" ELSE $MaxLshRows END")

  def minhashLshPairs(gramsDf: DataFrame, numHashes: Int, bands: Int,
                      threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    minhashLshPairsHashed(
      gramsDf.select(col("id"),
        columnOf(graft.plans.Md5ArrayLong(expressionOf(col("grams")),
          nibbles = 7, distinctSorted = true)).as("ghash")),
      numHashes, bands, threshold)
  }

  /** Modulus of the band-key fold: keeps the polynomial inside int64 for
    * ANY rows-per-band (acc < 2^50 → acc·31 + mh < 2^55 + 2^31, exact in
    * both engines; DuckDB's `%` on nonnegatives == Spark's pmod). A
    * modular collision across keys only ADDS a candidate pair, which the
    * exact-Jaccard rerank filters identically in both engines — the same
    * argument the cross-band polynomial collisions always relied on. */
  val BandKeyMod: Long = 1L << 50

  /** The per-band (band, bkey) structs for a signature column `sig`.
    * Band key = base-31 polynomial of the band's minhash rows, folded
    * mod [[BandKeyMod]]: an 8-byte LONG shuffle key for ANY rows per
    * band (the pre-round-11 unreduced polynomial was exact only to 7
    * rows, which CAPPED the [[lshRowsFor]] ladder — at 131072+ docs the
    * saturated ladder made candidate mass quadratic). */
  private def bandKeyStructs(bands: Int, rows: Int): Seq[Column] =
    (0 until bands).map { b =>
      struct(lit(b).as("band"),
        (b * rows until (b + 1) * rows)
          .foldLeft(lit(0L))((acc, j) =>
            pmod(acc * 31 + element_at(col("sig"), j + 1), lit(BandKeyMod)))
          .as("bkey"))
    }

  /** Banded minhash signatures `(id, ghash, band, bkey)` of pre-hashed
    * gram sets — the join-key shape both sides of an LSH match share. Used
    * standalone for asymmetric joins (e.g. a document STREAM probing a
    * static corpus: build the corpus side once with this, persist it, and
    * stream-join on (band, bkey)). */
  def bandedSignatures(hashedGrams: DataFrame, numHashes: Int,
                       bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    require(rows <= MaxLshRows,
      s"rows per band above the ladder top $MaxLshRows: $rows")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    hashedGrams.select(col("id"), col("ghash"))
      .withColumn("sig", columnOf(graft.plans.MinhashSignature(
        expressionOf(col("ghash")), numHashes)))
      .select(col("id"), col("ghash"),
        explode(array(bandKeyStructs(bands, rows): _*)).as("bb"))
      .select(col("id"), col("ghash"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** [[minhashLshPairs]] over PRE-HASHED gram sets `(id, ghash)`: sorted
    * distinct 28-bit gram hashes, e.g. straight from the fused
    * `char_gram_hashes` / `word_shingle_hashes` kernels — which never
    * materialize a gram string at all. */
  def minhashLshPairsHashed(hashedGrams: DataFrame, numHashes: Int,
                            bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    // Hashes + signature materialized as their own projection and
    // persist()ed: the plan references this frame on both sides of the
    // band self-join, and Spark recomputes unpersisted subtrees per
    // reference. ghash is sorted ascending so the rerank can use the
    // O(n+m) two-pointer intersect; the hashed form is ~8 bytes/gram — at
    // 100 TB of text this cache is ~1% of the input and spills to disk if
    // executors can't hold it. The k-minhash signature runs as a native
    // one-pass kernel (graft.plans.MinhashSignature): the HOF form
    // (k × array_min lambdas) is CodegenFallback — interpreted per
    // ELEMENT — and walks the gram array once per minhash. Registered for
    // caller-managed release (OperatorCaches.releaseAll after the
    // consuming action) — the cache must outlive this lazy result.
    val hashedDf = OperatorCaches.register(
      hashedGrams.select(col("id"), col("ghash"))
        .withColumn("sig", columnOf(graft.plans.MinhashSignature(
          expressionOf(col("ghash")), numHashes)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Band-key magnitude: the mod-2^50 fold (BandKeyMod) keeps the
    // polynomial in int64 for any ladder rows; the oracle reproduces the
    // identical integer. A fold collision across keys only adds a
    // candidate pair, which the exact-Jaccard rerank then filters
    // identically in both engines. An empty gram set has a null
    // signature (array_min semantics) -> null band keys -> never joins,
    // in both engines.
    require(rows <= MaxLshRows,
      s"rows per band above the ladder top $MaxLshRows: $rows")
    // The band rows CARRY the gram-hash arrays: the per-bucket self-join
    // shuffles |docs|·bands array rows (megabytes), and the exact-Jaccard
    // rerank runs inline on the join output — the alternative (distinct
    // pairs first, then re-join the arrays by id twice) shuffles the
    // arrays once per CANDIDATE PAIR, which is orders of magnitude more
    // rows. Filtering on the threshold BEFORE distinct() means the
    // dedup-across-bands shuffle only sees surviving pairs (jaccard is
    // deterministic, so filter∘distinct ≡ distinct∘filter).
    val banded = hashedDf
      .select(col("id"), col("ghash"),
        explode(array(bandKeyStructs(bands, rows): _*)).as("bb"))
      .select(col("id"), col("ghash"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // Jaccard via ONE two-pointer merge per pair (the arrays are sorted
    // distinct): inter / (|a| + |b| - inter). array_intersect/array_union
    // would each build a per-row hash set — ~30× slower in the rerank loop.
    // minJaccard arms the merge's early abort: low-overlap candidates stop
    // as soon as they provably can't pass the threshold (aborted pairs
    // yield -1 -> negative jaccard -> dropped by the same filter).
    val inter = columnOf(graft.plans.SortedIntersectSize(
      expressionOf(col("a.ghash")), expressionOf(col("b.ghash")),
      if (threshold > 0) Some(threshold) else None))
    // Size-ratio prefilter inside the JOIN condition: jaccard <= min/max
    // (inter <= min size, union >= max size), so a pair whose size ratio is
    // already under the threshold can never pass the rerank — pruned here,
    // BEFORE the O(n+m) intersect in the projection runs. Exact: IEEE
    // division is monotone, so double(min/max) >= double(inter/union)
    // whenever the real ratios are ordered — no boundary pair the oracle
    // keeps is ever dropped.
    val sizeRatioOk =
      least(size(col("a.ghash")), size(col("b.ghash"))).cast(DoubleType) /
        greatest(size(col("a.ghash")), size(col("b.ghash"))).cast(DoubleType) >=
        threshold
    // Bucket-skew guard: the self-join's cost is Σ|bucket|² and Spark
    // puts ONE (band, bkey) bucket on ONE task — a single degenerate
    // bucket (25× scaling run: 5553 short near-identical docs in one
    // bucket = 15.4M of the corpus's 37.8M candidate pairs) serializes
    // the whole query behind one straggler (measured 89× at 25× before
    // this guard). Tile every over-cap bucket into nc = ceil(|bucket|/cap)
    // deterministic hash cells and join on (band, bkey, ta, tb): side a
    // keeps its cell as ta and explodes all partner cells tb, side b the
    // mirror — each (cell_a, cell_b) combination meets in EXACTLY one
    // tile, so the output pair set is IDENTICAL (no recall trade, unlike
    // the SemDeDup subcell guard — the oracles never see this) while the
    // widest task shrinks from |bucket|² to ~cap² pairs. Replication is
    // nc× per side INSIDE over-cap buckets only; the ubiquitous nc = 1
    // bucket explodes a 1-element sequence — same single row as before.
    // The census costs one extra count-window pass over the banded
    // frame, so it engages WITH THE LADDER: below 6 rows per band the
    // corpus is ≤ 8192 docs (lshRowsFor), where even a fully degenerate
    // bucket verifies in seconds and the window would be pure overhead
    // (measured +0.3–0.8 s per query at sf0.1). Both branches produce
    // the IDENTICAL pair set.
    val verified =
      if (rows < 6) {
        banded.as("a")
          .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
              col("a.id") < col("b.id") && sizeRatioOk)
      } else tiledBucketSelfJoin(banded, LshBucketCap, sizeRatioOk)
    verified
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        (inter.cast(DoubleType) /
          (size(col("a.ghash")) + size(col("b.ghash")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** Per-bucket pairing width the tiled LSH self-join targets: the widest
    * task verifies ~cap² candidate pairs regardless of bucket skew. */
  val LshBucketCap: Long = 512L

  /** Corpus size above which the census+tile bucket-skew guard engages for
    * the fixed-band self-joins ([[simhashPairs]], [[hammingPairs]]).
    *
    * The straggler the guard relieves exists only for SHUFFLE joins —
    * they cluster by (band, bkey), so one degenerate bucket is one task.
    * A BROADCAST join has no such problem: its probe side keeps the
    * input's partitioning, spreading every bucket's pair work across all
    * tasks for free. These operators' banded rows are NARROW (a code
    * string / a 60-bit fingerprint — ~50 bytes), so Catalyst broadcasts
    * one side until roughly 10 MB ≈ 64k docs × bands; engaging tiles
    * below that point only ADDS census+shuffle overhead to an
    * already-balanced broadcast plan (measured 2.6× slower at 3k docs,
    * equal-at-best at 20k). Past it the join shuffles and the guard is
    * the difference between one task and ~cap²-bounded tasks. (The
    * MinHash LSH guard engages far earlier — at its ladder's rows >= 6,
    * 8k docs — because ghash array payloads are KBs per row and leave
    * broadcast range almost immediately.) */
  val TileEngageDocs: Long = 65536L

  /** Census+tile the (band, bkey) buckets of a banded frame: appends
    * `nc` = ceil(|bucket|/cap) (the bucket's tile count) and `cell` (the
    * row's deterministic hash cell in [0, nc)). Null band keys are
    * dropped first — they can never equi-join, and a corpus of many
    * null-key rows (e.g. empty gram sets) would otherwise pool into one
    * giant bucket and explode nc copies of dead rows. */
  private def tileCensus(banded: DataFrame, cap: Long): DataFrame = {
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bkey"))
    banded.filter(col("bkey").isNotNull)
      .withColumn("bsz", count(lit(1)).over(wBucket))
      .withColumn("nc",
        expr(s"cast((bsz + ${cap - 1}) div $cap as int)"))
      .withColumn("cell", (hash28(concat(lit("lshtile"),
        col("id").cast("string"))) % col("nc")).cast("int"))
      .drop("bsz")
  }

  /** Bucket-skew-guarded self-join shared by every Σ|bucket|² banded
    * self-join (MinHash LSH bands, SimHash bands, pigeonhole hamming
    * blocks): Spark puts ONE (band, bkey) bucket on ONE task, so a single
    * degenerate bucket serializes the whole query behind one straggler
    * (q24 measured 89× at 25× before the guard). Every over-cap bucket is
    * tiled into nc = ceil(|bucket|/cap) deterministic hash cells and the
    * join key becomes (band, bkey, ta, tb): side a keeps its cell as ta
    * and explodes all partner cells tb, side b the mirror — each
    * (cell_a, cell_b) combination meets in EXACTLY one tile, so the
    * output pair set is IDENTICAL to the plain bucket self-join (no
    * recall trade; the oracles never see this) while the widest task
    * shrinks from |bucket|² to ~cap² pairs. Replication is nc× per side
    * INSIDE over-cap buckets only; the ubiquitous nc = 1 bucket explodes
    * a 1-element sequence — the same single row as before. The census
    * frame is persisted (registered with [[OperatorCaches]]): both sides
    * reference it, and an unpersisted subtree would re-run the census
    * window scan once per side.
    *
    * All payload columns of `banded` ride through; `extra` is an extra
    * join predicate over the `a`/`b` aliases (e.g. a size-ratio
    * prefilter), applied inside the join exactly as in the plain shape. */
  private def tiledBucketSelfJoin(banded: DataFrame, cap: Long,
                                  extra: Column): DataFrame = {
    val withCell = OperatorCaches.register(
      tileCensus(banded, cap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val payload = banded.columns.map(col).toSeq
    // Both sides are REPARTITIONED by the full (band, bkey, ta, tb) tile
    // key before the join — the spread across tile cells IS the guard,
    // and it must hold under EVERY join strategy Catalyst may pick:
    //  - a shuffle join (big payloads, the LSH ghash case) needs exactly
    //    this clustering, so EnsureRequirements adds no second exchange;
    //  - a broadcast join (narrow payloads under the threshold, e.g.
    //    hamming codes) keeps the PROBE side's incoming partitioning —
    //    which after the census cache is the window's (band, bkey)
    //    layout, i.e. a degenerate bucket's every tile back on the ONE
    //    task the guard exists to relieve (measured 4.7× slower than
    //    untiled on a 20k-doc shared-prefix corpus before this
    //    repartition; forcing a merge join instead evicts the join from
    //    whole-stage codegen and was 6× slower again).
    // The partition COUNT is pinned explicitly: these sides are bytes-
    // tiny (the blowup is the join's OUTPUT, which AQE's bytes-based
    // coalescing cannot see), so an unpinned repartition gets coalesced
    // to ONE post-shuffle partition and the whole guard runs serial.
    val nShuffle = banded.sparkSession.sessionState.conf.numShufflePartitions
    val aSide = withCell.select(payload :+ col("cell").as("ta") :+
        explode(sequence(lit(0), col("nc") - 1)).as("tb"): _*)
      .repartition(nShuffle, col("band"), col("bkey"), col("ta"), col("tb"))
    val bSide = withCell.select(payload :+
        explode(sequence(lit(0), col("nc") - 1)).as("ta") :+
        col("cell").as("tb"): _*)
      .repartition(nShuffle, col("band"), col("bkey"), col("ta"), col("tb"))
    aSide.as("a").join(bSide.as("b"),
      col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
        col("a.ta") === col("b.ta") && col("a.tb") === col("b.tb") &&
        col("a.id") < col("b.id") && extra)
  }

  /** Incremental (delta-vs-corpus) near-dup detection — the production
    * ingestion pattern: a NEW batch is deduped against the already-indexed
    * corpus before it is admitted, without ever re-mining corpus×corpus
    * pairs. Both sides arrive pre-hashed `(id, ghash)` (sorted distinct
    * 28-bit gram hashes, e.g. from the fused `word_shingle_hashes`
    * kernel); each is banded (`bandedSignatures`) and the equi-join on
    * `(band, bkey)` produces ONLY delta×corpus candidates — so at 100 TB
    * the corpus side is a precomputed, bucketed index and the join cost
    * scales with the delta (corpus bucket occupancy × delta rows), not
    * with corpus². Same guaranteed-recall banding, size-ratio prefilter,
    * and early-abort exact-Jaccard rerank as [[minhashLshPairsHashed]].
    *
    * @return (new_doc, dup_of, jaccard): delta ids with their matched
    *         corpus ids at `jaccard >= threshold` — the batch's drop set.
    */
  def incrementalLshPairs(delta: DataFrame, corpus: DataFrame,
                          numHashes: Int, bands: Int,
                          threshold: Double): DataFrame =
    incrementalLshPairsIndexed(delta,
      bandedSignaturesTiled(corpus, numHashes, bands), numHashes, bands,
      threshold)

  /** [[bandedSignatures]] plus the bucket-skew tile columns `(cell, nc)`
    * — the census is computed ONCE here (build time), so the serve-side
    * asymmetric join stays delta-scaled: a degenerate corpus bucket
    * would otherwise put every delta×bucket candidate on one task
    * (the same straggler the self-join guard removes). Engages with the
    * ladder like the self-join (rows < 6 ⇒ every row cell 0 of 1 — the
    * join shape is then byte-identical to the unguarded one). The tile
    * columns ride through [[saveLshIndex]]/[[loadLshIndex]] as ordinary
    * parquet columns. */
  def bandedSignaturesTiled(hashedGrams: DataFrame, numHashes: Int,
                            bands: Int): DataFrame =
    retile(bandedSignatures(hashedGrams, numHashes, bands), numHashes, bands)

  /** Persist a banded-signature index ([[bandedSignatures]] output) as
    * one parquet table `(id, ghash, band, bkey)` — the build-once half
    * of build-once/serve-many ingestion dedup (the LSH analog of
    * `Clustering.savePqIndex`). Partitioning survives as parquet file
    * layout; the serve-side join re-shuffles on (band, bkey) either way. */
  def saveLshIndex(index: DataFrame, path: String,
                   expected: ArtifactStore.Expect = None): Unit =
    ArtifactStore.publish(index.sparkSession, path, expected) { dir =>
      index.write.mode("overwrite").parquet(dir)
    }

  def loadLshIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    ArtifactStore.readSurface(spark, ArtifactStore.resolve(spark, path))

  /** Fold a DELTA batch's signatures into an existing banded index —
    * the update leg of build-once/serve-many ingestion dedup (documents
    * the screen ADMITS must join the index, or next week's near-copies
    * of them sail through). The minhash chain — the expensive half —
    * runs over the delta only; the tile census (bucket sizes → nc/cell)
    * is then re-derived over the unioned signatures, because admitting
    * rows into a bucket can push it over [[LshBucketCap]] and a stale
    * census would re-open the skew cliff the tiles exist to close. The
    * census is one window count over (band, bkey) — index-linear but
    * scan-cheap, no signature recompute. Result is EXACTLY
    * [[bandedSignaturesTiled]] of the full corpus (same signatures,
    * same census), which is what the q155 oracle verifies. */
  def updateLshIndex(index: DataFrame, deltaHashed: DataFrame,
                     numHashes: Int, bands: Int): DataFrame = {
    retile(sigCols(index).unionByName(
      bandedSignatures(deltaHashed, numHashes, bands)), numHashes, bands)
  }

  /** REMOVE a doc set from the banded index — the right-to-be-forgotten
    * leg: a deleted document must stop matching future probes, which an
    * append-only index can never deliver. Per-doc signature rows are
    * independent, so an anti-join filter plus the census re-derivation
    * over the survivors equals a fresh [[bandedSignaturesTiled]] build
    * over the remaining corpus exactly (q164's oracle replays it: pairs
    * against removed docs VANISH). `removedIds` is one `id` column. */
  def removeFromLshIndex(index: DataFrame, removedIds: DataFrame,
                         numHashes: Int, bands: Int): DataFrame =
    retile(sigCols(index).join(removedIds.select(col("id")).distinct(),
      Seq("id"), "left_anti"), numHashes, bands)

  /** The census columns `(cell, nc)` over signature rows `(id, ghash,
    * band, bkey)`: the skew tiles when rows per band are 6 or more
    * ([[tileCensus]]), else every row cell 0 of 1. */
  private def retile(banded: DataFrame, numHashes: Int,
                     bands: Int): DataFrame =
    if (numHashes / bands < 6)
      banded.withColumn("cell", lit(0)).withColumn("nc", lit(1))
    else tileCensus(banded, LshBucketCap)

  private def sigCols(df: DataFrame): DataFrame =
    df.select(col("id"), col("ghash"), col("band"), col("bkey"))

  /** The segmented LSH tier ([[graft.sinks.SegmentedIndex]]) over a
    * TILED banded index ([[bandedSignaturesTiled]] — the layout exists
    * for corpora big enough to need the skew tiles). Signature rows
    * shard by BUCKET-KEY hash: the tile census is per-(band, bkey)
    * state, so a bucket never straddles shards and a per-shard
    * re-census equals the global one restricted to those buckets.
    *
    * The census is also why an append can not just add rows: admitting
    * delta rows re-tiles their buckets. An append-mode segment is a
    * SHADOW-BUCKET segment — the re-censused union of every touched
    * bucket (its live rows + the delta's; volume delta × bucket
    * occupancy, bounded by [[LshBucketCap]] tiles) plus a `mask` row per
    * touched bucket. Every sig row carries `seg_ord`, the ordinal of the
    * segment that wrote it (strictly monotone per root); a row is live
    * iff no later mask names its bucket, so the live view is one
    * broadcast anti-join against the delta-scaled masks, and after
    * compaction the masks vanish. */
  object LshSharded extends SegmentedIndex.Tier[DataFrame] {
    import SegmentedIndex.{Family, Surface, Write}

    val families: Seq[Family] = Seq(Family("shards",
      n => pmod(xxhash64(col("band"), col("bkey")), lit(n.toLong)).cast("int"),
      Seq(Surface("sig",
          Seq("id", "ghash", "band", "bkey", "cell", "nc", "seg_ord")),
        Surface("mask", Seq("band", "bkey", "mord")))))
    val ids: (String, String) = ("sig", "id")

    override def live(s: SegmentedIndex.Scan, surface: String): DataFrame =
      if (!s.layered(surface)) s(surface)
      else if (surface == "sig") {
        val (sig, masks) = (s("sig"), s("mask"))
        sig.join(broadcast(masks),
            sig("band") === masks("band") && sig("bkey") === masks("bkey") &&
              masks("mord") > sig("seg_ord"), "left_anti")
          .withColumn("seg_ord", lit(0L))
      } else s(surface).limit(0)

    def surfacesOf(index: DataFrame): Map[String, DataFrame] = Map(
      "sig" -> index.withColumn("seg_ord", lit(0L)),
      "mask" -> index.select(col("band"), col("bkey"), lit(0L).as("mord"))
        .limit(0))

    /** Exactly [[loadLshIndex]]'s shape, so every serve path is shared. */
    def artifact(spark: org.apache.spark.sql.SparkSession, dir: String,
                 view: String => DataFrame): DataFrame =
      view("sig").drop("seg_ord")

    /** Fold a DELTA batch's signatures in: one shadow-bucket segment per
      * touched shard. Re-tiling exactly the touched buckets equals the
      * global re-census ([[updateLshIndex]]'s semantics). */
    def delta(deltaHashed: DataFrame, numHashes: Int,
              bands: Int): SegmentedIndex.Fold = fold { _ =>
      val banded = OperatorCaches.register(
        bandedSignatures(deltaHashed, numHashes, bands).persist())
      Write(Map("shards" -> banded), s => {
        val buckets = banded.select(col("band"), col("bkey")).distinct()
        val ord = s.segOrdinal
        Map("sig" -> retile(sigCols(s.live("sig")
              .join(broadcast(buckets), Seq("band", "bkey"), "left_semi"))
            .unionByName(sigCols(banded)), numHashes, bands)
            .withColumn("seg_ord", ord),
          "mask" -> buckets.withColumn("mord", ord))
      })
    }

    /** REMOVE a doc set: its signature rows hash across the whole bucket
      * grid, so every shard rewrites, the census re-derived over the
      * survivors ([[removeFromLshIndex]]'s semantics). */
    def removal(removedIds: DataFrame, numHashes: Int,
                bands: Int): SegmentedIndex.Fold = fold { _ =>
      Write(Map.empty, s => Map(
        "sig" -> retile(sigCols(s.live("sig")).join(
            removedIds.select(col("id")).distinct(), Seq("id"), "left_anti"),
          numHashes, bands).withColumn("seg_ord", lit(0L)),
        "mask" -> s("mask").limit(0)))
    }
  }

  /** [[incrementalLshPairs]] against an already-built (typically LOADED)
    * corpus-side banded index: the serve path recomputes NO corpus
    * signatures — each batch pays only its own banding plus the
    * (band, bkey) equi-join into the index. numHashes/bands must match
    * the index's build parameters (a mismatch silently empties the join;
    * the caller owns that contract, exactly like a search index). */
  def incrementalLshPairsIndexed(delta: DataFrame, corpusIndex: DataFrame,
                                 numHashes: Int, bands: Int,
                                 threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val deltaBanded = bandedSignatures(delta, numHashes, bands)
    val inter = columnOf(graft.plans.SortedIntersectSize(
      expressionOf(col("a.ghash")), expressionOf(col("b.ghash")),
      if (threshold > 0) Some(threshold) else None))
    val sizeRatioOk =
      least(size(col("a.ghash")), size(col("b.ghash"))).cast(DoubleType) /
        greatest(size(col("a.ghash")), size(col("b.ghash"))).cast(DoubleType) >=
        threshold
    // A tiled index ([[bandedSignaturesTiled]] — `cell`/`nc` columns)
    // spreads a degenerate corpus bucket across its cells: each delta
    // row learns the bucket's nc from the (band, bkey, nc)-distinct
    // bucket table (a delta-scaled shuffle join; buckets the corpus
    // doesn't have produce no candidates, so inner semantics are right),
    // explodes one probe per cell, and the join adds the cell key. The
    // candidate SET is identical either way — the tile only splits tasks.
    val joined =
      if (corpusIndex.columns.contains("nc")) {
        val buckets = corpusIndex.select(col("band"), col("bkey"), col("nc"))
          .distinct()
        val a = deltaBanded.join(buckets, Seq("band", "bkey"))
          .select(col("id"), col("ghash"), col("band"), col("bkey"),
            explode(sequence(lit(0), col("nc") - 1)).as("cell"))
          .as("a")
        a.join(corpusIndex.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.cell") === col("b.cell") && sizeRatioOk)
      } else {
        deltaBanded.as("a").join(corpusIndex.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            sizeRatioOk)
      }
    joined
      .select(col("a.id").as("new_doc"), col("b.id").as("dup_of"),
        (inter.cast(DoubleType) /
          (size(col("a.ghash")) + size(col("b.ghash")) - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** Quality-aware survivorship: resolve each near-dup cluster to the
    * member with the HIGHEST score (ties → smallest id) — the upgrade over
    * min-id survivorship ([[nearDupClusters]]'s `doc_id == cluster_id`
    * convention) that production curation actually wants: keep the best
    * copy, not the oldest.
    *
    * Scale shape: one partial-aggregated `max(struct(score, -id))` per
    * cluster — an order-free commutative agg with full map-side combine,
    * no window, no skew cliff even if one cluster holds a million copies.
    *
    * @param docs     (idCol, scoreCol, ...) — the scored corpus
    * @param clusters (doc_id, cluster_id) — [[nearDupClusters]] output
    * @return one row per cluster: (cluster_id, kept_doc, best_score,
    *         n_members)
    */
  def clusterSurvivors(docs: DataFrame, clusters: DataFrame,
                       idCol: String, scoreCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"), col(scoreCol).as("__score"))
      .join(clusters, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("__score").as("s"), (-col("doc_id")).as("ni"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("m.ni")).as("kept_doc"),
        col("m.s").as("best_score"), col("n_members"))
  }

  /** Build a Bloom filter over pre-hashed gram sets — the broadcast-able
    * decontamination index. Where the exact variant (q58's LSH pair join)
    * shuffles BOTH corpora, the bloom path reduces the benchmark/test side
    * to `m` bits once, ships them to every executor, and probes the
    * training corpus at scan speed with zero joins — the right shape when
    * the probe side is 100 TB and the protected side is a benchmark suite.
    *
    * Positions use Kirsch–Mitzenmacher double hashing from the single
    * portable 28-bit gram hash: `h1 = h mod m`, `h2 = 2·(h div m) + 1`
    * (odd, so all k probes are distinct mod the power-of-two m), position
    * j = `(h1 + j·h2) mod m`. Every step is exact integer math the DuckDB
    * oracle replays, so even the FALSE POSITIVES are deterministic and
    * hash-verifiable.
    *
    * @param hashed (id, ghash) with ghash = sorted distinct gram hashes
    * @param m      filter size in bits (power of two, ≤ 2^24: the bit
    *               array is materialized on the driver and inlined as a
    *               literal — 2 MB at the cap; a larger filter would move
    *               to a broadcast variable + custom expression)
    * @param k      probes per gram
    */
  def bloomFilterBits(hashed: DataFrame, m: Int, k: Int): Array[Long] = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two: $m")
    require(m <= (1 << 24), s"m above 2^24 needs a broadcast variable: $m")
    require(k > 0, s"k must be positive: $k")
    // Fold positions into 64-bit WORDS distributed (bit_or partial-aggs
    // map-side), so the driver collects ≤ m/64 word rows — ~260k rows /
    // few MB at the 2^24 cap. The earlier per-position distinct collected
    // up to m Row objects (~16M rows, hundreds of driver MB at the cap):
    // the documented 2 MB footprint, but only after this fold.
    val words = hashed
      .select(explode(col("ghash")).as("h"))
      .select(explode(bloomPositions(col("h"), m, k)).as("pos"))
      .groupBy((col("pos") / 64).cast(LongType).as("word"))
      .agg(bit_or(call_function("shiftleft", lit(1L),
        pmod(col("pos"), lit(64L)).cast(IntegerType))).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bits = new Array[Long](m / 64 max 1)
    words.foreach { case (wi, w) => bits(wi.toInt) |= w }
    bits
  }

  /** The k probe positions of one 28-bit gram hash (see
    * [[bloomFilterBits]]); pure column math, identical in the oracle. */
  private def bloomPositions(h: Column, m: Int, k: Int): Column = {
    val h1 = pmod(h, lit(m.toLong))
    val h2 = (h.divide(lit(m.toLong)).cast(LongType) * 2) + 1
    array((0 until k).map(j => pmod(h1 + lit(j.toLong) * h2, lit(m.toLong))): _*)
  }

  /** Probe each document's gram hashes against a Bloom filter: appends
    * `n_hits` (grams with ALL k bits set) and `flagged` (any hit). Pure
    * scan-speed column math over the inlined bit words — no join, no
    * shuffle; the 100 TB-side cost of bloom decontamination. */
  def bloomProbe(corpus: DataFrame, bits: Array[Long], m: Int,
                 k: Int): DataFrame = {
    // an m that disagrees with the filter's build-time m would silently
    // probe wrong positions (false NEGATIVES — breaking the bloom
    // contract); the word count pins it
    require(bits.length == (m / 64 max 1),
      s"bloomProbe: bits has ${bits.length} words but m=$m needs " +
        s"${m / 64 max 1} — was the filter built with a different m?")
    require(k > 0, s"k must be positive: $k")
    val words = lit(bits)
    // bit test via shiftright+mask: the shift amount is a COLUMN, so the
    // SQL-function form (the Scala `shiftright` helper only takes a
    // literal count); masking bit 0 makes the sign-fill irrelevant
    val bitSet = (pos: Column) =>
      call_function("shiftright",
        element_at(words, floor(pos.divide(lit(64L))).cast(IntegerType) + 1),
        pmod(pos, lit(64L)).cast(IntegerType))
        .bitwiseAND(lit(1L)) === lit(1L)
    val hit = (h: Column) => forall(bloomPositions(h, m, k), bitSet)
    corpus
      .withColumn("n_hits",
        size(filter(col("ghash"), hit)).cast(LongType))
      .withColumn("flagged", col("n_hits") > 0)
  }

  /** Inter-document duplicated n-gram coverage — the RefinedWeb/Gopher
    * "fraction of the document that also appears elsewhere" diagnostic:
    * for each document, the share of its distinct gram hashes that occur
    * in at least one OTHER document.
    *
    * Scale shape: explode grams once, ONE partial-aggregated count per
    * gram (doc frequency), one hash join back on the gram key — never a
    * doc×doc comparison. Gram doc-frequency skew (stopword-y grams) stays
    * inside the combiner.
    *
    * @param hashed (id, ghash) with ghash = sorted distinct gram hashes
    * @return (id, n_grams, n_shared, coverage) per input document with at
    *         least one gram
    */
  def ngramCoverage(hashed: DataFrame): DataFrame = {
    val grams = hashed.select(col("id"), explode(col("ghash")).as("h"))
    val docFreq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
    grams.join(docFreq, "h")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("coverage",
        col("n_shared").cast(DoubleType) / col("n_grams").cast(DoubleType))
  }

  /** Duplicated-span MASKING — the exact-substring-dedup transform (the
    * "dedup the passage, keep the document" pass of training-data
    * curation, after Lee et al. 2021): every token position covered by a
    * word n-gram that occurs in MORE THAN ONE document is masked out, and
    * the document is rebuilt from the surviving tokens. Where
    * [[ngramCoverage]] only DIAGNOSES duplication, this REMOVES it —
    * boilerplate (headers, licenses, navigation chrome) shared across
    * documents disappears while unique prose survives.
    *
    * Scale shape: one gram-df aggregation (the corpus token stream, full
    * map-side combine), one hash join back on the 60-bit gram hash, a ≤n×
    * position explode of duplicated grams only, and a per-document
    * rebuild whose sort is WITHIN the collected row (array_sort over one
    * doc's surviving tokens) — never a corpus-wide window; everything
    * shuffles on doc id or gram, so skew is gram-frequency skew and
    * stays in the combiner. Never doc×doc.
    *
    * @param n span width in tokens: positions i..i+n-1 of each
    *          duplicated gram starting at i are masked
    * @return (id, n_tokens, n_covered, n_kept, keep_frac, kept_text) —
    *         kept_text is the space-joined surviving tokens in original
    *         order ("" when the whole document is duplicated)
    */
  def dupSpanMask(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame = {
    require(n >= 2, s"span width must be >= 2: $n")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val t = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("t"))
    // (id, start, h): the gram starting at 1-based token position `start`,
    // carried as its portable 60-bit hash — gram STRINGS never leave the
    // scan stage (the df shuffle and the coverage join move int64s; at
    // corpus scale the strings would be the dominant shuffle bytes).
    // 2^60 keeps cross-doc collisions — which would mask a non-duplicated
    // span — out of reach at any realistic gram population. The hashes
    // come from the fused positional kernel (WordShingleHashSeq — one
    // codegen'd tokenize+window+md5 pass; property-pinned identical to
    // hash60 ∘ array_join ∘ slice over [[tokens]]).
    val grams = docs.select(col(idCol).as("id"),
        posexplode(columnOf(graft.plans.WordShingleHashSeq(
          expressionOf(col(textCol)), n, 15))).as(Seq("pos0", "h")))
      .select(col("id"), (col("pos0") + 1L).as("start"), col("h"))
    val docFreq = grams.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
    val covered = grams
      .join(docFreq.filter(col("df") >= 2).select(col("h")), "h")
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
      .distinct()
      .withColumn("cov", lit(true))
    val positions = t
      .select(col("id"), posexplode(col("t")).as(Seq("pos0", "tok")))
      .select(col("id"), (col("pos0") + 1L).as("pos"), col("tok"))
    positions.join(covered, Seq("id", "pos"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov"), 1L).otherwise(0L)).as("n_covered"),
        array_join(transform(
          array_sort(collect_list(when(col("cov").isNull,
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ").as("kept_text"))
      .withColumn("n_kept", col("n_tokens") - col("n_covered"))
      .withColumn("keep_frac",
        col("n_kept").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .select(col("id"), col("n_tokens"), col("n_covered"), col("n_kept"),
        col("keep_frac"), col("kept_text"))
  }

  /** Resolve near-duplicate PAIRS into clusters — the survivorship step a
    * training pipeline runs after pair mining: every document in a
    * connected component gets the component's minimum doc id as its
    * cluster id (so `doc_id == cluster_id` marks the survivor and the
    * rest are the drop set).
    *
    * Algorithm: iterative min-label propagation with POINTER DOUBLING —
    * each round every node takes the min of its own label, its neighbors'
    * labels, and its label's label (the path-halving step of classic
    * pointer-jumping CC). Neighbor-min alone needs O(diameter) rounds,
    * and near-dup graphs DO contain long chains (each drifted copy pairs
    * only with its neighbors in the drift sequence); label-doubling cuts
    * that to O(log diameter) rounds of two shuffle-joins + one
    * partial-aggregable min each. The fixpoint is unchanged: labels stay
    * within the component and only ever decrease, so both variants (and
    * the oracle's recursive closure) converge to min-of-component.
    *
    * @param pairs (doc_a, doc_b) near-dup pairs, doc_a < doc_b
    * @return (doc_id, cluster_id) for every doc appearing in some pair
    */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Both edge directions from ONE pass over the pairs (explode, not a
    // self-union: a union would reference — and recompute — the unpersisted
    // pair-mining subtree twice).
    val edges = OperatorCaches.register(
      pairs.select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist(lvl))
    // Iteration state must have its CATALYST lineage truncated each round:
    // a persisted frame still carries its full logical plan, so after k
    // rounds the analyzer re-plans a stack k unions/joins deep — plan
    // BUILD time grows without bound even though execution reads cache
    // (observed as minutes of driver time on a 10-round chain). Rebasing
    // the frame on its own persisted row RDD (`createDataFrame(rdd,
    // schema)`) cuts the plan to a leaf while keeping RDD-level lineage
    // for executor-loss recovery, and lets each round's storage be
    // RELEASED deterministically — localCheckpoint would pin one cached
    // copy per round until driver GC and lose fault tolerance.
    val session = pairs.sparkSession
    def truncated(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(lvl)
      (session.createDataFrame(rdd, df.schema), rdd)
    }
    var (labels, labelsRdd) = truncated(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
    var changed = labels.count() > 0
    var rounds = 0
    while (changed) {
      rounds += 1
      // Labels decrease monotonically, so convergence is certain within
      // the largest component's diameter even without the doubling step;
      // 64 rounds means something is broken — fail instead of spinning.
      require(rounds <= 64,
        "nearDupClusters failed to converge in 64 rounds — " +
          "this indicates a bug, not a hard graph")
      val viaEdges = edges.as("e").join(labels.as("l"), col("e.dst") === col("l.id"))
        .select(col("e.src").as("id"), col("l.lbl").as("lbl"))
      val viaLabels = labels.as("x").join(labels.as("y"), col("x.lbl") === col("y.id"))
        .select(col("x.id").as("id"), col("y.lbl").as("lbl"))
      val (next, nextRdd) = truncated(
        labels.union(viaEdges).union(viaLabels)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl")))
      // Labels only ever decrease; a strict decrease anywhere means another
      // round. The limit(1) keeps the convergence probe cheap (and
      // materializes nextRdd, after which the old round's storage is dead).
      changed = next.as("n").join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.lbl") < col("o.lbl")).limit(1).count() > 0
      labelsRdd.unpersist(false)
      labels = next
      labelsRdd = nextRdd
    }
    // The final round's RDD backs the returned frame — registered so
    // Verify/Bench-style callers release it after their consuming action.
    OperatorCaches.registerRdd(labelsRdd)
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** SimHash from a precomputed token-hash array (frequency-weighted:
    * every occurrence votes ±1 per bit). Takes the hash column rather
    * than hashing inline so the md5s run once, not `bits`× (lambda
    * subtrees are excluded from common-subexpression elimination). */
  def simhashOfHashes(hs: Column, bits: Int = 32): Column =
    (0 until bits).map { j =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Token-hash array of a text column as one native pass (duplicates
    * kept: every occurrence votes in the frequency-weighted simhash). */
  private def tokenHashes(text: Column, nibbles: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    columnOf(graft.plans.Md5ArrayLong(expressionOf(tokens(text)),
      nibbles, distinctSorted = false))
  }

  private def simhashNative(hs: Column, bits: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    columnOf(graft.plans.SimhashOfHashes(expressionOf(hs), bits))
  }

  /** Default simhash geometry: 60-bit fingerprints in 5 bands of 12 bits.
    *
    * Why not round 3's 32-bit/4×8: each 8-bit band has only 256 buckets,
    * so at N docs every band bucket holds ~N/256 and candidates grow
    * ~N²/1024 — quadratic, the scale-killer. 12-bit bands give 4096
    * buckets per band (candidates ~N²·bands/2^bandBits, 16× fewer), and
    * the pigeonhole recall guarantee (any pair within Hamming ≤ bands-1
    * shares a band) widens from 3 to 4 — matching the wider fingerprint,
    * where the same text edit flips proportionally more bits. Band width
    * is the Σbucket² knob: more/wider bands = more recall/cost. */
  val SimhashBits = 60
  val SimhashBands = 5

  /** Near-dup pairs by SimHash banding: `bands` bands of `bits/bands`
    * bits guarantee any pair within Hamming distance `bands-1` shares at
    * least one band; candidates are then reranked by exact Hamming
    * distance (bit_count of xor). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, bits: Int = SimhashBits,
                   bands: Int = SimhashBands, tile: Boolean = false,
                   tileCap: Long = LshBucketCap): DataFrame = {
    require(bits % bands == 0 && bits <= 60,
      s"bits must be a multiple of bands and <= 60, got $bits/$bands")
    require(maxHamming <= bands - 1,
      s"recall guarantee needs bands > maxHamming ($bands bands, maxHamming $maxHamming)")
    val bandBits = bits / bands
    // Native one-pass kernels: hash every token, then fold all `bits` vote
    // counters in a single walk (the HOF form re-walks the token array
    // once per bit, interpreted).
    val sim = docs.select(col(idCol).as("id"),
      simhashNative(tokenHashes(col(textCol), if (bits > 32) 15 else 8), bits)
        .as("simhash"))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), bandBits * b)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bkey"))
    }
    val banded = sim
      .select(col("id"), col("simhash"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // A near-constant band across the corpus (e.g. a boilerplate-heavy
    // slice voting the same bits) is the same Σ|bucket|² degenerate-bucket
    // straggler the MinHash self-join hit at 25× — callers above
    // [[TileEngageDocs]] docs should pass tile = true to engage the
    // census+tile guard (identical pair set, bounded widest task).
    val joined =
      if (tile) tiledBucketSelfJoin(banded, tileCap, lit(true))
      else banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.id") < col("b.id"))
    // hamming is deterministic per pair, so filter∘distinct ≡
    // distinct∘filter — filtering first keeps the dedup-across-bands
    // shuffle to surviving pairs only.
    joined
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Guaranteed-recall fuzzy self-join on STRING hamming distance: all
    * pairs of equal-length strings differing in at most `maxHamming`
    * character positions (record linkage over codes/ids/fingerprints —
    * an operator Spark has no built-in for).
    *
    * Blocking is the pigeonhole split: a string is cut into
    * `maxHamming + 1` contiguous bands (boundaries depend only on
    * length), and two strings within the threshold differ in ≤ maxHamming
    * bands, so they agree EXACTLY on at least one (band index, band
    * content) key — the equi-join on that key has guaranteed recall, no
    * all-pairs scan. Candidates then rerank by exact per-char hamming.
    * Skew warning: a band whose content is near-constant across the
    * corpus (shared prefixes) degenerates to a quadratic bucket — block
    * on the VARYING part of structured strings.
    */
  def hammingPairs(df: DataFrame, idCol: String, strCol: String,
                   maxHamming: Int, tile: Boolean = false,
                   tileCap: Long = LshBucketCap): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0: $maxHamming")
    val bands = maxHamming + 1
    val banded = df.select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("bkey", expr(
        s"substring(s, CAST((band * length(s)) DIV $bands AS INT) + 1, " +
          s"CAST(((band + 1) * length(s)) DIV $bands AS INT) " +
          s"- CAST((band * length(s)) DIV $bands AS INT))"))
    val ham = aggregate(
      zip_with(split(col("sa"), ""), split(col("sb"), ""),
        (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (acc, v) => acc + v)
    // The scaladoc's shared-prefix degenerate bucket is exactly the
    // Σ|bucket|² one-task straggler — callers above [[TileEngageDocs]]
    // rows should pass tile = true (census+tile guard; identical pair
    // set, widest task bounded at ~tileCap² candidates).
    val joined =
      if (tile) tiledBucketSelfJoin(banded, tileCap,
        length(col("a.s")) === length(col("b.s")))
      else banded.as("a")
        .join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            length(col("a.s")) === length(col("b.s")) &&
            col("a.id") < col("b.id"))
    joined
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("sa"), col("b.s").as("sb"))
      .distinct()
      .select(col("id_a"), col("id_b"), ham.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ── DuckDB oracle SQL fragments (single source of truth for constants) ──

  /** SQL: portable 28-bit hash of expression `e` (mirror of hash28). */
  def sqlHash28(e: String): String = s"('0x'||substr(md5($e),1,7))::BIGINT"
  def sqlHash32(e: String): String = s"('0x'||substr(md5($e),1,8))::BIGINT"
  def sqlHash60(e: String): String = s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** SQL: j-th minhash over a pre-hashed gram-list expression. */
  def sqlMinhashOfHashes(ghash: String, j: Int): String =
    s"list_min(list_transform($ghash, h -> ((${hashA(j)}*h + ${hashB(j)}) % $Prime)))"

  /** SQL: distinct word n-gram shingles of `lower(text)` (mirror of
    * TextFunctions.shingles + array_distinct). `range(1, len-n+2)` yields
    * start positions 1..len-n+1, and is empty whenever len < n — exactly the
    * Spark side's guard. */
  def sqlWordShingles(textExpr: String, n: Int): String = {
    val toks = s"string_split_regex(lower($textExpr), '\\s+')"
    s"list_distinct(list_transform(range(1, len($toks) - ${n - 2}), " +
      s"i -> array_to_string(($toks)[i:i+${n - 1}], ' ')))"
  }

  /** SQL: distinct char n-grams (mirror of TextFunctions.charGrams). */
  def sqlCharGrams(textExpr: String, n: Int): String =
    s"list_distinct(list_transform(range(1, length($textExpr) - ${n - 2}), " +
      s"i -> substr($textExpr, i, $n)))"

  // ── Content-defined chunking (CDC) — the insertion-robust chunk-level
  // dedup family (see plans/CdcBoundaries for the cut-point spec) ────────

  /** One row per content-defined chunk: `(id, h)` with `h` the md5 of
    * the chunk substring (portable to the oracle). Boundary kernel is a
    * per-row linear scan; the explode is ~len/avgChunk rows per doc. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                avgMask: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    docs.select(col(idCol).as("id"), col(textCol).as("cdc_text"),
        columnOf(graft.plans.CdcBoundaries(expressionOf(col(textCol)),
          avgMask)).as("ends"))
      // empty text → zero boundaries → zero chunks (the kernel spec).
      // Without this guard, zip_with pads starts=[0] against ends=[]
      // with a null end, minting one phantom null-hash chunk per empty
      // doc — which the oracle (no rows) would refute.
      .filter(size(col("ends")) > 0)
      .select(col("id"), col("cdc_text"), explode(zip_with(
        concat(array(lit(0)),
          slice(col("ends"), lit(1), greatest(size(col("ends")) - 1, lit(0)))),
        col("ends"), (s, e) => struct(s.as("s"), e.as("e")))).as("se"))
      .select(col("id"),
        md5(expr("substring(cdc_text, se.s + 1, se.e - se.s)")).as("h"))
  }

  /** Build the corpus chunk index: one row per distinct chunk content,
    * `(h, first_doc, n_occ)` — the build-once half of chunk-level
    * ingestion dedup (the CDC analog of [[saveLshIndex]]). Chunk-hash
    * cardinality is corpus-linear and the groupBy partial-aggregates. */
  def buildCdcIndex(docs: DataFrame, idCol: String, textCol: String,
                    avgMask: Int): DataFrame =
    cdcChunks(docs, idCol, textCol, avgMask)
      .groupBy(col("h"))
      .agg(min(col("id")).as("first_doc"), count(lit(1)).as("n_occ"))

  def saveCdcIndex(index: DataFrame, path: String): Unit =
    ArtifactStore.publish(index.sparkSession, path) { dir =>
      index.write.mode("overwrite").parquet(dir)
    }

  /** Fold a DELTA batch's chunks into an existing chunk index — the
    * update leg of the CDC screen. The index rows `(h, first_doc,
    * n_occ)` form a monoid: min-merge first_doc, sum-merge n_occ — so
    * `update(build(A), B) == build(A ∪ B)` EXACTLY for disjoint doc
    * sets (the q154 oracle is the full-corpus build). Cost: one delta
    * boundary-kernel scan + a chunk-hash-keyed merge agg (partial-
    * aggregated; the corpus text is never re-chunked).
    *
    * CONTRACT: delta doc ids must be NEW — re-ingesting an indexed doc
    * double-counts its chunks (same contract as
    * [[graft.operators.Retrieval.updateBm25Index]]). */
  def updateCdcIndex(index: DataFrame, delta: DataFrame, idCol: String,
                     textCol: String, avgMask: Int): DataFrame =
    mergeRollups(index.unionByName(
      buildCdcIndex(delta, idCol, textCol, avgMask)))

  /** The rollup `(h, first_doc, n_occ)` of chunk occurrences `(doc_id, h)`. */
  private def rollupOf(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("h"))
      .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("n_occ"))

  /** Merge partial rollups of disjoint doc sets: min first_doc, sum n_occ. */
  private def mergeRollups(rollups: DataFrame): DataFrame =
    rollups.groupBy(col("h"))
      .agg(min(col("first_doc")).as("first_doc"),
        sum(col("n_occ")).as("n_occ"))

  def loadCdcIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    ArtifactStore.readSurface(spark, ArtifactStore.resolve(spark, path))

  /** Fold a delta into a two-surface [[CdcArtifact]]: chunk occurrences
    * union (per-doc rows, a monoid over disjoint doc sets) and the
    * rollup min/sum-merges exactly as [[updateCdcIndex]] — so both
    * surfaces equal a fresh [[buildCdcArtifact]] of the union. Same
    * NEW-doc_ids contract as the rollup-only update. */
  def updateCdcArtifact(idx: CdcArtifact, delta: DataFrame, idCol: String,
                        textCol: String, avgMask: Int): CdcArtifact = {
    require(!idx.legacy, "legacy rollup-only cdc artifact: no doc-grain " +
      "chunks surface to fold into — rebuild with index-build --type=cdc " +
      "(the two-surface layout) before updating")
    // the delta's boundary-kernel chunking feeds BOTH surfaces — persist
    // it so the save-time rollup write doesn't re-chunk the delta text
    val deltaChunks = OperatorCaches.register(
      cdcChunks(delta, idCol, textCol, avgMask)
        .select(col("id").as("doc_id"), col("h")).persist())
    CdcArtifact(idx.chunks.unionByName(deltaChunks),
      mergeRollups(idx.rollup.unionByName(rollupOf(deltaChunks))))
  }

  /** REMOVE a doc set from a [[CdcArtifact]] — the right-to-be-forgotten
    * leg the rollup-only index could not support (its `min first_doc` is
    * unrecoverable once its witness doc is deleted). With the doc-grain
    * `chunks` surface persisted, removal is an anti-join plus a rollup
    * re-derivation, so the result equals a fresh [[buildCdcArtifact]]
    * over the remaining corpus EXACTLY (q165's oracle replays it) — the
    * same shape as [[graft.operators.Retrieval.removeFromBm25Index]]. */
  def removeFromCdcArtifact(idx: CdcArtifact, removedIds: DataFrame)
      : CdcArtifact = {
    require(!idx.legacy, "legacy rollup-only cdc artifact: its min/sum " +
      "rollup is not invertible without the doc-grain chunks surface — " +
      "rebuild with index-build --type=cdc on the remaining corpus")
    val ids = removedIds.select(col("doc_id")).distinct()
    val chunks = idx.chunks.join(ids, Seq("doc_id"), "left_anti")
    CdcArtifact(chunks, rollupOf(chunks))
  }

  /** The two-surface persisted CDC artifact (the CLI `--type=cdc`
    * layout): `rollup` is the serve surface (identical to
    * [[buildCdcIndex]]'s output — the screen joins only it), `chunks`
    * is the doc-grain occurrence table `(doc_id, h)` that makes the
    * artifact REMOVABLE (and the re-ingestion guard exact). Storage
    * cost: one extra int64+hash row per chunk occurrence — corpus-linear
    * with the same constant as the text scan that produced it, the price
    * of invertibility. */
  def buildCdcArtifact(docs: DataFrame, idCol: String, textCol: String,
                       avgMask: Int): CdcArtifact = {
    val chunks = cdcChunks(docs, idCol, textCol, avgMask)
      .select(col("id").as("doc_id"), col("h"))
    CdcArtifact(chunks, rollupOf(chunks))
  }

  /** Persist both surfaces. The rollup derives from the chunks subtree,
    * so the chunks frame is persisted across the two write actions (the
    * [[graft.operators.Retrieval.saveBm25Index]] cache-then-derive
    * pattern). */
  def saveCdcArtifact(idx: CdcArtifact, path: String,
                      expected: ArtifactStore.Expect = None): Unit = {
    val c = OperatorCaches.register(idx.chunks.persist())
    ArtifactStore.publish(c.sparkSession, path, expected) { dir =>
      c.write.mode("overwrite").parquet(s"$dir/chunks")
      idx.rollup.write.mode("overwrite").parquet(s"$dir/rollup")
    }
  }

  /** Loads the two-surface layout; a LEGACY rollup-only artifact (the
    * pre-two-surface CLI wrote [[saveCdcIndex]]'s rollup rows as the
    * whole generation) loads with an empty chunks surface and
    * `legacy = true`, so read-only serves keep working while the
    * mutating verbs refuse with
    * rebuild guidance instead of failing on a missing subdirectory (or
    * worse, silently maintaining a wrong chunks surface). */
  def loadCdcArtifact(spark: org.apache.spark.sql.SparkSession,
                      path: String): CdcArtifact = {
    val p = ArtifactStore.resolve(spark, path)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(p, "rollup")))
      CdcArtifact(ArtifactStore.readSurface(spark, s"$p/chunks"),
        ArtifactStore.readSurface(spark, s"$p/rollup"))
    else {
      val rollup = ArtifactStore.readSurface(spark, p)
      CdcArtifact(
        rollup.select(col("first_doc").as("doc_id"), col("h")).limit(0),
        rollup, legacy = true)
    }
  }

  /** The segmented CDC tier ([[graft.sinks.SegmentedIndex]]): chunks and
    * rollup shard by CHUNK HASH and swap together per shard segment (a
    * chunk occurrence whose rollup row sits in another generation would
    * silently desync the serve join from the removal surface). `h`
    * determines the shard, so per-shard rollup merges equal the global
    * groupBy-h merge; append-mode rollup segments are per-delta partials
    * the live view min/sum-merges. */
  object CdcSharded extends SegmentedIndex.Tier[CdcArtifact] {
    import SegmentedIndex.{Family, Surface, Write}

    val families: Seq[Family] = Seq(Family("shards",
      n => pmod(xxhash64(col("h")), lit(n.toLong)).cast("int"),
      Seq(Surface("chunks", Seq("doc_id", "h")),
        Surface("rollup", Seq("h", "first_doc", "n_occ")))))
    val ids: (String, String) = ("chunks", "doc_id")

    override def live(s: SegmentedIndex.Scan, surface: String): DataFrame =
      if (surface == "rollup" && s.layered(surface)) mergeRollups(s(surface))
      else s(surface)

    def surfacesOf(idx: CdcArtifact): Map[String, DataFrame] = {
      require(!idx.legacy, "legacy rollup-only cdc artifact: rebuild with " +
        "index-build --type=cdc-sharded before sharding")
      Map("chunks" -> idx.chunks, "rollup" -> idx.rollup)
    }

    def artifact(spark: org.apache.spark.sql.SparkSession, dir: String,
                 view: String => DataFrame): CdcArtifact =
      CdcArtifact(view("chunks"), view("rollup"))

    /** Fold a DELTA batch `(doc_id, text)` in ([[updateCdcArtifact]]'s
      * exactness and NEW-doc_ids contract): occurrence rows as-is, the
      * rollup as per-delta partials. */
    def delta(docs: DataFrame, avgMask: Int): SegmentedIndex.Fold = fold { _ =>
      val chunks = OperatorCaches.register(
        cdcChunks(docs, "doc_id", "text", avgMask)
          .select(col("id").as("doc_id"), col("h")).persist())
      Write(Map("shards" -> chunks),
        _ => Map("chunks" -> chunks, "rollup" -> rollupOf(chunks)))
    }

    /** REMOVE a doc set: its chunks hash across the whole grid, so every
      * shard's rollup re-derives from its surviving occurrences. */
    def removal(removedIds: DataFrame): SegmentedIndex.Fold = fold { _ =>
      Write(Map.empty, s => {
        val kept = s.live("chunks").join(
          removedIds.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_anti")
        Map("chunks" -> kept, "rollup" -> rollupOf(kept))
      })
    }
  }

  /** Chunk-level screen of a DELTA batch against a built/loaded chunk
    * index: per new document, how many of its chunks already exist in
    * the corpus, and the earliest corpus doc sharing one — the
    * ingestion-time "how much of this is copied?" signal that catches
    * PARTIAL and SHIFTED copies exact-doc dedup misses. One kernel scan
    * of the delta, one hash equi-join into the index (AQE broadcasts the
    * delta side when small), one per-doc agg — delta-scaled throughout.
    * Returns `(new_doc, n_chunks, n_dup_chunks, dup_of)` (`dup_of` null
    * when nothing matches). */
  def incrementalCdcMatches(delta: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            avgMask: Int): DataFrame =
    cdcChunks(delta, idCol, textCol, avgMask)
      .join(index.select(col("h"), col("first_doc")), Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(col("first_doc")).as("n_dup_chunks"),
        min(col("first_doc")).as("dup_of"))
      .select(col("id").as("new_doc"), col("n_chunks"),
        col("n_dup_chunks"), col("dup_of"))

  /** SQL: simhash over `bits` bits (mirror of simhashOfHashes ∘ tokens). */
  def sqlSimhash(textExpr: String, bits: Int = 32): String = {
    val th = if (bits > 32) sqlHash60("t") else sqlHash32("t")
    val hs = s"list_transform(string_split_regex(lower($textExpr), '\\s+'), t -> $th)"
    (0 until bits).map { j =>
      s"(CASE WHEN list_sum(list_transform($hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }
}
