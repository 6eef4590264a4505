package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.TextFunctions.hash28
import graft.functions.VectorFunctions.scaled
import graft.sinks.{ArtifactStore, SegmentedIndex}

/** Distributed k-means (Lloyd's) over embedding columns — the corpus
  * topic-clustering step of a training-data pipeline (cluster-balanced
  * sampling, per-cluster quality cuts, diversity caps).
  *
  * Built deterministic end-to-end so two engines agree bit-for-bit:
  *
  *  - '''Seeding''': the k vectors with the smallest
  *    `(hash28(salt || id), id)` — no RNG, stable under corpus growth of
  *    non-seed rows, reproducible across engines (kmeans++ would need a
  *    sequential RNG chain; hash seeding is the distributed-friendly
  *    choice).
  *  - '''Assignment''': exact integer squared L2 distance over the
  *    2^20-scaled lanes (`VectorFunctions.scaled`) — order-free int64
  *    sums, argmin ties broken by smallest cluster index.
  *  - '''Update''': integer-QUANTIZED centroids — lane value is
  *    trunc(laneSum / n), so every iteration's centroid state is integer
  *    and the next assignment stays exact. (Classic float centroids make
  *    the whole fixpoint order-dependent; quantizing to int64 lanes costs
  *    < 1 scaled unit = 2^-20 of float precision per lane per iteration.)
  *
  * Scale shape (100 TB): each iteration is one zero-shuffle scan
  * (assignment = k fused codegen'd array folds against k·dim literal
  * longs) plus one (cluster, lane) partial-aggregated shuffle of
  * k·dim rows per map task. The driver holds k·dim longs per iteration —
  * the same capped-driver-state pattern as `Similarity.knnIvf`'s
  * centroid set. Lane sums stay exact while n·2^20·|x| < 2^63; the
  * trunc division is exact while |laneSum| < 2^53 (past that, swap the
  * double division for a decimal one).
  *
  * The reference has no clustering surface (its jobs are per-row
  * gather/produce); this is capability upside mandated by the
  * LLM-pipeline charter.
  */
object Clustering {

  /** A fitted k-means run: the final centroid lanes and the assignment
    * that produced them, from ONE Lloyd execution. Callers needing both
    * (cluster populations + per-row membership — e.g. joining clusters
    * back onto the corpus) should fit once and read both fields rather
    * than calling [[kmeansLanes]] and [[kmeansAssign]] separately, which
    * would rerun the full iteration (including its per-round driver
    * collects) twice. */
  final case class KmeansModel(lanes: DataFrame, assign: DataFrame)

  /** One Lloyd run returning BOTH surfaces — see [[KmeansModel]].
    * `lanes` rows are `(cluster, pos, cval, n)`; `assign` rows are
    * `(vid, cluster, dist)` with `dist` the exact int64 squared L2. */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int, salt: String = "kmeans",
                preScaled: Boolean = false): KmeansModel = {
    val (lanes, assigned) = lloyd(emb, idCol, vecCol, k, iters, salt,
      preScaled)
    KmeansModel(lanes, assigned.select(col("vid"), col("cluster"), col("dist")))
  }

  /** Run `iters` full Lloyd rounds (assign → update) and return the final
    * centroid LANES — one scalar row `(cluster, pos, cval, n)` per
    * centroid dimension, plus the cluster's population `n` (scalar-only
    * output: survives pandas/arrow checkers; re-pack with collect_list if
    * an array form is wanted downstream). Empty clusters drop out (their
    * rows simply disappear, exactly like the relational formulation). */
  def kmeansLanes(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int, salt: String = "kmeans"): DataFrame =
    kmeansFit(emb, idCol, vecCol, k, iters, salt).lanes

  /** The final iteration's assignment as rows `(vid, cluster, dist)` —
    * for joining the clustering back onto the corpus (`dist` is the exact
    * int64 squared L2 to the assigned centroid, in scaled units). This is
    * EXACTLY the assignment whose aggregation is [[kmeansLanes]]' output
    * for the same arguments (not one more round against the final
    * centroids), so per-cluster assignment counts always equal the
    * lanes' `n`. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int, salt: String = "kmeans"): DataFrame =
    kmeansFit(emb, idCol, vecCol, k, iters, salt).assign

  /** SemDeDup — semantic near-duplicate pruning via cluster-bounded
    * pairing (Abbas et al. 2023, arXiv:2303.09540): k-means the corpus
    * ([[kmeansFit]], one run), then compare pairs ONLY within a cluster
    * and prune every vector that has a same-cluster neighbor of cosine ≥
    * `minCosine` with a smaller id (the lowest-id member of each
    * neighborhood survives — the same deterministic keep-rule as the LSH
    * dedup family). Returns one row per PRUNED vector:
    * `(cluster, pruned, keeper, best_cos)` with `keeper` the smallest
    * matching neighbor id and `best_cos` its strongest similarity.
    *
    * This is the k-means complement of `Similarity.cosinePairs`' LSH
    * buckets: clusters capture "same topic" neighborhoods that sign-bucket
    * boundaries can split. Pair cost is Σ|cluster|² — bounded by choosing
    * k ∝ n / targetClusterSize exactly like the paper (which runs k=50k
    * on 5B embeddings); the join shuffles on the cluster key, never
    * corpus×corpus. Cosine is the deterministic scaled-int64 form
    * (`VectorFunctions.cosineFromNorms`), so results are oracle-exact.
    *
    * '''SCALE GUARD''': the flat form is quadratic at scale NO MATTER how
    * k is chosen — assignment costs n·k with k ∝ n/target, while capping
    * k makes within-cluster pair mass grow n²/k (MEASURED: 2.43× runtime
    * for 2× rows at the 50× bench corpus, BASELINE.md round 12). This is
    * the paper-faithful reference implementation, gated by `maxRows`
    * ([[FlatSemDedupMaxRows]]) so a 100 TB caller cannot reach the
    * quadratic regime by accident; [[semDedupHier]] is the scale-safe
    * form (1.18× at 50×, same output contract). */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               k: Int, iters: Int, minCosine: Double,
               salt: String = "semdedup",
               clusterCap: Long = DefaultClusterCap,
               maxRows: Long = FlatSemDedupMaxRows): DataFrame = {
    import graft.functions.VectorFunctions.{vnorm, cosineFromNorms}
    val n = emb.count()
    require(n <= maxRows,
      s"semDedup (flat k-means) is measured-QUADRATIC at scale: past its " +
        s"cluster-count cap the within-cluster pair mass grows n²/k " +
        s"(2.43x runtime for 2x rows at the 50x bench corpus — BASELINE.md " +
        s"round 12). Corpus has $n rows > maxRows=$maxRows: use " +
        s"semDedupHier (the hierarchical form, 1.18x at 50x) or raise " +
        s"maxRows deliberately for a one-off")
    val model = kmeansFit(emb, idCol, vecCol, k, iters, salt)
    // Persisted: the x/y self-join references this subtree twice, and an
    // unpersisted assignment would re-run the scan + kernel argmin per
    // branch (caller releases via OperatorCaches.releaseAll, the LSH
    // signature convention).
    val sv = OperatorCaches.register(
      emb.select(col(idCol).cast(LongType).as("vid"),
          scaled(col(vecCol)).as("v"))
        .withColumn("nrm", vnorm(col("v")))
        .join(subcells(model.assign, clusterCap, salt), "vid")
        .persist())
    pruneWithinCells(sv, minCosine)
  }

  /** The shared pair/prune tail of [[semDedup]] and [[semDedupHier]]:
    * within-(cluster, cell) cosine pruning over a frame carrying
    * (vid, v, nrm, cluster, cell). One row per pruned vector. */
  private def pruneWithinCells(svCells: DataFrame,
                               minCosine: Double): DataFrame = {
    import graft.functions.VectorFunctions.cosineFromNorms
    val x = svCells.select(col("cluster"), col("cell"), col("vid").as("a_vid"),
      col("v").as("a_v"), col("nrm").as("a_nrm"))
    val y = svCells.select(col("cluster"), col("cell"), col("vid").as("b_vid"),
      col("v").as("b_v"), col("nrm").as("b_nrm"))
    x.join(y, Seq("cluster", "cell"))
      .filter(col("a_vid") < col("b_vid"))
      .withColumn("cos", cosineFromNorms(col("a_v"), col("b_v"),
        col("a_nrm"), col("b_nrm")))
      .filter(col("cos") >= minCosine)
      .groupBy(col("cluster"), col("b_vid"))
      .agg(min(col("a_vid")).as("keeper"), max(col("cos")).as("best_cos"))
      .select(col("cluster"), col("b_vid").as("pruned"), col("keeper"),
        col("best_cos"))
  }

  /** Hierarchical (two-level, IVF-style) SemDeDup — the 100 TB form of
    * [[semDedup]]. Flat k-means is quadratic at scale NO MATTER how k is
    * chosen: assignment costs n·k kernel distances with k ∝ n/target,
    * while capping k instead makes within-cluster pair mass grow n²/k
    * (both measured on the 25×/50× corpora — BASELINE.md round 12, q102's
    * 2.43× for 2× data past its k cap). Two levels take the square root
    * out of whichever term binds:
    *
    *  1. COARSE: one Lloyd fit over `coarseK ≈ √(n/target)` cells
    *     ([[kmeansFit]] — n·coarseK codegen'd kernel distances).
    *  2. FINE seeds: within each coarse cell, the
    *     `ceil(cellSize/targetRows)` members with the smallest
    *     `(hash28(salt-seed || vid), vid)` — deterministic, rank-stable,
    *     no RNG (the [[lloyd]] seeding rule, per cell).
    *  3. FINE assignment: each row scores ONLY its own cell's seeds —
    *     through the task-binary [[graft.plans.GroupedNearestL2]] kernel
    *     while the seed set fits `seedLiteralCap`, through the
    *     distributed [[joinedFineAssign]] equi-join + partial-agg argmin
    *     past it (bit-identical ties: smaller seed vid). Candidate
    *     distance ops are n·(cellSize/target) ≈ n·√(n/target), never
    *     n·k. The fine cluster id IS the winning seed's vid (seeds are
    *     corpus rows, so ids are globally unique across cells).
    *  4. The [[subcells]] skew guard bounds per-neighborhood pair mass
    *     exactly as in the flat form.
    *
    * Degenerate-coarse-cell guard: seeds per cell cap at
    * `maxFinePerCell`, so a collapsed corpus (all mass in one coarse
    * cell) costs at most n·maxFinePerCell candidate rows; the resulting
    * over-target fine neighborhoods are then bounded by the subcell
    * guard (with its measured 1/width recall trade), not by the join.
    *
    * One Lloyd pass fewer of granularity than the flat form (fine
    * neighborhoods are one assignment round around hash seeds, not
    * converged centroids) — the SemDeDup trade: neighborhoods need to be
    * semantically tight, not optimal; recall lives in the cosine rerank.
    * Deterministic integer arithmetic end to end, so the q137 oracle
    * replays the coarse chain, the seed ranking, the fine argmin, the
    * subcell split, and every within-cell cosine bit-for-bit. */
  def semDedupHier(emb: DataFrame, idCol: String, vecCol: String,
                   coarseK: Int, targetRows: Long, iters: Int,
                   minCosine: Double, salt: String = "semdedup-h",
                   clusterCap: Long = DefaultClusterCap,
                   maxFinePerCell: Int = 256,
                   seedLiteralCap: Int = Similarity.MaxCentroids): DataFrame =
    semDedupHierServe(
      semDedupHierFit(emb, idCol, vecCol, coarseK, targetRows, iters, salt,
        clusterCap, maxFinePerCell, seedLiteralCap),
      minCosine)

  /** A fitted hierarchical-SemDeDup index — the PERSISTABLE artifact of
    * [[semDedupHierFit]] (the sibling of [[PqIndex]] / the LSH and BM25
    * index tiers: train once, [[saveSemIndex]], serve every later batch
    * from the loaded parquet with zero retraining):
    *
    *  - `lanes(cluster, pos, cval, n)` — the coarse codebook (int64
    *    lanes, lossless roundtrip; what a DELTA batch coarse-assigns
    *    against).
    *  - `seeds(ccell, svid, v)` — the per-coarse-cell fine seeds
    *    (rebuilt into the task-binary [[graft.plans.GroupedL2Seeds]]
    *    literal at serve time while ≤ the literal cap; served through
    *    the distributed [[joinedFineAssign]] past it).
    *  - `assign(vid, v, nrm, cluster, cell)` — the corpus's fine
    *    membership WITH its scaled vectors/norms, so a serve needs no
    *    side lookup of the raw corpus (the LSH-signature economics).
    *  - `sizes(cluster, csize)` — fine-cluster pairing mass, the subcell
    *    widths a delta row's skew-guard cell is computed from.
    *
    * `coarseK`/`clusterCap`/`salt` ride a 1-row meta table so a loaded
    * index can never silently desynchronize its hashes from the fit. */
  final case class SemIndex(lanes: DataFrame, seeds: DataFrame,
                            assign: DataFrame, sizes: DataFrame,
                            coarseK: Int, clusterCap: Long, salt: String)

  /** Train the hierarchical-SemDeDup index — the expensive half of
    * [[semDedupHier]] (coarse Lloyd fit, deterministic per-cell seed
    * ranking, grouped-kernel fine assignment, subcell skew split), run
    * ONCE per corpus build. [[semDedupHierServe]] and
    * [[semDedupDeltaHier]] are the cheap repeatable halves. */
  def semDedupHierFit(emb: DataFrame, idCol: String, vecCol: String,
                      coarseK: Int, targetRows: Long, iters: Int,
                      salt: String = "semdedup-h",
                      clusterCap: Long = DefaultClusterCap,
                      maxFinePerCell: Int = 256,
                      seedLiteralCap: Int = Similarity.MaxCentroids): SemIndex = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    import graft.functions.VectorFunctions.vnorm
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    require(maxFinePerCell > 0, s"maxFinePerCell must be positive: $maxFinePerCell")
    require(clusterCap > 0, s"clusterCap must be positive: $clusterCap")
    require(seedLiteralCap >= 0 && seedLiteralCap <= Similarity.MaxCentroids,
      s"seedLiteralCap $seedLiteralCap outside [0, ${Similarity.MaxCentroids}]")
    val model = kmeansFit(emb, idCol, vecCol, coarseK, iters, salt)
    // coarse membership + scaled vectors once, persisted: the seed
    // ranking, the fine-assignment scan, and the final pair join all
    // read this frame (caller releases via OperatorCaches.releaseAll)
    val sv = OperatorCaches.register(
      emb.select(col(idCol).cast(LongType).as("vid"),
          scaled(col(vecCol)).as("v"))
        .withColumn("nrm", vnorm(col("v")))
        .join(model.assign.select(col("vid"), col("cluster").as("ccell")),
          "vid")
        .persist())
    val csize = sv.groupBy(col("ccell")).agg(count(lit(1)).as("csize"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ccell")).orderBy(col("hs"), col("vid"))
    // Seed vectors ride a DRIVER-BUILT group-partitioned literal while
    // they fit in a task binary (fastest constant: zero joins, fused
    // codegen'd argmin; the naive pair-equi-join that shuffles two full
    // vectors per candidate row measured n^1.5 SHUFFLE BYTES at 50× and
    // stays rejected). Past `seedLiteralCap` — seeds ∝ n/targetRows, so
    // any literal ceiling is a hard CORPUS ceiling at cap·targetRows
    // rows — the fit falls back to [[joinedFineAssign]], whose shuffle
    // is linear (vectors cross the wire once; the argmin partial-reduces
    // candidates in-stage) and whose result is bit-identical.
    val seedFrame = sv.join(csize, "ccell")
      .withColumn("hs",
        hash28(concat(lit(s"$salt-seed"), col("vid").cast("string"))))
      .withColumn("rn", row_number().over(wCell))
      .filter(col("rn") <= least(
        expr(s"cast((csize + ${targetRows - 1}) div $targetRows as int)"),
        lit(maxFinePerCell)))
      .select(col("ccell"), col("vid").as("svid"), col("v"))
    // limit BEFORE collect (the flat form's collectCentroids economics):
    // past the literal cap the fit must fall back to the joined argmin,
    // not OOM the driver materializing millions of seed rows first.
    val seedRows = seedFrame.orderBy(col("ccell"), col("svid"))
      .limit(seedLiteralCap + 1).collect()
    val fine =
      if (seedRows.length <= seedLiteralCap) {
        val gseeds = groupedSeedsOf(seedRows, coarseK)
        sv.select(col("vid"),
          columnOf(graft.plans.GroupedNearestL2(expressionOf(col("v")),
            expressionOf(col("ccell")), gseeds)).as("cluster"))
      } else joinedFineAssign(sv, seedFrame)
    // Inlined [[subcells]] so the fine-cluster SIZES survive as an index
    // surface (the delta path's subcell widths) — same rows, same hash.
    val sizes = fine.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    val cells = fine.join(sizes, "cluster")
      .withColumn("cell", subcellOf(col("vid"), clusterCap, salt))
      .select(col("vid"), col("cluster"), col("cell"))
    val assign = sv.select(col("vid"), col("v"), col("nrm"))
      .join(cells, "vid")
    SemIndex(model.lanes, seedFrame, assign, sizes, coarseK, clusterCap, salt)
  }

  /** Batch serve from a fitted/loaded [[SemIndex]]: the within-cell
    * cosine prune over the index's own corpus — [[semDedupHier]] minus
    * the training. `minCosine` is a SERVE knob: one fitted index answers
    * any threshold. */
  def semDedupHierServe(idx: SemIndex, minCosine: Double): DataFrame =
    pruneWithinCells(idx.assign, minCosine)

  /** Incremental hierarchical SemDeDup — the production ingestion loop on
    * the persisted index (supersedes [[semDedupDelta]]'s flat-centroid
    * assignment): each delta row coarse-assigns against the index's
    * lanes (one [[assignToLanes]] kernel pass), fine-assigns against its
    * own coarse cell's seeds (the grouped literal kernel below the
    * literal cap, [[joinedFineAssign]] above it), lands in the
    * skew-guard subcell computed from the CORPUS fine-cluster sizes, and
    * pairs ONLY with the corpus rows of its (cluster, cell) — stored
    * with their vectors in `idx.assign`, so corpus×corpus is never
    * re-paired and no raw-corpus lookup is needed. A delta row whose
    * fine cluster holds no corpus rows has nothing to pair with and
    * drops out (the honest incremental contract). Returns one row per
    * pruned DELTA vector: `(cluster, pruned, keeper, best_cos)`. */
  /** The delta-assignment chain shared by [[semDedupDeltaHier]] (serve)
    * and [[updateSemIndex]] (add): coarse-assign each delta row against
    * the index's lanes (one [[assignToLanes]] kernel pass), fine-assign
    * against its own coarse cell's seeds (grouped literal kernel below
    * the literal cap, [[joinedFineAssign]] above it), and land in the
    * skew-guard subcell computed from the index's FIXED fine-cluster
    * sizes. One definition on purpose: serve and add can never assign a
    * row differently. Returns `(vid, v, nrm, cluster, cell)` — exactly
    * the `assign` surface's shape. */
  private def deltaCells(delta: DataFrame, idCol: String, vecCol: String,
                         idx: SemIndex, seedLiteralCap: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    import graft.functions.VectorFunctions.vnorm
    require(seedLiteralCap >= 0 && seedLiteralCap <= Similarity.MaxCentroids,
      s"seedLiteralCap $seedLiteralCap outside [0, ${Similarity.MaxCentroids}]")
    val seedRows = idx.seeds.orderBy(col("ccell"), col("svid"))
      .limit(seedLiteralCap + 1).collect()
    val deltaCoarse = assignToLanes(delta, idCol, vecCol, idx.lanes)
      .select(col("vid"), col("v"), col("cluster").cast("int").as("ccell"))
      .withColumn("nrm", vnorm(col("v")))
    val deltaFine =
      if (seedRows.length <= seedLiteralCap) {
        val gseeds = groupedSeedsOf(seedRows, idx.coarseK)
        deltaCoarse.select(col("vid"), col("v"), col("nrm"),
          columnOf(graft.plans.GroupedNearestL2(expressionOf(col("v")),
            expressionOf(col("ccell")), gseeds)).as("cluster"))
      } else
        // delta-sized join back onto the argmin result — the seed table
        // stays distributed (an index fitted past the literal cap is
        // exactly the case where it cannot be collected)
        deltaCoarse.join(joinedFineAssign(deltaCoarse, idx.seeds), "vid")
          .select(col("vid"), col("v"), col("nrm"), col("cluster"))
    deltaFine.join(idx.sizes, "cluster")
      .select(col("vid"), col("v"), col("nrm"), col("cluster"),
        subcellOf(col("vid"), idx.clusterCap, idx.salt).as("cell"))
  }

  /** ADD a delta batch to a fitted/loaded [[SemIndex]]: assign it
    * through [[deltaCells]] (the exact serve-path chain) and append to
    * the corpus-sized `assign` surface — so the NEXT delta's
    * [[semDedupDeltaHier]] screen pairs against previously admitted
    * rows too, not just the original fit corpus (the same
    * admitted-docs-must-join-the-index economics as the LSH and
    * IVF-flat updates). The FITTED parameters stay fixed: lanes, seeds,
    * and `sizes` — sizes double as the subcell WIDTH table, and
    * widening widths on append would misalign the cells already stamped
    * on corpus rows (a new row would hash into a cell its old near-dups
    * are not in: silent recall loss). Assignment against fixed
    * parameters has no cross-row state, so the updated `assign` is
    * exactly the fresh assignment of the union (q158's oracle replays
    * it). Re-run [[semDedupHierFit]] when accumulated deltas overgrow
    * the fixed cell widths (pair mass per (cluster, cell) rises past
    * the clusterCap design point) — the Faiss train/add split's refit
    * trigger.
    *
    * LOSS CHECK: the assignment chain can DROP a delta row whose nearest
    * coarse lane is a seedless fit cell (no fine seeds to argmin
    * against — the serve path documents the same prune honestly, but on
    * the ADD path a dropped row would be an "admitted" vector that never
    * joins the assign surface, so future deltas could never screen
    * against it: silent recall loss, not honest pruning). The update
    * therefore counts the assigned rows against the delta and FAILS
    * loudly on any shortfall — a seedless-cell delta means the fit no
    * longer covers the data distribution; re-run [[semDedupHierFit]] on
    * the grown corpus. Costs two delta-sized counts (the assignment is
    * persisted, so the chain runs once). */
  def updateSemIndex(idx: SemIndex, delta: DataFrame,
                     idCol: String, vecCol: String,
                     seedLiteralCap: Int = Similarity.MaxCentroids)
      : SemIndex =
    idx.copy(assign =
      idx.assign.select(col("vid"), col("v"), col("nrm"),
          col("cluster"), col("cell"))
        .unionByName(
          checkedDeltaCells(idx, delta, idCol, vecCol, seedLiteralCap)))

  /** [[deltaCells]] plus the add-path loss checks (see
    * [[updateSemIndex]]'s scaladoc) — shared by the unsharded and
    * sharded adds so a dropped or replayed delta row fails identically
    * loudly on both layouts. Returns the persisted assignment rows. */
  private def checkedDeltaCells(idx: SemIndex, delta: DataFrame,
                                idCol: String, vecCol: String,
                                seedLiteralCap: Int): DataFrame = {
    val cells = OperatorCaches.register(
      deltaCells(delta, idCol, vecCol, idx, seedLiteralCap).persist())
    // distinguish the two loss modes: duplicate delta ids (an upstream
    // replay — got > expected would otherwise report a NEGATIVE drop
    // count and blame the fit) vs rows genuinely dropped by a seedless
    // coarse cell
    // countDistinct ignores NULLs, so null ids would otherwise be
    // mis-reported as duplicates ("a replayed spool?") — count them
    // separately and name the actual defect
    val deltaAgg = delta.agg(count(lit(1)), countDistinct(col(idCol)),
      count(when(col(idCol).isNull, lit(1)))).head()
    val nullIds = deltaAgg.getLong(2)
    require(nullIds == 0L,
      s"updateSemIndex: delta contains $nullIds null $idCol value(s) — " +
        s"every delta row needs a non-null id (assign ids upstream " +
        s"before folding the batch in)")
    require(deltaAgg.getLong(0) == deltaAgg.getLong(1),
      s"updateSemIndex: delta contains ${deltaAgg.getLong(0) - deltaAgg.getLong(1)} " +
        s"duplicate $idCol value(s) (a replayed spool?) — de-duplicate " +
        s"the batch before folding it in")
    val expected = deltaAgg.getLong(1)
    val got = cells.count()
    require(got == expected,
      s"updateSemIndex: ${expected - got} of $expected delta row(s) were " +
        s"dropped by the assignment chain (nearest coarse lane has no " +
        s"fine seeds — an empty fit cell). Admitting them without " +
        s"indexing would silently exempt them from every future screen; " +
        s"re-fit with semDedupHierFit on the grown corpus instead")
    cells
  }

  /** REMOVE a vector set from a [[SemIndex]]: anti-join the `assign`
    * surface on `vid` — a removed vector stops appearing in any future
    * prune (it is no longer a keeper candidate for deltas). The fitted
    * parameters (lanes, seeds, sizes) stay, exactly like
    * [[updateSemIndex]]; seed VECTORS referencing removed vids remain
    * valid fitted parameters (they are coordinates, not corpus
    * membership — the pair output only ever reads `assign`). */
  def removeFromSemIndex(idx: SemIndex, removedIds: DataFrame): SemIndex =
    idx.copy(assign = idx.assign
      .select(col("vid"), col("v"), col("nrm"), col("cluster"), col("cell"))
      .join(removedIds.select(col("vid")).distinct(), Seq("vid"),
        "left_anti"))

  def semDedupDeltaHier(delta: DataFrame, idCol: String, vecCol: String,
                        idx: SemIndex, minCosine: Double,
                        seedLiteralCap: Int = Similarity.MaxCentroids)
      : DataFrame = {
    import graft.functions.VectorFunctions.cosineFromNorms
    val deltaSide = deltaCells(delta, idCol, vecCol, idx, seedLiteralCap)
      .select(col("cluster"), col("cell"),
        col("vid").as("b_vid"), col("v").as("b_v"), col("nrm").as("b_nrm"))
    val corpusSide = idx.assign.select(col("cluster"), col("cell"),
      col("vid").as("a_vid"), col("v").as("a_v"), col("nrm").as("a_nrm"))
    corpusSide.join(deltaSide, Seq("cluster", "cell"))
      .withColumn("cos", cosineFromNorms(col("a_v"), col("b_v"),
        col("a_nrm"), col("b_nrm")))
      .filter(col("cos") >= minCosine)
      .groupBy(col("cluster"), col("b_vid"))
      .agg(min(col("a_vid")).as("keeper"), max(col("cos")).as("best_cos"))
      .select(col("cluster"), col("b_vid").as("pruned"), col("keeper"),
        col("best_cos"))
  }

  /** Persist a [[SemIndex]] as parquet. Only the GENUINELY bounded
    * tables funnel to one file: `lanes` (≤ [[Similarity.MaxCentroids]]
    * rows by construction) and the 1-row `meta`. The corpus-sized
    * `assign` keeps its partitioning, and so do `seeds`/`sizes` — both
    * are ∝ n/targetRows, the exact unbounded quantity whose growth
    * forces the joinedFineAssign distributed fallback (an index fitted
    * past `seedLiteralCap` is precisely one whose seeds are too big to
    * collect), so a `coalesce(1)` there would re-create the single-task
    * bottleneck the fallback exists to avoid. */
  def saveSemIndex(idx: SemIndex, path: String,
                   expected: ArtifactStore.Expect = None): Unit =
    // five independent surface writes, overlapped (guide §2.6); they
    // share the fit's persisted sv ancestor, so no duplicated lineage
    ArtifactStore.publish(idx.lanes.sparkSession, path, expected) { dir =>
      concurrentWrites((idx.assign -> ((df: DataFrame) =>
        df.write.mode("overwrite").parquet(s"$dir/assign"))) +:
        fittedWrites(idx, dir))
    }

  /** The writes of a [[SemIndex]]'s fitted parameters into `dir`. */
  private def fittedWrites(idx: SemIndex, dir: String)
      : Seq[(DataFrame, DataFrame => Unit)] = {
    val spark = idx.lanes.sparkSession
    import spark.implicits._
    Seq(
      idx.lanes -> ((df: DataFrame) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/lanes")),
      idx.seeds -> ((df: DataFrame) =>
        df.write.mode("overwrite").parquet(s"$dir/seeds")),
      idx.sizes -> ((df: DataFrame) =>
        df.write.mode("overwrite").parquet(s"$dir/sizes")),
      Seq((idx.coarseK, idx.clusterCap, idx.salt))
        .toDF("coarse_k", "cluster_cap", "salt") ->
        ((df: DataFrame) =>
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")))
  }

  def loadSemIndex(spark: org.apache.spark.sql.SparkSession,
                   p0: String): SemIndex = {
    val path = ArtifactStore.resolve(spark, p0)
    semIndexAt(spark, path, ArtifactStore.readSurface(spark, s"$path/assign"))
  }

  /** The [[SemIndex]] whose fitted parameters sit in generation `dir`. */
  private def semIndexAt(spark: org.apache.spark.sql.SparkSession,
                         dir: String, assign: DataFrame): SemIndex = {
    val meta = ArtifactStore.readSurface(spark, s"$dir/meta").head()
    SemIndex(ArtifactStore.readSurface(spark, s"$dir/lanes"),
      ArtifactStore.readSurface(spark, s"$dir/seeds"), assign,
      ArtifactStore.readSurface(spark, s"$dir/sizes"),
      meta.getAs[Int]("coarse_k"), meta.getAs[Long]("cluster_cap"),
      meta.getAs[String]("salt"))
  }

  /** The segmented SemDeDup tier ([[graft.sinks.SegmentedIndex]]): the
    * corpus-sized `assign` surface shards by `vid mod S`, while the
    * BOUNDED fitted parameters (lanes ≤ MaxCentroids, seeds/sizes ∝
    * n/targetRows, 1-row meta) are build-time roots that never move on
    * an add/remove — the Faiss train/add split made physical. vid is
    * the shard key, so a removal reads and rewrites only the removed
    * ids' own shards, and assign rows are per-vid (no rollup): an
    * append-mode segment IS the exact merge. */
  object SemSharded extends SegmentedIndex.Tier[SemIndex] {
    import SegmentedIndex.{Family, Surface, Write}

    val families: Seq[Family] = Seq(Family("shards",
      n => pmod(col("vid"), lit(n.toLong)).cast("int"),
      Seq(Surface("assign", Seq("vid", "v", "nrm", "cluster", "cell")))))
    val ids: (String, String) = ("assign", "vid")

    def surfacesOf(idx: SemIndex): Map[String, DataFrame] =
      Map("assign" -> idx.assign)

    override def writeRoots(dir: String, idx: SemIndex)
        : Seq[(DataFrame, DataFrame => Unit)] = fittedWrites(idx, dir)

    def artifact(spark: org.apache.spark.sql.SparkSession, dir: String,
                 view: String => DataFrame): SemIndex =
      semIndexAt(spark, dir, view("assign"))

    /** ADD a delta batch `(vec_id, embedding)`: the assignment chain,
      * fixed-parameters contract and loss checks are [[updateSemIndex]]'s
      * ([[checkedDeltaCells]] is shared); only the persistence unit
      * changes. */
    def delta(delta: DataFrame,
              seedLiteralCap: Int = Similarity.MaxCentroids)
        : SegmentedIndex.Fold = fold { all =>
      val cells = checkedDeltaCells(
        artifact(all.opened.spark, all.opened.dir, all.live),
        delta, "vec_id", "embedding", seedLiteralCap)
      Write(Map("shards" -> cells), _ => Map("assign" -> cells))
    }

    /** REMOVE a vector set `(vid)` ([[removeFromSemIndex]]'s semantics). */
    def removal(removedIds: DataFrame): SegmentedIndex.Fold = fold { _ =>
      val ids = OperatorCaches.register(
        removedIds.select(col("vid")).distinct().persist())
      Write(Map("shards" -> ids), s => Map("assign" ->
        s.live("assign").join(ids, Seq("vid"), "left_anti")))
    }
  }

  /** The SCALE-OUT twin of the [[graft.plans.GroupedNearestL2]] literal
    * kernel: fine assignment as an equi-join on the coarse cell plus a
    * single-stage partial-aggregated argmin — for seed sets too large to
    * ship as a task binary (seeds ∝ n/targetRows, so ANY driver-literal
    * formulation has a hard corpus ceiling at
    * [[Similarity.MaxCentroids]]·targetRows rows; this path has none).
    *
    * Shuffle shape (the reason this is NOT the n^1.5-bytes join the
    * scaladoc above rejects): `rows` arrives already hash-partitioned by
    * the equi-join on `ccell` (one linear shuffle of n vectors), the
    * n·(cellSize/target) candidate rows exist only INSIDE the join
    * stage, and the `min(struct(fdist, svid))` aggregation partial-
    * reduces them to one 24-byte row per vid BEFORE its exchange —
    * every vid's candidates share its ccell partition, so the map-side
    * combine is total. Candidate VECTORS are never shuffled; the n^1.5
    * term survives only as distance COMPUTE, exactly like the literal
    * kernel. Tie semantics are identical: `min` over (dist, svid)
    * structs picks the smallest distance, then the smallest seed vid. */
  private def joinedFineAssign(rows: DataFrame, seeds: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    rows.select(col("vid"), col("v"), col("ccell"))
      .join(seeds.select(col("ccell"), col("svid"), col("v").as("sv")),
        "ccell")
      .select(col("vid"),
        struct(columnOf(graft.plans.SqL2Dist(expressionOf(col("v")),
            expressionOf(col("sv")))).as("fdist"),
          col("svid").as("svid")).as("cand"))
      .groupBy(col("vid"))
      .agg(min(col("cand")).as("best"))
      .select(col("vid"), col("best.svid").as("cluster"))
  }

  /** Rebuild the task-binary grouped seed literal from `(ccell, svid, v)`
    * rows sorted by (ccell, svid) — shared by the fit (fresh rows) and
    * the delta serve (rows reloaded from the persisted seed table), so
    * the two paths can never assign differently. */
  private def groupedSeedsOf(seedRows: Array[org.apache.spark.sql.Row],
                             coarseK: Int): graft.plans.GroupedL2Seeds = {
    val dim = seedRows.headOption.map(_.getSeq[Long](2).length).getOrElse(1)
    val perGroup = new Array[Int](coarseK)
    seedRows.foreach(r => perGroup(r.getInt(0)) += 1)
    val start = new Array[Int](coarseK + 1)
    var g = 0
    while (g < coarseK) { start(g + 1) = start(g) + perGroup(g); g += 1 }
    val svids = new Array[Long](seedRows.length)
    val flat = new Array[Long](seedRows.length * dim)
    seedRows.zipWithIndex.foreach { case (r, i) =>
      svids(i) = r.getLong(1)
      val v = r.getSeq[Long](2)
      var j = 0
      while (j < dim) { flat(i * dim + j) = v(j); j += 1 }
    }
    graft.plans.GroupedL2Seeds(start, svids, flat, dim)
  }

  /** Default per-cluster pairing width cap — 8× the usual target cluster
    * population, so the split only ever activates on pathological skew. */
  val DefaultClusterCap: Long = 256L

  /** Corpus bound for the FLAT [[semDedup]] form (the measured-quadratic
    * one — see its scale-guard scaladoc). 2^17 rows sits just above the
    * 50× bench tier (~100k rows) where the 2.43× superlinearity was
    * MEASURED — every recorded tier still reproduces, and the very next
    * scale notch refuses with the pointer to [[semDedupHier]] instead of
    * silently entering the quadratic regime. */
  val FlatSemDedupMaxRows: Long = 1L << 17

  /** The SemDeDup skew guard: Σ|cluster|² ≈ n·target holds in
    * EXPECTATION, but a degenerate corpus (mass-duplicated embeddings)
    * collapses into one giant cluster and re-creates the quadratic pair
    * join inside it. Split every cluster into `ceil(|cluster|/cap)`
    * deterministic hash subcells and pair ONLY within a (cluster, cell) —
    * per-cell pair cost is bounded by ~cap² regardless of skew, at the
    * recall cost of cross-cell pairs inside giant clusters (the same
    * trade the LSH band split makes, and empty for every cluster under
    * the cap, where width = 1 and cell = 0). MEASURED recall loss
    * (ClusteringSpec "measured recall loss"): on the pathological
    * one-cluster corpus of 100 duplicated pairs with cap=16 (width 13),
    * capped recall is 0.080 (8/100) vs uncapped 1.0 — matching the
    * 1/width model exactly; a duplicate pair survives the split only
    * when both members hash into the same subcell, so recall inside a
    * GIANT cluster degrades as cap/|cluster| while every under-cap
    * cluster keeps recall 1.0. The hash is the portable md5-prefix
    * (`hash28`), so a SQL oracle replays the split exactly.
    * Returns `(vid, cluster, cell)`. */
  def subcells(assign: DataFrame, cap: Long, salt: String): DataFrame = {
    require(cap > 0, s"clusterCap must be positive: $cap")
    val sizes = assign.groupBy(col("cluster")).agg(count(lit(1)).as("csize"))
    assign.select(col("vid"), col("cluster"))
      .join(sizes, "cluster")
      .withColumn("cell", subcellOf(col("vid"), cap, salt))
      .select(col("vid"), col("cluster"), col("cell"))
  }

  /** THE subcell hash/width formula — shared by [[subcells]] and
    * [[semDedupDelta]] (one definition: a change applied to one caller
    * but not the other would silently desynchronize the batch and
    * incremental skew guards and both their SQL mirrors). Requires a
    * `csize` column (the cluster's pairing-mass row count) in scope. */
  private def subcellOf(vid: org.apache.spark.sql.Column, cap: Long,
                        salt: String): org.apache.spark.sql.Column =
    hash28(concat(lit(s"$salt-cell"), vid.cast("string"))) %
      expr(s"(csize + ${cap - 1}) div $cap")

  /** Assign rows to an ALREADY-FITTED centroid set (a lanes frame from
    * [[kmeansFit]]/[[kmeansLanes]]): collect the k·dim lanes driver-side
    * and run one NearestL2Centroid kernel scan — no iteration, no
    * shuffle. Returns `(vid, v, cluster, dist)` with `v` the scaled
    * lanes and `dist` the exact int64 squared L2. This is the "classify
    * against the trained model" half of incremental pipelines: fit once
    * on the corpus, assign each incoming delta batch in a single pass. */
  def assignToLanes(emb: DataFrame, idCol: String, vecCol: String,
                    lanes: DataFrame,
                    preScaled: Boolean = false): DataFrame = {
    val cents = lanes.select(col("cluster"), col("pos"), col("cval"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rows) => (c, rows.sortBy(_._2).map(_._3).toSeq) }
    val sv = emb.select(col(idCol).cast(LongType).as("vid"),
      (if (preScaled) col(vecCol) else scaled(col(vecCol))).as("v"))
    assignClusters(sv, cents)
  }

  /** Incremental SemDeDup — the ingestion-time variant of [[semDedup]]:
    * k-means is fitted on the EXISTING corpus only, the delta batch is
    * assigned to those centroids in one kernel pass
    * ([[assignToLanes]]), and near-dup pairs are mined ONLY between
    * delta and corpus rows sharing a cluster — corpus×corpus is never
    * re-paired (the [[Dedup]] incremental-LSH economics, on embeddings).
    * Returns one row per pruned DELTA vector:
    * `(cluster, pruned, keeper, best_cos)`, keeper = the smallest
    * matching corpus id.
    *
    * FLAT-FORM CAVEAT: the per-call fit is [[semDedup]]'s flat k-means,
    * with the same measured quadratic at scale AND a retrain on every
    * batch. Production ingestion should fit ONCE with
    * [[semDedupHierFit]], persist ([[saveSemIndex]]), and serve each
    * delta with [[semDedupDeltaHier]] against the loaded index — that
    * path retrains nothing and stays sublinear (q139). This form remains
    * the paper-faithful flat reference. */
  def semDedupDelta(delta: DataFrame, corpus: DataFrame,
                    idCol: String, vecCol: String,
                    k: Int, iters: Int, minCosine: Double,
                    salt: String = "semdedup",
                    clusterCap: Long = DefaultClusterCap): DataFrame = {
    import graft.functions.VectorFunctions.{vnorm, cosineFromNorms}
    require(clusterCap > 0, s"clusterCap must be positive: $clusterCap")
    val model = kmeansFit(corpus, idCol, vecCol, k, iters, salt)
    // Subcell widths come from the CORPUS cluster sizes (the pairing
    // mass); both sides hash vids with the same salt, so a delta row
    // meets exactly the corpus rows of its own cell — the skew guard of
    // [[subcells]], across the delta×corpus join.
    val sizes = model.assign.groupBy(col("cluster"))
      .agg(count(lit(1)).as("csize"))
    def cellOf(vid: org.apache.spark.sql.Column) =
      subcellOf(vid, clusterCap, salt)
    val corpusSide = corpus
      .select(col(idCol).cast(LongType).as("vid"),
        scaled(col(vecCol)).as("v"))
      .withColumn("nrm", vnorm(col("v")))
      .join(model.assign.select(col("vid"), col("cluster")), "vid")
      .join(sizes, "cluster")
      .select(col("cluster"), cellOf(col("vid")).as("cell"),
        col("vid").as("a_vid"), col("v").as("a_v"), col("nrm").as("a_nrm"))
    val deltaSide = assignToLanes(delta, idCol, vecCol, model.lanes)
      .withColumn("nrm", vnorm(col("v")))
      .join(sizes, "cluster")
      .select(col("cluster"), cellOf(col("vid")).as("cell"),
        col("vid").as("b_vid"), col("v").as("b_v"), col("nrm").as("b_nrm"))
    corpusSide.join(deltaSide, Seq("cluster", "cell"))
      .withColumn("cos", cosineFromNorms(col("a_v"), col("b_v"),
        col("a_nrm"), col("b_nrm")))
      .filter(col("cos") >= minCosine)
      .groupBy(col("cluster"), col("b_vid"))
      .agg(min(col("a_vid")).as("keeper"), max(col("cos")).as("best_cos"))
      .select(col("cluster"), col("b_vid").as("pruned"), col("keeper"),
        col("best_cos"))
  }

  /** Product-quantization codes: split each `dim`-lane vector into `m`
    * contiguous subvectors, k-means each subspace independently
    * (deterministic hash seeding per subspace salt), and emit each
    * vector's per-subspace code + exact reconstruction distance —
    * `(vid, code0, err0, ..., code{m-1}, err{m-1})`, all scalar columns.
    *
    * This is the compression half of PQ-ANN: m codes of log2(k) bits
    * replace dim floats (the classic 64-dim → m·8-bit regime at k=256);
    * an ADC search then sums per-subspace lookup distances. Scale shape:
    * each subspace clustering is the [[kmeansLanes]] plan (zero-shuffle
    * assignment scans + one (cluster, lane) partial agg per round over
    * subDim lanes); the m code frames co-partition on vid after the
    * first join shuffle. Driver state: m·k·subDim longs.
    *
    * `err_s` is the assignment's exact int64 squared distance — the
    * per-subspace quantization error an oracle replays bit-for-bit. */
  def pqCodes(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int, k: Int, iters: Int,
              salt: String = "pq"): DataFrame =
    pqModels(emb, idCol, vecCol, dim, m, k, iters, salt).map { case (s, mod) =>
      mod.assign.select(col("vid"), col("cluster").as(s"code$s"),
        col("dist").as(s"err$s"))
    }.reduce(_.join(_, "vid"))

  /** One [[kmeansFit]] per PQ subspace (subvector s spans lanes
    * [s·dim/m, (s+1)·dim/m)) — the shared training step behind
    * [[pqCodes]], [[pqSearch]] and [[ivfPqSearch]]. Each subspace is
    * fitted exactly once per call; both the codebook lanes and the code
    * assignment come from that single run. */
  private def pqModels(emb: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int, iters: Int,
                       salt: String, preScaled: Boolean = false)
      : Seq[(Int, KmeansModel)] = {
    require(m > 0 && dim > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim m=$m")
    val sub = dim / m
    // The m subspace fits are INDEPENDENT (disjoint lanes, disjoint
    // salts) but each one is a chain of per-iteration driver barriers
    // (seeds job, lanes collect); run them concurrently so the barriers
    // overlap — the scheduler interleaves their jobs across the executor
    // threads. Results are deterministic regardless of completion order
    // (each model depends only on its own salt and lanes).
    concurrentFrames(Seq.fill(m)(emb)) { (s, e) =>
      val sdf = e.select(col(idCol),
        slice(col(vecCol), s * sub + 1, sub).as("__sub"))
      (s, kmeansFit(sdf, idCol, "__sub", k, iters, s"$salt$s", preScaled))
    }
  }

  /** Run independent driver-side training/IO chains concurrently, one
    * per input frame, with the plan-sharing hazard removed STRUCTURALLY:
    * every frame is lambda-isolated
    * ([[org.apache.spark.sql.graftbridge.PlanBridge.isolateLambdas]])
    * BEFORE any task starts, so no two concurrently-evaluating plans can
    * share a `NamedLambdaVariable`'s per-evaluation mutable slot — no
    * matter how the caller derived the frames (round 16 OBSERVED two
    * frames derived from one `scaled`-bearing plan cross-wiring
    * (n_id, c_id) pairs under exactly this concurrency). Isolation
    * preserves exprIds, so persisted frames still substitute their
    * cache. Results return in INPUT order. Tasks that need more than
    * one frame should compose them into one plan first (join/union) or
    * derive everything inside `act` from the single isolated frame. */
  private[graft] def concurrentFrames[A](frames: Seq[DataFrame])(
      act: (Int, DataFrame) => A): Seq[A] = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val iso = frames.map(PlanBridge.isolateLambdas) // driver-side, serial
    // Label each future's jobs with the CALLING site (guide §1.5): jobs
    // submitted from a Future otherwise all report the executor-pool
    // frame as their call site, which makes the UI/job-level profiling
    // unreadable exactly for the overlapped persist/commit paths that
    // need it most. Descriptions are thread-local, so each thunk labels
    // only its own jobs.
    // Skip the shared plumbing frames (this method, concurrentWrites,
    // the segmented lifecycle and its commit) so jobs are labeled with
    // the REAL operator call site, not 'ShardedCommit.scala:<line>'
    // for every sharded commit (ADVICE round 18).
    val caller = Thread.currentThread.getStackTrace
      .find(e => e.getClassName.startsWith("graft.") &&
        !(e.getClassName.endsWith("Clustering$") &&
          e.getMethodName.startsWith("concurrent")) &&
        !e.getClassName.startsWith("graft.sinks.ShardedCommit") &&
        !e.getClassName.startsWith("graft.sinks.SegmentedIndex"))
      .map(e => s"${e.getFileName}:${e.getLineNumber}")
      .getOrElse("concurrentFrames")
    concurrentlyUnchecked(iso.zipWithIndex.map { case (df, i) =>
      () => {
        val sc = df.sparkSession.sparkContext
        val prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"$caller#$i")
        try act(i, df) finally sc.setJobDescription(prev)
      }
    })
  }


  /** Explicit shuffle-partition count for partitioned artifact writes.
    * A keyed `repartition(cols…)` with NO explicit count lets AQE
    * coalesce the tiny post-shuffle stage to one task, and that one
    * task then creates every partition directory's file SERIALLY —
    * measured 5.9 s vs 1.1 s for the 256-dir sharded cells staging at
    * sf0.1 (round 18). An explicit count (which AQE honors) keeps file
    * creation parallel; the count tracks `spark.sql.shuffle.partitions`,
    * so it scales with the session's configured parallelism instead of
    * hard-coding local core counts. The file layout is unchanged: each
    * (key-group) still lands in exactly one task, one file per dir. */
  private[graft] def writePar(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  /** Run a batch of independent artifact writes concurrently — each
    * frame with its own write action, lambda-isolated ([[concurrentFrames]]).
    * Persist-path jobs are individually small (bounded codebooks, single
    * surfaces); overlapping them collapses their driver/commit latencies
    * (guide §2.6 — measured round 18 on the index persist queries). */
  private[graft] def concurrentWrites(writes: Seq[(DataFrame, DataFrame => Unit)]): Unit = {
    concurrentFrames(writes.map(_._1)) { (i, df) => writes(i)._2(df) }
    ()
  }

  /** UNSAFE raw form of [[concurrentFrames]] (each thunk fires its own
    * Spark jobs; SparkSession is thread-safe; results in INPUT order).
    * The caller must guarantee no two thunks evaluate plans sharing
    * higher-order-function expression instances (`NamedLambdaVariable`
    * carries per-evaluation mutable state — shared instances corrupt
    * rows SILENTLY under concurrency). That property is not checkable
    * from opaque thunks, hence the name: prefer [[concurrentFrames]],
    * which isolates at the frame boundary, and reach for this only for
    * thunks that touch no DataFrames at all (pure driver work). */
  private[graft] def concurrentlyUnchecked[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.lengthCompare(1) <= 0) thunks.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(thunks.map(t => Future(t()))),
        Duration.Inf)
    }
  }

  /** Long-form PQ index `(n_id, s, code)` — m small rows per vector, the
    * compressed corpus every ADC variant scans instead of raw floats. */
  private def pqCodesLong(models: Seq[(Int, KmeansModel)]): DataFrame =
    models.map { case (s, mod) =>
      mod.assign.select(col("vid").as("n_id"), lit(s).as("s"),
        col("cluster").as("code"))
    }.reduce(_.union(_))

  /** Long-form PQ codebooks `(s, code, pos, cval)`. */
  private def pqLanesLong(models: Seq[(Int, KmeansModel)]): DataFrame =
    models.map { case (s, mod) =>
      mod.lanes.select(lit(s).as("s"), col("cluster").as("code"), col("pos"),
        col("cval"))
    }.reduce(_.union(_))

  /** Per-query ADC distance tables `(q_id, s, code, dval)` — m·k integer
    * entries per query (Σ over subspace lanes of (query − centroid)²),
    * tiny by construction, always broadcast at the probe join. */
  private def pqDistTables(emb: DataFrame, idCol: String, vecCol: String,
                           sub: Int, lanes: DataFrame,
                           maxQueryId: Long): DataFrame = {
    val qLanes = emb.filter(col(idCol) < maxQueryId)
      .select(col(idCol).cast(LongType).as("q_id"),
        posexplode(scaled(col(vecCol))).as(Seq("qpos", "qv")))
      .withColumn("s", (col("qpos") / sub).cast("int"))
      .withColumn("pos", col("qpos") % sub)
    qLanes.join(broadcast(lanes), Seq("s", "pos"))
      .groupBy(col("q_id"), col("s"), col("code"))
      .agg(sum((col("qv") - col("cval")) * (col("qv") - col("cval")))
        .as("dval"))
  }

  /** `iters` Lloyd rounds; returns (final centroid lanes, the assignment
    * that produced them). Centroids collapse to k·dim driver-held longs
    * each round, so both returned frames evaluate against LITERAL
    * centroids — re-execution is deterministic.
    *
    * Two measured costs are removed here (round 18, guide §1.2/§5):
    * the scaled projection is PERSISTED for the duration of the fit —
    * every Lloyd round (and the final assignment's downstream
    * consumers) otherwise re-runs the scan+scale lineage, `iters`+
    * consumers full input passes instead of one (MLlib's KMeans caches
    * its input for the same reason); and the returned lanes are the
    * LITERAL rows of the final round's collect (each round already
    * collects the lanes to build the next centroid set — keeping `n`
    * costs nothing), so lanes consumers (codebook writes, broadcast
    * distance tables, [[Similarity.centroidSetFromLanes]]) never
    * re-execute the corpus aggregation behind the lanes plan. Values
    * are bit-identical either way: the literal rows ARE the collected
    * aggregation output. */
  private def lloyd(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, salt: String,
                    preScaled: Boolean = false): (DataFrame, DataFrame) = {
    require(k > 0 && iters > 0, s"k and iters must be positive: k=$k iters=$iters")
    val spark = emb.sparkSession
    import spark.implicits._
    // preScaled: the input is already int64 lattice vectors (e.g. the
    // residual arrays of the ivfpqr tier) — scaling floats twice would
    // be wrong, and residuals never existed as floats
    val sv = OperatorCaches.register(
      emb.select(col(idCol).cast(LongType).as("vid"),
          (if (preScaled) col(vecCol) else scaled(col(vecCol))).as("v"))
        .persist())
    // Deterministic seeds: global top-k by (hash28, id) — a k-row
    // total-order limit, not a full sort materialization (this first
    // action also materializes the persisted projection).
    val seeds = sv
      .withColumn("hb", hash28(concat(lit(salt), col("vid").cast("string"))))
      .orderBy(col("hb"), col("vid")).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Long](0))
    var centroids: Seq[(Int, Seq[Long])] =
      seeds.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    var assigned: DataFrame = null
    var laneRows: Array[(Int, Int, Long, Long)] = null
    for (_ <- 1 to iters) {
      assigned = assignClusters(sv, centroids)
      val lanes = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        // trunc (toward zero) division — keep it exact-int in both engines
        .select(col("cluster"), col("pos"),
          (col("s").cast(DoubleType) / col("n")).cast(LongType).as("cval"),
          col("n"))
      // Collect unsorted and order DRIVER-side: the orderBy existed only
      // to make the collected array deterministic, and as an executor
      // sort it cost one extra shuffle + AQE stage job per Lloyd
      // iteration per fit (guide §2.4 — an orderBy used only for
      // deterministic output). k·dim rows sort in microseconds here.
      laneRows = lanes.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(r => (r._1, r._2))
      centroids = laneRows
        .map(r => (r._1, r._2, r._3))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (c, rows) => (c, rows.sortBy(_._2).map(_._3).toSeq) }
    }
    (laneRows.toSeq.toDF("cluster", "pos", "cval", "n"), assigned)
  }

  /** PQ asymmetric-distance (ADC) top-k search: queries (`idCol <
    * maxQueryId`) rank the WHOLE corpus by the sum of per-subspace
    * distances to each neighbor's assigned centroid — the lookup-table
    * search that makes PQ indexes fast.
    *
    * Plan shape (the real ADC economics): the per-query DISTANCE TABLES
    * (m·k entries per query — Σ over subspace lanes of (query − centroid)²)
    * are a tiny broadcast frame; the corpus side is touched once, as its
    * long-form codes `(n_id, s, code)` — the compressed index, m small
    * ints per vector instead of dim floats — joined broadcast against the
    * tables and partial-agg-summed per (query, neighbor). All integer
    * math: distances are exact int64 in scaled units, ties → smaller
    * n_id, so an oracle replays the whole search including its
    * quantization-induced ranking errors.
    *
    * @return (q_id, rank, n_id, adist) — topK per query, self excluded
    */
  def pqSearch(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
               m: Int, k: Int, iters: Int, maxQueryId: Long, topK: Int,
               salt: String = "pq"): DataFrame =
    pqSearchIndex(pqFit(emb, idCol, vecCol, dim, m, k, iters, salt),
      emb, idCol, vecCol, dim / m, maxQueryId, topK)

  /** A fitted PQ index in long form — the PERSISTABLE artifact of PQ
    * training: `codes(n_id, s, code)` is the compressed corpus (m small
    * ints per vector) and `lanes(s, code, pos, cval)` the codebooks
    * (m·k·subDim longs). Together they answer ADC searches without the
    * raw vectors or any retraining. */
  final case class PqIndex(codes: DataFrame, lanes: DataFrame)

  /** Train a [[PqIndex]] — the expensive half of PQ-ANN, run ONCE per
    * corpus build (persist with [[savePqIndex]]; every later query batch
    * is [[pqSearchIndex]] against the loaded artifact — the FAISS
    * build-once/serve-many economics, on parquet). */
  def pqFit(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
            m: Int, k: Int, iters: Int, salt: String = "pq"): PqIndex = {
    val models = pqModels(emb, idCol, vecCol, dim, m, k, iters, salt)
    PqIndex(pqCodesLong(models), pqLanesLong(models))
  }

  /** Persist a [[PqIndex]] as two parquet tables. The codes table is the
    * corpus-sized side (m rows per vector) and keeps its partitioning;
    * the codebooks are k·m·subDim rows — one file. */
  def savePqIndex(idx: PqIndex, path: String,
                  expected: ArtifactStore.Expect = None): Unit =
    ArtifactStore.publish(idx.codes.sparkSession, path, expected) { dir =>
      concurrentWrites(Seq(
        idx.codes -> ((df: DataFrame) => df.write.mode("overwrite")
          .parquet(s"$dir/codes")),
        idx.lanes -> ((df: DataFrame) => df.coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/lanes"))))
    }

  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  p0: String): PqIndex = {
    val path = ArtifactStore.resolve(spark, p0)
    PqIndex(ArtifactStore.readSurface(spark, s"$path/codes"),
      ArtifactStore.readSurface(spark, s"$path/lanes"))
  }

  /** ADD a delta batch to a fitted/loaded [[PqIndex]]: ENCODE each delta
    * vector against the FIXED trained codebooks (per-subspace argmin to
    * the final lanes — Faiss's `add` on a trained PQ index) and append
    * the codes; the codebooks never move. Compute is O(delta·m·k).
    * Encoding against fixed codebooks has no cross-row state, so the
    * appended codes are exactly what encoding the delta at build time
    * under the same codebooks would produce (q159's oracle replays the
    * slice-trained chains, the last-round slice codes, and the delta's
    * final-lane argmin). Note the fitted corpus keeps its LAST-ROUND
    * assignment (the codes the fit produced), while adds encode against
    * the FINAL lanes — the only codes the persisted artifact has; this
    * is the same train/add asymmetry Faiss has, and the oracle mirrors
    * both sides. Re-run [[pqFit]] when the vector distribution drifts
    * past what the old codebooks quantize well. */
  def updatePqIndex(idx: PqIndex, delta: DataFrame,
                    idCol: String, vecCol: String,
                    dim: Int, m: Int): PqIndex =
    PqIndex(idx.codes.select(col("n_id"), col("s"), col("code"))
      .unionByName(pqEncode(delta, idx.lanes, idCol, vecCol, dim, m)),
      idx.lanes)

  /** ENCODE a batch against fixed PQ codebooks: per-subspace argmin to
    * the loaded lanes — one [[assignToLanes]] kernel pass per subspace,
    * O(rows·m·k). The add half of [[updatePqIndex]]/[[updateIvfPqIndex]]. */
  private def pqEncode(batch: DataFrame, pqLanes: DataFrame,
                       idCol: String, vecCol: String,
                       dim: Int, m: Int,
                       preScaled: Boolean = false): DataFrame = {
    require(m > 0 && dim > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim m=$m")
    val sub = dim / m
    (0 until m).map { s =>
      val laneS = pqLanes.filter(col("s") === s)
        .select(col("code").as("cluster"), col("pos"), col("cval"))
      assignToLanes(
        batch.select(col(idCol), slice(col(vecCol), s * sub + 1, sub).as("__sub")),
        idCol, "__sub", laneS, preScaled)
        .select(col("vid").as("n_id"), lit(s).as("s"), col("cluster").as("code"))
    }.reduce(_.union(_))
  }

  /** ADC search against a fitted/loaded [[PqIndex]] — the cheap,
    * repeatable half of PQ-ANN (see [[pqSearch]] for the semantics and
    * plan shape; this is its body, minus the training). */
  def pqSearchIndex(idx: PqIndex, queries: DataFrame, idCol: String,
                    vecCol: String, sub: Int, maxQueryId: Long,
                    topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, s"topK must be positive: $topK")
    val dtab = pqDistTables(queries, idCol, vecCol, sub, idx.lanes,
      maxQueryId)
    val scored = idx.codes.join(broadcast(dtab), Seq("s", "code"))
      .filter(col("n_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("dval")).as("adist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("adist"))
  }

  /** IVF×PQ — the composed sublinear ANN index (the FAISS IVFPQ shape):
    * a coarse quantizer (k-means-trained centroids from
    * [[ivfCoarseCentroids]], cosine-assigned — exactly
    * [[Similarity.knnIvf]]'s structure) partitions the corpus into
    * inverted lists, PQ compresses
    * every vector to m codes, and a query ADC-ranks ONLY the codes in its
    * `nprobe` probed cells — per-query cost ≈ nprobe/numCentroids of the
    * corpus instead of all of it (the documented exhaustive-scan caveat
    * of [[pqSearch]], fixed by composition).
    *
    * Plan shape at 100 TB: the compressed index `(c_id, n_id, s, code)`
    * is built with one shuffle (codes co-partitioned on n_id from the PQ
    * joins, then keyed by cell); probes (queries × nprobe rows) and the
    * per-query distance tables (queries × m·k rows) are both broadcast;
    * scoring is a partial-aggregated integer sum per (query, candidate).
    * Nothing driver-side grows with the corpus — only with k·dim
    * (centroids) and |queries|·m·k (tables).
    *
    * Everything is deterministic int64 math (ties → smaller id at every
    * ranking step), so an oracle replays the full index: coarse
    * assignment, probing, codes, and the ADC ranking itself.
    *
    * @return (q_id, rank, n_id, adist) — topK per query, self excluded;
    *         queries whose probed cells hold < topK candidates emit
    *         fewer rows (the honest IVF recall contract)
    */
  def ivfPqSearch(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                  m: Int, k: Int, iters: Int, numCentroids: Int,
                  nprobe: Int, maxQueryId: Long, topK: Int,
                  salt: String = "pq"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, s"topK must be positive: $topK")
    // PQ subspace fits and the coarse-codebook fit are independent
    // training chains — overlap their driver barriers (see
    // [[concurrentFrames]]); both are deterministic in isolation.
    val trained = concurrentFrames(Seq(emb, emb)) { (i, e) =>
      if (i == 0) pqModels(e, idCol, vecCol, dim, m, k, iters, salt): AnyRef
      else ivfCoarseCentroids(e, idCol, vecCol, numCentroids): AnyRef
    }
    val models = trained(0).asInstanceOf[Seq[(Int, KmeansModel)]]
    val cents = trained(1).asInstanceOf[graft.plans.IvfCentroids]
    val dtab = pqDistTables(emb, idCol, vecCol, dim / m,
      pqLanesLong(models), maxQueryId)
    val cand = ivfPqCandidatesWith(emb, idCol, vecCol, cents, nprobe,
      maxQueryId)
    // Fetch each candidate's m codes (co-partitioned join on n_id), look
    // up the broadcast tables, and fold to one integer distance per pair.
    val scored = cand.join(pqCodesLong(models), Seq("n_id"))
      .join(broadcast(dtab), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("dval")).as("adist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("adist"))
  }

  /** Two-stage retrieval — the production ANN pattern: the compressed
    * [[ivfPqSearch]] index produces a cheap `rerankPool`-deep shortlist
    * per query, and ONLY those pairs are re-scored with the exact cosine
    * on raw vectors. Per query, the expensive exact math touches
    * `rerankPool` vectors instead of the corpus; the shortlist join back
    * to raw vectors is broadcast-sized (queries × rerankPool rows).
    * Output ranks by exact cosine (ties → smaller n_id), so ADC
    * quantization error affects RECALL (which pairs made the pool) but
    * never the final ordering of what it returns.
    *
    * @return (q_id, rank, n_id, cos) — topK per query by exact cosine
    *         over the ADC shortlist
    */
  def ivfPqRerank(emb: DataFrame, idCol: String, vecCol: String, dim: Int,
                  m: Int, k: Int, iters: Int, numCentroids: Int,
                  nprobe: Int, maxQueryId: Long, rerankPool: Int,
                  topK: Int, salt: String = "pq"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{cosineFromNorms, vnorm}
    require(rerankPool >= topK,
      s"rerankPool ($rerankPool) must be >= topK ($topK)")
    val shortlist = ivfPqSearch(emb, idCol, vecCol, dim, m, k, iters,
        numCentroids, nprobe, maxQueryId, rerankPool, salt)
      .select(col("q_id"), col("n_id"))
    val sv = emb.select(col(idCol).cast(LongType).as("vid"),
        scaled(col(vecCol)).as("v"))
      .withColumn("nrm", vnorm(col("v")))
    val scored = sv.select(col("vid").as("n_id"), col("v").as("nv"),
        col("nrm").as("nn"))
      .join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(sv.filter(col("vid") < maxQueryId)
        .select(col("vid").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosineFromNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
  }

  /** REMOVE a vector set from the composed compressed index: anti-join
    * both corpus-sized surfaces (cells and codes) on `n_id`; both
    * codebooks stay fixed. Equals building cells+codes from the
    * remaining vectors under the same fit. */
  def removeFromIvfPqIndex(idx: IvfPqIndex, removedIds: DataFrame)
      : IvfPqIndex = {
    val ids = removedIds.select(col("n_id")).distinct()
    idx.copy(
      cells = idx.cells
        .select(col("n_id") +: cellsAttrCols(idx.cells).map(col) :+
          col("c_id"): _*)
        .join(ids, Seq("n_id"), "left_anti"),
      codes = idx.codes.select(col("n_id"), col("s"), col("code"))
        .join(ids, Seq("n_id"), "left_anti"))
  }

  /** REMOVE a vector set from a PQ index: anti-join the codes on
    * `n_id`; the codebooks stay fixed. */
  def removeFromPqIndex(idx: PqIndex, removedIds: DataFrame): PqIndex =
    idx.copy(codes = idx.codes.select(col("n_id"), col("s"), col("code"))
      .join(removedIds.select(col("n_id")).distinct(), Seq("n_id"),
        "left_anti"))

  // ── trained 8-bit scalar quantizer (SQ8) ───────────────────────────────

  /** Trained 8-bit scalar-quantizer index — the Faiss
    * `ScalarQuantizer(QT_8bit)` shape, the codebook-light compression
    * tier of the family: TRAINING fits one (lo, hi) bound per DIMENSION
    * over the corpus (on the 2^20-scaled int64 lattice —
    * [[graft.functions.VectorFunctions.scaled]]), ENCODING maps each
    * lane to an 8-bit level `⌊(x−lo)·255/span⌋` clamped to [0, 255]
    * (span = max(hi−lo, 1)), and SEARCH ranks candidates by the exact
    * integer L2 distance in CODE space (symmetric SQD: query and corpus
    * both encoded, so the whole distance is int64 math and the DuckDB
    * oracle replays fit, encode and ranking bit-for-bit). 4 bytes/lane
    * raw float → 1 byte/lane served.
    *
    * Train/add asymmetry is Faiss's: the bounds NEVER move on add — a
    * delta lane outside the trained range clamps to the edge level
    * (q169's oracle replays slice-trained bounds over the union, so the
    * clamp is oracle-checked, not just documented). Where it sits vs
    * [[PqIndex]]: PQ compresses harder (m sub-codes) but pays m trained
    * codebooks and an ADC table per query; SQ8 trains in one aggregate
    * pass and keeps per-lane resolution — the first compression step
    * when recall matters more than bytes.
    *
    * Scale shape (100 TB): training is ONE map-side-partial aggregate
    * scan (2·dim min/max aggregates — no explode, no shuffle of vector
    * rows); encoding is per-row column work against two dim-length
    * broadcast literals (zero shuffle, codegen'd higher-order
    * functions); serve broadcasts the ENCODED query batch over one flat
    * scan of the 1-byte-lane codes — the compressed-flat economics.
    * Compose with an IVF front end (the [[IvfPqIndex]] pattern) when
    * the corpus outgrows flat scans.
    *
    * Reference analog: none (no ANN surface in kiji-mapreduce); this is
    * the LLM-pipeline charter's similarity-search upside, completing
    * the flat / IVF-flat / PQ / IVFPQ / IMI index family. */
  final case class SqIndex(lanes: DataFrame, codes: DataFrame)

  /** Fit the per-dimension bounds: 2·dim min/max aggregates in ONE scan
    * over the scaled lattice — never an explode, partial-aggregated
    * map-side. Lanes are dim-bounded by construction: `(d, lo, hi)`,
    * one row per dimension. */
  def sqFitLanes(emb: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim > 0 && dim <= Similarity.MaxCentroids,
      s"dim $dim outside (0, ${Similarity.MaxCentroids}]")
    val iv = emb.select(scaled(col(vecCol)).as("__iv"))
    val aggs = (0 until dim).flatMap { d =>
      Seq(min(element_at(col("__iv"), d + 1)).as(s"lo$d"),
        max(element_at(col("__iv"), d + 1)).as(s"hi$d"))
    }
    val row = iv.agg(aggs.head, aggs.tail: _*).head()
    require(!row.isNullAt(0), "sqFitLanes: cannot fit bounds on an " +
      "empty corpus (train on at least one vector)")
    val spark = emb.sparkSession
    import spark.implicits._
    (0 until dim).map(d => (d, row.getLong(2 * d), row.getLong(2 * d + 1)))
      .toDF("d", "lo", "hi")
  }

  /** ENCODE a batch against FIXED trained lanes: per-row HOF column
    * work against two dim-length literal arrays (lanes are dim-bounded,
    * so the collect is capped driver state — the [[literalLanes]]
    * pattern). Out-of-range lanes CLAMP to the edge level (Faiss's
    * add-time behavior). Exactness: the level is `⌊(x−lo)·255/span⌋`;
    * the products are integer-exact in double (< 2^53) and the single
    * correctly-rounded division's quotient sits ≥ 1/span ≥ 2^-42 from
    * the next integer while its ulp is ≤ 2^-44 — floor is therefore
    * engine-independent, and DuckDB replays the identical expression. */
  def sqEncode(batch: DataFrame, lanes: DataFrame, idCol: String,
               vecCol: String): DataFrame = {
    val (lo, span) = sqLaneArrays(lanes)
    batch.select(col(idCol).cast(LongType).as("n_id"),
      sqCodeCol(lo, span, col(vecCol)).as("code"))
  }

  /** The trained bounds as driver arrays ordered by dimension — the
    * dim-bounded collect behind every encode. */
  private def sqLaneArrays(lanes: DataFrame): (Seq[Long], Seq[Long]) = {
    val rows = lanes.select(col("d"), col("lo"), col("hi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    (rows.map(_._2).toSeq,
      rows.map(r => math.max(r._3 - r._2, 1L)).toSeq)
  }

  /** The clamped floor-level code array as one HOF column over the raw
    * vector — shared by [[sqEncode]] and the fused IVF×SQ assignment
    * scan ([[buildIvfSqIndex]]). */
  private def sqCodeCol(loArr: Seq[Long], spanArr: Seq[Long],
                        vec: Column): Column = {
    val lo = typedLit(loArr)
    val span = typedLit(spanArr)
    transform(scaled(vec), (x, i) =>
      least(lit(255L), greatest(lit(0L),
        floor(((x - element_at(lo, i + 1)) * lit(255L)).cast(DoubleType) /
          element_at(span, i + 1).cast(DoubleType)))))
  }

  def buildSqIndex(emb: DataFrame, idCol: String, vecCol: String,
                   dim: Int): SqIndex = {
    val lanes = sqFitLanes(emb, vecCol, dim)
    SqIndex(lanes, sqEncode(emb, lanes, idCol, vecCol))
  }

  /** ADD under the FIXED bounds (Faiss train/add): encode the delta
    * against the loaded lanes and append. Encoding is stateless per
    * row, so the union equals a fresh encode of the union corpus under
    * the same lanes (q169's oracle replays exactly that). */
  def updateSqIndex(idx: SqIndex, delta: DataFrame, idCol: String,
                    vecCol: String): SqIndex =
    idx.copy(codes = idx.codes.select(col("n_id"), col("code"))
      .unionByName(sqEncode(delta, idx.lanes, idCol, vecCol)))

  /** REMOVE a vector set: anti-join the codes; the bounds stay fixed —
    * per-vector code rows are independent, so the result equals a fresh
    * encode of the survivors under the same lanes. */
  def removeFromSqIndex(idx: SqIndex, removedIds: DataFrame): SqIndex =
    idx.copy(codes = idx.codes.select(col("n_id"), col("code"))
      .join(removedIds.select(col("n_id")).distinct(), Seq("n_id"),
        "left_anti"))

  /** Serve top-k from the loaded codes: encode the query batch (rows
    * from the input, bounds from the artifact), broadcast it over ONE
    * flat scan of the codes, rank by exact integer code-space L2
    * (ties → smaller n_id; self excluded). */
  def serveSq(idx: SqIndex, emb: DataFrame, idCol: String, vecCol: String,
              maxQueryId: Long, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive: $k")
    val q = sqEncode(
        emb.filter(col(idCol).cast(LongType) < maxQueryId), idx.lanes,
        idCol, vecCol)
      .select(col("n_id").as("q_id"), col("code").as("qcode"))
    val scored = idx.codes.join(broadcast(q), col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        aggregate(zip_with(col("qcode"), col("code"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("sqdist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sqdist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sqdist"))
  }

  /** Persist: dim-bounded lanes funnel to one file; the codes keep
    * their partitioning (the corpus-sized surface). */
  def saveSqIndex(idx: SqIndex, path: String,
                  expected: ArtifactStore.Expect = None): Unit =
    ArtifactStore.publish(idx.codes.sparkSession, path, expected) { dir =>
      concurrentWrites(Seq(
        idx.lanes.select(col("d"), col("lo"), col("hi")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/lanes")),
        idx.codes.select(col("n_id"), col("code")) ->
          ((df: DataFrame) => df.write.mode("overwrite")
            .parquet(s"$dir/codes"))))
    }

  def loadSqIndex(spark: org.apache.spark.sql.SparkSession,
                  p0: String): SqIndex = {
    val path = ArtifactStore.resolve(spark, p0)
    SqIndex(ArtifactStore.readSurface(spark, s"$path/lanes"),
      ArtifactStore.readSurface(spark, s"$path/codes"))
  }

  // ── composed IVF × SQ8 (IndexIVFScalarQuantizer) ───────────────────────

  /** The composed Faiss-`IndexIVFScalarQuantizer` artifact: a trained
    * coarse codebook partitions the corpus into inverted lists and SQ8
    * compresses every vector to one byte per lane — a serve reads ONLY
    * the probed cells' codes and ranks them by the exact integer
    * code-space L2 ([[SqIndex]]'s symmetric SQD). Why this tier exists
    * beside [[IvfPqIndex]]: the round-15 clustered-corpus measurement
    * showed m=8 ADC saturating at 0.19 recall INSIDE tight clusters
    * (neighbors differ by small noise the subspace codes cannot
    * resolve) while per-LANE 8-bit resolution preserves the fine
    * ordering — ivfsq is the compressed sublinear tier whose ranking
    * survives cluster interiors, at 8 bytes/vector vs ivfpq's m
    * (RecallBench's `ivfsq` column measures exactly this beside ADC).
    *
    * Both corpus-sized surfaces are monoids under the FIXED fitted
    * parameters (cell assignment and encode are stateless per row), so
    * add = one fused delta scan + append, exact vs a fresh assignment
    * of the union; remove = anti-join. Scale shape: the two fits run
    * concurrently (Lloyd chain ∥ one min/max aggregate pass); build's
    * corpus pass is ONE scan computing cell + code together (fused
    * kernel + HOF columns, zero joins); serve I/O is O(probed cells) of
    * 1-byte-per-lane codes via the same static `c_id IN (...)`
    * partition filter as [[serveIvfFlat]]. */
  final case class IvfSqIndex(coarseLanes: DataFrame, sqLanes: DataFrame,
                              codes: DataFrame)

  def buildIvfSqIndex(emb: DataFrame, idCol: String, vecCol: String,
                      dim: Int, numCentroids: Int,
                      iters: Int = Similarity.IvfCoarseIters,
                      salt: String = Similarity.IvfCoarseSalt)
      : IvfSqIndex = {
    // independent fits — run their driver-side barriers concurrently
    // (the IMI half-fit pattern); the coarse lanes funnel to literals
    // ([[literalLanes]]) so the assignment scan broadcasts them as
    // kernel state
    val Seq(coarse, sqLanes) = concurrentFrames(Seq(emb, emb)) { (i, e) =>
      if (i == 0) literalLanes(
        ivfCoarseLanes(e, idCol, vecCol, numCentroids, iters, salt))
      else sqFitLanes(e, vecCol, dim)
    }
    IvfSqIndex(coarse, sqLanes,
      ivfSqAssign(emb, idCol, vecCol, coarse, sqLanes))
  }

  /** [[buildIvfSqIndex]] with a PRE-TRAINED coarse codebook — share one
    * fit across tiers so cell boundaries agree and recall comparisons
    * isolate the compression, not fit variance (the
    * [[buildIvfPqIndexWith]] pattern). */
  def buildIvfSqIndexWith(emb: DataFrame, idCol: String, vecCol: String,
                          dim: Int, coarseLanes: DataFrame): IvfSqIndex = {
    val sqLanes = sqFitLanes(emb, vecCol, dim)
    IvfSqIndex(coarseLanes, sqLanes,
      ivfSqAssign(emb, idCol, vecCol, coarseLanes, sqLanes))
  }

  /** The fused corpus pass shared by build and add: nearest-cell kernel
    * argmin + clamped SQ encode in ONE scan — zero joins, zero
    * shuffles, fully codegen'd. */
  private[operators] def ivfSqAssign(emb: DataFrame, idCol: String,
                                     vecCol: String,
                                     coarseLanes: DataFrame,
                                     sqLanes: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    import graft.functions.VectorFunctions.vnorm
    val cents = Similarity.centroidSetFromLanes(coarseLanes)
    val (lo, span) = sqLaneArrays(sqLanes)
    val sv = scaled(col(vecCol))
    emb.select(col(idCol).cast(LongType).as("n_id"),
      element_at(columnOf(graft.plans.NearestCentroids(
        expressionOf(sv), expressionOf(vnorm(sv)), cents, 1)), 1)
        .as("c_id"),
      sqCodeCol(lo, span, col(vecCol)).as("code"))
  }

  /** ADD under the FIXED codebook and bounds (Faiss train/add): one
    * fused delta scan + append — equals a fresh assignment/encode of
    * the union (q171's oracle replays exactly that). */
  def updateIvfSqIndex(idx: IvfSqIndex, delta: DataFrame, idCol: String,
                       vecCol: String): IvfSqIndex =
    idx.copy(codes = idx.codes.select(col("n_id"), col("c_id"), col("code"))
      .unionByName(ivfSqAssign(delta, idCol, vecCol, idx.coarseLanes,
        idx.sqLanes)))

  /** REMOVE a vector set: anti-join the cell-coded rows; the fitted
    * codebook and bounds stay — equals a fresh assignment/encode of the
    * survivors. */
  def removeFromIvfSqIndex(idx: IvfSqIndex, removedIds: DataFrame)
      : IvfSqIndex =
    idx.copy(codes = idx.codes.select(col("n_id"), col("c_id"), col("code"))
      .join(removedIds.select(col("n_id")).distinct(), Seq("n_id"),
        "left_anti"))

  /** Serve top-k from the loaded artifact: probes kernel-rank the query
    * batch against the coarse codebook, the codes scan prunes to the
    * probed cell partitions (static `c_id IN (...)`), the query batch
    * is SQ-encoded against the artifact bounds, and candidates rank by
    * exact integer code-space L2 (ties → smaller n_id; self
    * excluded). */
  def serveIvfSq(idx: IvfSqIndex, emb: DataFrame, idCol: String,
                 vecCol: String, maxQueryId: Long, nprobe: Int,
                 k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, s"k must be positive: $k")
    val probes = Similarity.ivfProbeQueries(emb, idCol, vecCol,
        Similarity.centroidSetFromLanes(idx.coarseLanes), maxQueryId,
        nprobe)
      .select(col("q_id"), col("c_id"))
    val cells = collectProbedCells(probes)
    val codes =
      if (cells.length <= ServeCellFilterCap)
        idx.codes.filter(col("c_id").isInCollection(cells))
      else idx.codes // degenerate huge batch: join filters anyway
    val q = sqEncode(
        emb.filter(col(idCol).cast(LongType) < maxQueryId), idx.sqLanes,
        idCol, vecCol)
      .select(col("n_id").as("q_id"), col("code").as("qcode"))
    // one row per (query, probed cell) × the query's code array — a
    // candidate lives in exactly one cell, so each (q, n) pair scores
    // at most once
    val scored = codes.join(broadcast(probes.join(q, Seq("q_id"))),
        Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        aggregate(zip_with(col("qcode"), col("code"),
            (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("sqdist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sqdist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("sqdist"))
  }

  /** Persist: both fitted surfaces funnel to one file each (bounded);
    * codes get the inverted-list directory layout the serve-time
    * partition filter prunes. */
  def saveIvfSqIndex(idx: IvfSqIndex, path: String,
                     expected: ArtifactStore.Expect = None): Unit =
    ArtifactStore.publish(idx.codes.sparkSession, path, expected) { dir =>
      concurrentWrites(Seq(
        idx.coarseLanes.select(col("cluster"), col("pos"), col("cval"),
          col("n")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/lanes")),
        idx.sqLanes.select(col("d"), col("lo"), col("hi")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/sqlanes")),
        idx.codes.select(col("n_id"), col("code"), col("c_id")) ->
          ((df: DataFrame) => df.repartition(writePar(df), col("c_id"))
            .write.mode("overwrite").partitionBy("c_id")
            .parquet(s"$dir/codes"))))
    }

  def loadIvfSqIndex(spark: org.apache.spark.sql.SparkSession,
                     p0: String): IvfSqIndex = {
    val path = ArtifactStore.resolve(spark, p0)
    IvfSqIndex(ArtifactStore.readSurface(spark, s"$path/lanes"),
      ArtifactStore.readSurface(spark, s"$path/sqlanes"),
      ArtifactStore.readSurface(spark, s"$path/codes")
        .select(col("n_id"), col("code"),
          col("c_id").cast(LongType).as("c_id")))
  }

  // ── residual-encoded IVF × PQ (the production IndexIVFPQ) ─────────────

  /** The residual-encoded composed index — what Faiss `IndexIVFPQ`
    * actually quantizes, and the canonical fix for the measured
    * in-cluster ADC saturation: [[IvfPqIndex]] encodes RAW vectors, and
    * BASELINE.md's round-15 clustered table shows its ADC stuck at
    * ~0.19 recall inside tight clusters — every member shares the same
    * gross position, so m subspace codes quantize the part that carries
    * no neighbor information and collapse on the part that does. Here
    * PQ quantizes `v − centroid(cell(v))`: the coarse quantizer absorbs
    * the gross position and the codebooks spend ALL their resolution on
    * the within-cell geometry (Jégou, Douze & Schmid 2011, §IV.B —
    * "product quantization of residual vectors").
    *
    * Exactness: the coarse centroids are integer-QUANTIZED lanes (the
    * [[kmeansFit]] invariant), so residuals are exact int64 vectors —
    * the whole chain (coarse fit, residuals, per-subspace residual
    * fits, codes, per-(query, cell) distance tables, ADC ranking)
    * replays in DuckDB bit-for-bit (q172/q173).
    *
    * The known serve-time cost of residual encoding: a query's residual
    * DIFFERS PER PROBED CELL, so distance tables are per (query, cell)
    * — nprobe·m·k integer entries per query instead of m·k — still
    * broadcast-tiny (Faiss pays the same via `precompute_table`). Adds
    * stay exact under the fixed fits: cell assignment, residual and
    * per-subspace encode are all stateless per row, so an updated
    * artifact equals a fresh assignment/encode of the union. */
  final case class IvfPqrIndex(coarseLanes: DataFrame, cells: DataFrame,
                               codes: DataFrame, pqLanes: DataFrame)

  /** `(c_id, cv)` — each coarse centroid as one integer array row, for
    * the broadcast residual joins (bounded ≤ MaxCentroids rows). */
  private def centroidVecFrame(coarseLanes: DataFrame): DataFrame = {
    val spark = coarseLanes.sparkSession
    import spark.implicits._
    coarseLanes
      .select(col("cluster").cast(LongType), col("pos"), col("cval"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rows) => (c, rows.sortBy(_._2).map(_._3).toSeq) }
      .toDF("c_id", "cv")
  }

  def buildIvfPqrIndex(emb: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, k: Int, iters: Int,
                       numCentroids: Int,
                       salt: String = "pqr",
                       attrCols: Seq[String] = Nil): IvfPqrIndex =
    buildIvfPqrIndexWith(emb, idCol, vecCol, dim, m, k, iters,
      literalLanes(ivfCoarseLanes(emb, idCol, vecCol, numCentroids)), salt,
      attrCols)

  /** Build against a PRE-TRAINED coarse codebook (the
    * [[buildIvfPqIndexWith]] pattern — share one fit across tiers so
    * recall comparisons isolate the encoding). One corpus pass assigns
    * cells, one broadcast join forms the integer residuals (persisted:
    * the m subspace fits each iterate over them), then the standard
    * per-subspace Lloyd chains run on the residual lattice. `attrCols`
    * ride the CELLS surface for the filtered residual-ADC serve
    * ([[serveIvfPqrFiltered]] — same contract as the raw-PQ tier). */
  def buildIvfPqrIndexWith(emb: DataFrame, idCol: String, vecCol: String,
                           dim: Int, m: Int, k: Int, iters: Int,
                           coarseLanes: DataFrame,
                           salt: String = "pqr",
                           attrCols: Seq[String] = Nil): IvfPqrIndex = {
    val postings = Similarity.ivfPostingsAttrs(emb, idCol, vecCol,
      Similarity.centroidSetFromLanes(coarseLanes), attrCols)
    val resid = OperatorCaches.register(
      postings.join(broadcast(centroidVecFrame(coarseLanes)), Seq("c_id"))
        .select(col("n_id") +: attrCols.map(col) :+ col("c_id") :+
          zip_with(col("nv"), col("cv"), (a, b) => a - b).as("rv"): _*)
        .persist())
    val models = pqModels(resid, "n_id", "rv", dim, m, k, iters, salt,
      preScaled = true)
    IvfPqrIndex(coarseLanes,
      resid.select(col("n_id") +: attrCols.map(col) :+ col("c_id"): _*),
      pqCodesLong(models), pqLanesLong(models))
  }

  /** ADD a delta: kernel cell assignment + broadcast residual join +
    * per-subspace encode against the FIXED residual codebooks — one
    * delta pass, exact vs a fresh assignment/encode of the union
    * (q173's oracle replays slice-trained fits over the union). */
  def updateIvfPqrIndex(idx: IvfPqrIndex, delta: DataFrame, idCol: String,
                        vecCol: String, dim: Int, m: Int): IvfPqrIndex = {
    val attrs = cellsAttrCols(idx.cells)
    val (cells, codes) = pqrDelta(delta, idCol, vecCol, idx.coarseLanes,
      idx.pqLanes, dim, m, attrs)
    IvfPqrIndex(idx.coarseLanes,
      idx.cells.select(col("n_id") +: attrs.map(col) :+ col("c_id"): _*)
        .unionByName(cells),
      idx.codes.select(col("n_id"), col("s"), col("code")).unionByName(codes),
      idx.pqLanes)
  }

  /** REMOVE a vector set: anti-join both corpus-sized surfaces; the
    * fitted codebooks stay. */
  def removeFromIvfPqrIndex(idx: IvfPqrIndex, removedIds: DataFrame)
      : IvfPqrIndex = {
    val ids = removedIds.select(col("n_id")).distinct()
    idx.copy(
      cells = idx.cells
        .select(col("n_id") +: cellsAttrCols(idx.cells).map(col) :+
          col("c_id"): _*)
        .join(ids, Seq("n_id"), "left_anti"),
      codes = idx.codes.select(col("n_id"), col("s"), col("code"))
        .join(ids, Seq("n_id"), "left_anti"))
  }

  /** ADC serve over residual codes: probes kernel-rank against the
    * coarse codebook; each (query, probed cell) forms its own residual
    * and distance table (the residual-PQ table shape); the cells scan
    * prunes to the probed partitions; candidates rank by the exact
    * integer table-sum (ties → smaller n_id; self excluded). */
  def serveIvfPqr(idx: IvfPqrIndex, emb: DataFrame, idCol: String,
                  vecCol: String, dim: Int, m: Int, maxQueryId: Long,
                  nprobe: Int, topK: Int): DataFrame = {
    val probes = Similarity.ivfProbeQueries(emb, idCol, vecCol,
      Similarity.centroidSetFromLanes(idx.coarseLanes), maxQueryId, nprobe)
    serveIvfPqrWithProbes(idx, dim, m, probes, collectProbedCells(probes),
      topK)
  }

  private def serveIvfPqrWithProbes(idx: IvfPqrIndex, dim: Int, m: Int,
                                    probes: DataFrame,
                                    probedCells: Array[Long],
                                    topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, s"topK must be positive: $topK")
    require(m > 0 && dim > 0 && dim % m == 0,
      s"m must divide dim: dim=$dim m=$m")
    val sub = dim / m
    val cells =
      if (probedCells.length <= ServeCellFilterCap)
        idx.cells.filter(col("c_id").isInCollection(probedCells))
      else idx.cells // degenerate huge batch: join filters anyway
    // per-(query, probed cell) residual → nprobe·m·k table entries per
    // query, exploded lane-wise and folded against the codebooks
    val qres = probes
      .join(broadcast(centroidVecFrame(idx.coarseLanes)), Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        posexplode(zip_with(col("qv"), col("cv"), (a, b) => a - b))
          .as(Seq("qpos", "qrv")))
      .withColumn("s", (col("qpos") / sub).cast("int"))
      .withColumn("pos", col("qpos") % sub)
    val dt = qres.join(broadcast(idx.pqLanes), Seq("s", "pos"))
      .groupBy(col("q_id"), col("c_id"), col("s"), col("code"))
      .agg(sum((col("qrv") - col("cval")) * (col("qrv") - col("cval")))
        .as("dval"))
    val cand = cells
      .join(broadcast(probes.select(col("q_id"), col("c_id"))), Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), col("c_id"))
    val scored = cand.join(idx.codes, Seq("n_id"))
      .join(broadcast(dt), Seq("q_id", "c_id", "s", "code"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("dval")).as("adist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("adist"))
  }

  /** Two-stage retrieval over the RESIDUAL shortlist — the shape the
    * round-15 recall ladder recommends: the residual ADC shortlist is
    * twice as accurate as the raw-vector one at identical bytes, so
    * the same rerank pool covers more true neighbors (BASELINE.md's
    * pool-sweep row measures the gap directly). Identical contract to
    * [[serveIvfPqRerank]]: the raw vectors come from an
    * [[IvfFlatIndex]]'s postings built from the SAME coarse fit
    * ([[buildIvfPqrIndexWith]] + `buildIvfFlatIndex`'s lanes), the
    * fetch prunes to the probed cell partitions, and probes are
    * computed ONCE for both stages. */
  def serveIvfPqrRerank(pqrIdx: IvfPqrIndex, postings: DataFrame,
                        emb: DataFrame, idCol: String, vecCol: String,
                        dim: Int, m: Int, maxQueryId: Long, nprobe: Int,
                        rerankPool: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{cosineFromNorms, vnorm}
    require(rerankPool >= topK,
      s"rerankPool ($rerankPool) must be >= topK ($topK)")
    val probes = Similarity.ivfProbeQueries(emb, idCol, vecCol,
      Similarity.centroidSetFromLanes(pqrIdx.coarseLanes), maxQueryId,
      nprobe)
    val probedCells = collectProbedCells(probes)
    val shortlist = serveIvfPqrWithProbes(pqrIdx, dim, m, probes,
        probedCells, rerankPool)
      .select(col("q_id"), col("n_id"))
    val fetchable =
      if (probedCells.length <= ServeCellFilterCap &&
          postings.columns.contains("c_id"))
        postings.filter(col("c_id").isInCollection(probedCells))
      else postings
    val queries = emb.select(col(idCol).cast(LongType).as("q_id"),
        scaled(col(vecCol)).as("qv"))
      .withColumn("qn", vnorm(col("qv")))
      .filter(col("q_id") < maxQueryId)
    val scored = fetchable.select(col("n_id"), col("nv"), col("nn"))
      .join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosineFromNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
  }

  /** Persist/load: the [[IvfPqIndex]] layout (bounded codebooks funnel
    * to one file each; cells get the inverted-list directory layout;
    * codes stay n_id-keyed). */
  def saveIvfPqrIndex(idx: IvfPqrIndex, path: String,
                      expected: ArtifactStore.Expect = None): Unit =
    ArtifactStore.publish(idx.cells.sparkSession, path, expected) { dir =>
      concurrentWrites(Seq(
        idx.coarseLanes.select(col("cluster"), col("pos"), col("cval"),
          col("n")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/coarse")),
        idx.pqLanes.select(col("s"), col("code"), col("pos"), col("cval")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/pqlanes")),
        idx.cells.select(col("n_id") +: cellsAttrCols(idx.cells).map(col) :+
          col("c_id"): _*) ->
          ((df: DataFrame) => df.repartition(writePar(df), col("c_id"))
            .write.mode("overwrite").partitionBy("c_id")
            .parquet(s"$dir/cells")),
        idx.codes.select(col("n_id"), col("s"), col("code")) ->
          ((df: DataFrame) => df.write.mode("overwrite")
            .parquet(s"$dir/codes"))))
    }

  def loadIvfPqrIndex(spark: org.apache.spark.sql.SparkSession,
                      p0: String): IvfPqrIndex = {
    val path = ArtifactStore.resolve(spark, p0)
    val rawCells = ArtifactStore.readSurface(spark, s"$path/cells")
    IvfPqrIndex(ArtifactStore.readSurface(spark, s"$path/coarse"),
      rawCells.select(col("n_id") +: cellsAttrCols(rawCells).map(col) :+
        col("c_id").cast(LongType).as("c_id"): _*),
      ArtifactStore.readSurface(spark, s"$path/codes"),
      ArtifactStore.readSurface(spark, s"$path/pqlanes"))
  }

  /** FILTERED residual-ADC serve — [[serveIvfPqFiltered]]'s contract on
    * the residual tier: the predicate over cells-surface attributes
    * composes into the probed scan BEFORE the candidate join, so every
    * query's topK are MATCHING codes. */
  def serveIvfPqrFiltered(idx: IvfPqrIndex, emb: DataFrame, idCol: String,
                          vecCol: String, dim: Int, m: Int,
                          maxQueryId: Long, nprobe: Int, topK: Int,
                          pred: org.apache.spark.sql.Column): DataFrame =
    serveIvfPqr(idx.copy(cells = idx.cells.filter(pred)), emb, idCol,
      vecCol, dim, m, maxQueryId, nprobe, topK)

  /** Two-stage retrieval SERVED from artifacts — the production pattern
    * closed over persisted state: the compressed [[IvfPqIndex]]
    * produces the rerankPool-deep ADC shortlist, and the raw vectors
    * for the exact-cosine rerank come from an [[IvfFlatIndex]]'s
    * POSTINGS (the artifact that stores them); the query batch's own
    * vectors come from the input. Reproduces [[ivfPqRerank]]
    * bit-for-bit when both artifacts share the codebook parameters
    * (q162's oracle is q98's SQL). At 100 TB the rerank fetch touches
    * queries·rerankPool raw vectors out of the postings, and the
    * postings SCAN prunes to the probed cell partitions (every
    * shortlist vector lives in a probed cell) — never a corpus scan —
    * so the exact math stays shortlist-sized while the corpus itself
    * stays PQ-compressed on the serving tier. CONTRACT: the postings
    * must be cell-partitioned under the SAME coarse codebook as
    * `pqIdx` (build both tiers from one fit — [[buildIvfPqIndexWith]];
    * a mismatched codebook would silently drop shortlist vectors whose
    * cell disagrees). */
  def serveIvfPqRerank(pqIdx: IvfPqIndex, postings: DataFrame,
                       emb: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int, maxQueryId: Long, nprobe: Int,
                       rerankPool: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{cosineFromNorms, vnorm}
    require(rerankPool >= topK,
      s"rerankPool ($rerankPool) must be >= topK ($topK)")
    // probes and their distinct-cells literal are computed ONCE and
    // shared by both stages (the collect is a blocking driver job — in
    // the streamed CLI path it would otherwise run twice per micro-batch)
    val cents = Similarity.centroidSetFromLanes(pqIdx.coarseLanes)
    val probes = Similarity.ivfProbeQueries(emb, idCol, vecCol, cents,
        maxQueryId, nprobe)
      .select(col("q_id"), col("c_id"))
    val probedCells = collectProbedCells(probes)
    val shortlist = serveIvfPqWithProbes(pqIdx, emb, idCol, vecCol, dim, m,
        maxQueryId, probes, probedCells, rerankPool)
      .select(col("q_id"), col("n_id"))
    // every shortlist vector lives in a PROBED cell (it came through the
    // cells join), so the raw-vector fetch prunes the postings scan to
    // the same cell partitions the shortlist stage read — without this
    // the broadcast join would FILTER to queries·rerankPool rows but
    // still SCAN the whole corpus-sized postings table
    val fetchable =
      if (probedCells.length <= ServeCellFilterCap &&
          postings.columns.contains("c_id"))
        postings.filter(col("c_id").isInCollection(probedCells))
      else postings
    val queries = emb.select(col(idCol).cast(LongType).as("q_id"),
        scaled(col(vecCol)).as("qv"))
      .withColumn("qn", vnorm(col("qv")))
      .filter(col("q_id") < maxQueryId)
    val scored = fetchable.select(col("n_id"), col("nv"), col("nn"))
      .join(broadcast(shortlist), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosineFromNorms(col("qv"), col("nv"), col("qn"), col("nn")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos"))
  }

  /** Train the coarse IVF codebook: one deterministic k-means fit
    * ([[kmeansFit]], hash seeding, salt `Similarity.IvfCoarseSalt`,
    * `Similarity.IvfCoarseIters` Lloyd rounds) packed into a broadcastable
    * centroid set. Trained — not fixed-id — so inverted lists stay
    * balanced on clustered/skewed corpora (max-cell occupancy is pinned
    * by `IvfBalanceSpec`); deterministic end-to-end, so the oracle replays
    * the codebook through the same k-means CTE chain as q77. */
  def ivfCoarseCentroids(emb: DataFrame, idCol: String, vecCol: String,
                         k: Int,
                         iters: Int = Similarity.IvfCoarseIters,
                         salt: String = Similarity.IvfCoarseSalt)
      : graft.plans.IvfCentroids =
    Similarity.centroidSetFromLanes(
      ivfCoarseLanes(emb, idCol, vecCol, k, iters, salt))

  /** The coarse codebook as its LANES frame — the persistable artifact
    * behind [[ivfCoarseCentroids]] (save with [[saveIvfCodebook]]). */
  def ivfCoarseLanes(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int,
                     iters: Int = Similarity.IvfCoarseIters,
                     salt: String = Similarity.IvfCoarseSalt): DataFrame =
    kmeansFit(emb, idCol, vecCol, k, iters, salt).lanes

  /** Persist a trained coarse codebook as its integer lanes — k·dim
    * rows, one file; train once, serve every query batch from the loaded
    * artifact (the IVF face of `savePqIndex`/`Dedup.saveLshIndex` —
    * every index tier in the engine is persistable). Lossless: lanes are
    * pure int64, so the reloaded [[graft.plans.IvfCentroids]] is
    * bit-identical to the freshly trained one. */
  def saveIvfCodebook(lanes: DataFrame, path: String): Unit =
    ArtifactStore.publish(lanes.sparkSession, path) { dir =>
      lanes.select(col("cluster"), col("pos"), col("cval"), col("n"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }

  def loadIvfCodebook(spark: org.apache.spark.sql.SparkSession,
                      path: String): graft.plans.IvfCentroids =
    Similarity.centroidSetFromLanes(ArtifactStore.readSurface(spark,
      ArtifactStore.resolve(spark, path)))

  /** The FULL inverted-file index — trained coarse codebook (`lanes`)
    * PLUS the materialized inverted lists (`postings`: one row per
    * corpus vector, `(n_id, nv, nn, c_id)`). The Faiss IndexIVFFlat
    * train/add split: centroids are TRAINED once and then stay fixed;
    * vectors are ADDED by per-row kernel assignment against them.
    *
    * Persisting the postings is what makes SERVING O(probed cells)
    * instead of O(corpus): the codebook-only artifact
    * ([[saveIvfCodebook]], q111) must re-assign every corpus vector per
    * query batch — a full-corpus kernel pass that dwarfs the probe join
    * at scale — while the postings artifact is laid out partitioned BY
    * CELL (`partitionBy(c_id)`, the on-disk inverted-list layout), so a
    * query batch's nprobe cells prune the scan to the touched
    * directories (the probe join broadcasts the query batch, and
    * dynamic partition pruning restricts the postings scan to the
    * probed `c_id` partitions — asserted by ClusteringSpec's plan
    * check).
    *
    * Because assignment against fixed centroids has no cross-row state,
    * postings form a MONOID over disjoint vector sets:
    * [[updateIvfFlatIndex]] folds a delta in exactly — the updated
    * index is hash-identical to assigning the union from scratch with
    * the same codebook (q157 verifies). Centroids themselves are NOT
    * updated (a delta would move every parameter — re-run the fit when
    * the vector distribution drifts; Faiss makes the same split). */
  final case class IvfFlatIndex(lanes: DataFrame, postings: DataFrame)

  /** Train the coarse codebook on `emb` and assign it — build the full
    * [[IvfFlatIndex]]. The trained lanes are re-materialized as a
    * literal frame (they are ≤ numCentroids·dim scalar rows and were
    * collected to build the kernel's centroid set anyway), so saving
    * them never re-runs the assignment pass behind the lanes plan. */
  def buildIvfFlatIndex(emb: DataFrame, idCol: String, vecCol: String,
                        numCentroids: Int,
                        iters: Int = Similarity.IvfCoarseIters,
                        salt: String = Similarity.IvfCoarseSalt,
                        attrCols: Seq[String] = Nil)
      : IvfFlatIndex = {
    val spark = emb.sparkSession
    import spark.implicits._
    val laneRows =
      ivfCoarseLanes(emb, idCol, vecCol, numCentroids, iters, salt)
        .select(col("cluster"), col("pos"), col("cval"), col("n")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val lanes = laneRows.toDF("cluster", "pos", "cval", "n")
    IvfFlatIndex(lanes, Similarity.ivfPostingsAttrs(emb, idCol, vecCol,
      Similarity.centroidSetFromLanes(lanes), attrCols))
  }

  /** Persist: lanes funnel to one file (bounded ≤ MaxCentroids·dim
    * scalar rows); postings keep their size but are clustered into the
    * inverted-list layout — `repartition(c_id)` then `partitionBy(c_id)`
    * writes ONE file per cell directory, and the cell directories are
    * what serve-time dynamic partition pruning skips. */
  /** Postings columns beyond the core quadruple are metadata attributes
    * ([[Similarity.ivfPostingsAttrs]]) — preserved through save/load so
    * a filtered serve can push its predicate into the pruned scan. */
  private def postingsAttrCols(postings: DataFrame): Seq[String] =
    postings.columns.toSeq.filterNot(Set("n_id", "nv", "nn", "c_id"))

  def saveIvfFlatIndex(idx: IvfFlatIndex, path: String,
                       expected: ArtifactStore.Expect = None): Unit =
    ArtifactStore.publish(idx.postings.sparkSession, path, expected) { dir =>
      concurrentWrites(Seq(
        idx.lanes.select(col("cluster"), col("pos"), col("cval"), col("n")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/lanes")),
        idx.postings.select(Seq(col("n_id"), col("nv"), col("nn")) ++
          postingsAttrCols(idx.postings).map(col) :+ col("c_id"): _*) ->
          ((df: DataFrame) => df.repartition(writePar(df), col("c_id"))
            .write.mode("overwrite").partitionBy("c_id")
            .parquet(s"$dir/postings"))))
    }

  def loadIvfFlatIndex(spark: org.apache.spark.sql.SparkSession,
                       p0: String): IvfFlatIndex = {
    import org.apache.spark.sql.types.LongType
    val path = ArtifactStore.resolve(spark, p0)
    val raw = ArtifactStore.readSurface(spark, s"$path/postings")
    IvfFlatIndex(ArtifactStore.readSurface(spark, s"$path/lanes"),
      raw.select(Seq(col("n_id"), col("nv"), col("nn")) ++
        postingsAttrCols(raw).map(col) :+
        col("c_id").cast(LongType).as("c_id"): _*))
  }

  /** ADD a delta batch: kernel-assign it against the LOADED (fixed)
    * centroids and append to the postings — compute is O(delta); the
    * artifact rewrite on save goes through the staged-swap commit like
    * every index update (atomic replace, a failed update leaves the old
    * index serving). Exact: equals a fresh assignment of the union with
    * the same codebook. */
  def updateIvfFlatIndex(idx: IvfFlatIndex, delta: DataFrame,
                         idCol: String, vecCol: String): IvfFlatIndex =
    IvfFlatIndex(idx.lanes,
      idx.postings.unionByName(Similarity.ivfPostingsAttrs(delta, idCol,
        vecCol, Similarity.centroidSetFromLanes(idx.lanes),
        postingsAttrCols(idx.postings))))

  /** REMOVE a vector set from the inverted lists (right-to-be-forgotten
    * on the ANN tier): anti-join the postings on `n_id` — fitted
    * centroids stay, exactly like the add path, so the result equals a
    * fresh assignment of the remaining vectors under the same codebook.
    * `removedIds` is one `n_id` column. */
  def removeFromIvfFlatIndex(idx: IvfFlatIndex, removedIds: DataFrame)
      : IvfFlatIndex =
    idx.copy(postings = idx.postings
      .select(Seq(col("n_id"), col("nv"), col("nn")) ++
        postingsAttrCols(idx.postings).map(col) :+ col("c_id"): _*)
      .join(removedIds.select(col("n_id")).distinct(), Seq("n_id"),
        "left_anti"))

  /** The inverted MULTI-index (IMI) — the two-level coarse quantizer
    * that keeps the cell count on the √n ladder while the FIT cost
    * stops growing with it: the vector splits into two halves, each
    * half trains its own small codebook (kA, kB centroids), and a cell
    * is the PAIR of per-half assignments (`c_id = cA·kB + cB`, giving
    * kA·kB composed cells from kA+kB trained centroids). Training and
    * corpus assignment cost n·(kA+kB) kernel distances instead of
    * n·kA·kB — at the 2^16-cell ladder cap that is 512 vs 65,536 per
    * row, the named escape hatch for the fit term past the cap
    * (BASELINE.md round-15 "fit bend"). After Babenko & Lempitsky, "The
    * Inverted Multi-Index" (CVPR 2012) — the same trick FAISS ships as
    * `IndexIVFPQ` coarse `MultiIndexQuantizer`.
    *
    * Geometry: corpus rows assign PER HALF (cosine argmin within each
    * half-space — the product structure is what makes adds O(kA+kB));
    * query PROBES rank the composed centroids (concatenated halves, the
    * exact full-vector cosine via `dotA+dotB` over the composed norm)
    * and the final top-k is an EXACT cosine rerank over the probed
    * cells' raw vectors — identical serve semantics to [[IvfFlatIndex]]
    * with a composed centroid set, so recall differs from single-level
    * IVF only where a neighbor's per-half argmin pair disagrees with
    * the composed-cosine cell ranking (the documented IMI
    * approximation; measured beside ivfflat in RecallBench).
    *
    * Postings are the same `(n_id, nv, nn, c_id)` monoid as the flat
    * tier: [[updateImiIndex]] adds deltas exactly under the fixed
    * half-codebooks, [[removeFromImiIndex]] anti-joins.
    *
    * Caveat (the cosine metric's zero-vector caveat, per half-space): a
    * vector whose HALF is all-zero has no half-cosine — real embedding
    * spaces never produce one, and the property generator filters them
    * the way the engine-wide cosine paths filter zero vectors. */
  final case class ImiIndex(lanesA: DataFrame, lanesB: DataFrame,
                            postings: DataFrame, kA: Int, kB: Int,
                            dim: Int)

  private def literalLanes(lanes: DataFrame): DataFrame = {
    val spark = lanes.sparkSession
    import spark.implicits._
    lanes.select(col("cluster"), col("pos"), col("cval"), col("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq.toDF("cluster", "pos", "cval", "n")
  }

  /** One half of the corpus as `(idCol, hv)` — slice-then-scale equals
    * scale-then-slice (both elementwise), so the halves share the full
    * vector's integer lattice. */
  private def halfOf(emb: DataFrame, idCol: String, vecCol: String,
                     start: Int, half: Int): DataFrame =
    emb.select(col(idCol),
      org.apache.spark.sql.functions.slice(col(vecCol), start + 1, half)
        .as("hv"))

  def buildImiIndex(emb: DataFrame, idCol: String, vecCol: String,
                    dim: Int, kA: Int, kB: Int,
                    iters: Int = Similarity.IvfCoarseIters): ImiIndex = {
    require(dim % 2 == 0, s"IMI splits the vector in half: dim $dim is odd")
    require(kA.toLong * kB <= Similarity.MaxCentroids,
      s"composed cell count $kA*$kB exceeds ${Similarity.MaxCentroids}")
    val half = dim / 2
    // the two half-space fits are independent Lloyd chains — run their
    // driver-side barriers concurrently (the saveBm25Index / k-means
    // training-chain overlap pattern)
    val Seq(lanesA, lanesB) = concurrentFrames(Seq(emb, emb)) { (i, e) =>
      if (i == 0) literalLanes(ivfCoarseLanes(
        halfOf(e, idCol, vecCol, 0, half), idCol, "hv", kA, iters,
        "imi-a"))
      else literalLanes(ivfCoarseLanes(
        halfOf(e, idCol, vecCol, half, half), idCol, "hv", kB, iters,
        "imi-b"))
    }
    ImiIndex(lanesA, lanesB,
      imiAssign(emb, idCol, vecCol, lanesA, lanesB, kB, dim), kA, kB, dim)
  }

  /** Per-half kernel assignment composed into the postings rows — the
    * O(n·(kA+kB)) pass shared by build and add: ONE corpus scan, both
    * half argmins as inline kernel columns over the sliced+scaled
    * halves (slice-then-scale == scale-then-slice, both elementwise) —
    * zero joins, zero shuffles, fully codegen'd. */
  private def imiAssign(emb: DataFrame, idCol: String, vecCol: String,
                        lanesA: DataFrame, lanesB: DataFrame, kB: Int,
                        dim: Int): DataFrame = {
    import graft.functions.VectorFunctions.{scaled, vnorm}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val half = dim / 2
    val centsA = Similarity.centroidSetFromLanes(lanesA)
    val centsB = Similarity.centroidSetFromLanes(lanesB)
    def cellOf(cents: graft.plans.IvfCentroids, start: Int) = {
      val hv = scaled(org.apache.spark.sql.functions.slice(
        col(vecCol), start + 1, half))
      element_at(columnOf(graft.plans.NearestCentroids(
        expressionOf(hv), expressionOf(vnorm(hv)), cents, 1)), 1)
    }
    emb.select(col(idCol).cast(org.apache.spark.sql.types.LongType)
          .as("n_id"),
        scaled(col(vecCol)).as("nv"),
        cellOf(centsA, 0).as("ca"), cellOf(centsB, half).as("cb"))
      .select(col("n_id"), col("nv"), vnorm(col("nv")).as("nn"),
        (col("ca") * kB + col("cb")).as("c_id"))
  }

  /** ADD a delta under the FIXED half-codebooks (Faiss train/add): two
    * O(delta·kHalf) kernel passes + append. Per-half assignment has no
    * cross-row state, so the updated postings equal a fresh assignment
    * of the union (q167's oracle replays exactly that). */
  def updateImiIndex(idx: ImiIndex, delta: DataFrame,
                     idCol: String, vecCol: String): ImiIndex =
    idx.copy(postings = idx.postings.unionByName(
      imiAssign(delta, idCol, vecCol, idx.lanesA, idx.lanesB, idx.kB,
        idx.dim)))

  def removeFromImiIndex(idx: ImiIndex, removedIds: DataFrame): ImiIndex =
    idx.copy(postings = idx.postings
      .select(col("n_id"), col("nv"), col("nn"), col("c_id"))
      .join(removedIds.select(col("n_id")).distinct(), Seq("n_id"),
        "left_anti"))

  /** RETRAIN both half-codebooks from the index's OWN postings and
    * re-assign — the IMI drift repair: both halves freeze on add (the
    * Faiss train/add contract), so drifted ingestion concentrates in
    * few composed cells exactly like the flat tier. Postings store the
    * EXACT scaled vectors, and slice-then-scale == scale-then-slice
    * (both elementwise), so training each half from the sliced `nv`
    * through the preScaled Lloyd path is bit-identical to a fresh
    * [[buildImiIndex]] over the same vectors with the same
    * (kA, kB, iters) — rebuild == fresh build, the [[rebuildIvfFlatIndex]]
    * contract on the two-level codebook. */
  def rebuildImiIndex(idx: ImiIndex, kA: Int, kB: Int,
                      iters: Int = Similarity.IvfCoarseIters): ImiIndex = {
    import graft.functions.VectorFunctions.vnorm
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    require(idx.dim % 2 == 0, s"IMI dim must be even: ${idx.dim}")
    require(kA.toLong * kB <= Similarity.MaxCentroids,
      s"composed cell count $kA*$kB exceeds ${Similarity.MaxCentroids}")
    val half = idx.dim / 2
    val vs = OperatorCaches.register(idx.postings
      .select(col("n_id"), col("nv"), col("nn")).persist())
    // the two half retrains are independent Lloyd chains — overlap their
    // driver barriers, each over its own lambda-isolated plan copy
    val Seq(lanesA, lanesB) = concurrentFrames(Seq(vs, vs)) { (i, v) =>
      val (start, k, salt) = if (i == 0) (0, kA, "imi-a") else (half, kB, "imi-b")
      literalLanes(kmeansFit(
        v.select(col("n_id"),
          org.apache.spark.sql.functions.slice(col("nv"), start + 1, half)
            .as("hv")),
        "n_id", "hv", k, iters, salt, preScaled = true).lanes)
    }
    val centsA = Similarity.centroidSetFromLanes(lanesA)
    val centsB = Similarity.centroidSetFromLanes(lanesB)
    def cellOf(cents: graft.plans.IvfCentroids, start: Int) = {
      val hv = org.apache.spark.sql.functions.slice(col("nv"), start + 1, half)
      element_at(columnOf(graft.plans.NearestCentroids(
        expressionOf(hv), expressionOf(vnorm(hv)), cents, 1)), 1)
    }
    ImiIndex(lanesA, lanesB,
      vs.select(col("n_id"), col("nv"), col("nn"),
        (cellOf(centsA, 0) * kB + cellOf(centsB, half)).as("c_id")),
      kA, kB, idx.dim)
  }

  /** The composed centroid set: every (cA, cB) pair present in the two
    * trained half-codebooks, concatenated into one full-dim centroid
    * with the exact composed norm √(|cA|² + |cB|²) — the probe-side
    * geometry ([[serveImi]] ranks these by full-vector cosine through
    * the same kernel the flat tier uses). Both lane tables are bounded
    * (kA·half + kB·half scalar rows), so the composition is a
    * driver-side collect by design. */
  def imiComposedCentroids(idx: ImiIndex): graft.plans.IvfCentroids = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def laneMap(lanes: DataFrame): Seq[(Long, Array[Long])] =
      lanes.select(col("cluster").cast(LongType),
          col("pos").cast(IntegerType), col("cval").cast(LongType))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (c, rows) =>
          (c, rows.sortBy(_._2).map(_._3)) }
    val half = idx.dim / 2
    val la = laneMap(idx.lanesA)
    val lb = laneMap(idx.lanesB)
    require(la.forall(_._2.length == half) && lb.forall(_._2.length == half),
      s"half-codebook lane width != dim/2 ($half)")
    val n = la.length * lb.length
    require(n <= Similarity.MaxCentroids,
      s"composed cell count $n exceeds ${Similarity.MaxCentroids}")
    val ids = new Array[Long](n)
    val flat = new Array[Long](n * idx.dim)
    val norms = new Array[Double](n)
    var i = 0
    la.foreach { case (ca, va) =>
      val na2 = va.map(x => x * x).sum
      lb.foreach { case (cb, vb) =>
        ids(i) = ca * idx.kB + cb
        System.arraycopy(va, 0, flat, i * idx.dim, half)
        System.arraycopy(vb, 0, flat, i * idx.dim + half, half)
        norms(i) = math.sqrt((na2 + vb.map(x => x * x).sum).toDouble)
        i += 1
      }
    }
    graft.plans.IvfCentroids(ids, flat, norms, idx.dim)
  }

  /** Serve a query batch from the loaded multi-index: probes rank the
    * composed centroids (exact full-vector cosine), the postings scan
    * prunes to the probed composed cells, the rerank is exact — the
    * [[serveIvfFlat]] economics with a two-level codebook. */
  def serveImi(idx: ImiIndex, emb: DataFrame, idCol: String,
               vecCol: String, maxQueryId: Long, nprobe: Int,
               k: Int): DataFrame = {
    val queries = Similarity.ivfProbeQueries(emb, idCol, vecCol,
      imiComposedCentroids(idx), maxQueryId, nprobe)
    val cells = collectProbedCells(queries)
    val postings =
      if (cells.length <= ServeCellFilterCap)
        idx.postings.filter(col("c_id").isInCollection(cells))
      else idx.postings
    Similarity.ivfRerank(postings, queries, k)
  }

  /** Persist: both half-codebooks and the 1-row meta funnel to one file
    * (bounded); postings get the inverted-list directory layout. */
  def saveImiIndex(idx: ImiIndex, path: String,
                   expected: ArtifactStore.Expect = None): Unit = {
    val spark = idx.lanesA.sparkSession
    import spark.implicits._
    ArtifactStore.publish(spark, path, expected) { dir =>
      concurrentWrites(Seq(
        idx.lanesA.select(col("cluster"), col("pos"), col("cval"), col("n")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/lanes_a")),
        idx.lanesB.select(col("cluster"), col("pos"), col("cval"), col("n")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/lanes_b")),
        Seq((idx.kA, idx.kB, idx.dim)).toDF("ka", "kb", "dim") ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/meta")),
        idx.postings.select(col("n_id"), col("nv"), col("nn"), col("c_id")) ->
          ((df: DataFrame) => df.repartition(writePar(df), col("c_id"))
            .write.mode("overwrite").partitionBy("c_id")
            .parquet(s"$dir/postings"))))
    }
  }

  def loadImiIndex(spark: org.apache.spark.sql.SparkSession,
                   p0: String): ImiIndex = {
    import org.apache.spark.sql.types.LongType
    val path = ArtifactStore.resolve(spark, p0)
    val meta = ArtifactStore.readSurface(spark, s"$path/meta").head()
    ImiIndex(ArtifactStore.readSurface(spark, s"$path/lanes_a"),
      ArtifactStore.readSurface(spark, s"$path/lanes_b"),
      ArtifactStore.readSurface(spark, s"$path/postings")
        .select(col("n_id"), col("nv"), col("nn"),
          col("c_id").cast(LongType).as("c_id")),
      meta.getAs[Int]("ka"), meta.getAs[Int]("kb"), meta.getAs[Int]("dim"))
  }

  /** Serve a query batch from the loaded inverted lists: probes come
    * from the query rows alone (one kernel call each against the loaded
    * codebook); the corpus side is the persisted postings with a STATIC
    * partition filter on the probed cells — the query batch is
    * broadcast-small by contract, so its distinct probe cells (≤
    * batch·nprobe ids, [[ServeCellFilterCap]]) collect driver-side and
    * push into the scan as `c_id IN (...)`: partition pruning that
    * fires at planning time, on every run, with no reliance on the
    * optimizer's dynamic-pruning heuristics (which skip in-memory query
    * frames). Serve I/O is O(probed cells), never O(corpus). */
  def serveIvfFlat(idx: IvfFlatIndex, emb: DataFrame,
                   idCol: String, vecCol: String, maxQueryId: Long,
                   nprobe: Int, k: Int): DataFrame = {
    val queries = Similarity.ivfProbeQueries(emb, idCol, vecCol,
      Similarity.centroidSetFromLanes(idx.lanes), maxQueryId, nprobe)
    val cells = collectProbedCells(queries)
    val postings =
      if (cells.length <= ServeCellFilterCap)
        idx.postings.filter(col("c_id").isInCollection(cells))
      else idx.postings // degenerate huge batch: join filters anyway
    Similarity.ivfRerank(postings, queries, k)
  }

  /** Max distinct probed cells pushed as a static partition filter by
    * [[serveIvfFlat]]/[[serveIvfPq]] — past this the literal stops being
    * worth it (and the probe join filters regardless; only scan pruning
    * is lost). */
  val ServeCellFilterCap = 4096

  /** FILTERED ANN search — the production predicate+vector query
    * (`lang = 'en' AND knn(...)`): `pred` is a metadata predicate over
    * attribute columns materialized in the postings
    * ([[Similarity.ivfPostingsAttrs]] / `buildIvfFlatIndex(attrCols)`).
    * The predicate composes INSIDE the probed-cell scan — both the
    * `c_id IN (...)` partition filter and the attribute filter reach
    * the parquet reader (PushedFilters; plan-asserted in
    * ClusteringSpec), so a selective filter shrinks I/O instead of
    * post-filtering reranked rows. PRE-filtering the candidate pool
    * also protects recall: filter-then-rank returns k matching rows,
    * while rank-then-filter (the naive compose) silently returns fewer
    * than k whenever non-matching neighbors crowd the top-k — on the
    * matching subset, filtered recall ≥ unfiltered by construction. */
  def serveIvfFlatFiltered(idx: IvfFlatIndex, emb: DataFrame,
                           idCol: String, vecCol: String, maxQueryId: Long,
                           nprobe: Int, k: Int,
                           pred: org.apache.spark.sql.Column): DataFrame = {
    val queries = Similarity.ivfProbeQueries(emb, idCol, vecCol,
      Similarity.centroidSetFromLanes(idx.lanes), maxQueryId, nprobe)
    val cells = collectProbedCells(queries)
    val pruned =
      if (cells.length <= ServeCellFilterCap)
        idx.postings.filter(col("c_id").isInCollection(cells))
      else idx.postings
    Similarity.ivfRerank(pruned.filter(pred), queries, k)
  }

  // ───────────────────── sharded vector artifacts ─────────────────────

  /** The sharded vector tiers ([[graft.sinks.SegmentedIndex]]): the
    * corpus-sized surfaces shard by `n_id mod S` so the REWRITE UNIT is
    * a shard's segment, never the whole artifact — at 100 TB one
    * postings surface cannot be rewritten per delta. The frozen
    * codebooks are build-time roots no add or remove moves (the Faiss
    * train/add split made physical). Every surface keeps the
    * inverted-list `c_id=` layout where the flat tier has it, so serves
    * prune to the probed cells per segment, and the loaded artifact IS
    * the flat tier's: serves reproduce the single-artifact serve
    * bit-for-bit (equal surface sets, deterministic rank). Rows are
    * per-vector with no rollup, so the `live` view is the union of the
    * segments. An add rewrites each touched shard whole by default
    * (`--mode=merge`): with `--mode=append` it lands the delta's rows as
    * one O(delta) segment per touched shard instead, but every serve
    * then plans one scan branch per segment of the partitioned surface
    * until `index-compact`, a read cost no workload measures yet. A
    * removal rewrites the touched shards with the anti-joined live rows.
    * `--attr-cols` attributes ride the first surface (postings or cells,
    * the partitioned one). */
  sealed abstract class VectorSharded[A](surfaces: Seq[SegmentedIndex.Surface])
      extends SegmentedIndex.Tier[A] {
    import SegmentedIndex.{Family, Write}

    val families: Seq[Family] = Seq(Family("shards",
      n => pmod(col("n_id"), lit(n.toLong)).cast("int"), surfaces))
    val ids: (String, String) = (surfaces.head.name, "n_id")
    override val appends: Boolean = false

    /** The frozen codebooks of `a`, by root surface name. */
    protected def codebooks(a: A): Seq[(String, DataFrame)]

    override def writeRoots(dir: String, a: A)
        : Seq[(DataFrame, DataFrame => Unit)] =
      codebooks(a).map { case (name, df) => df -> ((d: DataFrame) =>
        d.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")) }

    /** ADD a delta: `rows` encodes it against the pinned artifact's
      * frozen codebooks (read by name), given the attribute columns the
      * artifact stores (the delta must carry them — a loud select error
      * otherwise); the first surface's rows route the touched shards. */
    protected def add(
        rows: (String => DataFrame, Seq[String]) => Map[String, DataFrame])
        : SegmentedIndex.Fold = fold { all =>
      val first = surfaces.head.name
      val encoded = rows(name => ArtifactStore.readSurface(all.opened.spark,
        s"${all.opened.dir}/$name"), all.attrs(first))
      Write(Map("shards" -> encoded(first)), _ => encoded)
    }

    /** REMOVE a vector set `(n_id)`: every surface of the ids' shards
      * keeps its live rows but theirs; the codebooks stay, so the result
      * equals a fresh assignment of the remaining vectors. */
    def removal(removedIds: DataFrame): SegmentedIndex.Fold = fold { _ =>
      val ids = OperatorCaches.register(removedIds
        .select(col("n_id").cast(LongType).as("n_id")).distinct().persist())
      Write(Map("shards" -> ids), s => surfaces.map(sp => sp.name ->
        s.live(sp.name).join(ids, Seq("n_id"), "left_anti")).toMap)
    }
  }

  /** Sharded [[IvfFlatIndex]]: `postings` per shard under the shared
    * `lanes`. */
  object IvfFlatSharded extends VectorSharded[IvfFlatIndex](Seq(
      SegmentedIndex.Surface("postings", Seq("n_id", "nv", "nn"),
        partition = Some("c_id")))) {

    def surfacesOf(idx: IvfFlatIndex): Map[String, DataFrame] =
      Map("postings" -> idx.postings)

    protected def codebooks(idx: IvfFlatIndex): Seq[(String, DataFrame)] =
      Seq("lanes" -> idx.lanes.select(col("cluster"), col("pos"),
        col("cval"), col("n")))

    def artifact(spark: org.apache.spark.sql.SparkSession, dir: String,
                 view: String => DataFrame): IvfFlatIndex =
      IvfFlatIndex(ArtifactStore.readSurface(spark, s"$dir/lanes"),
        view("postings"))

    /** ADD a delta batch: the [[updateIvfFlatIndex]] kernel assignment
      * against the frozen lanes. */
    def delta(delta: DataFrame, idCol: String, vecCol: String)
        : SegmentedIndex.Fold = add { (codebook, attrs) =>
      Map("postings" -> Similarity.ivfPostingsAttrs(delta, idCol, vecCol,
        Similarity.centroidSetFromLanes(codebook("lanes")), attrs))
    }
  }

  /** The sharded compressed tiers: `cells` and `codes` per shard, under
    * the shared `coarse` and `pqlanes` codebooks. The two surfaces swap
    * together inside each segment — a cells row without its m code rows
    * silently drops that candidate from every ADC serve. ivfpq- and
    * ivfpqr-sharded differ only in the delta's `encode` under the
    * frozen codebooks ([[pqDelta]] or [[pqrDelta]]). */
  sealed abstract class PqSharded[A](
      encode: (DataFrame, String, String, DataFrame, DataFrame, Int, Int,
        Seq[String]) => (DataFrame, DataFrame))
      extends VectorSharded[A](Seq(
        SegmentedIndex.Surface("cells", Seq("n_id"), partition = Some("c_id")),
        SegmentedIndex.Surface("codes", Seq("n_id", "s", "code")))) {

    protected def of(idx: IvfPqIndex): A
    protected def pq(a: A): IvfPqIndex

    def surfacesOf(a: A): Map[String, DataFrame] =
      Map("cells" -> pq(a).cells, "codes" -> pq(a).codes)

    protected def codebooks(a: A): Seq[(String, DataFrame)] = Seq(
      "coarse" -> pq(a).coarseLanes.select(col("cluster"), col("pos"),
        col("cval"), col("n")),
      "pqlanes" -> pq(a).pqLanes.select(col("s"), col("code"), col("pos"),
        col("cval")))

    def artifact(spark: org.apache.spark.sql.SparkSession, dir: String,
                 view: String => DataFrame): A =
      of(IvfPqIndex(ArtifactStore.readSurface(spark, s"$dir/coarse"),
        view("cells"), view("codes"),
        ArtifactStore.readSurface(spark, s"$dir/pqlanes")))

    /** ADD a delta batch: cell assignment and per-subspace encode against
      * the frozen codebooks — the [[updateIvfPqIndex]] /
      * [[updateIvfPqrIndex]] add. */
    def delta(delta: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int): SegmentedIndex.Fold = add { (codebook, attrs) =>
      val (cells, codes) = encode(delta, idCol, vecCol,
        codebook("coarse"), codebook("pqlanes"), dim, m, attrs)
      Map("cells" -> cells, "codes" -> codes)
    }
  }

  object IvfPqSharded extends PqSharded[IvfPqIndex](pqDelta) {
    protected def of(idx: IvfPqIndex): IvfPqIndex = idx
    protected def pq(idx: IvfPqIndex): IvfPqIndex = idx
  }

  object IvfPqrSharded extends PqSharded[IvfPqrIndex](pqrDelta) {
    protected def of(idx: IvfPqIndex): IvfPqrIndex =
      IvfPqrIndex(idx.coarseLanes, idx.cells, idx.codes, idx.pqLanes)
    protected def pq(idx: IvfPqrIndex): IvfPqIndex =
      IvfPqIndex(idx.coarseLanes, idx.cells, idx.codes, idx.pqLanes)
  }

  /** A sharded ivfflat save followed by a serve FROM THE SAVED ARTIFACT,
    * with the serve's probe stage overlapped with the save (guide §2.6 —
    * VERDICT r18 #3): the probe queries and their distinct-cells collect
    * depend only on the CODEBOOK, which is identical in memory and on
    * disk (integer lanes roundtrip bit-exactly — pinned by q175/q111),
    * while the rerank reads the LOADED per-shard postings. The served
    * frame is therefore bit-identical to `serveIvfFlat(load(path), …)`,
    * but the probe-cells job's latency hides inside the save's staging
    * barrier instead of serializing after the commit. */
  def saveIvfFlatShardedAndServe(idx: IvfFlatIndex, path: String,
                                 numShards: Int, emb: DataFrame,
                                 idCol: String, vecCol: String,
                                 maxQueryId: Long, nprobe: Int,
                                 k: Int): DataFrame = {
    val spark = idx.lanes.sparkSession
    val queries = org.apache.spark.sql.graftbridge.PlanBridge.isolateLambdas(
      Similarity.ivfProbeQueries(emb, idCol, vecCol,
        Similarity.centroidSetFromLanes(idx.lanes), maxQueryId, nprobe))
    @volatile var cells: Array[Long] = null
    // isolateLambdas above + the save's own staging isolation keep the
    // two chains' higher-order expressions disjoint
    concurrentlyUnchecked(Seq(
      () => SegmentedIndex.save(spark, IvfFlatSharded, idx, path, numShards),
      () => { cells = collectProbedCells(queries) }))
    val loaded = SegmentedIndex.load(spark, IvfFlatSharded, path)
    val postings =
      if (cells.length <= ServeCellFilterCap)
        loaded.postings.filter(col("c_id").isInCollection(cells))
      else loaded.postings
    Similarity.ivfRerank(postings, queries, k)
  }

  // ───────────────────────── ivfflat rebuild ─────────────────────────

  /** Per-cell occupancy skew of an inverted-list surface:
    * max(cell size) / mean(cell size) over non-empty cells. Codebooks
    * are frozen on add forever (the Faiss train/add contract), so
    * drifted ingestion concentrates new vectors in few cells — serve
    * cost grows toward O(corpus/probed-skewed-cell) and recall decays.
    * `index-describe` reports this; [[rebuildIvfFlatIndex]] repairs it. */
  def postingsOccupancySkew(postings: DataFrame): Double =
    decodeOccupancySkew(occupancySkewAgg(postings).head())

  /** The skew computation split into its 2-row agg frame + row decoder,
    * so callers with OTHER independent pre-build jobs (IndexTool.rebuild:
    * corpus-id check, centroid-count default) can overlap the three
    * collects instead of serializing them (guide §2.6). */
  private[graft] def occupancySkewAgg(postings: DataFrame): DataFrame =
    postings.groupBy(col("c_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).cast("double").as("mx"),
        avg(col("n")).as("mean"))

  private[graft] def decodeOccupancySkew(
      r: org.apache.spark.sql.Row): Double =
    if (r.isNullAt(0) || r.getDouble(1) == 0.0) 0.0
    else r.getDouble(0) / r.getDouble(1)

  /** RETRAIN the coarse codebook from the index's own postings and
    * re-assign them — the drift repair for a frozen-codebook index.
    * Postings store the EXACT scaled-int vectors (`nv` =
    * `scaled(embedding)`), so training from them through the
    * `preScaled` Lloyd path is bit-identical to a fresh
    * [[buildIvfFlatIndex]] over the union corpus with the same
    * (k, iters, salt): rebuild == fresh build, which is exactly what a
    * drifted index has diverged from. Commit via the artifact root's
    * pointer CAS (the CLI `index-rebuild` verb). */
  def rebuildIvfFlatIndex(idx: IvfFlatIndex, numCentroids: Int,
                          iters: Int = Similarity.IvfCoarseIters,
                          salt: String = Similarity.IvfCoarseSalt)
      : IvfFlatIndex = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val vs = OperatorCaches.register(idx.postings
      .select(Seq(col("n_id"), col("nv"), col("nn")) ++
        postingsAttrCols(idx.postings).map(col): _*).persist())
    val laneRows = kmeansFit(vs, "n_id", "nv", numCentroids, iters, salt,
        preScaled = true).lanes
      .select(col("cluster"), col("pos"), col("cval"), col("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val lanes = laneRows.toDF("cluster", "pos", "cval", "n")
    val cents = Similarity.centroidSetFromLanes(lanes)
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    // re-assign from the already-scaled vectors (nn is exact and rides
    // along) — one kernel pass, no join
    val postings = vs.withColumn("c_id",
      element_at(columnOf(graft.plans.NearestCentroids(
        expressionOf(col("nv")), expressionOf(col("nn")), cents, 1)), 1))
    IvfFlatIndex(lanes, postings)
  }

  /** The composed Faiss-IVFPQ artifact — the production 100 TB ANN
    * shape: coarse codebook (`coarseLanes`) + cell-partitioned inverted
    * lists (`cells`: `(n_id, c_id)` only) + the PQ-compressed corpus
    * (`codes`: m small ints per vector) + the PQ codebooks (`pqLanes`).
    * NO raw vectors anywhere: serving reads the probed cell partitions
    * (the [[IvfFlatIndex]] pruning) and ranks by ADC lookup against the
    * per-query distance tables (the [[PqIndex]] economics) — at 100 TB
    * the raw-float corpus never leaves cold storage. Both corpus-sized
    * surfaces (cells, codes) are monoids under the FIXED fitted
    * parameters, so [[updateIvfPqIndex]] composes the ivfflat add
    * (kernel cell assignment) with the pq add (per-subspace encode) —
    * one delta pass, exact. */
  final case class IvfPqIndex(coarseLanes: DataFrame, cells: DataFrame,
                              codes: DataFrame, pqLanes: DataFrame)

  def buildIvfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                      dim: Int, m: Int, k: Int, iters: Int,
                      numCentroids: Int, salt: String = "pq",
                      attrCols: Seq[String] = Nil)
      : IvfPqIndex = {
    val spark = emb.sparkSession
    import spark.implicits._
    // the PQ subspace fits and the coarse fit are independent training
    // chains — overlap their driver barriers (ivfPqSearch's shape)
    val trained = concurrentFrames(Seq(emb, emb)) { (i, e) =>
      if (i == 0) pqModels(e, idCol, vecCol, dim, m, k, iters, salt): AnyRef
      else ivfCoarseLanes(e, idCol, vecCol, numCentroids)
        .select(col("cluster"), col("pos"), col("cval"), col("n")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq: AnyRef
    }
    val models = trained(0).asInstanceOf[Seq[(Int, KmeansModel)]]
    val coarseLanes = trained(1).asInstanceOf[Seq[(Int, Int, Long, Long)]]
      .toDF("cluster", "pos", "cval", "n")
    buildIvfPqIndexWith(emb, idCol, vecCol, dim, m, k, iters, coarseLanes,
      salt, models, attrCols)
  }

  /** Build the compressed index REUSING an already-trained coarse
    * codebook — e.g. the colocated [[IvfFlatIndex]]'s lanes: the
    * production shape trains ONE quantizer and shares it between the
    * raw-vector tier (rerank source) and the compressed tier (ADC
    * shortlist source), halving the n·k fit cost and guaranteeing the
    * two artifacts agree on every cell boundary. */
  def buildIvfPqIndexWith(emb: DataFrame, idCol: String, vecCol: String,
                          dim: Int, m: Int, k: Int, iters: Int,
                          coarseLanes: DataFrame, salt: String = "pq",
                          preTrained: Seq[(Int, KmeansModel)] = Seq.empty,
                          attrCols: Seq[String] = Nil)
      : IvfPqIndex = {
    val models =
      if (preTrained.nonEmpty) preTrained
      else pqModels(emb, idCol, vecCol, dim, m, k, iters, salt)
    // metadata attributes ride the CELLS surface (the candidate-list
    // side every probed serve scans) so a filtered ADC serve pre-filters
    // candidates inside the pruned scan — [[serveIvfPqFiltered]]
    val cells = Similarity.ivfPostingsAttrs(emb, idCol, vecCol,
        Similarity.centroidSetFromLanes(coarseLanes), attrCols)
      .select(col("n_id") +: attrCols.map(col) :+ col("c_id"): _*)
    IvfPqIndex(coarseLanes, cells, pqCodesLong(models), pqLanesLong(models))
  }

  /** Persist: both codebooks funnel to one file (bounded); `cells` gets
    * the inverted-list directory layout (`partitionBy(c_id)`); `codes`
    * keeps its partitioning (corpus-sized, joined on n_id at serve). */
  /** Cells columns beyond (n_id, c_id) are metadata attributes for the
    * filtered ADC serve — preserved through save/load/update. */
  private def cellsAttrCols(cells: DataFrame): Seq[String] =
    cells.columns.toSeq.filterNot(Set("n_id", "c_id"))

  def saveIvfPqIndex(idx: IvfPqIndex, path: String,
                     expected: ArtifactStore.Expect = None): Unit =
    ArtifactStore.publish(idx.cells.sparkSession, path, expected) { dir =>
      concurrentWrites(Seq(
        idx.coarseLanes.select(col("cluster"), col("pos"), col("cval"),
          col("n")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/coarse")),
        idx.pqLanes.select(col("s"), col("code"), col("pos"), col("cval")) ->
          ((df: DataFrame) => df.coalesce(1).write.mode("overwrite")
            .parquet(s"$dir/pqlanes")),
        idx.cells.select(col("n_id") +: cellsAttrCols(idx.cells).map(col) :+
          col("c_id"): _*) ->
          ((df: DataFrame) => df.repartition(writePar(df), col("c_id"))
            .write.mode("overwrite").partitionBy("c_id")
            .parquet(s"$dir/cells")),
        idx.codes.select(col("n_id"), col("s"), col("code")) ->
          ((df: DataFrame) => df.write.mode("overwrite")
            .parquet(s"$dir/codes"))))
    }

  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     p0: String): IvfPqIndex = {
    import org.apache.spark.sql.types.LongType
    val path = ArtifactStore.resolve(spark, p0)
    val rawCells = ArtifactStore.readSurface(spark, s"$path/cells")
    IvfPqIndex(ArtifactStore.readSurface(spark, s"$path/coarse"),
      rawCells.select(col("n_id") +: cellsAttrCols(rawCells).map(col) :+
        col("c_id").cast(LongType).as("c_id"): _*),
      ArtifactStore.readSurface(spark, s"$path/codes"),
      ArtifactStore.readSurface(spark, s"$path/pqlanes"))
  }

  /** ADD a delta: one kernel cell-assignment against the fixed coarse
    * codebook + one per-subspace encode against the fixed PQ codebooks
    * — the [[updateIvfFlatIndex]] and [[updatePqIndex]] adds composed
    * over the shared delta pass. Exact under fixed fitted parameters
    * (q161's oracle trains on the pre-update slice and assigns/encodes
    * the union). */
  def updateIvfPqIndex(idx: IvfPqIndex, delta: DataFrame,
                       idCol: String, vecCol: String,
                       dim: Int, m: Int): IvfPqIndex = {
    val attrs = cellsAttrCols(idx.cells)
    val (cells, codes) = pqDelta(delta, idCol, vecCol, idx.coarseLanes,
      idx.pqLanes, dim, m, attrs)
    IvfPqIndex(idx.coarseLanes,
      idx.cells.select(col("n_id") +: attrs.map(col) :+ col("c_id"): _*)
        .unionByName(cells),
      idx.codes.select(col("n_id"), col("s"), col("code")).unionByName(codes),
      idx.pqLanes)
  }

  /** A delta's `cells` and `codes` rows under the FIXED codebooks — the
    * add half of [[updateIvfPqIndex]]. `attrs` ride the cells rows. */
  private def pqDelta(delta: DataFrame, idCol: String, vecCol: String,
                      coarseLanes: DataFrame, pqLanes: DataFrame,
                      dim: Int, m: Int, attrs: Seq[String])
      : (DataFrame, DataFrame) =
    (Similarity.ivfPostingsAttrs(delta, idCol, vecCol,
        Similarity.centroidSetFromLanes(coarseLanes), attrs)
      .select(col("n_id") +: attrs.map(col) :+ col("c_id"): _*),
      pqEncode(delta, pqLanes, idCol, vecCol, dim, m))

  /** A delta's `cells` and residual `codes` rows (v − centroid(cell))
    * under the FIXED codebooks — the add half of [[updateIvfPqrIndex]].
    * `attrs` ride the cells rows. */
  private def pqrDelta(delta: DataFrame, idCol: String, vecCol: String,
                       coarseLanes: DataFrame, pqLanes: DataFrame,
                       dim: Int, m: Int, attrs: Seq[String])
      : (DataFrame, DataFrame) = {
    val cellCols = col("n_id") +: attrs.map(col) :+ col("c_id")
    // persisted for the same reason as the build path: the cells rows
    // read it once and pqEncode's m subspace branches each read it
    // again — unpersisted, the delta kernel assignment would run m+1
    // times per add
    val resid = OperatorCaches.register(Similarity.ivfPostingsAttrs(delta,
        idCol, vecCol, Similarity.centroidSetFromLanes(coarseLanes), attrs)
      .join(broadcast(centroidVecFrame(coarseLanes)), Seq("c_id"))
      .select(cellCols :+
        zip_with(col("nv"), col("cv"), (a, b) => a - b).as("rv"): _*)
      .persist())
    (resid.select(cellCols: _*),
      pqEncode(resid, pqLanes, "n_id", "rv", dim, m, preScaled = true))
  }

  /** Serve a query batch from the loaded compressed index: probes
    * kernel-rank against the coarse codebook, the cells scan prunes to
    * the probed partitions (static `c_id IN (...)`, as [[serveIvfFlat]]),
    * candidates fetch their m codes (co-partitioned n_id join), and the
    * broadcast per-query ADC tables fold to one integer distance per
    * pair — raw vectors are never read. Reproduces `ivfPqSearch`
    * bit-for-bit under the same parameters (q160). */
  def serveIvfPq(idx: IvfPqIndex, emb: DataFrame, idCol: String,
                 vecCol: String, dim: Int, m: Int, maxQueryId: Long,
                 nprobe: Int, topK: Int): DataFrame = {
    val cents = Similarity.centroidSetFromLanes(idx.coarseLanes)
    val probes = Similarity.ivfProbeQueries(emb, idCol, vecCol, cents,
        maxQueryId, nprobe)
      .select(col("q_id"), col("c_id"))
    serveIvfPqWithProbes(idx, emb, idCol, vecCol, dim, m, maxQueryId,
      probes, collectProbedCells(probes), topK)
  }

  /** One driver-side collect of the probe batch's distinct cells — the
    * static-prune literal shared by the shortlist and rerank stages
    * (capped by [[ServeCellFilterCap]]; past the cap the caller falls
    * back to the unpruned scan). */
  private def collectProbedCells(probes: DataFrame): Array[Long] =
    probes.select(col("c_id")).distinct()
      .limit(ServeCellFilterCap + 1).collect().map(_.getLong(0))

  private def serveIvfPqWithProbes(idx: IvfPqIndex, emb: DataFrame,
                                   idCol: String, vecCol: String,
                                   dim: Int, m: Int, maxQueryId: Long,
                                   probes: DataFrame,
                                   probedCells: Array[Long],
                                   topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, s"topK must be positive: $topK")
    val cells =
      if (probedCells.length <= ServeCellFilterCap)
        idx.cells.filter(col("c_id").isInCollection(probedCells))
      else idx.cells
    val cand = cells.join(broadcast(probes), Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"))
    val dtab = pqDistTables(emb, idCol, vecCol, dim / m, idx.pqLanes,
      maxQueryId)
    val scored = cand.join(idx.codes, Seq("n_id"))
      .join(broadcast(dtab), Seq("q_id", "s", "code"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("dval")).as("adist"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("rank"), col("n_id"), col("adist"))
  }

  /** FILTERED ADC serve — the compressed tier's predicate+vector query:
    * `pred` is a metadata predicate over attribute columns materialized
    * in the CELLS surface (`buildIvfPqIndex(attrCols)`), composed into
    * the probed-cell scan BEFORE the candidate join, so every query's
    * topK are MATCHING codes (rank-then-filter would silently
    * under-fill — the same contract as [[serveIvfFlatFiltered]], at
    * m bytes/vector instead of raw vectors). */
  def serveIvfPqFiltered(idx: IvfPqIndex, emb: DataFrame, idCol: String,
                         vecCol: String, dim: Int, m: Int,
                         maxQueryId: Long, nprobe: Int, topK: Int,
                         pred: org.apache.spark.sql.Column): DataFrame =
    serveIvfPq(idx.copy(cells = idx.cells.filter(pred)), emb, idCol,
      vecCol, dim, m, maxQueryId, nprobe, topK)

  /** The IVF candidate set behind [[ivfPqSearch]]: `(q_id, n_id, c_id)` —
    * each query paired with exactly the corpus vectors in its nprobe
    * probed cells (self excluded; each pair appears once because a vector
    * lives in one cell and a query's probe list is distinct). Public so
    * tests can assert the sublinearity contract: |candidates| ≪
    * |corpus| × |queries| whenever nprobe ≪ numCentroids. */
  def ivfPqCandidates(emb: DataFrame, idCol: String, vecCol: String,
                      numCentroids: Int, nprobe: Int,
                      maxQueryId: Long): DataFrame =
    ivfPqCandidatesWith(emb, idCol, vecCol,
      ivfCoarseCentroids(emb, idCol, vecCol, numCentroids), nprobe,
      maxQueryId)

  /** [[ivfPqCandidates]] against an already-trained codebook (callers
    * that overlap the coarse fit with other training — ivfPqSearch —
    * hand it in). */
  def ivfPqCandidatesWith(emb: DataFrame, idCol: String, vecCol: String,
                          cents: graft.plans.IvfCentroids, nprobe: Int,
                          maxQueryId: Long): DataFrame = {
    // Cell assignment and probing are Similarity.ivfAssignProbes against
    // the SAME trained codebook knnIvf queries (q45) derive, so the two
    // ANN paths can never drift in tie-breaks or norms; only the rerank
    // differs (exact cosine there, ADC over PQ codes here).
    val (assigned, probes) = Similarity.ivfAssignProbes(
      emb.select(col(idCol).cast(LongType).as("__vid"), col(vecCol)),
      "__vid", vecCol, cents, maxQueryId, nprobe)
    assigned.select(col("n_id"), col("c_id"))
      .join(broadcast(probes.select(col("q_id"), col("c_id"))), Seq("c_id"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), col("c_id"))
  }

  /** Nearest centroid per row: one codegen'd NearestL2Centroid kernel
    * call against the driver-built centroid set; strict-< scan keeps the
    * SMALLEST index on distance ties. Emits `cluster` and the winning
    * exact squared distance `dist`. */
  private def assignClusters(sv: DataFrame,
                             centroids: Seq[(Int, Seq[Long])]): DataFrame = {
    require(centroids.nonEmpty, "all clusters became empty")
    val dim = centroids.head._2.length
    // A ragged CORPUS can surface here first: seed vectors of unequal
    // length produce centroids of unequal length before any row-level
    // check runs. Same failure class as the per-row guard below.
    require(centroids.forall(_._2.length == dim),
      s"ragged embedding: seed centroid lane counts differ " +
        s"(${centroids.map(_._2.length).distinct.sorted.mkString(", ")})")
    // Ragged-input guard: zip_with against a shorter/longer vector yields
    // null lanes, which would silently park the row in cluster 0 instead
    // of failing. assert_true returns NULL on pass (isNull keeps the
    // check in the plan as a filter Catalyst cannot prune).
    val checked = sv.filter(assert_true(size(col("v")) === lit(dim),
      concat(lit(s"ragged embedding: expected $dim lanes, got "),
        size(col("v")).cast("string"))).isNull)
    // argmin via the codegen'd NearestL2Centroid kernel: one fused
    // k·dim-primitive-op loop per row against a driver-built flat centroid
    // array, ties to the smallest cluster id — the same winner as the
    // oracle's row_number OVER (ORDER BY dist, cluster). The naive
    // alternatives both fail at corpus-scaled k: a when/otherwise foldLeft
    // duplicates the accumulator per branch (O(2^k) expression nodes —
    // analysis alone stalled for minutes at k=16), and least() over k
    // zip_with/aggregate structs stays linear but interpreted (closure
    // overhead per lane per centroid dominated the sf0.1 bench at k=256).
    val sorted = centroids.sortBy(_._1)
    val cents = graft.plans.L2Centroids(sorted.map(_._1).toArray,
      sorted.flatMap(_._2).toArray, dim)
    val best = org.apache.spark.sql.graftbridge.ColumnBridge.columnOf(
      graft.plans.NearestL2Centroid(
        org.apache.spark.sql.graftbridge.ColumnBridge.expressionOf(col("v")),
        cents))
    checked.withColumn("__best", best)
      .withColumn("cluster", col("__best.c"))
      .withColumn("dist", col("__best.d"))
      .drop("__best")
  }
}
