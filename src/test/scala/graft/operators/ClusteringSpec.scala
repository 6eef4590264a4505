package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.VectorQueries.persisted
import graft.sinks.{SegmentStore, SegmentedIndex}

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  // 3 well-separated blobs on a 4-dim lattice; ids interleave the blobs so
  // seeding/assignment can't accidentally ride the id order
  private def blobs = {
    val rows = for (i <- 0 until 30) yield {
      val blob = i % 3
      val base = Array(0f, 0f, 0f, 0f)
      base(blob) = 10f + (i / 3) * 0.01f // tight per-blob spread
      (i.toLong, base.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
  }

  /** The directory of `surface` in the one live segment of the one-shard
    * artifact at `path`. */
  private def segDir(path: String, surface: String): String =
    SegmentStore.pin(spark, live(path)).paths("shards/0", surface).head

  /** `idx` saved with one shard, `ids` removed through the tier's
    * removal, and the artifact loaded back. */
  private def removedFrom[A](tier: Clustering.VectorSharded[A], idx: A,
                             ids: Long*): A = {
    val path = tmpDir("removed")
    SegmentedIndex.save(spark, tier, idx, path, 1)
    SegmentedIndex.remove(spark, path, tier.removal(ids.toDF("n_id")))
    SegmentedIndex.load(spark, tier, path)
  }

  test("kmeans recovers separated blobs; populations sum to the corpus") {
    val lanes = Clustering.kmeansLanes(blobs, "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val clusters = lanes.map(_._1).distinct.sorted
    assert(clusters.length == 3)
    // every cluster has all 4 lanes, and populations cover all 30 vectors
    val byCluster = lanes.groupBy(_._1)
    byCluster.foreach { case (_, g) => assert(g.map(_._2).sorted.toSeq == (0 until 4)) }
    assert(byCluster.values.map(_.head._4).sum == 30L)
    // converged on the blobs: each centroid has exactly one dominant lane ≈ 10·2^20
    val dominantLanes = byCluster.values.map(_.filter(_._3 > (5L << 20)).map(_._2).toSeq).toSeq
    assert(dominantLanes.forall(_.length == 1))
    assert(dominantLanes.flatten.sorted == Seq(0, 1, 2) ||
      dominantLanes.flatten.sorted.size == 3) // three distinct blobs found
  }

  test("kmeans is deterministic and repartition-stable") {
    val a = Clustering.kmeansLanes(blobs, "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val b = Clustering.kmeansLanes(blobs.repartition(7), "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b)
  }

  test("kmeansAssign partitions every vector consistently with the lane populations") {
    val assign = Clustering.kmeansAssign(blobs, "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(assign.length == 30 && assign.map(_._1).distinct.length == 30)
    val lanePop = Clustering.kmeansLanes(blobs, "vec_id", "embedding", 3, 2)
      .filter($"pos" === 0).collect()
      .map(r => (r.getInt(0), r.getLong(3))).toMap
    // kmeansAssign returns the assignment whose aggregation IS the final
    // lanes, so the populations must match exactly — by contract, on any
    // data, not just separated blobs
    val assignPop = assign.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(assignPop == lanePop)
  }

  test("pqCodes: per-subspace assignment parity, exact errors, guards") {
    // 4-dim vectors, m=2 -> two 2-dim subspaces
    val out = Clustering.pqCodes(blobs, "vec_id", "embedding",
        dim = 4, m = 2, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getLong(4)))
    assert(out.length == 30 && out.map(_._1).distinct.length == 30)
    // codes bounded by k; errors nonnegative
    assert(out.forall(t => t._2 >= 0 && t._2 < 2 && t._4 >= 0 && t._4 < 2))
    assert(out.forall(t => t._3 >= 0L && t._5 >= 0L))
    // subspace 0 codes must equal a standalone kmeans over the slice
    import org.apache.spark.sql.functions.{col, slice}
    val sliced = blobs.select(col("vec_id"),
      slice(col("embedding"), 1, 2).as("sub"))
    val solo = Clustering.kmeansAssign(sliced, "vec_id", "sub", 2, 2, "pq0")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(out.map(t => (t._1, t._2, t._3)).toSet == solo)
    intercept[IllegalArgumentException] {
      Clustering.pqCodes(blobs, "vec_id", "embedding", 4, 3, 2, 1)
    }
  }

  test("pqSearch: ADC retrieves same-blob neighbors on separated blobs") {
    val out = Clustering.pqSearch(blobs, "vec_id", "embedding",
        dim = 4, m = 2, k = 3, iters = 2, maxQueryId = 3L, topK = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // 3 queries x 3 ranks, no self matches, ranks dense 1..3
    assert(out.length == 9)
    assert(out.forall(t => t._1 != t._3))
    assert(out.groupBy(_._1).values.forall(_.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    // with codebooks recovering the blobs, every top-3 neighbor shares the
    // query's blob (same id mod 3) and its ADC distance is far below the
    // cross-blob gap (~2 * (10 * 2^20)^2)
    out.foreach { case (q, _, n, adist) =>
      assert(n % 3 == q % 3, s"query $q got cross-blob neighbor $n")
      assert(adist < (1L << 44), s"query $q adist $adist")
    }
  }

  test("ivfPqCandidates prunes: scored pairs well below corpus x queries") {
    // 6 centroids (2 per blob), nprobe=1: each query scores only its own
    // cell — the sublinearity contract the composed index exists for.
    val cand = Clustering.ivfPqCandidates(blobs, "vec_id", "embedding",
        numCentroids = 6, nprobe = 1, maxQueryId = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val corpus = 30
    val queries = 3
    assert(cand.nonEmpty)
    assert(cand.length < corpus * queries / 2,
      s"candidates ${cand.length} not sublinear vs ${corpus * queries}")
    // each (q, n) at most once (vector lives in ONE cell), never self
    assert(cand.distinct.length == cand.length)
    assert(cand.forall(t => t._1 != t._2))
  }

  test("ivfPqSearch: same-blob retrieval; ADC distances agree with pqSearch") {
    val ivfpq = Clustering.ivfPqSearch(blobs, "vec_id", "embedding",
        dim = 4, m = 2, k = 3, iters = 2, numCentroids = 6, nprobe = 1,
        maxQueryId = 3L, topK = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(ivfpq.nonEmpty)
    assert(ivfpq.forall(t => t._1 != t._3))
    // ranks dense from 1 within each query
    ivfpq.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (1 to g.length))
    }
    // cosine cells align with the orthogonal blobs: neighbors share blob
    ivfpq.foreach { case (q, _, n, _) =>
      assert(n % 3 == q % 3, s"query $q got cross-blob neighbor $n")
    }
    // pruning changes WHICH pairs are scored, never the ADC distance of a
    // scored pair: every (q, n) the pruned index returns must carry the
    // exact adist the exhaustive pqSearch computes
    val exhaustive = Clustering.pqSearch(blobs, "vec_id", "embedding",
        4, 2, 3, 2, maxQueryId = 3L, topK = 30)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getLong(3))).toMap
    ivfpq.foreach { case (q, _, n, adist) =>
      assert(exhaustive.get((q, n)).contains(adist),
        s"($q,$n) adist $adist != exhaustive ${exhaustive.get((q, n))}")
    }
  }

  test("ivfPqRerank: final order is exact cosine over the ADC shortlist") {
    val out = Clustering.ivfPqRerank(blobs, "vec_id", "embedding",
        dim = 4, m = 2, k = 3, iters = 2, numCentroids = 6, nprobe = 1,
        maxQueryId = 3L, rerankPool = 5, topK = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty && out.forall(t => t._1 != t._3))
    // ranks dense, cosine non-increasing within each query
    out.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to g.length))
      assert(sorted.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
    // rerank returns a subset of the ADC shortlist pairs
    val pool = Clustering.ivfPqSearch(blobs, "vec_id", "embedding",
        4, 2, 3, 2, numCentroids = 6, nprobe = 1, maxQueryId = 3L, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(out.forall(t => pool.contains((t._1, t._3))))
    // same-blob retrieval survives the compose
    out.foreach { case (q, _, n, _) => assert(n % 3 == q % 3) }
    intercept[IllegalArgumentException] {
      Clustering.ivfPqRerank(blobs, "vec_id", "embedding",
        4, 2, 3, 2, 6, 1, 3L, rerankPool = 2, topK = 3)
    }
  }

  test("kmeansFit returns both surfaces from one run, matching the split APIs") {
    val model = Clustering.kmeansFit(blobs, "vec_id", "embedding", 3, 2)
    val lanes = model.lanes.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val assign = model.assign.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val soloLanes = Clustering.kmeansLanes(blobs, "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    val soloAssign = Clustering.kmeansAssign(blobs, "vec_id", "embedding", 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(lanes == soloLanes && assign == soloAssign)
  }

  test("ragged embedding vectors fail loudly instead of defaulting to cluster 0") {
    val ragged = Seq(
      (0L, Seq(10f, 0f, 0f, 0f)), (1L, Seq(0f, 10f, 0f, 0f)),
      (2L, Seq(0f, 0f, 10f)) // 3 lanes in a 4-lane corpus
    ).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val e = intercept[Exception] {
      Clustering.kmeansAssign(ragged, "vec_id", "embedding", 2, 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("ragged embedding")), e.getMessage)
  }

  test("semDedup prunes identical vectors to their lowest-id keeper") {
    // identity groups {0,2,4} and {1,5}; 3 and 6 are NEAR their blob
    // (cos ≈ 0.98) but below the 0.999 threshold. Identical vectors are
    // equidistant from every centroid, so they ALWAYS co-cluster — the
    // expected prune set is invariant to how k-means splits the blobs.
    val vecs = Seq(
      (0L, Seq(10f, 1f, 0f, 0f)), (1L, Seq(0f, 0f, 10f, 1f)),
      (2L, Seq(10f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 10f, -1f)),
      (4L, Seq(10f, 1f, 0f, 0f)), (5L, Seq(0f, 0f, 10f, 1f)),
      (6L, Seq(10f, -1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Clustering
      .semDedup(vecs, "vec_id", "embedding", k = 2, iters = 2,
        minCosine = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(2L, 4L, 5L), out.mkString(", "))
    assert(out.map(_._2).toSeq == Seq(0L, 0L, 1L))
    assert(out.forall(_._3 == 1.0))
  }

  test("semDedupHier: identical vectors prune to lowest-id keepers; degenerate config == all-pairs") {
    val vecs = Seq(
      (0L, Seq(10f, 1f, 0f, 0f)), (1L, Seq(0f, 0f, 10f, 1f)),
      (2L, Seq(10f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 10f, -1f)),
      (4L, Seq(10f, 1f, 0f, 0f)), (5L, Seq(0f, 0f, 10f, 1f)),
      (6L, Seq(10f, -1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // identical vectors score identically against every seed, so they
    // always land in the same fine neighborhood — the prune set is
    // invariant to the coarse/fine split, like the flat form
    val out = Clustering
      .semDedupHier(vecs, "vec_id", "embedding", coarseK = 2,
        targetRows = 3, iters = 2, minCosine = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(2L, 4L, 5L), out.mkString(", "))
    assert(out.map(_._2).toSeq == Seq(0L, 0L, 1L))
    assert(out.forall(_._3 == 1.0))
    // degenerate configuration (one coarse cell, one seed covering the
    // whole corpus): every pair is compared — output == brute-force
    // cosine dedup, the recall ceiling the hierarchy trades from
    val brute = Clustering
      .semDedupHier(vecs, "vec_id", "embedding", coarseK = 1,
        targetRows = 100, iters = 1, minCosine = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(brute == Set((2L, 0L), (4L, 0L), (5L, 1L)))
  }

  test("semDedupHier: degenerate coarse cell is bounded by the seed cap + subcell guard") {
    // 60 copies of ONE direction: a single coarse cell; maxFinePerCell=2
    // caps the candidate join at n*2 rows, and the over-target fine
    // neighborhoods split into subcells (cap 8). Every reported pair is
    // a genuine duplicate and every keeper precedes its pruned id.
    val vecs = (0L until 60L).map(i => (i, Seq(5f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val out = Clustering
      .semDedupHier(vecs, "vec_id", "embedding", coarseK = 1,
        targetRows = 4, iters = 1, minCosine = 0.999,
        clusterCap = 8L, maxFinePerCell = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // identical vectors: cos = dot / (sqrt(dot)·sqrt(dot)) — exactly 1
    // only when the double sqrt squares back to dot, so assert the
    // threshold, not the literal
    assert(out.forall { case (pruned, keeper, cos) =>
      keeper < pruned && cos >= 0.999 })
    // ids are either pruned once or survive — no id pruned twice
    val pruned = out.map(_._1)
    assert(pruned.distinct.length == pruned.length)
  }

  test("semDedupDelta prunes only delta rows, against corpus keepers") {
    def vecs(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // corpus holds its own dup pair (0,2) — a delta run must NOT report it
    val corpus = vecs(Seq(
      (0L, Seq(10f, 1f, 0f, 0f)), (1L, Seq(0f, 0f, 10f, 1f)),
      (2L, Seq(10f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 10f, -1f))))
    val delta = vecs(Seq(
      (10L, Seq(10f, 1f, 0f, 0f)),   // identical to corpus 0 and 2
      (11L, Seq(0f, 0f, -10f, 5f)))) // similar to nothing
    val out = Clustering
      .semDedupDelta(delta, corpus, "vec_id", "embedding",
        k = 2, iters = 2, minCosine = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((10L, 0L, 1.0)), out.mkString(", "))
  }

  test("semDedup refuses corpora past its flat-quadratic gate, naming semDedupHier") {
    // the measured-quadratic flat form must not be reachable by accident
    // at scale: past maxRows the require fires BEFORE any fit work, and
    // the message points the caller at the hierarchical form
    val vecs = (0L until 8L).map(i => (i, Seq(10f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Clustering.semDedup(vecs, "vec_id", "embedding", k = 2, iters = 1,
        minCosine = 0.999, maxRows = 5L)
    }
    assert(e.getMessage.contains("semDedupHier"), e.getMessage)
    assert(e.getMessage.contains("maxRows=5"), e.getMessage)
    // at or under the gate the same call runs (default gate >> any test corpus)
    Clustering.semDedup(vecs, "vec_id", "embedding", k = 2, iters = 1,
      minCosine = 0.999, maxRows = 8L).collect()
  }

  test("SemIndex roundtrip: served prune == fresh fit; delta serves against the loaded index") {
    def vecs(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpus = vecs(Seq(
      (0L, Seq(10f, 1f, 0f, 0f)), (1L, Seq(0f, 0f, 10f, 1f)),
      (2L, Seq(10f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 10f, -1f)),
      (4L, Seq(10f, 1f, 0f, 0f)), (5L, Seq(0f, 0f, 10f, 1f))))
    val fresh = Clustering
      .semDedupHier(corpus, "vec_id", "embedding", coarseK = 2,
        targetRows = 3, iters = 2, minCosine = 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val path = tmpDir("semindex_roundtrip")
    Clustering.saveSemIndex(
      Clustering.semDedupHierFit(corpus, "vec_id", "embedding", coarseK = 2,
        targetRows = 3, iters = 2), path)
    val loaded = Clustering.loadSemIndex(spark, path)
    assert(loaded.coarseK == 2 && loaded.salt == "semdedup-h")
    // batch serve from parquet reproduces the fresh fit exactly
    val served = Clustering.semDedupHierServe(loaded, 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(served == fresh, s"served=$served fresh=$fresh")
    // delta serve: corpus dup pair (0,2,4) must NOT re-report; the delta
    // twin of the corpus blob prunes against the SMALLEST corpus member
    val delta = vecs(Seq(
      (10L, Seq(10f, 1f, 0f, 0f)),   // identical to corpus 0/2/4
      (11L, Seq(0f, 0f, -10f, 5f)))) // similar to nothing
    val out = Clustering
      .semDedupDeltaHier(delta, "vec_id", "embedding", loaded, 0.999)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((10L, 0L, 1.0)), out.mkString(", "))
  }

  test("joined fine assignment == literal kernel, for fit and delta serve") {
    // seedLiteralCap=0 forces the distributed equi-join + partial-agg
    // argmin on every call — the path that engages when the seed set
    // outgrows the task-binary cap (seeds are n/targetRows rows, so the
    // literal kernel has a hard corpus ceiling; the join path has none).
    // Both paths must assign identically, including argmin ties.
    def vecs(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpus = vecs(Seq(
      (0L, Seq(10f, 1f, 0f, 0f)), (1L, Seq(0f, 0f, 10f, 1f)),
      (2L, Seq(10f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 10f, -1f)),
      (4L, Seq(10f, 1f, 0f, 0f)), (5L, Seq(0f, 0f, 10f, 1f)),
      (6L, Seq(10f, -1f, 0f, 0f)), (7L, Seq(-3f, 0f, 2f, 1f))))
    def prune(cap: Int) = Clustering
      .semDedupHier(corpus, "vec_id", "embedding", coarseK = 2,
        targetRows = 2, iters = 2, minCosine = 0.999, seedLiteralCap = cap)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(prune(0) == prune(Similarity.MaxCentroids))
    // identical assignment implies identical index surfaces
    val litIdx = Clustering.semDedupHierFit(corpus, "vec_id", "embedding",
      coarseK = 2, targetRows = 2, iters = 2)
    val joinIdx = Clustering.semDedupHierFit(corpus, "vec_id", "embedding",
      coarseK = 2, targetRows = 2, iters = 2, seedLiteralCap = 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vid", "cluster", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(litIdx.assign) == rows(joinIdx.assign))
    // delta serve through the joined path == through the literal path
    val delta = vecs(Seq(
      (10L, Seq(10f, 1f, 0f, 0f)), (11L, Seq(0f, 0f, -10f, 5f))))
    def serve(cap: Int) = Clustering
      .semDedupDeltaHier(delta, "vec_id", "embedding", litIdx, 0.999,
        seedLiteralCap = cap)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(serve(0) == serve(Similarity.MaxCentroids))
    assert(serve(0) == Set((10L, 0L, 1.0)))
  }

  test("semDedup skew guard: a degenerate one-cluster corpus pairs within bounded subcells") {
    // 300 IDENTICAL vectors — equidistant from every centroid, so k-means
    // parks all of them in ONE cluster: exactly the pathological corpus
    // where Sigma |cluster|^2 ~ n*target collapses and the within-cluster
    // join would be quadratic (44850 pairs). The cap splits the cluster
    // into hash subcells whose pair cost is ~cap^2 each.
    val n = 300
    val cap = 16L
    val vecs = (0 until n).map(i => (i.toLong, Seq(10f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val assign = Clustering
      .kmeansFit(vecs, "vec_id", "embedding", k = 4, iters = 2, "semdedup")
      .assign
    val cells = Clustering.subcells(assign, cap, "semdedup")
      .groupBy($"cluster", $"cell").count()
      .collect().map(r => r.getAs[Long]("count"))
    // hash-uniform split: every subcell well under 2x the cap, and the
    // summed pair cost is a small fraction of the unguarded quadratic
    assert(cells.length > 1, "cap did not split the degenerate cluster")
    assert(cells.max <= 2 * cap, s"subcell of ${cells.max} rows exceeds 2*cap")
    val pairCost = cells.map(c => c * (c - 1) / 2).sum
    val unguarded = n.toLong * (n - 1) / 2
    assert(pairCost * 10 < unguarded,
      s"pair cost $pairCost not well below unguarded $unguarded")
    // and the prune semantics survive the split: identical vectors mean
    // every non-minimum vid of each subcell is pruned to its cell keeper
    val pruned = Clustering.semDedup(vecs, "vec_id", "embedding",
        k = 4, iters = 2, minCosine = 0.999, clusterCap = cap)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(pruned.length == n - cells.length)
    assert(pruned.forall { case (p, keeper) => keeper < p })
  }

  test("semDedup skew guard: measured recall loss on a pathological corpus") {
    // 100 distinct directions, each DUPLICATED once (cos = 1 within a
    // pair, < threshold across pairs), forced into ONE cluster (k = 1):
    // the uncapped join finds every pair (recall 1.0, quadratic cost);
    // the capped join only finds pairs whose two members hash into the
    // same subcell — expected recall 1/width for width = ceil(n/cap)
    // subcells, the documented trade (cost bounded by ~cap^2 per cell).
    // The hash placement is deterministic (md5 of vid + salt), so the
    // measured recall is a REPRODUCIBLE number, recorded in the
    // `subcells` scaladoc.
    val nPairs = 100
    val cap = 16L
    val rnd = new scala.util.Random(42)
    val dirs = Seq.fill(nPairs)(Seq.fill(8)(rnd.nextFloat() * 2f - 1f))
    val vecs = dirs.zipWithIndex.flatMap { case (v, i) =>
      Seq((2L * i, v), (2L * i + 1, v))
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    def prunedSet(c: Long) = Clustering.semDedup(vecs, "vec_id", "embedding",
        k = 1, iters = 1, minCosine = 0.9999, clusterCap = c)
      .collect().map(_.getLong(1)).toSet
    val uncapped = prunedSet(1L << 30) // cap >> n: width 1, no split
    val capped = prunedSet(cap)
    graft.operators.OperatorCaches.releaseAll()
    // uncapped = perfect recall: exactly one pruned vector per pair
    assert(uncapped.size == nPairs)
    // capped finds ONLY a subset of the uncapped prunes (never extras)
    assert(capped.subsetOf(uncapped))
    val width = (2 * nPairs + cap - 1) / cap // 13 subcells
    val recall = capped.size.toDouble / uncapped.size
    // expected recall ~ 1/width (0.077): assert the measured value sits
    // within a factor of 2 of the model — close to full recall would mean
    // the guard isn't splitting, near zero would mean it's broken
    assert(recall >= 0.5 / width && recall <= 2.0 / width,
      s"measured recall $recall outside [${0.5 / width}, ${2.0 / width}]")
    info(f"measured recall $recall%.3f (${capped.size}/${uncapped.size}, width $width)")
  }

  test("semDedup with an unreachable threshold prunes nothing") {
    val out = Clustering.semDedup(blobs, "vec_id", "embedding",
      k = 3, iters = 2, minCosine = 1.1)
    assert(out.count() == 0L)
  }

  test("k or iters <= 0 refused; k > corpus degrades to occupied clusters only") {
    intercept[IllegalArgumentException] {
      Clustering.kmeansLanes(blobs, "vec_id", "embedding", 0, 1)
    }
    intercept[IllegalArgumentException] {
      Clustering.kmeansLanes(blobs, "vec_id", "embedding", 3, 0)
    }
    val tiny = blobs.limit(2)
    val lanes = Clustering.kmeansLanes(tiny, "vec_id", "embedding", 5, 1)
      .select("cluster").distinct().collect().map(_.getInt(0))
    assert(lanes.nonEmpty && lanes.length <= 2)
  }

  test("IvfFlatIndex roundtrip: served search == fresh knnIvf; update == union build") {
    val path = tmpDir("ivfflat_rt")
    val idx = Clustering.buildIvfFlatIndex(blobs, "vec_id", "embedding", 3, 2)
    val loaded = persisted(spark, Clustering.IvfFlatSharded, idx, path)
    val served = Clustering.serveIvfFlat(loaded, blobs, "vec_id", "embedding",
      maxQueryId = 6L, nprobe = 1, k = 3)
    val fresh = graft.operators.Similarity.knnIvf(blobs, "vec_id", "embedding",
      maxQueryId = 6L, numCentroids = 3, nprobe = 1, k = 3)
    assert(served.orderBy($"q_id", $"rank").collect().toSeq ==
      fresh.orderBy($"q_id", $"rank").collect().toSeq)

    // the add path: index the even ids, fold in the odd ids — postings
    // must equal a fresh assignment of the union with the SAME codebook
    val corpus = blobs.filter($"vec_id" % 2 === 0)
    val delta = blobs.filter($"vec_id" % 2 =!= 0)
    val p2 = tmpDir("ivfflat_up")
    val base = persisted(spark, Clustering.IvfFlatSharded,
      Clustering.buildIvfFlatIndex(corpus, "vec_id", "embedding", 3, 2), p2)
    val updated = Clustering.updateIvfFlatIndex(base, delta, "vec_id", "embedding")
    val unionAssigned = graft.operators.Similarity.ivfPostings(
      blobs, "vec_id", "embedding",
      graft.operators.Similarity.centroidSetFromLanes(base.lanes))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select($"n_id", $"c_id".cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keyed(updated.postings) == keyed(unionAssigned))
    assert(keyed(updated.postings).size == 30)
  }

  test("updateSemIndex: week-2 delta prunes against week-1 rows the fit never saw") {
    // corpus: two blobs on axes 0/1; week-1 delta: a THIRD blob (axis 2);
    // week-2 delta: near-copies of the week-1 rows — only an UPDATED
    // index can keep them (the fit corpus has nothing on axis 2)
    def emb(rows: Seq[(Long, Array[Float])]) = {
      import org.apache.spark.sql.functions.col
      rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    }
    val corpus = emb((0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v)
    })
    val week1 = emb(Seq((100L, Array(0f, 0f, 10f, 0f)),
      (101L, Array(0f, 0f, 10.3f, 0f))))
    val week2 = emb(Seq((200L, Array(0f, 0f, 10.01f, 0f)), // ≈ week-1 100
      (201L, Array(10.02f, 0f, 0f, 0f)))) // ≈ corpus blob 0
    val path = tmpDir("semupd")
    Clustering.saveSemIndex(Clustering.semDedupHierFit(
      corpus, "vec_id", "embedding", coarseK = 2, targetRows = 4L,
      iters = 2, salt = "s-upd", clusterCap = 64L, maxFinePerCell = 8), path)
    val base = Clustering.loadSemIndex(spark, path)
    // before the update, the week-2 near-copy of week-1 sails through
    val before = Clustering.semDedupDeltaHier(week2, "vec_id", "embedding",
      base, 0.9).collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(!before.contains(200L), s"200 pruned without the update: $before")
    // after: assign surface grew by exactly the week-1 rows, fitted
    // parameters untouched, and the near-copy is caught with its week-1
    // keeper while the corpus-near row keeps its corpus keeper
    val updated = Clustering.updateSemIndex(base, week1, "vec_id", "embedding")
    val p2 = tmpDir("semupd2")
    Clustering.saveSemIndex(updated, p2)
    val reloaded = Clustering.loadSemIndex(spark, p2)
    assert(reloaded.assign.count() == base.assign.count() + 2)
    assert(reloaded.sizes.collect().toSeq.toSet ==
      base.sizes.collect().toSeq.toSet)
    val after = Clustering.semDedupDeltaHier(week2, "vec_id", "embedding",
      reloaded, 0.9).collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(after.get(200L).contains(100L),
      s"week-2 near-copy must be kept by its week-1 twin: $after")
    assert(after.get(201L).exists(_ < 12L),
      s"corpus-near row keeps a corpus keeper: $after")
  }

  test("updateSemIndex fails loudly when a delta row lands in a seedless coarse cell (silent recall loss guard)") {
    def emb(rows: Seq[(Long, Array[Float])]) = {
      import org.apache.spark.sql.functions.col
      rows.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    }
    val corpus = emb((0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v)
    })
    val idx = Clustering.semDedupHierFit(corpus, "vec_id", "embedding",
      coarseK = 2, targetRows = 4L, iters = 2, salt = "s-seedless",
      clusterCap = 64L, maxFinePerCell = 8)
    // find the coarse cell of corpus vector 0 (axis-0 blob) and strip its
    // fine seeds — the synthetic "empty fit cell" an add-path delta can
    // hit when the fit no longer covers the data distribution
    import org.apache.spark.sql.functions.col
    val blob0Seed = idx.seeds.filter(col("svid") % 2 === 0) // axis-0 ids are even
      .select(col("ccell").cast("long")).head().getLong(0)
    val crippled = idx.copy(seeds = idx.seeds
      .filter(col("ccell").cast("long") =!= blob0Seed))
    val delta = emb(Seq((300L, Array(10.02f, 0f, 0f, 0f)))) // lands in blob0's cell
    // seedLiteralCap = 0 forces the DISTRIBUTED joinedFineAssign path —
    // the one whose inner join silently discards seedless-cell rows (the
    // literal-kernel path already fails loudly in GroupedNearestL2)
    val e = intercept[IllegalArgumentException](
      Clustering.updateSemIndex(crippled, delta, "vec_id", "embedding",
        seedLiteralCap = 0))
    assert(e.getMessage.contains("dropped by the assignment chain"),
      s"wrong failure: ${e.getMessage}")
    // and the literal path's own guard stays loud too
    val e2 = intercept[IllegalArgumentException](
      Clustering.updateSemIndex(crippled, delta, "vec_id", "embedding"))
    assert(e2.getMessage.contains("no seeds"), s"wrong failure: ${e2.getMessage}")
    // control: the intact index admits the same delta
    assert(Clustering.updateSemIndex(idx, delta, "vec_id", "embedding")
      .assign.count() == idx.assign.count() + 1)

    // a NULL delta id is named as such — countDistinct ignores nulls, so
    // without the explicit null count this would be mis-diagnosed as
    // "duplicate id value(s) (a replayed spool?)"
    import org.apache.spark.sql.functions.lit
    val nullDelta = emb(Seq((301L, Array(10.03f, 0f, 0f, 0f))))
      .withColumn("vec_id",
        org.apache.spark.sql.functions.lit(null).cast("long"))
    val e3 = intercept[IllegalArgumentException](
      Clustering.updateSemIndex(idx, nullDelta, "vec_id", "embedding"))
    assert(e3.getMessage.contains("null vec_id") &&
      !e3.getMessage.contains("replayed spool"), s"wrong failure: ${e3.getMessage}")
  }

  test("IvfPqIndex roundtrip: served ADC search == fresh ivfPqSearch; cells scan prunes") {
    val path = tmpDir("ivfpq_rt")
    val loaded = persisted(spark, Clustering.IvfPqSharded,
      Clustering.buildIvfPqIndex(
        blobs, "vec_id", "embedding", dim = 4, m = 2, k = 2, iters = 2,
        numCentroids = 3), path)
    val served = Clustering.serveIvfPq(loaded, blobs, "vec_id", "embedding",
      dim = 4, m = 2, maxQueryId = 6L, nprobe = 1, topK = 3)
    val fresh = Clustering.ivfPqSearch(blobs, "vec_id", "embedding",
      dim = 4, m = 2, k = 2, iters = 2, numCentroids = 3, nprobe = 1,
      maxQueryId = 6L, topK = 3)
    assert(served.orderBy($"q_id", $"rank").collect().toSeq ==
      fresh.orderBy($"q_id", $"rank").collect().toSeq)
    // the compressed artifact stores NO raw vectors
    assert(!loaded.cells.columns.contains("nv") &&
      !loaded.codes.columns.contains("nv"))
    // and the cells scan carries the static probed-cells partition filter
    val one = Clustering.serveIvfPq(loaded, blobs, "vec_id", "embedding",
      dim = 4, m = 2, maxQueryId = 1L, nprobe = 1, topK = 3)
    val scans = one.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("cells")) => s
    }
    assert(scans.nonEmpty &&
      scans.head.partitionFilters.map(_.toString).exists(_.contains("c_id")))
    assert(scans.head.selectedPartitions.partitionCount == 1)

    // the two-stage serve: equality with the fresh ivfPqRerank, and the
    // rerank's raw-vector fetch ALSO prunes to the probed cells
    val flatPath = tmpDir("ivfpq_rt_flat")
    val flatPostings = persisted(spark, Clustering.IvfFlatSharded,
      Clustering.IvfFlatIndex(loaded.coarseLanes,
        graft.operators.Similarity.ivfPostings(blobs, "vec_id", "embedding",
          graft.operators.Similarity.centroidSetFromLanes(loaded.coarseLanes))),
      flatPath).postings
    val twoStage = Clustering.serveIvfPqRerank(loaded, flatPostings, blobs,
      "vec_id", "embedding", dim = 4, m = 2, maxQueryId = 6L, nprobe = 1,
      rerankPool = 6, topK = 3)
    val freshTwo = Clustering.ivfPqRerank(blobs, "vec_id", "embedding",
      dim = 4, m = 2, k = 2, iters = 2, numCentroids = 3, nprobe = 1,
      maxQueryId = 6L, rerankPool = 6, topK = 3)
    assert(twoStage.orderBy($"q_id", $"rank").collect().toSeq ==
      freshTwo.orderBy($"q_id", $"rank").collect().toSeq)
    val oneTwo = Clustering.serveIvfPqRerank(loaded, flatPostings, blobs,
      "vec_id", "embedding", dim = 4, m = 2, maxQueryId = 1L, nprobe = 1,
      rerankPool = 6, topK = 3)
    val postScans = oneTwo.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    assert(postScans.nonEmpty &&
      postScans.forall(_.selectedPartitions.partitionCount == 1),
      s"rerank fetch not pruned: ${postScans.map(_.selectedPartitions.partitionCount)}")
  }

  test("IvfFlat serve prunes the postings scan to the probed cells") {
    val path = tmpDir("ivfflat_prune")
    SegmentedIndex.save(spark, Clustering.IvfFlatSharded,
      Clustering.buildIvfFlatIndex(blobs, "vec_id", "embedding", 3, 2), path, 1)
    // the artifact is laid out as one directory per inverted list
    val cellDirs = new java.io.File(segDir(path, "postings")).listFiles()
      .filter(_.getName.startsWith("c_id=")).map(_.getName)
    assert(cellDirs.length >= 2, s"expected cell directories, got ${cellDirs.toSeq}")
    // one query, nprobe=1 → the static cell filter reaches the scan as a
    // partition filter: the scan reads ONE cell directory, not the corpus
    val served = Clustering.serveIvfFlat(
      SegmentedIndex.load(spark, Clustering.IvfFlatSharded, path), blobs,
      "vec_id", "embedding",
      maxQueryId = 1L, nprobe = 1, k = 3)
    val scans = served.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    assert(scans.nonEmpty, "no postings file scan in the serve plan")
    assert(scans.head.partitionFilters.map(_.toString).exists(_.contains("c_id")),
      s"no c_id partition filter: ${scans.head.partitionFilters}")
    val selected = scans.head.selectedPartitions.partitionCount
    assert(selected == 1,
      s"expected 1 selected cell partition of ${cellDirs.length}, got $selected")
    assert(served.count() > 0)
  }

  test("sharded ivfflat: shard-merged serve == single-artifact serve; an update rewrites ONLY the routed shards") {
    import graft.sinks.{SegmentStore, SegmentedIndex}
    val tier = Clustering.IvfFlatSharded
    val idx = Clustering.buildIvfFlatIndex(blobs, "vec_id", "embedding", 3, 2)
    val single = tmpDir("ivfsh_single")
    val sharded = tmpDir("ivfsh") + "/art"
    SegmentedIndex.save(spark, Clustering.IvfFlatSharded, idx, single, 1)
    SegmentedIndex.save(spark, tier, idx, sharded, 4)
    // shard-merged serve reproduces the single-artifact serve bit-for-bit
    def serveOf(i: Clustering.IvfFlatIndex) =
      Clustering.serveIvfFlat(i, blobs, "vec_id", "embedding",
        maxQueryId = 6L, nprobe = 1, k = 3)
        .orderBy($"q_id", $"rank").collect().toSeq
    assert(serveOf(SegmentedIndex.load(spark, tier, sharded)) ==
      serveOf(SegmentedIndex.load(spark, Clustering.IvfFlatSharded, single)))
    // shard routing is n_id mod numShards — a delta whose ids all route
    // to shard 2 must advance ONLY shard 2's segments
    def genOf(sh: Int): Seq[String] =
      SegmentStore.pin(spark, live(sharded)).segments(s"shards/$sh")
    val before = (0 until 4).map(genOf)
    assert(before.forall(_.nonEmpty))
    val delta = Seq((102L, Seq(0f, 0f, 0f, 9f)), (106L, Seq(0f, 0f, 0f, 9.1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val touched = SegmentedIndex.update(spark, sharded,
      tier.delta(delta, "vec_id", "embedding"))
    assert(touched == Seq(2), s"expected only shard 2 touched: $touched")
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != before(sh), "shard 2 must advance")
      else assert(genOf(sh) == before(sh), s"shard $sh must be untouched")
    }
    // the updated sharded serve equals a fresh union assignment serve
    // under the same frozen codebook
    val unionPostings = graft.operators.Similarity.ivfPostings(
      blobs.unionByName(delta), "vec_id", "embedding",
      graft.operators.Similarity.centroidSetFromLanes(idx.lanes))
    assert(serveOf(SegmentedIndex.load(spark, tier, sharded)) ==
      serveOf(Clustering.IvfFlatIndex(idx.lanes, unionPostings)))

    // ATTRIBUTE columns survive the sharded layout end to end: save,
    // load, single-shard update — so the filtered serve works on the
    // one layout the 100 TB path actually uses
    val attributed = blobs.withColumn("label", ($"vec_id" % 3).cast("int"))
    val shAttr = tmpDir("ivfsh_attr") + "/art"
    SegmentedIndex.save(spark, tier, Clustering.buildIvfFlatIndex(
      attributed, "vec_id", "embedding", 3, 2, attrCols = Seq("label")),
      shAttr, 4)
    val loadedAttr = SegmentedIndex.load(spark, tier, shAttr)
    assert(loadedAttr.postings.columns.contains("label"),
      "attr column lost by the sharded save/load roundtrip")
    val deltaAttr = Seq((102L, Seq(0f, 0f, 0f, 9f), 0))
      .toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label".cast("int").as("label"))
    SegmentedIndex.update(spark, shAttr,
      tier.delta(deltaAttr, "vec_id", "embedding"))
    val filtered = Clustering.serveIvfFlatFiltered(
        SegmentedIndex.load(spark, tier, shAttr), blobs,
        "vec_id", "embedding", maxQueryId = 3L, nprobe = 3, k = 12,
        pred = $"label" === 0)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(filtered.nonEmpty && filtered.forall(_._2 % 3 == 0),
      s"sharded filtered serve leaked non-matching rows: ${filtered.toSeq}")
    assert(filtered.exists(_._2 == 102L),
      "attr-carrying sharded update must make the delta servable filtered")
  }

  test("sharded ivfpq: shard-merged ADC serve == single artifact; an update rewrites ONLY the routed shards' cells+codes together") {
    import graft.sinks.{SegmentStore, SegmentedIndex}
    val tier = Clustering.IvfPqSharded
    val idx = Clustering.buildIvfPqIndex(blobs, "vec_id", "embedding",
      dim = 4, m = 2, k = 2, iters = 2, numCentroids = 3)
    val single = tmpDir("ivfpqsh_single")
    val sharded = tmpDir("ivfpqsh") + "/art"
    SegmentedIndex.save(spark, Clustering.IvfPqSharded, idx, single, 1)
    SegmentedIndex.save(spark, tier, idx, sharded, 4)
    def serveOf(i: Clustering.IvfPqIndex) =
      Clustering.serveIvfPq(i, blobs, "vec_id", "embedding",
        dim = 4, m = 2, maxQueryId = 6L, nprobe = 1, topK = 3)
        .orderBy($"q_id", $"rank").collect().toSeq
    assert(serveOf(SegmentedIndex.load(spark, tier, sharded)) ==
      serveOf(SegmentedIndex.load(spark, Clustering.IvfPqSharded, single)))
    // no raw vectors anywhere in the sharded layout either
    val loaded0 = SegmentedIndex.load(spark, tier, sharded)
    assert(!loaded0.cells.columns.contains("nv") &&
      !loaded0.codes.columns.contains("nv"))
    // PLAN SHAPE: every per-shard cells branch carries the static
    // probed-cells partition filter, and the codes surface is ONE
    // multi-path scan (never an S-way union of single scans — the
    // per-branch planning overhead sharding must not add)
    val onePlan = Clustering.serveIvfPq(loaded0, blobs,
      "vec_id", "embedding", dim = 4, m = 2, maxQueryId = 1L,
      nprobe = 1, topK = 3).queryExecution.sparkPlan
    val cellScans = onePlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("cells")) => s
    }
    assert(cellScans.length == 4, s"one cells branch per shard: ${cellScans.length}")
    cellScans.foreach(s => assert(
      s.partitionFilters.map(_.toString).exists(_.contains("c_id")),
      "each shard's cells scan must carry the probed-cells filter"))
    val codeScans = onePlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("codes")) => s
    }
    assert(codeScans.length == 1 &&
      codeScans.head.relation.location.rootPaths.length == 4,
      "codes must load as ONE multi-path scan over all shard dirs")
    // a delta routing only to shard 2 advances ONLY shard 2's segments
    def genOf(sh: Int): Seq[String] =
      SegmentStore.pin(spark, live(sharded)).segments(s"shards/$sh")
    val before = (0 until 4).map(genOf)
    assert(before.forall(_.nonEmpty))
    val delta = Seq((102L, Seq(0f, 0f, 0f, 9f)), (106L, Seq(0f, 0f, 0f, 9.1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val touched = SegmentedIndex.update(spark, sharded,
      tier.delta(delta, "vec_id", "embedding", dim = 4, m = 2))
    assert(touched == Seq(2), s"expected only shard 2 touched: $touched")
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != before(sh), "shard 2 must advance")
      else assert(genOf(sh) == before(sh), s"shard $sh must be untouched")
    }
    // cells and codes moved TOGETHER: the delta's ids appear in both
    // surfaces of the reloaded artifact, with m code rows each
    val loaded = SegmentedIndex.load(spark, tier, sharded)
    assert(loaded.cells.filter($"n_id".isin(102L, 106L)).count() == 2L)
    assert(loaded.codes.filter($"n_id".isin(102L, 106L)).count() == 4L)
    // updated sharded serve == the in-memory updateIvfPqIndex fold of
    // the same delta over the unsharded artifact (the q161 exactness)
    val foldedServe = serveOf(Clustering.updateIvfPqIndex(
      SegmentedIndex.load(spark, Clustering.IvfPqSharded, single), delta,
      "vec_id", "embedding", dim = 4, m = 2))
    assert(serveOf(loaded) == foldedServe)
    // remove forgets: only the routed shard rewrites, both surfaces drop
    val beforeRm = (0 until 4).map(genOf)
    val rmTouched = SegmentedIndex.remove(spark, sharded,
      tier.removal(Seq(106L).toDF("n_id")))
    assert(rmTouched == Seq(2))
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != beforeRm(sh))
      else assert(genOf(sh) == beforeRm(sh))
    }
    val afterRm = SegmentedIndex.load(spark, tier, sharded)
    assert(afterRm.cells.filter($"n_id" === 106L).count() == 0L)
    assert(afterRm.codes.filter($"n_id" === 106L).count() == 0L)
    assert(afterRm.cells.filter($"n_id" === 102L).count() == 1L)
  }

  test("filtered ANN serve: predicate composes into the pruned postings scan; filtered top-k == brute-filtered top-k") {
    // attribute = blob id (the lattice axis): a production `lang = 'en'`
    // style metadata column materialized in the postings
    val attributed = blobs.withColumn("label", ($"vec_id" % 3).cast("int"))
    val path = tmpDir("ivfflat_filt")
    val loaded = persisted(spark, Clustering.IvfFlatSharded,
      Clustering.buildIvfFlatIndex(
        attributed, "vec_id", "embedding", 3, 2, attrCols = Seq("label")), path)
    assert(loaded.postings.columns.contains("label"),
      "attribute column must survive the save/load roundtrip")
    val served = Clustering.serveIvfFlatFiltered(loaded, blobs,
      "vec_id", "embedding", maxQueryId = 3L, nprobe = 3, k = 3,
      pred = $"label" === 0)
    // every hit satisfies the predicate, and with nprobe = all cells the
    // result equals the exact filtered top-k (brute force on label-0 rows)
    val rows = served.orderBy($"q_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(rows.nonEmpty && rows.forall(_._3 % 3 == 0),
      s"non-matching neighbor served: $rows")
    import graft.functions.VectorFunctions.{scaled, vnorm, cosineFromNorms}
    val sv = blobs.select($"vec_id", scaled($"embedding").as("v"))
      .withColumn("nrm", vnorm($"v"))
    val brute = sv.filter($"vec_id" < 3).select($"vec_id".as("q_id"),
        $"v".as("qv"), $"nrm".as("qn"))
      .crossJoin(sv.filter($"vec_id" % 3 === 0).select($"vec_id".as("n_id"),
        $"v".as("nv"), $"nrm".as("nn")))
      .filter($"n_id" =!= $"q_id")
      .select($"q_id", $"n_id",
        cosineFromNorms($"qv", $"nv", $"qn", $"nn").as("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy($"cos".desc, $"n_id".asc)))
      .filter($"rank" <= 3)
      .orderBy($"q_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSeq
    assert(rows == brute, s"filtered serve $rows != brute $brute")
    // the predicate reaches the postings SCAN (PushedFilters), alongside
    // the probed-cell partition pruning — filter I/O, don't post-filter
    val plan = Clustering.serveIvfFlatFiltered(loaded, blobs,
      "vec_id", "embedding", 1L, 1, 3, $"label" === 0)
    val scans = plan.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    assert(scans.nonEmpty, "no postings scan")
    assert(scans.head.partitionFilters.map(_.toString).exists(_.contains("c_id")),
      s"probed-cell pruning lost: ${scans.head.partitionFilters}")
    assert(scans.head.dataFilters.map(_.toString).exists(_.contains("label")),
      s"label predicate not pushed to the scan: ${scans.head.dataFilters}")
  }

  test("sharded serve keeps per-shard probed-cell pruning; filtered ADC pushes the predicate into the cells scan") {
    // sharded: every union branch's postings scan gets the static c_id
    // partition filter — serve I/O stays O(probed cells) PER SHARD
    val sharded = tmpDir("ivfsh_prune") + "/art"
    graft.sinks.SegmentedIndex.save(spark, Clustering.IvfFlatSharded,
      Clustering.buildIvfFlatIndex(blobs, "vec_id", "embedding", 3, 2),
      sharded, 4)
    val served = Clustering.serveIvfFlat(
      graft.sinks.SegmentedIndex.load(spark, Clustering.IvfFlatSharded,
        sharded), blobs,
      "vec_id", "embedding", maxQueryId = 1L, nprobe = 1, k = 3)
    val scans = served.queryExecution.sparkPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("shards")) => sc
    }
    assert(scans.length == 4, s"expected 4 shard scans, got ${scans.length}")
    scans.foreach { sc =>
      assert(sc.partitionFilters.map(_.toString).exists(_.contains("c_id")),
        s"shard scan lost the probed-cell filter: ${sc.partitionFilters}")
      assert(sc.selectedPartitions.partitionCount <= 1,
        s"shard scan reads ${sc.selectedPartitions.partitionCount} cells")
    }
    assert(served.count() > 0)

    // filtered ADC: the predicate reaches the CELLS scan beside the
    // probed-cell partition pruning (matching candidates only, before
    // the codes join)
    val attributed = blobs.withColumn("label", ($"vec_id" % 3).cast("int"))
    val pqPath = tmpDir("ivfpq_filt")
    val loaded = persisted(spark, Clustering.IvfPqSharded,
      Clustering.buildIvfPqIndex(
        attributed, "vec_id", "embedding", dim = 4, m = 2, k = 2, iters = 2,
        numCentroids = 3, attrCols = Seq("label")), pqPath)
    assert(loaded.cells.columns.contains("label"))
    val fserved = Clustering.serveIvfPqFiltered(loaded, blobs,
      "vec_id", "embedding", dim = 4, m = 2, maxQueryId = 3L, nprobe = 3,
      topK = 3, pred = $"label" === 0)
    val rows = fserved.orderBy($"q_id", $"rank").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(rows.nonEmpty && rows.forall(_._2 % 3 == 0),
      s"non-matching candidate served: $rows")
    val cellScans = Clustering.serveIvfPqFiltered(loaded, blobs,
        "vec_id", "embedding", 4, 2, 1L, 1, 3, $"label" === 0)
      .queryExecution.sparkPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec
            if sc.relation.location.rootPaths.exists(_.toString.contains("cells")) => sc
      }
    assert(cellScans.nonEmpty, "no cells scan in the filtered ADC plan")
    assert(cellScans.head.partitionFilters.map(_.toString).exists(_.contains("c_id")),
      s"probed-cell pruning lost: ${cellScans.head.partitionFilters}")
    assert(cellScans.head.dataFilters.map(_.toString).exists(_.contains("label")),
      s"label predicate not pushed to the cells scan: ${cellScans.head.dataFilters}")
  }

  test("rebuildIvfFlatIndex: drift repair == fresh build on the union, bit-for-bit") {
    // drift: train the codebook on blobs 0/1 only, then ADD blob 2 —
    // the frozen codebook has no cell for it, so its vectors pile into
    // the nearest existing cells (occupancy skew grows)
    val trainSlice = blobs.filter($"vec_id" % 3 =!= 2)
    val drifted = blobs.filter($"vec_id" % 3 === 2)
    val idx0 = Clustering.buildIvfFlatIndex(trainSlice, "vec_id", "embedding", 2, 2)
    val stale = Clustering.updateIvfFlatIndex(idx0, drifted, "vec_id", "embedding")
    // rebuild from the index's OWN postings (no corpus re-supply)
    val rebuilt = Clustering.rebuildIvfFlatIndex(stale, numCentroids = 3, iters = 2)
    val fresh = Clustering.buildIvfFlatIndex(blobs, "vec_id", "embedding", 3, 2)
    def lanesOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(lanesOf(rebuilt.lanes) == lanesOf(fresh.lanes),
      "rebuilt codebook must be bit-identical to a fresh fit on the union")
    def postingsOf(idx: Clustering.IvfFlatIndex) =
      idx.postings.select($"n_id", $"c_id".cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(postingsOf(rebuilt) == postingsOf(fresh))
    // and the rebuild recovered the coverage the stale codebook lost:
    // the fresh/rebuilt fit separates all 3 blobs
    assert(rebuilt.lanes.select($"cluster").distinct().count() == 3L)
  }

  test("IMI roundtrip: served search survives save/load; scan prunes to probed composed cells") {
    import spark.implicits._
    // every HALF carries energy (a zero half has no cosine): even blob
    // on (axis0 | axis2), odd blob on (axis1 | axis3)
    val vecs = (0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f)
      if (i % 2 == 0) { v(0) = 10f + i * 0.01f; v(2) = 8f }
      else { v(1) = 10f + i * 0.01f; v(3) = 8f }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val path = tmpDir("imi_rt")
    val built = Clustering.buildImiIndex(vecs, "vec_id", "embedding",
      dim = 4, kA = 2, kB = 2, iters = 2)
    val loaded = persisted(spark, Clustering.ImiTier, built, path)
    assert(loaded.kA == 2 && loaded.kB == 2 && loaded.dim == 4)
    // the reload serves identically to the in-memory build
    def serveSet(idx: Clustering.ImiIndex) =
      Clustering.serveImi(idx, vecs, "vec_id", "embedding",
        maxQueryId = 2L, nprobe = 1, k = 3).collect().map(_.toSeq).toSet
    assert(serveSet(loaded) == serveSet(built) && serveSet(loaded).nonEmpty)
    // postings are laid out one directory per COMPOSED cell, and the
    // static probe filter prunes the scan to the probed cells
    val cellDirs = new java.io.File(segDir(path, "postings")).listFiles()
      .filter(_.getName.startsWith("c_id=")).map(_.getName)
    assert(cellDirs.length >= 2, s"expected cell dirs, got ${cellDirs.toSeq}")
    val served = Clustering.serveImi(loaded, vecs, "vec_id", "embedding",
      maxQueryId = 1L, nprobe = 1, k = 3)
    val scans = served.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("postings")) => s
    }
    assert(scans.nonEmpty, "no postings file scan in the serve plan")
    assert(scans.head.partitionFilters.map(_.toString).exists(_.contains("c_id")),
      s"no c_id partition filter: ${scans.head.partitionFilters}")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 selected composed cell of ${cellDirs.length}")
    assert(served.count() > 0)
  }

  test("rebuildImiIndex: two-level drift repair == fresh build on the union, bit-for-bit") {
    // drifted shape: build on a slice, add the rest under the frozen
    // half-codebooks, then retrain FROM THE POSTINGS — must equal a
    // fresh build over all vectors with the same (kA, kB, iters)
    val slice = blobs.filter($"vec_id" % 10 =!= 0)
    val delta = blobs.filter($"vec_id" % 10 === 0)
    val stale = Clustering.updateImiIndex(
      Clustering.buildImiIndex(slice, "vec_id", "embedding", dim = 4,
        kA = 2, kB = 2),
      delta, "vec_id", "embedding")
    val rebuilt = Clustering.rebuildImiIndex(stale, kA = 2, kB = 2)
    val fresh = Clustering.buildImiIndex(blobs, "vec_id", "embedding",
      dim = 4, kA = 2, kB = 2)
    def lanes(df: org.apache.spark.sql.DataFrame) =
      df.select("cluster", "pos", "cval", "n").collect().map(_.toSeq).toSet
    assert(lanes(rebuilt.lanesA) == lanes(fresh.lanesA),
      "retrained half-A codebook != fresh build's")
    assert(lanes(rebuilt.lanesB) == lanes(fresh.lanesB),
      "retrained half-B codebook != fresh build's")
    def posts(i: Clustering.ImiIndex) = i.postings
      .select("n_id", "c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(posts(rebuilt) == posts(fresh),
      "re-assigned postings != fresh build's")
    // and the served search over the rebuilt index equals the fresh one
    def serveOf(i: Clustering.ImiIndex) =
      Clustering.serveImi(i, blobs, "vec_id", "embedding",
        maxQueryId = 6L, nprobe = 2, k = 3)
        .orderBy($"q_id", $"rank").collect().toSeq
    assert(serveOf(rebuilt) == serveOf(fresh))
  }

  test("SqIndex roundtrip: codes bounded; top-1 stays in-blob; update == union encode; remove == survivor encode") {
    val path = tmpDir("sq_rt")
    val loaded = persisted(spark, Clustering.SqTier,
      Clustering.buildSqIndex(blobs, "vec_id", "embedding", dim = 4), path)
    // lanes: one (lo ≤ hi) row per dimension
    val lanes = loaded.lanes.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(lanes.map(_._1).sorted.toSeq == (0 until 4))
    assert(lanes.forall(l => l._2 <= l._3))
    // every code lane is an 8-bit level
    val codes = loaded.codes.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(codes.length == 30)
    assert(codes.forall(_._2.forall(c => c >= 0L && c <= 255L)))
    // blobs are ~250 levels apart on their dominant lane, in-blob
    // spread < 1 level: every query's top-1 must be a same-blob row
    val served = Clustering.serveSq(loaded, blobs, "vec_id", "embedding",
        maxQueryId = 3L, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(served.nonEmpty)
    served.filter(_._2 == 1).foreach { case (q, _, n) =>
      assert(n % 3 == q % 3, s"query $q top-1 $n crossed blobs") }

    // the add path: bounds trained on the evens stay FIXED, the odds
    // are encoded against them — codes must equal a fresh encode of
    // the union under the same lanes
    val p2 = tmpDir("sq_up")
    val base = persisted(spark, Clustering.SqTier,
      Clustering.buildSqIndex(
        blobs.filter($"vec_id" % 2 === 0), "vec_id", "embedding", 4), p2)
    val updated = Clustering.updateSqIndex(base,
      blobs.filter($"vec_id" % 2 =!= 0), "vec_id", "embedding")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    assert(keyed(updated.codes) ==
      keyed(Clustering.sqEncode(blobs, base.lanes, "vec_id", "embedding")))
    assert(keyed(updated.codes).size == 30)
    // the remove path: anti-join == fresh encode of the survivors
    val removed = removedFrom(Clustering.SqTier, updated, 1L, 2L)
    assert(keyed(removed.codes) == keyed(Clustering.sqEncode(
      blobs.filter(!$"vec_id".isin(1L, 2L)), base.lanes,
      "vec_id", "embedding")))
  }

  test("IvfSqIndex roundtrip: serve survives save/load; scan prunes to probed cells; update == union assign+encode") {
    val path = tmpDir("ivfsq_rt")
    val built = Clustering.buildIvfSqIndex(blobs, "vec_id", "embedding",
      dim = 4, numCentroids = 3, iters = 2)
    val loaded = persisted(spark, Clustering.IvfSqTier, built, path)
    def serveSet(idx: Clustering.IvfSqIndex) =
      Clustering.serveIvfSq(idx, blobs, "vec_id", "embedding",
        maxQueryId = 3L, nprobe = 1, k = 3).collect().map(_.toSeq).toSet
    assert(serveSet(loaded) == serveSet(built) && serveSet(loaded).nonEmpty)
    // blobs are ~250 levels apart on the dominant lane: in-blob top-1
    val served = Clustering.serveIvfSq(loaded, blobs, "vec_id",
        "embedding", 3L, 1, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    served.filter(_._2 == 1).foreach { case (q, _, n) =>
      assert(n % 3 == q % 3, s"query $q top-1 $n crossed blobs") }
    // codes are laid out one directory per cell, and the static probe
    // filter prunes the scan to the probed cells
    val cellDirs = new java.io.File(segDir(path, "codes")).listFiles()
      .filter(_.getName.startsWith("c_id=")).map(_.getName)
    assert(cellDirs.length >= 2, s"expected cell dirs, got ${cellDirs.toSeq}")
    val one = Clustering.serveIvfSq(loaded, blobs, "vec_id", "embedding",
      1L, 1, 3)
    val scans = one.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("codes")) => s
    }
    assert(scans.nonEmpty, "no codes file scan in the serve plan")
    assert(scans.head.partitionFilters.map(_.toString).exists(_.contains("c_id")),
      s"no c_id partition filter: ${scans.head.partitionFilters}")
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"expected 1 selected cell of ${cellDirs.length}")
    // the add path: both fitted surfaces stay fixed — the updated codes
    // must equal one fused assign+encode pass over the union
    val p2 = tmpDir("ivfsq_up")
    val base = persisted(spark, Clustering.IvfSqTier,
      Clustering.buildIvfSqIndex(
        blobs.filter($"vec_id" % 2 === 0), "vec_id", "embedding", 4, 3, 2), p2)
    val updated = Clustering.updateIvfSqIndex(base,
      blobs.filter($"vec_id" % 2 =!= 0), "vec_id", "embedding")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select($"n_id", $"c_id".cast("long"), $"code").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
        .toSet
    assert(keyed(updated.codes) == keyed(Clustering.ivfSqAssign(
      blobs, "vec_id", "embedding", base.coarseLanes, base.sqLanes)))
    assert(keyed(updated.codes).size == 30)
    // remove == survivors under the same fits
    val removed = removedFrom(Clustering.IvfSqTier, updated, 3L, 4L)
    assert(keyed(removed.codes) == keyed(Clustering.ivfSqAssign(
      blobs.filter(!$"vec_id".isin(3L, 4L)), "vec_id", "embedding",
      base.coarseLanes, base.sqLanes)))
  }

  test("IvfPqrIndex roundtrip: serve survives save/load; cells scan prunes; update visible; remove forgets") {
    val path = tmpDir("ivfpqr_rt")
    val built = Clustering.buildIvfPqrIndex(blobs, "vec_id", "embedding",
      dim = 4, m = 2, k = 2, iters = 2, numCentroids = 3)
    val loaded = persisted(spark, Clustering.IvfPqrSharded, built, path)
    def serveSet(idx: Clustering.IvfPqrIndex) =
      Clustering.serveIvfPqr(idx, blobs, "vec_id", "embedding", 4, 2,
        maxQueryId = 3L, nprobe = 1, topK = 3).collect().map(_.toSeq).toSet
    assert(serveSet(loaded) == serveSet(built) && serveSet(loaded).nonEmpty)
    // the cells scan prunes to the probed cell partitions
    val one = Clustering.serveIvfPqr(loaded, blobs, "vec_id", "embedding",
      4, 2, 1L, 1, 3)
    val scans = one.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("cells")) => s
    }
    assert(scans.nonEmpty, "no cells file scan in the serve plan")
    assert(scans.head.partitionFilters.map(_.toString).exists(_.contains("c_id")),
      s"no c_id partition filter: ${scans.head.partitionFilters}")
    // the add path under all-fixed fits: delta rows join both surfaces
    // and become retrievable; a removed row stops being retrievable
    val p2 = tmpDir("ivfpqr_up")
    val base = persisted(spark, Clustering.IvfPqrSharded,
      Clustering.buildIvfPqrIndex(
        blobs.filter($"vec_id" % 2 === 0), "vec_id", "embedding",
        4, 2, 2, 2, 3), p2)
    val updated = Clustering.updateIvfPqrIndex(base,
      blobs.filter($"vec_id" % 2 =!= 0), "vec_id", "embedding", 4, 2)
    assert(updated.cells.count() == 30 && updated.codes.count() == 60)
    def served(idx: Clustering.IvfPqrIndex) =
      Clustering.serveIvfPqr(idx, blobs, "vec_id", "embedding", 4, 2,
        maxQueryId = 3L, nprobe = 3, topK = 5)
        .collect().map(_.getLong(2)).toSet
    val afterAdd = served(updated)
    assert(afterAdd.exists(_ % 2 == 1), s"no odd (added) id served: $afterAdd")
    assert(afterAdd.contains(9L), s"expected 9 in $afterAdd")
    val removed = removedFrom(Clustering.IvfPqrSharded, updated, 9L)
    assert(!served(removed).contains(9L), "removed vector still retrievable")
  }

  test("sqEncode clamps out-of-range delta lanes to the edge levels") {
    // Faiss add-time behavior: the trained bounds never move, so a
    // delta lane past hi pins to level 255 and below lo pins to 0
    val lanes = Clustering.sqFitLanes(blobs, "embedding", 4)
    val delta = Seq((100L, Seq(99f, -99f, 0f, 0f))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val code = Clustering.sqEncode(delta, lanes, "vec_id", "embedding")
      .collect().head.getSeq[Long](1)
    assert(code(0) == 255L && code(1) == 0L, code.mkString(","))
    // and an empty training corpus refuses loudly
    val e = intercept[IllegalArgumentException] {
      Clustering.sqFitLanes(blobs.filter($"vec_id" < 0), "embedding", 4)
    }
    assert(e.getMessage.contains("empty corpus"), e.getMessage)
  }
}
