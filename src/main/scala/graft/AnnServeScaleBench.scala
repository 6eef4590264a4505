package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.SegmentedIndex

/** Dev microbenchmark for the FIXED-INDEX serve slope of the IVF-flat
  * tier: the per-round bench queries (q156/q157) time build+save+serve
  * together, so the corpus-tier ratio is dominated by the n·k coarse
  * fit — the operational question for an ANN index is different: "the
  * corpus doubled and was re-indexed; what happened to QUERY cost?"
  *
  * Protocol: build + persist the IvfFlatIndex ONCE on the given corpus
  * (centroid count on the engine's √n ladder), reload it, then time the
  * same fixed query batch two ways, min-of-2 each:
  *
  *  - `serve_pruned`: [[graft.operators.Clustering.serveIvfFlat]] — the
  *    postings tier: probes kernel-rank the query batch only, the scan
  *    reads the probed cell partitions. Expected ~flat in corpus size
  *    (probed cells stay ≈ batch·nprobe, each ≈ targetRows wide).
  *  - `serve_legacy`: `Similarity.knnIvfWith` against the loaded
  *    CODEBOOK only (q111's artifact) — re-assigns every corpus vector
  *    per query batch. Expected ≈ n·k: the cost the postings tier
  *    removes.
  *
  * Run once per corpus tier and compare rows across tiers. Prints one
  * JSON line; recorded in BASELINE.md.
  *
  * Usage:
  *   SPARK_GRAFT_ANN_CORPUS=/tmp/sfscale2.5 sbt "runMain graft.AnnServeScaleBench"
  */
object AnnServeScaleBench {
  def main(args: Array[String]): Unit = {
    val corpusDir = sys.env.getOrElse("SPARK_GRAFT_ANN_CORPUS", "/tmp/sfscale2.5")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .appName("graft-ann-serve-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.{Clustering, Similarity}
    import graft.sinks.SegmentedIndex

    val emb = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    // SPARK_GRAFT_ANN_MAXBITS (default 16): forcing a LOWER ladder cap
    // emulates the n > 4^maxBits regime locally (the real 2^16-centroid
    // cap needs a billion-row corpus) — past the cap k stops doubling,
    // so the n·k fit term must turn LINEAR in n instead of n^1.5
    // (BASELINE.md round-15 "fit bend" rows measure exactly this).
    val maxBits = sys.env.get("SPARK_GRAFT_ANN_MAXBITS")
      .map(_.toInt).getOrElse(16)
    val k = 1 << Similarity.quadBitsFor(n, maxBits)
    val path = s"/tmp/annservescale_idx_${System.nanoTime()}"

    val tBuild = System.nanoTime()
    SegmentedIndex.save(spark, Clustering.IvfFlatSharded,
      Clustering.buildIvfFlatIndex(emb, "vec_id", "embedding", k), path, 1)
    val buildSec = (System.nanoTime() - tBuild) / 1e9

    val idx = SegmentedIndex.load(spark, Clustering.IvfFlatSharded, path)
    val cents = Similarity.centroidSetFromLanes(idx.lanes)
    val (maxQueryId, nprobe, topK) = (20L, 2, 3)

    def timeMin2(run: () => Unit): Double =
      Seq.fill(2) {
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min

    val pruned = timeMin2(() =>
      Clustering.serveIvfFlat(idx, emb, "vec_id", "embedding",
          maxQueryId, nprobe, topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)
    val legacy = timeMin2(() =>
      Similarity.knnIvfWith(emb, "vec_id", "embedding", cents,
          maxQueryId, nprobe, topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)

    // the composed compressed artifact: same probe shape, ADC ranking
    // over the probed cells' codes — no raw vectors read at serve
    val pqPath = s"/tmp/annservescale_pq_${System.nanoTime()}"
    // reuse the ivfflat fit (buildIvfPqIndexWith): one coarse quantizer
    // serves both artifacts, and both recall rows probe IDENTICAL cells
    SegmentedIndex.save(spark, Clustering.IvfPqSharded,
      Clustering.buildIvfPqIndexWith(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iters = 2, coarseLanes = idx.lanes), pqPath, 1)
    val pqIdx = SegmentedIndex.load(spark, Clustering.IvfPqSharded, pqPath)
    val adc = timeMin2(() =>
      Clustering.serveIvfPq(pqIdx, emb, "vec_id", "embedding",
          dim = 64, m = 8, maxQueryId, nprobe, topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)

    // the compressed-FLAT tier: SQ8 has no probe pruning by design, so
    // its serve is the honest linear-in-n row — the contrast that shows
    // what the inverted-list tiers buy (and what 1-byte lanes cost vs
    // the 8-byte scaled floats of a raw flat scan)
    val sqPath = s"/tmp/annservescale_sq_${System.nanoTime()}"
    val tSq = System.nanoTime()
    SegmentedIndex.save(spark, Clustering.SqTier,
      Clustering.buildSqIndex(emb, "vec_id", "embedding", dim = 64), sqPath, 1)
    val sqBuildSec = (System.nanoTime() - tSq) / 1e9
    val sqIdx = SegmentedIndex.load(spark, Clustering.SqTier, sqPath)
    val sqServe = timeMin2(() =>
      Clustering.serveSq(sqIdx, emb, "vec_id", "embedding", maxQueryId,
          topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)

    // composed IVF×SQ on the shared coarse fit: the serve should stay
    // flat across a corpus doubling (probed cells only) while the flat
    // sq row above grows with n — the same contrast ivfflat:legacy has,
    // one compression tier down
    val ivfSqPath = s"/tmp/annservescale_ivfsq_${System.nanoTime()}"
    SegmentedIndex.save(spark, Clustering.IvfSqTier,
      Clustering.buildIvfSqIndexWith(emb, "vec_id", "embedding", dim = 64,
        idx.lanes), ivfSqPath, 1)
    val ivfSqIdx = SegmentedIndex.load(spark, Clustering.IvfSqTier, ivfSqPath)
    val ivfSqServe = timeMin2(() =>
      Clustering.serveIvfSq(ivfSqIdx, emb, "vec_id", "embedding",
          maxQueryId, nprobe, topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)

    // residual IVFPQ on the shared fit: the per-(query, cell) tables
    // cost nprobe× the raw tier's broadcast, but serve I/O is the same
    // pruned cells — also expected ~flat across the doubling
    val pqrPath = s"/tmp/annservescale_pqr_${System.nanoTime()}"
    SegmentedIndex.save(spark, Clustering.IvfPqrSharded,
      Clustering.buildIvfPqrIndexWith(emb, "vec_id", "embedding",
        dim = 64, m = 8, k = 16, iters = 2, coarseLanes = idx.lanes), pqrPath, 1)
    val pqrIdx = SegmentedIndex.load(spark, Clustering.IvfPqrSharded, pqrPath)
    val pqrServe = timeMin2(() =>
      Clustering.serveIvfPqr(pqrIdx, emb, "vec_id", "embedding",
          dim = 64, m = 8, maxQueryId, nprobe, topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)

    // SHARDED layout of the SAME index (8 shard roots, shared
    // codebook): serve is the per-shard probe union — expected
    // to TRACK serve_pruned across the corpus doubling (equal postings
    // sets; each shard keeps its own probed-cell pruning, so the only
    // delta is fixed per-scan listing overhead, not data)
    val shPath = s"/tmp/annservescale_sh_${System.nanoTime()}"
    SegmentedIndex.save(spark, Clustering.IvfFlatSharded, idx, shPath, 8)
    val shIdx = SegmentedIndex.load(spark, Clustering.IvfFlatSharded, shPath)
    val sharded = timeMin2(() =>
      Clustering.serveIvfFlat(shIdx, emb, "vec_id", "embedding",
          maxQueryId, nprobe, topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)

    // SHARDED layout of the COMPRESSED tier (the production serving
    // shape): per-shard cells+codes roots, shared codebooks — the ADC
    // serve is expected to TRACK serve_ivfpq_adc across the doubling
    // (equal surface sets; per-shard probed-cell pruning holds)
    val pqShPath = s"/tmp/annservescale_pqsh_${System.nanoTime()}"
    SegmentedIndex.save(spark, Clustering.IvfPqSharded, pqIdx, pqShPath, 8)
    val pqShIdx = SegmentedIndex.load(spark, Clustering.IvfPqSharded, pqShPath)
    val pqSharded = timeMin2(() =>
      Clustering.serveIvfPq(pqShIdx, emb, "vec_id", "embedding",
          dim = 64, m = 8, maxQueryId, nprobe, topK)
        .agg(count(lit(1)), sum(col("rank"))).head(): Unit)

    // recall@topK vs exact brute force for the same query batch — the
    // quality side of the speed numbers (nprobe=2 of k cells; ADC adds
    // quantization error on top of the probe miss rate)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          (q, rs.map(_.getLong(1)).toSet)
        }
    val exact = topSets(Similarity.knnExact(emb, "vec_id", "embedding",
      maxQueryId, topK))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = topSets(df)
      val per = exact.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }
    // the recall/nprobe curve is the tier's quality knob: more probed
    // cells → higher recall at proportionally higher (still pruned)
    // serve cost. The synthetic corpus is hash-uniform — the hardest
    // case for IVF (no cluster structure for cells to capture), so
    // these are recall FLOORS; clustered real embeddings sit far above.
    val curve = Seq(2, 8, 32).map { np =>
      val rf = recall(Clustering.serveIvfFlat(idx, emb, "vec_id",
        "embedding", maxQueryId, np, topK))
      val rp = recall(Clustering.serveIvfPq(pqIdx, emb, "vec_id",
        "embedding", dim = 64, m = 8, maxQueryId, np, topK))
      s""""nprobe$np":{"ivfflat":${f"$rf%.3f"},"ivfpq":${f"$rp%.3f"}}"""
    }.mkString(",")
    // sq scans everything — one recall number, no nprobe axis; its loss
    // is pure 8-bit quantization error (and L2-vs-cosine metric skew)
    val sqRecall = recall(Clustering.serveSq(sqIdx, emb, "vec_id",
      "embedding", maxQueryId, topK))

    println(s"""{"metric":"ann_serve_scale","corpus":"$corpusDir",""" +
      s""""rows":$n,"centroids":$k,"build_sec":${f"$buildSec%.2f"},""" +
      s""""serve_pruned_sec":${f"$pruned%.2f"},""" +
      s""""serve_legacy_sec":${f"$legacy%.2f"},""" +
      s""""serve_ivfpq_adc_sec":${f"$adc%.2f"},""" +
      s""""sq_build_sec":${f"$sqBuildSec%.2f"},""" +
      s""""serve_sq_sec":${f"$sqServe%.2f"},""" +
      s""""serve_ivfsq_sec":${f"$ivfSqServe%.2f"},""" +
      s""""serve_ivfpqr_sec":${f"$pqrServe%.2f"},""" +
      s""""serve_sharded_sec":${f"$sharded%.2f"},""" +
      s""""serve_ivfpq_sharded_sec":${f"$pqSharded%.2f"},""" +
      s""""recall":{$curve,"sq":${f"$sqRecall%.3f"}}}""")
    spark.stop()
  }
}
