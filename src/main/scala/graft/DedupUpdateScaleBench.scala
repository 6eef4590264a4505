package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.SegmentedIndex

/** Dev microbenchmark for the UPDATE-side rewrite unit of the doc-tier
  * dedup artifacts — the round-18 sharding's operational claim: with a
  * FIXED delta batch, the unsharded `index-update` re-persists the
  * whole corpus-sized surface (cost ∝ corpus), while the sharded update
  * rewrites only the delta's routed shards (cost ∝ corpus/S × touched).
  *
  * Protocol, per tier (LSH banded index, CDC chunk artifact): build +
  * persist both layouts ONCE on the corpus, then time folding the SAME
  * ~200-doc delta
  *
  *  - `*_unsharded`: load → union/merge fold → re-save the WHOLE
  *    artifact (exactly the unsharded `index-update` verb's work);
  *  - `*_sharded`:   the merge-mode routed-shards update (whole-shard
  *    rewrites — measured SLOWER than unsharded at x25, because a
  *    200-doc delta's hashes spray across all 8 shards);
  *  - `*_append`:    the segmented append-mode update (one delta-sized
  *    segment per routed shard — the O(delta) write volume the
  *    round-18 SegmentStore layout exists for).
  *
  * Run once per corpus tier (x25/x50 — `scripts/gen_scale.py`) and
  * compare rows across tiers: the unsharded and merge columns track
  * corpus size, the append column should stay ~flat. Prints one JSON
  * line; recorded in BASELINE.md.
  *
  * Usage:
  *   SPARK_GRAFT_SCALE_CORPUS=/tmp/x25 sbt "runMain graft.DedupUpdateScaleBench"
  */
object DedupUpdateScaleBench {
  def main(args: Array[String]): Unit = {
    val corpusDir =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_CORPUS", "/tmp/x25")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "16g")
      .appName("graft-dedup-update-scale")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    import graft.operators.Dedup

    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val n = docs.count()
    val (numHashes, bands, avgMask, numShards) = (28, 4, 32, 8)
    // fixed-size deltas with fresh ids — the daily-crawl shape (two
    // disjoint batches: one folded in merge mode, one appended, so the
    // modes time against the same artifact at the same corpus size)
    val delta = docs.orderBy(col("doc_id")).limit(200)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      .cache()
    delta.count()
    val delta2 = docs.orderBy(col("doc_id")).limit(200)
      .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
      .cache()
    delta2.count()
    def shingles(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"),
        columnOf(graft.plans.WordShingleHashes(
          expressionOf(col("text")), 3, 7)).as("ghash"))
    val tag = System.nanoTime()

    def timed(run: () => Unit): Double = {
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }

    // ── LSH tier ──
    val lshFlat = s"/tmp/updscale_lshflat_$tag"
    val lshSh = s"/tmp/updscale_lshsh_$tag"
    val lshIndex = Dedup.bandedSignaturesTiled(shingles(docs), numHashes, bands)
    Dedup.saveLshIndex(lshIndex, lshFlat)
    SegmentedIndex.save(spark, Dedup.LshSharded, lshIndex, lshSh, numShards)
    val lshUnsharded = timed(() =>
      Dedup.saveLshIndex(Dedup.updateLshIndex(
        Dedup.loadLshIndex(spark, lshFlat), shingles(delta),
        numHashes, bands), s"${lshFlat}_upd"))
    var lshTouched = 0
    val lshSharded = timed(() =>
      lshTouched = SegmentedIndex.update(spark, lshSh,
        Dedup.LshSharded.delta(shingles(delta), numHashes, bands),
        append = false).size)
    val lshAppend = timed(() =>
      SegmentedIndex.update(spark, lshSh,
        Dedup.LshSharded.delta(shingles(delta2), numHashes, bands)))

    // ── CDC tier ──
    val cdcFlat = s"/tmp/updscale_cdcflat_$tag"
    val cdcSh = s"/tmp/updscale_cdcsh_$tag"
    val cdcArt = Dedup.buildCdcArtifact(docs, "doc_id", "text", avgMask)
    Dedup.saveCdcArtifact(cdcArt, cdcFlat)
    SegmentedIndex.save(spark, Dedup.CdcSharded, cdcArt, cdcSh, numShards)
    val cdcUnsharded = timed(() =>
      Dedup.saveCdcArtifact(Dedup.updateCdcArtifact(
        Dedup.loadCdcArtifact(spark, cdcFlat), delta, "doc_id", "text",
        avgMask), s"${cdcFlat}_upd"))
    var cdcTouched = 0
    val cdcSharded = timed(() =>
      cdcTouched = SegmentedIndex.update(spark, cdcSh,
        Dedup.CdcSharded.delta(delta, avgMask), append = false).size)
    val cdcAppend = timed(() =>
      SegmentedIndex.update(spark, cdcSh,
        Dedup.CdcSharded.delta(delta2, avgMask)))

    graft.operators.OperatorCaches.releaseAll()
    println(f"""{"metric":"dedup_update_scale","corpus":"$corpusDir","rows":$n,"delta_rows":200,"shards":$numShards,"lsh_unsharded_sec":$lshUnsharded%.2f,"lsh_sharded_sec":$lshSharded%.2f,"lsh_append_sec":$lshAppend%.2f,"lsh_touched":$lshTouched,"cdc_unsharded_sec":$cdcUnsharded%.2f,"cdc_sharded_sec":$cdcSharded%.2f,"cdc_append_sec":$cdcAppend%.2f,"cdc_touched":$cdcTouched}""")
    spark.stop()
  }
}
