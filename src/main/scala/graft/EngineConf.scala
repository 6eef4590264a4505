package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session settings every runtime main (Bench, Verify, Tool,
  * Explain, the scale benches) applies on top of its contract knobs.
  * Each is scale-motivated (guide §6/§9), none is a local[32] tune:
  *
  *  - '''parallelPartitionDiscovery.threshold''': the partitioned
  *    artifact layouts (`cells/c_id=<cell>`, `shard=<s>`) put 64-256
  *    partition directories under every index root, and Spark's default
  *    threshold (32 paths) turns EVERY `spark.read.parquet` of such a
  *    root into a distributed listing JOB (~0.1-0.25 s of pure
  *    scheduling at any scale; a sharded serve issues S of them, and
  *    measured round 18 they were ~2 s of q194's 19 s). Driver-side
  *    listing of ≤1024 directories is milliseconds on local FS
  *    (measured round 19: a 256-dir artifact grid lists in ~3 ms cold,
  *    <3 ms warm — vs the listing JOB's ~0.1-0.25 s); on an object
  *    store each
  *    directory is a LIST round-trip, so the driver-serial worst case
  *    is ~1024 sequential RPCs — single-digit seconds on a slow store,
  *    where a listing-job's fixed ~0.1-0.25 s schedule cost may win.
  *    The default (1024) is sized for the engine's artifact grids
  *    (≤256 dirs); deployments on high-latency stores can lower it via
  *    `SPARK_GRAFT_LISTING_THRESHOLD` without a code change. Grids
  *    larger than the threshold still engage the parallel path.
  *  - '''fileoutputcommitter v2''': every engine artifact write lands
  *    in a staging/generation directory that is published by an atomic
  *    rename or pointer flip (ArtifactStore.publish, ShardedCommit,
  *    BulkSink) — no index artifact byte is ever written in place — so
  *    v1's extra job-commit rename pass (one rename per task output,
  *    serial on the driver) buys no safety the artifact protocol does
  *    not already provide; it only doubles the metadata ops of the
  *    256-directory staged writes. A crash mid-job leaves a partial
  *    generation no pointer names.
  *  - '''zstd parquet''': smaller artifacts at similar read speed
  *    (guide §6); content is unchanged, so save→load exactness and
  *    every oracle comparison are unaffected.
  */
object EngineConf {
  /** Driver-side listing cutoff (paths per scan root). Conf-exposed so
    * object-store deployments can size it to their LIST latency; the
    * default matches the engine's own artifact grids. */
  val ListingThreshold: Int =
    sys.env.get("SPARK_GRAFT_LISTING_THRESHOLD").map(_.toInt).getOrElse(1024)

  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      ListingThreshold.toString)
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.sql.parquet.compression.codec", "zstd")
}
