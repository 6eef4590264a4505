package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Segmented shard roots — the WRITE-VOLUME fix for the sharded
  * doc-tier artifacts. Round-18's hash-sharded layouts bound the
  * rewrite UNIT at corpus/S, but a crawl delta's keys are hashes: a
  * few hundred docs' (band,bkey)/term/chunk keys spray across the
  * whole grid, so "rewrite only routed shards" still rewrote ~every
  * shard — measured at x25 (S=8, 200-doc delta): the sharded LSH/CDC
  * merge-update ran SLOWER than the unsharded one (4.2 s vs 2.4 s,
  * 8/8 shards touched), because per-shard merges re-persist each
  * touched shard's whole surface. Bounding the unit is not bounding
  * the volume.
  *
  * The fix is the log-structured split of data from visibility
  * (reference anchor: the bulk-load model itself — immutable HFiles
  * made live by a metadata pointer move, `KM/output/framework/
  * KijiHFileOutputFormat.java:122-186` + the loader's atomic handoff):
  *
  *   root/_gen_<ord>_<uuid>/_segments   the MANIFEST generation: a
  *                                      text file listing live segment
  *                                      dir names in ingestion order
  *   root/_seg_<ord>_<uuid>/<surface>/  immutable data segments
  *
  * An UPDATE writes one delta-sized segment per touched shard plus a
  * new manifest naming (old list :+ new) — write volume O(delta)
  * regardless of how many shards the delta's keys spray across. A
  * BUILD / REMOVE / COMPACT writes one full segment and a manifest
  * naming only it. Readers resolve the generation pointer, read the
  * manifest, and hand every listed `<seg>/<surface>` to ONE multi-path
  * scan — the single-scan economics hold, the path list just grows
  * with segment count until `index-compact` folds it back to one.
  *
  * Crash/GC safety inherits the generation protocol: segments are
  * written BEFORE any pointer moves, so a crashed writer leaves only
  * unreferenced `_seg_*` dirs; [[sweepOrphans]] deletes segments
  * referenced by NO present generation's manifest (the retained
  * displaced generation keeps its manifest, so in-flight readers'
  * segments survive exactly as long as their generation does), with
  * the same tree-mtime staging grace [[ArtifactStore.sweep]] applies
  * to generations — a writer mid-staging keeps its segment fresh.
  */
object SegmentStore {

  val ManifestFile = "_segments"
  private val SegPrefix = "_seg_"

  def isSegName(n: String): Boolean =
    n.startsWith(SegPrefix) && segOrdinal(n).isDefined

  /** `_seg_<ord>_<uuid>` → ord. */
  def segOrdinal(n: String): Option[Long] =
    if (!n.startsWith(SegPrefix)) None
    else n.stripPrefix(SegPrefix).takeWhile(_ != '_') match {
      case s if s.nonEmpty && s.forall(_.isDigit) => Some(s.toLong)
      case _ => None
    }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A root's entries, empty when the root does not exist yet — ONE
    * `listStatus` treating `FileNotFoundException` as absence (the
    * `ArtifactStore.readText` idiom: an `exists` probe first would pay a
    * second metadata call per touched root per commit). */
  private def listRoot(spark: SparkSession, root: String): Array[FileStatus] =
    try fsOf(spark, root).listStatus(new Path(root))
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** The highest ordinal of EVERY present `_seg_*` dir of a root, -1
    * when it holds none (not just the referenced ones — a displaced
    * generation's segments still hold their ordinals, and reusing one
    * would let an unreferenced dir shadow fresh data). One listing. */
  def maxSegOrdinal(spark: SparkSession, root: String): Long =
    listRoot(spark, root).iterator
      .flatMap(s => segOrdinal(s.getPath.getName)).foldLeft(-1L)(_ max _)

  /** A fresh segment name of ordinal `ord` (uuid-suffixed, so two
    * racing writers never collide on the directory). */
  def segName(ord: Long): String =
    f"${SegPrefix.stripSuffix("_")}_$ord%d_" +
      java.util.UUID.randomUUID().toString.take(8)

  /** The manifest of a generation dir: segment names in ingestion
    * order, or None when the directory holds no manifest. */
  def readManifest(spark: SparkSession, genDir: String): Option[Seq[String]] =
    ArtifactStore.readText(spark, new Path(genDir, ManifestFile)).map(
      _.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq)

  /** The manifest of a segmented shard root's generation, failing
    * loudly when it is missing. */
  def segmentsAt(spark: SparkSession, genDir: String): Seq[String] =
    readManifest(spark, genDir).getOrElse(throw new IllegalStateException(
      s"$genDir holds no segment manifest ($ManifestFile)"))

  /** Write a staged generation's manifest (small, single create). */
  def writeManifest(spark: SparkSession, genDir: String,
                    segs: Seq[String]): Unit = {
    require(segs.nonEmpty, s"empty segment manifest for $genDir")
    val fs = fsOf(spark, genDir)
    val out = fs.create(new Path(genDir, ManifestFile), true)
    try out.write(segs.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Data paths of one surface under a PINNED generation — the
    * manifest's `<root>/<seg>/<surface>` list. Every caller hands the
    * whole list to one multi-path scan. */
  def surfacePathsAt(spark: SparkSession, root: String, genDir: String,
                     surface: String): Seq[String] =
    segmentsAt(spark, genDir).map(s => s"$root/$s/$surface")

  /** Delete `_seg_*` dirs referenced by NO present generation's
    * manifest and stale past the staging grace (fresh tree mtime = a
    * writer mid-staging between its segment write and its commit —
    * the [[ArtifactStore.sweep]] above-live-generation grace, applied
    * to data). Returns the deleted names. Call after a successful
    * commit (the displaced-out generations' segments age out here) and
    * from `index-gc` (crashed writers' leftovers). */
  def sweepOrphans(spark: SparkSession, root: String,
                   graceMs: Long = ArtifactStore.StagingGraceMs)
      : Seq[String] = {
    val fs = fsOf(spark, root)
    val statuses = listRoot(spark, root)
    val referenced: Set[String] = statuses.iterator
      .map(_.getPath.getName)
      .filter(ArtifactStore.isGenName)
      .flatMap(g => readManifest(spark, s"$root/$g").getOrElse(Seq.empty))
      .toSet
    val now = System.currentTimeMillis()
    val victims = statuses.iterator
      .filter(s => isSegName(s.getPath.getName))
      .filter(s => !referenced(s.getPath.getName))
      .filter(s => now - ArtifactStore.treeMaxMtime(fs, s.getPath) >= graceMs)
      .map(_.getPath.getName).toSeq
    victims.foreach(n => fs.delete(new Path(root, n), true))
    victims
  }
}
