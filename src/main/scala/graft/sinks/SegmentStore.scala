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
  * (reference anchor: the bulk-load model itself — a whole set of
  * immutable HFiles made live by ONE metadata move, `KM/output/framework/
  * KijiHFileOutputFormat.java:122-186` + the loader's atomic handoff;
  * the Iceberg/Delta manifest commit is the same shape):
  *
  *   <gen>/_segments/_gen_current          the ONE manifest pointer
  *   <gen>/_segments/_gen_<o>_<uuid>/_segments
  *                                         a manifest generation: the
  *                                         live segment list of EVERY
  *                                         root, in ingestion order
  *   <gen>/<root>/_seg_<o>_<uuid>/<surface>/ immutable data segments
  *
  * A root (`<family>/<s>`, or a singleton such as bm25 `stats`) holds
  * only `_seg_*` data directories: no pointer, no generations. An
  * UPDATE lands one delta-sized segment per touched root and commits a
  * manifest naming (old list :+ new) for those roots — write volume
  * O(delta) however widely the delta's keys spray; a BUILD / REMOVE /
  * COMPACT lands one full segment and names only it. Either way the
  * commit is one manifest file and one pointer compare-and-swap
  * ([[commit]]), whatever the number of roots. Readers pin the pointer,
  * read the manifest, and hand every listed `<seg>/<surface>` of a
  * surface to ONE multi-path scan — the path list grows with segment
  * count until `index-compact` folds it back to one.
  *
  * Crash/GC safety: segments land BEFORE the pointer moves, so a crashed
  * or CAS-losing writer leaves only segments no manifest names
  * ([[orphans]], swept by `index-gc`). A successful commit deletes what
  * retention retires — the segments only the dropped manifest
  * generation named — from the pinned manifest's `retired` list, with
  * no listing.
  */
object SegmentStore {

  val ManifestFile = "_segments"
  private val SegPrefix = "_seg_"

  def isSegName(n: String): Boolean =
    n.startsWith(SegPrefix) &&
      n.stripPrefix(SegPrefix).takeWhile(_ != '_').toLongOption.isDefined

  /** A fresh segment name of ordinal `ord` (uuid-suffixed, so two
    * racing writers never collide on the directory). */
  def segName(ord: Long): String =
    f"${SegPrefix.stripSuffix("_")}_$ord%d_" +
      java.util.UUID.randomUUID().toString.take(8)

  /** One manifest generation: `next` is the ordinal the next commit's
    * segments take (one per commit, so a root's segment ordinals rise
    * strictly), `roots` each root's live segments in ingestion order,
    * and `retired` the `<root>/<seg>` segments the previous manifest
    * named and this one does not. */
  final case class Manifest(next: Long, roots: Map[String, Seq[String]],
                            retired: Seq[String]) {
    def render: String = (Seq(s"next $next", ("retired" +: retired)
      .mkString(" ")) ++ roots.toSeq.sortBy(_._1).map { case (k, ss) =>
        ("root" +: k +: ss).mkString(" ") }).mkString("", "\n", "\n")

    /** Every segment this manifest names, as `<root>/<seg>`. */
    def named: Set[String] =
      roots.iterator.flatMap { case (k, ss) => ss.map(s => s"$k/$s") }.toSet
  }

  /** [[Manifest.render]]'s inverse; fails loudly on a torn file. */
  def parseManifest(where: String, text: String): Manifest = {
    val lines = text.split("\n").map(_.trim.split(" ").toSeq)
    def tagged(tag: String) = lines.filter(_.head == tag).map(_.tail)
    scala.util.Try(Manifest(tagged("next").head.head.toLong,
        tagged("root").map(l => l.head -> l.tail).toMap, tagged("retired").head))
      .getOrElse(throw new IllegalStateException(
        s"$where: unreadable segment manifest"))
  }

  /** A segmented artifact generation `dir` pinned at one manifest:
    * `loaded` is the manifest pointer read (the commit's CAS
    * expectation; None for a save into a fresh generation). */
  final case class Pinned(dir: String, loaded: Option[String],
                          manifest: Manifest) {
    def root: String = s"$dir/$ManifestFile"

    /** Root `key`'s live segments. */
    def segments(key: String): Seq[String] = manifest.roots.getOrElse(key, Nil)

    /** Data paths of one surface of root `key` — every caller hands the
      * whole list to one multi-path scan. */
    def paths(key: String, surface: String): Seq[String] =
      segments(key).map(s => s"$dir/$key/$s/$surface")
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A directory's entries, empty when it does not exist — ONE
    * `listStatus` treating `FileNotFoundException` as absence (the
    * `ArtifactStore.readText` idiom). */
  private[graft] def list(fs: FileSystem, dir: String): Array[FileStatus] =
    try fs.listStatus(new Path(dir))
    catch { case _: java.io.FileNotFoundException => Array.empty }

  private def readManifest(spark: SparkSession,
                           genDir: String): Option[Manifest] =
    ArtifactStore.readText(spark, new Path(genDir, ManifestFile))
      .map(parseManifest(genDir, _))

  /** Whether `dir` is a segmented artifact generation. */
  def isSegmented(spark: SparkSession, dir: String): Boolean =
    ArtifactStore.currentGen(spark, s"$dir/$ManifestFile").isDefined

  /** Pin generation `dir`'s manifest: one pointer read and one manifest
    * read. Fails loudly for a generation with no manifest pointer — one
    * written in the earlier per-shard-root layout, which is not read. */
  def pin(spark: SparkSession, dir: String): Pinned = {
    val root = s"$dir/$ManifestFile"
    val loaded = ArtifactStore.currentGen(spark, root).getOrElse(
      throw new IllegalStateException(s"$dir holds no segment manifest " +
        s"($root/${ArtifactStore.PointerFile}): a segmented artifact " +
        s"written in the per-shard-root layout is not read — rebuild it " +
        s"with index-build"))
    Pinned(dir, Some(loaded), readManifest(spark, s"$root/$loaded")
      .getOrElse(throw new IllegalStateException(
        s"$root/$loaded holds no segment manifest ($ManifestFile)")))
  }

  /** The empty pin a save into the fresh generation `dir` commits on. */
  def fresh(dir: String): Pinned = Pinned(dir, None, Manifest(0L, Map.empty, Nil))

  /** Commit `landed` (the new segment lists of the roots a write
    * touched) on top of `p`: the next manifest — `p`'s, with those
    * lists replaced — as one file in a fresh manifest generation, then
    * ONE [[ArtifactStore.commitGen]] compare-and-swap against `p.loaded`
    * — a writer that committed since the pin fails this commit loudly,
    * its landed segments left for [[orphans]]. Retention then drops the
    * generation `p` displaced; the segments only that generation named
    * are exactly `p`'s `retired` list (segment names never return to a
    * manifest once dropped), deleted here without a listing. */
  def commit(spark: SparkSession, p: Pinned,
             landed: Seq[(String, Seq[String])]): Unit = {
    val next = Manifest(p.manifest.next + 1L, p.manifest.roots ++ landed,
      landed.flatMap { case (key, segs) =>
        p.segments(key).filterNot(segs.contains).map(s => s"$key/$s") })
    val gen = ArtifactStore.newGenDir(spark, p.root, p.loaded)
    val fs = fsOf(spark, gen)
    val out = fs.create(new Path(gen, ManifestFile), true)
    try out.write(next.render.getBytes("UTF-8")) finally out.close()
    ArtifactStore.commitGen(spark, p.root, gen, p.loaded)
    p.manifest.retired.foreach(s => fs.delete(new Path(p.dir, s), true))
  }

  /** The `<root>/<seg>` segments of generation `dir` that NO present
    * manifest generation names — a crashed or CAS-losing writer's
    * landed segments — sparing those modified within `graceMs` (a
    * writer between landing and committing; the
    * [[ArtifactStore.sweep]] staging grace, applied to data). Lists the
    * manifest root and each root once. */
  def orphans(spark: SparkSession, dir: String, graceMs: Long): Seq[String] = {
    val fs = fsOf(spark, dir)
    val root = s"$dir/$ManifestFile"
    val manifests = list(fs, root).iterator.map(_.getPath.getName)
      .filter(ArtifactStore.isGenName)
      .flatMap(g => readManifest(spark, s"$root/$g")).toSeq
    val named = manifests.flatMap(_.named).toSet
    val now = System.currentTimeMillis()
    manifests.flatMap(_.roots.keys).distinct.sorted.flatMap { key =>
      list(fs, s"$dir/$key").iterator.map(_.getPath.getName)
        .filter(isSegName).map(s => s"$key/$s")
        .filterNot(named)
        .filter(s => graceMs <= 0L ||
          now - ArtifactStore.treeMaxMtime(fs, new Path(dir, s)) >= graceMs)
        .toSeq.sorted
    }
  }

  /** Delete [[orphans]] (`index-gc`); returns the deleted names. */
  def sweepOrphans(spark: SparkSession, dir: String,
                   graceMs: Long): Seq[String] =
    orphans(spark, dir, graceMs)
      .tapEach(s => fsOf(spark, dir).delete(new Path(dir, s), true))
}
