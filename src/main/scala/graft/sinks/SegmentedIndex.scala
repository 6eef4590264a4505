package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

/** The one lifecycle of every SHARDED index artifact (bm25-, lsh-,
  * cdc-, semdedup-, ivfflat-, ivfpq- and ivfpqr-sharded): the
  * rewrite-unit layout (reference
  * anchor: one immutable file set made live by one metadata move,
  * `KM/output/framework/KijiHFileOutputFormat.java:122-186`). A flat
  * artifact re-persists its corpus-sized surfaces wholesale on every
  * delta; here they split into S shard roots inside the artifact's top
  * generation `<gen>`, all made live by ONE segment manifest:
  *
  *   <gen>/_num_shards                     the grid size S
  *   <gen>/_segments/_gen_current          the manifest pointer
  *   <gen>/_segments/_gen_<o>/_segments    the manifest: every root's
  *                                         live segments
  *   <gen>/<family>/<s>/_seg_<o>/<surface>/ immutable data segments
  *   <gen>/<singleton>/_seg_<o>/<singleton>/ a 1-row rollup root (bm25
  *                                         `stats`), one segment
  *   <gen>/<root surface>/                 build-time surfaces no update
  *                                         moves (semdedup's fitted
  *                                         lanes/seeds/sizes/meta, the
  *                                         vector tiers' codebooks)
  *
  * A tier is a [[Tier]] descriptor: its shard FAMILIES (each a routing
  * column over S and the surfaces that swap together inside one segment
  * — a row whose sibling rows sit in another generation is a
  * silent-drop hazard), its singletons and build-time roots, and its
  * `live` fold — how raw segment scans merge into the live view. Every
  * routing key determines the rows a surface's derived state depends
  * on, so per-shard merges equal the global one.
  *
  * Every verb is the same five steps:
  *  1. open: resolve the artifact generation and read S;
  *  2. pin the manifest BEFORE any read — one pointer and one manifest
  *     read; the pointer is the commit's CAS expectation, so a writer
  *     that lands in between fails this commit loudly instead of being
  *     overwritten;
  *  3. scan each surface as ONE multi-path scan over the pinned roots'
  *     live segments — never an S-way union, whose per-branch planning
  *     is the cost sharding must not add. The exception is a surface
  *     laid out by a `partition` column (the vector tiers' `c_id=`
  *     cell directories): Spark's partition discovery refuses one scan
  *     over several roots' partition directories, so it scans as one
  *     branch per segment, each pruning its own cells;
  *  4. route rows to shards and collect the touched ones;
  *  5. commit through [[ShardedCommit.commitSegmented]]: the shard
  *     column and the empty surface of a rowless shard are added here.
  *
  * An append-mode update lands one DELTA-SIZED segment per touched
  * shard (write volume O(delta) however widely the delta's hash keys
  * spray); build, removal, compaction and merge-mode updates write one
  * full segment per touched shard. Reads merge the segments through
  * `live` until `index-compact` folds each root back to one. A tier
  * picks the mode an update takes by default ([[Tier.appends]]).
  */
object SegmentedIndex {

  /** One stored surface: its directory name and its columns in stored
    * order. `partition` names an integral column the surface is laid out by on
    * disk (`<surface>/<partition>=<v>/`, read back as a long), so a
    * scan filtered on it prunes directories. Such a surface is an
    * inverted list, and it also stores the artifact's attribute columns
    * — whatever its rows or a segment footer hold beyond `cols` —
    * between `cols` and `partition`, so a filtered serve prunes inside
    * the partitioned scan. */
  final case class Surface(name: String, cols: Seq[String],
                           partition: Option[String] = None) {
    def stored(attrCols: Seq[String]): Seq[String] =
      cols ++ attrCols ++ partition

    /** The attribute columns among `columns`. */
    def attrsOf(columns: Seq[String]): Seq[String] =
      if (partition.isDefined) columns.filterNot(c => cols.contains(c) ||
        partition.contains(c)) else Nil
  }

  /** S shard roots `<gen>/<name>/<s>` whose surfaces swap together
    * inside one segment; a row lives in shard `route(S)`. */
  final case class Family(name: String, route: Int => Column,
                          surfaces: Seq[Surface])

  /** A segmented tier's descriptor. `A` is the artifact a load returns —
    * the flat tier's, so every serve path is shared. */
  trait Tier[A] {
    def families: Seq[Family]

    /** 1-row rollup roots `<gen>/<name>`, rewritten whole as one
      * segment in the same manifest commit as the shards. */
    def singletons: Seq[Surface] = Nil

    /** The surface holding one row per indexed id, and its id column. */
    def ids: (String, String)

    /** Whether an update without an explicit mode appends its rows as
      * one delta-sized segment per touched shard; otherwise it merges
      * them into one full segment per touched shard. */
    def appends: Boolean = true

    /** One surface's live view from the raw segment scans in `s`. Load,
      * compaction and merge-mode updates all read through it. */
    def live(s: Scan, surface: String): DataFrame = s(surface)

    /** Every family surface and singleton of `a`, for a full write. */
    def surfacesOf(a: A): Map[String, DataFrame]

    /** The writes of the build-time root surfaces of `a` into
      * generation `dir`, staged beside a save's surfaces
      * ([[ShardedCommit.stageAll]]). */
    def writeRoots(dir: String, a: A): Seq[(DataFrame, DataFrame => Unit)] =
      Nil

    /** The artifact of generation `dir`, its surfaces read via `view`. */
    def artifact(spark: SparkSession, dir: String,
                 view: String => DataFrame): A

    /** A write of this tier, planned against the pinned artifact. */
    final def fold(plan: Scan => Write): Fold = Fold(this, plan)
  }

  /** The live generation of a segmented artifact and its grid size. */
  final case class Opened(spark: SparkSession, dir: String, numShards: Int)

  /** One update or removal: `keys` rows route the touched shards of each
    * family they name (a family not named is touched whole),
    * `singletons` names the singleton roots it rewrites, and `rows`
    * builds every surface it commits from the scan of the pinned roots. */
  final case class Write(keys: Map[String, DataFrame],
                         rows: Scan => Map[String, DataFrame],
                         singletons: Seq[String] = Nil)

  /** A tier's update or removal, planned over the pinned artifact: a
    * scan of every shard root, read only where the plan reads it. */
  final case class Fold(tier: Tier[_], plan: Scan => Write)

  /** A pinned root: its directory `key` under the artifact generation
    * (`<family>/<s>`) and its shard. */
  final case class Root(key: String, shard: Int)

  /** The pinned roots of one verb. `apply` is a surface's raw scan —
    * one multi-path scan over its family's pinned roots, or the pinned
    * singleton — built on first use; `live` is the tier's live view.
    * `layer` holds a merge-mode update's rows as one more segment. */
  final class Scan private[SegmentedIndex] (
      tier: Tier[_], val opened: Opened, val pinned: SegmentStore.Pinned,
      val roots: Seq[(Family, Seq[Root])], val singles: Seq[Surface],
      layer: Map[String, DataFrame]) {

    private val spark = opened.spark
    private val scans = scala.collection.mutable.Map.empty[String, DataFrame]
    private val attrCols = scala.collection.mutable.Map.empty[String, Seq[String]]

    private def familyOf(surface: String): Option[(Surface, Seq[Root])] =
      roots.iterator.flatMap { case (f, rs) =>
        f.surfaces.find(_.name == surface).map(_ -> rs) }.nextOption()

    /** A pinned surface's spec and its segment paths. */
    private def pathsOf(surface: String): (Surface, Seq[String]) =
      familyOf(surface) match {
        case Some((sp, rs)) => sp -> rs.flatMap(r => pinned.paths(r.key, surface))
        case None =>
          val sp = singles.find(_.name == surface).getOrElse(
            throw new IllegalArgumentException(s"$surface is not pinned"))
          sp -> pinned.paths(surface, surface)
      }

    /** The artifact's attribute columns on `surface` — read from one
      * pinned segment's footer (no job), so an update can demand them
      * from its delta. */
    def attrs(surface: String): Seq[String] = attrCols.getOrElseUpdate(surface, {
      val (sp, paths) = pathsOf(surface)
      if (sp.partition.isEmpty) Nil
      else sp.attrsOf(ArtifactStore.readSurface(spark, paths.head).columns.toSeq)
    })

    def apply(surface: String): DataFrame = scans.getOrElseUpdate(surface, {
      val (sp, paths) = pathsOf(surface)
      val cols = sp.stored(attrs(surface)).map(col)
      val raw = sp.partition.fold(Seq(ArtifactStore.readSurface(spark,
        paths: _*)))(p => paths.map(ArtifactStore.readSurface(spark, _)
          .withColumn(p, col(p).cast(LongType))))
      (raw ++ layer.get(surface)).map(_.select(cols: _*)).reduce(_ unionByName _)
    })

    /** Whether `surface` spans more than one segment of some root — the
      * partial segments `live` must merge. */
    def layered(surface: String): Boolean = layer.contains(surface) ||
      familyOf(surface).exists(_._2.exists(r =>
        pinned.segments(r.key).size > 1))

    def live(surface: String): DataFrame =
      if (familyOf(surface).isDefined) tier.live(this, surface)
      else apply(surface)

    /** The ordinal of the segments this commit mints — lets a segment's
      * rows carry their write order. */
    def segOrdinal: Column = lit(pinned.manifest.next)

    private[SegmentedIndex] def withLayer(rows: Map[String, DataFrame]): Scan =
      new Scan(tier, opened, pinned, roots, singles, rows)
  }

  def open(spark: SparkSession, root: String): Opened = {
    val dir = ArtifactStore.resolve(spark, root)
    Opened(spark, dir, ShardedCommit.numShards(spark, dir))
  }

  /** Scan `shards(family)` of every family and the named singletons of
    * the manifest `p`. */
  private def scan(tier: Tier[_], o: Opened, p: SegmentStore.Pinned,
                   shards: Family => Seq[Int], singles: Seq[String]): Scan =
    new Scan(tier, o, p, tier.families.map(f =>
        f -> shards(f).map(sh => Root(s"${f.name}/$sh", sh))),
      tier.singletons.filter(s => singles.contains(s.name)), Map.empty)

  /** Pin the manifest of `o`, then scan as [[scan]]. */
  private def pin(tier: Tier[_], o: Opened, shards: Family => Seq[Int],
                  singles: Seq[String]): Scan =
    scan(tier, o, SegmentStore.pin(o.spark, o.dir), shards, singles)

  /** Pin every shard root of the artifact at `root`. */
  def pinAll(spark: SparkSession, tier: Tier[_], root: String): Scan = {
    val o = open(spark, root)
    pin(tier, o, _ => 0 until o.numShards, Nil)
  }

  def load[A](spark: SparkSession, tier: Tier[A], root: String): A = {
    val o = open(spark, root)
    val s = pin(tier, o, _ => 0 until o.numShards, tier.singletons.map(_.name))
    tier.artifact(spark, o.dir, s.live)
  }

  /** The artifact's indexed ids as one `id` column — only the id
    * surface's family is pinned and scanned. */
  def ids(spark: SparkSession, tier: Tier[_], root: String): DataFrame = {
    val (surface, c) = tier.ids
    val o = open(spark, root)
    pin(tier, o, f => if (f.surfaces.exists(_.name == surface))
      0 until o.numShards else Nil, Nil).live(surface).select(col(c).as("id"))
  }

  /** Total live segment count — `index-describe`'s compaction-pressure
    * signal. */
  def liveSegments(spark: SparkSession, tier: Tier[_], root: String): Long =
    segmentCount(pinAll(spark, tier, root))

  private def segmentCount(s: Scan): Long =
    s.roots.map(_._2.map(r => s.pinned.segments(r.key).size.toLong).sum).sum

  /** A full write of `a` as a fresh generation of `path` (S = numShards),
    * committed against `expected` ([[ArtifactStore.publish]]). */
  def save[A](spark: SparkSession, tier: Tier[A], a: A, path: String,
              numShards: Int, expected: ArtifactStore.Expect = None): Unit = {
    val rows = tier.surfacesOf(a)
    ArtifactStore.publish(spark, path, expected) { dir =>
      ShardedCommit.writeNumShards(spark, dir, numShards)
      commit(scan(tier, Opened(spark, dir, numShards), SegmentStore.fresh(dir),
        _ => 0 until numShards, tier.singletons.map(_.name)), rows,
        ShardedCommit.SegReplace, tier.writeRoots(dir, a))
    }
  }

  /** Fold every shard root back to ONE segment holding its live view —
    * the read-amplification reset after append-mode updates; serves
    * before and after are identical. Returns the live segment counts
    * (before, after). */
  def compact(spark: SparkSession, tier: Tier[_], root: String)
      : (Long, Long) = compact(pinAll(spark, tier, root))

  /** [[compact]] of an already pinned artifact. */
  def compact(s: Scan): (Long, Long) = {
    val before = segmentCount(s)
    commit(s, liveRows(s), ShardedCommit.SegReplace)
    (before, s.roots.map(_._2.size.toLong).sum)
  }

  /** Fold a delta in, in the tier's default mode ([[Tier.appends]]). */
  def update(spark: SparkSession, root: String, fold: Fold): Seq[Int] =
    update(spark, root, fold, fold.tier.appends)

  /** Fold a delta in. `append` lands the fold's rows as one delta-sized
    * segment per touched shard; otherwise they merge with the touched
    * shards' segments through the tier's live view into one full segment
    * per shard (the compacting write). Returns the touched shards of the
    * first keyed family. */
  def update(spark: SparkSession, root: String, fold: Fold,
             append: Boolean): Seq[Int] =
    write(spark, root, fold) { (s, rows) =>
      if (append) commit(s, rows, ShardedCommit.SegAppend)
      else commit(s, liveRows(s.withLayer(rows)) ++
        s.singles.map(sp => sp.name -> rows(sp.name)),
        ShardedCommit.SegReplace)
    }

  /** Replace the touched shards with the fold's rows (a removal). */
  def remove(spark: SparkSession, root: String, fold: Fold): Seq[Int] =
    write(spark, root, fold)(commit(_, _, ShardedCommit.SegReplace))

  /** Open and pin, plan the fold, route its keys, scan the touched
    * shards and the singletons it rewrites, build its rows from that
    * scan and hand both to `commitRows`. */
  private def write(spark: SparkSession, root: String, fold: Fold)(
      commitRows: (Scan, Map[String, DataFrame]) => Unit): Seq[Int] = {
    val o = open(spark, root)
    val shards = 0 until o.numShards
    val all = pin(fold.tier, o, _ => shards, Nil)
    val w = fold.plan(all)
    val keyed = fold.tier.families.flatMap(f => w.keys.get(f.name).map(k =>
      f.name -> k.select(f.route(o.numShards)).distinct().collect()
        .map(_.getInt(0)).sorted.toSeq))
    if (keyed.nonEmpty && keyed.forall(_._2.isEmpty)) return Nil
    val s = scan(fold.tier, o, all.pinned,
      f => keyed.toMap.getOrElse(f.name, shards), w.singletons)
    commitRows(s, w.rows(s))
    keyed.headOption.fold(shards: Seq[Int])(_._2)
  }

  /** The live view of every surface of the pinned families. */
  private def liveRows(s: Scan): Map[String, DataFrame] =
    s.roots.filter(_._2.nonEmpty).flatMap(_._1.surfaces)
      .map(sp => sp.name -> s.live(sp.name)).toMap

  private def commit(s: Scan, rows: Map[String, DataFrame],
                     mode: ShardedCommit.SegMode,
                     rootWrites: Seq[(DataFrame, DataFrame => Unit)] = Nil)
      : Unit = {
    val n = s.opened.numShards
    def stored(sp: Surface): DataFrame = {
      val df = rows(sp.name)
      df.select(sp.stored(sp.attrsOf(df.columns.toSeq)).map(col): _*)
    }
    ShardedCommit.commitSegmented(s.opened.spark, s.pinned,
      s.roots.filter(_._2.nonEmpty).map { case (f, rs) =>
        ShardedCommit.SegFamily(rs, f.surfaces.map { sp =>
          val df = stored(sp)
          ShardedCommit.Surface(sp.name, df.withColumn("shard", f.route(n)),
            () => df.limit(0), sp.partition)
        }, mode)
      },
      s.singles.map(sp => stored(sp) -> sp.name), rootWrites)
  }
}
