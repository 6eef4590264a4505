package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a sharded artifact's shard roots commit: the `_num_shards`
  * grid marker every sharded tier records, and the staged,
  * all-or-nothing segment commit behind [[SegmentedIndex]] (whose
  * scaladoc describes the layout). A commit keeps four rules:
  *
  *  1. every surface stages as ONE `partitionBy("shard")` job (never a
  *     write per shard — S jobs of planning overhead for one job's I/O);
  *  2. each shard's staged partition directories RENAME into that
  *     shard's fresh segment — surfaces sharing a family swap TOGETHER
  *     inside one segment (a row in one surface whose sibling rows are
  *     in another generation is a silent-drop hazard);
  *  3. a shard with no staged rows gets an EXPLICIT schema-bearing
  *     empty surface, so later readers/updates never hit a missing
  *     directory (and schema discovery survives a rowless shard);
  *  4. [[ArtifactStore.commitGenAll]] verifies every CAS precondition
  *     before ANY pointer flips — a lost race aborts with the write
  *     unapplied EVERYWHERE.
  */
object ShardedCommit {

  /** [[ArtifactStore.pinGen]]'s result: (root, loaded pointer — the CAS
    * expectation, resolved directory reads planned against). */
  type Pin = (String, Option[String], String)

  /** One shard-keyed surface: `df` must carry an int `shard` column
    * routing each row; `empty` supplies the schema-bearing zero-row
    * frame written where a shard has no staged rows. `wave` orders the
    * staging: surfaces stage concurrently WITHIN a wave, waves run in
    * ascending order — a surface derived from another surface's
    * persisted lineage stages in a later wave so its job plans against
    * the already-materialized cache instead of recomputing the shared
    * ancestor (the saveBm25Index wave pattern, generalized). */
  final case class Surface(name: String, df: DataFrame,
                           empty: () => DataFrame, wave: Int = 0)

  /** The shard-grid size every sharded save records inside its
    * generation (`<gen>/_num_shards`): routing hashes mod it, so it can
    * never change without a rebuild. Every load/update/serve starts
    * with it, so it is a tiny driver-side text file (one `open`, never
    * a Spark job — a parquet read of one int cost ~60-150 ms of
    * scheduling, several times per lifecycle op). Underscore-prefixed,
    * so Spark listings of the generation never surface it. */
  private val NumShardsFile = "_num_shards"

  def writeNumShards(spark: SparkSession, base: String,
                     numShards: Int): Unit = {
    require(numShards > 0, s"numShards must be positive: $numShards")
    val p = new org.apache.hadoop.fs.Path(base, NumShardsFile)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(numShards.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The grid size of the sharded artifact generation `base`, None when
    * `base` holds no sharded artifact (no marker). */
  def shardCount(spark: SparkSession, base: String): Option[Int] =
    ArtifactStore.readText(spark,
        new org.apache.hadoop.fs.Path(base, NumShardsFile))
      .map(t => t.trim.toIntOption.getOrElse(throw new IllegalStateException(
        s"$base/$NumShardsFile is unreadable: '$t'")))

  def numShards(spark: SparkSession, base: String): Int =
    shardCount(spark, base).getOrElse(throw new IllegalStateException(
      s"no sharded artifact at $base ($NumShardsFile missing)"))

  /** How a [[SegFamily]]'s fresh segment joins each shard's manifest:
    * REPLACE makes it the only live segment (build / compact / remove —
    * the full-surface writes), APPEND adds it after the pinned
    * generation's list (the O(delta) update). */
  sealed trait SegMode
  case object SegReplace extends SegMode
  case object SegAppend extends SegMode

  /** Shard roots swapping the same surfaces together through the
    * SEGMENTED layout ([[graft.sinks.SegmentStore]]): each pinned root
    * gets one new immutable `_seg_*` data dir holding one directory per
    * surface, plus a manifest-only generation. */
  final case class SegFamily(shards: Seq[SegmentedIndex.Root],
                             surfaces: Seq[Surface], mode: SegMode)

  /** Stage every surface concurrently: the per-surface staging writes
    * are independent jobs, so overlapping them collapses their driver
    * scheduling / output-commit latencies (guide §2.6 — measured round
    * 18: the sequential form serialized 2-4 write jobs per commit).
    * `extras` are bounded independent writes (the singleton rollup
    * roots) folded into the FIRST wave instead of serializing after the
    * renames. Lambda isolation via
    * [[graft.operators.Clustering.concurrentFrames]] keeps
    * concurrently-evaluating plans from sharing `NamedLambdaVariable`
    * slots. */
  private def stageAll(surfs: Seq[(Surface, String)],
                       extras: Seq[(DataFrame, DataFrame => Unit)]): Unit = {
    val byWave = surfs.groupBy(_._1.wave).toSeq.sortBy(_._1)
    if (byWave.isEmpty) {
      graft.operators.Clustering.concurrentFrames(extras.map(_._1)) {
        (i, df) => extras(i)._2(df)
      }
      return
    }
    byWave.zipWithIndex.foreach { case ((_, ws), wi) =>
      val ex = if (wi == 0) extras else Nil
      graft.operators.Clustering.concurrentFrames(
        ws.map(_._1.df) ++ ex.map(_._1)) { (i, df) =>
        if (i < ws.size)
          // explicit count: a bare keyed repartition lets AQE coalesce
          // the staging to one serial-writer task (Clustering.writePar)
          df.repartition(graft.operators.Clustering.writePar(df),
              org.apache.spark.sql.functions.col("shard"))
            .write.mode("overwrite").partitionBy("shard").parquet(ws(i)._2)
        else ex(i - ws.size)._2(df)
      }
      ()
    }
  }

  /** Stage every family's surfaces (one `partitionBy("shard")` job per
    * surface), land each shard's staged partitions in a fresh IMMUTABLE
    * `_seg_*` dir, give each shard a new generation holding only the
    * manifest naming its live segment list (see
    * [[graft.sinks.SegmentStore]]), and flip all pointers in one
    * [[ArtifactStore.commitGenAll]] transaction claimed at `path` —
    * write volume is the staged rows, never the shard's prior surface.
    * `singletons` are bounded rollup roots (e.g. BM25's 1-row stats)
    * committing in the same transaction as single-file generations.
    * After the flip, each root's orphaned segments (displaced-out
    * manifests' data past the staging grace) are swept. */
  def commitSegmented(spark: SparkSession, path: String,
                      families: Seq[SegFamily],
                      singletons: Seq[(DataFrame, Pin)] = Nil): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staged: Seq[(SegFamily, Seq[(Surface, String)])] =
      families.zipWithIndex.map { case (fam, fi) =>
        fam -> fam.surfaces.zipWithIndex.map { case (surf, si) =>
          surf -> s"$path/__stage_${tag}_${fi}_${si}_${surf.name}"
        }
      }
    try {
      // singleton rollup writes overlap the wave-0 stagings: their
      // generation dirs are named up front, written concurrently, and
      // committed in the same pointer transaction
      val singletonGens = singletons.map { case (df, (root, loaded, _)) =>
        (df, root, loaded, ArtifactStore.newGenDir(spark, root, loaded))
      }
      stageAll(staged.flatMap(_._2), singletonGens.map {
        case (df, _, _, gen) =>
          df -> ((d: DataFrame) =>
            d.coalesce(1).write.mode("overwrite").parquet(gen))
      })
      val commits = scala.collection.mutable.ArrayBuffer
        .empty[(String, String, Option[String])]
      val roots = scala.collection.mutable.ArrayBuffer.empty[String]
      staged.foreach { case (fam, surfs) =>
        fam.shards.foreach { r =>
          val (root, loaded, _) = r.pin
          val sh = r.shard
          val segName = SegmentStore.segName(r.nextOrdinal)
          val segDir = s"$root/$segName"
          fs.mkdirs(new org.apache.hadoop.fs.Path(segDir))
          surfs.foreach { case (surf, stage) =>
            val src = new org.apache.hadoop.fs.Path(s"$stage/shard=$sh")
            if (fs.exists(src))
              require(fs.rename(src,
                  new org.apache.hadoop.fs.Path(s"$segDir/${surf.name}")),
                s"segmented commit: cannot stage $src as " +
                  s"$segDir/${surf.name}")
            else
              surf.empty().coalesce(1).write.mode("overwrite")
                .parquet(s"$segDir/${surf.name}")
          }
          val manifest = fam.mode match {
            case SegReplace => Seq(segName)
            case SegAppend => r.segments :+ segName
          }
          val gen = ArtifactStore.newGenDir(spark, root, loaded)
          fs.mkdirs(new org.apache.hadoop.fs.Path(gen))
          SegmentStore.writeManifest(spark, gen, manifest)
          commits += ((root, gen, loaded))
          roots += root
        }
      }
      singletonGens.foreach { case (_, root, loaded, gen) =>
        commits += ((root, gen, loaded))
      }
      ArtifactStore.commitGenAll(spark, path, commits.toSeq)
      roots.distinct.foreach(r => SegmentStore.sweepOrphans(spark, r))
    } finally staged.foreach { case (_, surfs) =>
      surfs.foreach { case (_, stage) =>
        fs.delete(new org.apache.hadoop.fs.Path(stage), true)
      }
    }
  }
}
