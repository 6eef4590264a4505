package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a sharded artifact's shard roots commit: the `_num_shards`
  * grid marker every sharded tier records, and the staged,
  * all-or-nothing segment commit behind [[SegmentedIndex]] (whose
  * scaladoc describes the layout and lists the seven sharded tiers). A
  * commit keeps four rules:
  *
  *  1. every surface stages as ONE `partitionBy("shard")` job — a
  *     cell-partitioned vector surface as one `partitionBy("shard",
  *     "c_id")` job — never a write per shard (S jobs of planning
  *     overhead for one job's I/O);
  *  2. each shard's staged partition directories RENAME into that
  *     shard's fresh segment — surfaces sharing a family swap TOGETHER
  *     inside one segment (a row in one surface whose sibling rows are
  *     in another generation is a silent-drop hazard);
  *  3. a shard with no staged rows gets an EXPLICIT schema-bearing
  *     empty surface, so later readers/updates never hit a missing
  *     directory (and schema discovery survives a rowless shard);
  *  4. every root's segment lands before ONE manifest names them all
  *     and ONE pointer compare-and-swap makes it live
  *     ([[SegmentStore.commit]]) — a lost race aborts with the write
  *     unapplied EVERYWHERE, and a crash anywhere before the flip
  *     leaves the old artifact whole.
  */
object ShardedCommit {

  /** One shard-keyed surface: `df` must carry an int `shard` column
    * routing each row; `empty` supplies the schema-bearing zero-row
    * frame written where a shard has no staged rows; `partition` lays
    * each shard's rows out by that column too (`partitionBy("shard",
    * partition)`). `wave` orders the
    * staging: surfaces stage concurrently WITHIN a wave, waves run in
    * ascending order — a surface derived from another surface's
    * persisted lineage stages in a later wave so its job plans against
    * the already-materialized cache instead of recomputing the shared
    * ancestor (the saveBm25Index wave pattern, generalized). */
  final case class Surface(name: String, df: DataFrame,
                           empty: () => DataFrame, wave: Int = 0,
                           partition: Option[String] = None)

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
    val p = new Path(base, NumShardsFile)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(numShards.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The grid size of the sharded artifact generation `base`, None when
    * `base` holds no sharded artifact (no marker). */
  def shardCount(spark: SparkSession, base: String): Option[Int] =
    ArtifactStore.readText(spark, new Path(base, NumShardsFile))
      .map(t => t.trim.toIntOption.getOrElse(throw new IllegalStateException(
        s"$base/$NumShardsFile is unreadable: '$t'")))

  def numShards(spark: SparkSession, base: String): Int =
    shardCount(spark, base).getOrElse(throw new IllegalStateException(
      s"no sharded artifact at $base ($NumShardsFile missing)"))

  /** How a [[SegFamily]]'s fresh segment joins each root's segment
    * list: REPLACE makes it the only live segment (build / compact /
    * remove — the full-surface writes), APPEND adds it after the pinned
    * manifest's list (the O(delta) update). */
  sealed trait SegMode
  case object SegReplace extends SegMode
  case object SegAppend extends SegMode

  /** Shard roots swapping the same surfaces together through the
    * SEGMENTED layout ([[graft.sinks.SegmentStore]]): each root gets one
    * new immutable `_seg_*` data dir holding one directory per surface. */
  final case class SegFamily(shards: Seq[SegmentedIndex.Root],
                             surfaces: Seq[Surface], mode: SegMode)

  /** Stage every surface concurrently: the per-surface staging writes
    * are independent jobs, so overlapping them collapses their driver
    * scheduling / output-commit latencies (guide §2.6 — measured round
    * 18: the sequential form serialized 2-4 write jobs per commit).
    * `extras` are bounded independent writes (the singleton rollup
    * segments) folded into the FIRST wave instead of serializing after
    * the renames. Lambda isolation via
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
        if (i < ws.size) {
          val keys = "shard" +: ws(i)._1.partition.toSeq
          // explicit count: a bare keyed repartition lets AQE coalesce
          // the staging to one serial-writer task (Clustering.writePar)
          df.repartition(graft.operators.Clustering.writePar(df),
              keys.map(org.apache.spark.sql.functions.col): _*)
            .write.mode("overwrite").partitionBy(keys: _*).parquet(ws(i)._2)
        } else ex(i - ws.size)._2(df)
      }
      ()
    }
  }

  /** Stage every family's surfaces (one `partitionBy("shard")` job per
    * surface), land each shard's staged partitions in a fresh IMMUTABLE
    * `_seg_*` dir of its root (one listing per staging directory names
    * the partitions present), and commit ONE manifest naming every
    * root's live segments through ONE pointer compare-and-swap against
    * `pinned` ([[SegmentStore.commit]]) — write volume is the staged
    * rows, never the shard's prior surface, and commit metadata is one
    * file and one flip whatever the number of roots. `singletons` are
    * bounded rollup roots (e.g. BM25's 1-row stats), each written whole
    * as a segment of its own root during the first staging wave, as are
    * `rootWrites` (a save's build-time root surfaces). */
  def commitSegmented(spark: SparkSession, pinned: SegmentStore.Pinned,
                      families: Seq[SegFamily],
                      singletons: Seq[(DataFrame, String)] = Nil,
                      rootWrites: Seq[(DataFrame, DataFrame => Unit)] = Nil)
      : Unit = {
    val path = pinned.dir
    val fs =
      new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val seg = SegmentStore.segName(pinned.manifest.next)
    val staged: Seq[(SegFamily, Seq[(Surface, String)])] =
      families.zipWithIndex.map { case (fam, fi) =>
        fam -> fam.surfaces.zipWithIndex.map { case (surf, si) =>
          surf -> s"$path/__stage_${tag}_${fi}_${si}_${surf.name}"
        }
      }
    try {
      stageAll(staged.flatMap(_._2), singletons.map { case (df, key) =>
        df -> ((d: DataFrame) =>
          d.coalesce(1).write.mode("overwrite").parquet(s"$path/$key/$seg/$key"))
      } ++ rootWrites)
      val landed: Seq[(String, Seq[String])] = staged.flatMap { case (fam, surfs) =>
        val present = surfs.map { case (_, stage) =>
          SegmentStore.list(fs, stage).map(_.getPath.getName).toSet }
        fam.shards.map { r =>
          val segDir = new Path(s"$path/${r.key}/$seg")
          fs.mkdirs(segDir)
          surfs.zip(present).foreach { case ((surf, stage), parts) =>
            val dst = new Path(segDir, surf.name)
            if (parts(s"shard=${r.shard}"))
              require(fs.rename(new Path(s"$stage/shard=${r.shard}"), dst),
                s"segmented commit: cannot stage $stage/shard=${r.shard} as $dst")
            else
              surf.empty().coalesce(1).write.mode("overwrite").parquet(dst.toString)
          }
          r.key -> ((if (fam.mode == SegAppend) pinned.segments(r.key)
            else Nil) :+ seg)
        }
      } ++ singletons.map { case (_, key) => key -> Seq(seg) }
      SegmentStore.commit(spark, pinned, landed)
    } finally staged.foreach { case (_, surfs) =>
      surfs.foreach { case (_, stage) => fs.delete(new Path(stage), true) }
    }
  }
}
