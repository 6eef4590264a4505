package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** HFile-bulk-load analog: totally ordered, range-partitioned staged write
  * plus an atomic generational commit.
  *
  * Reference mapping:
  *  - `TotalOrderPartitioner` with one partition per target region
  *    (`KM/output/HFileMapReduceJobOutput.java:147-167, 253-278`) →
  *    `repartitionByRange(n, keyCols)` (Spark samples range boundaries the
  *    way the reference samples region splits).
  *  - identity-reduce shuffle sort (`KM/reducer/IdentityReducer.java:54-76`)
  *    → `sortWithinPartitions` — the shuffle IS the sort.
  *  - ≤256 MB rolling files that never split a row
  *    (`KM/output/framework/KijiHFileOutputFormat.java:190-216`) →
  *    `maxRecordsPerFile` (Spark also never splits a row across files).
  *  - `HFileLoader.load` atomic hand-off (`KM/HFileLoader.java:73-75`,
  *    `KM/tools/KijiBulkLoad.java:156-163`) → a NEW GENERATION directory
  *    under the table root plus the [[ArtifactStore]] pointer-CAS commit.
  *
  * == Why generations, not a rename swap ==
  *
  * The previous commit here was `dest → dest.__replaced; staging → dest;
  * delete old` — two renames with a gap in which a concurrent reader
  * resolved NO directory at all, and an in-flight scan planned against the
  * old files lost them when `.__replaced` was deleted. The index-artifact
  * tiers already fixed exactly this with the `gen_<n>_<uuid>/` +
  * `_gen_current` pointer layout ([[ArtifactStore]]); this routes the
  * ENTITY TABLE's own bulk/compaction swap through the same protocol:
  *
  *  - readers resolve the live generation via the pointer (one atomic
  *    rename to flip), and the DISPLACED generation is retained for one
  *    full commit cycle, so an in-flight scan keeps complete on-disk data;
  *  - two racing folds serialize through the pointer CAS — the loser fails
  *    LOUDLY instead of silently overwriting the winner's fold
  *    (last-swap-wins was the old mode);
  *  - a crashed fold leaves an orphaned generation the next commit sweeps;
  *    the pointer still names the old generation, so readers never see a
  *    partial fold.
  *
  * Legacy compatibility: a table with no pointer file resolves to its root
  * (the flat layout every pre-generational fixture uses). The FIRST
  * generational commit on such a table leaves the legacy root files in
  * place as the de-facto displaced generation; the SECOND commit sweeps
  * them ([[sweepLegacyRoot]]) under the same retention-one-deep rule.
  *
  * Idempotence: each attempt fills its own uuid-suffixed generation; a
  * re-run after any failure before the pointer flip leaves the live
  * generation untouched (the orphan is swept later); a re-run after commit
  * replaces the table wholesale (same effect as re-bulk-load).
  */
object BulkSink {

  def bulkLoad(df: DataFrame, dest: String, numPartitions: Int,
               keyCols: Seq[String], sortCols: Seq[Column],
               maxRecordsPerFile: Long = 0L,
               extraFiles: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    val sorted = df
      .repartitionByRange(numPartitions, keyCols.map(col): _*)
      .sortWithinPartitions(sortCols: _*)
    val loaded = ArtifactStore.currentGen(spark, dest)
    val genDir = ArtifactStore.newGenDir(spark, dest, loaded)
    val writer = sorted.write.mode("overwrite")
    (if (maxRecordsPerFile > 0) writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(genDir)
    writeExtraFiles(spark, genDir, extraFiles)
    commitGenAndSweep(spark, dest, genDir, loaded)
  }

  /** Small metadata files (e.g. the `_asof_watermark` history barrier)
    * written INTO the staged generation so the pointer flip promotes data
    * and markers in one atomic step — a marker written after the commit
    * leaves a crash window in which the data is live but the marker is
    * lost (exactly the silent state the marker exists to prevent). */
  def writeExtraFiles(spark: SparkSession, staging: String,
                      extraFiles: Map[String, String]): Unit =
    if (extraFiles.nonEmpty) {
      val fs = new Path(staging)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      extraFiles.foreach { case (name, content) =>
        val out = fs.create(new Path(staging, name), true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
      }
    }

  /** Promote an externally staged directory into `dest` as its new live
    * generation (the `bulk-load` CLI verb / `HFileLoader.load` hand-off):
    * one rename moves the staged files under the table root as a
    * generation directory, then the pointer CAS makes them live. Readers
    * planned against the previous generation keep their files (retention
    * one generation deep). */
  def commit(spark: SparkSession, staging: String, dest: String): Unit = {
    val fs = new Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(staging)))
      throw new java.io.IOException(
        s"bulk commit: staged directory $staging does not exist")
    fs.mkdirs(new Path(dest))
    val loaded = ArtifactStore.currentGen(spark, dest)
    val genDir = ArtifactStore.newGenDir(spark, dest, loaded)
    if (!fs.rename(new Path(staging), new Path(genDir)))
      throw new java.io.IOException(
        s"bulk commit: cannot stage $staging as generation $genDir")
    commitGenAndSweep(spark, dest, genDir, loaded)
  }

  /** Pointer-CAS commit of a generation a caller staged its own files
    * into ([[ArtifactStore.newGenDir]] over `loaded`, the generation its
    * reads were pinned to — the entity table's bulk loads and folds). */
  def commitStaged(spark: SparkSession, dest: String, genDir: String,
                   loaded: Option[String]): Unit =
    commitGenAndSweep(spark, dest, genDir, loaded)

  private def commitGenAndSweep(spark: SparkSession, dest: String,
                                genDir: String,
                                loaded: Option[String]): Unit = {
    ArtifactStore.commitGen(spark, dest, genDir, loaded)
    sweepLegacyRoot(spark, dest, loaded)
  }

  /** Delete pre-generational (flat-layout) root files once they are TWO
    * commits old. At the first generational commit (`loaded == None`) the
    * legacy root content is the displaced generation — in-flight readers
    * may still be scanning it, so it stays. At the next commit (`loaded`
    * names a generation) the legacy files are older than the displaced
    * generation and the retention-one-deep rule sweeps them, exactly as
    * [[ArtifactStore.commitGen]] sweeps `gen_*` directories older than
    * the displaced one. Everything a generational table writes lives
    * inside `gen_*` (data, `_changes`, markers, arrival claims), so any
    * other root entry is legacy residue by construction. */
  private def sweepLegacyRoot(spark: SparkSession, dest: String,
                              loaded: Option[String]): Unit =
    if (loaded.isDefined) {
      val root = new Path(dest)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).foreach { s =>
        val n = s.getPath.getName
        val keep = n.startsWith("gen_") || n.startsWith("_gen_")
        if (!keep) fs.delete(s.getPath, true)
      }
    }
}
