package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Direct (live) table writes — the analog of
  * `DirectKijiTableMapReduceJobOutput` / `DirectKijiTableWriterContext`
  * (`KM/impl/DirectKijiTableWriterContext.java:46-180`: buffered writer,
  * flush on cleanup).
  *
  * Semantics: cell puts are APPENDED to the live table location as new
  * parquet files; readers see the union, and version resolution (newest ts
  * wins) happens at read time exactly as HBase resolves overlapping puts.
  * Deletes are not supported on this path (the reference routes deletes
  * through the same put buffer) because parquet files are immutable —
  * route mixed put/delete batches through the O(delta) merge-on-read feed
  * instead (`graft.table.EntityTable.appendChanges`), which accepts both
  * and masks at read time.
  *
  * The reference javadoc discourages this path for large jobs in favor of
  * HFile bulk loads; the same advice holds here — appended files are
  * unsorted and unaligned with the table's entity ranges, degrading scan
  * pruning until the next compaction (`EntityTable.applyChanges` or a
  * `bulkLoad` rewrite restores range-partitioned order).
  */
object DirectSink {

  /** Append cell puts to the live table. Atomic per-job at the file level:
    * Spark's parquet committer publishes complete files or nothing.
    * Appends land INSIDE the live generation of a generational table
    * (resolved per call), or at the root of a legacy/fresh flat table —
    * either way readers see the union immediately.
    *
    * A BUCKETED table ([[graft.table.EntityTable.bulkLoadBucketed]] —
    * `_numbuckets` marker in the live root generation) holds NO data in
    * the root generation: a file appended there would be INVISIBLE to
    * the bucket-manifest read, silently dropping the puts. Those appends
    * route through the merge-on-read change feed instead — read-identical
    * (newest ts wins at read time, exactly like the direct union), and
    * the next fold rewrites only the buckets the puts route to. */
  def append(cells: DataFrame, tablePath: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = cells.sparkSession
    val resolved = ArtifactStore.resolve(spark, tablePath)
    val marker = new org.apache.hadoop.fs.Path(resolved, "_numbuckets")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker))
      new graft.table.EntityTable(spark, tablePath,
        graft.table.TableLayout(tablePath, Seq.empty))
        .appendChanges(cells.select(col("entity_id"), col("family"),
          col("qualifier"), lit("put").as("op"), col("ts"), col("value")))
    else
      cells.write.mode("append").parquet(resolved)
  }

  /** Compact a direct-written table back to bulk-load order (reads the
    * live generation with its footer schema, commits a new one via the
    * pointer CAS). */
  def compact(spark: SparkSession, tablePath: String,
              numPartitions: Int = 32): Unit = {
    import org.apache.spark.sql.functions.col
    BulkSink.bulkLoad(
      ArtifactStore.readSurface(spark,
        ArtifactStore.resolve(spark, tablePath)),
      tablePath, numPartitions,
      Seq("entity_id"),
      Seq(col("entity_id"), col("family"), col("qualifier"), col("ts").desc))
  }
}
