package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dml.Dml
import graft.sinks.{ArtifactStore, BulkSink}

/** Family retention + storage policy — the locality-group knobs of the
  * reference layout (`max_versions`, `ttl_seconds`, `in_memory`,
  * `compression_type`; `layout/test.json:24-28`). In the reference these
  * live on the locality group and families inherit them; here each family
  * carries its group's resolved values plus the group name, so the write
  * path can regroup files per locality group. */
final case class FamilySpec(name: String,
                            maxVersions: Int = Int.MaxValue,
                            ttlSeconds: Option[Long] = None,
                            localityGroup: String = "default",
                            inMemory: Boolean = false,
                            compression: String = "snappy",
                            columns: Option[Seq[String]] = None)

/** Table layout: name + families (+ row-key encoding, `keys_format` in the
  * layout JSON). A family with `columns = Some(...)` is GROUP-type: its
  * qualifier set is closed and writes to undeclared qualifiers are
  * rejected, mirroring the reference's single-column put validation
  * (`KM/produce/impl/InternalProducerContext.java:126-136`). `columns =
  * None` is MAP-type: dynamic qualifiers, which the long cell format
  * stores natively. */
final case class TableLayout(name: String, families: Seq[FamilySpec],
                             keyEncoding: EntityId.Encoding = EntityId.Raw) {
  def family(name: String): FamilySpec =
    families.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no family '$name' in table ${this.name}"))

  /** Families regrouped by locality group (write-path file sets). */
  def localityGroups: Map[String, Seq[FamilySpec]] =
    families.groupBy(_.localityGroup)
}

/** Column slice of a read — the `KijiDataRequest` analog (columns,
  * max-versions, time-range; `KM/framework/KijiTableInputFormat.java:87-120`,
  * `KM/impl/HFileWriterContext.java:333-339` withTimeRange).
  *
  * `readerSpecs` is the `ColumnReaderSpec` analog
  * (`KM/framework/HBaseKijiTableInputFormat.java:225-231`): a per-column
  * reader-side decode applied to `value` at scan time, so cells written
  * under older writer generations surface in the requested reader shape
  * without rewriting the table (the read-time half of schema evolution;
  * `CellRewriter` is the rewrite-time half). Requesting a reader spec for
  * a column implicitly requests that column when `columns` is empty; a
  * spec for a column outside a non-empty `columns` list is an error, as
  * in the reference (the spec attaches to a requested column). */
final case class DataRequest(columns: Seq[(String, String)] = Seq.empty,
                             maxVersions: Int = 1,
                             timeRange: Option[(Long, Long)] = None,
                             readerSpecs: Map[(String, String), Column => Column] = Map.empty)

/** The entity-centric versioned table (SURVEY §1.1) over Parquet.
  *
  * Physical form: long-format cells `(entity_id, family, qualifier, ts,
  * value)` — the direct analog of the HFileKeyValue stream, and the form
  * every DML/bulk-load/compaction pass works in. Read paths narrow it:
  *  - `read(request)`: version arrays per cell, newest-first, after
  *    column/time/retention pruning — the `KijiRowData` shape.
  *  - `mostRecent(...)`: the common fast path, a single partial-aggregable
  *    `max(struct(ts, value))` per cell (no window, map-side combine; the
  *    plan that survives 100 TB).
  *
  * Storage layout at scale: bulk loads range-partition on entity_id, so
  * files are disjoint entity ranges (region-aligned HFiles) and Parquet
  * min/max stats prune entity-range scans.
  *
  * Incremental DML is MERGE-ON-READ: `appendChanges` appends a batch of
  * puts AND tombstones to a `_changes/` side feed — an O(delta) write, the
  * analog of the LSM memstore flush that makes the reference's
  * puts/deletes cheap (`KM/impl/DirectKijiTableWriterContext.java:46-180`
  * buffers both through one writer). Every read path folds the feed in via
  * `Dml.applyChanges` (HBase ts<=T tombstone masking), and `majorCompact`
  * folds it physically — after which the feed is gone. A delete batch thus
  * never rewrites the table; only compaction does, on the operator's
  * schedule. The `_changes` name is deliberate: Spark's file listing
  * skips underscore-prefixed dirs, so base-table scans never see the feed.
  *
  * Building a table frame — [[cells]], [[read]], [[mostRecent]], the
  * `readAsOf*` reads, [[localityGroupCells]] — launches no Spark job:
  * every base, bucket-leaf and feed scan takes its schema from the
  * writer's parquet footer on the driver
  * ([[graft.sinks.ArtifactStore.readSurface]]), and the feed, marker and
  * manifest checks are driver-side listings and reads. The only jobs are
  * the ones the caller's actions plan; a fold or an append pays only its
  * own writes and aggregates.
  *
  * == Concurrency contract ==
  *
  * Which operations may run concurrently on ONE table (readers are
  * always safe against every committed state — each operation commits
  * atomically, so a reader sees a batch/fold wholly or not at all):
  *
  *  - `appendChanges` ∥ `appendChanges`: SAFE. Each batch commits via
  *    its own single-file append or staged-dir rename, and arrival
  *    ordinals are reserved atomically ([[reserveArrival]]: in-process
  *    per-table lock + create-exclusive `_arrival_claim_<n>` files as
  *    the cross-process test-and-set) — concurrent appends get DISTINCT
  *    monotone stamps and neither batch is lost.
  *  - `appendChanges` ∥ reads (`cells`/`read`/`readAsOf*`): SAFE — a
  *    read plans against the feed files listed at plan-build time.
  *  - `compactFeed` ∥ anything that WRITES the feed: UNSAFE. The fold
  *    swaps the feed directory; a racing append can vanish. Schedule it
  *    writer-exclusively (it is the maintenance window's job, like the
  *    reference's compactions) — it also sweeps stale arrival claims
  *    under that exclusivity.
  *  - `bulkLoad` / `majorCompact` / `applyChanges` ∥ READERS: SAFE.
  *    These commit a NEW GENERATION via the `ArtifactStore` pointer-CAS
  *    layout (`gen_<n>_<uuid>/` + `_gen_current`, the same protocol the
  *    index artifacts use): the pointer flip is one atomic rename, and
  *    the displaced generation is RETAINED for one full commit cycle, so
  *    a reader that planned against the old generation keeps complete
  *    on-disk files (a reader spanning TWO folds of one table can still
  *    lose its files — retention is one generation deep by design).
  *  - `bulkLoad` / `majorCompact` / `applyChanges` ∥ each other: the
  *    pointer CAS serializes them — the loser fails LOUDLY (its fold was
  *    not applied; re-run against the new version) instead of the old
  *    rename-swap's silent last-swap-wins.
  *  - `bulkLoad` / `majorCompact` / `applyChanges` ∥ feed WRITERS
  *    (`appendChanges`): still UNSAFE — an append into the generation a
  *    fold is displacing is lost with that generation. Run folds
  *    append-exclusive, like the reference's compactions.
  *
  * The CLI `describe` verb prints this contract next to the feed
  * occupancy it reports.
  */
final class EntityTable(spark: SparkSession, path: String, layout: TableLayout) {

  /** The directory holding the LIVE table content. Generational tables
    * (anything written by [[bulkLoad]]/[[majorCompact]]/[[applyChanges]]
    * since the pointer-CAS commit landed) resolve through the
    * `_gen_current` pointer to `gen_<n>_<uuid>/`; legacy flat tables (and
    * tables that only ever saw appends) resolve to the root itself.
    * Resolved PER CALL — a driver-side pointer read, the same cost class
    * as the feed listing every merged read already does — so each read
    * path plans against the generation that is live when the plan is
    * built, and keeps its files for a full commit cycle afterwards
    * (retention one generation deep, `graft.sinks.ArtifactStore`). */
  private def dataDir: String =
    graft.sinks.ArtifactStore.resolve(spark, path)

  /** Merge-on-read change feed location (inside the live generation, so
    * a physical fold's pointer flip carries the folded feed away with
    * the data it was folded into). */
  def changesPath: String = feedPathIn(dataDir)

  private def feedPathIn(dir: String): String = s"$dir/_changes"

  private def hadoopFs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether a change feed is pending (cheap driver-side listing at
    * plan-build time). Checks for committed DATA files, not bare dir
    * existence — a failed append (layout validation raise_error) can
    * leave an empty `_changes` dir behind, which must read as "no
    * pending changes". */
  def hasPendingChanges: Boolean = hasPendingChangesIn(dataDir)

  private def hasPendingChangesIn(dir: String): Boolean =
    feedDataFilesIn(dir).nonEmpty

  /** All committed data files of the feed under generation `dir`:
    * top-level files (single-file appends) plus files inside `batch_*`
    * subdirectories (atomic multi-file appends, committed by one
    * directory rename). A missing feed is an empty one. */
  private def feedDataFilesIn(dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    listOrEmpty(new org.apache.hadoop.fs.Path(feedPathIn(dir))).flatMap { s =>
      if (!visible(s.getPath.getName)) Seq.empty
      else if (s.isFile) Seq(s)
      else hadoopFs.listStatus(s.getPath).toSeq
        .filter(f => f.isFile && visible(f.getPath.getName))
    }
  }

  /** One `listStatus`, a missing directory listing as empty (an
    * `exists` probe first would pay a second metadata call). */
  private def listOrEmpty(p: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    try hadoopFs.listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** The pending change feed (empty-schema error if none — guard with
    * `hasPendingChanges`). Batch subdirectories (atomic multi-file
    * appends) are picked up by the recursive lookup; the schema comes
    * from the first batch's footer, so building the frame launches no
    * job. */
  def pendingChanges: DataFrame = pendingChangesIn(dataDir)

  private def pendingChangesIn(dir: String): DataFrame =
    ArtifactStore.readSurface(spark, Map("recursiveFileLookup" -> "true"),
      feedPathIn(dir))

  /** Base cells only — the bulk-loaded / direct-appended files, change
    * feed NOT folded in. `lg` is the locality-group partition column of
    * grouped bulk loads — dropped so readers see the pure cell schema
    * either way. A BUCKETED table (written by [[bulkLoadBucketed]] —
    * the `_numbuckets` marker in the live root generation) holds no
    * data in the root generation at all: its base is the union of the
    * per-bucket generations named by the root generation's
    * `_bucket_gens` manifest. Every scan takes its schema from a
    * footer ([[ArtifactStore.readSurface]]), so building it launches no
    * job. */
  private def baseCellsIn(dir: String): DataFrame =
    numBucketsIn(dir) match {
      case Some(n) =>
        // bucket data files carry NO partition columns (bucket was a
        // staging-side partition dir, consumed by the rename), so the
        // whole grid loads as ONE multi-path scan — never a B-way union
        // of single scans, whose per-branch listing/planning overhead
        // grows with B (the sharded-loader lesson, BASELINE round 17).
        // A GROUPED bucketed table's bases hold lg=<group> file sets;
        // the scan is handed the LEAF directories (B×G paths, one
        // bounded listStatus per bucket) — cross-root partition
        // inference over lg dirs would otherwise fail with a
        // conflicting-directory-structures error, and the lg column is
        // layout metadata readers never see anyway
        dropLg(ArtifactStore.readSurface(spark,
          leavesOf(bucketBasesIn(dir, n)): _*))
      case None => dropLg(ArtifactStore.readSurface(spark, dir))
    }

  private def dropLg(df: DataFrame): DataFrame =
    if (df.columns.contains("lg")) df.drop("lg") else df

  /** Scan leaves of bucket bases: a grouped base's `lg=<group>` file
    * sets, an ungrouped base itself. */
  private def leavesOf(bases: Seq[String]): Seq[String] =
    bases.flatMap { b =>
      val lgs = listOrEmpty(new org.apache.hadoop.fs.Path(b)).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("lg="))
        .map(_.getPath.toString)
      if (lgs.isEmpty) Seq(b) else lgs
    }

  // ───────────────────── key-bucketed generations ──────────────────────
  //
  // The rewrite-unit fix for the PHYSICAL FOLD paths: [[applyChanges]]
  // and [[majorCompact]] rewrite the whole table per fold — at 100 TB a
  // fold whose delta touches few key ranges must not rewrite every
  // range. A bucketed table routes each entity to `xxhash64(entity_id)
  // mod B` (the HBase salted-region analog) and persists each bucket as
  // its own generational root under `_buckets/<b>/`; a fold rewrites
  // ONLY the buckets its feed + changes route to, committing the
  // touched buckets and a fresh ROOT generation (markers, emptied feed,
  // bucket manifest) in one all-or-nothing pointer transaction
  // ([[graft.sinks.ArtifactStore.commitGenAll]]).
  //
  // TORN-READ SAFETY: the root generation's `_bucket_gens` manifest
  // names the exact bucket generation each bucket was at when that root
  // generation committed — readers plan against the MANIFEST's
  // directories, never the live bucket pointers, so a fold flipping
  // pointers mid-plan cannot pair an old root (feed still pending) with
  // a new bucket (feed already folded): the (root gen → bucket gens)
  // pairing is consistent by construction, and bucket retention
  // (live + displaced, one deep) matches root retention exactly.
  //
  // Within a bucket, files stay entity-RANGE partitioned and sorted
  // (the bulk-load order), so parquet min/max pruning still bounds
  // point reads to one bucket × its range file.

  private def bucketOf(n: Int): Column =
    pmod(xxhash64(col("entity_id")), lit(n.toLong)).cast("int")

  private def numBucketsIn(dir: String): Option[Int] = {
    val v = readMarkerIn(dir, "_numbuckets")
    if (v == Long.MinValue) None else Some(v.toInt)
  }

  /** The per-bucket data directories a reader of root generation `dir`
    * should plan against: the manifest's named generations (see the
    * torn-read note above); pointer-resolution fallback only for a
    * manifest-less bucket (unreachable for tables written by
    * [[bulkLoadBucketed]], kept for forward compatibility). */
  private def bucketBasesIn(dir: String, n: Int): Seq[String] = {
    val manifest: Map[Int, String] = ArtifactStore.readText(spark,
        new org.apache.hadoop.fs.Path(s"$dir/_bucket_gens"))
      .fold(Map.empty[Int, String])(_.split("\n").filter(_.nonEmpty).map {
        line =>
          val Array(b, g) = line.split("\t", 2)
          b.toInt -> g
      }.toMap)
    (0 until n).map { b =>
      manifest.get(b).map(g => s"$path/_buckets/$b/$g").getOrElse(
        graft.sinks.ArtifactStore.resolve(spark, s"$path/_buckets/$b"))
    }
  }

  /** Bulk-load into the BUCKETED layout (opt-in; see the design note
    * above): replaces the table wholesale, every bucket written (empty
    * buckets persisted explicitly so the grid is complete). Later
    * [[applyChanges]]/[[majorCompact]] calls detect the layout and
    * rewrite only the buckets their delta routes to. Composes with the
    * single default locality group only (group-split file sets inside
    * bucket roots is a layout product this deployment does not need —
    * loud refusal). Converting BACK with a plain [[bulkLoad]] replaces
    * the table wholesale and drops the bucket roots with the legacy
    * sweep — run that conversion reader-exclusive. */
  def bulkLoadBucketed(newCells: DataFrame, numBuckets: Int,
                       numPartitions: Int = 32): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    // shrinking the grid would leave stale bucket roots readers never
    // open but nothing sweeps — refuse rather than leak
    val bRoot = new org.apache.hadoop.fs.Path(s"$path/_buckets")
    if (hadoopFs.exists(bRoot)) {
      val stale = hadoopFs.listStatus(bRoot).map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.toInt).toOption)
        .filter(_ >= numBuckets)
      require(stale.isEmpty,
        s"bulkLoadBucketed: the table already has bucket roots " +
          s"${stale.sorted.mkString(", ")} at or above --num-buckets=" +
          s"$numBuckets — shrinking the grid would orphan them; reload " +
          s"with the original count or clear the table first")
    }
    foldBuckets(guardLayout(newCells, allowNullScope = false),
      0 until numBuckets, numBuckets, numPartitions, Map.empty)
  }

  /** The staged write + atomic multi-root commit shared by
    * [[bulkLoadBucketed]] and the bucketed fold paths: ONE
    * `partitionBy(bucket)` corpus/delta scan (range-partitioned and
    * sorted within buckets — the bulk-load order), per-bucket renames
    * into fresh generations, a fresh ROOT generation carrying the
    * markers + `_numbuckets` + the `_bucket_gens` manifest (touched
    * buckets at their NEW generations, untouched at their current
    * ones), then ONE all-or-nothing pointer commit across the root and
    * every touched bucket.
    *
    * LOCALITY GROUPS compose: a grouped layout stages one
    * `partitionBy(bucket)` write PER GROUP (the per-group compression
    * codec is a write-level option, so groups cannot share a job —
    * same economics as the flat grouped [[bulkLoad]]), and each bucket
    * generation holds one `lg=<group>` file set per group — the
    * reference's per-locality-group file sets composed with the
    * per-region split, as HFiles do. Readers union the bucket bases
    * and drop the discovered `lg` partition column; every fold keeps
    * rewriting only touched buckets, now G write jobs instead of one. */
  private def foldBuckets(newCells: DataFrame, touched: Seq[Int],
                          numBuckets: Int, numPartitions: Int,
                          extraFiles: Map[String, String],
                          deferred: DeferredFiles = None): Unit = {
    import graft.sinks.ArtifactStore
    val rootPin = ArtifactStore.pinGen(spark, path)
    val pins = touched.map(b =>
      b -> ArtifactStore.pinGen(spark, s"$path/_buckets/$b")).toMap
    val staging =
      s"$path/__buckets_stage_${java.util.UUID.randomUUID().toString.take(8)}"
    val sortCols = Seq(col("bucket"), col("entity_id"), col("family"),
      col("qualifier"), col("ts").desc)
    val groups = layout.localityGroups
    val grouped = groups.size > 1 ||
      layout.families.exists(f => f.localityGroup != "default" ||
        f.compression != "snappy" || f.inMemory)
    try {
      // the staged write(s) — one job ungrouped, one per locality group
      // — run CONCURRENTLY with each other and with the deferred marker
      // agg (guide §2.6): a grouped layout's per-group stagings were
      // previously serial, G jobs of write latency back to back
      val stagingWrites: Seq[(DataFrame, DataFrame => Unit)] =
        if (!grouped)
          Seq(newCells.withColumn("bucket", bucketOf(numBuckets)) ->
            ((df: DataFrame) => df
              .repartitionByRange(numPartitions, col("bucket"),
                col("entity_id"))
              .sortWithinPartitions(sortCols: _*)
              .write.mode("overwrite").partitionBy("bucket")
              .parquet(s"$staging/flat")))
        else {
          val lgFor = layout.families.foldLeft(lit("default")) { (acc, f) =>
            when(col("family") === f.name, lit(f.localityGroup)).otherwise(acc)
          }
          val tagged = newCells.withColumn("lg", lgFor)
            .withColumn("bucket", bucketOf(numBuckets))
          groups.toSeq.map { case (g, fams) =>
            tagged.filter(col("lg") === g).drop("lg") ->
              ((df: DataFrame) => df
                .repartitionByRange(numPartitions, col("bucket"),
                  col("entity_id"))
                .sortWithinPartitions(sortCols: _*)
                .write.mode("overwrite")
                .option("compression", fams.head.compression)
                .partitionBy("bucket").parquet(s"$staging/g_$g"))
          }
        }
      val deferredFiles = stageWithDeferred(stagingWrites, deferred)
      val commits =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Option[String])]
      val newGenName = scala.collection.mutable.Map.empty[Int, String]
      touched.foreach { b =>
        val (root, loaded, _) = pins(b)
        val gen = ArtifactStore.newGenDir(spark, root, loaded)
        if (!grouped) {
          val src = new org.apache.hadoop.fs.Path(s"$staging/flat/bucket=$b")
          if (hadoopFs.exists(src)) {
            hadoopFs.mkdirs(new org.apache.hadoop.fs.Path(root))
            require(hadoopFs.rename(src, new org.apache.hadoop.fs.Path(gen)),
              s"bucketed fold: cannot stage $src as generation $gen")
          } else // the fold emptied (or never filled) this bucket
            newCells.limit(0)
              .coalesce(1).write.mode("overwrite").parquet(gen)
        } else {
          // every group's slice of this bucket rides the SAME bucket
          // generation (co-swap); a bucket with no rows in any group
          // still writes one empty group file set, so the multi-path
          // reader's partition discovery stays uniform across bases
          hadoopFs.mkdirs(new org.apache.hadoop.fs.Path(gen))
          var wrote = false
          groups.foreach { case (g, _) =>
            val src = new org.apache.hadoop.fs.Path(s"$staging/g_$g/bucket=$b")
            if (hadoopFs.exists(src)) {
              require(hadoopFs.rename(src,
                  new org.apache.hadoop.fs.Path(s"$gen/lg=$g")),
                s"bucketed fold: cannot stage $src as $gen/lg=$g")
              wrote = true
            }
          }
          if (!wrote)
            newCells.limit(0).coalesce(1).write.mode("overwrite")
              .parquet(s"$gen/lg=${groups.head._1}")
        }
        newGenName(b) = new org.apache.hadoop.fs.Path(gen).getName
        commits += ((root, gen, loaded))
      }
      // untouched buckets ride the manifest at their CURRENT generations
      // (stable: folds serialize on the root claim, appends never touch
      // bucket roots)
      val manifest = (0 until numBuckets).map { b =>
        val g = newGenName.getOrElse(b,
          ArtifactStore.currentGen(spark, s"$path/_buckets/$b").getOrElse(
            throw new IllegalStateException(
              s"bucketed fold: bucket $b has no live generation and was " +
                s"not rewritten — the bucket grid is incomplete " +
                s"(crashed bulkLoadBucketed?); re-run the full load")))
        s"$b\t$g"
      }.mkString("\n")
      val rootGen = ArtifactStore.newGenDir(spark, path, rootPin._2)
      hadoopFs.mkdirs(new org.apache.hadoop.fs.Path(rootGen))
      BulkSink.writeExtraFiles(spark, rootGen, extraFiles ++ deferredFiles ++
        Map("_numbuckets" -> numBuckets.toString, "_bucket_gens" -> manifest))
      commits += ((path, rootGen, rootPin._2))
      ArtifactStore.commitGenAll(spark, path, commits.toSeq)
    } finally {
      hadoopFs.delete(new org.apache.hadoop.fs.Path(staging), true)
      ()
    }
    // legacy flat-root residue is swept two commits deep, exactly like
    // BulkSink.sweepLegacyRoot — but keeping the bucket roots
    if (rootPin._2.isDefined)
      hadoopFs.listStatus(new org.apache.hadoop.fs.Path(path)).foreach { s =>
        val nm = s.getPath.getName
        val keep = nm.startsWith("gen_") || nm.startsWith("_gen_") ||
          nm == "_buckets"
        if (!keep) hadoopFs.delete(s.getPath, true)
      }
  }

  /** The live cell set: base files with the pending change feed folded in
    * (puts unioned, tombstones masked — `Dml.applyChanges`). With no
    * pending feed this is exactly the base scan, zero overhead.
    *
    * TORN-READ GUARD: every multi-surface read resolves the live
    * generation ONCE and derives base + feed (+ markers, on the as-of
    * paths) from that one directory — resolving per surface would let a
    * fold committing mid-plan hand a reader gen_N's base with gen_N+1's
    * feed (feed entries applied twice, or a path-not-found on the fresh
    * generation's absent feed). The "folds ∥ readers SAFE" contract in
    * the class doc depends on this single-resolution discipline. */
  def cells: DataFrame = cellsIn(dataDir)

  private def cellsIn(dir: String): DataFrame =
    if (!hasPendingChangesIn(dir)) baseCellsIn(dir)
    else Dml.applyChanges(baseCellsIn(dir), pendingChangesIn(dir))

  /** Snapshot-as-of cell set (time travel): the merged view as it stood
    * when the change feed was CUT at `feedTs` — only feed entries (puts
    * AND tombstones) with ts <= feedTs fold into the base; later DML is
    * invisible. The rollback/debug read the reference's `withTimeRange`
    * (KM/impl/HFileWriterContext.java:333-339) hints at but never
    * composes with DML: here the feed already orders changes by their
    * cell/upTo timestamps, so the cut is one pushed-down filter on the
    * delta-sized feed — base files are untouched, cost identical to the
    * live read. `feedTs = Long.MaxValue` IS the live view; the base
    * itself (pre-DML) is `feedTs` below every feed entry.
    *
    * The cut is by LOGICAL cell/upTo timestamp, NOT append (arrival)
    * order: a correction batch appended later but stamped with a smaller
    * ts appears in "earlier" snapshots. "Snapshot as of t" therefore
    * means "the view with every change whose cell timestamp is <= t",
    * which coincides with batch-arrival history exactly when feed ts
    * values are monotone with append order (the usual event-time
    * pattern). Callers wanting strict arrival-ordered history should
    * stamp batches with an arrival-monotone ts.
    *
    * Compaction interaction: [[compactFeed]] (minor) rewrites the feed's
    * FILES but not its rows — every cut is preserved bit-for-bit.
    * [[majorCompact]] physically folds the feed into the base and
    * discards the masked versions and tombstones, so cuts strictly below
    * the fold's high-water ts become unreproducible — those reads REFUSE
    * (IllegalArgumentException naming [[asOfWatermark]]) instead of
    * silently returning the post-compaction state; cuts at or above the
    * watermark still reproduce their snapshot (everything the fold
    * applied is <= watermark <= feedTs, exactly HBase's
    * versions-discarded-at-major-compaction semantics). */
  def cellsAsOf(feedTs: Long): DataFrame = {
    val dir = dataDir // one resolution for watermark + base + feed
    if (feedTs != Long.MaxValue) {
      val w = readMarkerIn(dir, "_asof_watermark")
      require(feedTs >= w,
        s"readAsOf($feedTs): a major compaction physically folded all feed " +
          s"entries up to ts=$w into the base and discarded the versions and " +
          "tombstones they masked — snapshots below that watermark are " +
          "unreproducible (run time-travel reads before majorCompact, or " +
          "compact on a schedule that outlives the rollback window)")
    }
    if (!hasPendingChangesIn(dir)) baseCellsIn(dir)
    else if (feedTs == Long.MaxValue) cellsIn(dir)
    else Dml.applyChanges(baseCellsIn(dir),
      pendingChangesIn(dir).filter(col("ts") <= lit(feedTs)))
  }

  /** Snapshot-as-of by ARRIVAL ORDER — the strict batch-history cut
    * [[cellsAsOf]]'s logical-ts cut cannot give when feed timestamps are
    * non-monotone with append order: fold only the first `ordinal`
    * [[appendChanges]] batches (each batch is stamped with a monotone
    * `arrival` ordinal; batch k is visible at cuts >= k). A late-appended
    * correction stamped with a SMALLER cell ts is invisible below its
    * batch's ordinal here, while [[cellsAsOf]] would surface it in
    * "earlier" snapshots — use this axis for "what did the table serve
    * after batch N", the ts axis for "the event-time view at t".
    *
    * `ordinal = Long.MaxValue` is the live view; `0` is the base (no
    * batches). Minor compaction preserves the stamps; physical folds
    * ([[majorCompact]], [[applyChanges]]) persist
    * [[asOfArrivalWatermark]] and cuts strictly below it refuse, exactly
    * like the ts axis. */
  def cellsAsOfOrdinal(ordinal: Long): DataFrame = {
    val dir = dataDir // one resolution for watermark + base + feed
    if (ordinal != Long.MaxValue) {
      val w = readMarkerIn(dir, "_asof_arrival_watermark")
      require(ordinal >= w,
        s"readAsOfOrdinal($ordinal): a physical fold (majorCompact or " +
          s"applyChanges) already folded feed batches up to arrival=$w " +
          "into the base and discarded the versions and tombstones they " +
          "masked — batch-history cuts below that watermark are " +
          "unreproducible")
    }
    if (!hasPendingChangesIn(dir)) baseCellsIn(dir)
    else if (ordinal == Long.MaxValue) cellsIn(dir)
    else {
      val pc = pendingChangesIn(dir)
      require(pc.columns.contains("arrival"),
        "this change feed has no arrival stamps (written by a writer " +
          "other than appendChanges?) — ordinal cuts need the stamped " +
          "feed; use the logical-ts cut (readAsOf) instead")
      Dml.applyChanges(baseCellsIn(dir),
        pc.filter(col("arrival") <= lit(ordinal)))
    }
  }

  /** High-water mark of feed history destroyed by major compactions: the
    * max feed ts ever physically folded into the base (Long.MinValue when
    * no fold has happened). As-of reads strictly below it refuse (see
    * [[cellsAsOf]]). Persisted as `_asof_watermark` inside the table dir
    * — underscore-prefixed, so scans never see it; monotone across
    * repeated compactions. */
  def asOfWatermark: Long = readMarker("_asof_watermark")

  /** High-water mark of feed history destroyed by physical folds, in
    * ARRIVAL-ORDINAL terms (the [[cellsAsOfOrdinal]] axis): the max
    * `arrival` stamp ever folded into the base by [[majorCompact]] /
    * [[applyChanges]]. Ordinal cuts strictly below it refuse, exactly
    * like [[asOfWatermark]] on the logical-ts axis. */
  def asOfArrivalWatermark: Long = readMarker("_asof_arrival_watermark")

  /** Marker read with torn-write tolerance. Marker writes are atomic
    * (temp + rename, [[writeMarkerIn]]), so a reader sees a complete value
    * or no file — but a marker written by an OLDER writer generation (or
    * a filesystem without atomic rename) could still surface
    * empty/partial content, so an unparseable read retries briefly.
    * After retries: `lenient = true` treats the marker as absent (the
    * caller has a ground-truth fallback — [[arrivalFloorIn]] re-derives the
    * reservation floor from the feed's own `arrival` stamps); `lenient =
    * false` (the as-of watermarks, where "absent" would silently LOWER a
    * history barrier) fails loudly with the recovery step. */
  private def readMarker(name: String): Long = readMarkerIn(dataDir, name)

  private def readMarkerIn(dir: String, name: String,
                           lenient: Boolean = false): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    var attempt = 0
    while (true) {
      val parsed =
        try {
          val in = hadoopFs.open(p)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  finally in.close()
          if (s.isEmpty) None else Some(s.toLong)
        } catch {
          case _: java.io.FileNotFoundException => return Long.MinValue
          case _: NumberFormatException => None
        }
      parsed match {
        case Some(v) => return v
        case None if attempt < 5 => attempt += 1; Thread.sleep(20L << attempt)
        case None if lenient => return Long.MinValue
        case None => throw new IllegalStateException(
          s"marker $p is unreadable (empty/torn) after retries; " +
            s"delete it to rebuild from table state, or restore from a backup")
      }
    }
    Long.MinValue // unreachable
  }

  /** Atomic marker write: temp file + rename-with-overwrite (one
    * metadata op on HDFS; `Files.move(REPLACE_EXISTING)` on local FS) —
    * a reader can never observe a created-but-unwritten marker, and a
    * crash mid-write leaves only a temp file readers skip. */
  private def writeMarkerIn(dir: String, name: String, value: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/_${name.stripPrefix("_")}.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = hadoopFs.create(tmp, true)
    try out.write(value.toString.getBytes("UTF-8"))
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        tmp.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch { case e: Throwable => hadoopFs.delete(tmp, false); throw e }
  }

  /** Cells of one locality group: a partition-pruned scan (only that
    * group's file set is read — the reference's point of splitting HFiles
    * per locality group, `KijiHFileOutputFormat.java:122-186`). A table
    * written ungrouped (single default group) has no `lg` column — fall
    * back to filtering by the group's family names. The pending change
    * feed is folded in restricted to this group's families (row-wide
    * tombstones, `family` null, apply to every group). */
  def localityGroupCells(group: String): DataFrame = {
    require(layout.localityGroups.contains(group),
      s"no locality group '$group' in table ${layout.name}")
    val fams = layout.localityGroups(group).map(_.name)
    val dir = dataDir // one resolution for base + feed (torn-read guard)
    // a bucketed table's leaves carry no `lg` column (baseCellsIn) —
    // its "group" read is the family filter over the bucket union
    val raw = if (numBucketsIn(dir).isDefined) baseCellsIn(dir)
      else ArtifactStore.readSurface(spark, dir)
    val base =
      if (raw.columns.contains("lg")) raw.filter(col("lg") === group).drop("lg")
      else raw.filter(col("family").isin(fams: _*))
    if (!hasPendingChangesIn(dir)) base
    else Dml.applyChanges(base, pendingChangesIn(dir).filter(
      col("family").isNull || col("family").isin(fams: _*)))
  }

  /** Honor the layout's `in_memory` locality groups (the HBase in-memory
    * column-family flag, `test.json:25`): persist those groups' cells in
    * executor memory so subsequent point reads hit the cache instead of
    * the scan. `eager` (default) forces materialization now; pass false
    * at scale to let the first consuming action pay for the fill instead
    * of this call. Returns the cached frames by group name; call
    * `.unpersist()` on them to release. */
  def cacheInMemoryGroups(eager: Boolean = true): Map[String, DataFrame] =
    layout.localityGroups.collect {
      case (g, fams) if fams.head.inMemory =>
        val df = localityGroupCells(g)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        if (eager) df.count()
        g -> df
    }

  /** Bulk-load a cell set as the new table contents (HFile + load analog):
    * range-partitioned on entity, sorted (entity, family, qualifier, ts
    * desc), staged write, atomic commit.
    *
    * With more than one locality group (or any non-default storage knob)
    * the staged write produces ONE FILE SET PER LOCALITY GROUP
    * (`lg=<name>/` subdirectories, each with that group's compression
    * codec) — the `KijiHFileOutputFormat` behavior of one HFile family
    * dir per group, so a read of one group's columns touches only that
    * group's files. The commit is still a single atomic rename of the
    * whole staged table. */
  /** NOTE: a bulk load REPLACES the table wholesale — prior contents,
    * any pending change feed, AND the `_asof_watermark` history barrier
    * all go with the swapped directory. A reloaded table starts a fresh
    * history: as-of cuts then reflect the new generation only (its base
    * with no feed), which is the correct t0 snapshot of the reloaded
    * content — callers wanting the OLD generation's history must read it
    * before reloading. */
  def bulkLoad(newCells: DataFrame, numPartitions: Int = 32,
               maxRecordsPerFile: Long = 0L): Unit =
    bulkLoadWith(newCells, numPartitions, maxRecordsPerFile, Map.empty)

  private def bulkLoadWith(newCells: DataFrame, numPartitions: Int,
                           maxRecordsPerFile: Long,
                           extraFiles: Map[String, String],
                           deferred: DeferredFiles = None): Unit = {
    val groups = layout.localityGroups
    val grouped = groups.size > 1 ||
      layout.families.exists(f => f.localityGroup != "default" ||
        f.compression != "snappy" || f.inMemory)
    val sortCols =
      Seq(col("entity_id"), col("family"), col("qualifier"), col("ts").desc)
    val guarded = guardLayout(newCells, allowNullScope = false)
    if (!grouped) {
      // the staged write and the deferred marker agg overlap (§2.6)
      val (genDir, loadedGen) = BulkSink.newStagingGen(spark, path)
      val deferredFiles = stageWithDeferred(Seq(guarded ->
        ((df: DataFrame) => {
          val w = df.repartitionByRange(numPartitions, col("entity_id"))
            .sortWithinPartitions(sortCols: _*)
            .write.mode("overwrite")
          (if (maxRecordsPerFile > 0)
            w.option("maxRecordsPerFile", maxRecordsPerFile)
          else w).parquet(genDir)
        })), deferred)
      BulkSink.writeExtraFiles(spark, genDir, extraFiles ++ deferredFiles)
      BulkSink.commitStaged(spark, path, genDir, loadedGen)
    } else {
      val lgFor = layout.families.foldLeft(lit("default")) { (acc, f) =>
        when(col("family") === f.name, lit(f.localityGroup)).otherwise(acc)
      }
      // one file set per locality group, staged directly into a fresh
      // generation directory (invisible until the pointer CAS commit);
      // the per-group stagings are independent jobs — overlapped, with
      // the deferred marker agg riding the same barrier (§2.6)
      val (genDir, loadedGen) = BulkSink.newStagingGen(spark, path)
      val tagged = guarded.withColumn("lg", lgFor)
      val writes = groups.toSeq.map { case (g, fams) =>
        tagged.filter(col("lg") === g).drop("lg") ->
          ((df: DataFrame) => {
            val w = df.repartitionByRange(numPartitions, col("entity_id"))
              .sortWithinPartitions(sortCols: _*)
              .write.mode("overwrite")
              .option("compression", fams.head.compression)
            (if (maxRecordsPerFile > 0)
              w.option("maxRecordsPerFile", maxRecordsPerFile)
            else w).parquet(s"$genDir/lg=$g")
          })
      }
      val deferredFiles = stageWithDeferred(writes, deferred)
      BulkSink.writeExtraFiles(spark, genDir, extraFiles ++ deferredFiles)
      BulkSink.commitStaged(spark, path, genDir, loadedGen)
    }
  }

  /** Layout validation on a written cell/change frame. Undeclared families
    * fail the write (the reference's NoSuchColumnException on puts to
    * unknown families) — without this the grouped bulk-load path would
    * silently drop cells whose family maps to no locality-group file set.
    * Guarding the written `family` column itself keeps it un-prunable and
    * costs one codegen'd isin per row. A layout with NO declared families
    * (e.g. the schemaless default `readKijiTable` builds) is an OPEN
    * table: every family accepted, nothing to validate against.
    * Group-type families (closed qualifier sets) reject undeclared
    * qualifiers — `InternalProducerContext.java:126-136`; map-type
    * families (columns = None) stay open.
    *
    * `allowNullScope = true` is the change-feed variant: scope-wide
    * tombstones legitimately carry null family (delete_row only) or null
    * qualifier (delete_row / delete_family) — the null pass is gated on
    * the op actually having that scope, so a malformed put (or scoped
    * delete) with a null family/qualifier fails the append instead of
    * polluting merged reads with unscoped cells. Non-null scope is
    * validated as usual. */
  private def guardLayout(df: DataFrame, allowNullScope: Boolean): DataFrame = {
    val declared = layout.families.map(_.name)
    val famOk =
      if (allowNullScope)
        (col("op") === "delete_row" && col("family").isNull) ||
          col("family").isin(declared: _*)
      else col("family").isin(declared: _*)
    val famGuarded =
      if (declared.isEmpty) df
      else df.withColumn("family",
        when(famOk, col("family"))
          .otherwise(raise_error(concat(
            lit(s"unknown family (not declared in table '${layout.name}'): '"),
            coalesce(col("family"), lit("null")), lit("'")))))
    val closed = layout.families.filter(_.columns.isDefined)
    if (closed.isEmpty) famGuarded
    else {
      val base = closed.foldLeft(lit(true)) { (acc, f) =>
        when(col("family") === f.name,
          col("qualifier").isin(f.columns.get: _*)).otherwise(acc)
      }
      val ok =
        if (allowNullScope)
          (col("op").isin("delete_row", "delete_family") &&
            col("qualifier").isNull) || base
        else base
      famGuarded.withColumn("qualifier",
        when(ok, col("qualifier")).otherwise(raise_error(concat(
          lit("qualifier '"), coalesce(col("qualifier"), lit("null")),
          lit("' not declared for group-type family '"),
          coalesce(col("family"), lit("null")), lit(s"' of table '${layout.name}'")))))
    }
  }

  /** Append a change batch (puts AND tombstones) to the merge-on-read
    * feed — the O(delta) incremental DML write. Readers fold the feed in
    * at scan time (`cells`); `majorCompact` folds it physically. This is
    * the scale-safe delete path: a 1000-row tombstone batch costs a
    * 1000-row parquet append, never a table rewrite.
    *
    * Change schema is `Dml.applyChanges`' canonical one: (entity_id,
    * family, qualifier, op, ts, value); ops outside `Dml.Ops` and
    * puts/scoped deletes naming undeclared families/qualifiers fail the
    * append. `numFiles` coalesces the batch (change batches are usually
    * delta-sized; 0 = keep the incoming partitioning for a genuinely
    * large feed). Batch atomicity holds for EVERY shape: the batch is
    * written to a private staging directory outside the feed and
    * committed with a SINGLE directory rename into
    * `_changes/batch_<uuid>/` — a job that fails mid-append (e.g. a
    * layout-guard raise_error in a later task) leaves only the staging
    * dir, which is deleted on failure and invisible to readers either
    * way (underscore prefix), so readers see the whole batch or
    * nothing. The private staging dir also gives each append its own
    * Hadoop committer workspace, which is what makes concurrent appends
    * safe (see the class-level concurrency contract). */
  def appendChanges(changes: DataFrame, numFiles: Int = 1): Unit = {
    require(numFiles >= 0, s"numFiles must be >= 0: $numFiles")
    val need = Seq("entity_id", "family", "qualifier", "op", "ts", "value")
    require(need.forall(changes.columns.contains),
      s"appendChanges needs change columns ${need.mkString("(", ", ", ")")}, " +
        s"got ${changes.columns.mkString("(", ", ", ")")}")
    val opGuarded = changes.withColumn("op",
      when(col("op").isin(Dml.Ops: _*), col("op"))
        .otherwise(raise_error(concat(lit("unknown change op '"), col("op"),
          lit(s"' for table '${layout.name}'")))))
    val guarded = guardLayout(opGuarded, allowNullScope = true)
      .select(need.map(col): _*)
    // resolve the live generation ONCE for the whole append so the
    // stamping decision, the reservation, staging and commit all target
    // the same directory (a physical fold racing this append is
    // writer-unsafe by contract either way)
    val dir = dataDir
    // Arrival-ordinal stamp: one monotone batch number per append — the
    // strict batch-history axis of [[cellsAsOfOrdinal]] (logical cell ts
    // can be non-monotone with append order; the stamp cannot). Stamped
    // only while the feed is consistently stamped (every appendChanges
    // feed is; a feed created by an external writer stays unstamped so
    // its files keep ONE schema — ordinal reads then refuse with
    // guidance). The check reads the feed's footer on the driver: no job.
    val stampOrdinal =
      if (hasPendingChangesIn(dir) &&
          !pendingChangesIn(dir).columns.contains("arrival"))
        Long.MinValue
      else
        // reserve the ordinal BEFORE writing the batch: a crash between
        // the two leaves a skipped number (harmless), never a duplicate
        reserveArrival(dir)
    val stamped =
      if (stampOrdinal == Long.MinValue) guarded
      else guarded.withColumn("arrival", lit(stampOrdinal))
    // EVERY batch shape (numFiles = 1 single file, 0 keep-partitioning,
    // >= 2 coalesced) stages outside the feed and commits via one atomic
    // directory rename into `_changes/batch_<uuid>/`. Two reasons:
    //  - atomicity: a plain mode("append") with several files would
    //    expose a partially renamed batch if the job commit dies midway;
    //  - CONCURRENCY: mode("append") into a shared directory shares the
    //    Hadoop committer's `_temporary/0` — a concurrent appender's
    //    job-complete cleanup DELETES the other's in-flight task
    //    attempts (observed: chmod on a vanished attempt dir). Per-batch
    //    staging dirs give each append a private committer workspace, so
    //    concurrent appends cannot interfere (the class contract).
    // Underscore-prefixed staging dirs are invisible to every reader
    // (FileIndex hides them), so a mid-write failure exposes zero rows.
    val shaped = if (numFiles >= 1) stamped.coalesce(numFiles) else stamped
    val id = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(s"$dir/__changes_stage_$id")
    // Cleanup covers the RENAME failing too (e.g. the feed path
    // occupied by a non-directory): the staging dir must not outlive a
    // failed commit, whichever step died. After a successful rename the
    // staging path no longer exists and the delete is a no-op.
    try {
      shaped.write.parquet(staging.toString)
      val feedDir = new org.apache.hadoop.fs.Path(s"$dir/_changes")
      if (!hadoopFs.exists(feedDir)) hadoopFs.mkdirs(feedDir)
      val batch = new org.apache.hadoop.fs.Path(feedDir, s"batch_$id")
      require(hadoopFs.rename(staging, batch),
        s"appendChanges: commit rename $staging -> $batch failed")
    } catch { case e: Throwable =>
      hadoopFs.delete(staging, true)
      throw e
    }
  }

  /** The highest arrival ordinal known to be in use (0 when none). Reads
    * the `_arrival_reserved` marker (O(1) — the feed-sized `max(arrival)`
    * scan on EVERY append was measured as q134's data-proportional
    * regression at 50×), falling back to the feed agg only for a stamped
    * feed predating the marker (or an unreadable one — the feed's own
    * stamps are the ground truth the marker merely caches).
    * [[compactFeed]] preserves stamps, so the marker stays valid across
    * minor folds; a physical fold ([[majorCompact]]/[[applyChanges]])
    * replaces the table directory — marker gone, feed empty — and the
    * arrival WATERMARK becomes the floor, so post-fold numbering
    * continues strictly ABOVE the refused range instead of restarting at
    * 1 underneath it (restarted numbers would be unreachable by any
    * ordinal cut: cuts below the watermark refuse). */
  private def arrivalFloorIn(dir: String): Long = {
    val reserved = readMarkerIn(dir, "_arrival_reserved", lenient = true)
    val inUse =
      if (reserved != Long.MinValue) reserved
      else if (!hasPendingChangesIn(dir)) 0L
      else Option(pendingChangesIn(dir).agg(max(col("arrival"))).head()
        .get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    math.max(inUse,
      math.max(readMarkerIn(dir, "_asof_arrival_watermark"), 0L))
  }

  /** Atomically reserve the next arrival ordinal — the concurrency-safe
    * half of [[appendChanges]]' stamping. Two mechanisms compose:
    *
    *  1. an in-process per-table lock serializes reservations between
    *     threads of one JVM (the `local[*]` / one-driver deployment, and
    *     the only concurrency Spark drivers normally have), and
    *  2. a create-EXCLUSIVE claim file `_arrival_claim_<n>` is the
    *     cross-process test-and-set: `O_CREAT|O_EXCL` on a local
    *     filesystem, a single atomic namenode op on HDFS. A claim that
    *     already exists means another writer owns that ordinal — probe
    *     the next one.
    *
    * The `_arrival_reserved` marker is then advanced (atomic temp +
    * rename) as a PERFORMANCE HINT ONLY: the claim files are the
    * authority, so a marker that lags (or briefly regresses under a
    * cross-process race — writer A renames its smaller value after
    * writer B's larger one) costs extra claim probes, never a duplicate
    * ordinal. Stale claims below the marker are garbage-collected by
    * [[compactFeed]] (writer-exclusive by contract, so no reservation is
    * probing while it sweeps). */
  private def reserveArrival(dir: String): Long =
    EntityTable.tableLock(path).synchronized {
      // claims live in the live generation `dir` (the table root for a
      // legacy flat table) — a physical fold flips to a fresh generation
      // with no claims, and its arrival WATERMARK keeps post-fold
      // numbering monotone, exactly as the pre-generational dir swap did
      hadoopFs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      var candidate = arrivalFloorIn(dir) + 1L
      var attempts = 0
      while (!tryClaimArrival(dir, candidate)) {
        attempts += 1
        require(attempts < 100000,
          s"arrival reservation found $attempts consecutive claims from " +
            s"$dir/_arrival_claim_${candidate - attempts} — marker far behind " +
            s"claims; run compactFeed to sweep, or delete stale _arrival_claim_* files")
        candidate += 1L
      }
      writeMarkerIn(dir, "_arrival_reserved", candidate)
      candidate
    }

  /** Create-exclusive test-and-set on `_arrival_claim_<n>`: true = this
    * writer owns ordinal `n`. Local paths go through `Files.createFile`
    * (atomic `O_EXCL` — Hadoop's RawLocalFileSystem emulates
    * overwrite=false with a non-atomic exists() check); everything else
    * through `FileSystem.create(overwrite = false)` (atomic on HDFS). */
  private def tryClaimArrival(dir: String, n: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_arrival_claim_$n")
    if (p.toUri.getScheme == null || p.toUri.getScheme == "file")
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    else
      try { hadoopFs.create(p, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
  }

  /** Change-feed occupancy: (data files, rows). Each `appendChanges` batch
    * leaves its own file(s); every merged read re-lists and re-unions them
    * all, so a long-lived write pattern should watch this and fold the
    * feed down (`compactFeed` for a feed-only fold, `majorCompact` for the
    * full physical fold). Surfaced by the CLI `describe` verb. */
  def changeFeedStats: (Int, Long) = {
    val dir = dataDir // one resolution for the listing + the count
    val files = feedDataFilesIn(dir).length
    if (files == 0) (0, 0L) else (files, pendingChangesIn(dir).count())
  }

  /** MINOR compaction of the change feed: coalesce the N accumulated
    * append batches down to ~128 MB-input fold tasks (one file for the
    * intended delta-sized feed) — the memstore-flush/minor-
    * compaction split of the reference's LSM substrate (minor folds the
    * small files, major folds into the base). Feed-ONLY rewrite: base
    * files are untouched, tombstones survive (they still mask base cells
    * until a `majorCompact`), and the merged `cells` view is unchanged.
    * `maxFiles` makes the call a no-op threshold trigger: fold only when
    * the feed exceeds that many files (0 = always fold).
    *
    * NOT SAFE concurrently with writers of the same feed (see the
    * class-level "Concurrency contract"): the fold swaps the feed
    * directory (stage → delete → rename), and an `appendChanges` racing
    * the swap can lose its batch. Run from the operational maintenance
    * schedule, like compaction in the reference. Being writer-exclusive,
    * this is also where stale `_arrival_claim_*` files (the reservation
    * protocol's test-and-set markers, [[reserveArrival]]) are swept:
    * claims at or below the `_arrival_reserved` marker can never be
    * probed again once no reservation is in flight. */
  def compactFeed(maxFiles: Int = 0): Unit = {
    // One generation resolution AND one feed listing for the whole fold:
    // the fold trigger needs only the FILE COUNT — the previous
    // changeFeedStats call also ran a full feed-rows count() job whose
    // result was discarded (one wasted Spark job per compactFeed,
    // measured round 19; the CLI describe verb still reports rows via
    // changeFeedStats, where they are actually printed).
    val dir = dataDir
    sweepArrivalClaimsIn(dir)
    val files = feedDataFilesIn(dir)
    if (files.length <= math.max(maxFiles, 1)) return // 0/1 file: no fold
    val staging = new org.apache.hadoop.fs.Path(
      s"$dir/__changes_compact_${java.util.UUID.randomUUID().toString.take(8)}")
    // Size-based fold width: the intended delta-sized feed folds to one
    // file, but the feed is UNBOUNDED if folds are deferred (a month of
    // appends must not funnel through one writer task) — bound each fold
    // task at ~128 MB of input (the saveSemIndex partition-count fix's
    // pattern, applied to the fold).
    val feedBytes = files.map(_.getLen).sum
    val foldParts = math.max(1L, feedBytes / (128L << 20)).toInt
    pendingChangesIn(dir).coalesce(foldParts).write.parquet(staging.toString)
    val feed = new org.apache.hadoop.fs.Path(feedPathIn(dir))
    hadoopFs.delete(feed, true)
    require(hadoopFs.rename(staging, feed),
      s"compactFeed: rename $staging -> $feed failed")
  }

  /** GC stale arrival-claim files (callable only while writer-exclusive —
    * [[compactFeed]] calls it under that contract). A claim numbered at
    * or below the reserved marker is unreachable by any future probe
    * (probes start at marker+1 and the marker, with no reservation in
    * flight, is at or above every claimed ordinal), so deleting it can
    * never let an ordinal be claimed twice. Claims ABOVE the marker —
    * possible after a cross-process marker regression — are kept. */
  private def sweepArrivalClaimsIn(dir: String): Unit = {
    val reserved = readMarkerIn(dir, "_arrival_reserved", lenient = true)
    if (reserved == Long.MinValue) return
    listOrEmpty(new org.apache.hadoop.fs.Path(dir)).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("_arrival_claim_") &&
          scala.util.Try(n.stripPrefix("_arrival_claim_").toLong)
            .toOption.exists(_ <= reserved))
        hadoopFs.delete(s.getPath, false)
    }
  }

  /** A deferred extra-files computation: a 1-row agg frame over the
    * PRE-fold state plus the decoder turning its head row into marker
    * files. Handed to the fold paths so the agg job runs CONCURRENTLY
    * with the staged survivors write — both only read pre-fold files,
    * and the markers are needed only at extra-files time, after the
    * staged write lands (guide §2.6; one serialized watermark-agg job
    * per physical fold removed, measured round 19). */
  private type DeferredFiles =
    Option[(DataFrame, org.apache.spark.sql.Row => Map[String, String])]

  /** Run a staged-write batch and the deferred marker agg concurrently
    * (lambda-isolated — [[graft.operators.Clustering.concurrentFrames]]);
    * returns the decoded extra files. */
  private def stageWithDeferred(
      writes: Seq[(DataFrame, DataFrame => Unit)],
      deferred: DeferredFiles): Map[String, String] = {
    @volatile var out = Map.empty[String, String]
    val all = writes ++ deferred.map { case (df, dec) =>
      df -> ((d: DataFrame) => { out = dec(d.head()) })
    }
    graft.operators.Clustering.concurrentFrames(all.map(_._1)) { (i, df) =>
      all(i)._2(df)
    }
    out
  }

  /** The fold paths' shared deferred-marker computation: one 1-row agg
    * carrying the feed's high-water marks (ts + arrival, null when
    * absent/unstamped) and the folded `changes`' max ts (null when the
    * caller folds no extra changes), decoded against the prior
    * watermarks to the marker-file map. Exactly the markers the
    * serialized form computed — one agg job instead of two, evaluated
    * inside the staging barrier. */
  private def deferredWatermarks(dir: String,
                                 changes: Option[DataFrame]): DeferredFiles = {
    import org.apache.spark.sql.types.LongType
    val spark = this.spark
    val feedAgg =
      if (!hasPendingChangesIn(dir))
        spark.range(1).select(lit(null).cast(LongType).as("f_ts"),
          lit(null).cast(LongType).as("f_arr"))
      else {
        val pc = pendingChangesIn(dir)
        if (pc.columns.contains("arrival"))
          pc.agg(max(col("ts")).as("f_ts"), max(col("arrival")).as("f_arr"))
        else pc.agg(max(col("ts")).as("f_ts"),
          lit(null).cast(LongType).as("f_arr"))
      }
    val frame = changes.fold(
      feedAgg.select(col("f_ts"), col("f_arr"),
        lit(null).cast(LongType).as("c_ts")))(c =>
      feedAgg.crossJoin(c.agg(max(col("ts")).as("c_ts"))))
    val decode: org.apache.spark.sql.Row => Map[String, String] = r => {
      def at(i: Int): Long = if (r.isNullAt(i)) Long.MinValue else r.getLong(i)
      val w = Seq(readMarkerIn(dir, "_asof_watermark"), at(0), at(2)).max
      val wa = math.max(readMarkerIn(dir, "_asof_arrival_watermark"), at(1))
      (if (w > Long.MinValue) Map("_asof_watermark" -> w.toString)
       else Map.empty[String, String]) ++
        (if (wa > Long.MinValue) Map("_asof_arrival_watermark" -> wa.toString)
         else Map.empty[String, String])
    }
    Some((frame, decode))
  }

  /** Merge a change feed (puts + tombstones) and rewrite the table — the
    * full compaction path (any pending `_changes` feed folds in too, via
    * `cells`). For an O(delta) write that defers the rewrite, use
    * `appendChanges`.
    *
    * This is a PHYSICAL FOLD exactly like [[majorCompact]]: the pending
    * feed, its arrival stamps, and `changes` itself all become base
    * cells, and whatever their tombstones masked is gone — so the same
    * history-barrier bookkeeping applies. Both as-of watermarks advance
    * to the fold's high-water mark (max of the prior watermark, the
    * folded feed, and the folded `changes` timestamps), and cuts
    * strictly below refuse instead of silently serving post-fold state. */
  def applyChanges(changes: DataFrame, numPartitions: Int = 32): Unit = {
    val dir = dataDir
    // History-barrier markers as a DEFERRED 1-row agg: the fold paths
    // evaluate it concurrently with the staged survivors write (both
    // read only pre-fold state) instead of serializing two watermark
    // agg jobs before the staging.
    val markers = deferredWatermarks(dir, Some(changes))
    numBucketsIn(dir) match {
      case Some(n) =>
        // BUCKETED fold: only the buckets the feed + changes route to
        // are read or rewritten (every feed/changes row carries an
        // entity_id, so the touched set is exact); the rest of the
        // grid's generations provably hold. Touched-bucket count is
        // bounded by n — a driver collect of at most n ints.
        val feedIds =
          if (hasPendingChangesIn(dir))
            pendingChangesIn(dir).select(col("entity_id"))
          else changes.limit(0).select(col("entity_id"))
        val touched = feedIds.unionByName(changes.select(col("entity_id")))
          .select(bucketOf(n).as("bucket")).distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
        if (touched.isEmpty) return // nothing to fold anywhere
        // ONE multi-path scan over the touched buckets' leaf dirs — a
        // per-bucket union of single scans paid one listing + schema
        // inference per branch (16 jobs at B=16, measured round 19; the
        // baseCellsIn multi-path lesson applied to the fold's read). No
        // per-bucket tag is needed: foldBuckets re-derives the routing
        // from entity_id. Leaf expansion mirrors baseCellsIn (a grouped
        // bucketed table's lg= file sets would otherwise break partition
        // inference across roots).
        val base = dropLg(ArtifactStore.readSurface(spark, leavesOf(
          bucketBasesIn(dir, n).zipWithIndex
            .collect { case (p, b) if touched.contains(b) => p }): _*))
        val merged =
          if (hasPendingChangesIn(dir))
            Dml.applyChanges(base, pendingChangesIn(dir))
          else base
        foldBuckets(guardLayout(Dml.applyChanges(merged, changes),
          allowNullScope = false), touched, n, numPartitions, Map.empty,
          markers)
      case None =>
        bulkLoadWith(Dml.applyChanges(cells, changes), numPartitions, 0L,
          Map.empty, markers)
    }
  }

  /** MAJOR compaction: physically drop cells beyond each family's
    * max_versions and past its TTL (relative to `asOfMicros`), then
    * rewrite the table in bulk-load order — the HBase major compaction
    * that turns read-side retention into reclaimed disk. Reads stay
    * correct either way (retention is also applied at read time); this
    * reclaims storage and shrinks every later scan.
    *
    * Any pending `_changes` feed folds in physically here (the survivors
    * read goes through the merged `cells` view) and is then GONE: the
    * commit rename swaps the whole table dir, feed included — tombstones
    * become true physical deletes, exactly HBase's
    * delete-marker-dropped-at-major-compaction behavior.
    *
    * Runs as the retention-aware versioned read (one hash aggregate)
    * exploded back to cells, into the staged atomic bulk-load write —
    * the source files are only replaced by the final commit rename. */
  def majorCompact(asOfMicros: Long = Long.MaxValue,
                   numPartitions: Int = 32): Unit = {
    // History-barrier bookkeeping rides the fold as a DEFERRED agg: the
    // max feed ts/arrival about to be folded (this fold's high-water
    // marks) maxed with any prior watermark (the marker file lives
    // inside the table dir, which the bulk-load commit rename replaces).
    // The monotone max rides the STAGING dir through the atomic commit —
    // a marker written after the commit would leave a crash window in
    // which the fold is live but the barrier is lost, silently serving
    // below-fold as-of cuts. Deferred = the agg job runs concurrently
    // with the staged survivors write (both only read pre-fold files)
    // instead of serializing before it.
    val dir = dataDir
    val markers = deferredWatermarks(dir, None)
    val survivors = read(DataRequest(maxVersions = Int.MaxValue), asOfMicros)
      .select(col("entity_id"), col("family"), col("qualifier"),
        explode(col("versions")).as("v"))
      .select(col("entity_id"), col("family"), col("qualifier"),
        col("v.ts").as("ts"), col("v.value").as("value"))
    numBucketsIn(dir) match {
      case Some(n) =>
        // retention (TTL/max_versions) touches every key range by
        // definition, so a bucketed major compaction rewrites the whole
        // grid — but still as per-bucket generations under one atomic
        // multi-root commit, preserving the layout for later
        // touched-only applyChanges folds
        foldBuckets(survivors, 0 until n, n, numPartitions, Map.empty,
          markers)
      case None =>
        bulkLoadWith(survivors, numPartitions, 0L, Map.empty, markers)
    }
  }

  /** Retention-aware filter: family TTL relative to `asOfMicros`
    * (deterministic analog of "now"), plus an optional request time range.
    * `source` defaults to the live merged view; the as-of reads pass the
    * feed-cut view instead — every retention/column/reader-spec rule
    * applies identically to either. */
  private def retained(request: DataRequest, asOfMicros: Long,
                       source: DataFrame = null): DataFrame = {
    val ttlCutoffs = layout.families.map { f =>
      f.name -> f.ttlSeconds.map(t => asOfMicros - t * 1000000L).getOrElse(Long.MinValue)
    }
    val ttlExpr = ttlCutoffs.foldLeft(lit(Long.MinValue)) { case (acc, (fam, cut)) =>
      when(col("family") === fam, lit(cut)).otherwise(acc)
    }
    val base = Option(source).getOrElse(cells).filter(col("ts") >= ttlExpr)
    val timeFiltered = request.timeRange match {
      case Some((lo, hi)) => base.filter(col("ts") >= lo && col("ts") < hi)
      case None => base
    }
    val wantedCols =
      if (request.columns.nonEmpty) request.columns
      else request.readerSpecs.keys.toSeq.sorted
    val colFiltered =
      if (wantedCols.isEmpty) timeFiltered
      else {
        val wanted = wantedCols.map { case (f, q) => struct(lit(f), lit(q)) }
        timeFiltered.filter(struct(col("family"), col("qualifier")).isin(wanted: _*))
      }
    applyReaderSpecs(colFiltered, request.readerSpecs, wantedCols)
  }

  /** Reader-side per-column decode (`ColumnReaderSpec`): one flat CASE on
    * (family, qualifier), each branch the column's conversion — composed at
    * plan-build time, codegen'd, zero per-row schema resolution. When the
    * specs cover every requested column the chain is total; otherwise
    * unspecified columns keep the raw value (their types must then be
    * union-compatible with the converted ones — a plan-time error if not,
    * matching the reference's undecodable-cell failure). */
  private def applyReaderSpecs(df: DataFrame,
                               specs: Map[(String, String), Column => Column],
                               wantedCols: Seq[(String, String)]): DataFrame = {
    if (specs.isEmpty) df
    else {
      val unknown = specs.keySet -- wantedCols.toSet
      require(unknown.isEmpty,
        s"reader spec for unrequested column(s): ${unknown.mkString(", ")}")
      val ordered = specs.toSeq.sortBy(_._1)
      val chain = ordered.tail.foldLeft(
        when(col("family") === ordered.head._1._1 &&
          col("qualifier") === ordered.head._1._2,
          ordered.head._2(col("value")))) { case (acc, ((f, q), conv)) =>
        acc.when(col("family") === f && col("qualifier") === q, conv(col("value")))
      }
      val total = specs.keySet == wantedCols.toSet
      df.withColumn("value", if (total) chain else chain.otherwise(col("value")))
    }
  }

  /** Versioned read: one row per (entity, family, qualifier) with
    * `versions = array<struct<ts, value>>` newest-first, truncated to
    * min(request.maxVersions, family.maxVersions). The live read IS the
    * as-of read with the feed uncut ([[cellsAsOf]] short-circuits
    * `Long.MaxValue` to the plain merged view). */
  def read(request: DataRequest, asOfMicros: Long = Long.MaxValue): DataFrame =
    readAsOf(Long.MaxValue, request, asOfMicros)

  /** Map-type family view (SURVEY §1.1): one row per (entity, family) with
    * `cells: map<qualifier, versions>` — the dynamic-qualifier shape of the
    * reference's map families (`map_schema`, layout test.json:88-90). The
    * long format already stores dynamic qualifiers; this is the read-side
    * pivot. Qualifier filtering on the result is `map_filter` — the analog
    * of the reference's enumerate-and-delete for map families. */
  def readWide(request: DataRequest = DataRequest(),
               asOfMicros: Long = Long.MaxValue): DataFrame =
    read(request, asOfMicros)
      .groupBy(col("entity_id"), col("family"))
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("qualifier"), col("versions"))))).as("cells"))

  /** Most-recent cell value — single hash aggregate, map-side combinable. */
  def mostRecent(request: DataRequest = DataRequest(),
                 asOfMicros: Long = Long.MaxValue): DataFrame =
    mostRecentAsOf(Long.MaxValue, request, asOfMicros)

  /** [[read]] over the [[cellsAsOf]] feed cut — the versioned time-travel
    * read: version arrays as they stood before any feed entry later than
    * `feedTs` arrived. Composes with every other read knob (retention,
    * time range, column pruning, reader specs, asOfMicros TTL clock).
    *
    * The cut is by LOGICAL cell timestamp, not append order (the
    * [[cellsAsOf]] contract): a correction batch appended later but
    * stamped with a smaller ts appears in "earlier" snapshots. For a
    * strict batch-arrival history use [[readAsOfOrdinal]]. */
  def readAsOf(feedTs: Long, request: DataRequest = DataRequest(),
               asOfMicros: Long = Long.MaxValue): DataFrame =
    versionedOf(cellsAsOf(feedTs), request, asOfMicros)

  /** [[read]] over the [[cellsAsOfOrdinal]] ARRIVAL cut — the strict
    * batch-history read: the versioned view exactly as it stood after
    * the first `ordinal` appendChanges batches, regardless of how their
    * cell timestamps interleave (the knob [[readAsOf]]'s logical-ts cut
    * cannot give for out-of-order correction batches). */
  def readAsOfOrdinal(ordinal: Long, request: DataRequest = DataRequest(),
                      asOfMicros: Long = Long.MaxValue): DataFrame =
    versionedOf(cellsAsOfOrdinal(ordinal), request, asOfMicros)

  private def versionedOf(source: DataFrame, request: DataRequest,
                          asOfMicros: Long): DataFrame = {
    val famMax = layout.families.foldLeft(lit(Int.MaxValue)) { (acc, f) =>
      when(col("family") === f.name, lit(f.maxVersions)).otherwise(acc)
    }
    retained(request, asOfMicros, source)
      .groupBy(col("entity_id"), col("family"), col("qualifier"))
      .agg(reverse(sort_array(collect_list(struct(col("ts"), col("value"))))).as("all_versions"),
        first(famMax).as("fam_max"))
      .select(col("entity_id"), col("family"), col("qualifier"),
        slice(col("all_versions"), lit(1),
          least(lit(request.maxVersions), col("fam_max"))).as("versions"))
  }

  /** [[mostRecent]] over the [[cellsAsOf]] feed cut. Logical-ts cut
    * semantics — see [[readAsOf]]; [[mostRecentAsOfOrdinal]] is the
    * strict batch-arrival face. */
  def mostRecentAsOf(feedTs: Long, request: DataRequest = DataRequest(),
                     asOfMicros: Long = Long.MaxValue): DataFrame =
    mostRecentOf(cellsAsOf(feedTs), request, asOfMicros)

  /** [[mostRecent]] over the [[cellsAsOfOrdinal]] ARRIVAL cut. */
  def mostRecentAsOfOrdinal(ordinal: Long,
                            request: DataRequest = DataRequest(),
                            asOfMicros: Long = Long.MaxValue): DataFrame =
    mostRecentOf(cellsAsOfOrdinal(ordinal), request, asOfMicros)

  private def mostRecentOf(source: DataFrame, request: DataRequest,
                           asOfMicros: Long): DataFrame =
    retained(request.copy(maxVersions = 1), asOfMicros, source)
      .groupBy(col("entity_id"), col("family"), col("qualifier"))
      .agg(max(struct(col("ts"), col("value"))).as("m"))
      .select(col("entity_id"), col("family"), col("qualifier"),
        col("m.ts").as("ts"), col("m.value").as("value"))
}

object EntityTable {
  /** Per-table-path monitor for arrival-ordinal reservations: serializes
    * [[EntityTable.reserveArrival]] between all threads of this JVM
    * (several `EntityTable` instances may point at one path — the lock
    * keys on the path, not the instance). Cross-PROCESS exclusion is the
    * claim files' job; this lock makes the common one-driver deployment
    * race-free without filesystem round-trip retries. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[table] def tableLock(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)
}
