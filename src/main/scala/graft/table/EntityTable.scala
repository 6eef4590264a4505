package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dml.Dml
import graft.sinks.{ArtifactStore, BulkSink, SegmentStore}

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
  * The feed of each generation is a [[graft.sinks.SegmentStore]]
  * directory, the segmented index tiers' lifecycle: one manifest pointer
  * under `_changes/_segments`, and each append batch one immutable
  * `_changes/batches/_seg_<arrival>_<uuid>/` segment, made live by one
  * manifest compare-and-swap ([[EntityTable.Feed]]).
  *
  * Building a table frame — [[cells]], [[read]], [[mostRecent]], the
  * `readAsOf*` reads, [[localityGroupCells]] — launches no Spark job:
  * every base, bucket-leaf and feed scan takes its schema from the
  * writer's parquet footer on the driver
  * ([[graft.sinks.ArtifactStore.readSurface]]), and the pointer, feed
  * manifest, marker and bucket manifest reads are driver-side file reads.
  * The only jobs are the ones the caller's actions plan; a fold or an
  * append pays only its own writes and aggregates.
  *
  * == Concurrency contract ==
  *
  * Which operations may run concurrently on ONE table (readers are
  * always safe against every committed state — each operation commits
  * atomically, so a reader sees a batch/fold wholly or not at all):
  *
  *  - `appendChanges` ∥ `appendChanges`: SAFE. Each batch lands as its
  *    own segment and commits through the feed manifest's pointer CAS;
  *    an append whose CAS is refused re-pins and retries, re-stamping
  *    only when another append took its ordinal — concurrent appends get
  *    DISTINCT gapless stamps and neither batch is lost.
  *  - `compactFeed` ∥ `appendChanges`: SAFE. The fold commits one segment
  *    replacing the segments it pinned, under the same CAS: an append
  *    that lands first makes the fold fail loudly ("concurrent writer";
  *    re-run it), never vanish.
  *  - `appendChanges` / `compactFeed` ∥ reads (`cells`/`read`/
  *    `readAsOf*`): SAFE — a read scans the segments its pinned feed
  *    manifest names, and a fold's replaced segments are deleted only by
  *    the feed commit after it (retention one generation deep, as below).
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
  *    rename-swap's silent last-swap-wins. A fold reads from, and its CAS
  *    expects, the generation it pinned once before any read ([[pin]]).
  *  - `bulkLoad` / `majorCompact` / `applyChanges` ∥ feed WRITERS
  *    (`appendChanges`, `compactFeed`): still UNSAFE. The feed lives
  *    inside the table generation, and the fold's CAS is on the TABLE
  *    pointer, which an append never moves: an append that commits to
  *    the feed of the generation a fold is displacing is lost with that
  *    generation, and the fold cannot see it. Run folds append-exclusive,
  *    like the reference's compactions.
  *
  * The CLI `describe` verb prints this contract next to the feed
  * occupancy it reports.
  */
final class EntityTable(spark: SparkSession, path: String, layout: TableLayout) {
  import EntityTable.{Batches, Feed, Pin}

  /** The directory holding the LIVE table content. Generational tables
    * (anything written by [[bulkLoad]]/[[majorCompact]]/[[applyChanges]]
    * since the pointer-CAS commit landed) resolve through the
    * `_gen_current` pointer to `gen_<n>_<uuid>/`; legacy flat tables (and
    * tables that only ever saw appends) resolve to the root itself.
    * Resolved PER CALL — a driver-side pointer read, the same cost class
    * as the feed manifest read every merged read already does — so each read
    * path plans against the generation that is live when the plan is
    * built, and keeps its files for a full commit cycle afterwards
    * (retention one generation deep, `graft.sinks.ArtifactStore`). */
  private def dataDir: String =
    graft.sinks.ArtifactStore.resolve(spark, path)

  /** Pin the live generation and its feed ([[EntityTable.Pin]]). */
  private[table] def pin(): Pin = {
    val (_, loaded, dir) = ArtifactStore.pinGen(spark, path)
    Pin(loaded, dir, feedIn(dir))
  }

  private def feedIn(dir: String): Feed = {
    val root = s"$dir/_changes"
    SegmentStore.pinIfAny(spark, root).fold(Feed(root, None,
        if (dataFiles(Seq(root)).isEmpty) Nil else Seq(root)))(p =>
      Feed(root, Some(p), p.segments(Batches).map(s => s"$root/$Batches/$s")))
  }

  /** A feed segment's arrival ordinal (`_seg_<arrival>_<uuid>`). */
  private def arrivalOf(seg: String): Long = seg.split('_')(2).toLong

  /** Whether the layout writes one file set per locality group: more
    * than one group, or any non-default storage knob. */
  private def grouped: Boolean =
    layout.localityGroups.size > 1 ||
      layout.families.exists(f => f.localityGroup != "default" ||
        f.compression != "snappy" || f.inMemory)

  /** Each cell's locality group, by family. */
  private def lgFor: Column =
    layout.families.foldLeft(lit("default")) { (acc, f) =>
      when(col("family") === f.name, lit(f.localityGroup)).otherwise(acc)
    }

  /** Each cell's family `max_versions` (unbounded for an undeclared
    * family). */
  private def famMax: Column =
    layout.families.foldLeft(lit(Int.MaxValue)) { (acc, f) =>
      when(col("family") === f.name, lit(f.maxVersions)).otherwise(acc)
    }

  private def hadoopFs = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether a change feed is pending: its pinned manifest names a
    * segment, or its manifest-less root holds a data file. An empty
    * `_changes` dir, or one holding only a failed append's unnamed
    * segment, reads as "no pending changes". */
  def hasPendingChanges: Boolean = feedIn(dataDir).paths.nonEmpty

  /** Every data file under `paths`, by Spark's listing rules (`_`/`.`
    * entries hidden), descending into subdirectories. A missing path
    * lists as empty. */
  private def dataFiles(paths: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] =
    paths.flatMap(SegmentStore.list(hadoopFs, _)).flatMap { s =>
      val n = s.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (s.isFile) Seq(s)
      else dataFiles(Seq(s.getPath.toString))
    }

  /** The pending change feed (empty-schema error if none — guard with
    * `hasPendingChanges`). The schema comes from the first segment's
    * footer, so building the frame launches no job. */
  def pendingChanges: DataFrame = changesOf(feedIn(dataDir))

  /** One multi-path scan of a pinned feed's paths (recursive, for a
    * listed feed root's batch subdirectories). */
  private def changesOf(f: Feed): DataFrame =
    ArtifactStore.readSurface(spark, Map("recursiveFileLookup" -> "true"),
      f.paths: _*)

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
      val lgs = SegmentStore.list(hadoopFs, b).toSeq.filter(s =>
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
      0 until numBuckets, numBuckets, numPartitions, pin())
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
    * rewriting only touched buckets, now G write jobs instead of one.
    *
    * `rootPin` is the fold's one [[pin]]: the root generation its reads
    * planned against and its commit expects. Bucket expectations are
    * read here, under that pin — every fold commits a fresh root
    * generation, so a fold landing after the pin fails the root's CAS
    * whatever the bucket pointers say. `cap`: see [[stage]]. */
  private def foldBuckets(newCells: DataFrame, touched: Seq[Int],
                          numBuckets: Int, numPartitions: Int,
                          rootPin: Pin, deferred: DeferredFiles = None,
                          cap: Cap = keepAll): Unit = {
    val pins = touched.map(b =>
      b -> ArtifactStore.pinGen(spark, s"$path/_buckets/$b")).toMap
    val staging =
      s"$path/__buckets_stage_${java.util.UUID.randomUUID().toString.take(8)}"
    val groups = layout.localityGroups
    // every generation this fold fills, spared by racing commits'
    // retention until its own commit
    val gens = pins.map { case (b, (root, loaded, _)) =>
      b -> ArtifactStore.newGenDir(spark, root, loaded) }
    val rootGen = ArtifactStore.newGenDir(spark, path, rootPin.loaded)
    ArtifactStore.filling(gens.values.toSeq :+ rootGen)(try {
      // one `partitionBy(bucket)` staging ungrouped, one per locality
      // group (its own codec), overlapped with the deferred marker agg
      val bucketed = newCells.withColumn("bucket", bucketOf(numBuckets))
      val sets =
        if (!grouped) Seq((bucketed, s"$staging/flat", None))
        else {
          val tagged = bucketed.withColumn("lg", lgFor)
          groups.toSeq.map { case (g, fams) =>
            (tagged.filter(col("lg") === g).drop("lg"), s"$staging/g_$g",
              Some(fams.head.compression))
          }
        }
      val deferredFiles = stageWithDeferred(sets.map { case (df, dir, codec) =>
        df -> ((d: DataFrame) => {
          val w = stage(d, Seq(col("bucket")), numPartitions, cap)
            .write.mode("overwrite").partitionBy("bucket")
          codec.fold(w)(w.option("compression", _)).parquet(dir)
        })
      }, deferred)
      val commits =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Option[String])]
      val newGenName = scala.collection.mutable.Map.empty[Int, String]
      touched.foreach { b =>
        val (root, loaded, _) = pins(b)
        val gen = gens(b)
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
      hadoopFs.mkdirs(new org.apache.hadoop.fs.Path(rootGen))
      BulkSink.writeExtraFiles(spark, rootGen, deferredFiles ++
        Map("_numbuckets" -> numBuckets.toString, "_bucket_gens" -> manifest))
      commits += ((path, rootGen, rootPin.loaded))
      ArtifactStore.commitGenAll(spark, path, commits.toSeq)
    } finally {
      hadoopFs.delete(new org.apache.hadoop.fs.Path(staging), true)
      ()
    })
    // legacy flat-root residue is swept two commits deep, exactly like
    // BulkSink.sweepLegacyRoot — but keeping the bucket roots
    if (rootPin.loaded.isDefined)
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
    * TORN-READ GUARD: every multi-surface read takes ONE [[pin]] and
    * derives base + feed (+ markers, on the as-of paths) from it —
    * resolving per surface would let a fold committing mid-plan hand a
    * reader gen_N's base with gen_N+1's feed (feed entries applied twice,
    * or a path-not-found on the fresh generation's absent feed). The
    * "folds ∥ readers SAFE" contract in the class doc depends on this
    * single-resolution discipline. */
  def cells: DataFrame = cellsOf(pin())

  /** The merged cells of pin `p`, its feed passed through `cut`. */
  private def cellsOf(p: Pin, cut: DataFrame => DataFrame = identity)
      : DataFrame =
    if (p.feed.paths.isEmpty) baseCellsIn(p.dir)
    else Dml.applyChanges(baseCellsIn(p.dir), cut(changesOf(p.feed)))

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
    val p = pin() // one resolution for watermark + base + feed
    if (feedTs != Long.MaxValue) {
      val w = readMarkerIn(p.dir, "_asof_watermark")
      require(feedTs >= w,
        s"readAsOf($feedTs): a major compaction physically folded all feed " +
          s"entries up to ts=$w into the base and discarded the versions and " +
          "tombstones they masked — snapshots below that watermark are " +
          "unreproducible (run time-travel reads before majorCompact, or " +
          "compact on a schedule that outlives the rollback window)")
    }
    if (feedTs == Long.MaxValue) cellsOf(p)
    else cellsOf(p, _.filter(col("ts") <= lit(feedTs)))
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
    val p = pin() // one resolution for watermark + base + feed
    if (ordinal != Long.MaxValue) {
      val w = readMarkerIn(p.dir, "_asof_arrival_watermark")
      require(ordinal >= w,
        s"readAsOfOrdinal($ordinal): a physical fold (majorCompact or " +
          s"applyChanges) already folded feed batches up to arrival=$w " +
          "into the base and discarded the versions and tombstones they " +
          "masked — batch-history cuts below that watermark are " +
          "unreproducible")
    }
    if (ordinal == Long.MaxValue) cellsOf(p)
    else cellsOf(p, pc => {
      require(pc.columns.contains("arrival"),
        "this change feed has no arrival stamps (written by a writer " +
          "other than appendChanges?) — ordinal cuts need the stamped " +
          "feed; use the logical-ts cut (readAsOf) instead")
      pc.filter(col("arrival") <= lit(ordinal))
    })
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

  /** Marker read with torn-write tolerance. Markers are written into a
    * staged generation before its pointer flip, so a reader sees a
    * complete value or no file — but a marker written by an OLDER writer
    * generation (or a filesystem without atomic rename) could still
    * surface empty/partial content, so an unparseable read retries
    * briefly, then fails loudly with the recovery step: treating it as
    * absent would silently LOWER a history barrier. */
  private def readMarker(name: String): Long = readMarkerIn(dataDir, name)

  private def readMarkerIn(dir: String, name: String): Long = {
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
        case None => throw new IllegalStateException(
          s"marker $p is unreadable (empty/torn) after retries; " +
            s"delete it to rebuild from table state, or restore from a backup")
      }
    }
    Long.MinValue // unreachable
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
    val p = pin() // one resolution for base + feed (torn-read guard)
    // a bucketed table's leaves carry no `lg` column (baseCellsIn) —
    // its "group" read is the family filter over the bucket union
    val raw = if (numBucketsIn(p.dir).isDefined) baseCellsIn(p.dir)
      else ArtifactStore.readSurface(spark, p.dir)
    val base =
      if (raw.columns.contains("lg")) raw.filter(col("lg") === group).drop("lg")
      else raw.filter(col("family").isin(fams: _*))
    if (p.feed.paths.isEmpty) base
    else Dml.applyChanges(base, changesOf(p.feed).filter(
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
    bulkLoadWith(newCells, ArtifactStore.currentGen(spark, path),
      numPartitions, maxRecordsPerFile)

  /** The staged bulk-load write and its pointer-CAS commit against
    * `loaded` (a fold's [[pin]]): one file set, or one per locality group
    * (`lg=<group>/`, each with its group's codec), staged into a fresh
    * generation directory — invisible until the commit — as independent
    * jobs, overlapped with each other and the deferred marker agg
    * (§2.6). `cap`: see [[stage]]. */
  private def bulkLoadWith(newCells: DataFrame, loaded: Option[String],
                           numPartitions: Int, maxRecordsPerFile: Long,
                           deferred: DeferredFiles = None,
                           cap: Cap = keepAll): Unit = {
    val guarded = guardLayout(newCells, allowNullScope = false)
    BulkSink.publish(spark, path, loaded) { genDir =>
      val sets =
        if (!grouped) Seq((guarded, genDir, None))
        else {
          val tagged = guarded.withColumn("lg", lgFor)
          layout.localityGroups.toSeq.map { case (g, fams) =>
            (tagged.filter(col("lg") === g).drop("lg"), s"$genDir/lg=$g",
              Some(fams.head.compression))
          }
        }
      val deferredFiles = stageWithDeferred(sets.map { case (df, dir, codec) =>
        df -> ((d: DataFrame) => {
          val w = stage(d, Seq.empty, numPartitions, cap).write.mode("overwrite")
          val coded = codec.fold(w)(w.option("compression", _))
          (if (maxRecordsPerFile > 0)
            coded.option("maxRecordsPerFile", maxRecordsPerFile)
          else coded).parquet(dir)
        })
      }, deferred)
      BulkSink.writeExtraFiles(spark, genDir, deferredFiles)
    }
  }

  /** A staging's bulk-load order: range-partitioned on (`keys`,
    * entity_id), sorted within partitions by (`keys`, entity_id, family,
    * qualifier, ts desc) — the region-aligned, sorted HFile layout.
    * `cap` runs between the range exchange and the sort: the major
    * compaction's [[capVersions]] window, whose keys that exchange
    * already clusters and whose own sort already gives the bulk-load
    * order, so the fold adds neither a shuffle nor a sort. */
  private def stage(df: DataFrame, keys: Seq[Column], numPartitions: Int,
                    cap: Cap): DataFrame =
    cap(df.repartitionByRange(numPartitions, keys :+ col("entity_id"): _*),
      keys).sortWithinPartitions(keys ++ Seq(col("entity_id"), col("family"),
        col("qualifier"), col("ts").desc): _*)

  /** What a staging does to its range-partitioned frame (given its
    * range keys besides entity_id) before the sort: [[keepAll]] for
    * loads and change folds, which keep every version, or the major
    * compaction's [[capVersions]]. */
  private type Cap = (DataFrame, Seq[Column]) => DataFrame

  private val keepAll: Cap = (df, _) => df

  /** The major compaction's version cap: keep each cell's newest
    * `max_versions` versions, in the versioned read's order — ts
    * descending, ties by value descending, a null value last. The window
    * partitions by the staging's range `keys` (`bucket` in a bucketed
    * fold, a function of entity_id) plus the cell, so it runs inside the
    * staging's range partitions. */
  private val capVersions: Cap = (df, keys) => {
    val cell = keys ++ Seq(col("entity_id"), col("family"), col("qualifier"))
    df.withColumn("_version", row_number().over(Window.partitionBy(cell: _*)
        .orderBy(col("ts").desc, col("value").desc)))
      .filter(col("_version") <= famMax).drop("_version")
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
    * large feed).
    *
    * The batch lands as ONE segment of the feed's [[SegmentStore]] (its
    * own directory, so its own Hadoop committer workspace) and becomes
    * visible with the feed manifest's pointer CAS: readers see the whole
    * batch or nothing, and a job that fails mid-append (e.g. a
    * layout-guard raise_error in a later task) leaves only a segment no
    * manifest names, hidden from every reader and swept by `index-gc`.
    *
    * Arrival-ordinal stamp: one gapless batch number per append — the
    * strict batch-history axis of [[cellsAsOfOrdinal]] (logical cell ts
    * can be non-monotone with append order; the stamp cannot). The
    * ordinal is the segment's: one above the last segment the pinned
    * manifest names, or above the arrival watermark of the last physical
    * fold — so post-fold numbering continues strictly ABOVE the range
    * whose cuts refuse, instead of restarting at 1 underneath it. A CAS
    * refused by a concurrent feed commit re-pins and retries; the batch
    * is re-stamped and rewritten only when another append took its
    * ordinal. A feed an external writer created (data, no manifest)
    * stays unstamped and manifest-less, so its files keep ONE schema and
    * ordinal reads refuse with guidance. */
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
    // one pin for the whole append: a physical fold racing it is
    // writer-unsafe by contract either way
    val p = pin()
    val root = p.feed.root
    def segPath(seg: String) = new org.apache.hadoop.fs.Path(s"$root/$Batches/$seg")
    def land(ordinal: Long, df: DataFrame): String = {
      val seg = SegmentStore.segName(ordinal)
      (if (numFiles >= 1) df.coalesce(numFiles) else df)
        .write.parquet(segPath(seg).toString)
      seg
    }
    if (p.feed.manifest.isEmpty && p.feed.paths.nonEmpty) {
      // an external writer's feed: the footer check (no job) refuses one
      // this engine stamped before the feed had a manifest. The batch
      // lands hidden, and one rename unhides it whole into the listing.
      requireManifest(p.feed, !changesOf(p.feed).columns.contains("arrival"))
      val seg = land(0L, guarded)
      require(hadoopFs.rename(segPath(seg),
          new org.apache.hadoop.fs.Path(root, seg.stripPrefix("_"))),
        s"appendChanges: cannot list segment $seg in the feed $root")
    } else {
      val floor = math.max(readMarkerIn(p.dir, "_asof_arrival_watermark"), 0L)
      def next(m: SegmentStore.Pinned): Long = math.max(floor,
        m.segments(Batches).lastOption.fold(0L)(arrivalOf)) + 1L
      def stamped(a: Long) = land(a, guarded.withColumn("arrival", lit(a)))
      var m = p.feed.manifest.getOrElse(SegmentStore.fresh(root))
      var arrival = next(m)
      var seg = stamped(arrival)
      while (!commitFeed(m, m.segments(Batches) :+ seg)) {
        m = SegmentStore.pin(spark, root)
        if (next(m) != arrival) {
          hadoopFs.delete(segPath(seg), true)
          arrival = next(m)
          seg = stamped(arrival)
        }
      }
    }
  }

  /** Commit `segs` as the segment list of feed pin `m`: true once they
    * are live. A commit that throws after another feed commit moved the
    * pointer returns false — refused by the CAS, or failed mid-write
    * because a writer in another JVM swept this one's staged manifest
    * generation with its retention — unless its own flip landed and only
    * a cleanup step after it failed. */
  private def commitFeed(m: SegmentStore.Pinned, segs: Seq[String]): Boolean =
    try { SegmentStore.commit(spark, m, Seq(Batches -> segs)); true }
    catch { case scala.util.control.NonFatal(_)
        if ArtifactStore.currentGen(spark, m.root) != m.loaded =>
      SegmentStore.pin(spark, m.dir).segments(Batches) == segs }

  /** The refusal of a feed write onto a feed root with data but no
    * manifest, unless `ok`: such a feed can only be read by listing, and
    * `majorCompact` folds it into the base. */
  private def requireManifest(f: Feed, ok: Boolean): Unit =
    require(ok, s"${f.root} holds change files but no segment manifest " +
      "(written by another writer, or stamped before the feed was a " +
      "segment store): run majorCompact to fold it into the base")

  /** Change-feed occupancy: (data files, rows). Each `appendChanges` batch
    * leaves its own segment; every merged read scans them all, so a
    * long-lived write pattern should watch this and fold the feed down
    * (`compactFeed` for a feed-only fold, `majorCompact` for the full
    * physical fold). Surfaced by the CLI `describe` verb. */
  def changeFeedStats: (Int, Long) = {
    val f = feedIn(dataDir) // one resolution for the listing + the count
    val files = dataFiles(f.paths).length
    if (files == 0) (0, 0L) else (files, changesOf(f).count())
  }

  /** MINOR compaction of the change feed: coalesce the N accumulated
    * append segments down to ~128 MB-input fold tasks (one file for the
    * intended delta-sized feed) — the memstore-flush/minor-
    * compaction split of the reference's LSM substrate (minor folds the
    * small files, major folds into the base). Feed-ONLY rewrite: base
    * files are untouched, tombstones and arrival stamps survive (they
    * still mask base cells until a `majorCompact`), and the merged
    * `cells` view is unchanged. `maxFiles` makes the call a no-op
    * threshold trigger: fold only when the feed exceeds that many files
    * (0 = always fold).
    *
    * The fold is one segment, named with the highest arrival it holds
    * (so it uses up no ordinal), committed through the feed manifest's
    * CAS against the segments it pinned: safe against a racing
    * `appendChanges` — an append that lands first makes this fold fail
    * loudly ("concurrent writer"; re-run it), and neither batch is lost.
    * The folded segments stay on disk for readers planned before the
    * fold until the next feed commit. A feed with data but no manifest
    * is refused (see [[requireManifest]]). */
  def compactFeed(maxFiles: Int = 0): Unit = compactFeedAt(pin(), maxFiles)

  /** [[compactFeed]] of the feed `pinned`. */
  private[table] def compactFeedAt(pinned: Pin, maxFiles: Int): Unit = {
    val f = pinned.feed
    requireManifest(f, f.manifest.isDefined || f.paths.isEmpty)
    // the fold trigger needs only the FILE listing — no row count job
    val files = dataFiles(f.paths)
    if (files.length > math.max(maxFiles, 1)) f.manifest.foreach { m =>
      // Size-based fold width: the intended delta-sized feed folds to one
      // file, but the feed is UNBOUNDED if folds are deferred (a month of
      // appends must not funnel through one writer task) — bound each
      // fold task at ~128 MB of input.
      val foldParts = math.max(1L, files.map(_.getLen).sum / (128L << 20)).toInt
      val seg = SegmentStore.segName(arrivalOf(m.segments(Batches).last))
      changesOf(f).coalesce(foldParts).write
        .parquet(s"${f.root}/$Batches/$seg")
      if (!commitFeed(m, Seq(seg))) throw new IllegalStateException(
        s"compactFeed: a concurrent writer committed to ${f.root} after " +
          "the fold pinned it; re-run compactFeed")
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
  private def deferredWatermarks(p: Pin,
                                 changes: Option[DataFrame]): DeferredFiles = {
    import org.apache.spark.sql.types.LongType
    val spark = this.spark
    val dir = p.dir
    val feedAgg =
      if (p.feed.paths.isEmpty)
        spark.range(1).select(lit(null).cast(LongType).as("f_ts"),
          lit(null).cast(LongType).as("f_arr"))
      else {
        val pc = changesOf(p.feed)
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
    val pinned = pin()
    val (dir, feed) = (pinned.dir, pinned.feed)
    // History-barrier markers as a DEFERRED 1-row agg: the fold paths
    // evaluate it concurrently with the staged survivors write (both
    // read only pre-fold state) instead of serializing two watermark
    // agg jobs before the staging.
    val markers = deferredWatermarks(pinned, Some(changes))
    numBucketsIn(dir) match {
      case Some(n) =>
        // BUCKETED fold: only the buckets the feed + changes route to
        // are read or rewritten (every feed/changes row carries an
        // entity_id, so the touched set is exact); the rest of the
        // grid's generations provably hold. Touched-bucket count is
        // bounded by n — a driver collect of at most n ints.
        val feedIds =
          if (feed.paths.nonEmpty) changesOf(feed).select(col("entity_id"))
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
          if (feed.paths.nonEmpty) Dml.applyChanges(base, changesOf(feed))
          else base
        foldBuckets(guardLayout(Dml.applyChanges(merged, changes),
          allowNullScope = false), touched, n, numPartitions, pinned, markers)
      case None =>
        bulkLoadWith(Dml.applyChanges(cellsOf(pinned), changes),
          pinned.loaded, numPartitions, 0L, markers)
    }
    dropRetired(feed)
  }

  /** After a physical fold's commit: delete the segments its pinned feed
    * manifest had retired (a [[compactFeed]]'s folded inputs, kept for
    * readers of the manifest before it), so the generation the fold
    * displaces holds only the feed its live manifest names. */
  private def dropRetired(f: Feed): Unit =
    f.manifest.foreach(_.manifest.retired.foreach(s =>
      hadoopFs.delete(new org.apache.hadoop.fs.Path(f.root, s), true)))

  /** MAJOR compaction: physically drop cells beyond each family's
    * max_versions and past its TTL (relative to `asOfMicros`), then
    * rewrite the table in bulk-load order — the HBase major compaction
    * that turns read-side retention into reclaimed disk. Reads stay
    * correct either way (retention is also applied at read time); this
    * reclaims storage and shrinks every later scan.
    *
    * Any pending `_changes` feed folds in physically here (the survivors
    * read goes through the merged `cells` view) and is then GONE: the
    * commit flips the table to a generation without it — tombstones
    * become true physical deletes, exactly HBase's
    * delete-marker-dropped-at-major-compaction behavior.
    *
    * Runs as the staged bulk-load write of the retention-filtered merged
    * cells, with [[capVersions]] keeping each cell's newest
    * `max_versions` versions inside the staging's own range exchange and
    * sort: one shuffle per file set, no aggregate, no version arrays —
    * the source files are only replaced by the final commit. The fold
    * reads and commits against one [[pin]]; a fold that lands in between
    * fails this one's commit loudly ("concurrent writer"). */
  def majorCompact(asOfMicros: Long = Long.MaxValue,
                   numPartitions: Int = 32): Unit =
    majorCompactAt(pin(), asOfMicros, numPartitions)

  /** [[majorCompact]] of the generation `pinned`. */
  private[table] def majorCompactAt(pinned: Pin, asOfMicros: Long,
                                    numPartitions: Int): Unit = {
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
    val markers = deferredWatermarks(pinned, None)
    val survivors = retained(DataRequest(), asOfMicros, cellsOf(pinned))
    numBucketsIn(pinned.dir) match {
      case Some(n) =>
        // retention (TTL/max_versions) touches every key range by
        // definition, so a bucketed major compaction rewrites the whole
        // grid — but still as per-bucket generations under one atomic
        // multi-root commit, preserving the layout for later
        // touched-only applyChanges folds
        foldBuckets(survivors, 0 until n, n, numPartitions, pinned, markers,
          capVersions)
      case None =>
        bulkLoadWith(survivors, pinned.loaded, numPartitions, 0L, markers,
          capVersions)
    }
    dropRetired(pinned.feed)
  }

  /** Retention-aware filter: family TTL relative to `asOfMicros`
    * (deterministic analog of "now"), plus an optional request time range,
    * over `source`: a merged view (live, feed-cut or a fold's pinned
    * generation) — every retention/column/reader-spec rule applies
    * identically to each. */
  private def retained(request: DataRequest, asOfMicros: Long,
                       source: DataFrame): DataFrame = {
    val ttlCutoffs = layout.families.map { f =>
      f.name -> f.ttlSeconds.map(t => asOfMicros - t * 1000000L).getOrElse(Long.MinValue)
    }
    val ttlExpr = ttlCutoffs.foldLeft(lit(Long.MinValue)) { case (acc, (fam, cut)) =>
      when(col("family") === fam, lit(cut)).otherwise(acc)
    }
    val base = source.filter(col("ts") >= ttlExpr)
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
                          asOfMicros: Long): DataFrame =
    retained(request, asOfMicros, source)
      .groupBy(col("entity_id"), col("family"), col("qualifier"))
      .agg(reverse(sort_array(collect_list(struct(col("ts"), col("value"))))).as("all_versions"),
        first(famMax).as("fam_max"))
      .select(col("entity_id"), col("family"), col("qualifier"),
        slice(col("all_versions"), lit(1),
          least(lit(request.maxVersions), col("fam_max"))).as("versions"))

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
  /** A pin of the table ([[ArtifactStore.pinGen]]): the live generation
    * it loaded — a fold's commit CAS expectation — the directory every
    * read plans against (markers, base, bucket manifest), and that
    * generation's change feed pinned with it. Taken ONCE, before any
    * read: a fold that re-resolved the pointer at commit time would
    * expect whatever is live then, and silently overwrite a fold that
    * committed after its reads were planned; a read that resolved the
    * feed apart from the base could pair one generation's base with
    * another's feed. */
  private[table] final case class Pin(loaded: Option[String], dir: String,
                                      feed: Feed)

  /** The one segment root of a feed (`<gen>/_changes/batches`). */
  private[graft] val Batches = "batches"

  /** A generation's change feed, pinned. `root` is `<gen>/_changes`, a
    * [[SegmentStore]] directory: `manifest` is its pin, and `paths` the
    * `batches/_seg_<arrival>_<uuid>` segments it names, in arrival
    * order. A feed root that holds data but no manifest (an external
    * writer's feed) is read by listing: `paths` is the root itself. No
    * paths: no pending changes.
    * Crash leftovers — segments no manifest names — are hidden from
    * both (underscore names), and `index-gc` sweeps them. */
  private[table] final case class Feed(root: String,
                                       manifest: Option[SegmentStore.Pinned],
                                       paths: Seq[String])
}
