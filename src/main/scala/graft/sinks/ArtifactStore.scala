package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned-generation layout for persisted index artifacts — the
  * pointer-file commit protocol every table format with concurrent
  * readers converges on (Iceberg's metadata pointer, Delta's log): an
  * artifact root holds immutable generation directories
  * (`_gen_<ordinal>_<uuid>/`, underscore-prefixed — see [[ordinalOf]])
  * plus one atomic pointer file
  * (`_gen_current`) naming the live generation. This replaces the
  * rename-swap commit (`BulkSink.commit`) for the index tiers, whose
  * contract it could not uphold:
  *
  *  - **Readers never observe a missing artifact.** The swap's two
  *    renames (dest → dest.__replaced, staging → dest) left a gap in
  *    which a concurrent `index-serve` load saw NO directory, and an
  *    in-flight serve planned against the old files lost them when
  *    `.__replaced` was deleted. Here the pointer flip is one atomic
  *    rename, generation files never move, and the DISPLACED generation
  *    is retained until the commit after next — an in-flight serve keeps
  *    a complete on-disk generation for a full update cycle. (A serve
  *    spanning TWO commits of the same artifact can still lose its
  *    files; retention is one generation deep by design — unbounded
  *    retention needs a reader-lease protocol this deployment does not
  *    require.)
  *  - **Racing writers fail loudly instead of silently dropping a
  *    delta.** `index-update`/`index-remove` is a read-modify-write of
  *    the whole artifact; under the rename swap two racing updates both
  *    folded the same base and the second swap silently dropped the
  *    first delta (last-swap-wins — FIXTURES.md §10's documented hole).
  *    [[commitGen]] is a compare-and-swap: the writer records the
  *    generation it loaded and the commit refuses if the pointer moved,
  *    under a create-exclusive `_gen_claim` held only for the pointer
  *    flip ([[tryClaim]]).
  *  - **A crashed writer is harmless and detectable.** A crash before
  *    [[commitGen]] leaves an orphaned generation directory; the pointer
  *    still names the old generation, so serves are untouched. Orphans
  *    are swept by the next successful commit and surfaced by
  *    `index-describe` ([[generationReport]]).
  *
  * One layout for every artifact: each tier `save*` and each CLI verb
  * writes through [[publish]], so no artifact byte is ever written in
  * place. A root holds only the pointer, the claim while a commit runs,
  * and generation directories; a sharded artifact keeps its codebooks,
  * `_num_shards` marker and per-shard roots inside its top generation.
  *
  * One read path for every parquet the engine wrote — artifact surfaces,
  * entity-table bases and change feeds, job history: [[readSurface]]
  * takes the schema from the writer's parquet footer on the driver, so
  * no load launches a Spark job — a load is lazy, and the only jobs are
  * the ones its caller's actions plan.
  */
object ArtifactStore {

  val PointerFile = "_gen_current"
  val ClaimFile = "_gen_claim"

  /** Generation directories are UNDERSCORE-prefixed so Spark's file
    * listing never surfaces them to a reader of a pointerless root (a
    * table's flat files, or an artifact whose first commit crashed):
    * `gen_*` parquet beside those files would mean "conflicting
    * directory structures" or silent double-reads on every
    * `spark.read.parquet(root)`. Underscore paths are skipped when
    * LISTED but load fine when NAMED explicitly (the `_changes` feed
    * precedent), which is exactly how resolved readers open the live
    * generation. [[ordinalOf]] still accepts the round-16 `gen_`
    * spelling so artifacts written before the rename keep loading. */
  private val GenPrefix = "_gen_"
  private val LegacyGenPrefix = "gen_"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Ordinal of a generation directory name (`_gen_<n>_<uuid>`, or the
    * pre-rename `gen_<n>_<uuid>`). Returns None for anything else —
    * including the pointer and claim FILES, which share the `_gen_`
    * prefix ("current"/"claim" parse as no ordinal), so every listing
    * filter below keys on `ordinalOf(n).isDefined`, never on the bare
    * prefix. */
  def ordinalOf(genName: String): Option[Long] = {
    val stripped =
      if (genName.startsWith(GenPrefix)) Some(genName.stripPrefix(GenPrefix))
      else if (genName.startsWith(LegacyGenPrefix))
        Some(genName.stripPrefix(LegacyGenPrefix))
      else None
    stripped.flatMap(r =>
      scala.util.Try(r.takeWhile(_ != '_').toLong).toOption)
  }

  /** Whether a root entry NAME is a generation directory (either
    * spelling) — the one test every sweep/keep filter uses. */
  def isGenName(n: String): Boolean = ordinalOf(n).isDefined

  /** A small driver-side text file's content, None when absent — ONE
    * `open` treating `FileNotFoundException` as absence (an `exists`
    * probe first would pay a second metadata call on every pointer,
    * manifest and marker read, once per shard root). */
  private[graft] def readText(spark: SparkSession, p: Path): Option[String] =
    try {
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** The row-metadata key under which Spark's parquet writer stores the
    * written frame's schema as JSON. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Spark's listing rules ([[readSurface]] must pick a file the scan
    * itself would list): `_`/`.` entries are hidden unless they are a
    * `k=v` partition directory, and in-flight `._COPYING_` files are
    * skipped. */
  private def listed(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_"))

  /** The first data file Spark would list under `p`, descending into
    * listed subdirectories; None when there is none or `p` does not
    * exist. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val entries =
      try fs.listStatus(p)
      catch {
        case _: java.io.FileNotFoundException => Array.empty[FileStatus]
      }
    val (files, dirs) = entries.filter(s => listed(s.getPath.getName))
      .sortBy(_.getPath.getName).partition(_.isFile)
    files.headOption.orElse(
      dirs.iterator.flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
  }

  /** The Spark schema a parquet data file's writer recorded in its
    * footer; None for a file written by another engine (no row
    * metadata). Reads only the footer's key-value metadata. */
  private def footerSchema(spark: SparkSession,
                           f: FileStatus): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(SparkSchemaKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
    finally reader.close()
  }

  /** Read any parquet the engine wrote (an artifact surface, a
    * surface's segment list as one multi-path scan, an entity table's
    * base, bucket leaves or change feed) WITHOUT a schema-inference job.
    * A schema-less `spark.read.parquet` runs one Spark job just to read
    * a footer — ~60-150 ms of scheduling, the same fixed cost that moved
    * the shard count out of parquet into `_num_shards` (`ShardedCommit`),
    * paid once per read on every load, update, append, merged read and
    * fold. Here the first data file Spark would list under `paths` is
    * found on the driver, its writer's schema is read from the footer
    * (Spark's row-metadata key, exactly what inference would pick), and
    * the scan is planned with it. Partition columns (`shard=`, `c_id=`,
    * `lg=`) are still discovered from the paths.
    *
    * Segments of one surface may store their columns in different
    * orders (an append segment is written from a differently-ordered
    * frame than the base), so callers keep their explicit `select`s;
    * parquet columns are matched by name. With no data file (or a
    * footer without Spark's schema, a file another engine wrote) this
    * IS `spark.read.parquet(paths)`: inference then fails loudly on a
    * missing or empty surface exactly as before. User-supplied inputs
    * stay on plain inference: their footers need not be Spark's. */
  def readSurface(spark: SparkSession, paths: String*): DataFrame =
    readSurface(spark, Map.empty[String, String], paths: _*)

  /** [[readSurface]] with reader `options` (the change feed's
    * `recursiveFileLookup`), applied to the footer-schema scan and to
    * the inference fallback alike. */
  def readSurface(spark: SparkSession, options: Map[String, String],
                  paths: String*): DataFrame = {
    val reader = spark.read.options(options)
    paths.iterator
      .flatMap(p => firstDataFile(fsOf(spark, p), new Path(p))).nextOption()
      .flatMap(footerSchema(spark, _))
      .fold(reader)(s => reader.schema(s))
      .parquet(paths: _*)
  }

  /** The live generation's directory NAME, None for a root no commit
    * has published yet. Pointer writes are atomic (temp + rename), so a
    * read sees a complete value or no file; an empty/torn read (possible
    * only on a filesystem without atomic rename) retries briefly then
    * fails loudly — treating it as absent would silently serve the
    * wrong artifact. */
  def currentGen(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path, PointerFile)
    var attempt = 0
    while (true) {
      readText(spark, p).map(_.trim) match {
        case None => return None
        case Some(s) if s.nonEmpty => return Some(s)
        case _ if attempt < 5 => attempt += 1; Thread.sleep(20L << attempt)
        case _ => throw new IllegalStateException(
          s"artifact pointer $p is unreadable (empty/torn) after retries; " +
            s"restore it to name one _gen_* directory under $path")
      }
    }
    None // unreachable
  }

  /** The directory a reader should plan against: the live generation
    * under a published root, or the path itself when it names no
    * pointer (a generation directory pinned by [[pinGen]]). */
  def resolve(spark: SparkSession, path: String): String =
    currentGen(spark, path).map(g => s"$path/$g").getOrElse(path)

  /** Pin a root's live generation BEFORE reading it: (root, the loaded
    * pointer — the commit's CAS expectation, the exact directory reads
    * should plan against). Re-reading the pointer at commit time would
    * make the CAS vacuous: it would "expect" whatever is current then,
    * silently folding a delta onto a base that raced out from under the
    * reads. */
  def pinGen(spark: SparkSession, root: String)
      : (String, Option[String], String) = {
    val loaded = currentGen(spark, root)
    (root, loaded, loaded.map(g => s"$root/$g").getOrElse(root))
  }

  /** A fresh generation directory for a writer to fill — ordinal one
    * above the generation it loaded (`loaded`), uuid-suffixed so two
    * racing writers never collide on the directory (the pointer CAS in
    * [[commitGen]] is what serializes them, not the name). */
  def newGenDir(spark: SparkSession, path: String,
                loaded: Option[String]): String = {
    val next = loaded.flatMap(ordinalOf).getOrElse(0L) + 1L
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    s"$path/$GenPrefix${next}_$uuid"
  }

  /** A save's pointer-CAS expectation: `Some(loaded)` when the written
    * surfaces were folded from generation `loaded` (the [[pinGen]] of an
    * update, remove or rebuild — the commit refuses if the pointer moved
    * since), `None` to replace whatever is live when the save starts. */
  type Expect = Option[Option[String]]

  /** The one write path of every artifact: `write` fills a fresh
    * generation directory ([[newGenDir]]), then [[commitGen]] flips the
    * pointer to it. Readers see the old artifact or the new one, never
    * a half-written one. A `write` that throws leaves the pointer where
    * it was and its directory behind as an orphan: reported by
    * [[generationReport]], swept by the next successful commit. */
  def publish(spark: SparkSession, path: String, expected: Expect = None)
             (write: String => Unit): Unit = {
    val loaded = expected.getOrElse(currentGen(spark, path))
    val gen = newGenDir(spark, path, loaded)
    filling(Seq(gen)) { write(gen); commitGen(spark, path, gen, loaded) }
  }

  /** Run `body`, which fills and commits the generation directories
    * `gens` (each a [[newGenDir]]), sparing them from every commit's
    * retention meanwhile: a racing writer that commits first then makes
    * `body`'s commit fail on its compare-and-swap, not on a file
    * retention deleted mid-write. [[publish]] and the entity table's
    * multi-root folds fill their generations through it. A writer in
    * another JVM gets no such guard. */
  private[graft] def filling[A](gens: Seq[String])(body: => A): A = {
    val names = gens.map(new Path(_).getName)
    names.foreach(filled.add)
    try body finally names.foreach(filled.remove)
  }

  /** The generations [[filling]] bodies of this JVM are filling, by
    * (uuid-suffixed) name. */
  private val filled = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Create-exclusive test-and-set on the commit claim: true = this
    * writer holds it. Local paths go through `Files.createFile` (atomic
    * `O_EXCL` — Hadoop's RawLocalFileSystem emulates overwrite=false with
    * a non-atomic exists() check, so two local writers could both "win");
    * everything else through `FileSystem.create(overwrite = false)`, a
    * single atomic namenode op on HDFS. */
  private def tryClaim(fs: FileSystem, claim: Path): Boolean =
    if (claim.toUri.getScheme == null || claim.toUri.getScheme == "file")
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(claim.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.NoSuchFileException => false // root not created yet
      }
    else
      try { fs.create(claim, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }

  /** Run `body` holding `dir`'s create-exclusive `_gen_claim` (brief
    * retry loop, so two writers committing at the same instant
    * serialize rather than one failing on the claim alone), releasing
    * it however `body` ends. The claim guards only pointer flips and
    * sweeps (milliseconds), so a stale claim from a crash in that window
    * is unlikely; if present, the error names the file and the recovery
    * step. */
  private def withClaim[T](spark: SparkSession, dir: String)
                          (body: FileSystem => T): T = {
    val fs = fsOf(spark, dir)
    val claim = new Path(dir, ClaimFile)
    var attempts = 0
    while (!tryClaim(fs, claim)) {
      attempts += 1
      if (attempts > 100) throw new IllegalStateException(
        s"cannot acquire commit claim $claim after ${attempts - 1} retries — " +
          s"a concurrent commit is in flight, or a crashed writer left the " +
          s"claim behind (safe to delete after confirming no " +
          s"index-update/remove/build is running under $dir)")
      Thread.sleep(100L)
    }
    try body(fs) finally fs.delete(claim, false)
  }

  /** Atomic pointer write: temp file + rename-with-overwrite (one
    * metadata op on HDFS; `Files.move(REPLACE_EXISTING)` on local FS) — a
    * reader never observes a created-but-unwritten pointer, and a crash
    * mid-write leaves only a temp file no reader opens. */
  private def writePointer(spark: SparkSession, path: String,
                           genName: String): Unit = {
    val fs = fsOf(spark, path)
    val p = new Path(path, PointerFile)
    val tmp = new Path(path,
      s"$PointerFile.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(genName.getBytes("UTF-8")) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        tmp.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** Compare-and-swap commit of one written generation — the
    * single-root case of [[commitGenAll]], claimed at the root itself:
    * the pointer flips only if it still names `expected` (the generation
    * this writer loaded and folded its delta onto). If it moved, a
    * concurrent writer won the race: OUR generation is deleted and the
    * commit fails LOUDLY — the delta was not applied and must be re-run
    * against the new version. Silent last-swap-wins is exactly the
    * data-loss mode this protocol exists to remove. Retention: every
    * generation but the new one and `expected` is swept, so exactly one
    * displaced generation stays for in-flight readers, and so does any
    * generation a [[filling]] body of this JVM is still filling. */
  def commitGen(spark: SparkSession, path: String, genDir: String,
                expected: Option[String]): Unit =
    commitGenAll(spark, path, Seq((path, genDir, expected)))

  /** Commit MANY staged generations (one per root) as a single
    * all-or-nothing pointer transaction — the multi-bucket commit of a
    * bucketed entity table's folds (`EntityTable`), its only multi-root
    * caller (the sharded index tiers commit one segment manifest through
    * [[commitGen]] instead, `SegmentStore.commit`). A sequential
    * per-root [[commitGen]] loop has a partial-failure window: a crash
    * (or one lost CAS) mid-loop leaves the fold applied to some roots
    * but not others. Here:
    *
    *  1. ONE claim is taken at `claimDir` (the table root — every fold
    *     serializes on it, so two multi-root commits can never
    *     interleave);
    *  2. EVERY commit's precondition is verified before ANY pointer
    *     moves: the root's pointer still names the generation the
    *     writer folded onto, and the staged directory survived. (A
    *     staged generation holds no claim while being filled, so an
    *     `index-gc` in the staging window may sweep it as an orphan; the
    *     pointer has not moved, so without this check the flip would
    *     point at a deleted directory while both commands succeed);
    *  3. only then do all pointers flip — each flip is one atomic
    *     rename of a few bytes, so the all-flips window is
    *     milliseconds of pure metadata (no corpus I/O interleaves);
    *  4. per-root retention sweeps run last (non-semantic cleanup),
    *     sparing the generations [[filling]] bodies still fill.
    *
    * If ANY precondition fails, every staged generation is deleted and
    * the call throws with the fold UNAPPLIED EVERYWHERE — re-run it.
    * A crash inside the all-flips window itself can still leave some
    * pointers flipped (pointer flips cannot be made jointly atomic on a
    * filesystem), but the window excludes all data writes and renames,
    * and a bucketed table's readers plan against the root generation's
    * bucket manifest, whose pointer flips last. */
  def commitGenAll(spark: SparkSession, claimDir: String,
                   commits: Seq[(String, String, Option[String])]): Unit = {
    if (commits.isEmpty) return
    withClaim(spark, claimDir) { fs =>
      // Phase 1: verify EVERY precondition before ANY pointer moves.
      val failures = commits.flatMap { case (root, genDir, expected) =>
        val cur = currentGen(spark, root)
        if (cur != expected) Some(
          s"$root: concurrent writer detected — generation advanced from " +
            s"${expected.getOrElse("<none>")} to ${cur.getOrElse("<none>")}")
        else if (!fs.exists(new Path(genDir))) Some(
          s"$root: staged generation $genDir was swept by a concurrent " +
            s"index-gc (run index-gc only in windows with no in-flight " +
            s"writers, or without --all)")
        else None
      }
      if (failures.nonEmpty) {
        commits.foreach { case (_, genDir, _) =>
          fs.delete(new Path(genDir), true)
        }
        throw new IllegalStateException(
          s"commit aborted — the delta was NOT applied to ANY root; " +
            s"re-run the update/remove/build against the current version. " +
            s"Failed preconditions: ${failures.mkString("; ")} " +
            s"(FIXTURES.md §10)")
      }
      // Phase 2: all pointers flip (atomic renames, metadata-only).
      commits.foreach { case (root, genDir, _) =>
        writePointer(spark, root, new Path(genDir).getName)
      }
      // Phase 3: per-root retention sweeps, sparing what this JVM's
      // writers are still filling.
      commits.foreach { case (root, genDir, expected) =>
        val keep = Set(Some(new Path(genDir).getName), expected).flatten
        fs.listStatus(new Path(root)).foreach { s =>
          val n = s.getPath.getName
          if (isGenName(n) && !keep(n) && !filled.contains(n))
            fs.delete(s.getPath, true)
        }
      }
    }
  }

  /** Maintenance sweep (`index-gc`): delete non-live generations
    * WITHOUT committing anything — for read-mostly artifacts whose
    * crashed-writer leftovers would otherwise linger until the next
    * successful commit. Runs under the same create-exclusive claim as
    * [[commitGen]], so it can never race a commit's pointer flip.
    * `keepDisplaced = true` (the default CLI behavior) retains the
    * highest-ordinal non-live generation — the in-flight-reader
    * retention the serve ∥ update contract promises; pass false (CLI
    * `--all=true`) only inside a maintenance window with no readers.
    * Returns the deleted generation names. A root with no pointer has
    * nothing to sweep.
    *
    * Above-live generations need one more distinction: a crashed
    * writer's orphan and an IN-FLIGHT writer's still-being-staged
    * generation look identical (staging holds no claim — only the
    * commit does). [[commitGen]] fails loudly if its staged directory
    * vanished, so the race is never silent, but sweeping a live staging
    * still wastes the writer's work; the default sweep therefore skips
    * above-live generations modified within [[StagingGraceMs]] (a
    * writer actively filling a directory keeps its mtime fresh), and
    * only `--all=true` — the no-writers maintenance window — ignores
    * the grace period. */
  val StagingGraceMs: Long = 60L * 60L * 1000L // 1 h

  /** Max modification time across a directory tree (the directory
    * itself, every file, every subdirectory) — the staging-freshness
    * signal [[sweep]] and `SegmentStore.orphans` use. A writer
    * actively filling a generation keeps SOME entry's mtime fresh (task
    * files land continuously) even where the top-level directory mtime
    * froze at job start. Bounded: called only for sweep candidates,
    * which are rare (a crashed writer's orphan or one in-flight
    * staging). */
  private[sinks] def treeMaxMtime(fs: FileSystem, p: Path): Long = {
    val self = fs.getFileStatus(p)
    if (!self.isDirectory) self.getModificationTime
    else (self.getModificationTime +:
      fs.listStatus(p).map(s =>
        if (s.isDirectory) treeMaxMtime(fs, s.getPath)
        else s.getModificationTime).toSeq).max
  }

  def sweep(spark: SparkSession, path: String,
            keepDisplaced: Boolean,
            stagingGraceMs: Long = StagingGraceMs): Seq[String] = {
    if (!fsOf(spark, path).exists(new Path(path)))
      throw new IllegalArgumentException(
        s"no artifact at $path — nothing to sweep (check the --path)")
    withClaim(spark, path) { fs =>
      currentGen(spark, path) match {
        case None => Seq.empty
        case Some(cur) =>
          // the DISPLACED generation is the one the pointer moved FROM:
          // the highest ordinal BELOW the live one. Crashed-writer
          // orphans sit ABOVE it (they loaded the live generation, so
          // newGenDir gave them live+1, and they never committed) —
          // keeping "the newest non-live" would retain the garbage and
          // delete the generation in-flight readers depend on.
          val curOrd = ordinalOf(cur).getOrElse(Long.MaxValue)
          val statuses = fs.listStatus(new Path(path))
            .filter(s => isGenName(s.getPath.getName) &&
              s.getPath.getName != cur)
          val orphans: Seq[String] = statuses.map(_.getPath.getName)
            .sortBy(n => ordinalOf(n).getOrElse(-1L)).toSeq
          val displaced =
            if (keepDisplaced)
              orphans.filter(n => ordinalOf(n).exists(_ < curOrd)).lastOption
            else None
          // above-live + recently modified = possibly a writer mid-stage
          // (see StagingGraceMs) — spare it outside --all. Freshness is
          // the MAX mtime across the staged TREE, not the generation
          // directory's own mtime: on HDFS a directory's mtime moves only
          // when direct children are added/removed, and Spark creates
          // `_temporary` once at job start — a long-running staged write
          // would look stale at the top level while its task files are
          // seconds old. Computed lazily, only for above-live candidates.
          val now = System.currentTimeMillis()
          val inGrace: String => Boolean = n =>
            keepDisplaced && ordinalOf(n).exists(_ > curOrd) &&
              now - treeMaxMtime(fs, new Path(path, n)) < stagingGraceMs
          val victims = orphans.filterNot(displaced.contains)
            .filterNot(inGrace)
          victims.foreach(n => fs.delete(new Path(path, n), true))
          victims
      }
    }
  }

  /** Generation-health counters for `index-describe`: total gen_* dirs,
    * orphans (any generation that is not the live one — a crashed or
    * raced writer's leftover, or the one retained displaced generation),
    * and whether a commit claim is present. Purely informational; the
    * next successful commit sweeps everything but the live and displaced
    * generations. */
  def generationReport(spark: SparkSession, path: String)
      : Option[(String, Seq[String], Boolean)] =
    currentGen(spark, path).map { cur =>
      val fs = fsOf(spark, path)
      val gens = fs.listStatus(new Path(path)).map(_.getPath.getName)
        .filter(isGenName).toSeq.sorted
      (cur, gens.filterNot(_ == cur),
        fs.exists(new Path(path, ClaimFile)))
    }
}
