package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.jobs.Jobs._
import graft.operators.Lifecycle._
import graft.sources.Formats

/** CLI entry point — the `kiji <tool>` analog (§3.1 lifecycle:
  * `KM/tools/KijiGather.java`, `JobTool.java:48-62` flag surface,
  * `JobInputSpec`/`JobOutputSpec` parsing).
  *
  * {{{
  * runMain graft.Tool gather --gatherer=com.x.MyGatherer \
  *   --input="format=csv file=/in header=true" \
  *   --output="format=parquet file=/out" \
  *   [--kvstores=/bindings.xml] [--name=myjob] [--history=/hist]
  * }}}
  *
  * Operator classes are reflectively instantiated (no-arg constructor),
  * exactly like the reference's `kiji.gatherer.class` conf key
  * (`KM/gather/impl/GatherMapper.java:97-128`). Output formats mirror
  * `JobOutputSpec.java:51-65`: `parquet, text, csv, seq, avro, avrokv,
  * map`, plus the table outputs `kiji` (direct live appends) and `hfile`
  * (atomic bulk load); a standalone `bulk-load` verb promotes staged
  * files (`KM/tools/KijiBulkLoad.java`).
  */
object Tool {

  def main(args: Array[String]): Unit = {
    val spark = EngineConf.tune(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    run(spark, args)
  }

  /** Separated from main for in-process testing. */
  def run(spark: SparkSession, args: Array[String]): JobResult = {
    require(args.nonEmpty, usage)
    val verb = args.head
    val flags = args.tail.map { a =>
      require(a.startsWith("--") && a.contains('='), s"bad flag '$a'\n$usage")
      val i = a.indexOf('=')
      a.substring(2, i) -> a.substring(i + 1)
    }.toMap
    def flag(k: String): String = flags.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k\n$usage"))

    def instantiate[T](k: String): T =
      Class.forName(flag(k)).getDeclaredConstructor().newInstance().asInstanceOf[T]

    // `bulk-load`: hand previously staged cell files to a table atomically
    // — the KijiBulkLoad tool (`KM/tools/KijiBulkLoad.java:156-163`,
    // `KM/HFileLoader.java:73-75`). No operator, no plan: one atomic
    // commit of the staged directory into the live table location.
    if (verb == "bulk-load") {
      val staged = flag("hfiles")
      val table = flag("table")
      val start = System.currentTimeMillis()
      graft.sinks.BulkSink.commit(spark, staged, table)
      val result = JobResult(java.util.UUID.randomUUID().toString,
        flags.getOrElse("name", "bulk-load-job"), start,
        System.currentTimeMillis(), "SUCCEEDED", Map.empty, None)
      // The promotion is a tracked run like any other verb's job.
      flags.get("history").foreach(p => new JobHistory(spark, p).record(result,
        Map("hfiles" -> staged, "table" -> table)))
      return result
    }

    // `compact`: MAJOR-compact a table — physical retention (max_versions
    // / TTL) plus folding any pending `_changes` feed into the base files,
    // the operational task HBase runs as major compaction. `--layout=` is
    // the retention policy source; omitted = open layout, which compacts
    // duplicate-version cells but enforces no per-family caps. `--asof=`
    // pins the TTL "now" (µs) for deterministic runs.
    if (verb == "compact") {
      val tablePath = flag("table")
      val layout = flags.get("layout")
        .map(graft.table.LayoutJson.parseFile)
        .getOrElse(graft.table.TableLayout(tablePath, Seq.empty))
      // A TTL'd layout with the Long.MaxValue default "now" would treat
      // EVERY cell of those families as expired — a destructive default.
      // Require the caller to pin the TTL clock explicitly.
      val ttlFams = layout.families.filter(_.ttlSeconds.isDefined).map(_.name)
      require(ttlFams.isEmpty || flags.contains("asof"),
        s"refusing to compact '$tablePath': families " +
          ttlFams.mkString("(", ", ", ")") + " declare ttl_seconds, and " +
          "without --asof the TTL cutoff would be evaluated at +infinity, " +
          "physically and irreversibly deleting every cell of those " +
          "families. Pass --asof=<micros> (e.g. current wall-clock " +
          "microseconds) to pin the TTL \"now\".")
      // A locality-grouped table (lg=<group> file sets) compacted without
      // its layout would be rewritten through the ungrouped path, silently
      // losing per-group file splitting and compression. Reads would stay
      // correct (family-name fallback) but the storage layout degrades.
      if (flags.get("layout").isEmpty) {
        val p = new org.apache.hadoop.fs.Path(
          graft.sinks.ArtifactStore.resolve(spark, tablePath))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def hasLgDirs(dir: org.apache.hadoop.fs.Path) =
          fs.exists(dir) && fs.listStatus(dir).exists(s =>
            s.isDirectory && s.getPath.getName.startsWith("lg="))
        // a BUCKETED grouped table keeps its lg=* file sets INSIDE the
        // bucket generations (uniform across buckets — bucket 0's live
        // generation is a complete witness)
        val grouped = hasLgDirs(p) || hasLgDirs(
          new org.apache.hadoop.fs.Path(graft.sinks.ArtifactStore.resolve(
            spark, s"$tablePath/_buckets/0")))
        require(!grouped,
          s"refusing to compact '$tablePath': the table is locality-grouped " +
            "(lg=* file sets) and no --layout was supplied; compacting " +
            "without the layout would rewrite it ungrouped, losing " +
            "per-group file sets and compression. Pass --layout=<layout.json>.")
      }
      val asOf = flags.get("asof").map(_.toLong).getOrElse(Long.MaxValue)
      val splits = flags.get("splits").map(_.toInt).getOrElse(32)
      val start = System.currentTimeMillis()
      new graft.table.EntityTable(spark, tablePath, layout)
        .majorCompact(asOf, splits)
      val result = JobResult(java.util.UUID.randomUUID().toString,
        flags.getOrElse("name", "compact-job"), start,
        System.currentTimeMillis(), "SUCCEEDED", Map.empty, None)
      flags.get("history").foreach(p => new JobHistory(spark, p).record(result,
        Map("table" -> tablePath) ++ flags.get("layout").map("layout" -> _)))
      return result
    }

    // `index-build` / `index-serve`: the build-once/serve-many index tier
    // (LSH / IVF / PQ / BPE / BM25 / unigram) through the CLI facade —
    // see [[IndexTool]] for the per-type contract. Build trains from the
    // input spec and persists the artifact at --path; serve loads the
    // artifact and runs the type's query/encode path over the input spec,
    // writing through the standard output spec dispatch.
    // `index-gc`: maintenance sweep of non-live generations (a crashed
    // writer's leftovers on a read-mostly artifact would otherwise wait
    // for the next commit). Keeps the retained displaced generation
    // unless --all=true (maintenance window, no in-flight readers).
    // Type-agnostic: generations are an ArtifactStore concept.
    if (verb == "index-gc") {
      val path = flag("path")
      val start = System.currentTimeMillis()
      // validate the flag value explicitly: String.toBoolean throws a
      // bare "For input string" for --all=1/--all=yes, which names
      // neither the flag nor the accepted values
      val all = flags.get("all").map {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"index-gc: invalid value '$other' for --all — accepted " +
            s"values are true and false")
      }.getOrElse(false)
      val grace = flags.get("grace-ms").map(_.toLong)
        .getOrElse(graft.sinks.ArtifactStore.StagingGraceMs)
      val sweptRoot = graft.sinks.ArtifactStore.sweep(spark, path,
        keepDisplaced = !all, stagingGraceMs = grace)
      // multi-root layouts keep more generational roots below the
      // artifact's: a segment store ONE manifest root (`_segments`) — a
      // sharded artifact's generation, or an entity table's change feed
      // (`<live>/_changes`) — and a bucketed table one per bucket
      // (`_buckets/`). A crashed writer's orphan generations live THERE,
      // so the sweep recurses over every child root under the same
      // policy (each under its own claim)
      val base = graft.sinks.ArtifactStore.resolve(spark, path)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def childrenOf(p: String): Seq[String] = graft.sinks.SegmentStore
        .list(fs, p).filter(_.isDirectory).map(_.getPath.toString).toSeq.sorted
      val feed = s"$base/_changes"
      val segmented = Seq(base, feed)
        .filter(graft.sinks.SegmentStore.pinIfAny(spark, _).isDefined)
      val childRoots = segmented.map(d =>
        s"$d/${graft.sinks.SegmentStore.ManifestFile}") ++
        childrenOf(s"$path/_buckets")
      val sweptChildren = childRoots.flatMap { r =>
        // display-relative: "<family>/<child>/<gen>" (listStatus returns
        // scheme-qualified paths, so a plain prefix strip misses)
        val hp = new org.apache.hadoop.fs.Path(r)
        val rel = s"${hp.getParent.getName}/${hp.getName}"
        graft.sinks.ArtifactStore.sweep(spark, r,
            keepDisplaced = !all, stagingGraceMs = grace)
          .map(g => s"$rel/$g")
      }
      // a segment store's roots also hold crashed or CAS-losing
      // writers' `_seg_*` data dirs, which no manifest names — swept
      // after the manifest generations, under the same grace policy
      // (--all, the no-writers window, ignores it). A feed's `batches`
      // root is walked even when no manifest names it yet: a crashed
      // first append left its segment there
      val sweptSegments = Seq(base -> Nil, feed ->
          Seq(graft.table.EntityTable.Batches)).flatMap { case (d, roots) =>
        graft.sinks.SegmentStore.sweepOrphans(spark, d, if (all) 0L else grace,
          roots) }
      val swept = sweptRoot ++ sweptChildren ++ sweptSegments
      swept.foreach(g => println(s"swept: $g"))
      val now = System.currentTimeMillis()
      val result = JobResult(java.util.UUID.randomUUID().toString,
        flags.getOrElse("name", "index-gc"), start, now, "SUCCEEDED",
        Map("swept_generations" -> (sweptRoot ++ sweptChildren).length.toLong,
          "swept_child_roots" -> sweptChildren.length.toLong,
          "swept_segments" -> sweptSegments.length.toLong), None)
      flags.get("history").foreach(p => new JobHistory(spark, p)
        .record(result, Map("path" -> path)))
      return result
    }

    if (verb == "index-build" || verb == "index-serve" ||
        verb == "index-update" || verb == "index-remove" ||
        verb == "index-describe" || verb == "index-rebuild" ||
        verb == "index-compact") {
      val tpe = flag("type")
      val path = flag("path")
      val start = System.currentTimeMillis()
      if (verb == "index-compact") {
        // fold a segmented tier's append-mode segments back to one per
        // shard (purely physical — serves hash-identical before/after)
        val counters = IndexTool.compact(spark, tpe, path, flags)
        val result = JobResult(java.util.UUID.randomUUID().toString,
          flags.getOrElse("name", s"index-compact-$tpe"), start,
          System.currentTimeMillis(), "SUCCEEDED", counters, None)
        flags.get("history").foreach(p => new JobHistory(spark, p)
          .record(result, Map("type" -> tpe, "path" -> path)))
        return result
      }
      if (verb == "index-describe") {
        // artifact introspection — the check an operator runs around an
        // index-update (did the delta land? how big are the surfaces?)
        val counters = IndexTool.describe(spark, tpe, path, flags)
        val now = System.currentTimeMillis()
        val result = JobResult(java.util.UUID.randomUUID().toString,
          flags.getOrElse("name", s"index-describe-$tpe"), start, now,
          "SUCCEEDED", counters, None)
        // --history records like every other index verb: describe's
        // counters are exactly what the job-history table stores
        flags.get("history").foreach(p => new JobHistory(spark, p)
          .record(result, Map("type" -> tpe, "path" -> path)))
        return result
      }
      if (verb == "index-rebuild") {
        // describe-driven drift repair: retrain the coarse codebook
        // from the index's own postings + CAS swap (IndexTool.rebuild).
        // The compressed sharded tiers re-fit from a re-supplied corpus
        // (--input) — their codes cannot reproduce the raw vectors.
        val counters = IndexTool.rebuild(spark, tpe, path, flags,
          flags.get("input").map(i => Formats.read(spark, i)))
        val result = JobResult(java.util.UUID.randomUUID().toString,
          flags.getOrElse("name", s"index-rebuild-$tpe"), start,
          System.currentTimeMillis(), "SUCCEEDED", counters, None)
        flags.get("history").foreach(p => new JobHistory(spark, p)
          .record(result, Map("type" -> tpe, "path" -> path)))
        return result
      }
      if (verb == "index-build")
        IndexTool.build(spark, tpe, Formats.read(spark, flag("input")), path,
          flags)
      else if (verb == "index-update")
        // fold an admitted delta batch into the persisted artifact
        // (atomic swap; exact == rebuild — see IndexTool.UpdateTypes)
        IndexTool.update(spark, tpe, Formats.read(spark, flag("input")), path,
          flags)
      else if (verb == "index-remove")
        // drop a doc/vector set from the artifact (right-to-be-forgotten;
        // atomic swap — see IndexTool.RemoveTypes)
        IndexTool.remove(spark, tpe, Formats.read(spark, flag("input")), path,
          flags)
      else if (flags.get("stream").contains("true")) {
        // streaming ingestion drain: per-micro-batch probe/prune/rank
        // against the loaded index, checkpointed, stops when the backlog
        // is empty (the type gate lives in IndexTool.serveStream /
        // IndexTool.StreamTypes)
        IndexTool.serveStream(spark, tpe, flag("input"), path,
          flag("output"), flags)
      } else
        writeOutput(IndexTool.serve(spark, tpe,
          Formats.read(spark, flag("input")), path, flags), flag("output"))
      val result = JobResult(java.util.UUID.randomUUID().toString,
        flags.getOrElse("name", s"$verb-$tpe"), start,
        System.currentTimeMillis(), "SUCCEEDED", Map.empty, None)
      flags.get("history").foreach(p => new JobHistory(spark, p).record(result,
        Map("type" -> tpe, "path" -> path)))
      return result
    }

    // `describe`: operational table stats — base file set, pending
    // change-feed occupancy (files + rows awaiting a fold), locality
    // grouping. The feed numbers are the signal for scheduling
    // `compact` / `compactFeed` (each append batch is one more file
    // every merged read re-unions). With `--minor-compact-over=N` the
    // verb also FOLDS the feed down to one file when it holds more
    // than N (feed-only rewrite; base untouched).
    if (verb == "describe") {
      val tablePath = flag("table")
      val layout = flags.get("layout")
        .map(graft.table.LayoutJson.parseFile)
        .getOrElse(graft.table.TableLayout(tablePath, Seq.empty))
      val table = new graft.table.EntityTable(spark, tablePath, layout)
      // list the LIVE generation only — walking the root of a
      // generational table would double-count the retained displaced
      // generation's files
      val resolved = graft.sinks.ArtifactStore.resolve(spark, tablePath)
      val p = new org.apache.hadoop.fs.Path(resolved)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def dataFiles(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.flatMap { s =>
          val n = s.getPath.getName
          if (n.startsWith("_") || n.startsWith(".")) Seq.empty
          else if (s.isDirectory) dataFiles(s.getPath)
          else Seq(s)
        }
      val base = dataFiles(p)
      val groups = if (!fs.exists(p)) Seq.empty else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("lg="))
        .map(_.getPath.getName.stripPrefix("lg="))
      val (feedFiles, feedRows) = table.changeFeedStats
      println(s"table: $tablePath")
      graft.sinks.ArtifactStore.currentGen(spark, tablePath).foreach(g =>
        println(s"live generation: $g (pointer-CAS commits; displaced " +
          s"generation retained one cycle)"))
      println(s"base: files=${base.length} bytes=${base.map(_.getLen).sum}")
      if (groups.nonEmpty) println(s"locality groups: ${groups.sorted.mkString(", ")}")
      println(s"change feed: files=$feedFiles rows=$feedRows" +
        (if (feedFiles > 0) " (pending fold: compactFeed or compact)" else ""))
      // the EntityTable concurrency contract, surfaced operationally
      // (scheduling the folds this verb recommends is exactly when it
      // matters): appends and feed folds commit through the feed
      // manifest's CAS; every PHYSICAL fold must be append-exclusive.
      println("concurrent writers: appendChanges||appendChanges SAFE and " +
        "compactFeed||appendChanges SAFE (feed manifest CAS, distinct " +
        "arrival stamps; a refused compactFeed is re-run); compact/" +
        "bulk-load require writer exclusivity (an append into the " +
        "generation they displace is lost - schedule in a maintenance " +
        "window)")
      val compacted = flags.get("minor-compact-over").map(_.toInt) match {
        case Some(n) if feedFiles > n => table.compactFeed(n); true
        case _ => false
      }
      val now = System.currentTimeMillis()
      return JobResult(java.util.UUID.randomUUID().toString,
        flags.getOrElse("name", "describe"), now, now, "SUCCEEDED",
        Map("base_files" -> base.length.toLong,
          "base_bytes" -> base.map(_.getLen).sum,
          "feed_files" -> feedFiles.toLong, "feed_rows" -> feedRows,
          "feed_compacted" -> (if (compacted) 1L else 0L)), None)
    }

    // `job-history`: inspect recorded runs — the KijiJobHistory tool
    // (`KM/tools/KijiJobHistory.java`: all runs, or one job's full record
    // and counters by id).
    if (verb == "job-history") {
      val hist = new JobHistory(spark, flag("history"))
      val shown = flags.get("job-id") match {
        case Some(id) =>
          val rows = hist.forJob(id).collect()
          rows.foreach(println)
          hist.counters.filter(org.apache.spark.sql.functions.col("job_id") === id)
            .collect().foreach(println)
          rows.length
        case None =>
          val rows = hist.table
            .select("job_id", "job_name", "job_start_time", "job_end_time",
              "job_end_status").collect()
          rows.foreach(println)
          rows.length
      }
      val now = System.currentTimeMillis()
      return JobResult(java.util.UUID.randomUUID().toString, "job-history",
        now, now, "SUCCEEDED", Map("jobs_shown" -> shown.toLong), None)
    }

    // Builder (and its flag validation) comes BEFORE any input IO —
    // missing configuration is a build-time error, as in the reference.
    val builder = verb match {
      case "gather" =>
        import spark.implicits._
        new GatherJobBuilder[String, String](instantiate[Gatherer[String, String]]("gatherer"))
      case "produce" =>
        new ProduceJobBuilder(instantiate[Producer]("producer"))
      case "bulk-import" =>
        import spark.implicits._
        new BulkImportJobBuilder[Long, String](instantiate[BulkImporter[String, Long, String]]("importer"))
      case "pivot" =>
        import spark.implicits._
        new PivotJobBuilder[Long, String](instantiate[Pivoter[Long, String]]("pivoter"))
      case other => throw new IllegalArgumentException(s"unknown verb '$other'\n$usage")
    }
    val outputSpec = flag("output") // validated before input IO
    builder.withInput(Formats.read(spark, flag("input")))
      .withName(flags.getOrElse("name", s"$verb-job"))
    flags.get("kvstores").foreach(p =>
      builder.withStoreBindingsXml(java.nio.file.Files.readString(java.nio.file.Paths.get(p))))
    flags.get("history").foreach(p => builder.withHistory(new JobHistory(spark, p)))

    // The output write IS the single plan execution (no separate count).
    builder.run(df => writeOutput(df, outputSpec))
  }

  /** JobOutputSpec-style writer dispatch. */
  def writeOutput(df: DataFrame, spec: String): Unit = {
    val kv = spec.trim.split("\\s+").map { tok =>
      val i = tok.indexOf('=')
      require(i > 0, s"malformed output spec token '$tok'")
      tok.take(i) -> tok.drop(i + 1)
    }.toMap
    def file = kv.getOrElse("file",
      throw new IllegalArgumentException(s"output spec missing file=: '$spec'"))
    def table = kv.getOrElse("table",
      throw new IllegalArgumentException(s"output spec missing table=: '$spec'"))
    def splits = kv.get("splits").map(_.toInt)
    // Table outputs consume the cell shape lifecycle operators emit
    // (CellPut: the HFileKeyValue analog) — anything else is a job wiring
    // error, reported up front like the reference's output-spec validation.
    def cellShaped: DataFrame = {
      val need = Seq("entity_id", "family", "qualifier", "ts", "value")
      require(need.forall(df.columns.contains),
        s"table output needs cell columns ${need.mkString("(", ", ", ")")}, " +
          s"got ${df.columns.mkString("(", ", ", ")")}")
      df
    }
    kv("format") match {
      case "parquet" => df.write.mode("overwrite").parquet(file)
      case "text" =>
        df.select(concat_ws("\t", df.columns.toSeq.map(col): _*).as("value"))
          .write.mode("overwrite").text(file)
      case "csv" => df.write.mode("overwrite").option("header", "true").csv(file)
      case "json" => df.write.mode("overwrite").json(file)
      case "seq" =>
        Formats.writeSeqFile(df.selectExpr("CAST(" + df.columns(0) + " AS STRING)",
          "CAST(" + df.columns(1) + " AS STRING)"), file)
      case "avro" =>
        // Schema from `schema=` (JSON, whitespace-free per spec tokenizing)
        // or derived from the frame's column types.
        Formats.writeAvro(df, file,
          kv.getOrElse("schema", Formats.avroSchemaJson(df)))
      case "avrokv" => Formats.writeAvroKV(df, file)
      case "map" =>
        Formats.writeMapFile(df, file, splits.getOrElse(1))
      // `format=kiji`: direct live-table writes (DirectKijiTableMapReduce
      // JobOutput) — appended files, version resolution at read time.
      case "kiji" =>
        graft.sinks.DirectSink.append(cellShaped, table)
      // `format=hfile`: the bulk-load path (HFileMapReduceJobOutput +
      // HFileLoader) — range-partitioned total-order staged write, atomic
      // commit. With layout=, locality groups/compression/validation apply.
      // With buckets=B, the table loads into the KEY-BUCKETED layout
      // (EntityTable.bulkLoadBucketed — xxhash64(entity_id) mod B roots):
      // later folds (appendChanges → compact) rewrite only the buckets
      // their delta routes to, the 100 TB table rewrite-unit fix, now
      // reachable without writing Scala.
      case "hfile" =>
        val layout = kv.get("layout").map(graft.table.LayoutJson.parseFile)
        kv.get("buckets").map(_.toInt) match {
          case Some(b) =>
            new graft.table.EntityTable(df.sparkSession, table,
              layout.getOrElse(graft.table.TableLayout(table, Seq.empty)))
              .bulkLoadBucketed(cellShaped, b, splits.getOrElse(32))
          case None => layout match {
            case Some(l) =>
              new graft.table.EntityTable(df.sparkSession, table, l)
                .bulkLoad(cellShaped, splits.getOrElse(32))
            case None =>
              graft.jobs.Jobs.bulkCommit(cellShaped, table,
                splits.getOrElse(32))
          }
        }
      case other => throw new IllegalArgumentException(s"unknown output format '$other'")
    }
  }

  // type lists rendered from IndexTool's own sets, so the help text
  // cannot drift from the dispatcher (it previously understated the
  // stream surface after decontam/cdc joined)
  private val usage: String =
    """usage: graft.Tool <gather|produce|bulk-import|pivot>
      |  --<gatherer|producer|importer|pivoter>=<class>
      |   | graft.Tool bulk-load --hfiles=<staged-dir> --table=<path>
      |   | graft.Tool compact --table=<path> [--layout=<layout.json>]
      |       [--asof=<micros>] [--splits=N]   (--asof REQUIRED with TTL layouts)
      |   | graft.Tool describe --table=<path> [--layout=<layout.json>]
      |       [--minor-compact-over=N]
      |   | graft.Tool job-history --history=<dir> [--job-id=<id>]
      |   | graft.Tool index-build --type=<TYPES>
      |       --input="format=..." --path=<dir> [type knobs: --shingle-n --num-hashes
      |       --bands --centroids --iters --dim --m --k --merges --target-vocab
      |       --coarse-k --target-rows --cluster-cap --max-fine-per-cell --salt
      |       --avg-mask --max-chars --half-centroids-a --half-centroids-b
      |       --id-col --text-col --vec-col]
      |   | graft.Tool index-serve --type=<...> --path=<dir> --input="format=..."
      |       --output="format=..." [--threshold --nprobe --topk --max-query-id --k1 --b]
      |       [--rerank-from=<ivfflat dir> --rerank-pool=N  (ivfpq/ivfpqr:
      |        two-stage search — ADC shortlist + exact rerank on the
      |        named postings' raw vectors)]
      |       [--stream=true  (STREAMTYPES:
      |        drain the input dir as a checkpointed file stream)]
      |   | graft.Tool index-update --type=<UPDATETYPES> --path=<dir>
      |       --input="format=..." [--skip-disjoint-check=true]
      |       [--max-rewrite-rows=N  (unsharded tiers with a sharded twin
      |        refuse whole-surface rewrites past the gate — rebuild as
      |        the *-sharded type, or raise the bound for a one-off)]
      |       [--mode=append|merge  (the sharded tiers, COMPACTTYPES:
      |        append writes one delta-sized immutable segment per
      |        routed shard, O(delta) regardless of how many shards the
      |        delta's hashes spray across; merge is the whole-shard
      |        compacting rewrite. Default: merge on the ivf*-sharded
      |        tiers, append on the others)]
      |       (fold an admitted delta into the artifact; generation
      |        pointer CAS — racing updates fail loudly, never silently
      |        drop a delta; exact == rebuild on the union. Delta ids
      |        must be NEW: overlaps fail unless the check is waived)
      |   | graft.Tool index-remove --type=<REMOVETYPES> --path=<dir>
      |       --input="format=..."   (drop a doc/vector id set from the
      |        artifact — right-to-be-forgotten; same pointer CAS, exact
      |        == rebuild/re-assign on the remaining corpus)
      |   | graft.Tool index-describe --type=<...> --path=<dir>
      |       [--pair=<dir> --pair-type=<...>]
      |       (artifact surfaces + sizes; run around an index-update.
      |        --pair checks id-set parity against the second artifact a
      |        hybrid/rerank serve reads — one-sided ids degrade silently)
      |   | graft.Tool index-rebuild --type=<REBUILDTYPES> --path=<dir>
      |       [--centroids=N --iters=N --min-skew=R --force=true]
      |       [--input="format=..."  (ivfpq-sharded|ivfpqr-sharded: corpus
      |        re-supply — coarse + PQ re-fit in the SAME root/shard grid
      |        under one root CAS; --skip-corpus-check=true waives the
      |        stale-corpus id guard)]
      |   | graft.Tool index-compact --type=<COMPACTTYPES> --path=<dir>
      |       (fold a segmented tier's append-mode segments back to ONE
      |        per shard root — the read-amplification reset; serves are
      |        hash-identical before and after)
      |   | graft.Tool index-gc --path=<dir> [--all=true|false] [--grace-ms=N]
      |       (sweep non-live generations left by crashed writers;
      |        keeps the retained displaced generation unless --all;
      |        recurses over child roots — a sharded artifact's _segments
      |        manifest root, a table feed's _changes/_segments, a bucketed
      |        table's _buckets/ — so a crashed SHARDED update's or feed
      |        append's orphans AND unreferenced _seg_* data dirs are
      |        reachable too)
      |  --input="format=<parquet|text|csv|json|xml|seq|avro|avrokv|small-text-files> file=... [k=v ...]"
      |        | "format=kiji table=<path> [layout=<layout.json>] [maxversions=N]
      |           [columns=fam:qual,...] [timerange=lo,hi] [startrow=K] [limitrow=K]
      |           [asof=<feedTs> | asofordinal=<batchN>]"
      |  --output="format=<parquet|text|csv|json|seq|avro|avrokv|map> file=... [splits=N]"
      |         | "format=<kiji|hfile> table=<path> [layout=<layout.json>] [splits=N]
      |            [buckets=B  (hfile: load the KEY-BUCKETED layout — later
      |             compact folds rewrite only the buckets a delta routes to)]"
      |  [--kvstores=<bindings.xml>] [--name=<job>] [--history=<dir>]""".stripMargin
      .replace("<TYPES>", s"<${IndexTool.Types.toSeq.sorted.mkString("|")}>")
      .replace("STREAMTYPES",
        IndexTool.StreamTypes.toSeq.sorted.mkString("|"))
      .replace("<UPDATETYPES>",
        s"<${IndexTool.UpdateTypes.toSeq.sorted.mkString("|")}>")
      .replace("<REMOVETYPES>",
        s"<${IndexTool.RemoveTypes.toSeq.sorted.mkString("|")}>")
      .replace("<REBUILDTYPES>",
        s"<${IndexTool.RebuildTypes.toSeq.sorted.mkString("|")}>")
}
