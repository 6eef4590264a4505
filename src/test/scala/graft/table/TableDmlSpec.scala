package graft.table

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dml.Dml
import graft.sinks.BulkSink

class TableDmlSpec extends SparkSpec {
  import spark.implicits._

  private def cells = Seq(
    // (entity, family, qualifier, ts, value)
    (1L, "info", "email", 10L, "old@x"),
    (1L, "info", "email", 20L, "new@x"),
    (1L, "info", "name", 5L, "Marsellus"),
    (2L, "info", "email", 15L, "v@x"),
    (2L, "stats", "zip", 1L, "94110")
  ).toDF("entity_id", "family", "qualifier", "ts", "value")

  private def changesDF(ch: Seq[Dml.Change[Long, String]]) =
    ch.toDF("entity_id", "family", "qualifier", "op", "ts", "value")

  private def keys(df: org.apache.spark.sql.DataFrame) =
    df.select("entity_id", "family", "qualifier", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet


  test("reader specs: per-column decode at read; spec must bind to a requested column") {
    val dir = tmpDir("readerspec") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("f"))))
    table.bulkLoad(Seq(
      (1L, "f", "a", 1L, "10"), (1L, "f", "b", 1L, "xx"), (2L, "f", "a", 2L, "7"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 2)
    // A spec with no explicit columns implicitly requests its column —
    // 'b' (undecodable as long) never surfaces.
    val out = table.mostRecent(DataRequest(readerSpecs = Map(
      ("f", "a") -> (v => v.cast(org.apache.spark.sql.types.LongType)))))
    assert(out.schema("value").dataType == org.apache.spark.sql.types.LongType)
    assert(out.collect().map(r => (r.getAs[Long]("entity_id"), r.getAs[Long]("value")))
      .toSet == Set((1L, 10L), (2L, 7L)))
    // A spec outside a non-empty column list is a request error.
    intercept[IllegalArgumentException] {
      table.mostRecent(DataRequest(columns = Seq(("f", "b")),
        readerSpecs = Map(("f", "a") -> (v => v))))
    }
  }

  test("schemaless layout (no declared families) accepts any family on load") {
    val dir = tmpDir("openlayout") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("open", Seq.empty))
    table.bulkLoad(Seq((1L, "whatever", "q", 1L, "v"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    assert(table.cells.count() == 1)
  }

  test("group-type family: writes to undeclared qualifiers are rejected; map-type stays open") {
    val dir = tmpDir("groupfam") + "/t"
    val layout = TableLayout("t", Seq(
      FamilySpec("grp", columns = Some(Seq("email", "name"))),
      FamilySpec("open")))
    val table = new EntityTable(spark, dir, layout)
    // Declared qualifiers + any qualifier in the map-type family: fine.
    table.bulkLoad(Seq(
      (1L, "grp", "email", 1L, "a@x"), (1L, "grp", "name", 1L, "A"),
      (1L, "open", "anything_goes", 1L, "v"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    assert(table.cells.count() == 3)
    // An undeclared qualifier in the closed family fails the load.
    val e = intercept[Exception] {
      table.bulkLoad(Seq((2L, "grp", "nickname", 1L, "B"))
        .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("not declared for group-type family")))
  }

  test("major compaction physically drops beyond max_versions and expired TTL") {
    val dir = tmpDir("majorcompact") + "/t"
    val layout = TableLayout("t", Seq(
      FamilySpec("info", maxVersions = 2),
      FamilySpec("tmp", ttlSeconds = Some(10L))))
    val table = new EntityTable(spark, dir, layout)
    val asOf = 100L * 1000000L // t = 100s in micros; tmp TTL cutoff = 90s
    table.bulkLoad(Seq(
      (1L, "info", "email", 1L, "v1"), (1L, "info", "email", 2L, "v2"),
      (1L, "info", "email", 3L, "v3"), (1L, "info", "email", 4L, "v4"),
      (2L, "tmp", "x", 80L * 1000000L, "expired"),
      (2L, "tmp", "x", 95L * 1000000L, "fresh"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 2)
    assert(table.cells.count() == 6)
    val before = table.read(DataRequest(maxVersions = 10), asOf).collect().toSet
    table.majorCompact(asOf)
    // Physically shrunk: 2 newest info versions + 1 unexpired tmp cell.
    assert(table.cells.count() == 3)
    assert(table.cells.select("value").collect().map(_.getString(0)).toSet ==
      Set("v3", "v4", "fresh"))
    // Reads are unchanged by compaction.
    assert(table.read(DataRequest(maxVersions = 10), asOf).collect().toSet == before)
  }

  test("merge-on-read: appendChanges is O(delta) — no base file rewrite") {
    val dir = tmpDir("mor") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    def baseFiles: Set[(String, Long)] = {
      val fs = Files.list(Paths.get(live(dir))).iterator()
      var out = Set.empty[(String, Long)]
      while (fs.hasNext) {
        val p = fs.next()
        val n = p.getFileName.toString
        // the _arrival_reserved ordinal marker (and its local-FS .crc
        // shadow) is an INTENDED O(1) append artifact, not a base rewrite
        if (!n.startsWith("_") && !n.contains("_arrival_reserved"))
          out += ((p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
      }
      out
    }
    val before = baseFiles
    table.appendChanges(changesDF(Seq(
      Dml.put(1L, "info", "email", 30L, "newest@x"),
      Dml.deleteRow(2L, Long.MaxValue, null.asInstanceOf[String]))))
    // base files byte-identical; only the _changes feed appeared
    assert(baseFiles == before)
    assert(table.hasPendingChanges)
    // merged view: entity 2 gone, new put visible
    assert(keys(table.cells) == Set(
      (1L, "info", "email", 10L), (1L, "info", "email", 20L),
      (1L, "info", "email", 30L), (1L, "info", "name", 5L)))
    // a second append accumulates (tombstone masks the earlier feed put too)
    table.appendChanges(changesDF(Seq(
      Dml.deleteColumn(1L, "info", "email", 30L, null.asInstanceOf[String]))))
    assert(keys(table.cells) == Set((1L, "info", "name", 5L)))
    assert(baseFiles == before)
  }

  test("readAsOf: feed cut replays every DML state; MaxValue is the live view") {
    val dir = tmpDir("asof") + "/t"
    val table = new EntityTable(spark, dir,
      TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    // ts=25: correction put; ts=22: row tombstone (masks ts<=22, so the
    // ts=25 put survives it); ts=30: late put on the tombstoned row
    table.appendChanges(changesDF(Seq(
      Dml.put(1L, "info", "email", 25L, "fix@x"))))
    table.appendChanges(changesDF(Seq(
      Dml.deleteRow(1L, 22L, null.asInstanceOf[String]))))
    table.appendChanges(changesDF(Seq(
      Dml.put(1L, "info", "name", 30L, "Vincent"))))
    // cut below every feed entry: the pure base
    assert(keys(table.cellsAsOf(9L)) == keys(
      spark.createDataFrame(cells.collectAsList(), cells.schema)))
    // cut at 25: the correction is in, the tombstone (ts 22) also — base
    // info cells for entity 1 masked, the ts=25 put survives
    assert(keys(table.cellsAsOf(25L)) == Set(
      (1L, "info", "email", 25L),
      (2L, "info", "email", 15L), (2L, "stats", "zip", 1L)))
    // cut at 30 == live
    assert(keys(table.cellsAsOf(30L)) == keys(table.cells))
    assert(keys(table.readAsOf(30L,
        DataRequest(maxVersions = Int.MaxValue)).select(col("entity_id"),
        col("family"), col("qualifier"), explode(col("versions")).as("v"))
      .select(col("entity_id"), col("family"), col("qualifier"),
        col("v.ts").as("ts"))) == keys(table.cells))
    // mostRecentAsOf(25): newest surviving version per column at the cut
    val mr = table.mostRecentAsOf(25L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(4)))
      .toSet
    assert(mr == Set((1L, "info", "email", "fix@x"),
      (2L, "info", "email", "v@x"), (2L, "stats", "zip", "94110")))
  }

  test("readAsOf × compaction: minor fold preserves every cut; major fold refuses below its watermark") {
    val dir = tmpDir("asofCompact") + "/t"
    val table = new EntityTable(spark, dir,
      TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    table.appendChanges(changesDF(Seq(Dml.put(1L, "info", "email", 25L, "fix@x"))))
    table.appendChanges(changesDF(Seq(Dml.deleteRow(1L, 22L, null.asInstanceOf[String]))))
    table.appendChanges(changesDF(Seq(Dml.put(1L, "info", "name", 30L, "Vincent"))))
    val cut9 = keys(table.cellsAsOf(9L))
    val cut25 = keys(table.cellsAsOf(25L))
    // MINOR compaction rewrites the feed's FILES, not its rows: every cut
    // reproduces bit-for-bit and no history watermark appears
    table.compactFeed()
    assert(table.changeFeedStats._1 == 1)
    assert(keys(table.cellsAsOf(9L)) == cut9)
    assert(keys(table.cellsAsOf(25L)) == cut25)
    assert(table.asOfWatermark == Long.MinValue)
    // MAJOR compaction folds the feed physically: watermark = max folded ts
    val live = keys(table.cells)
    table.majorCompact()
    assert(table.asOfWatermark == 30L)
    assert(!table.hasPendingChanges)
    // cuts at/above the watermark still reproduce their snapshot (all
    // folded entries are <= watermark <= cut, so the fold changed nothing
    // that cut could see)
    assert(keys(table.cellsAsOf(30L)) == live)
    assert(keys(table.cellsAsOf(Long.MaxValue)) == live)
    // cuts strictly below REFUSE instead of silently returning the folded
    // state — the masked versions and tombstones are physically gone
    val e = intercept[IllegalArgumentException] { table.cellsAsOf(25L) }
    assert(e.getMessage.contains("major compaction"))
    intercept[IllegalArgumentException] { table.readAsOf(9L) }
    intercept[IllegalArgumentException] { table.mostRecentAsOf(29L) }
    // watermark is monotone across repeated folds: a later feed whose max
    // ts is BELOW the barrier folds fine but cannot lower it
    table.appendChanges(changesDF(Seq(Dml.put(2L, "info", "email", 27L, "later@x"))))
    assert(keys(table.cells).contains((2L, "info", "email", 27L)))
    table.majorCompact()
    assert(table.asOfWatermark == 30L)
    intercept[IllegalArgumentException] { table.cellsAsOf(29L) }
    assert(keys(table.cellsAsOf(30L)).contains((2L, "info", "email", 27L)))
  }

  test("readAsOfOrdinal: strict batch-arrival cuts across an out-of-order correction batch") {
    val dir = tmpDir("asofOrdinal") + "/t"
    val table = new EntityTable(spark, dir,
      TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    // batch 1 carries ts=100; batch 2 is a LATE CORRECTION stamped ts=50
    // — non-monotone with arrival, exactly the case the logical-ts cut
    // cannot express as history
    table.appendChanges(changesDF(Seq(
      Dml.put(1L, "info", "email", 100L, "first@x"))))
    table.appendChanges(changesDF(Seq(
      Dml.put(1L, "info", "email", 50L, "correction@x"))))
    // ordinal 0 = the base; ordinal 1 = after batch 1 ONLY: the ts=50
    // correction is invisible even though its ts is below 100
    assert(keys(table.cellsAsOfOrdinal(0L)) == keys(
      spark.createDataFrame(cells.collectAsList(), cells.schema)))
    val after1 = keys(table.cellsAsOfOrdinal(1L))
    assert(after1.contains((1L, "info", "email", 100L)))
    assert(!after1.contains((1L, "info", "email", 50L)))
    // ...while the LOGICAL cut at ts=60 shows the later-arrived
    // correction and not batch 1 — the two axes genuinely differ
    val tsCut = keys(table.cellsAsOf(60L))
    assert(tsCut.contains((1L, "info", "email", 50L)))
    assert(!tsCut.contains((1L, "info", "email", 100L)))
    // ordinal 2 == live; MaxValue == live
    assert(keys(table.cellsAsOfOrdinal(2L)) == keys(table.cells))
    assert(keys(table.cellsAsOfOrdinal(Long.MaxValue)) == keys(table.cells))
    // the versioned read face agrees
    val v1 = table.readAsOfOrdinal(1L, DataRequest(maxVersions = Int.MaxValue))
      .select(col("entity_id"), col("family"), col("qualifier"),
        explode(col("versions.ts")).as("ts")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(v1 == after1)
    // minor compaction folds the feed FILES but keeps the stamps: every
    // ordinal cut reproduces, and the next append keeps numbering
    table.compactFeed()
    assert(keys(table.cellsAsOfOrdinal(1L)) == after1)
    table.appendChanges(changesDF(Seq(
      Dml.put(2L, "info", "email", 70L, "third@x"))))
    assert(keys(table.cellsAsOfOrdinal(2L)) ==
      keys(table.cells) -- Set((2L, "info", "email", 70L)))
    // MAJOR compaction folds physically: the arrival watermark appears
    // and ordinal cuts strictly below refuse
    table.majorCompact()
    assert(table.asOfArrivalWatermark == 3L)
    val e = intercept[IllegalArgumentException] { table.cellsAsOfOrdinal(2L) }
    assert(e.getMessage.contains("watermark"))
    assert(keys(table.cellsAsOfOrdinal(3L)) == keys(table.cells))
    // post-fold appends continue numbering ABOVE the refused range: the
    // new batch gets ordinal 4 (not a restart at 1 underneath the
    // watermark, which no cut could ever reach), so ordinal 3 = the
    // folded base and ordinal 4 = base + the new batch
    val postFoldBase = keys(table.cells)
    table.appendChanges(changesDF(Seq(
      Dml.put(3L, "info", "email", 90L, "fourth@x"))))
    assert(keys(table.cellsAsOfOrdinal(3L)) == postFoldBase)
    assert(keys(table.cellsAsOfOrdinal(4L)) == keys(table.cells))
    assert(keys(table.cellsAsOfOrdinal(4L)).contains(
      (3L, "info", "email", 90L)))
  }

  test("applyChanges is a physical fold: both as-of watermarks advance, cuts below refuse") {
    val dir = tmpDir("applyFold") + "/t"
    val table = new EntityTable(spark, dir,
      TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    table.appendChanges(changesDF(Seq(
      Dml.put(1L, "info", "email", 25L, "fix@x"))))
    // the fold merges the pending feed (ts<=25, arrival 1) AND the direct
    // batch (ts 40, tombstone masking ts<=22) into the base
    table.applyChanges(changesDF(Seq(
      Dml.put(2L, "info", "email", 40L, "later@x"),
      Dml.deleteRow(1L, 22L, null.asInstanceOf[String]))))
    assert(!table.hasPendingChanges)
    val live = keys(table.cells)
    assert(live.contains((2L, "info", "email", 40L)))
    assert(live.contains((1L, "info", "email", 25L)))     // above tombstone
    assert(!live.contains((1L, "info", "name", 5L)))      // masked, GONE
    // ts watermark = max folded ts (40); arrival watermark = folded batch
    assert(table.asOfWatermark == 40L)
    assert(table.asOfArrivalWatermark == 1L)
    // the exact silent-history hazard: a cut below the fold must REFUSE,
    // not serve post-fold state as if it were the ts=30 snapshot
    val e = intercept[IllegalArgumentException] { table.cellsAsOf(30L) }
    assert(e.getMessage.contains("major compaction"))
    intercept[IllegalArgumentException] { table.readAsOfOrdinal(0L) }
    // at/above the watermark the view serves
    assert(keys(table.cellsAsOf(40L)) == live)
    assert(keys(table.cellsAsOfOrdinal(1L)) == live)
  }

  test("multi-file append (numFiles=0) commits atomically; mid-append failure leaves zero feed rows") {
    val dir = tmpDir("morAtomic") + "/t"
    val layout = TableLayout("t", Seq(
      FamilySpec("grp", columns = Some(Seq("email"))), FamilySpec("stats")))
    val table = new EntityTable(spark, dir, layout)
    table.bulkLoad(Seq((1L, "grp", "email", 10L, "a@x"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    // A 2-partition batch where only the SECOND partition violates the
    // layout: one task succeeds, one raises — exactly the mid-append
    // failure mode. Sorting by entity_id before repartitionByRange pins
    // the bad row to its own partition.
    val bad = changesDF(Seq(
      Dml.put(1L, "grp", "email", 20L, "b@x"),
      Dml.put(9L, "grp", "nickname", 20L, "B")))
      .repartitionByRange(2, $"entity_id")
    intercept[Exception](table.appendChanges(bad, numFiles = 0))
    // the failed batch is fully invisible: no feed, unchanged merged view
    assert(!table.hasPendingChanges)
    assert(table.changeFeedStats == ((0, 0L)))
    assert(keys(table.cells) == Set((1L, "grp", "email", 10L)))
    // and the staging dir did not survive as a visible artifact
    val leftovers = Files.list(Paths.get(live(dir))).iterator()
    while (leftovers.hasNext) {
      val n = leftovers.next().getFileName.toString
      assert(n.startsWith("_") || n.startsWith(".") || n.endsWith(".parquet"),
        s"unexpected visible artifact after failed append: $n")
    }
    // a GOOD multi-file batch commits as one batch_* dir, readable merged
    val good = changesDF(Seq(
      Dml.put(1L, "grp", "email", 30L, "c@x"),
      Dml.put(2L, "stats", "zip", 5L, "94110")))
      .repartitionByRange(2, $"entity_id")
    table.appendChanges(good, numFiles = 0)
    val (files, rows) = table.changeFeedStats
    assert(files == 2 && rows == 2L, s"feed=($files, $rows)")
    assert(Files.list(Paths.get(live(dir), "_changes")).iterator().asScala
      .exists(_.getFileName.toString.startsWith("batch_")))
    assert(keys(table.cells) == Set(
      (1L, "grp", "email", 10L), (1L, "grp", "email", 30L),
      (2L, "stats", "zip", 5L)))
    // single-file appends still interleave fine with batch dirs
    table.appendChanges(changesDF(Seq(Dml.put(1L, "grp", "email", 40L, "d@x"))))
    assert(table.changeFeedStats._2 == 3L)
    assert(keys(table.cells).contains((1L, "grp", "email", 40L)))
    // minor compaction folds batch dirs and top-level files alike
    table.compactFeed()
    assert(table.changeFeedStats == ((1, 3L)))
    assert(keys(table.cells).contains((1L, "grp", "email", 40L)))
  }

  test("concurrent multi-file appends: both batches land whole, occupancy = sum") {
    val dir = tmpDir("morConcurrent") + "/t"
    val layout = TableLayout("t", Seq(FamilySpec("grp")))
    val table = new EntityTable(spark, dir, layout)
    table.bulkLoad(Seq((1L, "grp", "email", 10L, "a@x"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    // Two writers, each committing a 2-file batch via its own staged dir +
    // rename. Per-batch UUIDs mean neither rename can clobber the other;
    // the barrier maximizes overlap of the stage-write + rename windows.
    import java.util.concurrent.CyclicBarrier
    val barrier = new CyclicBarrier(2)
    def batchOf(base: Long) = changesDF(Seq(
      Dml.put(base, "grp", "email", 20L, s"w$base@x"),
      Dml.put(base + 1, "grp", "email", 20L, s"w${base + 1}@x")))
      .repartitionByRange(2, $"entity_id")
    val writers = Seq(100L, 200L).map { base =>
      val t = new Thread(() => { barrier.await(); table.appendChanges(batchOf(base), numFiles = 0) })
      t.start(); t
    }
    writers.foreach(_.join(120000))
    assert(writers.forall(!_.isAlive), "a concurrent appender hung")
    val (files, rows) = table.changeFeedStats
    assert(files == 4 && rows == 4L, s"feed=($files, $rows)")
    // both batches fully visible in the merged view
    assert(keys(table.cells) == Set(
      (1L, "grp", "email", 10L),
      (100L, "grp", "email", 20L), (101L, "grp", "email", 20L),
      (200L, "grp", "email", 20L), (201L, "grp", "email", 20L)))
    // exactly two committed batch dirs, no stray staging dirs
    val names = Files.list(Paths.get(live(dir))).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!names.exists(_.startsWith("__changes_stage_")),
      s"staging leaked: $names")
    assert(Files.list(Paths.get(live(dir), "_changes")).iterator().asScala
      .count(_.getFileName.toString.startsWith("batch_")) == 2)
  }

  test("concurrent appendChanges reserve DISTINCT monotone arrival stamps") {
    val dir = tmpDir("morDistinctArrival") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("grp"))))
    table.bulkLoad(Seq((1L, "grp", "email", 10L, "a@x"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    // Four writers race one reservation window. Before the claim-file
    // protocol, two could read the same reserved marker and stamp the
    // SAME ordinal — merging their batches under every readAsOfOrdinal
    // cut. Assert stamps are exactly {1..4}: distinct, gapless, monotone.
    import java.util.concurrent.CyclicBarrier
    val barrier = new CyclicBarrier(4)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writers = (1 to 4).map { i =>
      val t = new Thread(() => {
        try { barrier.await(); table.appendChanges(changesDF(Seq(
          Dml.put(100L + i, "grp", "email", 20L, s"w$i@x"))))
        } catch { case e: Throwable => failures.add(e) }
      })
      t.start(); t
    }
    writers.foreach(_.join(120000))
    assert(failures.isEmpty, s"appender threw: ${failures.asScala.toList}")
    val stamps = table.pendingChanges.select("arrival").collect()
      .map(_.getLong(0)).toSeq
    assert(stamps.sorted == Seq(1L, 2L, 3L, 4L), s"stamps=$stamps")
    // every ordinal cut sees base + exactly k appended rows
    (0 to 4).foreach { k =>
      assert(table.cellsAsOfOrdinal(k.toLong).count() == 1L + k,
        s"ordinal $k row count")
    }
  }

  test("arrival reservation stress: 20 racing rounds — no lost batch, no duplicate ordinal") {
    val dir = tmpDir("morArrivalStress") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("grp"))))
    table.bulkLoad(Seq((1L, "grp", "email", 10L, "a@x"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    import java.util.concurrent.CyclicBarrier
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until 20).foreach { round =>
      val barrier = new CyclicBarrier(2)
      val writers = (0 until 2).map { w =>
        val t = new Thread(() => {
          try { barrier.await(); table.appendChanges(changesDF(Seq(
            Dml.put(1000L + round * 2 + w, "grp", "email", 20L, s"r$round-w$w@x"))))
          } catch { case e: Throwable => failures.add(e) }
        })
        t.start(); t
      }
      writers.foreach(_.join(120000))
      // fold partway through: minor compaction must preserve stamps and
      // the reservation floor (the marker outlives the feed swap)
      if (round == 9) table.compactFeed()
    }
    assert(failures.isEmpty, s"appender threw: ${failures.asScala.toList}")
    val stamps = table.pendingChanges.select("arrival").collect()
      .map(_.getLong(0)).toSeq
    assert(stamps.size == 40, s"lost a batch: ${stamps.size} stamps")
    assert(stamps.distinct.size == 40, s"duplicate ordinal: ${stamps.sorted}")
    assert(stamps.min == 1L && stamps.max == 40L, s"non-gapless: ${stamps.sorted}")
  }

  test("torn arrival marker: empty _arrival_reserved recovers from the feed's own stamps") {
    val dir = tmpDir("morTornMarker") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("grp"))))
    table.bulkLoad(Seq((1L, "grp", "email", 10L, "a@x"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    table.appendChanges(changesDF(Seq(Dml.put(2L, "grp", "email", 20L, "b@x"))))
    table.appendChanges(changesDF(Seq(Dml.put(3L, "grp", "email", 20L, "c@x"))))
    // simulate the crash-mid-write artifact the old protocol could leave:
    // a created-but-empty marker (old readMarker: NumberFormatException
    // on EVERY later append, batch lost; new: lenient fallback to the
    // feed max(arrival) scan — the stamps ARE the ground truth)
    Files.write(Paths.get(live(dir), "_arrival_reserved"), Array.emptyByteArray)
    table.appendChanges(changesDF(Seq(Dml.put(4L, "grp", "email", 20L, "d@x"))))
    val stamps = table.pendingChanges.select("arrival").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(stamps == Seq(1L, 2L, 3L), s"stamps=$stamps")
    // ...and the recovered append rewrote the marker atomically: parseable
    assert(new String(Files.readAllBytes(
      Paths.get(live(dir), "_arrival_reserved")), "UTF-8").trim.toLong == 3L)
    // a torn WATERMARK, by contrast, must fail loudly (absent would
    // silently lower a history barrier)
    Files.write(Paths.get(live(dir), "_asof_watermark"), Array.emptyByteArray)
    val e = intercept[IllegalStateException] { table.asOfWatermark }
    assert(e.getMessage.contains("unreadable"))
  }

  test("compactFeed sweeps stale arrival claims under its writer-exclusive contract") {
    val dir = tmpDir("morClaimSweep") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("grp"))))
    table.bulkLoad(Seq((1L, "grp", "email", 10L, "a@x"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    (1 to 3).foreach { i =>
      table.appendChanges(changesDF(Seq(
        Dml.put(10L + i, "grp", "email", 20L, s"b$i@x"))))
    }
    def claims() = Files.list(Paths.get(live(dir))).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("_arrival_claim_")).toSet
    assert(claims() == Set("_arrival_claim_1", "_arrival_claim_2", "_arrival_claim_3"))
    table.compactFeed()
    assert(claims().isEmpty, s"stale claims survived the sweep: ${claims()}")
    // sweeping never breaks the floor: the next append continues at 4
    table.appendChanges(changesDF(Seq(Dml.put(20L, "grp", "email", 20L, "e@x"))))
    assert(table.pendingChanges.agg(max(col("arrival"))).head().getLong(0) == 4L)
    // ordinal cuts reproduce across the sweep + fold
    assert(table.cellsAsOfOrdinal(2L).count() == 3L)
  }

  test("crash injection: failed commit rename leaves zero visible rows, no staging") {
    val dir = tmpDir("morRenameFail") + "/t"
    val layout = TableLayout("t", Seq(FamilySpec("grp")))
    val table = new EntityTable(spark, dir, layout)
    table.bulkLoad(Seq((1L, "grp", "email", 10L, "a@x"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    // Occupy the feed path with a regular FILE: staging write succeeds,
    // the commit rename into it cannot — the injected crash point between
    // a written batch and its rename landing.
    Files.write(Paths.get(live(dir), "_changes"), Array[Byte](1))
    val batch = changesDF(Seq(
      Dml.put(2L, "grp", "email", 20L, "b@x"),
      Dml.put(3L, "grp", "email", 20L, "c@x")))
      .repartitionByRange(2, $"entity_id")
    intercept[Exception](table.appendChanges(batch, numFiles = 0))
    // nothing visible: no feed rows, merged view unchanged, staging gone
    assert(!table.hasPendingChanges)
    assert(keys(table.cells) == Set((1L, "grp", "email", 10L)))
    val names = Files.list(Paths.get(live(dir))).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(!names.exists(_.startsWith("__changes_stage_")),
      s"staging survived the failed rename: $names")
    // clearing the obstruction restores normal service
    Files.delete(Paths.get(live(dir), "_changes"))
    table.appendChanges(batch, numFiles = 0)
    assert(table.changeFeedStats == ((2, 2L)))
  }

  test("merge-on-read: majorCompact folds the feed physically and empties it") {
    val dir = tmpDir("morcompact") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    table.appendChanges(changesDF(Seq(
      Dml.put(1L, "info", "email", 30L, "newest@x"),
      Dml.deleteRow(2L, Long.MaxValue, null.asInstanceOf[String]))))
    val merged = keys(table.cells)
    table.majorCompact()
    assert(!table.hasPendingChanges, "compaction must consume the feed")
    assert(keys(table.cells) == merged, "compaction must not change the view")
    // tombstoned rows are physically gone from the base files
    assert(spark.read.parquet(live(dir)).filter($"entity_id" === 2L).count() == 0)
  }

  test("merge-on-read: locality-group reads fold the feed; row tombstones hit every group") {
    val dir = tmpDir("morlg") + "/t"
    val layout = TableLayout("t", Seq(
      FamilySpec("info", localityGroup = "hot"),
      FamilySpec("stats", localityGroup = "cold", compression = "gzip")))
    val table = new EntityTable(spark, dir, layout)
    table.bulkLoad(cells, numPartitions = 2)
    table.appendChanges(changesDF(Seq(
      Dml.put(2L, "stats", "zip", 9L, "02139"),
      Dml.deleteRow(1L, Long.MaxValue, null.asInstanceOf[String]))))
    assert(keys(table.localityGroupCells("hot")) == Set((2L, "info", "email", 15L)))
    assert(keys(table.localityGroupCells("cold")) ==
      Set((2L, "stats", "zip", 1L), (2L, "stats", "zip", 9L)))
  }

  test("merge-on-read: ungrouped table serves locality-group reads by family fallback") {
    val dir = tmpDir("morungrouped") + "/t"
    // single default group, default storage: written WITHOUT an lg column
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    assert(keys(table.localityGroupCells("default")) == keys(table.cells))
  }

  test("appendChanges validates ops and layout (nulls pass for scoped tombstones)") {
    val dir = tmpDir("morvalidate") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("info"))))
    table.bulkLoad(cells.filter($"family" === "info"), numPartitions = 1)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val badOp = intercept[Exception] {
      table.appendChanges(changesDF(Seq(
        Dml.Change(1L, "info", "email", "upsert", 1L, "x"))))
    }
    assert(messages(badOp).exists(_.contains("unknown change op")))
    val badFam = intercept[Exception] {
      table.appendChanges(changesDF(Seq(
        Dml.put(1L, "nope", "email", 1L, "x"))))
    }
    assert(messages(badFam).exists(_.contains("unknown family")))
    // failed appends leave no committed change files behind
    assert(!table.hasPendingChanges)
  }

  test("compactFeed: minor compaction folds K feed files into one; base and view unchanged") {
    val dir = tmpDir("minorfeed") + "/t"
    val table = new EntityTable(spark, dir, TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    def baseFiles: Set[(String, Long)] = {
      val fs = Files.list(Paths.get(live(dir))).iterator()
      var out = Set.empty[(String, Long)]
      while (fs.hasNext) {
        val p = fs.next()
        val n = p.getFileName.toString
        // the _arrival_reserved ordinal marker (and its local-FS .crc
        // shadow) is an INTENDED O(1) append artifact, not a base rewrite
        if (!n.startsWith("_") && !n.contains("_arrival_reserved"))
          out += ((p.getFileName.toString, Files.getLastModifiedTime(p).toMillis))
      }
      out
    }
    val before = baseFiles
    // three appends = three accumulated feed files
    table.appendChanges(changesDF(Seq(Dml.put(1L, "info", "email", 30L, "a@x"))))
    table.appendChanges(changesDF(Seq(
      Dml.deleteRow(2L, Long.MaxValue, null.asInstanceOf[String]))))
    table.appendChanges(changesDF(Seq(Dml.put(1L, "info", "email", 40L, "b@x"))))
    assert(table.changeFeedStats == ((3, 3L)))
    val merged = keys(table.cells)
    // threshold trigger: 3 files is under a maxFiles=5 threshold — no-op
    table.compactFeed(maxFiles = 5)
    assert(table.changeFeedStats._1 == 3)
    // unconditional fold: ONE feed file, same rows, identical merged view,
    // base files byte-identical (feed-only rewrite)
    table.compactFeed()
    assert(table.changeFeedStats == ((1, 3L)))
    assert(keys(table.cells) == merged)
    assert(baseFiles == before)
    // tombstones survive the minor fold (they still mask base cells)
    assert(!keys(table.cells).exists(_._1 == 2L))
    // single-file feed: folding again is a no-op
    table.compactFeed()
    assert(table.changeFeedStats == ((1, 3L)))
    // majorCompact still consumes the folded feed
    table.majorCompact()
    assert(!table.hasPendingChanges && table.changeFeedStats == ((0, 0L)))
    assert(keys(table.cells) == merged)
  }

  test("change-feed null scope is op-gated: malformed null-scope puts/deletes fail") {
    val dir = tmpDir("morscope") + "/t"
    val layout = TableLayout("t", Seq(
      FamilySpec("info", columns = Some(Seq("email", "name"))), FamilySpec("stats")))
    val table = new EntityTable(spark, dir, layout)
    table.bulkLoad(cells, numPartitions = 1)
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    def fails(ch: Dml.Change[Long, String], msg: String): Unit = {
      val e = intercept[Exception](table.appendChanges(changesDF(Seq(ch))))
      assert(messages(e).exists(_.contains(msg)),
        s"expected '$msg' in: ${messages(e).mkString(" | ")}")
    }
    val nul = null.asInstanceOf[String]
    // null family is ONLY the row-tombstone's scope — a put (or scoped
    // delete) carrying it is malformed, not row-wide
    fails(Dml.Change(1L, null, "email", "put", 1L, "x"), "unknown family")
    fails(Dml.Change(1L, null, "email", "delete_column", 1L, nul), "unknown family")
    // null qualifier is only delete_row/delete_family scope — a put or
    // delete_cell/delete_column into a group-type family must name one
    fails(Dml.Change(1L, "info", null, "put", 1L, "x"),
      "not declared for group-type family")
    fails(Dml.Change(1L, "info", null, "delete_cell", 1L, nul),
      "not declared for group-type family")
    assert(!table.hasPendingChanges, "failed appends must commit nothing")
    // the legitimate scope-wide tombstones still pass
    table.appendChanges(changesDF(Seq(
      Dml.deleteFamily(1L, "info", Long.MaxValue, nul),
      Dml.deleteRow(2L, Long.MaxValue, nul))))
    // entity 1 had only info cells; entity 2 is row-tombstoned: all gone
    assert(keys(table.cells).isEmpty)
  }

  test("put: appends a new cell version") {
    val out = Dml.applyChanges(cells, changesDF(Seq(
      Dml.put(1L, "info", "email", 30L, "newest@x"))))
    assert(keys(out).contains((1L, "info", "email", 30L)))
    assert(out.count() == 6)
  }

  test("deleteCell: masks only the exact timestamp") {
    val out = Dml.applyChanges(cells, changesDF(Seq(
      Dml.deleteCell(1L, "info", "email", 10L, null.asInstanceOf[String]))))
    assert(!keys(out).contains((1L, "info", "email", 10L)))
    assert(keys(out).contains((1L, "info", "email", 20L)))
  }

  test("deleteColumn upToTs: masks cells with ts <= T, inclusive") {
    val out = Dml.applyChanges(cells, changesDF(Seq(
      Dml.deleteColumn(1L, "info", "email", 10L, null.asInstanceOf[String]))))
    assert(!keys(out).contains((1L, "info", "email", 10L)))
    assert(keys(out).contains((1L, "info", "email", 20L)))
    assert(keys(out).contains((1L, "info", "name", 5L))) // other column untouched
  }

  test("deleteFamily: masks the whole family of that entity only") {
    val out = Dml.applyChanges(cells, changesDF(Seq(
      Dml.deleteFamily(1L, "info", Long.MaxValue, null.asInstanceOf[String]))))
    assert(keys(out) == Set((2L, "info", "email", 15L), (2L, "stats", "zip", 1L)))
  }

  test("deleteRow: masks every family; other entities untouched") {
    val out = Dml.applyChanges(cells, changesDF(Seq(
      Dml.deleteRow(2L, Long.MaxValue, null.asInstanceOf[String]))))
    assert(keys(out).forall(_._1 == 1L) && out.count() == 3)
  }

  test("HBase ordering: a tombstone masks a same-batch put with ts <= T") {
    val out = Dml.applyChanges(cells, changesDF(Seq(
      Dml.put(1L, "info", "email", 25L, "doomed@x"),
      Dml.deleteColumn(1L, "info", "email", 25L, null.asInstanceOf[String]))))
    // puts at 10, 20, 25 all masked (<= 25), nothing else
    assert(!keys(out).exists(k => k._2 == "info" && k._3 == "email" && k._1 == 1L))
    assert(keys(out).contains((1L, "info", "name", 5L)))
  }

  test("bulk sink: staged write + atomic commit, re-load replaces wholesale") {
    val dest = Paths.get(tmpDir("bulk"), "table").toString
    BulkSink.bulkLoad(cells, dest, 2, Seq("entity_id"),
      Seq(col("entity_id"), col("family"), col("qualifier"), col("ts").desc))
    assert(spark.read.parquet(live(dest)).count() == 5)
    // second load replaces contents via the pointer CAS; the displaced
    // generation is retained ONE cycle for in-flight readers, then a
    // third load sweeps it — never more than live+displaced on disk
    BulkSink.bulkLoad(cells.limit(2), dest, 2, Seq("entity_id"),
      Seq(col("entity_id"), col("family"), col("qualifier"), col("ts").desc))
    assert(spark.read.parquet(live(dest)).count() == 2)
    BulkSink.bulkLoad(cells.limit(3), dest, 2, Seq("entity_id"),
      Seq(col("entity_id"), col("family"), col("qualifier"), col("ts").desc))
    assert(spark.read.parquet(live(dest)).count() == 3)
    val gens = Files.list(Paths.get(dest)).iterator().asScala
      .map(_.getFileName.toString).filter(graft.sinks.ArtifactStore.isGenName).toList
    assert(gens.size == 2, s"expected live+displaced, got: $gens")
    val parent = Paths.get(dest).getParent
    val leftovers = Files.list(parent).iterator()
    var names = List.empty[String]
    while (leftovers.hasNext) names ::= leftovers.next().getFileName.toString
    assert(names == List("table"), s"unexpected leftovers: $names")
  }

  test("bulk commit: failed promotion rolls the old table back") {
    val dir = tmpDir("bulkfail")
    val dest = Paths.get(dir, "table").toString
    BulkSink.bulkLoad(cells, dest, 1, Seq("entity_id"), Seq(col("entity_id")))
    // commit from a staging dir that does not exist: promotion fails,
    // and the pre-existing table must be restored, not left missing
    intercept[java.io.IOException] {
      BulkSink.commit(spark, dest + ".__staging_nope", dest)
    }
    assert(spark.read.parquet(live(dest)).count() == 5)
  }

  test("bulk sink: rows within files are sorted by the sort key") {
    val dest = Paths.get(tmpDir("bulksort"), "table").toString
    BulkSink.bulkLoad(cells, dest, 1, Seq("entity_id"),
      Seq(col("entity_id"), col("family"), col("qualifier"), col("ts").desc))
    val rows = spark.read.parquet(live(dest))
      .select("entity_id", "family", "qualifier", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), -r.getLong(3)))
    assert(rows.toList == rows.toList.sorted)
  }

  test("entity table: versioned read honors max_versions and newest-first") {
    val path = Paths.get(tmpDir("et"), "t").toString
    val t = new EntityTable(spark, path,
      TableLayout("t", Seq(FamilySpec("info", maxVersions = 2), FamilySpec("stats"))))
    t.bulkLoad(cells, numPartitions = 2)
    val versions = t.read(DataRequest(maxVersions = 99))
      .filter($"entity_id" === 1L && $"qualifier" === "email")
      .select(explode($"versions.ts")).as[Long].collect().toList
    assert(versions == List(20L, 10L)) // newest first, capped at family max 2
  }

  test("entity table: TTL expires old cells relative to asOf") {
    val path = Paths.get(tmpDir("ettl"), "t").toString
    val t = new EntityTable(spark, path,
      TableLayout("t", Seq(FamilySpec("info", ttlSeconds = Some(1L)), FamilySpec("stats"))))
    t.bulkLoad(cells, numPartitions = 2)
    // asOf = 2s (µs): info cells need ts >= 1_000_000; all our ts are tiny -> expired
    val out = t.mostRecent(asOfMicros = 2000000L)
    assert(out.filter($"family" === "info").count() == 0)
    assert(out.filter($"family" === "stats").count() == 1) // no TTL
  }

  test("entity table: mostRecent picks max ts per cell") {
    val path = Paths.get(tmpDir("etmr"), "t").toString
    val t = new EntityTable(spark, path, TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    t.bulkLoad(cells, numPartitions = 2)
    val email = t.mostRecent().filter($"entity_id" === 1L && $"qualifier" === "email")
      .select("value").as[String].collect().toList
    assert(email == List("new@x"))
  }

  test("entity table: map-family wide read pivots dynamic qualifiers") {
    import org.apache.spark.sql.functions.{expr => sexpr}
    val path = Paths.get(tmpDir("etwide"), "t").toString
    val t = new EntityTable(spark, path, TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    t.bulkLoad(cells, numPartitions = 2)
    val wide = t.readWide(DataRequest(maxVersions = 1))
      .filter($"entity_id" === 1L && $"family" === "info")
    val m = wide.select(sexpr("map_keys(cells)")).as[Seq[String]].head()
    assert(m.toSet == Set("email", "name"))
    val newest = wide.select(sexpr("cells['email'][0].value")).as[String].head()
    assert(newest == "new@x")
  }

  test("entity table: applyChanges compacts deletes durably") {
    val path = Paths.get(tmpDir("etdml"), "t").toString
    val t = new EntityTable(spark, path, TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    t.bulkLoad(cells, numPartitions = 2)
    t.applyChanges(changesDF(Seq(
      Dml.deleteRow(1L, Long.MaxValue, null.asInstanceOf[String]))))
    assert(t.cells.select("entity_id").as[Long].collect().forall(_ == 2L))
  }

  test("generation-CAS commits: a reader planned before a fold survives the swap; racing folds fail loudly, never silently") {
    val dir = tmpDir("gencas") + "/t"
    val table = new EntityTable(spark, dir,
      TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats"))))
    table.bulkLoad(cells, numPartitions = 2)
    // plan a read against the CURRENT generation (plan-build resolves the
    // pointer and lists files now), but do not execute it yet
    val inFlight = table.cells.filter($"entity_id" === 1L)
    // a physical fold swaps generations mid-"scan". Under the old
    // two-rename swap the source directory vanished (FileNotFound /
    // missing dir); under the pointer CAS the displaced generation is
    // retained a full cycle, so the in-flight plan executes cleanly
    // against complete on-disk files.
    table.majorCompact()
    assert(inFlight.count() == 3L,
      "reader planned before the fold must survive the generation swap")
    // ...and the new generation serves the same live view
    assert(keys(table.cells) == keys(cells))
    // exactly live + displaced generations on disk (retention one deep)
    table.majorCompact()
    val gens = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(graft.sinks.ArtifactStore.isGenName).toList
    assert(gens.size == 2, s"expected live+displaced, got: $gens")

    // RACING FOLDS: writer A loads the pointer, writer B commits first;
    // A's commit must fail LOUDLY (the old swap silently last-wrote-wins)
    val loadedA = graft.sinks.ArtifactStore.currentGen(spark, dir)
    val genA = graft.sinks.ArtifactStore.newGenDir(spark, dir, loadedA)
    cells.write.parquet(genA) // A stages its fold
    table.majorCompact()      // B lands first — pointer moved
    val e = intercept[IllegalStateException](
      graft.sinks.ArtifactStore.commitGen(spark, dir, genA, loadedA))
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // B's fold is live and intact
    assert(keys(table.cells) == keys(cells))
  }

  test("bucketed table: a fold rewrites ONLY the routed buckets (untouched files byte-identical); reads == the unbucketed table") {
    import graft.sinks.ArtifactStore
    val base = Seq.tabulate(40) { i =>
      (i.toLong, "f", "v", 0L, s"base$i")
    }.toDF("entity_id", "family", "qualifier", "ts", "value")
    val layout = TableLayout("bkt", Seq(FamilySpec("f")))
    val bDir = tmpDir("bucketed") + "/t"
    val uDir = tmpDir("unbucketed") + "/t"
    val bucketed = new EntityTable(spark, bDir, layout)
    val plain = new EntityTable(spark, uDir, layout)
    val B = 8
    bucketed.bulkLoadBucketed(base, numBuckets = B, numPartitions = 4)
    plain.bulkLoad(base, numPartitions = 4)
    def rows(t: EntityTable) = t.cells
      .select("entity_id", "family", "qualifier", "ts", "value").collect()
      .map(_.toSeq).toSet
    assert(rows(bucketed) == rows(plain), "bucketed read != plain read")
    // DML: one put + one row tombstone, both routed to a FEW buckets
    val changes = Seq(
      (3L, "f", "v", "put", 5L, "upd3"),
      (7L, null.asInstanceOf[String], null.asInstanceOf[String],
        "delete_row", 5L, null.asInstanceOf[String]))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value")
    bucketed.appendChanges(changes)
    plain.appendChanges(changes)
    assert(rows(bucketed) == rows(plain), "merged-feed reads must agree")
    // record every bucket's generation AND its file listing before the fold
    def genOf(b: Int) = ArtifactStore.currentGen(spark, s"$bDir/_buckets/$b")
    def filesOf(b: Int): Set[(String, Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(bDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dir = new org.apache.hadoop.fs.Path(
        ArtifactStore.resolve(spark, s"$bDir/_buckets/$b"))
      fs.listStatus(dir).map(s => (s.getPath.getName, s.getLen,
        s.getModificationTime)).toSet
    }
    val gensBefore = (0 until B).map(genOf)
    val filesBefore = (0 until B).map(filesOf)
    // the physical fold (applyChanges with a second delta batch)
    val changes2 = Seq((11L, "f", "v", "put", 6L, "upd11"))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value")
    // touched buckets = routes of feed ids (3, 7) + fold ids (11)
    val expectTouched = Seq(3L, 7L, 11L).map(i =>
      Seq((i, "x")).toDF("entity_id", "x")
        .select(pmod(xxhash64($"entity_id"), lit(B.toLong)).cast("int"))
        .head().getInt(0)).distinct.sorted
    assert(expectTouched.size < B, "fixture must leave untouched buckets")
    bucketed.applyChanges(changes2, numPartitions = 4)
    plain.applyChanges(changes2, numPartitions = 4)
    assert(rows(bucketed) == rows(plain), "post-fold reads must agree")
    assert(!bucketed.hasPendingChanges, "fold must clear the feed")
    (0 until B).foreach { b =>
      if (expectTouched.contains(b))
        assert(genOf(b) != gensBefore(b), s"bucket $b must advance")
      else {
        assert(genOf(b) == gensBefore(b), s"bucket $b generation must hold")
        assert(filesOf(b) == filesBefore(b),
          s"bucket $b files must be byte-identical (name/len/mtime)")
      }
    }
    // as-of below the fold's watermark refuses, exactly like the
    // unbucketed fold (the history-barrier markers ride the root gen)
    val e = intercept[IllegalArgumentException](
      bucketed.cellsAsOf(1L).collect())
    assert(e.getMessage.contains("watermark"), e.getMessage)
    // live as-of == live
    assert(bucketed.cellsAsOf(Long.MaxValue)
      .select("entity_id", "family", "qualifier", "ts", "value").collect()
      .map(_.toSeq).toSet == rows(plain))
    // a second fold with an empty feed and a delta to ONE entity touches
    // exactly one bucket
    val gens2 = (0 until B).map(genOf)
    val oneTouch = Seq((11L, "f", "v", "put", 7L, "upd11b"))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value")
    val b11 = Seq((11L, "x")).toDF("entity_id", "x")
      .select(pmod(xxhash64($"entity_id"), lit(B.toLong)).cast("int"))
      .head().getInt(0)
    bucketed.applyChanges(oneTouch, numPartitions = 4)
    (0 until B).foreach { b =>
      if (b == b11) assert(genOf(b) != gens2(b))
      else assert(genOf(b) == gens2(b), s"bucket $b must hold on fold 2")
    }
    // majorCompact keeps the bucketed layout and the reads
    plain.applyChanges(oneTouch, numPartitions = 4)
    bucketed.majorCompact(numPartitions = 4)
    assert(rows(bucketed) == rows(plain), "post-majorCompact reads must agree")
    // grid-shrink refusal
    val se = intercept[IllegalArgumentException](
      bucketed.bulkLoadBucketed(base, numBuckets = 2))
    assert(se.getMessage.contains("shrinking") ||
      se.getMessage.contains("bucket roots"), se.getMessage)
  }

  test("bucketed × locality groups compose: lg file sets inside bucket generations; reads == flat grouped; folds rewrite only routed buckets") {
    import graft.sinks.ArtifactStore
    val groupedLayout = TableLayout("g", Seq(
      FamilySpec("f", localityGroup = "hot"),
      FamilySpec("g", localityGroup = "cold", compression = "gzip")))
    val gBase = (Seq.tabulate(40) { i =>
      (i.toLong, "f", "v", 0L, s"hot$i")
    } ++ Seq.tabulate(10) { i =>
      ((i * 4).toLong, "g", "w", 0L, s"cold$i")
    }).toDF("entity_id", "family", "qualifier", "ts", "value")
    val gbDir = tmpDir("bktg") + "/t"
    val gfDir = tmpDir("bktgf") + "/t"
    val gTable = new EntityTable(spark, gbDir, groupedLayout)
    val gFlat = new EntityTable(spark, gfDir, groupedLayout)
    val B = 4
    gTable.bulkLoadBucketed(gBase, numBuckets = B, numPartitions = 4)
    gFlat.bulkLoad(gBase, numPartitions = 4)
    def rows(t: EntityTable) = t.cells
      .select("entity_id", "family", "qualifier", "ts", "value").collect()
      .map(_.toSeq).toSet
    assert(rows(gTable) == rows(gFlat),
      "grouped bucketed read != grouped flat read")
    // per-group lg=* file sets live INSIDE each bucket generation (the
    // reference's per-locality-group file sets composed with the
    // per-region split)
    val fs = new org.apache.hadoop.fs.Path(gbDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until B).foreach { b =>
      val dir = new org.apache.hadoop.fs.Path(
        ArtifactStore.resolve(spark, s"$gbDir/_buckets/$b"))
      val lgs = fs.listStatus(dir).map(_.getPath.getName)
        .filter(_.startsWith("lg=")).toSet
      assert(lgs.contains("lg=hot"),
        s"bucket $b holds no hot file set: $lgs")
    }
    // a grouped fold still rewrites ONLY the routed buckets
    def genOf(b: Int) =
      ArtifactStore.currentGen(spark, s"$gbDir/_buckets/$b")
    val before = (0 until B).map(genOf)
    val gPut = Seq((3L, "g", "w", "put", 9L, "coldupd"))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value")
    val b3 = Seq((3L, "x")).toDF("entity_id", "x")
      .select(pmod(xxhash64($"entity_id"), lit(B.toLong)).cast("int"))
      .head().getInt(0)
    gTable.applyChanges(gPut, numPartitions = 4)
    gFlat.applyChanges(gPut, numPartitions = 4)
    assert(rows(gTable) == rows(gFlat), "post-fold grouped reads must agree")
    (0 until B).foreach { b =>
      if (b == b3) assert(genOf(b) != before(b), s"bucket $b must advance")
      else assert(genOf(b) == before(b), s"bucket $b must hold")
    }
    // majorCompact keeps both the bucket grid and the group file sets
    gTable.majorCompact(numPartitions = 4)
    assert(rows(gTable) == rows(gFlat), "post-compact grouped reads must agree")
    val lgs0 = fs.listStatus(new org.apache.hadoop.fs.Path(
        ArtifactStore.resolve(spark, s"$gbDir/_buckets/0")))
      .map(_.getPath.getName).filter(_.startsWith("lg=")).toSet
    assert(lgs0.nonEmpty, "majorCompact dropped the group file sets")
  }

  // ───── footer-schema reads vs schema-inferred reads of the same paths ─────

  private def dropLg(df: org.apache.spark.sql.DataFrame) =
    if (df.columns.contains("lg")) df.drop("lg") else df

  /** A table's base re-read with a schema-INFERRING scan of the same
    * paths: the live generation (bucketed: the manifest's bucket
    * generations, expanded to their `lg=` leaves). Keeps a flat grouped
    * table's `lg` column. */
  private def inferredBase(path: String): org.apache.spark.sql.DataFrame = {
    val dir = live(path)
    if (!Files.exists(Paths.get(dir, "_numbuckets"))) spark.read.parquet(dir)
    else {
      val leaves = Files.readAllLines(Paths.get(dir, "_bucket_gens")).asScala
        .filter(_.nonEmpty).toSeq.flatMap { line =>
          val Array(b, g) = line.split("\t", 2)
          val bd = Paths.get(path, "_buckets", b, g)
          val lgs = Files.list(bd).iterator().asScala.filter(p =>
            Files.isDirectory(p) && p.getFileName.toString.startsWith("lg="))
            .map(_.toString).toSeq.sorted
          if (lgs.isEmpty) Seq(bd.toString) else lgs
        }
      spark.read.parquet(leaves: _*)
    }
  }

  /** The recursive `_changes` feed, schema inferred. */
  private def inferredFeed(path: String): org.apache.spark.sql.DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${live(path)}/_changes")

  /** `mostRecent()` and `read()` (default request, no TTL) over a cell
    * set — the engine's aggregation formulas, so a reference built from
    * inferred scans must match the engine's frame in schema and rows. */
  private def retainedRef(layout: TableLayout,
                          src: org.apache.spark.sql.DataFrame) =
    src.filter(col("ts") >= layout.families.foldLeft(lit(Long.MinValue)) {
      (acc, f) => when(col("family") === f.name, lit(Long.MinValue))
        .otherwise(acc)
    })
  private def mostRecentRef(layout: TableLayout,
                            src: org.apache.spark.sql.DataFrame) =
    retainedRef(layout, src)
      .groupBy(col("entity_id"), col("family"), col("qualifier"))
      .agg(max(struct(col("ts"), col("value"))).as("m"))
      .select(col("entity_id"), col("family"), col("qualifier"),
        col("m.ts").as("ts"), col("m.value").as("value"))
  private def versionedRef(layout: TableLayout,
                           src: org.apache.spark.sql.DataFrame) = {
    val famMax = layout.families.foldLeft(lit(Int.MaxValue)) { (acc, f) =>
      when(col("family") === f.name, lit(f.maxVersions)).otherwise(acc)
    }
    retainedRef(layout, src)
      .groupBy(col("entity_id"), col("family"), col("qualifier"))
      .agg(reverse(sort_array(collect_list(struct(col("ts"), col("value")))))
        .as("all_versions"), first(famMax).as("fam_max"))
      .select(col("entity_id"), col("family"), col("qualifier"),
        slice(col("all_versions"), lit(1),
          least(lit(1), col("fam_max"))).as("versions"))
  }

  private def sameFrame(what: String, got: org.apache.spark.sql.DataFrame,
                        want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.schema == want.schema,
      s"$what schema: ${got.schema.simpleString} != ${want.schema.simpleString}")
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq, s"$what rows differ")
  }

  test("footer-schema table reads == schema-inferred reads of the same paths on every layout (flat, grouped, bucketed, grouped-bucketed)") {
    for (fx <- TableFixtures.all(spark, tmpDir("footerparity"))) {
      val t = fx.table
      val (rawBase, feed) = (inferredBase(fx.path), inferredFeed(fx.path))
      val base = dropLg(rawBase)
      assert(feed.columns.contains("arrival"), s"${fx.name}: feed unstamped")
      val live = Dml.applyChanges(base, feed)
      val cut1 = Dml.applyChanges(base, feed.filter(col("arrival") <= 1L))
      sameFrame(s"${fx.name} cells", t.cells, live)
      sameFrame(s"${fx.name} pendingChanges", t.pendingChanges, feed)
      sameFrame(s"${fx.name} readAsOfOrdinal(1)", t.readAsOfOrdinal(1L),
        versionedRef(fx.layout, cut1))
      sameFrame(s"${fx.name} mostRecent", t.mostRecent(),
        mostRecentRef(fx.layout, live))
      fx.layout.localityGroups.foreach { case (g, fs) =>
        val fams = fs.map(_.name)
        val groupBase =
          if (rawBase.columns.contains("lg"))
            rawBase.filter(col("lg") === g).drop("lg")
          else base.filter(col("family").isin(fams: _*))
        sameFrame(s"${fx.name} localityGroupCells($g)",
          t.localityGroupCells(g), Dml.applyChanges(groupBase, feed.filter(
            col("family").isNull || col("family").isin(fams: _*))))
      }
      // a reader planned before a physical fold still reads the folded
      // generation's files after the swap
      val inFlight = Seq(t.cells, t.mostRecent())
      val want = Seq(live, mostRecentRef(fx.layout, live))
        .map(_.collect().map(_.toString).sorted.toSeq)
      t.majorCompact(numPartitions = 2)
      assert(!t.hasPendingChanges)
      inFlight.zip(want).foreach { case (df, w) =>
        assert(df.collect().map(_.toString).sorted.toSeq == w,
          s"${fx.name}: a reader planned before the fold lost rows")
      }
    }
  }

  test("footer-schema table reads keep their edge cases: unstamped external feed, empty feed dir, empty and append-only roots") {
    val root = tmpDir("footeredge")
    val layout = TableFixtures.flatLayout
    // a feed an external writer left unstamped: ordinal cuts refuse with
    // the same message, and a later append keeps the feed unstamped
    val ext = new EntityTable(spark, s"$root/ext", layout)
    ext.bulkLoad(TableFixtures.baseCells(spark), numPartitions = 2)
    TableFixtures.batch1(spark).write
      .parquet(s"${live(s"$root/ext")}/_changes/batch_external")
    def refusal() = intercept[IllegalArgumentException](
      ext.readAsOfOrdinal(1L)).getMessage
    assert(refusal().contains("this change feed has no arrival stamps"))
    ext.appendChanges(TableFixtures.batch2(spark))
    assert(!ext.pendingChanges.columns.contains("arrival"))
    assert(refusal().contains("this change feed has no arrival stamps"))
    sameFrame("unstamped cells", ext.cells, Dml.applyChanges(
      inferredBase(s"$root/ext"), inferredFeed(s"$root/ext")))
    // an empty `_changes` directory (a failed append's leftover) reads
    // as "no pending changes", and the next append stamps ordinal 1
    val empty = new EntityTable(spark, s"$root/emptyfeed", layout)
    empty.bulkLoad(TableFixtures.baseCells(spark), numPartitions = 2)
    Files.createDirectories(Paths.get(live(s"$root/emptyfeed"), "_changes"))
    assert(!empty.hasPendingChanges)
    sameFrame("empty-feed cells", empty.cells,
      inferredBase(s"$root/emptyfeed"))
    empty.appendChanges(TableFixtures.batch1(spark))
    assert(empty.pendingChanges.select(max("arrival")).head().getLong(0) == 1L)
    // an empty root, a missing root and an append-only root (a feed but
    // no base) still fail loudly on read
    Files.createDirectories(Paths.get(root, "bare"))
    val appendOnly = new EntityTable(spark, s"$root/appendonly", layout)
    appendOnly.appendChanges(TableFixtures.batch1(spark))
    Seq("bare", "missing", "appendonly").foreach { n =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        new EntityTable(spark, s"$root/$n", layout).cells)
      assert(e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") ||
        e.getMessage.contains("PATH_NOT_FOUND"), s"$n: ${e.getMessage}")
    }
  }
}
