package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.operators.Lifecycle._

/** Reflectively-instantiated CLI operator (needs a no-arg constructor). */
class LineLengthGatherer extends Gatherer[String, String] {
  override def counterNames: Seq[String] = Seq("lines")
  def gather(row: Row, emit: (String, String) => Unit, ctx: OperatorContext): Unit = {
    ctx.incrementCounter("lines")
    val line = row.getAs[String]("value")
    emit(line, line.length.toString)
  }
}

/** CLI producer: derives the line's first character. */
class FirstCharProducer extends Producer {
  def outputColumn: String = "first_char"
  def outputType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  def produce(row: Row, ctx: OperatorContext): Option[Any] =
    Option(row.getAs[String]("value")).filter(_.nonEmpty).map(_.take(1))
}

/** CLI bulk importer over the reference's colon-delimited records. */
class ColonCliImporter extends BulkImporter[String, Long, String] {
  def importRecord(rec: String, emit: CellPut[Long, String] => Unit,
                   ctx: OperatorContext): Unit = {
    val i = rec.indexOf(':')
    if (i > 0) emit(CellPut(rec.take(i).toLong, "info", "name", 0L, rec.drop(i + 1)))
  }
}

class ToolSpec extends SparkSpec {

  test("CLI verb: gather from text input to parquet output, with history") {
    val in = tmpDir("toolin")
    Files.write(Paths.get(in, "lines.txt"),
      "alpha\nbeta\n".getBytes(StandardCharsets.UTF_8))
    val out = tmpDir("toolout") + "/result"
    val hist = tmpDir("toolhist") + "/history"
    val r = Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=parquet file=$out",
      s"--history=$hist",
      "--name=cli-gather"))
    assert(r.status == "SUCCEEDED" && r.counters("lines") == 2L)
    val result = spark.read.parquet(out).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(result == Set(("alpha", "5"), ("beta", "4")))
    val h = spark.read.parquet(hist + "/jobs").collect()
    assert(h.length == 1 && h.head.getAs[String]("job_name") == "cli-gather")
  }

  test("CLI text output joins columns with tabs") {
    val in = tmpDir("toolin2")
    Files.write(Paths.get(in, "l.txt"), "xyz\n".getBytes(StandardCharsets.UTF_8))
    val out = tmpDir("toolout2") + "/txt"
    Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=text file=$out"))
    import scala.jdk.CollectionConverters._
    val lines = Files.list(Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala).toList
    assert(lines == List("xyz\t3"))
  }

  test("CLI avro output round-trips through the avro source") {
    val in = tmpDir("toolin3")
    Files.write(Paths.get(in, "l.txt"),
      "alpha\nbeta\n".getBytes(StandardCharsets.UTF_8))
    val out = tmpDir("toolout3") + "/avro"
    Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=avro file=$out"))
    val back = graft.sources.Formats.read(spark, s"format=avro file=$out")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(back == Set(("alpha", "5"), ("beta", "4")))
  }

  test("CLI json output round-trips through the json source") {
    val in = tmpDir("toolinJ")
    Files.write(Paths.get(in, "l.txt"),
      "alpha\nbeta\n".getBytes(StandardCharsets.UTF_8))
    val out = tmpDir("tooloutJ") + "/json"
    Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=json file=$out"))
    val back = graft.sources.Formats.read(spark,
        s"format=json file=$out schema=key:STRING,value:STRING")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(back == Set(("alpha", "5"), ("beta", "4")))
  }

  test("CLI map output writes sorted MapFiles supporting point gets") {
    val in = tmpDir("toolin4")
    Files.write(Paths.get(in, "l.txt"),
      "zulu\nalpha\nmike\n".getBytes(StandardCharsets.UTF_8))
    val out = tmpDir("toolout4") + "/map"
    Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=map file=$out"))
    // index-backed point get (MapFileOutputFormat.getReaders read side)
    assert(graft.sources.Formats.mapFileGet(spark, out, "mike").contains("4"))
    assert(graft.sources.Formats.mapFileGet(spark, out, "nope").isEmpty)
    // data files are key-sorted (the MapFile contract)
    val keys = spark.sparkContext
      .sequenceFile(out + "/*/data",
        classOf[org.apache.hadoop.io.Text], classOf[org.apache.hadoop.io.Text])
      .map(_._1.toString).collect().toList
    assert(keys == keys.sorted)
  }

  test("CLI verb: produce derives a column onto the input rows") {
    val in = tmpDir("prodin")
    Files.write(Paths.get(in, "l.txt"),
      "alpha\nbeta\n".getBytes(StandardCharsets.UTF_8))
    val out = tmpDir("prodout") + "/result"
    val r = Tool.run(spark, Array("produce",
      "--producer=graft.FirstCharProducer",
      s"--input=format=text file=$in",
      s"--output=format=parquet file=$out"))
    assert(r.status == "SUCCEEDED")
    val back = spark.read.parquet(out).collect()
      .map(x => (x.getAs[String]("value"), x.getAs[String]("first_char"))).toSet
    assert(back == Set(("alpha", "a"), ("beta", "b")))
  }

  test("CLI verb: bulk-import parses records into cell puts; hfile output loads them") {
    val in = tmpDir("impin")
    Files.write(Paths.get(in, "recs.txt"),
      "7:seven\n9:nine\n".getBytes(StandardCharsets.UTF_8))
    val dst = tmpDir("impout") + "/table"
    val r = Tool.run(spark, Array("bulk-import",
      "--importer=graft.ColonCliImporter",
      s"--input=format=text file=$in",
      s"--output=format=hfile table=$dst splits=2"))
    assert(r.status == "SUCCEEDED")
    val back = spark.read.parquet(live(dst)).collect()
      .map(x => (x.getAs[Long]("entity_id"), x.getAs[String]("value"))).toSet
    assert(back == Set((7L, "seven"), (9L, "nine")))
  }

  test("CLI job-history verb reports zero runs for an empty/missing history dir") {
    val r = Tool.run(spark, Array("job-history",
      s"--history=${tmpDir("histempty")}/nothing-here"))
    assert(r.status == "SUCCEEDED" && r.counters("jobs_shown") == 0L)
  }

  test("CLI job-history verb lists recorded runs and per-job counters") {
    val in = tmpDir("histin")
    Files.write(Paths.get(in, "l.txt"), "abc\n".getBytes(StandardCharsets.UTF_8))
    val hist = tmpDir("histdir") + "/history"
    val job = Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=parquet file=${tmpDir("histout")}/r",
      s"--history=$hist", "--name=hist-job"))
    val all = Tool.run(spark, Array("job-history", s"--history=$hist"))
    assert(all.status == "SUCCEEDED" && all.counters("jobs_shown") == 1L)
    val one = Tool.run(spark, Array("job-history",
      s"--history=$hist", s"--job-id=${job.jobId}"))
    assert(one.counters("jobs_shown") == 1L)
    val none = Tool.run(spark, Array("job-history",
      s"--history=$hist", "--job-id=nope"))
    assert(none.counters("jobs_shown") == 0L)
  }

  test("CLI rejects unknown verbs and missing flags") {
    intercept[IllegalArgumentException](Tool.run(spark, Array("frobnicate")))
    intercept[IllegalArgumentException](Tool.run(spark, Array("gather", "--input=format=text file=/x")))
  }

  private def stageSourceTable(): (String, String) = {
    import spark.implicits._
    import graft.table.{EntityTable, LayoutJson}
    val src = tmpDir("clisrc") + "/table"
    val layoutPath = tmpDir("clilayout") + "/layout.json"
    Files.writeString(Paths.get(layoutPath),
      """{name: "t", locality_groups: [{name: "default",
        |  compression_type: "SNAPPY", families: [{name: "ev"}]}]}""".stripMargin)
    val cells = Seq(
      (1L, "ev", "click", 10L, 1.5), (1L, "ev", "click", 20L, 2.5),
      (2L, "ev", "view", 5L, 7.0))
      .toDF("entity_id", "family", "qualifier", "ts", "value")
    new EntityTable(spark, src, LayoutJson.parseFile(layoutPath))
      .bulkLoad(cells, numPartitions = 2)
    (src, layoutPath)
  }

  test("CLI table IO: kiji input → pivoter → hfile bulk output, end to end") {
    val (src, layoutPath) = stageSourceTable()
    val dst = tmpDir("clidst") + "/table"
    val r = Tool.run(spark, Array("pivot",
      "--pivoter=graft.queries.CliCellPivoter",
      s"--input=format=kiji table=$src layout=$layoutPath",
      s"--output=format=hfile table=$dst splits=2",
      "--name=cli-table-roundtrip"))
    assert(r.status == "SUCCEEDED")
    // The kiji input is a most-recent scan: click keeps ts=20 only.
    val back = spark.read.parquet(live(dst)).collect().map { x =>
      (x.getAs[Long]("entity_id"), x.getAs[String]("family"),
        x.getAs[String]("qualifier"), x.getAs[Long]("ts"),
        x.getAs[String]("value"))
    }.toSet
    assert(back == Set(
      (1L, "out", "click", 20L, "2.5"),
      (2L, "out", "view", 5L, "7.0")))
  }

  test("CLI table IO: kiji direct output appends to the live table") {
    val (src, layoutPath) = stageSourceTable()
    val dst = tmpDir("clidirect") + "/table"
    def runOnce() = Tool.run(spark, Array("pivot",
      "--pivoter=graft.queries.CliCellPivoter",
      s"--input=format=kiji table=$src layout=$layoutPath",
      s"--output=format=kiji table=$dst"))
    runOnce()
    assert(spark.read.parquet(dst).count() == 2L)
    // Direct writes APPEND (live-table semantics); a re-run doubles files,
    // and read-time version resolution would pick the newest ts.
    runOnce()
    assert(spark.read.parquet(dst).count() == 4L)
  }

  test("CLI kiji input honors startrow/limitrow row-key ranges") {
    val (src, layoutPath) = stageSourceTable() // entities 1 and 2
    def ids(spec: String) = graft.sources.Formats.read(spark, spec)
      .select("entity_id").collect().map(_.getLong(0)).toSet
    assert(ids(s"format=kiji table=$src layout=$layoutPath startrow=2") == Set(2L))
    assert(ids(s"format=kiji table=$src layout=$layoutPath limitrow=2") == Set(1L))
    assert(ids(s"format=kiji table=$src layout=$layoutPath startrow=1 limitrow=3") ==
      Set(1L, 2L))
    // The range predicate must push THROUGH the most-recent aggregate to
    // the parquet scan (entity_id is a grouping key), where min/max stats
    // prune range-partitioned files — the region-pruned scan shape.
    val plan = graft.sources.Formats
      .read(spark, s"format=kiji table=$src layout=$layoutPath startrow=2")
      .queryExecution.executedPlan.toString
    // (PushedFilters prints truncated; the data-filter predicate above the
    // scan is the stable marker.)
    assert(plan.matches("(?s).*\\(entity_id#\\d+L? >= 2\\).*FileScan parquet.*"),
      s"range filter not pushed to scan:\n$plan")
  }

  test("CLI kiji input asof= serves the table at two feed cuts") {
    import spark.implicits._
    val (src, layoutPath) = stageSourceTable() // entities 1 and 2
    // DML history on top of the staged base: a correction put at feed
    // ts=100, then a row tombstone at ts=200
    val table = new graft.table.EntityTable(spark, src,
      graft.table.LayoutJson.parseFile(layoutPath))
    table.appendChanges(Seq(
      (1L, "ev", "click", "put", 100L, 9.5))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value"))
    table.appendChanges(Seq(
      (2L, null.asInstanceOf[String], null.asInstanceOf[String],
        "delete_row", 200L, null.asInstanceOf[java.lang.Double]))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value"))
    def rows(spec: String) = graft.sources.Formats.read(spark, spec)
      .collect().map(r => (r.getAs[Long]("entity_id"),
        r.getAs[Long]("ts"), r.getAs[Double]("value"))).toSet
    // cut below every feed entry: the pure staged base
    assert(rows(s"format=kiji table=$src layout=$layoutPath asof=50") ==
      Set((1L, 20L, 2.5), (2L, 5L, 7.0)))
    // cut at 100: the correction is in, the tombstone is not yet
    assert(rows(s"format=kiji table=$src layout=$layoutPath asof=100") ==
      Set((1L, 100L, 9.5), (2L, 5L, 7.0)))
    // no asof: the live view (tombstone applied)
    assert(rows(s"format=kiji table=$src layout=$layoutPath") ==
      Set((1L, 100L, 9.5)))
    // asofordinal= is the batch-arrival axis: after batch 1 only the
    // correction is in (same view as asof=100 here); after batch 2 = live
    assert(rows(s"format=kiji table=$src layout=$layoutPath asofordinal=1") ==
      Set((1L, 100L, 9.5), (2L, 5L, 7.0)))
    assert(rows(s"format=kiji table=$src layout=$layoutPath asofordinal=2") ==
      Set((1L, 100L, 9.5)))
    // the two axes are mutually exclusive in one spec
    val e = intercept[IllegalArgumentException](graft.sources.Formats.read(
      spark, s"format=kiji table=$src layout=$layoutPath asof=50 asofordinal=1"))
    assert(e.getMessage.contains("one, not both"))
  }

  test("CLI table outputs reject non-cell-shaped job output") {
    val in = tmpDir("toolin5")
    Files.write(Paths.get(in, "l.txt"), "abc\n".getBytes(StandardCharsets.UTF_8))
    val e = intercept[RuntimeException](Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=hfile table=${tmpDir("badout")}/t")))
    assert(e.getCause.getMessage.contains("cell columns"))
  }

  test("CLI avrokv output round-trips through the avrokv source") {
    val in = tmpDir("toolin6")
    Files.write(Paths.get(in, "l.txt"),
      "alpha\nbeta\n".getBytes(StandardCharsets.UTF_8))
    val out = tmpDir("toolout6") + "/avrokv"
    Tool.run(spark, Array("gather",
      "--gatherer=graft.LineLengthGatherer",
      s"--input=format=text file=$in",
      s"--output=format=avrokv file=$out"))
    val back = graft.sources.Formats.read(spark, s"format=avrokv file=$out")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(back == Set(("alpha", "5"), ("beta", "4")))
  }

  test("CLI bulk-load verb atomically promotes staged files into a table") {
    import spark.implicits._
    val staging = tmpDir("bulkstage") + "/staged"
    val table = tmpDir("bulktable") + "/t"
    Seq((1L, "f", "a", 1L, "v"))
      .toDF("entity_id", "family", "qualifier", "ts", "value")
      .write.parquet(staging)
    val r = Tool.run(spark, Array("bulk-load",
      s"--hfiles=$staging", s"--table=$table"))
    assert(r.status == "SUCCEEDED")
    assert(spark.read.parquet(live(table)).count() == 1)
    // the staged dir was MOVED, not copied (the atomic-rename hand-off)
    assert(!new java.io.File(staging).exists)
  }

  test("CLI compact verb: physical retention via the layout + feed fold-in") {
    import spark.implicits._
    import graft.table.{EntityTable, LayoutJson}
    val table = tmpDir("clicompact") + "/t"
    val layoutPath = tmpDir("clicompactl") + "/layout.json"
    Files.writeString(Paths.get(layoutPath),
      """{name: "t", locality_groups: [{name: "default", max_versions: 1,
        |  families: [{name: "ev"}]}]}""".stripMargin)
    val et = new EntityTable(spark, table, LayoutJson.parseFile(layoutPath))
    et.bulkLoad(Seq(
      (1L, "ev", "click", 10L, "1.5"), (1L, "ev", "click", 20L, "2.5"),
      (2L, "ev", "view", 5L, "7.0"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 2)
    // a pending change feed: the compact must fold it in and consume it
    et.appendChanges(Seq((1L, "ev", "click", "put", 30L, "3.5"))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value"))
    assert(et.hasPendingChanges)
    val r = Tool.run(spark, Array("compact",
      s"--table=$table", s"--layout=$layoutPath", "--splits=2"))
    assert(r.status == "SUCCEEDED")
    // beyond-max_versions cells are PHYSICALLY gone from the base parquet
    // (click ts=10/20 dropped; the feed's ts=30 is the survivor) and the
    // _changes feed was consumed by the fold
    val base = spark.read.parquet(live(table)).collect()
      .map(x => (x.getAs[Long]("entity_id"), x.getAs[String]("qualifier"),
        x.getAs[Long]("ts"), x.getAs[String]("value"))).toSet
    assert(base == Set((1L, "click", 30L, "3.5"), (2L, "view", 5L, "7.0")))
    assert(!Files.exists(Paths.get(live(table), "_changes")))
  }

  test("CLI compact refuses a TTL layout without --asof (destructive default)") {
    import spark.implicits._
    import graft.table.{EntityTable, LayoutJson}
    val table = tmpDir("clittl") + "/t"
    val layoutPath = tmpDir("clittll") + "/layout.json"
    Files.writeString(Paths.get(layoutPath),
      """{name: "t", locality_groups: [{name: "default", ttl_seconds: 10,
        |  families: [{name: "ev"}]}]}""".stripMargin)
    val et = new EntityTable(spark, table, LayoutJson.parseFile(layoutPath))
    et.bulkLoad(Seq((1L, "ev", "click", 95L * 1000000L, "fresh"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    val e = intercept[IllegalArgumentException](Tool.run(spark,
      Array("compact", s"--table=$table", s"--layout=$layoutPath")))
    assert(e.getMessage.contains("ttl_seconds") && e.getMessage.contains("--asof"))
    // nothing was deleted by the refusal
    assert(spark.read.parquet(live(table)).count() == 1)
    // with the TTL clock pinned, compaction proceeds and keeps fresh cells
    val r = Tool.run(spark, Array("compact", s"--table=$table",
      s"--layout=$layoutPath", s"--asof=${100L * 1000000L}"))
    assert(r.status == "SUCCEEDED")
    assert(spark.read.parquet(live(table)).count() == 1)
  }

  test("CLI compact refuses a locality-grouped table without --layout") {
    import spark.implicits._
    import graft.table.{EntityTable, FamilySpec, TableLayout}
    val table = tmpDir("clilg") + "/t"
    val layout = TableLayout("t", Seq(
      FamilySpec("hotf", localityGroup = "hot"),
      FamilySpec("coldf", localityGroup = "cold", compression = "gzip")))
    new EntityTable(spark, table, layout).bulkLoad(Seq(
      (1L, "hotf", "a", 1L, "x"), (1L, "coldf", "b", 1L, "y"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"), numPartitions = 1)
    assert(Files.exists(Paths.get(live(table), "lg=hot")))
    val e = intercept[IllegalArgumentException](
      Tool.run(spark, Array("compact", s"--table=$table")))
    assert(e.getMessage.contains("locality-grouped"))
    // grouping intact after the refusal
    assert(Files.exists(Paths.get(live(table), "lg=hot")) &&
      Files.exists(Paths.get(live(table), "lg=cold")))
  }

  test("CLI describe reports base/feed stats and minor-compacts over a threshold") {
    val (src, layoutPath) = stageSourceTable()
    import graft.table.{EntityTable, LayoutJson}
    import spark.implicits._
    val et = new EntityTable(spark, src, LayoutJson.parseFile(layoutPath))
    // two append batches = two feed files
    def put(ts: Long) = Seq((1L, "ev", "click", "put", ts, 9.9))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value")
    et.appendChanges(put(100L)); et.appendChanges(put(200L)); et.appendChanges(put(300L))
    def mergedView = et.cells
      .select("entity_id", "family", "qualifier", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val viewBefore = mergedView
    val r1 = Tool.run(spark, Array("describe", s"--table=$src", s"--layout=$layoutPath"))
    assert(r1.counters("feed_files") == 3L && r1.counters("feed_rows") == 3L)
    assert(r1.counters("base_files") > 0L && r1.counters("feed_compacted") == 0L)
    // UNDER-threshold: 3 files <= 3 — describe must NOT fold
    val r0 = Tool.run(spark, Array("describe", s"--table=$src",
      s"--layout=$layoutPath", "--minor-compact-over=3"))
    assert(r0.counters("feed_compacted") == 0L && r0.counters("feed_files") == 3L)
    // over-threshold: describe folds the K append batches down to one file
    val r2 = Tool.run(spark, Array("describe", s"--table=$src",
      s"--layout=$layoutPath", "--minor-compact-over=1"))
    assert(r2.counters("feed_compacted") == 1L)
    val r3 = Tool.run(spark, Array("describe", s"--table=$src", s"--layout=$layoutPath"))
    assert(r3.counters("feed_files") == 1L && r3.counters("feed_rows") == 3L)
    // the merged view is IDENTICAL across the fold (all streamed puts visible)
    assert(mergedView == viewBefore && viewBefore.count(_._4 >= 100L) == 3)
  }

  test("CLI describe handles a missing table dir without crashing") {
    val r = Tool.run(spark, Array("describe",
      s"--table=${tmpDir("descmissing")}/never-created"))
    assert(r.status == "SUCCEEDED")
    assert(r.counters("base_files") == 0L && r.counters("feed_files") == 0L)
  }

  test("CLI describe surfaces the concurrent-writers contract") {
    // the operational face of EntityTable's concurrency contract: the
    // verb that recommends scheduling folds also states which writers
    // may overlap (appends) and which must be exclusive (folds/swaps)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Tool.run(spark, Array("describe",
        s"--table=${tmpDir("desccontract")}/never-created"))
    }
    val printed = out.toString("UTF-8")
    assert(printed.contains("concurrent writers"), printed)
    assert(printed.contains("appendChanges||appendChanges SAFE"), printed)
    assert(printed.contains("writer exclusivity"), printed)
  }

  test("format=htable input fails with an explicit out-of-scope message carrying the migration recipe") {
    val e = intercept[UnsupportedOperationException](
      graft.sources.Formats.read(spark, "format=htable table=whatever"))
    assert(e.getMessage.contains("out of scope"))
    // permanent exclusion (SURVEY §2.2) with the concrete path off HBase:
    // export → bulk-load → format=kiji
    assert(e.getMessage.contains("bulk-load") &&
      e.getMessage.contains("format=kiji"), e.getMessage)
  }

  test("CLI index tier: build/serve round-trips one artifact per type") {
    import spark.implicits._
    val base = tmpDir("idxtool")
    // tiny document corpus with an exact near-dup pair (doc 0 == doc 5)
    val docs = Seq(
      (0L, "spark join hash table scan"), (1L, "row batch filter merge"),
      (2L, "slow order vector line"), (3L, "spark join hash data"),
      (4L, "group part sort query fast"), (5L, "spark join hash table scan"),
      (6L, "key value stream window"), (7L, "the big small column agg"))
      .toDF("doc_id", "text")
    val docsPath = s"$base/docs"
    docs.write.parquet(docsPath)
    val docsIn = s"format=parquet file=$docsPath"
    // embeddings: 8 dims, 12 vectors, vec 1 duplicates vec 11's direction
    val emb = (0L until 12L).map { i =>
      (i, (0 until 8).map(j =>
        if (i == 11L) (if (j == (1 % 8)) 1f else 0.1f)
        else (if (j == (i % 8).toInt) 1f else 0.1f)))
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val embPath = s"$base/emb"
    emb.write.parquet(embPath)
    val embIn = s"format=parquet file=$embPath"

    def serve(tpe: String, path: String, in: String, extra: String*): Seq[Row] = {
      val out = s"$base/out-$tpe"
      val r = Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$path", s"--input=$in",
        s"--output=format=parquet file=$out") ++ extra)
      assert(r.status == "SUCCEEDED")
      spark.read.parquet(out).collect().toSeq
    }

    // lsh: corpus index minus docs 0/5, probed with the doc-0/5 slice
    val lshPath = s"$base/lsh"
    assert(Tool.run(spark, Array("index-build", "--type=lsh",
      s"--path=$lshPath", s"--input=$docsIn", "--shingle-n=2"))
      .status == "SUCCEEDED")
    // serving the whole corpus against its own index: the 0<->5 dup pair
    // must surface in both directions
    val lshRows = serve("lsh", lshPath, docsIn, "--shingle-n=2",
      "--threshold=0.9")
    assert(lshRows.map(r => (r.getLong(0), r.getLong(1)))
      .toSet.intersect(Set((0L, 5L), (5L, 0L))).size == 2)

    // ivf: codebook + search — every query gets topk ranked neighbors
    val ivfPath = s"$base/ivf"
    assert(Tool.run(spark, Array("index-build", "--type=ivf",
      s"--path=$ivfPath", s"--input=$embIn", "--centroids=4"))
      .status == "SUCCEEDED")
    val ivfRows = serve("ivf", ivfPath, embIn, "--max-query-id=3", "--topk=2")
    assert(ivfRows.nonEmpty &&
      ivfRows.map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L, 2L)))

    // pq: codes+codebooks + ADC search
    val pqPath = s"$base/pq"
    assert(Tool.run(spark, Array("index-build", "--type=pq",
      s"--path=$pqPath", s"--input=$embIn", "--dim=8", "--m=2", "--k=4"))
      .status == "SUCCEEDED")
    val pqRows = serve("pq", pqPath, embIn, "--dim=8", "--m=2",
      "--max-query-id=3", "--topk=2")
    assert(pqRows.nonEmpty &&
      pqRows.forall(_.getAs[Number](1).longValue <= 2L))

    // sq: trained per-dim bounds + 8-bit codes — the full lifecycle
    // (build → serve → update → remove → describe) through the CLI
    val sqPath = s"$base/sq"
    assert(Tool.run(spark, Array("index-build", "--type=sq",
      s"--path=$sqPath", s"--input=$embIn", "--dim=8"))
      .status == "SUCCEEDED")
    val sqRows = serve("sq", sqPath, embIn, "--max-query-id=3", "--topk=2")
    assert(sqRows.nonEmpty &&
      sqRows.forall(_.getAs[Number](1).longValue <= 2L))
    // vecs 9 and 11 duplicate vec 1's lanes exactly → identical codes →
    // they are query 1's top-2 at code distance 0 (ties → smaller id)
    assert(sqRows.filter(_.getLong(0) == 1L).map(_.getLong(2)).toSet ==
      Set(9L, 11L), sqRows.mkString(", "))
    // update folds a NEW vector in under the fixed bounds; remove
    // forgets vec 11 — both through the generation CAS
    val sqDelta = Seq((20L, (0 until 8).map(j => if (j == 2) 2f else 0.1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val sqDeltaPath = s"$base/sqdelta"
    sqDelta.write.parquet(sqDeltaPath)
    assert(Tool.run(spark, Array("index-update", "--type=sq",
      s"--path=$sqPath", s"--input=format=parquet file=$sqDeltaPath"))
      .status == "SUCCEEDED")
    val sqRmPath = s"$base/sqrm"
    Seq(11L).toDF("vec_id").write.parquet(sqRmPath)
    assert(Tool.run(spark, Array("index-remove", "--type=sq",
      s"--path=$sqPath", s"--input=format=parquet file=$sqRmPath"))
      .status == "SUCCEEDED")
    val sqCounters = IndexTool.describe(spark, "sq", sqPath)
    assert(sqCounters("dims") == 8L, sqCounters)
    assert(sqCounters("vectors") == 12L, sqCounters) // 12 + 1 - 1
    // the forgotten vector stops being retrievable
    val sqRows2 = serve("sq", sqPath, embIn, "--max-query-id=3", "--topk=2")
    assert(!sqRows2.filter(_.getLong(0) == 1L).map(_.getLong(2))
      .contains(11L))

    // ivfsq: composed inverted lists of sq codes — probes prune the
    // codes scan, ranking is code-space L2 within the probed cells
    val ivfsqPath = s"$base/ivfsq"
    assert(Tool.run(spark, Array("index-build", "--type=ivfsq",
      s"--path=$ivfsqPath", s"--input=$embIn", "--dim=8",
      "--centroids=4")).status == "SUCCEEDED")
    val ivfsqRows = serve("ivfsq", ivfsqPath, embIn, "--max-query-id=3",
      "--nprobe=2", "--topk=2")
    assert(ivfsqRows.nonEmpty &&
      ivfsqRows.forall(_.getAs[Number](1).longValue <= 2L))
    // 9 and 11 share query 1's exact lanes, hence its cell: top-2 at
    // code distance 0 even through the pruned scan
    assert(ivfsqRows.filter(_.getLong(0) == 1L).map(_.getLong(2)).toSet ==
      Set(9L, 11L), ivfsqRows.mkString(", "))
    val ivfsqCounters = IndexTool.describe(spark, "ivfsq", ivfsqPath)
    assert(ivfsqCounters("vectors") == 12L, ivfsqCounters)
    assert(ivfsqCounters("dims") == 8L, ivfsqCounters)

    // bpe: merge list + kernel token stats (identical docs -> identical
    // stats)
    val bpePath = s"$base/bpe"
    assert(Tool.run(spark, Array("index-build", "--type=bpe",
      s"--path=$bpePath", s"--input=$docsIn", "--merges=4"))
      .status == "SUCCEEDED")
    val bpeRows = serve("bpe", bpePath, docsIn)
    assert(bpeRows.size == 8)
    val bpeBy = bpeRows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bpeBy(0L) == bpeBy(5L))

    // bm25: four artifacts + ranked retrieval — doc 0's top hit is its
    // verbatim duplicate 5 (and vice versa)
    val bmPath = s"$base/bm25"
    assert(Tool.run(spark, Array("index-build", "--type=bm25",
      s"--path=$bmPath", s"--input=$docsIn")).status == "SUCCEEDED")
    val bmRows = serve("bm25", bmPath, docsIn, "--topk=2")
    val top = bmRows.filter(_.getLong(1) == 1L)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top(0L) == 5L && top(5L) == 0L)

    // unigram: vocabulary + Viterbi kernel stats
    val ugPath = s"$base/unigram"
    assert(Tool.run(spark, Array("index-build", "--type=unigram",
      s"--path=$ugPath", s"--input=$docsIn")).status == "SUCCEEDED")
    val ugRows = serve("unigram", ugPath, docsIn)
    assert(ugRows.size == 8)
    val ugBy = ugRows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(ugBy(0L) == ugBy(5L))

    // unigram --target-vocab: the EM+prune size knob caps the persisted
    // vocabulary exactly (chars + highest-loss pieces), and the capped
    // artifact still serves
    // CLI artifacts use the versioned-generation layout: resolve the
    // live generation before reading the vocab table directly
    val nchars = spark.read.parquet(
        graft.sinks.ArtifactStore.resolve(spark, ugPath))
      .filter(org.apache.spark.sql.functions.length($"piece") === 1)
      .count().toInt
    val ugtPath = s"$base/unigram-t"
    assert(Tool.run(spark, Array("index-build", "--type=unigram",
      s"--path=$ugtPath", s"--input=$docsIn",
      s"--target-vocab=${nchars + 2}")).status == "SUCCEEDED")
    assert(spark.read.parquet(
      graft.sinks.ArtifactStore.resolve(spark, ugtPath)).count() == nchars + 2)
    val ugtOut = s"$base/out-unigram-t"
    assert(Tool.run(spark, Array("index-serve", "--type=unigram",
      s"--path=$ugtPath", s"--input=$docsIn",
      s"--output=format=parquet file=$ugtOut")).status == "SUCCEEDED")
    assert(spark.read.parquet(ugtOut).count() == 8)

    // semdedup: hierarchical index on the corpus slice (vec 11 held
    // out), then the held-out delta — an exact twin of corpus vec 1 —
    // prunes against corpus keeper 1 and nothing else
    val semCorpus = s"$base/semcorpus"
    emb.filter($"vec_id" < 11).write.parquet(semCorpus)
    val semDelta = s"$base/semdelta"
    emb.filter($"vec_id" === 11).write.parquet(semDelta)
    val semPath = s"$base/semdedup"
    assert(Tool.run(spark, Array("index-build", "--type=semdedup",
      s"--path=$semPath", s"--input=format=parquet file=$semCorpus",
      "--coarse-k=2", "--target-rows=4")).status == "SUCCEEDED")
    val semRows = serve("semdedup", semPath,
      s"format=parquet file=$semDelta", "--threshold=0.999")
    assert(semRows.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((11L, 1L)), semRows.mkString(", "))

    // cdc: chunk index on docs 1..7; doc 0's exact twin text (doc 5's)
    // flags every chunk as already-present, pointing at doc 5
    val cdcCorpus = s"$base/cdccorpus"
    docs.filter($"doc_id" =!= 0L).write.parquet(cdcCorpus)
    val cdcNew = s"$base/cdcnew"
    docs.filter($"doc_id" === 0L).write.parquet(cdcNew)
    val cdcPath = s"$base/cdc"
    assert(Tool.run(spark, Array("index-build", "--type=cdc",
      s"--path=$cdcPath", s"--input=format=parquet file=$cdcCorpus"))
      .status == "SUCCEEDED")
    val cdcRows = serve("cdc", cdcPath, s"format=parquet file=$cdcNew")
    assert(cdcRows.size == 1)
    val cr = cdcRows.head
    assert(cr.getLong(0) == 0L && cr.getLong(1) == cr.getLong(2) &&
      cr.getLong(3) == 5L, cr)

    // decontam: the eval suite persists as the "index"; candidates that
    // duplicate an eval vector flag with that eval id
    val benchPath = s"$base/bench"
    emb.filter($"vec_id" >= 10).write.parquet(benchPath)
    val candPath = s"$base/cand"
    emb.filter($"vec_id" < 10).write.parquet(candPath)
    val dcPath = s"$base/decontam"
    assert(Tool.run(spark, Array("index-build", "--type=decontam",
      s"--path=$dcPath", s"--input=format=parquet file=$benchPath"))
      .status == "SUCCEEDED")
    val dcRows = serve("decontam", dcPath,
      s"format=parquet file=$candPath", "--threshold=0.999")
    // the i % 8 one-hot construction: candidates 1 and 9 share eval 11's
    // dim-1 direction, candidate 2 shares eval 10's dim-2 (10 % 8);
    // nothing else reaches the threshold
    assert(dcRows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (2L, 10L), (9L, 11L)), dcRows.mkString(", "))

    // wordpiece: trained (piece, is_cont) vocabulary + greedy-match
    // kernel stats; identical docs 0/5 encode identically
    val wpPath = s"$base/wordpiece"
    assert(Tool.run(spark, Array("index-build", "--type=wordpiece",
      s"--path=$wpPath", s"--input=$docsIn")).status == "SUCCEEDED")
    val wpRows = serve("wordpiece", wpPath, docsIn)
    assert(wpRows.size == 8)
    val wpBy = wpRows.map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(wpBy(0L) == wpBy(5L))
    // every word yields >= 1 token ([UNK] words yield exactly 1)
    assert(wpRows.forall(r => r.getLong(2) >= r.getLong(1)))

    // unknown type fails loudly
    val e = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-build", "--type=nope", s"--path=$base/x",
        s"--input=$docsIn")))
    assert(e.getMessage.contains("unknown index type"))
    graft.operators.OperatorCaches.releaseAll()
  }

  test("CLI index-serve --stream=true drains the input as micro-batches; rerun is incremental") {
    import spark.implicits._
    val base = tmpDir("idxstream")
    val docs = Seq(
      (0L, "spark join hash table scan"), (1L, "row batch filter merge"),
      (2L, "slow order vector line"), (5L, "spark join hash table scan"))
      .toDF("doc_id", "text")
    val docsPath = s"$base/docs"
    docs.write.parquet(docsPath)
    val lshPath = s"$base/lsh"
    assert(Tool.run(spark, Array("index-build", "--type=lsh",
      s"--path=$lshPath", s"--input=format=parquet file=$docsPath",
      "--shingle-n=2")).status == "SUCCEEDED")
    val outPath = s"$base/out"
    def drain(): Unit = assert(Tool.run(spark, Array("index-serve",
      "--type=lsh", "--stream=true", s"--path=$lshPath",
      s"--input=format=parquet file=$docsPath",
      s"--output=format=parquet file=$outPath",
      "--shingle-n=2", "--threshold=0.9")).status == "SUCCEEDED")
    drain()
    // the streamed drain found the 0<->5 dup pair (both directions,
    // minus self-matches which the probe keeps: ids equal -> jaccard 1
    // rows for the doc against itself in the corpus index)
    val got = spark.read.parquet(outPath)
      .select("new_doc", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 5L)) && got.contains((5L, 0L)))
    // batch serve over the same input agrees on the pair set
    val batchOut = s"$base/batch"
    assert(Tool.run(spark, Array("index-serve", "--type=lsh",
      s"--path=$lshPath", s"--input=format=parquet file=$docsPath",
      s"--output=format=parquet file=$batchOut",
      "--shingle-n=2", "--threshold=0.9")).status == "SUCCEEDED")
    val batch = spark.read.parquet(batchOut)
      .select("new_doc", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    // rerun with NO new input files: the checkpoint makes the drain a
    // no-op — no duplicate output rows appear
    val before = spark.read.parquet(outPath).count()
    drain()
    assert(spark.read.parquet(outPath).count() == before)
    // the one batch-only serve (legacy codebook-only ivf: its corpus
    // side is the input itself) fails loudly, naming ivfflat's path
    val e = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-serve", "--type=ivf", "--stream=true",
        s"--path=$lshPath", s"--input=format=parquet file=$docsPath",
        s"--output=format=parquet file=$base/x")))
    assert(e.getMessage.contains("--stream=true"))
    // an EMPTY input backlog (dir exists, no parquet yet — the normal
    // state of a re-runnable ingestion cron between arrivals) drains
    // cleanly as a no-op instead of failing the schema probe
    val emptyIn = s"$base/empty-in"
    new java.io.File(emptyIn).mkdirs()
    val emptyOut = s"$base/empty-out"
    assert(Tool.run(spark, Array("index-serve", "--type=lsh",
      "--stream=true", s"--path=$lshPath",
      s"--input=format=parquet file=$emptyIn",
      s"--output=format=parquet file=$emptyOut",
      "--shingle-n=2", "--threshold=0.9")).status == "SUCCEEDED")
    assert(!new java.io.File(s"$emptyOut/_checkpoint").exists())
  }

  test("CLI index-serve --type=semdedup --stream=true: streamed drain == batch serve; rerun is incremental") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = tmpDir("semstream")
    def mk(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    val corpusPath = s"$base/corpus"
    mk(Seq(
      (0L, Seq(10f, 1f, 0f, 0f)), (1L, Seq(0f, 0f, 10f, 1f)),
      (2L, Seq(-10f, 1f, 0f, 0f)), (3L, Seq(0f, 0f, 10f, -1f))))
      .write.parquet(corpusPath)
    val semPath = s"$base/idx"
    assert(Tool.run(spark, Array("index-build", "--type=semdedup",
      s"--path=$semPath", s"--input=format=parquet file=$corpusPath",
      "--coarse-k=2", "--target-rows=2")).status == "SUCCEEDED")
    val deltaPath = s"$base/delta"
    mk(Seq((100L, Seq(10f, 1f, 0f, 0f)),  // exact twin of corpus 0
      (101L, Seq(2f, -5f, 3f, 2f)),       // matches nothing
      (102L, Seq(0f, 0f, 10f, -1f))))     // exact twin of corpus 3
      .write.parquet(deltaPath)
    val outPath = s"$base/out"
    def drain(): Unit = assert(Tool.run(spark, Array("index-serve",
      "--type=semdedup", "--stream=true", s"--path=$semPath",
      s"--input=format=parquet file=$deltaPath",
      s"--output=format=parquet file=$outPath",
      "--threshold=0.999")).status == "SUCCEEDED")
    drain()
    val got = spark.read.parquet(outPath)
      .select("pruned", "keeper").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 0L), (102L, 3L)), got.mkString(", "))
    // the non-streamed serve over the same delta agrees row-for-row
    val batchOut = s"$base/batch"
    assert(Tool.run(spark, Array("index-serve", "--type=semdedup",
      s"--path=$semPath", s"--input=format=parquet file=$deltaPath",
      s"--output=format=parquet file=$batchOut",
      "--threshold=0.999")).status == "SUCCEEDED")
    val batch = spark.read.parquet(batchOut)
      .select("pruned", "keeper").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    // rerun with NO new input files: the checkpoint makes the drain a no-op
    val before = spark.read.parquet(outPath).count()
    drain()
    assert(spark.read.parquet(outPath).count() == before)
    graft.operators.OperatorCaches.releaseAll()
  }

  test("CLI index-serve tokenizer tiers stream: streamed encodes == batch encodes") {
    import spark.implicits._
    val base = tmpDir("tokstream")
    val docs = Seq(
      (0L, "the lower newest lowest"), (1L, "newer wider low lowest"),
      (2L, "widest new wide the the"), (3L, "unseen zzqq glyph"))
      .toDF("doc_id", "text")
    val docsPath = s"$base/docs"
    docs.write.parquet(docsPath)
    // all three subword families: train once, then the streamed drain of
    // the same docs must produce row-identical encodes to the batch
    // serve (the vocab is loaded once outside foreachBatch; per-row
    // kernels make micro-batching compose trivially — the point of
    // streaming the encode tier alongside the ingestion screens)
    Seq("bpe", "unigram", "wordpiece").foreach { tpe =>
      val idxPath = s"$base/$tpe-idx"
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$idxPath", s"--input=format=parquet file=$docsPath",
        "--merges=4")).status == "SUCCEEDED")
      val streamOut = s"$base/$tpe-stream"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        "--stream=true", s"--path=$idxPath",
        s"--input=format=parquet file=$docsPath",
        s"--output=format=parquet file=$streamOut")).status == "SUCCEEDED")
      val batchOut = s"$base/$tpe-batch"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$idxPath", s"--input=format=parquet file=$docsPath",
        s"--output=format=parquet file=$batchOut")).status == "SUCCEEDED")
      val streamed = spark.read.parquet(streamOut).drop("batch")
      val batch = spark.read.parquet(batchOut)
      assert(streamed.columns.sorted.sameElements(batch.columns.sorted),
        s"$tpe columns: ${streamed.columns.toSeq} vs ${batch.columns.toSeq}")
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.select(streamed.columns.map(org.apache.spark.sql
        .functions.col): _*).collect().map(_.toSeq).toSet
      assert(s == b, s"$tpe streamed != batch")
    }
    // the usage text renders the stream-type list from
    // IndexTool.StreamTypes — it cannot understate the surface again
    val e = intercept[IllegalArgumentException](
      Tool.run(spark, Array("no-such-verb", "--x=1")))
    assert(e.getMessage.contains(
      IndexTool.StreamTypes.toSeq.sorted.mkString("|")))
    assert(e.getMessage.contains(
      IndexTool.Types.toSeq.sorted.mkString("|")))
  }

  test("CLI index-serve retrieval tiers stream: streamed top-k == batch top-k") {
    import spark.implicits._
    val base = tmpDir("retrstream")
    // the retrieval tiers stream because their corpus side lives in the
    // artifact (postings/codes) and top-k windows partition by q_id —
    // so a drained micro-batch must equal the batch serve row-for-row
    val vecs = (0 until 24).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val vecsPath = s"$base/vecs"
    vecs.write.parquet(vecsPath)
    val docs = Seq((0L, "spark join hash"), (1L, "row filter merge"),
      (2L, "join hash probe"), (3L, "scan filter row"))
      .toDF("doc_id", "text")
    val docsPath = s"$base/docs"
    docs.write.parquet(docsPath)
    val fixtures = Seq(
      ("ivfflat", vecsPath, Seq("--centroids=3"), Seq[String]()),
      ("pq", vecsPath, Seq("--dim=4", "--m=2", "--k=2"),
        Seq("--dim=4", "--m=2")),
      ("ivfpq", vecsPath, Seq("--dim=4", "--m=2", "--k=2", "--centroids=3"),
        Seq("--dim=4", "--m=2")),
      ("sq", vecsPath, Seq("--dim=4"), Seq[String]()),
      ("ivfsq", vecsPath, Seq("--dim=4", "--centroids=3"), Seq[String]()),
      ("ivfpqr", vecsPath, Seq("--dim=4", "--m=2", "--k=2", "--centroids=3"),
        Seq("--dim=4", "--m=2")),
      ("bm25", docsPath, Seq[String](), Seq[String]()))
    fixtures.foreach { case (tpe, in, buildFlags, serveFlags) =>
      val idxPath = s"$base/$tpe-idx"
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$idxPath", s"--input=format=parquet file=$in") ++ buildFlags)
        .status == "SUCCEEDED", tpe)
      val streamOut = s"$base/$tpe-stream"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        "--stream=true", s"--path=$idxPath",
        s"--input=format=parquet file=$in",
        s"--output=format=parquet file=$streamOut") ++ serveFlags)
        .status == "SUCCEEDED", tpe)
      val batchOut = s"$base/$tpe-batch"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$idxPath", s"--input=format=parquet file=$in",
        s"--output=format=parquet file=$batchOut") ++ serveFlags)
        .status == "SUCCEEDED", tpe)
      val streamed = spark.read.parquet(streamOut).drop("batch")
      val batch = spark.read.parquet(batchOut)
      val s = streamed.collect().map(_.toSeq).toSet
      val b = batch.select(streamed.columns.map(org.apache.spark.sql
        .functions.col): _*).collect().map(_.toSeq).toSet
      assert(s == b && s.nonEmpty, s"$tpe streamed != batch")
    }
  }

  test("CLI ivfpq --rerank-from: two-stage at full pool == ivfflat exact serve; streams") {
    import spark.implicits._
    val base = tmpDir("rerankserve")
    val vecs = (0 until 24).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val vecsPath = s"$base/vecs"
    vecs.write.parquet(vecsPath)
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq",
      s"--path=$base/pq", s"--input=format=parquet file=$vecsPath",
      "--dim=4", "--m=2", "--k=2", "--centroids=3")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$base/flat", s"--input=format=parquet file=$vecsPath",
      "--centroids=3")).status == "SUCCEEDED")
    def serve(extra: String*): Set[(Long, Long, Long)] = {
      val out = s"$base/out${extra.hashCode}"
      assert(Tool.run(spark, Array("index-serve",
        s"--input=format=parquet file=$vecsPath",
        s"--output=format=parquet file=$out", "--max-query-id=4",
        "--nprobe=1", "--topk=3") ++ extra).status == "SUCCEEDED")
      spark.read.parquet(out).drop("batch").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
          r.getLong(2))).toSet
    }
    // with the pool covering every probed-cell candidate, the exact
    // rerank IS ivfflat's exact cosine over the same cells — the two
    // artifact paths must agree on (q_id, rank, n_id) exactly
    val twoStage = serve("--type=ivfpq", s"--path=$base/pq",
      s"--rerank-from=$base/flat", "--rerank-pool=50",
      "--dim=4", "--m=2")
    val flat = serve("--type=ivfflat", s"--path=$base/flat")
    assert(twoStage.nonEmpty && twoStage == flat,
      s"two-stage != ivfflat: ${twoStage.toSeq.sorted} vs ${flat.toSeq.sorted}")
    // and the streamed two-stage drain equals the batch two-stage
    val streamed = serve("--type=ivfpq", s"--path=$base/pq",
      s"--rerank-from=$base/flat", "--rerank-pool=50",
      "--dim=4", "--m=2", "--stream=true")
    assert(streamed == twoStage)
    // the RESIDUAL shortlist obeys the same full-pool identity: with
    // every probed-cell candidate in the pool, the exact rerank over
    // the ivfpqr shortlist IS ivfflat's exact serve too
    assert(Tool.run(spark, Array("index-build", "--type=ivfpqr",
      s"--path=$base/pqr", s"--input=format=parquet file=$vecsPath",
      "--dim=4", "--m=2", "--k=2", "--centroids=3")).status == "SUCCEEDED")
    val twoStagePqr = serve("--type=ivfpqr", s"--path=$base/pqr",
      s"--rerank-from=$base/flat", "--rerank-pool=50",
      "--dim=4", "--m=2")
    assert(twoStagePqr == flat,
      s"residual two-stage != ivfflat: ${twoStagePqr.toSeq.sorted}")
    val streamedPqr = serve("--type=ivfpqr", s"--path=$base/pqr",
      s"--rerank-from=$base/flat", "--rerank-pool=50",
      "--dim=4", "--m=2", "--stream=true")
    assert(streamedPqr == twoStagePqr)
  }

  test("legacy rollup-only cdc artifacts still serve; mutating verbs refuse with rebuild guidance") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = tmpDir("cdclegacy")
    val docs = Seq((0L, "spark join hash table scan batch"),
      (1L, "row batch filter merge")).toDF("doc_id", "text")
    // the pre-two-surface CLI layout: rollup rows at the artifact root
    Dedup.saveCdcIndex(Dedup.buildCdcIndex(docs, "doc_id", "text", 3),
      s"$base/idx")
    val probe = Seq((20L, "spark join hash table scan batch"))
      .toDF("doc_id", "text")
    probe.write.parquet(s"$base/probe")
    val out = s"$base/out"
    assert(Tool.run(spark, Array("index-serve", "--type=cdc",
      s"--path=$base/idx", s"--input=format=parquet file=$base/probe",
      s"--output=format=parquet file=$out", "--avg-mask=3"))
      .status == "SUCCEEDED")
    assert(spark.read.parquet(out).count() > 0,
      "legacy artifact must keep serving read-only")
    // update/remove would silently maintain a WRONG chunks surface —
    // they refuse loudly and point at a rebuild instead
    val e = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=cdc", s"--path=$base/idx",
        s"--input=format=parquet file=$base/probe", "--avg-mask=3")))
    assert(e.getMessage.contains("legacy rollup-only"), e.getMessage)
    probe.select($"doc_id").write.parquet(s"$base/rm")
    val e2 = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-remove", "--type=cdc", s"--path=$base/idx",
        s"--input=format=parquet file=$base/rm")))
    assert(e2.getMessage.contains("legacy rollup-only"), e2.getMessage)
  }

  test("CLI index-remove: deleted docs stop matching; removed == rebuild on remaining") {
    import spark.implicits._
    val base = tmpDir("idxremove")
    val docs = Seq(
      (0L, "spark join hash table scan batch"), (1L, "row batch filter merge"),
      (2L, "slow order vector line agg"),
      (5L, "spark join hash table scan batch")) // near-copy of doc 0
      .toDF("doc_id", "text")
    docs.write.parquet(s"$base/docs")
    Seq(0L).toDF("doc_id").write.parquet(s"$base/removed")
    val probe = Seq((20L, "spark join hash table scan batch"))
      .toDF("doc_id", "text")
    probe.write.parquet(s"$base/probe")
    // lsh: the probe (a copy of doc 0) matches BOTH 0 and 5 before the
    // removal, and only 5 after — the deleted doc stops matching, which
    // an append-only update can never deliver
    val lshPath = s"$base/lsh"
    assert(Tool.run(spark, Array("index-build", "--type=lsh",
      s"--path=$lshPath", s"--input=format=parquet file=$base/docs",
      "--shingle-n=2")).status == "SUCCEEDED")
    def lshServe(tag: String): Set[Long] = {
      val out = s"$lshPath-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=lsh",
        s"--path=$lshPath", s"--input=format=parquet file=$base/probe",
        s"--output=format=parquet file=$out",
        "--shingle-n=2", "--threshold=0.9")).status == "SUCCEEDED")
      spark.read.parquet(out).select("dup_of").collect()
        .map(_.getLong(0)).toSet
    }
    assert(lshServe("before") == Set(0L, 5L))
    assert(Tool.run(spark, Array("index-remove", "--type=lsh",
      s"--path=$lshPath", s"--input=format=parquet file=$base/removed",
      "--shingle-n=2")).status == "SUCCEEDED")
    assert(lshServe("after") == Set(5L), s"doc 0 must stop matching")
    // bm25: the removed doc is no longer retrievable, and the removed
    // artifact serves identically to a fresh build on the remaining docs
    val bmPath = s"$base/bm25"
    assert(Tool.run(spark, Array("index-build", "--type=bm25",
      s"--path=$bmPath", s"--input=format=parquet file=$base/docs"))
      .status == "SUCCEEDED")
    def bmServe(path: String, tag: String): Set[Seq[Any]] = {
      val out = s"$path-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=bm25",
        s"--path=$path", s"--input=format=parquet file=$base/probe",
        s"--output=format=parquet file=$out")).status == "SUCCEEDED")
      spark.read.parquet(out).collect().map(_.toSeq).toSet
    }
    assert(bmServe(bmPath, "before").exists(_.contains(0L)))
    assert(Tool.run(spark, Array("index-remove", "--type=bm25",
      s"--path=$bmPath", s"--input=format=parquet file=$base/removed"))
      .status == "SUCCEEDED")
    val after = bmServe(bmPath, "after")
    assert(!after.exists(_.contains(0L)), s"doc 0 still retrievable: $after")
    docs.filter($"doc_id" =!= 0L).write.parquet(s"$base/remaining")
    val rebuilt = s"$base/bm25-rebuilt"
    assert(Tool.run(spark, Array("index-build", "--type=bm25",
      s"--path=$rebuilt", s"--input=format=parquet file=$base/remaining"))
      .status == "SUCCEEDED")
    assert(after == bmServe(rebuilt, "fresh"),
      "removed-index serve != rebuild-on-remaining serve")
    // ivfflat: the removed vector drops out of its cell; the next-best
    // neighbor takes its rank (vector tiers share the anti-join path)
    val vecs = (0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    vecs.write.parquet(s"$base/vecs")
    Seq(2L).toDF("vec_id").write.parquet(s"$base/removedvec")
    val ivfPath = s"$base/ivfflat"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$ivfPath", s"--input=format=parquet file=$base/vecs",
      "--centroids=2")).status == "SUCCEEDED")
    def ivfServe(tag: String): Seq[Long] = {
      val out = s"$ivfPath-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=ivfflat",
        s"--path=$ivfPath", s"--input=format=parquet file=$base/vecs",
        s"--output=format=parquet file=$out",
        "--max-query-id=1", "--nprobe=1", "--topk=2")).status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.getLong(2)).toSeq
    }
    assert(ivfServe("before").contains(2L)) // 2 is query 0's axis twin
    assert(Tool.run(spark, Array("index-remove", "--type=ivfflat",
      s"--path=$ivfPath", s"--input=format=parquet file=$base/removedvec"))
      .status == "SUCCEEDED")
    assert(!ivfServe("after").contains(2L), "removed vector still retrieved")
    // cdc: removable since the artifact grew the doc-grain chunks
    // surface — the removed doc's chunks stop matching, and the removed
    // artifact screens identically to a rebuild on the remaining docs
    val cdcPath = s"$base/cdc"
    assert(Tool.run(spark, Array("index-build", "--type=cdc",
      s"--path=$cdcPath", s"--input=format=parquet file=$base/docs",
      "--avg-mask=3")).status == "SUCCEEDED")
    def cdcServe(path: String, tag: String): Set[Seq[Any]] = {
      val out = s"$path-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=cdc",
        s"--path=$path", s"--input=format=parquet file=$base/probe",
        s"--output=format=parquet file=$out", "--avg-mask=3"))
        .status == "SUCCEEDED")
      spark.read.parquet(out).collect().map(_.toSeq).toSet
    }
    assert(cdcServe(cdcPath, "before").exists(_.contains(0L)),
      "probe (copy of doc 0) must match doc 0 pre-removal")
    assert(Tool.run(spark, Array("index-remove", "--type=cdc",
      s"--path=$cdcPath", s"--input=format=parquet file=$base/removed",
      "--avg-mask=3")).status == "SUCCEEDED")
    val cdcAfter = cdcServe(cdcPath, "after")
    assert(!cdcAfter.exists(_.contains(0L)), s"doc 0 still first_doc: $cdcAfter")
    val cdcRebuilt = s"$base/cdc-rebuilt"
    assert(Tool.run(spark, Array("index-build", "--type=cdc",
      s"--path=$cdcRebuilt", s"--input=format=parquet file=$base/remaining",
      "--avg-mask=3")).status == "SUCCEEDED")
    assert(cdcAfter == cdcServe(cdcRebuilt, "fresh"),
      "cdc removed-index serve != rebuild-on-remaining serve")
  }

  test("CLI index-update folds a delta into the artifact; updated == full rebuild") {
    import spark.implicits._
    val base = tmpDir("idxupdate")
    val corpus = Seq(
      (0L, "spark join hash table scan batch"), (1L, "row batch filter merge"),
      (2L, "slow order vector line agg"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "spark join hash table scan batch"), // near-copy of corpus 0
      (11L, "completely novel content here"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$base/corpus")
    delta.write.parquet(s"$base/delta")
    corpus.unionByName(delta).write.parquet(s"$base/full")
    // for each updatable type: build on corpus, update with delta, and
    // compare the artifact's SERVE output against a fresh full build's —
    // the update must be indistinguishable from rebuilding on the union
    val probe = Seq((20L, "spark join hash table scan batch"),
      (21L, "row batch filter merge")).toDF("doc_id", "text")
    probe.write.parquet(s"$base/probe")
    (IndexTool.UpdateTypes -- Set("ivfflat", "ivfflat-sharded", "semdedup",
        "semdedup-sharded", "pq", "ivfpq", "ivfpq-sharded", "ivfpqr-sharded",
        "imi", "sq", "ivfsq", "ivfpqr")) // vector-typed tiers have their own fixtures below / in the imi, sq, and sharded tests
      .toSeq.sorted.foreach { tpe =>
      val upd = s"$base/$tpe-upd"
      val full = s"$base/$tpe-full"
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$upd", s"--input=format=parquet file=$base/corpus",
        "--shingle-n=2")).status == "SUCCEEDED")
      assert(Tool.run(spark, Array("index-update", s"--type=$tpe",
        s"--path=$upd", s"--input=format=parquet file=$base/delta",
        "--shingle-n=2")).status == "SUCCEEDED")
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$full", s"--input=format=parquet file=$base/full",
        "--shingle-n=2")).status == "SUCCEEDED")
      def served(path: String): Set[Seq[Any]] = {
        val out = s"$path-serve-out"
        assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
          s"--path=$path", s"--input=format=parquet file=$base/probe",
          s"--output=format=parquet file=$out",
          "--shingle-n=2", "--threshold=0.5")).status == "SUCCEEDED")
        spark.read.parquet(out).collect().map(_.toSeq).toSet
      }
      val u = served(upd)
      assert(u == served(full), s"$tpe: updated-index serve != full-rebuild serve")
      // the update is visible: the probe's near-copy of DELTA doc 10
      // only matches through the folded-in delta (lsh), and the cdc/bm25
      // serves must reflect delta content in their outputs
      if (tpe == "lsh")
        assert(u.exists(r => r.contains(10L)), s"lsh: delta doc invisible: $u")
      // no leftover staging/displaced dirs from the atomic swap
      import scala.jdk.CollectionConverters._
      val names = Files.list(Paths.get(base)).iterator().asScala
        .map(_.getFileName.toString).toSet
      assert(!names.exists(n => n.contains("__update_") || n.endsWith(".__replaced")),
        s"swap litter: $names")
    }
    // ivfflat (embedding-typed input): ADD a delta under the fixed
    // trained codebook — a query sitting on a DELTA vector must
    // retrieve it, which the un-updated postings cannot produce
    val dim = 4
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpusEmb = emb((0 until 9).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + i * 0.01f
      ((i + 100).toLong, v.toSeq)
    })
    // the delta is a THIRD blob, far from both corpus blobs
    val deltaEmb = emb(Seq((200L, Seq(0f, 0f, 10f, 0f)),
      (201L, Seq(0f, 0f, 10.05f, 0f))))
    // query 0 sits on the delta blob
    val queryEmb = emb(Seq((0L, Seq(0f, 0f, 10.01f, 0f))))
    corpusEmb.write.parquet(s"$base/cemb")
    deltaEmb.write.parquet(s"$base/demb")
    queryEmb.write.parquet(s"$base/qemb")
    val ivfp = s"$base/ivfflat-upd"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$ivfp", s"--input=format=parquet file=$base/cemb",
      "--centroids=3")).status == "SUCCEEDED")
    def ivfServe(tag: String): Seq[(Long, Long)] = {
      val out = s"$ivfp-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=ivfflat",
        s"--path=$ivfp", s"--input=format=parquet file=$base/qemb",
        s"--output=format=parquet file=$out",
        "--max-query-id=1", "--nprobe=1", "--topk=2")).status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
    }
    val before = ivfServe("before")
    assert(Tool.run(spark, Array("index-update", "--type=ivfflat",
      s"--path=$ivfp", s"--input=format=parquet file=$base/demb"))
      .status == "SUCCEEDED")
    val after = ivfServe("after")
    assert(!before.exists(_._2 >= 200L),
      s"delta vectors visible before the update: $before")
    assert(after.map(_._2).toSet == Set(200L, 201L),
      s"updated index must retrieve the delta blob: $after")
    // semdedup: the week-1 delta joins the assign surface, so a week-2
    // near-copy of a week-1 row gets pruned with its week-1 keeper —
    // impossible before the update (the fit corpus has no axis-2 rows)
    val semp = s"$base/semdedup-upd"
    emb(Seq((300L, Seq(0f, 0f, 10.3f, 0f)))).write.parquet(s"$base/w1emb")
    emb(Seq((400L, Seq(0f, 0f, 10.31f, 0f)))).write.parquet(s"$base/w2emb")
    assert(Tool.run(spark, Array("index-build", "--type=semdedup",
      s"--path=$semp", s"--input=format=parquet file=$base/cemb",
      "--coarse-k=2", "--target-rows=4", "--cluster-cap=64"))
      .status == "SUCCEEDED")
    def semServe(tag: String): Map[Long, Long] = {
      val out = s"$semp-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=semdedup",
        s"--path=$semp", s"--input=format=parquet file=$base/w2emb",
        s"--output=format=parquet file=$out",
        "--threshold=0.9")).status == "SUCCEEDED")
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toMap
    }
    assert(!semServe("before").contains(400L))
    assert(Tool.run(spark, Array("index-update", "--type=semdedup",
      s"--path=$semp", s"--input=format=parquet file=$base/w1emb"))
      .status == "SUCCEEDED")
    assert(semServe("after").get(400L).contains(300L))
    // pq: the delta is ENCODED against the fixed codebooks and its codes
    // appended. ADC cannot distinguish same-code vectors (ties break to
    // smaller ids), so the delta must occupy an unoccupied code
    // COMBINATION: corpus blobs sit on sub0-axis0 and sub1-axis2, the
    // delta on BOTH axes — codes (high, high) exist per subspace but no
    // corpus vector combines them, so only the updated artifact can rank
    // the delta first for a both-axes query
    val pqCorpus = emb((0 until 8).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(if (i % 2 == 0) 0 else 2) = 10f + i * 0.01f
      ((i + 100).toLong, v.toSeq)
    })
    // NOT (10,0,10,0): that direction is an EXACT cosine tie between the
    // two blob centroids, where last-ULP double rounding may assign the
    // two delta rows to different coarse cells (deterministic and
    // oracle-exact, but a probing-fixture hazard) — the 10:8 mix makes
    // the axis-0 cell the clear coarse winner while subspace 1 still
    // encodes to the high code
    val pqDelta = emb(Seq((210L, Seq(10f, 0f, 8f, 0f)),
      (211L, Seq(10.05f, 0f, 8.05f, 0f))))
    val pqQuery = emb(Seq((0L, Seq(10.01f, 0f, 8.01f, 0f))))
    pqCorpus.write.parquet(s"$base/pqcemb")
    pqDelta.write.parquet(s"$base/pqdemb")
    pqQuery.write.parquet(s"$base/pqqemb")
    val pqp = s"$base/pq-upd"
    assert(Tool.run(spark, Array("index-build", "--type=pq",
      s"--path=$pqp", s"--input=format=parquet file=$base/pqcemb",
      "--dim=4", "--m=2", "--k=2")).status == "SUCCEEDED")
    def pqServe(tag: String): Seq[Long] = {
      val out = s"$pqp-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=pq",
        s"--path=$pqp", s"--input=format=parquet file=$base/pqqemb",
        s"--output=format=parquet file=$out",
        "--dim=4", "--m=2", "--max-query-id=1", "--topk=2"))
        .status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.getLong(2)).toSeq
    }
    assert(!pqServe("before").exists(_ >= 210L))
    assert(Tool.run(spark, Array("index-update", "--type=pq",
      s"--path=$pqp", s"--input=format=parquet file=$base/pqdemb",
      "--dim=4", "--m=2")).status == "SUCCEEDED")
    assert(pqServe("after").toSet == Set(210L, 211L),
      s"updated pq index must rank the delta blob first: ${pqServe("after")}")
    // ivfpq: the composed add — same unoccupied-code-combination
    // fixtures; the query probes the delta's cell and ADC-ranks its
    // appended codes first
    val ivfpqp = s"$base/ivfpq-upd"
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq",
      s"--path=$ivfpqp", s"--input=format=parquet file=$base/pqcemb",
      "--dim=4", "--m=2", "--k=2", "--centroids=3")).status == "SUCCEEDED")
    def ivfpqServe(tag: String): Seq[Long] = {
      val out = s"$ivfpqp-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=ivfpq",
        s"--path=$ivfpqp", s"--input=format=parquet file=$base/pqqemb",
        s"--output=format=parquet file=$out",
        "--dim=4", "--m=2", "--max-query-id=1", "--nprobe=1", "--topk=2"))
        .status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.getLong(2)).toSeq
    }
    assert(!ivfpqServe("before").exists(_ >= 210L))
    assert(Tool.run(spark, Array("index-update", "--type=ivfpq",
      s"--path=$ivfpqp", s"--input=format=parquet file=$base/pqdemb",
      "--dim=4", "--m=2")).status == "SUCCEEDED")
    assert(ivfpqServe("after").toSet == Set(210L, 211L),
      s"updated ivfpq index must rank the delta blob first: ${ivfpqServe("after")}")
    // index-describe: the operator's check around an update — counters
    // reflect the artifact AFTER the folds above (corpus + delta)
    val dIvf = Tool.run(spark, Array("index-describe", "--type=ivfflat",
      s"--path=$ivfp"))
    assert(dIvf.status == "SUCCEEDED" && dIvf.counters("vectors") == 11L,
      s"ivfflat describe: ${dIvf.counters}") // 9 corpus + 2 delta
    val dPq = Tool.run(spark, Array("index-describe", "--type=ivfpq",
      s"--path=$ivfpqp"))
    assert(dPq.counters("vectors") == 10L && // 8 corpus + 2 delta
      dPq.counters("code_rows") == 20L && dPq.counters("subspaces") == 2L,
      s"ivfpq describe: ${dPq.counters}")
    val dSem = Tool.run(spark, Array("index-describe", "--type=semdedup",
      s"--path=$semp"))
    assert(dSem.counters("assigned_rows") == 10L && // 9 corpus + 1 delta
      dSem.counters("coarse_k") == 2L,
      s"semdedup describe: ${dSem.counters}")
    // describe must survive a DEGENERATE (empty) artifact — the state an
    // operator points it at after a misconfigured ingestion: null-summing
    // aggs would NPE without the coalesce guards
    spark.emptyDataFrame.sparkSession.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        spark.read.parquet(s"$base/corpus").schema)
      .write.parquet(s"$base/emptydocs")
    assert(Tool.run(spark, Array("index-build", "--type=cdc",
      s"--path=$base/cdc-empty",
      s"--input=format=parquet file=$base/emptydocs"))
      .status == "SUCCEEDED")
    val dEmpty = Tool.run(spark, Array("index-describe", "--type=cdc",
      s"--path=$base/cdc-empty"))
    assert(dEmpty.counters("unique_chunks") == 0L &&
      dEmpty.counters("chunk_occurrences") == 0L,
      s"empty-cdc describe: ${dEmpty.counters}")
    // non-mergeable artifact types refuse with guidance
    val e = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=ivf", s"--path=$base/x",
        s"--input=format=parquet file=$base/delta")))
    assert(e.getMessage.contains("index-build"))
  }

  test("CLI imi tier: update visibility, remove, streamed == batch, describe") {
    import spark.implicits._
    val base = tmpDir("imitier")
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // both HALVES carry energy in every vector (an all-zero half would
    // make its half-codebook degenerate): even blob on (axis0 | axis2),
    // odd blob on (axis1 | axis3)
    val corpus = emb((0 until 9).map { i =>
      val v = Array(0f, 0f, 0f, 0f)
      if (i % 2 == 0) { v(0) = 10f + i * 0.01f; v(2) = 8f }
      else { v(1) = 10f + i * 0.01f; v(3) = 8f }
      ((i + 100).toLong, v.toSeq)
    })
    // the delta shares the even blob's half-cells but is the exact-cosine
    // winner for the query point
    val delta = emb(Seq((200L, Seq(1f, 0f, 10f, 0f)),
      (201L, Seq(1.02f, 0f, 10.05f, 0f))))
    val query = emb(Seq((0L, Seq(1.01f, 0f, 10.01f, 0f))))
    corpus.write.parquet(s"$base/cemb")
    delta.write.parquet(s"$base/demb")
    query.write.parquet(s"$base/qemb")
    val p = s"$base/imi"
    assert(Tool.run(spark, Array("index-build", "--type=imi",
      s"--path=$p", s"--input=format=parquet file=$base/cemb",
      "--dim=4", "--half-centroids-a=2", "--half-centroids-b=2"))
      .status == "SUCCEEDED")
    def serve(tag: String, extra: String*): Seq[Long] = {
      val out = s"$p-serve-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=imi",
        s"--path=$p", s"--input=format=parquet file=$base/qemb",
        s"--output=format=parquet file=$out",
        "--max-query-id=1", "--nprobe=1", "--topk=2") ++ extra)
        .status == "SUCCEEDED")
      spark.read.parquet(out).drop("batch").orderBy("q_id", "rank")
        .collect().map(_.getLong(2)).toSeq
    }
    assert(!serve("before").exists(_ >= 200L))
    assert(Tool.run(spark, Array("index-update", "--type=imi",
      s"--path=$p", s"--input=format=parquet file=$base/demb"))
      .status == "SUCCEEDED")
    assert(serve("after").toSet == Set(200L, 201L),
      s"updated imi index must retrieve the delta: ${serve("after2")}")
    // streamed query batch == batch serve (fixed artifact state)
    assert(serve("stream", "--stream=true").toSet == Set(200L, 201L))
    // right-to-be-forgotten: 200 drops out, its twin remains
    Seq(200L).toDF("vec_id").write.parquet(s"$base/rm")
    assert(Tool.run(spark, Array("index-remove", "--type=imi",
      s"--path=$p", s"--input=format=parquet file=$base/rm"))
      .status == "SUCCEEDED")
    val afterRm = serve("afterrm")
    assert(afterRm.contains(201L) && !afterRm.contains(200L), s"$afterRm")
    val dsc = Tool.run(spark, Array("index-describe", "--type=imi",
      s"--path=$p"))
    assert(dsc.counters("composed_cells") == 4L &&
      dsc.counters("vectors") == 10L && // 9 corpus + 2 delta - 1 removed
      dsc.counters("commit_claim_present") == 0L, s"${dsc.counters}")
  }

  test("ingestion day: table append → streamed screen → update ten tiers → serve batch+stream → forget → describe (FIXTURES §9/§10 end-to-end)") {
    import spark.implicits._
    import graft.table.{EntityTable, FamilySpec, TableLayout}
    val base = tmpDir("ingestday")

    // ── day 0: the archive. Docs live in an EntityTable (the §9 surface);
    // every index tier is built from the table's own cell view.
    val et = new EntityTable(spark, s"$base/t",
      TableLayout("docs", Seq(FamilySpec("doc"))))
    et.bulkLoad(Seq(
      (0L, "doc", "text", 1000L, "spark join hash table scan batch"),
      (1L, "doc", "text", 1000L, "row batch filter merge plan"),
      (2L, "doc", "text", 1000L, "slow order vector line agg"),
      (3L, "doc", "text", 1000L, "window group sort key stream"))
      .toDF("entity_id", "family", "qualifier", "ts", "value"),
      numPartitions = 1)
    def tableDocs = et.cells.filter($"qualifier" === "text")
      .select($"entity_id".as("doc_id"), $"value".as("text"))
    tableDocs.write.parquet(s"$base/day0docs")
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    emb((0 until 9).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq)
    }).write.parquet(s"$base/day0emb")
    val docTiers = Seq("lsh", "cdc", "bm25")
    // imi is absent by fixture geometry, not capability: these axis
    // blobs have a zero half-vector (no per-half cosine), and the imi
    // lifecycle is pinned by its own ToolSpec/ClusteringSpec cases
    val vecTiers =
      Seq("ivfflat", "ivfpq", "ivfpqr", "pq", "semdedup", "sq", "ivfsq")
    val tierFlags = Map(
      "lsh" -> Seq("--shingle-n=2"), "cdc" -> Seq("--avg-mask=3"),
      "bm25" -> Seq.empty,
      "ivfflat" -> Seq("--centroids=2"),
      "ivfpq" -> Seq("--dim=4", "--m=2", "--k=2", "--centroids=2"),
      "ivfpqr" -> Seq("--dim=4", "--m=2", "--k=2", "--centroids=2"),
      "pq" -> Seq("--dim=4", "--m=2", "--k=2"),
      "sq" -> Seq("--dim=4"),
      "ivfsq" -> Seq("--dim=4", "--centroids=2"),
      "semdedup" -> Seq("--coarse-k=2", "--target-rows=4", "--cluster-cap=64"))
    for (tpe <- docTiers)
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$base/$tpe", s"--input=format=parquet file=$base/day0docs")
        ++ tierFlags(tpe)).status == "SUCCEEDED")
    for (tpe <- vecTiers)
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$base/$tpe", s"--input=format=parquet file=$base/day0emb")
        ++ tierFlags(tpe)).status == "SUCCEEDED")

    // ── day 1: a batch ARRIVES as a table append (§9: atomic batch,
    // reserved arrival ordinal) — doc 10 is a near-copy of archived doc
    // 0, doc 11 is novel.
    et.appendChanges(Seq(
      (10L, "doc", "text", "put", 2000L, "spark join hash table scan batch"),
      (11L, "doc", "text", "put", 2000L, "novel fresh unseen content words"))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value"))
    tableDocs.filter($"doc_id" >= 10L).write.parquet(s"$base/day1docs")
    emb(Seq((200L, Seq(0f, 0f, 10f, 0f)), (201L, Seq(0f, 0f, 10.05f, 0f))))
      .write.parquet(s"$base/day1emb")

    // ── screen: the STREAMED lsh ingestion screen drains the day-1 spool
    // (re-runnable cron; checkpoint inside the output dir)
    assert(Tool.run(spark, Array("index-serve", "--type=lsh", "--stream=true",
      s"--path=$base/lsh", s"--input=format=parquet file=$base/day1docs",
      s"--output=format=parquet file=$base/screen",
      "--shingle-n=2", "--threshold=0.9")).status == "SUCCEEDED")
    val flagged = spark.read.parquet(s"$base/screen")
      .select($"new_doc").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == Set(10L), s"screen must flag only the near-copy: $flagged")
    // admitted = the day-1 docs that passed the screen
    tableDocs.filter($"doc_id" >= 10L && !$"doc_id".isin(flagged.toSeq: _*))
      .write.parquet(s"$base/admitted")

    // ── update all TEN tiers with the admitted delta
    for (tpe <- docTiers)
      assert(Tool.run(spark, Array("index-update", s"--type=$tpe",
        s"--path=$base/$tpe", s"--input=format=parquet file=$base/admitted")
        ++ tierFlags(tpe).filterNot(_.startsWith("--centroids"))
          .filterNot(_.startsWith("--k="))).status == "SUCCEEDED")
    for (tpe <- vecTiers)
      assert(Tool.run(spark, Array("index-update", s"--type=$tpe",
        s"--path=$base/$tpe", s"--input=format=parquet file=$base/day1emb")
        ++ tierFlags(tpe).filterNot(_.startsWith("--centroids"))
          .filterNot(_.startsWith("--k="))
          .filterNot(_.startsWith("--coarse"))
          .filterNot(_.startsWith("--target"))
          .filterNot(_.startsWith("--cluster"))).status == "SUCCEEDED")

    // ── §10 guard end-to-end: REPLAYING the day-1 fold (crash-after-
    // commit cron rerun) fails loudly instead of double-counting
    val replay = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=bm25", s"--path=$base/bm25",
        s"--input=format=parquet file=$base/admitted")))
    assert(replay.getMessage.contains("already in the artifact"))

    // ── serve: the admitted doc is retrievable (bm25, batch) and the
    // STREAMED serve of the same probe equals it; the delta blob is
    // retrievable from the vector tiers
    Seq((40L, "novel fresh unseen content words"), (41L, "row batch merge"))
      .toDF("doc_id", "text").write.parquet(s"$base/probe")
    def bm25Out(dir: String): Set[Seq[Any]] =
      spark.read.parquet(dir).drop("batch").collect().map(_.toSeq).toSet
    assert(Tool.run(spark, Array("index-serve", "--type=bm25",
      s"--path=$base/bm25", s"--input=format=parquet file=$base/probe",
      s"--output=format=parquet file=$base/bmbatch")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-serve", "--type=bm25", "--stream=true",
      s"--path=$base/bm25", s"--input=format=parquet file=$base/probe",
      s"--output=format=parquet file=$base/bmstream")).status == "SUCCEEDED")
    val bmBatch = bm25Out(s"$base/bmbatch")
    assert(bmBatch == bm25Out(s"$base/bmstream"), "streamed serve != batch serve")
    assert(bmBatch.exists(r => r.contains(40L) && r.contains(11L)),
      s"admitted doc 11 must be retrievable: $bmBatch")
    emb(Seq((0L, Seq(0f, 0f, 10.01f, 0f)))).write.parquet(s"$base/qemb")
    assert(Tool.run(spark, Array("index-serve", "--type=ivfflat",
      s"--path=$base/ivfflat", s"--input=format=parquet file=$base/qemb",
      s"--output=format=parquet file=$base/ivfout",
      "--max-query-id=1", "--nprobe=1", "--topk=2")).status == "SUCCEEDED")
    assert(spark.read.parquet(s"$base/ivfout").collect()
      .map(_.getLong(2)).toSet == Set(200L, 201L),
      "day-1 vectors must be retrievable from the updated postings")

    // ── forget: a right-to-be-forgotten request for archived doc 0 /
    // vector 2 sweeps every tier; the forgotten doc stops matching
    Seq((50L, "spark join hash table scan batch")).toDF("doc_id", "text")
      .write.parquet(s"$base/probe0")
    def probe0Matches(tag: String): Set[Long] = {
      assert(Tool.run(spark, Array("index-serve", "--type=lsh",
        s"--path=$base/lsh", s"--input=format=parquet file=$base/probe0",
        s"--output=format=parquet file=$base/lsh-$tag",
        "--shingle-n=2", "--threshold=0.9")).status == "SUCCEEDED")
      spark.read.parquet(s"$base/lsh-$tag")
        .select($"dup_of").collect().map(_.getLong(0)).toSet
    }
    assert(probe0Matches("preforget") == Set(0L),
      "archived doc 0 must match its copy before the forget")
    Seq(0L).toDF("doc_id").write.parquet(s"$base/forgetdoc")
    Seq(2L).toDF("vec_id").write.parquet(s"$base/forgetvec")
    for (tpe <- docTiers)
      assert(Tool.run(spark, Array("index-remove", s"--type=$tpe",
        s"--path=$base/$tpe", s"--input=format=parquet file=$base/forgetdoc")
        ++ tierFlags(tpe).filterNot(_.startsWith("--centroids")))
        .status == "SUCCEEDED")
    for (tpe <- vecTiers)
      assert(Tool.run(spark, Array("index-remove", s"--type=$tpe",
        s"--path=$base/$tpe", s"--input=format=parquet file=$base/forgetvec"))
        .status == "SUCCEEDED")
    assert(probe0Matches("postforget").isEmpty,
      "forgotten doc 0 must stop matching future probes")

    // ── describe: every tier healthy — counters reflect the day
    // (day0 + admitted − forgotten), no stray generations, no claim left
    for (tpe <- docTiers ++ vecTiers) {
      val d = Tool.run(spark, Array("index-describe", s"--type=$tpe",
        s"--path=$base/$tpe"))
      assert(d.status == "SUCCEEDED")
      assert(d.counters("orphan_generations") <= 1L, // the retained displaced gen
        s"$tpe: ${d.counters}")
      assert(d.counters("commit_claim_present") == 0L, s"$tpe: ${d.counters}")
    }
    assert(Tool.run(spark, Array("index-describe", "--type=bm25",
      s"--path=$base/bm25")).counters("docs") == 4L) // 4 day0 + 1 admitted - 1 forgotten
    assert(Tool.run(spark, Array("index-describe", "--type=ivfflat",
      s"--path=$base/ivfflat")).counters("vectors") == 10L) // 9 + 2 - 1

    // ── maintenance window: a second append gives the feed two batches,
    // then the writer-exclusive compactFeed (§9) folds them — the merged
    // view is unchanged and the day-1 cells survive the fold
    et.appendChanges(Seq(
      (12L, "doc", "text", "put", 3000L, "late arriving metrics doc"))
      .toDF("entity_id", "family", "qualifier", "op", "ts", "value"))
    val cellsBefore = et.cells.count()
    et.compactFeed()
    assert(et.cells.count() == cellsBefore)
    assert(tableDocs.filter($"doc_id" === 11L).count() == 1L)
  }

  test("ingestion-day crash-retry: a crash between tier updates, then a naive full retry — per-artifact CAS + disjoint guard make the retry exactly-once per tier") {
    import spark.implicits._
    // Two parallel universes with IDENTICAL builds and the same delta:
    // `clean` applies one update pass; `crash` applies the delta to the
    // first 3 tiers, "crashes", and then a scheduler RETRIES THE WHOLE
    // BATCH over all 7 tiers. The disjoint-id guard refuses exactly the
    // already-updated tiers (loudly, nothing written — the generation
    // pointer proves it), the rest apply — so the retry converges to
    // the clean run without the scheduler tracking per-tier progress.
    val base = tmpDir("crashretry")
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    Seq((0L, "spark join hash table scan"), (1L, "row batch filter merge"),
      (2L, "slow order vector line"), (3L, "window group sort key"))
      .toDF("doc_id", "text").write.parquet(s"$base/docs")
    Seq((10L, "novel fresh unseen content"), (11L, "more arriving words here"))
      .toDF("doc_id", "text").write.parquet(s"$base/docsDelta")
    emb((0 until 9).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq)
    }).write.parquet(s"$base/emb")
    emb(Seq((200L, Seq(0f, 0f, 10f, 0f)), (201L, Seq(0f, 0f, 10.05f, 0f))))
      .write.parquet(s"$base/embDelta")
    val tiers = Seq(
      ("lsh", "docs", Seq("--shingle-n=2")),
      ("cdc", "docs", Seq("--avg-mask=3")),
      ("bm25", "docs", Seq.empty),
      ("ivfflat", "emb", Seq("--centroids=2")),
      ("ivfpq", "emb", Seq("--dim=4", "--m=2", "--k=2", "--centroids=2")),
      ("pq", "emb", Seq("--dim=4", "--m=2", "--k=2")),
      ("sq", "emb", Seq("--dim=4")))
    for (universe <- Seq("clean", "crash"); (tpe, in, knobs) <- tiers)
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$base/$universe/$tpe",
        s"--input=format=parquet file=$base/$in") ++ knobs)
        .status == "SUCCEEDED")
    def updateOf(universe: String, tpe: String, in: String,
                 knobs: Seq[String]) =
      Tool.run(spark, Array("index-update", s"--type=$tpe",
        s"--path=$base/$universe/$tpe",
        s"--input=format=parquet file=$base/${in}Delta") ++ knobs)
    // the clean single pass
    for ((tpe, in, knobs) <- tiers)
      assert(updateOf("clean", tpe, in, knobs).status == "SUCCEEDED")
    // the crashing pass: first 3 tiers land, then the day dies
    for ((tpe, in, knobs) <- tiers.take(3))
      assert(updateOf("crash", tpe, in, knobs).status == "SUCCEEDED")
    // naive full retry over ALL tiers: already-updated ones refuse
    // (replayed-batch guard), pending ones apply
    var refused = List.empty[String]
    for ((tpe, in, knobs) <- tiers) {
      try { updateOf("crash", tpe, in, knobs) }
      catch { case e: IllegalArgumentException =>
        assert(e.getMessage.contains("already in the artifact"),
          s"$tpe: wrong refusal: ${e.getMessage}")
        refused ::= tpe
      }
    }
    assert(refused.reverse == tiers.take(3).map(_._1).toList,
      s"exactly the pre-crash tiers must refuse the replay: $refused")
    // convergence: every tier's artifact state equals the clean run —
    // same describe counters (docs/vectors/rows and generation health)
    for ((tpe, _, _) <- tiers) {
      val clean = IndexTool.describe(spark, tpe, s"$base/clean/$tpe")
      val crash = IndexTool.describe(spark, tpe, s"$base/crash/$tpe")
      assert(clean == crash, s"$tpe: clean=$clean crash=$crash")
    }
    // and a served search through the retried universe matches clean
    def serveIvf(universe: String): Seq[Seq[Any]] = {
      val out = s"$base/serve-$universe"
      assert(Tool.run(spark, Array("index-serve", "--type=ivfflat",
        s"--path=$base/$universe/ivfflat",
        s"--input=format=parquet file=$base/embDelta",
        s"--output=format=parquet file=$out",
        "--max-query-id=201", "--nprobe=2", "--topk=3"))
        .status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.toSeq).toSeq
    }
    assert(serveIvf("crash") == serveIvf("clean"))
  }

  test("CLI sharded ANN tier: build/serve/update/describe; the update advances only the routed shards' generations") {
    import spark.implicits._
    val base = tmpDir("idxsharded")
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpus = emb((0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + i * 0.01f
      (i.toLong, v.toSeq)
    })
    corpus.write.parquet(s"$base/emb")
    val flat = s"$base/flat"
    val sharded = s"$base/sharded"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$flat", s"--input=format=parquet file=$base/emb",
      "--centroids=2")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/emb",
      "--centroids=2", "--shards=4")).status == "SUCCEEDED")
    def serveOf(tpe: String, path: String, tag: String): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$path", s"--input=format=parquet file=$base/emb",
        s"--output=format=parquet file=$out",
        "--max-query-id=4", "--nprobe=1", "--topk=3")).status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.toSeq).toSeq
    }
    // shard-merged serve == single-artifact serve, through the CLI
    assert(serveOf("ivfflat-sharded", sharded, "sh") ==
      serveOf("ivfflat", flat, "flat"))
    // delta ids 102/106 both route to shard 2 (n_id mod 4)
    val shardedRoot = graft.sinks.ArtifactStore.resolve(spark, sharded)
    def genOf(sh: Int) =
      graft.sinks.SegmentStore.pin(spark, shardedRoot).segments(s"shards/$sh")
    val gensBefore = (0 until 4).map(genOf)
    emb(Seq((102L, Seq(0f, 0f, 0f, 9f)), (106L, Seq(0f, 0f, 0f, 9.1f))))
      .write.parquet(s"$base/delta")
    assert(Tool.run(spark, Array("index-update", "--type=ivfflat-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != gensBefore(sh), "shard 2 must advance")
      else assert(genOf(sh) == gensBefore(sh), s"shard $sh must be untouched")
    }
    // the disjoint-id guard covers the sharded tier too
    val replay = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=ivfflat-sharded", s"--path=$sharded",
        s"--input=format=parquet file=$base/delta")))
    assert(replay.getMessage.contains("already in the artifact"))
    // describe reports the shard grid + occupancy skew
    val d = Tool.run(spark, Array("index-describe", "--type=ivfflat-sharded",
      s"--path=$sharded"))
    assert(d.counters("shards") == 4L && d.counters("vectors") == 14L,
      d.counters.toString)
    assert(d.counters.contains("occupancy_skew_x100"))
    // STREAMED serve == batch serve (the corpus side lives in the shards)
    val streamOut = s"$base/stream-out"
    assert(Tool.run(spark, Array("index-serve", "--type=ivfflat-sharded",
      "--stream=true", s"--path=$sharded",
      s"--input=format=parquet file=$base/emb",
      s"--output=format=parquet file=$streamOut",
      "--max-query-id=4", "--nprobe=1", "--topk=3")).status == "SUCCEEDED")
    assert(spark.read.parquet(streamOut).drop("batch")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq ==
      serveOf("ivfflat-sharded", sharded, "sh2"))
    // REMOVE (right-to-be-forgotten): ids 102/106 route to shard 2 only;
    // after removal they stop matching and only shard 2's gen advanced
    val gensBeforeRm = (0 until 4).map(genOf)
    assert(Tool.run(spark, Array("index-remove", "--type=ivfflat-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != gensBeforeRm(sh))
      else assert(genOf(sh) == gensBeforeRm(sh), s"shard $sh must hold")
    }
    val served = serveOf("ivfflat-sharded", sharded, "postrm")
    assert(!served.exists(r => r(2) == 102L || r(2) == 106L),
      s"removed ids still served: $served")
    // removed == the pre-update state (add then remove of the same ids)
    assert(served == serveOf("ivfflat", flat, "flat2"))
  }

  test("CLI sharded compressed tier: ivfpq-sharded build/serve/update/remove/describe; update advances only routed shards; rerank-from works") {
    import spark.implicits._
    val base = tmpDir("idxpqsharded")
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpus = emb((0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + i * 0.01f
      (i.toLong, v.toSeq)
    })
    corpus.write.parquet(s"$base/emb")
    val single = s"$base/single"
    val sharded = s"$base/sharded"
    val knobs = Array("--dim=4", "--m=2", "--k=2", "--centroids=2")
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq",
      s"--path=$single", s"--input=format=parquet file=$base/emb") ++ knobs)
      .status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/emb",
      "--shards=4") ++ knobs).status == "SUCCEEDED")
    def serveOf(tpe: String, path: String, tag: String,
                extra: String*): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$path", s"--input=format=parquet file=$base/emb",
        s"--output=format=parquet file=$out", "--dim=4", "--m=2",
        "--max-query-id=4", "--nprobe=1", "--topk=3") ++ extra)
        .status == "SUCCEEDED")
      spark.read.parquet(out).drop("batch").orderBy("q_id", "rank")
        .collect().map(_.toSeq).toSeq
    }
    // shard-merged ADC serve == single-artifact ADC serve, via the CLI
    assert(serveOf("ivfpq-sharded", sharded, "sh") ==
      serveOf("ivfpq", single, "single"))
    // delta ids 102/106 route to shard 2 — only its generation advances
    val shardedRoot = graft.sinks.ArtifactStore.resolve(spark, sharded)
    def genOf(sh: Int) =
      graft.sinks.SegmentStore.pin(spark, shardedRoot).segments(s"shards/$sh")
    val gensBefore = (0 until 4).map(genOf)
    emb(Seq((102L, Seq(0f, 0f, 0f, 9f)), (106L, Seq(0f, 0f, 0f, 9.1f))))
      .write.parquet(s"$base/delta")
    assert(Tool.run(spark, Array("index-update", "--type=ivfpq-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta",
      "--dim=4", "--m=2")).status == "SUCCEEDED")
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != gensBefore(sh), "shard 2 must advance")
      else assert(genOf(sh) == gensBefore(sh), s"shard $sh must be untouched")
    }
    // the disjoint-id guard covers the sharded compressed tier too
    val replay = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=ivfpq-sharded", s"--path=$sharded",
        s"--input=format=parquet file=$base/delta", "--dim=4", "--m=2")))
    assert(replay.getMessage.contains("already in the artifact"))
    // describe: shard grid + both compressed surfaces
    val d = Tool.run(spark, Array("index-describe", "--type=ivfpq-sharded",
      s"--path=$sharded"))
    assert(d.counters("shards") == 4L && d.counters("vectors") == 14L,
      d.counters.toString)
    assert(d.counters("code_rows") == 28L && d.counters("subspaces") == 2L,
      d.counters.toString)
    // streamed serve == batch serve
    val streamOut = s"$base/stream-out"
    assert(Tool.run(spark, Array("index-serve", "--type=ivfpq-sharded",
      "--stream=true", s"--path=$sharded",
      s"--input=format=parquet file=$base/emb",
      s"--output=format=parquet file=$streamOut", "--dim=4", "--m=2",
      "--max-query-id=4", "--nprobe=1", "--topk=3")).status == "SUCCEEDED")
    assert(spark.read.parquet(streamOut).drop("batch")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq ==
      serveOf("ivfpq-sharded", sharded, "sh2"))
    // --rerank-from over the SHARDED artifact: full pool == exact serve
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$base/flat", s"--input=format=parquet file=$base/emb",
      "--centroids=2")).status == "SUCCEEDED")
    // (the flat tier lacks the delta, so compare pre-update state via a
    // fresh sharded build on the same corpus)
    val sharded2 = s"$base/sharded2"
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq-sharded",
      s"--path=$sharded2", s"--input=format=parquet file=$base/emb",
      "--shards=4") ++ knobs).status == "SUCCEEDED")
    // (rank widths differ across tiers — normalize to Long)
    val twoStage = serveOf("ivfpq-sharded", sharded2, "rr",
      s"--rerank-from=$base/flat", "--rerank-pool=50")
      .map(r => (r(0).toString.toLong, r(1).toString.toLong,
        r(2).toString.toLong))
    val exact = serveOf("ivfflat", base + "/flat", "flatx")
      .map(r => (r(0).toString.toLong, r(1).toString.toLong,
        r(2).toString.toLong))
    assert(twoStage.nonEmpty && twoStage == exact,
      s"sharded two-stage != ivfflat exact: $twoStage vs $exact")
    // REMOVE: routed shard only; removed ids stop matching
    val gensBeforeRm = (0 until 4).map(genOf)
    assert(Tool.run(spark, Array("index-remove", "--type=ivfpq-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != gensBeforeRm(sh))
      else assert(genOf(sh) == gensBeforeRm(sh), s"shard $sh must hold")
    }
    val served = serveOf("ivfpq-sharded", sharded, "postrm")
    assert(!served.exists(r => r(2) == 102L || r(2) == 106L),
      s"removed ids still served: $served")
    assert(served == serveOf("ivfpq", single, "single2"))
  }

  test("CLI sharded BM25 tier: build/serve/update/remove/describe; a delta rewrites only its term/doc shards; stats is an O(1) rollup") {
    import spark.implicits._
    val base = tmpDir("idxbm25sharded")
    val corpus = Seq(
      (0L, "spark join hash table scan"), (1L, "row batch filter merge"),
      (2L, "spark join hash data"), (3L, "slow order vector line"),
      (4L, "group part sort query"), (5L, "key value stream window"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$base/corpus")
    val single = s"$base/single"
    val sharded = s"$base/sharded"
    assert(Tool.run(spark, Array("index-build", "--type=bm25",
      s"--path=$single", s"--input=format=parquet file=$base/corpus"))
      .status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=bm25-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/corpus",
      "--shards=4")).status == "SUCCEEDED")
    val probe = Seq((20L, "spark join hash table scan"),
      (21L, "row batch filter merge")).toDF("doc_id", "text")
    probe.write.parquet(s"$base/probe")
    def serveOf(tpe: String, p: String, tag: String,
                extra: String*): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$p", s"--input=format=parquet file=$base/probe",
        s"--output=format=parquet file=$out", "--topk=5") ++ extra)
        .status == "SUCCEEDED")
      spark.read.parquet(out).drop("batch").orderBy("q_id", "rank")
        .collect().map(_.toSeq).toSeq
    }
    // shard-merged ranking == single-artifact ranking, via the CLI
    assert(serveOf("bm25-sharded", sharded, "sh") ==
      serveOf("bm25", single, "single"))
    // an update rewrites ONLY the term shards the delta's vocabulary
    // hashes to and the doc shards its ids route to; the rest hold
    val delta = Seq((10L, "novel content here")).toDF("doc_id", "text")
    delta.write.parquet(s"$base/delta")
    val shardedRoot = graft.sinks.ArtifactStore.resolve(spark, sharded)
    // a root "advances" when the artifact manifest names new segments
    def segsOf(key: String) =
      graft.sinks.SegmentStore.pin(spark, shardedRoot).segments(key)
    def genOf(kind: String, sh: Int) = segsOf(s"$kind/$sh")
    val tBefore = (0 until 4).map(genOf("shards", _))
    val dBefore = (0 until 4).map(genOf("docshards", _))
    val statsBefore = segsOf("stats")
    // expected touched term shards, by the artifact's own routing
    val expectedT = {
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      graft.operators.Bpe.docWords(delta, "doc_id", "text")
        .select(pmod(xxhash64($"word"), lit(4L)).cast("int").as("sh"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(expectedT.nonEmpty && expectedT.size < 4,
      s"fixture must touch a strict subset of term shards: $expectedT")
    assert(Tool.run(spark, Array("index-update", "--type=bm25-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    (0 until 4).foreach { sh =>
      if (expectedT.contains(sh))
        assert(genOf("shards", sh) != tBefore(sh), s"term shard $sh must advance")
      else
        assert(genOf("shards", sh) == tBefore(sh), s"term shard $sh must hold")
      if (sh == 2) assert(genOf("docshards", sh) != dBefore(sh),
        "doc shard 2 (10 mod 4) must advance")
      else assert(genOf("docshards", sh) == dBefore(sh),
        s"doc shard $sh must hold")
    }
    assert(segsOf("stats") != statsBefore, "stats rollup must advance")
    // updated == full rebuild on the union (the q153/q186 exactness)
    corpus.unionByName(delta).write.parquet(s"$base/full")
    val full = s"$base/full-idx"
    assert(Tool.run(spark, Array("index-build", "--type=bm25",
      s"--path=$full", s"--input=format=parquet file=$base/full"))
      .status == "SUCCEEDED")
    assert(serveOf("bm25-sharded", sharded, "sh-upd") ==
      serveOf("bm25", full, "full"))
    // the disjoint-id guard covers the sharded lexical tier
    val replay = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=bm25-sharded", s"--path=$sharded",
        s"--input=format=parquet file=$base/delta")))
    assert(replay.getMessage.contains("already in the artifact"))
    // describe
    val d = Tool.run(spark, Array("index-describe", "--type=bm25-sharded",
      s"--path=$sharded"))
    assert(d.counters("shards") == 4L && d.counters("docs") == 7L,
      d.counters.toString)
    // streamed serve == batch serve
    val streamOut = s"$base/stream-out"
    assert(Tool.run(spark, Array("index-serve", "--type=bm25-sharded",
      "--stream=true", s"--path=$sharded",
      s"--input=format=parquet file=$base/probe",
      s"--output=format=parquet file=$streamOut", "--topk=5"))
      .status == "SUCCEEDED")
    assert(spark.read.parquet(streamOut).drop("batch")
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq ==
      serveOf("bm25-sharded", sharded, "sh2"))
    // REMOVE: deleted doc stops matching; sharded removed == unsharded
    // single-artifact state (same remaining corpus)
    assert(Tool.run(spark, Array("index-remove", "--type=bm25-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    assert(serveOf("bm25-sharded", sharded, "postrm") ==
      serveOf("bm25", single, "single2"))
    val d2 = Tool.run(spark, Array("index-describe", "--type=bm25-sharded",
      s"--path=$sharded"))
    assert(d2.counters("docs") == 6L, d2.counters.toString)
  }

  test("CLI index-gc recurses over shard/bucket roots: a crashed sharded update's orphan generation is swept") {
    import spark.implicits._
    val base = tmpDir("idxgcsharded")
    val emb = (0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + i * 0.01f
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    emb.write.parquet(s"$base/emb")
    val sharded = s"$base/sharded"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/emb",
      "--centroids=2", "--shards=4")).status == "SUCCEEDED")
    // simulate a CRASHED sharded update: a segment lands in shard 1's
    // root but no manifest ever names it
    val base0 = graft.sinks.ArtifactStore.resolve(spark, sharded)
    def live1 = graft.sinks.SegmentStore.pin(spark, base0).segments("shards/1")
    val loaded = live1
    val orphan = s"$base0/shards/1/${graft.sinks.SegmentStore.segName(99L)}"
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$orphan/postings")
    val orphanName = new org.apache.hadoop.fs.Path(orphan).getName
    // the root itself has nothing to sweep; the sweep reaches the shard
    // root (grace-ms=0: the orphan is fresh, which the default staging
    // grace would deliberately spare)
    val r = Tool.run(spark, Array("index-gc", s"--path=$sharded",
      "--grace-ms=0"))
    assert(r.counters("swept_segments") == 1L, r.counters.toString)
    assert(live1 == loaded, "the live shard segments must hold")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)),
      s"orphan $orphanName must be swept")
    // the artifact still serves
    assert(Tool.run(spark, Array("index-serve", "--type=ivfflat-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/emb",
      s"--output=format=parquet file=$base/out",
      "--max-query-id=4", "--nprobe=1", "--topk=3")).status == "SUCCEEDED")
    assert(spark.read.parquet(s"$base/out").count() > 0)
  }

  test("CLI index-gc sweeps the unnamed segment a crashed ivfpq update (S = 1) leaves; the live segment holds") {
    import spark.implicits._
    import graft.sinks.{ArtifactStore, SegmentStore, SegmentedIndex}
    val base = tmpDir("idxgcflat")
    def emb(ids: Range) = ids.map { i =>
        val v = Array(1f, 1f, 1f, 1f); v(i % 4) = 10f + i * 0.01f
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    emb(0 until 12).write.parquet(s"$base/emb")
    val path = s"$base/ivfpq"
    val pq = Seq("--dim=4", "--m=2", "--k=2", "--centroids=2")
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq",
      s"--path=$path", s"--input=format=parquet file=$base/emb") ++ pq)
      .status == "SUCCEEDED")
    val dir = ArtifactStore.resolve(spark, path)
    def live0 = SegmentStore.pin(spark, dir).segments("shards/0")
    def segsOnDisk = new java.io.File(s"$dir/shards/0").list()
      .filter(SegmentStore.isSegName).toSet
    // the update lands its segment, then crashes before its manifest
    // commit: a compaction committing meanwhile makes its CAS refuse it
    val before = segsOnDisk
    val fold = graft.operators.Clustering.IvfPqSharded.delta(
      emb(20 until 22), "vec_id", "embedding", 4, 2)
    val crashed = SegmentedIndex.Fold(fold.tier, s => {
      val w = fold.plan(s)
      w.copy(rows = sc => {
        IndexTool.compact(spark, "ivfpq", path, Map.empty)
        w.rows(sc)
      })
    })
    val e = intercept[IllegalStateException](
      SegmentedIndex.update(spark, path, crashed))
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    // the compaction's segment is live; the one it displaced stays for
    // in-flight readers
    val named = live0
    val orphan = segsOnDisk -- before -- named
    assert(named.size == 1 && orphan.size == 1,
      s"named $named, crashed update's $orphan")
    assert(Tool.run(spark, Array("index-describe", "--type=ivfpq",
      s"--path=$path")).counters("orphan_segments") == 1L)
    val r = Tool.run(spark, Array("index-gc", s"--path=$path",
      "--grace-ms=0"))
    assert(r.counters("swept_segments") == 1L, r.counters.toString)
    assert(live0 == named && segsOnDisk == before ++ named,
      "index-gc must sweep exactly the crashed update's segment")
    assert(Tool.run(spark, Array("index-serve", "--type=ivfpq",
      s"--path=$path", s"--input=format=parquet file=$base/emb",
      s"--output=format=parquet file=$base/out", "--max-query-id=4",
      "--nprobe=1", "--topk=3") ++ pq).status == "SUCCEEDED")
    assert(spark.read.parquet(s"$base/out").count() > 0)
  }

  test("CLI composites accept SHARDED artifacts: --rerank-from and the hybrid dense legs layout-sniff the sharded roots") {
    import spark.implicits._
    val base = tmpDir("idxshcomposite")
    val docs = Seq(
      (0L, "spark join hash table scan"), (1L, "row batch filter merge"),
      (2L, "spark join hash data"), (3L, "slow order vector line"),
      (4L, "group part sort query"), (5L, "key value stream window"),
      (6L, "spark join hash probe"), (7L, "row batch filter plan"))
      .toDF("doc_id", "text")
    val emb = (0L until 8L).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v((i % 2).toInt) = 10f + i * 0.01f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    docs.write.parquet(s"$base/docs")
    emb.write.parquet(s"$base/emb")
    docs.filter($"doc_id" < 2).join(
        emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .write.parquet(s"$base/queries")
    for ((tpe, p, knobs) <- Seq(
        ("bm25", "bm25", Array.empty[String]),
        ("bm25-sharded", "bm25sh", Array("--shards=4")),
        ("ivfflat", "flat", Array("--centroids=2")),
        ("ivfflat-sharded", "flatsh", Array("--centroids=2", "--shards=4")),
        ("ivfpq", "pq", Array("--dim=4", "--m=2", "--k=2", "--centroids=2")),
        ("ivfpq-sharded", "pqsh",
          Array("--dim=4", "--m=2", "--k=2", "--centroids=2", "--shards=4"))))
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$base/$p",
        s"--input=format=parquet file=$base/${if (tpe.startsWith("bm25")) "docs" else "emb"}")
        ++ knobs).status == "SUCCEEDED", tpe)
    def serve(tag: String, in: String, extra: String*): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve",
        s"--input=format=parquet file=$base/$in",
        s"--output=format=parquet file=$out") ++ extra)
        .status == "SUCCEEDED", tag)
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.toSeq).toSeq
    }
    // --rerank-from pointing at the SHARDED flat artifact == unsharded
    val rrUnsharded = serve("rr-u", "emb", "--type=ivfpq",
      s"--path=$base/pq", s"--rerank-from=$base/flat", "--rerank-pool=50",
      "--dim=4", "--m=2", "--max-query-id=4", "--nprobe=1", "--topk=3")
    val rrSharded = serve("rr-s", "emb", "--type=ivfpq",
      s"--path=$base/pq", s"--rerank-from=$base/flatsh", "--rerank-pool=50",
      "--dim=4", "--m=2", "--max-query-id=4", "--nprobe=1", "--topk=3")
    assert(rrSharded.nonEmpty && rrSharded == rrUnsharded,
      "rerank-from must accept the sharded layout with identical results")
    // hybrid dense legs from the sharded artifacts == the unsharded fuse
    val fuseFlat = serve("h-flat", "queries", "--type=hybrid",
      s"--path=$base/bm25", s"--dense-path=$base/flat",
      "--pool=5", "--topk=3", "--nprobe=2")
    assert(serve("h-flatsh", "queries", "--type=hybrid",
      s"--path=$base/bm25", s"--dense-path=$base/flatsh",
      "--pool=5", "--topk=3", "--nprobe=2")
      == fuseFlat, "hybrid ivfflat leg must accept the sharded layout")
    assert(serve("h-pqsh", "queries", "--type=hybrid",
      s"--path=$base/bm25", s"--dense-path=$base/pqsh",
      "--dense-type=ivfpq", s"--rerank-from=$base/flatsh",
      "--rerank-pool=50", "--dim=4", "--m=2", "--pool=5", "--topk=3",
      "--nprobe=2") == fuseFlat,
      "hybrid compressed leg must accept BOTH sharded artifacts " +
        "(full-pool identity == the raw fuse)")
    // ...and the LEXICAL leg sniffs a bm25-sharded root too
    assert(serve("h-bmsh", "queries", "--type=hybrid",
      s"--path=$base/bm25sh", s"--dense-path=$base/flat",
      "--pool=5", "--topk=3", "--nprobe=2")
      == fuseFlat, "hybrid lexical leg must accept the sharded layout")
  }

  test("CLI sharded residual tier: ivfpqr-sharded build/serve/update == unsharded; --filter-col pre-filters the residual cells") {
    import spark.implicits._
    val base = tmpDir("idxpqrsharded")
    val emb = (0L until 12L).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v((i % 2).toInt) = 10f + i * 0.01f
      (i, v.toSeq, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label")
    emb.write.parquet(s"$base/emb")
    val knobs = Array("--dim=4", "--m=2", "--k=2", "--centroids=2",
      "--attr-cols=label")
    for ((tpe, p, extra) <- Seq(
        ("ivfpqr", "single", Array.empty[String]),
        ("ivfpqr-sharded", "sharded", Array("--shards=4"))))
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$base/$p", s"--input=format=parquet file=$base/emb")
        ++ knobs ++ extra).status == "SUCCEEDED", tpe)
    def serveOf(tpe: String, p: String, tag: String,
                extra: String*): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$base/$p", s"--input=format=parquet file=$base/emb",
        s"--output=format=parquet file=$out", "--dim=4", "--m=2",
        "--max-query-id=4", "--nprobe=2", "--topk=3") ++ extra)
        .status == "SUCCEEDED", tag)
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.toSeq).toSeq
    }
    // shard-merged residual serve == single artifact, via the CLI
    assert(serveOf("ivfpqr-sharded", "sharded", "sh") ==
      serveOf("ivfpqr", "single", "single"))
    // filtered residual serve pre-filters on BOTH layouts
    val f1 = serveOf("ivfpqr", "single", "f1",
      "--filter-col=label", "--filter-val=0")
    val f2 = serveOf("ivfpqr-sharded", "sharded", "f2",
      "--filter-col=label", "--filter-val=0")
    assert(f1.nonEmpty && f1 == f2, s"filtered sharded != unsharded: $f2")
    assert(f1.forall(r => r(2).asInstanceOf[Long] % 3 == 0),
      s"filtered residual serve leaked non-matching rows: $f1")
    // an update routed to shard 2 advances ONLY that shard; serve == the
    // updated unsharded artifact
    val shardedRoot = graft.sinks.ArtifactStore.resolve(spark, s"$base/sharded")
    def genOf(sh: Int) =
      graft.sinks.SegmentStore.pin(spark, shardedRoot).segments(s"shards/$sh")
    val before = (0 until 4).map(genOf)
    Seq((102L, Seq(0f, 0f, 0f, 9f), 0), (106L, Seq(0f, 0f, 0f, 9.1f), 1))
      .toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label".cast("int").as("label"))
      .write.parquet(s"$base/delta")
    for ((tpe, p) <- Seq(("ivfpqr", "single"), ("ivfpqr-sharded", "sharded")))
      assert(Tool.run(spark, Array("index-update", s"--type=$tpe",
        s"--path=$base/$p", s"--input=format=parquet file=$base/delta",
        "--dim=4", "--m=2")).status == "SUCCEEDED", tpe)
    (0 until 4).foreach { sh =>
      if (sh == 2) assert(genOf(sh) != before(sh), "shard 2 must advance")
      else assert(genOf(sh) == before(sh), s"shard $sh must be untouched")
    }
    assert(serveOf("ivfpqr-sharded", "sharded", "sh-upd") ==
      serveOf("ivfpqr", "single", "single-upd"))
  }

  test("CLI filtered ANN: --attr-cols build materializes metadata in the postings; --filter-col serve pre-filters; update carries attrs") {
    import spark.implicits._
    val base = tmpDir("idxfiltered")
    val emb = (0L until 12L).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v((i % 2).toInt) = 10f + i * 0.01f
      (i, v.toSeq, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label")
    emb.write.parquet(s"$base/emb")
    val path = s"$base/ivf"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$path", s"--input=format=parquet file=$base/emb",
      "--centroids=2", "--attr-cols=label")).status == "SUCCEEDED")
    def serveF(extra: String*): Seq[(Long, Long)] = {
      val out = s"$base/out-${extra.hashCode.abs}"
      assert(Tool.run(spark, Array("index-serve", "--type=ivfflat",
        s"--path=$path", s"--input=format=parquet file=$base/emb",
        s"--output=format=parquet file=$out",
        "--max-query-id=2", "--nprobe=2", "--topk=4") ++ extra)
        .status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
    }
    // every filtered hit satisfies the predicate; unfiltered does not
    val filtered = serveF("--filter-col=label", "--filter-val=0")
    assert(filtered.nonEmpty && filtered.forall(_._2 % 3 == 0), filtered.toString)
    assert(!serveF().forall(_._2 % 3 == 0))
    // an update on the attributed artifact carries the attr column, and
    // the filtered serve sees a matching delta vector
    emb.limit(0).unionByName(Seq((102L, Seq(10.5f, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
        $"label")).write.parquet(s"$base/delta")
    assert(Tool.run(spark, Array("index-update", "--type=ivfflat",
      s"--path=$path", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    assert(serveF("--filter-col=label", "--filter-val=0", "--topk=12")
      .exists(_._2 == 102L), "updated matching vector must be servable")
    // refusals: unknown attr column names the available ones; a filter
    // against an attr-less artifact points at the rebuild
    val bad = intercept[IllegalArgumentException](
      serveF("--filter-col=nope", "--filter-val=0"))
    assert(bad.getMessage.contains("label"), bad.getMessage)
    val plain = s"$base/plain"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$plain", s"--input=format=parquet file=$base/emb",
      "--centroids=2")).status == "SUCCEEDED")
    val noAttr = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-serve", "--type=ivfflat", s"--path=$plain",
        s"--input=format=parquet file=$base/emb",
        s"--output=format=parquet file=$base/z",
        "--filter-col=label", "--filter-val=0")))
    assert(noAttr.getMessage.contains("attrCols"), noAttr.getMessage)
    // an unparseable value for the attribute's type fails LOUDLY — a
    // cast would yield NULL and silently serve zero rows
    val badVal = intercept[IllegalArgumentException](
      serveF("--filter-col=label", "--filter-val=en"))
    assert(badVal.getMessage.contains("does not parse") &&
      badVal.getMessage.contains("label"), badVal.getMessage)
    // the SHARDED verbs take the same flags: --attr-cols at build rides
    // every shard surface, --filter-col at serve composes per shard —
    // and the sharded filtered serve equals the unsharded one exactly
    val shPath = s"$base/ivfsh"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat-sharded",
      s"--path=$shPath", s"--input=format=parquet file=$base/emb",
      "--centroids=2", "--shards=4", "--attr-cols=label"))
      .status == "SUCCEEDED")
    def serveSh(tpe: String, p: String, extra: String*): Seq[(Long, Long)] = {
      val out = s"$base/out-sh-${(tpe +: extra).hashCode.abs}"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$p", s"--input=format=parquet file=$base/emb",
        s"--output=format=parquet file=$out", "--dim=4", "--m=2",
        "--max-query-id=2", "--nprobe=2", "--topk=4") ++ extra)
        .status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
    }
    assert(serveSh("ivfflat-sharded", shPath,
      "--filter-col=label", "--filter-val=0") == filtered,
      "sharded filtered serve must equal the unsharded one")
    // and on the sharded COMPRESSED tier the cells predicate pre-filters
    val pqShPath = s"$base/pqsh"
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq-sharded",
      s"--path=$pqShPath", s"--input=format=parquet file=$base/emb",
      "--dim=4", "--m=2", "--k=2", "--centroids=2", "--shards=4",
      "--attr-cols=label")).status == "SUCCEEDED")
    val pqFiltered = serveSh("ivfpq-sharded", pqShPath,
      "--filter-col=label", "--filter-val=0")
    assert(pqFiltered.nonEmpty && pqFiltered.forall(_._2 % 3 == 0),
      pqFiltered.toString)
    assert(!serveSh("ivfpq-sharded", pqShPath).forall(_._2 % 3 == 0))
  }

  test("CLI hybrid serve: reciprocal-rank fusion of the persisted bm25 + ivfflat artifacts; streamed == batch; composite refusals") {
    import spark.implicits._
    val base = tmpDir("idxhybrid")
    // one id space, both representations: docs for the lexical leg,
    // axis-blob embeddings for the dense leg
    val docs = Seq(
      (0L, "spark join hash table scan"), (1L, "row batch filter merge"),
      (2L, "spark join hash data"), (3L, "slow order vector line"),
      (4L, "group part sort query"), (5L, "spark join hash table scan"),
      (6L, "key value stream window"), (7L, "row batch filter plan"))
      .toDF("doc_id", "text")
    val emb = (0L until 8L).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v((i % 2).toInt) = 10f + i * 0.01f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    docs.write.parquet(s"$base/docs")
    emb.write.parquet(s"$base/emb")
    assert(Tool.run(spark, Array("index-build", "--type=bm25",
      s"--path=$base/bm25", s"--input=format=parquet file=$base/docs"))
      .status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$base/ivf", s"--input=format=parquet file=$base/emb",
      "--centroids=2")).status == "SUCCEEDED")
    // the query batch carries BOTH representations per row
    docs.filter($"doc_id" < 2).join(
        emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .write.parquet(s"$base/queries")
    val out = s"$base/fused"
    assert(Tool.run(spark, Array("index-serve", "--type=hybrid",
      s"--path=$base/bm25", s"--dense-path=$base/ivf",
      s"--input=format=parquet file=$base/queries",
      s"--output=format=parquet file=$out",
      "--pool=5", "--topk=3", "--nprobe=2")).status == "SUCCEEDED")
    val fused = spark.read.parquet(out).orderBy("q_id", "rank").collect()
      .map(_.toSeq).toSeq
    assert(fused.nonEmpty &&
      fused.map(_.head.asInstanceOf[Long]).distinct.sorted == Seq(0L, 1L))
    // equals the library-side fusion of the two artifact serves
    val bmIdx = graft.operators.Retrieval.loadBm25Index(spark, s"$base/bm25")
    val qterms = graft.operators.Bpe.docWords(
        docs.filter($"doc_id" < 2), "doc_id", "text")
      .select($"doc_id".as("q_id"), $"word".as("term")).distinct()
    val lex = graft.operators.Retrieval.bm25Ranked(qterms, bmIdx,
        1.2, 0.75, 1048576L)
      .where($"rank" <= 5)
      .select($"q_id", $"doc_id", $"rank".as("lex_rank"))
    val dense = graft.operators.Clustering.serveIvfFlat(
        graft.sinks.SegmentedIndex.load(spark,
          graft.operators.Clustering.IvfFlatSharded, s"$base/ivf"),
        emb.filter($"vec_id" < 2), "vec_id", "embedding",
        Long.MaxValue, 2, 5)
      .select($"q_id", $"n_id".as("doc_id"),
        $"rank".cast("long").as("dense_rank"))
    val expected = graft.operators.Retrieval.rrfFuse(lex, dense, 60, 3)
      .orderBy($"q_id", $"rank").collect().map(_.toSeq).toSeq
    assert(fused == expected, s"cli=$fused lib=$expected")
    // fusion beats either leg alone on this fixture's mixed signal: doc 0
    // and doc 5 tie lexically (identical text), the dense leg breaks the
    // tie by geometry — the fused top-1 for query 0 is the doc that wins
    // BOTH legs
    assert(fused.head(2) == 2L, s"fused head: ${fused.head}")
    // STREAMED fuse == batch fuse
    val streamOut = s"$base/fused-stream"
    assert(Tool.run(spark, Array("index-serve", "--type=hybrid",
      "--stream=true", s"--path=$base/bm25", s"--dense-path=$base/ivf",
      s"--input=format=parquet file=$base/queries",
      s"--output=format=parquet file=$streamOut",
      "--pool=5", "--topk=3", "--nprobe=2")).status == "SUCCEEDED")
    assert(spark.read.parquet(streamOut).drop("batch")
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq == fused)
    // the PRODUCTION dense leg: --dense-type=ivfpq serves the fusion's
    // dense shortlist from the compressed artifact (ADC shortlist +
    // exact rerank from --rerank-from's raw postings). With the rerank
    // pool covering every probed candidate, the leg IS the exact
    // ivfflat serve — the fused output must equal the default-leg fuse
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq",
      s"--path=$base/pq", s"--input=format=parquet file=$base/emb",
      "--dim=4", "--m=2", "--k=2", "--centroids=2")).status == "SUCCEEDED")
    val pqOut = s"$base/fused-pq"
    assert(Tool.run(spark, Array("index-serve", "--type=hybrid",
      s"--path=$base/bm25", s"--dense-path=$base/pq",
      "--dense-type=ivfpq", s"--rerank-from=$base/ivf",
      "--rerank-pool=50", "--dim=4", "--m=2",
      s"--input=format=parquet file=$base/queries",
      s"--output=format=parquet file=$pqOut",
      "--pool=5", "--topk=3", "--nprobe=2")).status == "SUCCEEDED")
    assert(spark.read.parquet(pqOut).orderBy("q_id", "rank").collect()
      .map(_.toSeq).toSeq == fused,
      "full-pool compressed dense leg must reproduce the raw-vector fuse")
    // --dense-type=ivfpq without the rerank source refuses loudly
    val noRerank = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-serve", "--type=hybrid", s"--path=$base/bm25",
        s"--dense-path=$base/pq", "--dense-type=ivfpq",
        s"--input=format=parquet file=$base/queries",
        s"--output=format=parquet file=$base/zz")))
    assert(noRerank.getMessage.contains("--rerank-from"), noRerank.getMessage)
    // FILTERED dense leg: --filter-col composes into the dense probe
    // (every dense candidate satisfies the predicate; the lexical leg
    // is unchanged)
    val embL = emb.withColumn("label", ($"vec_id" % 2).cast("int"))
    embL.write.parquet(s"$base/embL")
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$base/ivfL", s"--input=format=parquet file=$base/embL",
      "--centroids=2", "--attr-cols=label")).status == "SUCCEEDED")
    val fOut = s"$base/fused-filtered"
    assert(Tool.run(spark, Array("index-serve", "--type=hybrid",
      s"--path=$base/bm25", s"--dense-path=$base/ivfL",
      "--filter-col=label", "--filter-val=0",
      s"--input=format=parquet file=$base/queries",
      s"--output=format=parquet file=$fOut",
      "--pool=5", "--topk=6", "--nprobe=2")).status == "SUCCEEDED")
    val fusedF = spark.read.parquet(fOut).collect()
    // rows ranked by the dense leg all satisfy label=0 (even doc ids);
    // lexical-only rows (dense_rank null) may be anything
    val denseRanked = fusedF.filter(!_.isNullAt(4)).map(_.getLong(2))
    assert(denseRanked.nonEmpty && denseRanked.forall(_ % 2 == 0),
      s"filtered dense leg leaked: ${denseRanked.toSeq}")
    // composite refusals: no build/describe surface of its own, and the
    // serve names the missing --dense-path
    val b = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-build", "--type=hybrid", s"--path=$base/x",
        s"--input=format=parquet file=$base/docs")))
    assert(b.getMessage.contains("SERVE-time composite"), b.getMessage)
    val d = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-describe", "--type=hybrid", s"--path=$base/bm25")))
    assert(d.getMessage.contains("separately"), d.getMessage)
    val m = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-serve", "--type=hybrid", s"--path=$base/bm25",
        s"--input=format=parquet file=$base/queries",
        s"--output=format=parquet file=$base/y")))
    assert(m.getMessage.contains("--dense-path"), m.getMessage)
    // PAIRED-ARTIFACT parity: the two hybrid legs hold the same id set
    // now, and describe --pair confirms it; after a ONE-SIDED update
    // (a doc indexed lexically but never embedded) the parity check
    // detects the drift a fused serve would otherwise degrade on
    // silently
    val inSync = Tool.run(spark, Array("index-describe", "--type=bm25",
      s"--path=$base/bm25", s"--pair=$base/ivf", "--pair-type=ivfflat"))
    assert(inSync.counters("pair_in_sync") == 1L &&
      inSync.counters("pair_only_here") == 0L &&
      inSync.counters("pair_only_there") == 0L, inSync.counters.toString)
    Seq((8L, "fresh crawl document text"))
      .toDF("doc_id", "text").write.parquet(s"$base/lexdelta")
    assert(Tool.run(spark, Array("index-update", "--type=bm25",
      s"--path=$base/bm25", s"--input=format=parquet file=$base/lexdelta"))
      .status == "SUCCEEDED")
    val drifted = Tool.run(spark, Array("index-describe", "--type=bm25",
      s"--path=$base/bm25", s"--pair=$base/ivf", "--pair-type=ivfflat"))
    assert(drifted.counters("pair_in_sync") == 0L &&
      drifted.counters("pair_only_here") == 1L &&
      drifted.counters("pair_only_there") == 0L, drifted.counters.toString)
    // --pair without --pair-type refuses loudly
    val noPt = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-describe", "--type=bm25", s"--path=$base/bm25",
        s"--pair=$base/ivf")))
    assert(noPt.getMessage.contains("--pair-type"), noPt.getMessage)
  }

  test("CLI index-rebuild: describe-driven drift repair — refuses below --min-skew, retrains + CAS-swaps above it") {
    import spark.implicits._
    val base = tmpDir("idxrebuild")
    def emb(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("vec_id", "embedding")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // train on blobs 0/1; the DRIFTED delta is a third blob the frozen
    // codebook has no cell for
    val trainSlice = emb((0 until 8).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + i * 0.01f
      (i.toLong, v.toSeq)
    })
    trainSlice.write.parquet(s"$base/emb")
    val path = s"$base/ivfflat"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$path", s"--input=format=parquet file=$base/emb",
      "--centroids=2")).status == "SUCCEEDED")
    emb((100 until 112).map(i =>
      (i.toLong, Seq(0f, 0f, 10f + i * 0.001f, 0f))))
      .write.parquet(s"$base/delta")
    assert(Tool.run(spark, Array("index-update", "--type=ivfflat",
      s"--path=$path", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    // the drifted delta piled into one cell: skew is now well above 1.3,
    // so a --min-skew=99 rebuild refuses (naming the flag), and the
    // artifact still serves
    val refuse = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-rebuild", "--type=ivfflat", s"--path=$path",
        "--centroids=3", "--min-skew=99")))
    assert(refuse.getMessage.contains("--min-skew") &&
      refuse.getMessage.contains("--force"), refuse.getMessage)
    // an OMITTED --centroids defaults to the index's own codebook size
    // (never a fixed literal that silently reshapes the cell grid)
    val rDefault = Tool.run(spark, Array("index-rebuild", "--type=ivfflat",
      s"--path=$path", "--force=true"))
    assert(rDefault.counters("centroids") == 2L, rDefault.counters.toString)
    val genBefore = graft.sinks.ArtifactStore.currentGen(spark, path)
    val r = Tool.run(spark, Array("index-rebuild", "--type=ivfflat",
      s"--path=$path", "--centroids=3", "--min-skew=1.3"))
    assert(r.status == "SUCCEEDED" && r.counters("skew_x100_before") >= 130L,
      r.counters.toString)
    assert(graft.sinks.ArtifactStore.currentGen(spark, path) != genBefore,
      "rebuild must commit a new generation")
    // rebuilt == fresh build on the union corpus (same centroids/iters):
    // the retrained codebook separates the third blob into its own cell
    val d = Tool.run(spark, Array("index-describe", "--type=ivfflat",
      s"--path=$path"))
    assert(d.counters("centroids") == 3L && d.counters("vectors") == 20L,
      d.counters.toString)
    assert(d.counters("occupancy_skew_x100") < 200L, d.counters.toString)
    // only the flat tiers rebuild; composed tiers re-fit from the corpus
    val bad = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-rebuild", "--type=ivfpq", s"--path=$path")))
    assert(bad.getMessage.contains("index-build"), bad.getMessage)
    // the SHARDED artifact — where drift actually accumulates (it lives
    // longest) — rebuilds the same way: retrain from the shard union,
    // re-persist the sharded layout under ONE root generation flip,
    // served search == the unsharded rebuilt artifact's
    val shPath = s"$base/sharded"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat-sharded",
      s"--path=$shPath", s"--input=format=parquet file=$base/emb",
      "--centroids=2", "--shards=4")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-update", "--type=ivfflat-sharded",
      s"--path=$shPath", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    val shGenBefore = graft.sinks.ArtifactStore.currentGen(spark, shPath)
    val rs = Tool.run(spark, Array("index-rebuild",
      "--type=ivfflat-sharded", s"--path=$shPath", "--centroids=3",
      "--min-skew=1.3"))
    assert(rs.status == "SUCCEEDED" && rs.counters("centroids") == 3L,
      rs.counters.toString)
    assert(graft.sinks.ArtifactStore.currentGen(spark, shPath) != shGenBefore,
      "sharded rebuild must commit a new root generation")
    val ds = Tool.run(spark, Array("index-describe",
      "--type=ivfflat-sharded", s"--path=$shPath"))
    assert(ds.counters("centroids") == 3L && ds.counters("vectors") == 20L &&
      ds.counters("shards") == 4L, ds.counters.toString)
    // rebuilt sharded serve == rebuilt unsharded serve (same corpus,
    // same retrain) — the q185 equality through the CLI
    def serveOut(tpe: String, p: String, tag: String): Seq[Seq[Any]] = {
      val out = s"$base/rebserve-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$p", s"--input=format=parquet file=$base/emb",
        s"--output=format=parquet file=$out",
        "--max-query-id=4", "--nprobe=1", "--topk=3")).status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.toSeq).toSeq
    }
    assert(serveOut("ivfflat-sharded", shPath, "sh") ==
      serveOut("ivfflat", path, "flat"))
  }

  test("CLI flat-tier serve gates: O(corpus) serves refuse past --max-flat-rows, naming the sublinear tier") {
    import spark.implicits._
    val base = tmpDir("idxflatgate")
    val emb = (0L until 10L).map { i =>
      (i, (0 until 4).map(j => if (j == (i % 4).toInt) 10f else 0.1f))
    }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    emb.write.parquet(s"$base/emb")
    val in = s"format=parquet file=$base/emb"
    // sq (flat 8-bit scan), pq (flat ADC scan), ivf (codebook-only:
    // re-assigns the input corpus per batch) — each refuses past the
    // bound and names its sublinear alternative
    for ((tpe, alt, knobs) <- Seq(
        ("sq", "ivfsq", Seq("--dim=4")),
        ("pq", "ivfpq", Seq("--dim=4", "--m=2", "--k=2")),
        ("ivf", "ivfflat", Seq("--centroids=2")))) {
      val path = s"$base/$tpe"
      assert(Tool.run(spark, Array("index-build", s"--type=$tpe",
        s"--path=$path", s"--input=$in") ++ knobs).status == "SUCCEEDED")
      val e = intercept[IllegalArgumentException](Tool.run(spark,
        Array("index-serve", s"--type=$tpe", s"--path=$path",
          s"--input=$in", s"--output=format=parquet file=$base/out-$tpe",
          "--max-flat-rows=3") ++ knobs))
      assert(e.getMessage.contains("EXHAUSTIVE") &&
        e.getMessage.contains(alt) &&
        e.getMessage.contains("--max-flat-rows"), s"$tpe: ${e.getMessage}")
      // under the bound (default), the serve proceeds — no hash change
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$path", s"--input=$in",
        s"--output=format=parquet file=$base/ok-$tpe") ++ knobs)
        .status == "SUCCEEDED")
      assert(spark.read.parquet(s"$base/ok-$tpe").count() > 0)
    }
  }

  test("CLI sharded LSH tier: build/serve/update/remove/describe; a delta rewrites only its bucket shards") {
    import spark.implicits._
    val base = tmpDir("idxlshsharded")
    val corpus = Seq(
      (0L, "spark join hash table scan batch"),
      (1L, "row batch filter merge stage"),
      (2L, "slow order vector line agg"),
      (3L, "group part sort query plan"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$base/corpus")
    val single = s"$base/single"
    val sharded = s"$base/sharded"
    assert(Tool.run(spark, Array("index-build", "--type=lsh",
      s"--path=$single", s"--input=format=parquet file=$base/corpus",
      "--shingle-n=2")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=lsh-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/corpus",
      "--shingle-n=2", "--shards=8")).status == "SUCCEEDED")
    val probe = Seq((20L, "spark join hash table scan batch"),
      (21L, "completely novel content here today")).toDF("doc_id", "text")
    probe.write.parquet(s"$base/probe")
    def serveOf(tpe: String, p: String, tag: String): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$p", s"--input=format=parquet file=$base/probe",
        s"--output=format=parquet file=$out", "--shingle-n=2",
        "--threshold=0.5")).status == "SUCCEEDED")
      spark.read.parquet(out).drop("batch").orderBy("new_doc", "dup_of")
        .collect().map(_.toSeq).toSeq
    }
    // shard-unioned signature set == single-artifact set, via the CLI
    val singleServe = serveOf("lsh", single, "single")
    assert(singleServe.nonEmpty)
    assert(serveOf("lsh-sharded", sharded, "sh") == singleServe)
    // an update rewrites ONLY the shards the delta's (band, bkey)
    // buckets hash to; the rest hold their generations
    val delta = Seq((10L, "completely novel content here today"))
      .toDF("doc_id", "text")
    delta.write.parquet(s"$base/delta")
    val shardedRoot = graft.sinks.ArtifactStore.resolve(spark, sharded)
    // a root "advances" when the artifact manifest names new segments
    def genOf(sh: Int) =
      graft.sinks.SegmentStore.pin(spark, shardedRoot).segments(s"shards/$sh")
    val before = (0 until 8).map(genOf)
    // expected touched shards, by the artifact's own routing
    val expected = {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      graft.operators.Dedup.bandedSignatures(
          delta.select($"doc_id".as("id"),
            columnOf(graft.plans.WordShingleHashes(
              expressionOf($"text"), 2, 7)).as("ghash")), 28, 4)
        .select(pmod(xxhash64($"band", $"bkey"), lit(8L)).cast("int").as("sh"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(expected.nonEmpty && expected.size < 8,
      s"fixture must touch a strict subset of shards: $expected")
    assert(Tool.run(spark, Array("index-update", "--type=lsh-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta",
      "--shingle-n=2")).status == "SUCCEEDED")
    (0 until 8).foreach { sh =>
      if (expected.contains(sh))
        assert(genOf(sh) != before(sh), s"shard $sh must advance")
      else assert(genOf(sh) == before(sh), s"shard $sh must hold")
    }
    // updated == full rebuild on the union; the probe's near-copy of
    // delta doc 10 only matches through the folded-in delta
    corpus.unionByName(delta).write.parquet(s"$base/full")
    val full = s"$base/full-idx"
    assert(Tool.run(spark, Array("index-build", "--type=lsh",
      s"--path=$full", s"--input=format=parquet file=$base/full",
      "--shingle-n=2")).status == "SUCCEEDED")
    val upd = serveOf("lsh-sharded", sharded, "sh-upd")
    assert(upd == serveOf("lsh", full, "full"))
    assert(upd.exists(_.contains(10L)), s"delta doc invisible: $upd")
    val d = Tool.run(spark, Array("index-describe", "--type=lsh-sharded",
      s"--path=$sharded"))
    assert(d.counters("shards") == 8L && d.counters("docs") == 5L,
      d.counters.toString)
    // streamed serve == batch serve
    val streamOut = s"$base/stream-out"
    assert(Tool.run(spark, Array("index-serve", "--type=lsh-sharded",
      "--stream=true", s"--path=$sharded",
      s"--input=format=parquet file=$base/probe",
      s"--output=format=parquet file=$streamOut", "--shingle-n=2",
      "--threshold=0.5")).status == "SUCCEEDED")
    assert(spark.read.parquet(streamOut).drop("batch")
        .orderBy("new_doc", "dup_of").collect().map(_.toSeq).toSeq ==
      serveOf("lsh-sharded", sharded, "sh2"))
    // REMOVE: the deleted doc stops matching — back to the pre-update
    // serve exactly (remove == rebuild on the remaining corpus)
    assert(Tool.run(spark, Array("index-remove", "--type=lsh-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    assert(serveOf("lsh-sharded", sharded, "postrm") == singleServe)
  }

  test("CLI sharded CDC tier: build/serve/update/remove/describe; a delta rewrites only its chunk-hash shards") {
    import spark.implicits._
    val base = tmpDir("idxcdcsharded")
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "pack my box with five dozen liquor jugs for the long trip"),
      (2L, "how vexingly quick daft zebras jump over fences at night"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$base/corpus")
    val single = s"$base/single"
    val sharded = s"$base/sharded"
    assert(Tool.run(spark, Array("index-build", "--type=cdc",
      s"--path=$single", s"--input=format=parquet file=$base/corpus",
      "--avg-mask=8")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=cdc-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/corpus",
      "--avg-mask=8", "--shards=8")).status == "SUCCEEDED")
    val probe = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    probe.write.parquet(s"$base/probe")
    def serveOf(tpe: String, p: String, tag: String): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$p", s"--input=format=parquet file=$base/probe",
        s"--output=format=parquet file=$out", "--avg-mask=8"))
        .status == "SUCCEEDED")
      spark.read.parquet(out).drop("batch").orderBy("new_doc")
        .collect().map(_.toSeq).toSeq
    }
    val singleServe = serveOf("cdc", single, "single")
    assert(singleServe.nonEmpty)
    assert(serveOf("cdc-sharded", sharded, "sh") == singleServe)
    // a SHORT delta doc (under the rolling window: one chunk) routes to
    // exactly one chunk-hash shard; the other seven hold
    val delta = Seq((10L, "zzz qqq")).toDF("doc_id", "text")
    delta.write.parquet(s"$base/delta")
    val shardedRoot = graft.sinks.ArtifactStore.resolve(spark, sharded)
    // a root "advances" when the artifact manifest names new segments
    def genOf(sh: Int) =
      graft.sinks.SegmentStore.pin(spark, shardedRoot).segments(s"shards/$sh")
    val before = (0 until 8).map(genOf)
    val expected = {
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      graft.operators.Dedup.cdcChunks(delta, "doc_id", "text", 8)
        .select(pmod(xxhash64($"h"), lit(8L)).cast("int").as("sh"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
    }
    assert(expected.size == 1, s"one-chunk fixture: $expected")
    assert(Tool.run(spark, Array("index-update", "--type=cdc-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta",
      "--avg-mask=8")).status == "SUCCEEDED")
    (0 until 8).foreach { sh =>
      if (expected.contains(sh))
        assert(genOf(sh) != before(sh), s"shard $sh must advance")
      else assert(genOf(sh) == before(sh), s"shard $sh must hold")
    }
    // updated == full rebuild on the union
    corpus.unionByName(delta).write.parquet(s"$base/full")
    val full = s"$base/full-idx"
    assert(Tool.run(spark, Array("index-build", "--type=cdc",
      s"--path=$full", s"--input=format=parquet file=$base/full",
      "--avg-mask=8")).status == "SUCCEEDED")
    assert(serveOf("cdc-sharded", sharded, "sh-upd") ==
      serveOf("cdc", full, "full"))
    val d = Tool.run(spark, Array("index-describe", "--type=cdc-sharded",
      s"--path=$sharded"))
    assert(d.counters("shards") == 8L && d.counters("docs") == 4L,
      d.counters.toString)
    // REMOVE: back to the pre-update serve exactly
    assert(Tool.run(spark, Array("index-remove", "--type=cdc-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/delta"))
      .status == "SUCCEEDED")
    assert(serveOf("cdc-sharded", sharded, "postrm") == singleServe)
    val d2 = Tool.run(spark, Array("index-describe", "--type=cdc-sharded",
      s"--path=$sharded"))
    assert(d2.counters("docs") == 3L, d2.counters.toString)
  }

  test("CLI sharded SemDeDup tier: build/serve/update/remove; adds and removes rewrite only their vid shards") {
    import spark.implicits._
    val base = tmpDir("idxsemsharded")
    def emb(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // axes 0 and 1 only — axis 2 stays free for the week-1/2 deltas, so
    // the week-2 copy can ONLY prune against the folded week-1 row
    val corpus = emb((0 until 12).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + i * 0.01f
      (i.toLong, v.toSeq)
    })
    corpus.write.parquet(s"$base/cemb")
    val single = s"$base/single"
    val sharded = s"$base/sharded"
    val buildFlags = Seq("--coarse-k=2", "--target-rows=4", "--cluster-cap=64")
    assert(Tool.run(spark, Array("index-build", "--type=semdedup",
      s"--path=$single", s"--input=format=parquet file=$base/cemb")
      ++ buildFlags).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=semdedup-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/cemb",
      "--shards=4") ++ buildFlags).status == "SUCCEEDED")
    // week-1 delta vec 300 (axis 2), week-2 probe 400 = its near-copy
    emb(Seq((300L, Seq(0f, 0f, 10.3f, 0f)))).write.parquet(s"$base/w1emb")
    emb(Seq((400L, Seq(0f, 0f, 10.31f, 0f)))).write.parquet(s"$base/w2emb")
    def serveOf(tpe: String, p: String, tag: String): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$p", s"--input=format=parquet file=$base/w2emb",
        s"--output=format=parquet file=$out", "--threshold=0.9"))
        .status == "SUCCEEDED")
      spark.read.parquet(out).drop("batch").orderBy("pruned")
        .collect().map(_.toSeq).toSeq
    }
    // serve parity before any update (the delta screen over the same fit
    // corpus; seeds/lanes are deterministic, so outputs match exactly)
    assert(serveOf("semdedup-sharded", sharded, "sh") ==
      serveOf("semdedup", single, "single"))
    val shardedRoot = graft.sinks.ArtifactStore.resolve(spark, sharded)
    // a root "advances" when the artifact manifest names new segments
    def genOf(sh: Int) =
      graft.sinks.SegmentStore.pin(spark, shardedRoot).segments(s"shards/$sh")
    val before = (0 until 4).map(genOf)
    // vid 300 mod 4 == 0: only assign shard 0 rewrites on the add
    assert(Tool.run(spark, Array("index-update", "--type=semdedup-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/w1emb"))
      .status == "SUCCEEDED")
    (0 until 4).foreach { sh =>
      if (sh == 0) assert(genOf(sh) != before(sh), "shard 0 must advance")
      else assert(genOf(sh) == before(sh), s"shard $sh must hold")
    }
    // the week-2 near-copy now prunes against its week-1 keeper
    val after = serveOf("semdedup-sharded", sharded, "sh-upd")
    assert(after.exists(r => r(1) == 400L && r(2) == 300L),
      s"week-2 copy must prune against the folded week-1 row: $after")
    // REMOVE routes by vid too: only shard 0 rewrites, and the pair
    // disappears (right-to-be-forgotten on the semantic tier)
    val beforeRm = (0 until 4).map(genOf)
    assert(Tool.run(spark, Array("index-remove", "--type=semdedup-sharded",
      s"--path=$sharded", s"--input=format=parquet file=$base/w1emb"))
      .status == "SUCCEEDED")
    (0 until 4).foreach { sh =>
      if (sh == 0) assert(genOf(sh) != beforeRm(sh), "shard 0 must advance")
      else assert(genOf(sh) == beforeRm(sh), s"shard $sh must hold")
    }
    assert(!serveOf("semdedup-sharded", sharded, "postrm")
      .exists(_.contains(400L)))
    val d = Tool.run(spark, Array("index-describe",
      "--type=semdedup-sharded", s"--path=$sharded"))
    assert(d.counters("shards") == 4L && d.counters("assigned_rows") == 12L,
      d.counters.toString)
  }

  test("CLI bucketed table lifecycle: hfile buckets= loads the bucketed layout; format=kiji routes through the feed; compact folds it") {
    import spark.implicits._
    val base = tmpDir("clibucketed")
    val layoutJson =
      """{"name": "bkt_src", "keys_format": {"encoding": "RAW"},
        | "locality_groups": [{"name": "default",
        |   "compression_type": "SNAPPY", "families": [{"name": "f"}]}]}"""
        .stripMargin
    val layoutFile = s"$base/layout.json"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(layoutFile), layoutJson)
    import org.apache.spark.sql.functions.lit
    def stage(dir: String, rows: Seq[(Long, Double)], ts: Long): Unit =
      new graft.table.EntityTable(spark, dir,
        graft.table.LayoutJson.parse(layoutJson)).bulkLoad(
        rows.toDF("entity_id", "value").select($"entity_id",
          lit("f").as("family"), lit("v").as("qualifier"),
          lit(ts).as("ts"), $"value"), numPartitions = 4)
    val src = s"$base/src"
    val deltaSrc = s"$base/delta"
    val dst = s"$base/dst"
    stage(src, (0 until 20).map(i => (i.toLong, i * 1.0)), 0L)
    stage(deltaSrc, Seq((3L, 300.0), (7L, 700.0)), 1L)
    // CLI bucketed bulk-load through a pivot job's hfile output
    assert(Tool.run(spark, Array("pivot",
      "--pivoter=graft.queries.CliCellPivoter",
      s"--input=format=kiji table=$src layout=$layoutFile",
      s"--output=format=hfile table=$dst splits=4 buckets=4"))
      .status == "SUCCEEDED")
    val table = new graft.table.EntityTable(spark, dst,
      graft.table.TableLayout(dst, Seq.empty))
    def vals: Map[Long, Double] = graft.sources.Formats
      .read(spark, s"format=kiji table=$dst")
      .select($"entity_id", $"value".cast("double")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals(3L) == 3.0 && vals.size == 20)
    // format=kiji on the BUCKETED table routes through the change feed
    // (a root-generation file would be invisible to the manifest read)
    assert(Tool.run(spark, Array("pivot",
      "--pivoter=graft.queries.CliCellPivoter",
      s"--input=format=kiji table=$deltaSrc layout=$layoutFile",
      s"--output=format=kiji table=$dst")).status == "SUCCEEDED")
    assert(table.hasPendingChanges,
      "bucketed direct write must land in the merge-on-read feed")
    assert(vals(3L) == 300.0 && vals(7L) == 700.0 && vals.size == 20,
      s"feed-routed puts invisible: $vals")
    // compact folds the feed into the routed bucket generations
    assert(Tool.run(spark, Array("compact", s"--table=$dst",
      "--splits=4")).status == "SUCCEEDED")
    assert(!table.hasPendingChanges, "compact must clear the feed")
    assert(vals(3L) == 300.0 && vals(7L) == 700.0 && vals.size == 20)
    // the bucketed layout survives the fold
    val resolved = graft.sinks.ArtifactStore.resolve(spark, dst)
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(resolved, "_numbuckets")),
      "compact must keep the bucketed layout")
  }

  test("CLI index-gc sweeps a bucketed table's bucket roots: an orphan generation in one bucket is swept, the live bucket generation holds") {
    import spark.implicits._
    import graft.table.TableFixtures
    val path = s"${tmpDir("gcbuckets")}/t"
    val table = new graft.table.EntityTable(spark, path, TableFixtures.flatLayout)
    table.bulkLoadBucketed(TableFixtures.baseCells(spark),
      TableFixtures.NumBuckets, numPartitions = 2)
    val cells = table.cells.count()
    // simulate a CRASHED bucketed fold: a staged generation lands in
    // bucket 1's root but no pointer ever flips
    val bucket = s"$path/_buckets/1"
    val loaded = graft.sinks.ArtifactStore.currentGen(spark, bucket)
    assert(loaded.isDefined, s"no live generation under $bucket")
    val orphan = graft.sinks.ArtifactStore.newGenDir(spark, bucket, loaded)
    Seq((1L, "x")).toDF("a", "b").write.parquet(orphan)
    // grace-ms=0: the orphan is above-live and fresh, which the default
    // staging grace would deliberately spare
    val r = Tool.run(spark, Array("index-gc", s"--path=$path",
      "--grace-ms=0"))
    assert(r.counters("swept_child_roots") == 1L, r.counters.toString)
    assert(graft.sinks.ArtifactStore.currentGen(spark, bucket) == loaded,
      "the live bucket generation must hold")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)),
      s"orphan $orphan must be swept")
    assert(table.cells.count() == cells, "the table must read every cell")
  }

  test("CLI index-gc sweeps a table feed's orphan segment; the named segments hold") {
    import spark.implicits._
    import graft.table.TableFixtures
    val path = s"${tmpDir("gcfeed")}/t"
    val table = new graft.table.EntityTable(spark, path, TableFixtures.flatLayout)
    table.bulkLoad(TableFixtures.baseCells(spark), numPartitions = 2)
    table.appendChanges(TableFixtures.batch1(spark))
    table.appendChanges(TableFixtures.batch2(spark))
    val cells = table.cells.count()
    val feed = s"${live(path)}/_changes"
    val named = graft.sinks.SegmentStore.pin(spark, feed).segments("batches")
    // simulate a CRASHED append: its batch segment landed, no manifest
    // names it
    val orphan = s"$feed/batches/${graft.sinks.SegmentStore.segName(3L)}"
    Seq((1L, "x")).toDF("a", "b").write.parquet(orphan)
    // grace-ms=0: the orphan is fresh, which the default staging grace
    // would deliberately spare
    val r = Tool.run(spark, Array("index-gc", s"--path=$path",
      "--grace-ms=0"))
    assert(r.counters("swept_segments") == 1L, r.counters.toString)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)),
      s"orphan $orphan must be swept")
    assert(named.forall(s => fs.exists(
      new org.apache.hadoop.fs.Path(s"$feed/batches/$s"))), named)
    assert(table.cells.count() == cells, "the table must read every cell")
    // a crashed FIRST append: no feed manifest exists to name its root
    val first = s"${tmpDir("gcfeed1")}/t"
    new graft.table.EntityTable(spark, first, TableFixtures.flatLayout)
      .bulkLoad(TableFixtures.baseCells(spark), numPartitions = 2)
    val crashed = s"${live(first)}/_changes/batches/" +
      graft.sinks.SegmentStore.segName(1L)
    Seq((1L, "x")).toDF("a", "b").write.parquet(crashed)
    assert(Tool.run(spark, Array("index-gc", s"--path=$first",
      "--grace-ms=0")).counters("swept_segments") == 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(crashed)),
      s"orphan $crashed must be swept")
  }

  test("CLI index-rebuild on the compressed sharded tiers: corpus re-supply re-fits in place; guards refuse a missing or stale corpus") {
    import spark.implicits._
    val base = tmpDir("idxpqrebuild")
    def emb(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val all = emb((0 until 24).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq)
    })
    val slice = all.filter($"vec_id" % 10 =!= 0)
    val delta = all.filter($"vec_id" % 10 === 0)
    all.write.parquet(s"$base/all")
    slice.write.parquet(s"$base/slice")
    delta.write.parquet(s"$base/delta")
    val buildFlags = Seq("--dim=4", "--m=2", "--k=2", "--centroids=3",
      "--shards=4")
    val drifted = s"$base/drifted"
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq-sharded",
      s"--path=$drifted", s"--input=format=parquet file=$base/slice")
      ++ buildFlags).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-update", "--type=ivfpq-sharded",
      s"--path=$drifted", s"--input=format=parquet file=$base/delta",
      "--dim=4", "--m=2")).status == "SUCCEEDED")
    val fresh = s"$base/fresh"
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq-sharded",
      s"--path=$fresh", s"--input=format=parquet file=$base/all")
      ++ buildFlags).status == "SUCCEEDED")
    def serveOf(p: String, tag: String): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", "--type=ivfpq-sharded",
        s"--path=$p", s"--input=format=parquet file=$base/all",
        s"--output=format=parquet file=$out", "--dim=4", "--m=2",
        "--max-query-id=4", "--nprobe=1", "--topk=3"))
        .status == "SUCCEEDED")
      spark.read.parquet(out).orderBy("q_id", "rank").collect()
        .map(_.toSeq).toSeq
    }
    // no --input → loud refusal naming the corpus-re-supply contract
    val noInput = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-rebuild", "--type=ivfpq-sharded", s"--path=$drifted",
        "--force=true", "--dim=4", "--m=2", "--k=2")))
    assert(noInput.getMessage.contains("--input"), noInput.getMessage)
    // a STALE corpus (missing indexed ids) → loud refusal
    val stale = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-rebuild", "--type=ivfpq-sharded", s"--path=$drifted",
        s"--input=format=parquet file=$base/slice", "--force=true",
        "--dim=4", "--m=2", "--k=2")))
    assert(stale.getMessage.contains("lacks"), stale.getMessage)
    // the real rebuild: re-fit from the full corpus, committed in place
    val r = Tool.run(spark, Array("index-rebuild", "--type=ivfpq-sharded",
      s"--path=$drifted", s"--input=format=parquet file=$base/all",
      "--force=true", "--dim=4", "--m=2", "--k=2", "--centroids=3"))
    assert(r.status == "SUCCEEDED")
    assert(r.counters("shards") == 4L, r.counters.toString)
    // rebuild == fresh full-corpus sharded build, served identically
    val rebuilt = serveOf(drifted, "rebuilt")
    assert(rebuilt.nonEmpty && rebuilt == serveOf(fresh, "fresh"))
    // the shard grid survived in the new generation
    val resolved = graft.sinks.ArtifactStore.resolve(spark, drifted)
    assert(graft.sinks.ShardedCommit.numShards(spark, resolved) == 4)
  }

  test("CLI sharded compressed update survives a rowless shard 0: attrs discovered from the explicit empty surface") {
    import spark.implicits._
    val base = tmpDir("idxemptyshard0")
    // ids 0,4,8,... route to shard 0 (vec_id mod 4); lang attr rides cells
    def emb(rows: Seq[(Long, Seq[Float], String)]) =
      rows.toDF("vec_id", "embedding", "lang")
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"),
          $"lang")
    val corpus = emb((0 until 16).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq, if (i % 2 == 0) "en" else "fr")
    })
    corpus.write.parquet(s"$base/corpus")
    corpus.filter($"vec_id" % 4 === 0).write.parquet(s"$base/shard0ids")
    emb(Seq((101L, Seq(0f, 10.2f, 0f, 0f), "fr")))
      .write.parquet(s"$base/delta")
    val idx = s"$base/idx"
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq-sharded",
      s"--path=$idx", s"--input=format=parquet file=$base/corpus",
      "--dim=4", "--m=2", "--k=2", "--centroids=3", "--shards=4",
      "--attr-cols=lang")).status == "SUCCEEDED")
    // empty shard 0 (every vec_id ≡ 0 mod 4 removed)
    assert(Tool.run(spark, Array("index-remove", "--type=ivfpq-sharded",
      s"--path=$idx", s"--input=format=parquet file=$base/shard0ids"))
      .status == "SUCCEEDED")
    // the update discovers the attr set from shard 0's cells surface —
    // which is now an explicit schema-bearing EMPTY surface
    assert(Tool.run(spark, Array("index-update", "--type=ivfpq-sharded",
      s"--path=$idx", s"--input=format=parquet file=$base/delta",
      "--dim=4", "--m=2")).status == "SUCCEEDED")
    // the attr survived the rowless-shard discovery: a filtered serve
    // still works and can retrieve the delta
    val out = s"$base/out"
    assert(Tool.run(spark, Array("index-serve", "--type=ivfpq-sharded",
      s"--path=$idx", s"--input=format=parquet file=$base/delta",
      s"--output=format=parquet file=$out", "--dim=4", "--m=2",
      "--max-query-id=200", "--nprobe=3", "--topk=8",
      "--filter-col=lang", "--filter-val=fr")).status == "SUCCEEDED")
    assert(spark.read.parquet(out).count() > 0)
  }

  test("composite serves precheck pair parity: a one-sided update warns by default and refuses with --parity=refuse") {
    import spark.implicits._
    val base = tmpDir("idxparity")
    def emb(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val vecs = emb((0 until 24).map { i =>
      val v = Array(0f, 0f, 0f, 0f); v(i % 2) = 10f + (i / 2) * 0.01f
      (i.toLong, v.toSeq)
    })
    vecs.write.parquet(s"$base/vecs")
    emb(Seq((100L, Seq(0f, 0f, 10f, 0f)))).write.parquet(s"$base/delta")
    assert(Tool.run(spark, Array("index-build", "--type=ivfpq",
      s"--path=$base/pq", s"--input=format=parquet file=$base/vecs",
      "--dim=4", "--m=2", "--k=2", "--centroids=3")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$base/flat", s"--input=format=parquet file=$base/vecs",
      "--centroids=3")).status == "SUCCEEDED")
    def serve(extra: String*): graft.jobs.Jobs.JobResult =
      Tool.run(spark, Array("index-serve", "--type=ivfpq",
        s"--path=$base/pq", s"--rerank-from=$base/flat",
        s"--input=format=parquet file=$base/vecs",
        s"--output=format=parquet file=$base/out-${extra.hashCode}",
        "--dim=4", "--m=2", "--max-query-id=4", "--nprobe=1",
        "--rerank-pool=50", "--topk=3") ++ extra)
    // in-sync pair: the precheck passes silently in every mode
    assert(serve().status == "SUCCEEDED")
    assert(serve("--parity=refuse").status == "SUCCEEDED")
    // ONE-SIDED update: the delta lands only in the ADC artifact
    assert(Tool.run(spark, Array("index-update", "--type=ivfpq",
      s"--path=$base/pq", s"--input=format=parquet file=$base/delta",
      "--dim=4", "--m=2")).status == "SUCCEEDED")
    // default (warn): serves, naming the drift on stdout
    assert(serve().status == "SUCCEEDED")
    // refuse: hard error naming both artifacts and the recovery
    val e = intercept[IllegalStateException](serve("--parity=refuse"))
    assert(e.getMessage.contains("OUT OF SYNC") &&
      e.getMessage.contains("index-update"), e.getMessage)
    // skip: no check, serves
    assert(serve("--parity=skip").status == "SUCCEEDED")
  }

  test("segmented tiers: append updates write delta-sized segments; reads merge partials/masks exactly; index-compact and merge-mode reset; gc sweeps orphan segments") {
    import spark.implicits._
    val base = tmpDir("idxsegmented")
    val corpus = Seq(
      (0L, "spark join hash table scan"), (1L, "row batch filter merge"),
      (2L, "spark join hash data"), (3L, "slow order vector line"))
      .toDF("doc_id", "text")
    corpus.write.parquet(s"$base/corpus")
    def segsOf(tpe: String, p: String): Long =
      Tool.run(spark, Array("index-describe", s"--type=$tpe",
        s"--path=$p")).counters("live_segments")
    def serveOf(tpe: String, p: String, tag: String,
                in: String, extra: String*): Seq[Seq[Any]] = {
      val out = s"$base/out-$tag"
      assert(Tool.run(spark, Array("index-serve", s"--type=$tpe",
        s"--path=$p", s"--input=format=parquet file=$base/$in",
        s"--output=format=parquet file=$out") ++ extra)
        .status == "SUCCEEDED", tag)
      val df = spark.read.parquet(out).drop("batch")
      df.orderBy(df.columns.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSeq
    }

    // ── BM25: TWO append deltas REUSING corpus vocabulary, so the df
    //    partials MUST sum at read to match the rebuilt index ──
    val bm = s"$base/bm25sh"
    assert(Tool.run(spark, Array("index-build", "--type=bm25-sharded",
      s"--path=$bm", s"--input=format=parquet file=$base/corpus",
      "--shards=4")).status == "SUCCEEDED")
    assert(segsOf("bm25-sharded", bm) == 8L, "4 term + 4 doc roots")
    Seq((10L, "spark join filter")).toDF("doc_id", "text")
      .write.parquet(s"$base/d1")
    Seq((11L, "hash table merge")).toDF("doc_id", "text")
      .write.parquet(s"$base/d2")
    for (d <- Seq("d1", "d2"))
      assert(Tool.run(spark, Array("index-update", "--type=bm25-sharded",
        s"--path=$bm", s"--input=format=parquet file=$base/$d"))
        .status == "SUCCEEDED", d)
    val grown = segsOf("bm25-sharded", bm)
    assert(grown > 8L, s"appends must add segments: $grown")
    corpus.unionByName(
        spark.read.parquet(s"$base/d1").unionByName(
          spark.read.parquet(s"$base/d2")))
      .write.parquet(s"$base/bmfull")
    assert(Tool.run(spark, Array("index-build", "--type=bm25",
      s"--path=$base/bmfull-idx",
      s"--input=format=parquet file=$base/bmfull"))
      .status == "SUCCEEDED")
    Seq((20L, "spark join hash"), (21L, "filter merge table"))
      .toDF("doc_id", "text").write.parquet(s"$base/probe")
    val wantBm = serveOf("bm25", s"$base/bmfull-idx", "bmfull", "probe",
      "--topk=5")
    assert(wantBm.nonEmpty)
    assert(serveOf("bm25-sharded", bm, "bmseg", "probe", "--topk=5")
      == wantBm, "append-mode serve must equal the rebuilt index")
    // compact: purely physical — count resets, serve identical
    val c = Tool.run(spark, Array("index-compact", "--type=bm25-sharded",
      s"--path=$bm"))
    assert(c.counters("segments_before") == grown &&
      c.counters("segments_after") == 8L, c.counters.toString)
    assert(serveOf("bm25-sharded", bm, "bmpost", "probe", "--topk=5")
      == wantBm)
    // merge-mode updates never grow the segment count
    Seq((12L, "query window stream")).toDF("doc_id", "text")
      .write.parquet(s"$base/d3")
    assert(Tool.run(spark, Array("index-update", "--type=bm25-sharded",
      s"--path=$bm", s"--input=format=parquet file=$base/d3",
      "--mode=merge")).status == "SUCCEEDED")
    assert(segsOf("bm25-sharded", bm) == 8L,
      "merge mode is the compacting write")

    // ── LSH: the append delta is an EXACT COPY of doc 0's text, so
    //    every bucket it routes to already holds doc 0's rows — the
    //    shadow segment must SUPERSEDE those buckets' censuses, never
    //    duplicate them ──
    val lsh = s"$base/lshsh"
    assert(Tool.run(spark, Array("index-build", "--type=lsh-sharded",
      s"--path=$lsh", s"--input=format=parquet file=$base/corpus",
      "--shingle-n=2", "--shards=4")).status == "SUCCEEDED")
    Seq((30L, "spark join hash table scan")).toDF("doc_id", "text")
      .write.parquet(s"$base/dup")
    assert(Tool.run(spark, Array("index-update", "--type=lsh-sharded",
      s"--path=$lsh", s"--input=format=parquet file=$base/dup",
      "--shingle-n=2")).status == "SUCCEEDED")
    corpus.unionByName(spark.read.parquet(s"$base/dup"))
      .write.parquet(s"$base/lshfull")
    assert(Tool.run(spark, Array("index-build", "--type=lsh",
      s"--path=$base/lshfull-idx",
      s"--input=format=parquet file=$base/lshfull",
      "--shingle-n=2")).status == "SUCCEEDED")
    Seq((40L, "spark join hash table scan")).toDF("doc_id", "text")
      .write.parquet(s"$base/lprobe")
    val wantLsh = serveOf("lsh", s"$base/lshfull-idx", "lfull", "lprobe",
      "--shingle-n=2", "--threshold=0.5")
    assert(wantLsh.exists(_.contains(0L)) && wantLsh.exists(_.contains(30L)),
      s"probe must match both copies: $wantLsh")
    assert(serveOf("lsh-sharded", lsh, "lseg", "lprobe",
      "--shingle-n=2", "--threshold=0.5") == wantLsh,
      "masked segment serve must equal the rebuilt index")
    val lc = Tool.run(spark, Array("index-compact", "--type=lsh-sharded",
      s"--path=$lsh"))
    assert(lc.counters("segments_after") == 4L, lc.counters.toString)
    assert(serveOf("lsh-sharded", lsh, "lpost", "lprobe",
      "--shingle-n=2", "--threshold=0.5") == wantLsh)

    // ── CDC: the append delta shares every chunk with doc 0, so the
    //    rollup partial OVERLAPS the base rows — n_occ must sum and
    //    first_doc must min at read ──
    val cdc = s"$base/cdcsh"
    assert(Tool.run(spark, Array("index-build", "--type=cdc-sharded",
      s"--path=$cdc", s"--input=format=parquet file=$base/corpus",
      "--avg-mask=8", "--shards=4")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-update", "--type=cdc-sharded",
      s"--path=$cdc", s"--input=format=parquet file=$base/dup",
      "--avg-mask=8")).status == "SUCCEEDED")
    assert(Tool.run(spark, Array("index-build", "--type=cdc",
      s"--path=$base/cdcfull-idx",
      s"--input=format=parquet file=$base/lshfull",
      "--avg-mask=8")).status == "SUCCEEDED")
    val wantCdc = serveOf("cdc", s"$base/cdcfull-idx", "cfull", "lprobe",
      "--avg-mask=8")
    assert(wantCdc.nonEmpty)
    assert(serveOf("cdc-sharded", cdc, "cseg", "lprobe", "--avg-mask=8")
      == wantCdc, "partial-merged rollup serve must equal the rebuild")
    val cc = Tool.run(spark, Array("index-compact", "--type=cdc-sharded",
      s"--path=$cdc"))
    assert(cc.counters("segments_after") == 4L, cc.counters.toString)
    assert(serveOf("cdc-sharded", cdc, "cpost", "lprobe", "--avg-mask=8")
      == wantCdc)

    // ── gc: an unreferenced _seg_* dir (crashed writer) past the grace
    //    is swept; the live serve is untouched ──
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root0 = s"${graft.sinks.ArtifactStore.resolve(spark, lsh)}/shards/0"
    val orphan = new org.apache.hadoop.fs.Path(s"$root0/_seg_99_deadbeef")
    fs.mkdirs(orphan)
    fs.setTimes(orphan, 1000L, -1L)
    val g = Tool.run(spark, Array("index-gc", s"--path=$lsh"))
    assert(g.counters("swept_segments") == 1L, g.counters.toString)
    assert(!fs.exists(orphan))
    assert(serveOf("lsh-sharded", lsh, "lpostgc", "lprobe",
      "--shingle-n=2", "--threshold=0.5") == wantLsh)
  }

  test("unsharded updates gate whole-surface rewrites: past --max-rewrite-rows the refusal names the sharded twin") {
    import spark.implicits._
    val base = tmpDir("idxrewritegate")
    Seq((0L, "spark join hash"), (1L, "row filter merge"))
      .toDF("doc_id", "text").write.parquet(s"$base/corpus")
    Seq((10L, "novel content here")).toDF("doc_id", "text")
      .write.parquet(s"$base/delta")
    val idx = s"$base/lsh"
    assert(Tool.run(spark, Array("index-build", "--type=lsh",
      s"--path=$idx", s"--input=format=parquet file=$base/corpus",
      "--shingle-n=2")).status == "SUCCEEDED")
    // under the default gate: the fold proceeds
    assert(Tool.run(spark, Array("index-update", "--type=lsh",
      s"--path=$idx", s"--input=format=parquet file=$base/delta",
      "--shingle-n=2")).status == "SUCCEEDED")
    // a bound below the artifact size: loud refusal naming lsh-sharded
    Seq((11L, "more novel content")).toDF("doc_id", "text")
      .write.parquet(s"$base/delta2")
    val e = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=lsh", s"--path=$idx",
        s"--input=format=parquet file=$base/delta2", "--shingle-n=2",
        "--max-rewrite-rows=1")))
    assert(e.getMessage.contains("lsh-sharded") &&
      e.getMessage.contains("WHOLE SURFACE"), e.getMessage)
    // raising the bound deliberately lets the one-off through
    assert(Tool.run(spark, Array("index-update", "--type=lsh",
      s"--path=$idx", s"--input=format=parquet file=$base/delta2",
      "--shingle-n=2", "--max-rewrite-rows=100000"))
      .status == "SUCCEEDED")
    // ivfflat (S = 1): a merge-mode update rewrites its one shard whole,
    // so it is gated too; an append lands one delta-sized segment
    def emb(ids: Seq[Long]) = ids.map(i => (i, Seq(i.toFloat, 1f, 1f, 1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    emb(0L until 6L).write.parquet(s"$base/emb")
    emb(Seq(20L)).write.parquet(s"$base/edelta")
    val ivf = s"$base/ivfflat"
    assert(Tool.run(spark, Array("index-build", "--type=ivfflat",
      s"--path=$ivf", s"--input=format=parquet file=$base/emb",
      "--centroids=2")).status == "SUCCEEDED")
    val e2 = intercept[IllegalArgumentException](Tool.run(spark,
      Array("index-update", "--type=ivfflat", s"--path=$ivf",
        s"--input=format=parquet file=$base/edelta",
        "--max-rewrite-rows=1")))
    assert(e2.getMessage.contains("ivfflat-sharded") &&
      e2.getMessage.contains("--mode=append") &&
      e2.getMessage.contains("WHOLE SURFACE"), e2.getMessage)
    assert(Tool.run(spark, Array("index-update", "--type=ivfflat",
      s"--path=$ivf", s"--input=format=parquet file=$base/edelta",
      "--max-rewrite-rows=1", "--mode=append")).status == "SUCCEEDED")
  }
}
