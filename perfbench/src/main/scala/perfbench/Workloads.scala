package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.IndexTool
import graft.jobs.Jobs
import graft.kvstore.TableKeyValueStore
import graft.operators.Lifecycle.{BulkImporter, CellPut, Gatherer, OperatorContext}
import graft.sources.Formats
import graft.table.{DataRequest, EntityTable}

/** Output-check results of a whole run, warm-up round included. */
final class Checks {
  val failures = ArrayBuffer.empty[String]
  var run = 0

  /** Records a check; a failing check fails the run. */
  def apply(name: String, ok: Boolean, detail: => String): Unit = {
    run += 1
    if (!ok) {
      val msg = s"$name: $detail"
      failures += msg
      System.err.println(s"CHECK FAILED $msg")
    }
  }
}

/** What a workload sees of the harness. */
final class Env(val spark: SparkSession, val conf: Conf, val rec: Recorder,
                val check: Checks) {
  /** Materializes a read without collecting it (the noop sink). */
  def noop(df: DataFrame): Unit =
    rec.span("exec.noop")(df.write.format("noop").mode("overwrite").save())

  def cores: Int = conf.cores
}

/** One workload instance: one seed's inputs and state. */
trait Workload {
  /** Generates the inputs and builds the base state under `dir`. */
  def setup(env: Env, dir: String): Unit
  /** One untimed pass over every op kind after [[setup]], so the timed
    * loop starts with warm code paths, and from the state it is measured
    * in. */
  def warmup(env: Env): Unit
  /** The fixed round the timed loop repeats; an entry runs one or more ops. */
  def cycle: Seq[Env => Unit]
  /** Untimed output checks after the loop. */
  def verify(env: Env): Unit
  /** Records the bytes under the table or index root after the first
    * timed round, and what user data they hold, for [[space]]. */
  def snapshotSpace(env: Env): Unit
  /** The snapshot's bytes under the root, and the user bytes they hold. */
  def space(env: Env): (Long, Long)
  /** Generated input rows and bytes, for the run stamp. */
  def inputs: Map[String, Long]
  /** Layer gauges the traced run samples after the first timed round. */
  def sample(env: Env): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("table_mixed", "index_lifecycle")

  def apply(name: String, seed: Long): Workload = name match {
    case "table_mixed" => new TableMixed(seed)
    case "index_lifecycle" => new IndexLifecycle(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected ${Names.mkString("|")})")
  }

  def duBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}

/** Parses `entity_id,family,qualifier,ts,value` CSV records into puts. */
object CsvImporter extends BulkImporter[String, Long, String] {
  def importRecord(rec: String, emit: CellPut[Long, String] => Unit,
                   ctx: OperatorContext): Unit = {
    val f = rec.split(",", -1)
    emit(CellPut(f(0).toLong, f(1), f(2), f(3).toLong, f(4)))
  }
}

/** Emits (segment, 1) for every cell the store resolved a segment for. */
object SegmentGatherer extends Gatherer[String, Long] {
  def gather(row: Row, emit: (String, Long) => Unit,
             ctx: OperatorContext): Unit = {
    val seg = row.getAs[String]("segment")
    if (seg != null) emit(seg, 1L)
  }
}

object TableMixed {
  /** A column read: two base columns, 2 versions, a quarter of the entity
    * range. */
  final case class ColRead(cols: Seq[(String, String)], versions: Int,
                           lo: Long, hi: Long)

  /** What one timed read returned, and the table state it read:
    * `appends` change batches applied, `cut` the as-of ordinal. */
  final case class ReadSeen(kind: String, appends: Int, cut: Int,
                            digest: Reference.Digest, gathered: Map[String, Long])
}

/** The table layer under one client: skewed change batches with
  * tombstones, a CSV bulk-import job, feed folds and major compactions,
  * interleaved with merge-on-read scans, column and as-of reads and a
  * gather job with a store lookup join. The table has two locality groups
  * and the first timed round starts with `setupBatches` pending feed
  * batches. */
final class TableMixed(seed: Long) extends Workload {
  import TableMixed._

  val entities = 12000
  val cellsPer = 6
  val setupBatches = 6
  val batchRows = 2000
  val importRows = 2000

  private val gen = new Gen.Table(seed, entities, cellsPer)
  private val changes = ArrayBuffer.empty[Row]
  // appendEnds(i): changes.length after the appendChanges call that got
  // arrival ordinal i + 1
  private val appendEnds = ArrayBuffer.empty[Int]
  private val seen = ArrayBuffer.empty[ReadSeen]
  // change-feed occupancy before each round's folds (traced run)
  private val feedSeen = ArrayBuffer.empty[(Int, Long)]
  private var dir: String = _
  private var baseDir: String = _
  private var dimDir: String = _
  private var table: EntityTable = _
  private var imports = 0

  private val colRead: ColRead = {
    val r = Gen.rng(seed, 3)
    val js = new scala.util.Random(r.nextLong()).shuffle((0 until cellsPer).toList).take(2)
    val lo = r.nextInt(entities * 3 / 4).toLong
    ColRead(js.map(j => (Gen.Families(j % 2), s"q$j")), 2, lo, lo + entities / 4)
  }

  private def root = s"$dir/table"
  private def base(env: Env): DataFrame = env.spark.read.parquet(baseDir)

  def setup(env: Env, dir: String): Unit = {
    this.dir = dir
    baseDir = s"$dir/input/base"
    dimDir = s"$dir/input/dim"
    gen.baseCells(env.spark).write.parquet(baseDir)
    env.spark.range(entities).select(col("id").as("entity_id"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit(seed)), lit(16L))).as("segment"))
      .write.parquet(dimDir)
    table = new EntityTable(env.spark, root, Gen.Layout)
    table.bulkLoad(base(env), env.cores)
    fillFeed(env)
  }

  /** Appends the change batches a round starts with, untimed. */
  private def fillFeed(env: Env): Unit =
    (0 until setupBatches).foreach { _ =>
      val rows = gen.batch(batchRows)
      logChanges(rows)
      table.appendChanges(Gen.changesDf(env.spark, rows))
    }

  /** One round, whose folds leave the feed empty; then the feed is filled
    * again, so the first timed round reads the same depth of pending
    * batches as a round straight after set-up. */
  def warmup(env: Env): Unit = {
    cycle.foreach(_(env))
    fillFeed(env)
  }

  private def logChanges(rows: Seq[Row]): Unit = {
    changes ++= rows
    appendEnds += changes.length
  }

  private def append(env: Env): Unit = {
    val rows = gen.batch(batchRows)
    val df = Gen.changesDf(env.spark, rows)
    logChanges(rows)
    env.rec.op("append", OpClass.Write, Gen.changesBytes(rows)) {
      env.rec.span("table.appendChanges")(table.appendChanges(df))
      rows.length.toLong
    }
    ()
  }

  private def writeCsv(lines: Seq[String]): String = {
    imports += 1
    val f = new java.io.File(s"$dir/input/import_$imports.csv")
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f.getPath
  }

  private def bulkImport(env: Env): Unit = {
    val lines = gen.csvLines(importRows)
    val csv = writeCsv(lines)
    val rows = lines.map { l =>
      val f = l.split(",", -1)
      Row(f(0).toLong, f(1), f(2), "put", f(3).toLong, f(4))
    }
    logChanges(rows)
    import env.spark.implicits._
    env.rec.op("bulk_import", OpClass.Write, Gen.changesBytes(rows)) {
      val input = env.rec.span("sources.read")(
        Formats.read(env.spark, s"format=text file=$csv"))
      env.rec.span("jobs.bulkImport")(
        new Jobs.BulkImportJobBuilder[Long, String](CsvImporter)
          .withInput(input).withName("perfbench-import")
          .run { puts =>
            env.rec.span("table.appendChanges")(table.appendChanges(
              puts.withColumn("op", lit("put"))
                .select("entity_id", "family", "qualifier", "op", "ts", "value")))
          })
      lines.length.toLong
    }
    ()
  }

  /** A timed read materialized through the noop sink; its row count and
    * checksum are observed in the same pass and checked after the loop. */
  private def read(env: Env, kind: String, cut: Int = 0)(df: => DataFrame): Reference.Digest = {
    val obs = new Observation()
    val rec = env.rec.op(kind, OpClass.Read) {
      env.noop(Reference.observed(df, obs))
      0L
    }
    val d = Reference.digestOf(obs)
    rec.rows = d.rows
    seen += ReadSeen(kind, appendEnds.length, cut, d, Map.empty)
    d
  }

  private def mostRecent(env: Env): Reference.Digest =
    read(env, "most_recent")(env.rec.span("table.mostRecent")(table.mostRecent()))

  private def columns(env: Env): Unit = {
    read(env, "read_columns")(env.rec.span("table.read")(table.read(
        DataRequest(columns = colRead.cols, maxVersions = colRead.versions)))
      .filter(col("entity_id") >= colRead.lo && col("entity_id") < colRead.hi))
    ()
  }

  /** As-of read at the ordinal before the newest batch (always above the
    * last major compaction's watermark in this round order). */
  private def asOf(env: Env): Unit = {
    val cut = appendEnds.length - 1
    read(env, "read_asof_ordinal", cut)(env.rec.span("table.readAsOfOrdinal")(
      table.readAsOfOrdinal(cut.toLong)))
    ()
  }

  private def gather(env: Env): Unit = {
    var out = Map.empty[String, Long]
    import env.spark.implicits._
    val rec = env.rec.op("gather", OpClass.Read) {
      val cells = env.rec.span("table.mostRecent")(
        table.mostRecent(DataRequest(columns = Seq(("metrics", "q1")))))
      val store = env.rec.span("kvstore.TableKeyValueStore")(
        new TableKeyValueStore(env.spark.read.parquet(dimDir), "entity_id", "segment"))
      val joined = env.rec.span("kvstore.lookupJoin")(
        store.lookupJoin(cells, col("entity_id"), "segment"))
      env.rec.span("jobs.gather")(
        new Jobs.GatherJobBuilder[String, Long](SegmentGatherer)
          .withInput(joined).withName("perfbench-gather")
          .run { df =>
            out = env.rec.span("exec.collect")(df.groupBy("key").agg(sum("value"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
          })
      0L
    }
    rec.rows = out.values.sum
    seen += ReadSeen("gather", appendEnds.length, 0,
      Reference.Digest(rec.rows, 0), out)
    ()
  }

  /** Both folds, each between two merged scans that must read the same. */
  private def folds(env: Env): Unit = {
    def fold(kind: String, before: Reference.Digest)(body: => Unit): Reference.Digest = {
      env.rec.op(kind, OpClass.Fold) { body; 0L }
      val after = mostRecent(env)
      env.check(s"$kind preserves the merged view", before == after,
        s"before $before, after $after")
      after
    }
    if (env.rec.traced) feedSeen += table.changeFeedStats
    val d0 = mostRecent(env)
    val d1 = fold("compact_feed", d0)(env.rec.span("table.compactFeed")(table.compactFeed()))
    fold("major_compact", d1)(env.rec.span("table.majorCompact")(
      table.majorCompact(numPartitions = env.cores)))
    ()
  }

  def cycle: Seq[Env => Unit] = Seq(
    append, append, columns, append, append, bulkImport, asOf, gather,
    append, folds)

  /** Live puts after the first `appends` change batches. */
  private def liveAfter(env: Env, appends: Int): DataFrame = {
    val upTo = if (appends == 0) 0 else appendEnds(appends - 1)
    Reference.livePuts(base(env), Gen.changesDf(env.spark, changes.take(upTo).toSeq))
  }

  /** The last read of each kind against the reference at the table state
    * it read. */
  def verify(env: Env): Unit = {
    val live = mutable.Map.empty[Int, DataFrame]
    def at(n: Int) = live.getOrElseUpdate(n, liveAfter(env, n).cache())
    seen.groupBy(_.kind).values.map(_.last).foreach { s =>
      val name = s"table_mixed ${s.kind} after ${s.appends} batches == reference"
      s.kind match {
        case "gather" =>
          val want = Reference.mostRecent(at(s.appends))
            .filter(col("family") === "metrics" && col("qualifier") === "q1")
            .join(env.spark.read.parquet(dimDir), "entity_id")
            .groupBy("segment").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          env.check(name, s.gathered == want, s"engine ${s.gathered} != reference $want")
        case kind =>
          val ref = kind match {
            case "most_recent" => Reference.mostRecent(at(s.appends))
            case "read_columns" =>
              Reference.versioned(at(s.appends).filter(
                col("entity_id") >= colRead.lo && col("entity_id") < colRead.hi &&
                  struct(col("family"), col("qualifier")).isin(colRead.cols.map {
                    case (f, q) => struct(lit(f), lit(q)) }: _*)), colRead.versions)
            case "read_asof_ordinal" => Reference.versioned(at(s.cut), 1)
          }
          val want = Reference.digest(ref)
          env.check(name, s.digest == want, s"engine ${s.digest} != reference $want")
      }
    }
    live.values.foreach(_.unpersist())
  }

  private var spaceAt: (Long, Int) = (0L, 0)

  def snapshotSpace(env: Env): Unit =
    spaceAt = (Workload.duBytes(env.spark, root), appendEnds.length)

  def space(env: Env): (Long, Long) = {
    val userBytes = liveAfter(env, spaceAt._2)
      .agg(sum(lit(16L) + length(col("family")) + length(col("qualifier")) +
        length(col("value")))).head().getLong(0)
    (spaceAt._1, userBytes)
  }

  def inputs: Map[String, Long] = Map(
    "base_rows" -> gen.baseRows, "base_bytes" -> gen.baseBytes,
    "setup_batches" -> setupBatches.toLong, "batch_rows" -> batchRows.toLong,
    "import_rows" -> importRows.toLong, "change_rows" -> changes.length.toLong,
    "change_bytes" -> Gen.changesBytes(changes.toSeq))

  def sample(env: Env): Map[String, Double] = feedSeen.lastOption.map { case (files, rows) =>
    Map("table.feed_files" -> files.toDouble, "table.feed_rows" -> rows.toDouble)
  }.getOrElse(Map.empty)
}

/** The index-artifact lifecycle on the sharded BM25 tier (S = 4): an
  * append-mode delta, serves, segment compaction and a removal, so live
  * segments rise and fall within every round. */
final class IndexLifecycle(seed: Long) extends Workload {
  val initialDocs = 4000
  val deltaDocs = 500
  val removeDocs = 50
  val queries = 100
  val topK = 10
  val flags: Map[String, String] = Map("shards" -> "4", "mode" -> "append",
    "topk" -> topK.toString)
  val tpe = "bm25-sharded"

  private val corpus = new Gen.Corpus(seed, vocab = 3000)
  private var dir: String = _
  private val docs = ArrayBuffer.empty[(Long, String)]
  private val live = ArrayBuffer.empty[Long]
  private val removed = mutable.Set.empty[Long]
  private var queryDocs: DataFrame = _
  // live segments before each compaction (traced run)
  private val segmentsSeen = ArrayBuffer.empty[Long]

  private def path = s"$dir/bm25"

  def setup(env: Env, dir: String): Unit = {
    this.dir = dir
    val d0 = corpus.docs(initialDocs)
    docs ++= d0
    live ++= d0.map(_._1)
    queryDocs = Gen.docsDf(env.spark, corpus.queryDocs(queries)).cache()
    IndexTool.build(env.spark, tpe, Gen.docsDf(env.spark, d0), path, flags)
  }

  private def update(env: Env): Unit = {
    val d = corpus.docs(deltaDocs)
    val df = Gen.docsDf(env.spark, d)
    docs ++= d
    live ++= d.map(_._1)
    env.rec.op("index_update", OpClass.Write, Gen.docBytes(d)) {
      env.rec.span("index.update")(IndexTool.update(env.spark, tpe, df, path, flags))
      d.length.toLong
    }
    ()
  }

  private def remove(env: Env): Unit = {
    import env.spark.implicits._
    val ids = corpus.pick(live, removeDocs)
    val df = ids.toDF("doc_id")
    live --= ids
    removed ++= ids
    env.rec.op("index_remove", OpClass.Write, 8L * ids.length) {
      env.rec.span("index.remove")(IndexTool.remove(env.spark, tpe, df, path, flags))
      ids.length.toLong
    }
    ()
  }

  private def serve(env: Env): Unit = {
    var rows: Array[Row] = Array.empty
    env.rec.op("index_serve", OpClass.Read) {
      val served = env.rec.span("index.serve")(
        IndexTool.serve(env.spark, tpe, queryDocs, path, flags))
      rows = env.rec.span("exec.collect")(served.collect())
      rows.length.toLong
    }
    val leaked = rows.map(_.getAs[Long]("doc_id")).filter(removed)
    env.check(s"$tpe serve never returns a removed doc", leaked.isEmpty,
      s"removed doc_ids served: ${leaked.take(5).mkString(", ")}")
  }

  private def compact(env: Env): Unit = {
    if (env.rec.traced)
      segmentsSeen += IndexTool.describe(env.spark, tpe, path)("live_segments")
    env.rec.op("index_compact", OpClass.Fold) {
      env.rec.span("index.compact")(IndexTool.compact(env.spark, tpe, path, flags))
      0L
    }
    ()
  }

  def warmup(env: Env): Unit = {
    update(env); serve(env); compact(env); remove(env)
  }

  /** Twice: the update adds a segment per touched shard, a serve reads
    * through it, the compaction folds it away and a serve reads the
    * compacted artifact. Then the removal rewrites. A round so holds 3
    * write, 4 read and 2 fold ops. */
  def cycle: Seq[Env => Unit] =
    Seq(update, serve, compact, serve, update, serve, compact, serve, remove)

  /** Serve == serve over a fresh build of initial + deltas - removed: the
    * exactness `IndexTool.UpdateTypes`/`RemoveTypes` document. */
  def verify(env: Env): Unit = {
    val fresh = s"$dir/bm25_fresh"
    val remaining = docs.filterNot { case (id, _) => removed(id) }.toSeq
    IndexTool.build(env.spark, tpe, Gen.docsDf(env.spark, remaining), fresh, flags)
    def served(p: String): Seq[Row] =
      IndexTool.serve(env.spark, tpe, queryDocs, p, flags)
        .select("q_id", "rank", "doc_id", "n_terms", "score").collect().toSeq
    val (got, want) = (served(path), served(fresh))
    env.check(s"$tpe serve == serve over a fresh build", got.nonEmpty && got == want,
      s"${got.length} vs ${want.length} rows; first difference " +
        got.zipAll(want, null, null).find { case (a, b) => a != b })
  }

  private var spaceAt: (Long, Long) = (0L, 0L)

  def snapshotSpace(env: Env): Unit =
    spaceAt = (Workload.duBytes(env.spark, path),
      Gen.docBytes(docs.filterNot { case (id, _) => removed(id) }.toSeq))

  def space(env: Env): (Long, Long) = spaceAt

  def inputs: Map[String, Long] = Map(
    "initial_docs" -> initialDocs.toLong, "delta_docs" -> deltaDocs.toLong,
    "remove_docs" -> removeDocs.toLong, "queries" -> queries.toLong,
    "docs_total" -> docs.length.toLong, "doc_bytes_total" -> Gen.docBytes(docs.toSeq))

  def sample(env: Env): Map[String, Double] =
    segmentsSeen.lastOption.map(n => Map("index.live_segments" -> n.toDouble))
      .getOrElse(Map.empty)
}
