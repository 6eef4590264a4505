package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Bpe, Clustering, Dedup, Retrieval, UnigramLm, WordPiece}
import graft.sinks.{ArtifactStore, SegmentedIndex}
import graft.table.{DataRequest, TableFixtures}

/** Spark-job ceilings for the index lifecycle and the entity-table
  * reads, appends and folds: every job is a fixed scheduling cost (tens
  * of ms at any data size), so a change that adds jobs to a load, a read
  * frame or a lifecycle op fails here before it shows on the benchmark. Suites run one at a time in the forked test JVM, so the
  * counter sees only the measured block's jobs. */
class JobBudgetSpec extends SparkSpec with BeforeAndAfterAll {

  private val started = new AtomicInteger()
  private lazy val counter = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit =
    try spark.sparkContext.removeSparkListener(counter)
    finally super.afterAll()

  /** The Spark jobs `body` launches. */
  private def jobsOf(body: => Any): Int = {
    counter
    ListenerDrain(spark.sparkContext)
    val before = started.get()
    body
    ListenerDrain(spark.sparkContext)
    started.get() - before
  }

  private def segmented(tier: SegmentedIndex.Tier[_])
      : (SparkSession, String) => Any = SegmentedIndex.load(_, tier, _)

  private val loaders: Map[String, (SparkSession, String) => Any] = Map(
    "lsh" -> Dedup.loadLshIndex, "lsh-sharded" -> segmented(Dedup.LshSharded),
    "cdc" -> Dedup.loadCdcArtifact,
    "cdc-sharded" -> segmented(Dedup.CdcSharded),
    "bm25" -> Retrieval.loadBm25Index,
    "bm25-sharded" -> segmented(Retrieval.Bm25Sharded),
    "semdedup" -> Clustering.loadSemIndex,
    "semdedup-sharded" -> segmented(Clustering.SemSharded),
    "ivf" -> Clustering.loadIvfCodebook,
    "ivfflat" -> segmented(Clustering.IvfFlatSharded),
    "ivfflat-sharded" -> segmented(Clustering.IvfFlatSharded),
    "ivfpq" -> segmented(Clustering.IvfPqSharded),
    "ivfpq-sharded" -> segmented(Clustering.IvfPqSharded),
    "ivfpqr" -> segmented(Clustering.IvfPqrSharded),
    "ivfpqr-sharded" -> segmented(Clustering.IvfPqrSharded),
    "pq" -> segmented(Clustering.PqTier), "sq" -> segmented(Clustering.SqTier),
    "ivfsq" -> segmented(Clustering.IvfSqTier),
    "imi" -> segmented(Clustering.ImiTier),
    "bpe" -> Bpe.loadMerges, "unigram" -> UnigramLm.loadVocab,
    "wordpiece" -> WordPiece.loadVocab,
    "decontam" -> ((s: SparkSession, p: String) =>
      ArtifactStore.readSurface(s, ArtifactStore.resolve(s, p))))

  /** Loaders that hand the caller driver-side values, not frames: their
    * one job is that collect (the tokenizer vocabularies, the IVF
    * codebook) or the 1-row fitted-parameter read (semdedup, imi). */
  private val materializing = Set("bpe", "unigram", "wordpiece", "ivf",
    "semdedup", "semdedup-sharded", "imi")

  test("loading any index type's artifact launches no schema-inference job: frame loaders launch none, driver-side loaders only their collect") {
    val base = tmpDir("jobload")
    val fixtures = IndexFixtures.all(spark)
    assert(fixtures.map(_.tpe).toSet == loaders.keySet)
    for (fx <- fixtures) {
      val path = s"$base/${fx.tpe}"
      IndexTool.build(spark, fx.tpe, fx.input, path, fx.flags)
      val want = if (materializing(fx.tpe)) 1 else 0
      val got = jobsOf(loaders(fx.tpe)(spark, path))
      assert(got == want, s"${fx.tpe}: load launched $got jobs, want $want")
    }
  }

  /** Six-word documents `(doc_id, text)` over a 20-word vocabulary. */
  private def docs(ids: Range): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val vocab = ("spark join hash table scan batch row filter merge plan " +
      "slow order vector line agg bloom index shard segment commit").split(" ")
    ids.map { i =>
      (i.toLong, (0 until 6).map(j => vocab((i * 7 + j * 3) % vocab.length))
        .mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("bm25-sharded (S = 4) update, serve, compact and remove stay within their job ceilings") {
    import spark.implicits._
    val base = tmpDir("jobbm25")
    val path = s"$base/bm25"
    val flags = Map("shards" -> "4", "topk" -> "3")
    IndexTool.build(spark, "bm25-sharded", docs(0 until 40), path, flags)
    val queries = docs(0 until 3)
    // ceilings = the counts this fixture measures with footer-read
    // schemas and one scan per surface (before: 25, 15, 19 and 30 —
    // a schema-inference job per surface read, S per surface in
    // compaction and removal)
    val ceilings = Seq("update" -> 20, "serve" -> 11, "compact" -> 7,
      "remove" -> 18)
    val counts = Seq(
      "update" -> jobsOf(IndexTool.update(spark, "bm25-sharded",
        docs(100 until 104), path, flags)),
      "serve" -> jobsOf(IndexTool.serve(spark, "bm25-sharded", queries,
        path, flags).collect()),
      "compact" -> jobsOf(IndexTool.compact(spark, "bm25-sharded", path,
        flags)),
      "remove" -> jobsOf(IndexTool.remove(spark, "bm25-sharded",
        Seq(1L, 2L, 101L).toDF("doc_id"), path, flags)))
    counts.zip(ceilings).foreach { case ((op, got), (_, ceiling)) =>
      assert(got <= ceiling, s"$op launched $got jobs, ceiling $ceiling")
    }
  }

  /** Four-lane vectors `(vec_id, embedding)` in four clusters. */
  private def emb(ids: Range): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    ids.map { i =>
        val v = Array(1f, 1f, 1f, 1f); v(i % 4) = 10f + i * 0.01f
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
  }

  test("lsh-, cdc- and semdedup-sharded (S = 4) update, compact and remove stay within their job ceilings") {
    import spark.implicits._
    val base = tmpDir("jobsegmented")
    // ceilings = the counts this fixture measured while each tier had
    // its own segmented lifecycle (on the shared one: 13/8/9, 10/5/7,
    // 16/2/5)
    val cases = Seq(
      ("lsh-sharded", docs(0 until 40), docs(100 until 104),
        Seq(1L, 2L, 101L).toDF("doc_id"), Map("shingle-n" -> "2"),
        Map("update" -> 14, "compact" -> 8, "remove" -> 9)),
      ("cdc-sharded", docs(0 until 40), docs(100 until 104),
        Seq(1L, 2L, 101L).toDF("doc_id"), Map("avg-mask" -> "3"),
        Map("update" -> 10, "compact" -> 5, "remove" -> 7)),
      ("semdedup-sharded", emb(0 until 40), emb(100 until 104),
        Seq(1L, 2L, 101L).toDF("vec_id"),
        Map("coarse-k" -> "2", "target-rows" -> "4", "cluster-cap" -> "64"),
        Map("update" -> 17, "compact" -> 2, "remove" -> 5)))
    for ((tpe, input, delta, removed, extra, ceilings) <- cases) {
      val path = s"$base/$tpe"
      val flags = extra + ("shards" -> "4")
      IndexTool.build(spark, tpe, input, path, flags)
      val counts = Seq(
        "update" -> jobsOf(IndexTool.update(spark, tpe, delta, path, flags)),
        "compact" -> jobsOf(IndexTool.compact(spark, tpe, path, flags)),
        "remove" -> jobsOf(IndexTool.remove(spark, tpe, removed, path,
          flags)))
      info(s"$tpe: ${counts.map { case (op, n) => s"$op $n" }.mkString(", ")}")
      counts.foreach { case (op, got) =>
        assert(got <= ceilings(op),
          s"$tpe $op launched $got jobs, ceiling ${ceilings(op)}")
      }
    }
  }

  test("ivfflat-, ivfpq- and ivfpqr-sharded (S = 4) update, append, compact and remove stay within their job ceilings") {
    import spark.implicits._
    val base = tmpDir("jobvector")
    val pq = Map("dim" -> "4", "m" -> "2", "k" -> "2", "centroids" -> "2")
    // update (the default whole-shard merge) ceilings = the counts this
    // fixture measured while each tier rewrote whole shards under
    // per-shard pointers; the append update (--mode=append), compact and
    // remove = the counts on the shared segmented lifecycle (remove,
    // while a removal's ids were deduplicated and cached: 8, 10, 10)
    val cases = Seq(
      ("ivfflat-sharded", Map("centroids" -> "2"), Map("update" -> 8,
        "append" -> 7, "compact" -> 2, "remove" -> 5)),
      ("ivfpq-sharded", pq, Map("update" -> 12, "append" -> 11,
        "compact" -> 4, "remove" -> 8)),
      ("ivfpqr-sharded", pq, Map("update" -> 14, "append" -> 14,
        "compact" -> 4, "remove" -> 8)))
    for ((tpe, extra, ceilings) <- cases) {
      val path = s"$base/$tpe"
      val flags = extra + ("shards" -> "4")
      IndexTool.build(spark, tpe, emb(0 until 40), path, flags)
      val counts = Seq(
        "update" -> jobsOf(IndexTool.update(spark, tpe, emb(100 until 104),
          path, flags)),
        "append" -> jobsOf(IndexTool.update(spark, tpe, emb(104 until 108),
          path, flags + ("mode" -> "append"))),
        "compact" -> jobsOf(IndexTool.compact(spark, tpe, path, flags)),
        "remove" -> jobsOf(IndexTool.remove(spark, tpe,
          Seq(1L, 2L, 101L).toDF("vec_id"), path, flags)))
      info(s"$tpe: ${counts.map { case (op, n) => s"$op $n" }.mkString(", ")}")
      counts.foreach { case (op, got) =>
        assert(got <= ceilings(op),
          s"$tpe $op launched $got jobs, ceiling ${ceilings(op)}")
      }
    }
  }

  test("ivfflat, ivfpq, ivfpqr, pq, sq, ivfsq and imi (S = 1) update, append, compact and remove stay within their job ceilings") {
    import spark.implicits._
    val base = tmpDir("jobflat")
    // ceilings = the counts this fixture measures at S = 1. With their
    // own flat save, load and remove these types measured, update/remove:
    // ivfflat 8/4, ivfpq 12/7, ivfpqr 17/7, pq 6/3, sq 5/3, ivfsq 8/5,
    // imi 11/7 (no routing collect runs at S = 1, and a removal's ids
    // are neither deduplicated nor cached)
    def c(update: Int, append: Int, compact: Int, remove: Int) =
      Map("update" -> update, "append" -> append, "compact" -> compact,
        "remove" -> remove)
    val ceilings = Map("ivfflat" -> c(7, 5, 2, 3), "ivfpq" -> c(11, 9, 4, 6),
      "ivfpqr" -> c(14, 12, 4, 6), "pq" -> c(6, 6, 2, 3),
      "sq" -> c(5, 5, 2, 3), "ivfsq" -> c(6, 6, 2, 3), "imi" -> c(7, 7, 2, 3))
    for (fx <- IndexFixtures.all(spark) if ceilings.contains(fx.tpe)) {
      val path = s"$base/${fx.tpe}"
      IndexTool.build(spark, fx.tpe, fx.input, path, fx.flags)
      val counts = Seq(
        "update" -> jobsOf(IndexTool.update(spark, fx.tpe, fx.delta, path,
          fx.flags)),
        "append" -> jobsOf(IndexTool.update(spark, fx.tpe,
          fx.delta.withColumn("vec_id", $"vec_id" + 10L), path,
          fx.flags + ("mode" -> "append"))),
        "compact" -> jobsOf(IndexTool.compact(spark, fx.tpe, path, fx.flags)),
        "remove" -> jobsOf(IndexTool.remove(spark, fx.tpe, fx.removed, path,
          fx.flags)))
      info(s"${fx.tpe}: ${counts.map { case (op, n) => s"$op $n" }.mkString(", ")}")
      counts.foreach { case (op, got) =>
        assert(got <= ceilings(fx.tpe)(op),
          s"${fx.tpe} $op launched $got jobs, ceiling ${ceilings(fx.tpe)(op)}")
      }
    }
  }

  test("entity tables: building any read frame launches no job on every layout; appendChanges and compactFeed launch one; folds stay within their ceilings") {
    // fold ceilings (applyChanges, majorCompact) = the counts this
    // fixture measures with footer-schema table scans and the version cap
    // riding the staging's range exchange. Before, with a schema-inference
    // job per base, feed and touched-bucket scan: every read frame 2 jobs,
    // appendChanges and compactFeed 2, applyChanges 12/17/15/20 and
    // majorCompact 10/15/10/15 (flat, grouped, bucketed, grouped-bucketed);
    // with majorCompact's survivors as the versioned read exploded back
    // to cells (its aggregate one more shuffle job per file set), 7/12/7/12.
    val ceilings = Map("flat" -> (9, 6), "grouped" -> (14, 10),
      "bucketed" -> (11, 6), "grouped-bucketed" -> (16, 10))
    for (fx <- TableFixtures.all(spark, tmpDir("jobtable"))) {
      val t = fx.table
      val reads = Seq[(String, () => Any)](
        "cells" -> (() => t.cells),
        "read" -> (() => t.read(DataRequest(maxVersions = 2))),
        "mostRecent" -> (() => t.mostRecent()),
        "readAsOf" -> (() => t.readAsOf(26L)),
        "readAsOfOrdinal" -> (() => t.readAsOfOrdinal(1L))) ++
        fx.layout.localityGroups.keys.toSeq.sorted.map(g =>
          s"localityGroupCells($g)" -> (() => t.localityGroupCells(g)))
      reads.foreach { case (n, frame) =>
        val got = jobsOf(frame())
        assert(got == 0, s"${fx.name} $n: building the frame launched $got jobs")
      }
      val append = jobsOf(t.appendChanges(TableFixtures.batch1(spark)))
      assert(append == 1, s"${fx.name} appendChanges launched $append jobs")
      val compact = jobsOf(t.compactFeed())
      assert(compact == 1, s"${fx.name} compactFeed (3 batches) launched $compact jobs")
      val apply = jobsOf(t.applyChanges(TableFixtures.batch2(spark),
        numPartitions = 2))
      t.appendChanges(TableFixtures.batch1(spark))
      val major = jobsOf(t.majorCompact(numPartitions = 2))
      val (applyMax, majorMax) = ceilings(fx.name)
      assert(apply <= applyMax, s"${fx.name} applyChanges launched $apply jobs, ceiling $applyMax")
      assert(major <= majorMax, s"${fx.name} majorCompact launched $major jobs, ceiling $majorMax")
    }
  }
}
