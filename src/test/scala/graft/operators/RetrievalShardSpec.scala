package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.{IndexTool, SparkSpec}
import graft.sinks.{ArtifactStore, SegmentStore, SegmentedIndex}

/** Routing of the segmented artifacts: compaction and removal read each
  * surface as one scan over all shards and recompute every row's shard
  * from its routing hash, so the rows they write back must land exactly
  * where the build and the updates put them. */
class RetrievalShardSpec extends SparkSpec {

  import spark.implicits._

  private val S = 4

  /** Every live row of every shard of `family` holds rows whose `hash`
    * names that shard, for each `(surface, hash)`; the `nonEmpty`
    * surfaces hold rows at all. */
  private def assertRouted(path: String, after: String, family: String,
                           surfaces: Seq[(String, Column)],
                           nonEmpty: Set[String]): Unit = {
    val pinned = SegmentStore.pin(spark, ArtifactStore.resolve(spark, path))
    val checks = for (sh <- 0 until S; (surface, hash) <- surfaces) yield {
      val rows = spark.read.parquet(
        pinned.paths(s"$family/$sh", surface): _*)
      (surface, s"$family/$sh/$surface", rows.count(),
        rows.filter(hash =!= sh).count())
    }
    checks.foreach { case (_, what, _, misrouted) =>
      assert(misrouted == 0, s"after $after: $what holds $misrouted rows " +
        "of another shard")
    }
    nonEmpty.foreach { surface =>
      assert(checks.filter(_._1 == surface).map(_._3).sum > 0,
        s"after $after: no $surface rows at all")
    }
  }

  private def shardOf(cols: String*): Column =
    pmod(xxhash64(cols.map(col): _*), lit(S.toLong)).cast("int")

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private val corpus = docs(
    0L -> "spark join hash table scan batch",
    1L -> "row batch filter merge plan",
    2L -> "slow order vector line agg",
    3L -> "spark join hash table scan rows")
  private val deltas = Seq(
    docs(10L -> "completely novel content here today"),
    docs(11L -> "bloom filter shard segment commit spark",
      12L -> "another fresh document body row"))

  /** Build, two append updates, `index-compact`, `index-remove`, with
    * `check(after)` after the appends, the compaction and the removal. */
  private def lifecycle(tpe: String, input: DataFrame,
                        updates: Seq[DataFrame], removed: DataFrame,
                        extra: Map[String, String])(
                        check: (String, String) => Unit): Unit = {
    val path = s"${tmpDir(tpe)}/idx"
    val flags = extra + ("shards" -> S.toString)
    IndexTool.build(spark, tpe, input, path, flags)
    updates.foreach(d => IndexTool.update(spark, tpe, d, path, flags))
    check(path, "two append updates")
    IndexTool.compact(spark, tpe, path, flags)
    check(path, "index-compact")
    IndexTool.remove(spark, tpe, removed, path, flags)
    check(path, "index-remove")
  }

  test("bm25-sharded compaction and removal keep every live row in the shard its routing hash names") {
    val path = s"${tmpDir("bm25route")}/bm25"
    val flags = Map("shards" -> S.toString)
    def assertBm25Routed(after: String): Unit = {
      assertRouted(path, after, "shards", Seq("postings" -> shardOf("term"),
        "docfreq" -> shardOf("term")), Set("postings", "docfreq"))
      assertRouted(path, after, "docshards",
        Seq("doclen" -> pmod(col("doc_id"), lit(S.toLong)).cast("int")),
        Set("doclen"))
    }
    IndexTool.build(spark, "bm25-sharded", corpus, path, flags)
    deltas.foreach(d => IndexTool.update(spark, "bm25-sharded", d, path, flags))
    IndexTool.compact(spark, "bm25-sharded", path, flags)
    assertBm25Routed("index-compact")
    IndexTool.remove(spark, "bm25-sharded",
      Seq(1L, 10L, 12L).toDF("doc_id"), path, flags)
    assertBm25Routed("index-remove")
  }

  test("lsh-sharded appends, compaction and removal keep every live row in the shard pmod(xxhash64(band, bkey), S) names") {
    // the second delta copies doc 0, so its shadow segments re-census
    // buckets that already hold rows and mask them
    lifecycle("lsh-sharded", corpus,
      Seq(deltas.head, docs(11L -> "spark join hash table scan batch")),
      Seq(1L, 10L, 11L).toDF("doc_id"), Map("shingle-n" -> "2")) {
      (path, after) =>
        assertRouted(path, after, "shards",
          Seq("sig" -> shardOf("band", "bkey"),
            "mask" -> shardOf("band", "bkey")), Set("sig"))
    }
  }

  test("cdc-sharded appends, compaction and removal keep every live row in the shard pmod(xxhash64(h), S) names") {
    lifecycle("cdc-sharded", corpus, deltas, Seq(1L, 10L, 12L).toDF("doc_id"),
      Map("avg-mask" -> "3")) { (path, after) =>
      assertRouted(path, after, "shards",
        Seq("chunks" -> shardOf("h"), "rollup" -> shardOf("h")),
        Set("chunks", "rollup"))
    }
  }

  test("semdedup-sharded appends, compaction and removal keep every live row in the shard pmod(vid, S) names") {
    lifecycle("semdedup-sharded", emb(0L until 12L),
      Seq(emb(Seq(20L, 21L)), emb(Seq(22L, 23L, 25L))),
      Seq(1L, 20L, 25L).toDF("vec_id"),
      Map("coarse-k" -> "2", "target-rows" -> "4", "cluster-cap" -> "64")) {
      (path, after) =>
        assertRouted(path, after, "shards",
          Seq("assign" -> pmod(col("vid"), lit(S.toLong)).cast("int")),
          Set("assign"))
    }
  }

  private def emb(ids: Seq[Long]): DataFrame = ids.map { i =>
      val v = Array(1f, 1f, 1f, 1f); v((i % 4).toInt) = 10f + i * 0.01f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))

  /** A vector tier's lifecycle with appended updates (`--mode=append`;
    * the tiers merge by default): every row of every live segment of
    * `shards/<s>` has `pmod(n_id, S) = s`; with `codes`, each segment's
    * cells ids are exactly its codes ids, `m` code rows each — a vector's
    * cells row and its code rows share one segment. Each segment reads on
    * its own: Spark refuses one scan over several `c_id=` directory
    * roots. */
  private def vectorLifecycle(tpe: String, surfaces: Seq[String],
                              extra: Map[String, String], m: Int = 0): Unit =
    lifecycle(tpe, emb(0L until 12L), Seq(emb(Seq(20L, 21L)),
      emb(Seq(22L, 23L, 25L))), Seq(1L, 20L, 25L).toDF("vec_id"),
      extra + ("mode" -> "append")) {
      (path, after) =>
        val pinned = SegmentStore.pin(spark, ArtifactStore.resolve(spark, path))
        val rows = for (sh <- 0 until S;
                        segs = surfaces.map(sf => pinned.paths(s"shards/$sh", sf));
                        seg <- segs.transpose) yield {
          val read = surfaces.zip(seg.map(spark.read.parquet(_))).toMap
          read.foreach { case (sf, df) =>
            val misrouted = df.filter(
              pmod(col("n_id"), lit(S.toLong)).cast("int") =!= sh).count()
            assert(misrouted == 0, s"after $after: shards/$sh $sf holds " +
              s"$misrouted rows of another shard")
          }
          read.get("codes").foreach { codes =>
            val cellIds = read("cells").select("n_id").as[Long].collect().toSet
            val perId = codes.groupBy("n_id").count().as[(Long, Long)]
              .collect().toMap
            assert(perId.keySet == cellIds && perId.values.forall(_ == m),
              s"after $after: a shards/$sh segment splits cells $cellIds " +
                s"from codes $perId")
          }
          read(surfaces.head).count()
        }
        assert(rows.sum > 0, s"after $after: no ${surfaces.head} rows at all")
    }

  test("ivfflat-sharded appends, compaction and removal keep every live row in the shard pmod(n_id, S) names") {
    vectorLifecycle("ivfflat-sharded", Seq("postings"), Map("centroids" -> "2"))
  }

  test("ivfpq-sharded appends, compaction and removal keep every live row in the shard pmod(n_id, S) names, each id's cells and codes in one segment") {
    vectorLifecycle("ivfpq-sharded", Seq("cells", "codes"),
      Map("dim" -> "4", "m" -> "2", "k" -> "2", "centroids" -> "2"), m = 2)
  }

  test("ivfpqr-sharded appends, compaction and removal keep every live row in the shard pmod(n_id, S) names, each id's cells and codes in one segment") {
    vectorLifecycle("ivfpqr-sharded", Seq("cells", "codes"),
      Map("dim" -> "4", "m" -> "2", "k" -> "2", "centroids" -> "2"), m = 2)
  }

  test("an lsh-sharded compaction pinned before a concurrent append reads the pinned segments, fails its commit with 'concurrent writer', and the append survives") {
    val path = s"${tmpDir("lshrace")}/lsh"
    val flags = Map("shards" -> S.toString, "shingle-n" -> "2")
    IndexTool.build(spark, "lsh-sharded", corpus, path, flags)
    val pinned = SegmentedIndex.pinAll(spark, Dedup.LshSharded, path)
    // the append commits between the compaction's pins and its commit
    IndexTool.update(spark, "lsh-sharded",
      docs(30L -> "spark join hash table scan batch"), path, flags)
    val pinnedIds = pinned.live("sig").select("id").distinct().as[Long]
      .collect().toSet
    assert(pinnedIds == Set(0L, 1L, 2L, 3L),
      s"the pinned scan must read the pinned generations only: $pinnedIds")
    val e = intercept[IllegalStateException](SegmentedIndex.compact(pinned))
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    val live = SegmentedIndex.load(spark, Dedup.LshSharded, path)
      .select("id").distinct().as[Long].collect().toSet
    assert(live == Set(0L, 1L, 2L, 3L, 30L),
      s"the append's rows must survive the refused compaction: $live")
  }
}
