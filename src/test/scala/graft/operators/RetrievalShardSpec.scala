package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.{IndexTool, SparkSpec}
import graft.sinks.{ArtifactStore, SegmentStore}

/** Routing of the sharded BM25 artifact: compaction and removal read
  * each surface as one scan over all shards and recompute every row's
  * shard from its routing hash, so the rows they write back must land
  * exactly where the build and the updates put them. */
class RetrievalShardSpec extends SparkSpec {

  import spark.implicits._

  private val S = 4

  /** Every live row of every shard, checked against the routing hash:
    * term shards hold `pmod(xxhash64(term), S) == s` postings and
    * docfreq rows, doc shards `pmod(doc_id, S) == s` doclen rows. */
  private def assertRouted(path: String, after: String): Unit = {
    val base = ArtifactStore.resolve(spark, path)
    def live(family: String, sh: Int, surface: String): DataFrame = {
      val root = s"$base/$family/$sh"
      spark.read.parquet(SegmentStore.surfacePathsAt(spark, root,
        ArtifactStore.resolve(spark, root), surface): _*)
    }
    val termShard = pmod(xxhash64(col("term")), lit(S.toLong)).cast("int")
    val docShard = pmod(col("doc_id"), lit(S.toLong)).cast("int")
    val checks = (0 until S).flatMap { sh =>
      Seq(("shards", "postings", termShard), ("shards", "docfreq", termShard),
        ("docshards", "doclen", docShard)).map { case (fam, surface, hash) =>
        val rows = live(fam, sh, surface)
        (s"$fam/$sh/$surface", rows.count(),
          rows.filter(hash =!= sh).count())
      }
    }
    checks.foreach { case (what, _, misrouted) =>
      assert(misrouted == 0, s"after $after: $what holds $misrouted rows " +
        "of another shard")
    }
    Seq("postings", "docfreq", "doclen").foreach { surface =>
      assert(checks.filter(_._1.endsWith(surface)).map(_._2).sum > 0,
        s"after $after: no $surface rows at all")
    }
  }

  test("bm25-sharded compaction and removal keep every live row in the shard its routing hash names") {
    val path = s"${tmpDir("bm25route")}/bm25"
    val flags = Map("shards" -> S.toString)
    def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
    IndexTool.build(spark, "bm25-sharded", docs(
      0L -> "spark join hash table scan batch",
      1L -> "row batch filter merge plan",
      2L -> "slow order vector line agg",
      3L -> "spark join hash table scan rows"), path, flags)
    IndexTool.update(spark, "bm25-sharded",
      docs(10L -> "completely novel content here today"), path, flags)
    IndexTool.update(spark, "bm25-sharded",
      docs(11L -> "bloom filter shard segment commit spark",
        12L -> "another fresh document body row"), path, flags)
    IndexTool.compact(spark, "bm25-sharded", path, flags)
    assertRouted(path, "index-compact")
    IndexTool.remove(spark, "bm25-sharded",
      Seq(1L, 10L, 12L).toDF("doc_id"), path, flags)
    assertRouted(path, "index-remove")
  }
}
