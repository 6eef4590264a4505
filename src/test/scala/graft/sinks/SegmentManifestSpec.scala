package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

import graft.{IndexTool, SparkSpec, Tool}
import graft.operators.{Bpe, Clustering, Retrieval}

/** The segmented tiers' one-manifest layout: shard roots hold only data
  * segments, retention leaks no segment on the commit path, and a
  * writer that loses the manifest CAS leaves only segments `index-gc`
  * sweeps. */
class SegmentManifestSpec extends SparkSpec {

  import spark.implicits._

  private def fsOf(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Entry names of `dir`, without Hadoop's `.crc` sidecars. */
  private def names(dir: String): Seq[String] =
    fsOf(dir).listStatus(new Path(dir)).map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") && n.endsWith(".crc")).toSeq

  /** Every manifest generation present under the artifact generation
    * `base`, by generation name. */
  private def manifests(base: String): Map[String, SegmentStore.Manifest] = {
    val root = s"$base/${SegmentStore.ManifestFile}"
    names(root).filter(ArtifactStore.isGenName).map { g =>
      val f = s"$root/$g/${SegmentStore.ManifestFile}"
      val src = scala.io.Source.fromFile(new Path(f).toUri.getPath, "UTF-8")
      try g -> SegmentStore.parseManifest(f, src.mkString) finally src.close()
    }.toMap
  }

  /** Every `_seg_*` directory on disk under the live manifest's roots,
    * as `<root>/<seg>`. */
  private def onDisk(base: String): Set[String] =
    SegmentStore.pin(spark, base).manifest.roots.keys.flatMap { key =>
      names(s"$base/$key").filter(SegmentStore.isSegName).map(s => s"$key/$s")
    }.toSet

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def emb(ids: Seq[Long]): DataFrame = ids.map { i =>
      val v = Array(1f, 1f, 1f, 1f); v((i % 4).toInt) = 10f + i * 0.01f
      (i, v.toSeq)
    }.toDF("vec_id", "embedding")
    .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))

  private val corpus = docs(
    0L -> "spark join hash table scan batch",
    1L -> "row batch filter merge plan",
    2L -> "slow order vector line agg",
    3L -> "spark join hash table scan rows",
    4L -> "bloom filter shard segment commit",
    5L -> "another fresh document body row")

  test("after 3 rounds of update, compact and remove on every segmented tier, shard roots hold only segments and every segment on disk is named by the live or the retained manifest") {
    val docFlags = Map("shards" -> "4")
    val pq = Map("dim" -> "4", "m" -> "2", "k" -> "2", "centroids" -> "2")
    val cases = Seq[(String, DataFrame, Int => DataFrame, Int => DataFrame,
        Map[String, String])](
      ("bm25-sharded", corpus,
        r => docs((100L + r) -> s"novel words round$r here"),
        r => Seq(r.toLong, 100L + r).toDF("doc_id"), docFlags),
      ("lsh-sharded", corpus,
        r => docs((100L + r) -> "spark join hash table scan batch"),
        r => Seq(r.toLong, 100L + r).toDF("doc_id"),
        docFlags + ("shingle-n" -> "2")),
      ("cdc-sharded", corpus,
        r => docs((100L + r) -> s"fresh chunk text round $r body"),
        r => Seq(r.toLong, 100L + r).toDF("doc_id"),
        docFlags + ("avg-mask" -> "3")),
      ("semdedup-sharded", emb(0L until 12L),
        r => emb(Seq(20L + 2 * r, 21L + 2 * r)),
        r => Seq(r.toLong, 20L + 2 * r).toDF("vec_id"),
        docFlags ++ Map("coarse-k" -> "2", "target-rows" -> "4",
          "cluster-cap" -> "64"))) ++
      Seq("ivfflat-sharded" -> Map("centroids" -> "2"),
        "ivfpq-sharded" -> pq, "ivfpqr-sharded" -> pq).map { case (t, f) =>
        (t, emb(0L until 12L), (r: Int) => emb(Seq(20L + 2 * r, 21L + 2 * r)),
          (r: Int) => Seq(r.toLong, 20L + 2 * r).toDF("vec_id"),
          docFlags ++ f + ("mode" -> "append"))
      }
    for ((tpe, input, delta, removed, flags) <- cases) {
      val path = s"${tmpDir(tpe)}/idx"
      IndexTool.build(spark, tpe, input, path, flags)
      for (r <- 0 until 3) {
        IndexTool.update(spark, tpe, delta(r), path, flags)
        IndexTool.compact(spark, tpe, path, flags)
        IndexTool.remove(spark, tpe, removed(r), path, flags)
      }
      val base = ArtifactStore.resolve(spark, path)
      val live = SegmentStore.pin(spark, base)
      for (key <- live.manifest.roots.keys) {
        val strays = names(s"$base/$key").filterNot(SegmentStore.isSegName)
        assert(strays.isEmpty,
          s"$tpe: root $key holds more than segments: $strays")
      }
      val present = manifests(base)
      assert(present.size == 2 && present.contains(live.loaded.get),
        s"$tpe: expected the live and one retained manifest: ${present.keys}")
      val leaked = onDisk(base) -- present.values.flatMap(_.named)
      assert(leaked.isEmpty, s"$tpe: segments no manifest names: $leaked")
    }
  }

  test("a bm25-sharded append that loses its CAS leaves the winner's view; index-describe counts its segments as orphan_segments and index-gc sweeps exactly those") {
    val tpe = "bm25-sharded"
    val flags = Map("shards" -> "4")
    val path = s"${tmpDir("bm25cas")}/idx"
    val ref = s"${tmpDir("bm25casref")}/idx"
    val winner = docs(20L -> "spark join novel words here")
    val loser = docs(21L -> "row filter other novel text")
    IndexTool.build(spark, tpe, corpus, path, flags)
    IndexTool.build(spark, tpe, corpus, ref, flags)
    IndexTool.update(spark, tpe, winner, ref, flags)
    // the loser pins, then the winner commits before the loser's commit
    val fold = Retrieval.Bm25Sharded.delta(Bpe.docWords(loser, "doc_id", "text")
      .select($"doc_id", $"word".as("term")))
    var afterWinner = Set.empty[String]
    val raced = graft.sinks.SegmentedIndex.Fold(fold.tier, o => {
      val w = fold.plan(o)
      w.copy(rows = s => {
        IndexTool.update(spark, tpe, winner, path, flags)
        afterWinner = onDisk(ArtifactStore.resolve(spark, path))
        w.rows(s)
      })
    })
    val e = intercept[IllegalStateException](
      SegmentedIndex.update(spark, path, raced))
    assert(e.getMessage.contains("concurrent writer"), e.getMessage)
    val base = ArtifactStore.resolve(spark, path)
    val loserSegs = onDisk(base) -- afterWinner
    assert(loserSegs.nonEmpty, "the refused append landed no segment")
    assert((loserSegs & manifests(base).values.flatMap(_.named).toSet).isEmpty,
      s"a refused append's segment is named by a manifest: $loserSegs")
    val probe = docs(30L -> "spark join novel", 31L -> "row filter text")
    def served(p: String) = IndexTool.serve(spark, tpe, probe, p,
      flags + ("topk" -> "5")).orderBy("q_id", "rank").collect().toSeq
    val want = served(ref)
    assert(want.nonEmpty && served(path) == want,
      "serves must equal the winner's view")
    assert(IndexTool.describe(spark, tpe, path)("orphan_segments") ==
      loserSegs.size.toLong)
    val gc = Tool.run(spark, Array("index-gc", s"--path=$path", "--grace-ms=0"))
    assert(gc.counters("swept_segments") == loserSegs.size.toLong,
      gc.counters.toString)
    assert(onDisk(base) == afterWinner,
      "index-gc must sweep exactly the refused append's segments")
    assert(IndexTool.describe(spark, tpe, path)("orphan_segments") == 0L)
    assert(served(path) == want)
  }

  test("a segmented artifact with no segment manifest (the per-shard-root layout) fails loudly on load, naming index-build") {
    for ((tpe, input, flags, tier) <- Seq[(String, DataFrame,
        Map[String, String], SegmentedIndex.Tier[_])](
        ("bm25-sharded", corpus, Map.empty, Retrieval.Bm25Sharded),
        ("ivfflat-sharded", emb(0L until 12L), Map("centroids" -> "2"),
          Clustering.IvfFlatSharded))) {
      val path = s"${tmpDir(s"$tpe-old")}/idx"
      IndexTool.build(spark, tpe, input, path, flags + ("shards" -> "2"))
      val base = ArtifactStore.resolve(spark, path)
      fsOf(base).delete(new Path(base, SegmentStore.ManifestFile), true)
      val e = intercept[IllegalStateException](
        SegmentedIndex.load(spark, tier, path))
      assert(e.getMessage.contains("index-build"), s"$tpe: ${e.getMessage}")
    }
  }
}
