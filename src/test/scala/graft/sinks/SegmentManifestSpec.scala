package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf

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
        "ivfpq-sharded" -> pq, "ivfpqr-sharded" -> pq,
        "ivfflat" -> Map("centroids" -> "2"), "ivfpq" -> pq, "ivfpqr" -> pq,
        "pq" -> (pq - "centroids"), "sq" -> Map("dim" -> "4"),
        "ivfsq" -> Map("dim" -> "4", "centroids" -> "2"),
        "imi" -> Map("dim" -> "4", "half-centroids-a" -> "2",
          "half-centroids-b" -> "2")).map { case (t, f) =>
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

  test("index-build, -update, -remove and -compact release every cache they persisted: the session caches nothing after bm25-sharded and ivfflat lifecycles") {
    graft.operators.OperatorCaches.releaseAll()
    spark.catalog.clearCache()
    val caches = spark.sharedState.cacheManager
    for ((tpe, input, delta, removed, flags) <- Seq[(String, DataFrame,
        DataFrame, DataFrame, Map[String, String])](
        ("bm25-sharded", corpus, docs(100L -> "novel words here"),
          Seq(1L, 100L).toDF("doc_id"), Map("shards" -> "4")),
        ("ivfflat", emb(0L until 12L), emb(Seq(20L, 21L)),
          Seq(1L, 20L).toDF("vec_id"), Map("centroids" -> "2")))) {
      val path = s"${tmpDir(tpe)}/idx"
      IndexTool.build(spark, tpe, input, path, flags)
      IndexTool.update(spark, tpe, delta, path, flags)
      IndexTool.remove(spark, tpe, removed, path, flags)
      IndexTool.compact(spark, tpe, path, flags)
      assert(caches.isEmpty, s"$tpe: the verbs left cached frames behind")
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

  /** `n` rows whose lineage counts every row it computes in `evals`. */
  private def counted(n: Int, evals: org.apache.spark.util.LongAccumulator)
      : DataFrame = {
    val tick = udf((x: Long) => { evals.add(1L); x })
    spark.range(n).select(tick($"id").as("id"))
  }

  test("staging rounds: two writes reading one unfilled cache stage in two rounds and compute its lineage once; once it is filled, or with no cache, they stage in one") {
    val evals = spark.sparkContext.longAccumulator("rounds")
    val base = counted(40, evals).persist()
    val a = base.select(($"id" * 2).as("v"))
    val b = base.groupBy(($"id" % 3).as("k")).count()
    try {
      assert(ShardedCommit.rounds(Seq(a, b)) == Seq(Seq(0), Seq(1)))
      val dir = tmpDir("rounds")
      ShardedCommit.stageAll(Seq("a" -> a, "b" -> b).map { case (n, df) =>
        (n, df, (d: DataFrame) => d.write.parquet(s"$dir/$n")) })
      assert(evals.value == 40L, "the shared lineage ran more than once per row")
      assert(spark.read.parquet(s"$dir/b").count() == 3L)
    } finally base.unpersist(blocking = true)
    val filled = counted(40, evals).persist()
    try {
      filled.count()
      assert(ShardedCommit.rounds(Seq(filled.select(($"id" * 2).as("v")),
        filled.groupBy(($"id" % 3).as("k")).count())) == Seq(Seq(0, 1)))
    } finally filled.unpersist(blocking = true)
    assert(ShardedCommit.rounds(Seq(spark.range(5).toDF(),
      spark.range(3).select(($"id" + 1).as("v")), spark.range(2).toDF()))
      == Seq(Seq(0, 1, 2)))
  }

  test("bm25-sharded docfreq stages in the first round of a compaction and an update, and in the second of a save and a removal, where it reads an unfilled postings cache") {
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    val Docfreq = """.* docfreq round (\d+)""".r
    /** The rounds `body`'s docfreq staging jobs ran in. */
    def docfreqRounds(body: => Any): Set[Int] = {
      ListenerDrain(spark.sparkContext)
      descriptions.clear()
      body
      ListenerDrain(spark.sparkContext)
      descriptions.toArray(Array.empty[String]).collect {
        case Docfreq(r) => r.toInt }.toSet
    }
    val tpe = "bm25-sharded"
    val flags = Map("shards" -> "4")
    val path = s"${tmpDir("bm25rounds")}/idx"
    spark.sparkContext.addSparkListener(listener)
    try {
      // a corpus no other build read: its postings are not cached yet
      val fresh = docs(0L -> "staging rounds corpus one", 1L -> "rounds two",
        2L -> "corpus three four")
      assert(docfreqRounds(IndexTool.build(spark, tpe, fresh, path,
        flags)) == Set(1), "save")
      assert(docfreqRounds(IndexTool.update(spark, tpe,
        docs(10L -> "spark join fresh words"), path, flags)) == Set(0),
        "append-mode update")
      assert(docfreqRounds(IndexTool.compact(spark, tpe, path, flags))
        == Set(0), "compaction")
      assert(docfreqRounds(IndexTool.remove(spark, tpe,
        Seq(1L, 10L).toDF("doc_id"), path, flags)) == Set(1), "removal")
      // a merge-mode update's routing collect fills the delta's postings
      // cache too, so its docfreq reads no pending cache either
      assert(docfreqRounds(IndexTool.update(spark, tpe,
        docs(11L -> "row batch merge words"), path,
        flags + ("mode" -> "merge"))) == Set(0), "merge-mode update")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
