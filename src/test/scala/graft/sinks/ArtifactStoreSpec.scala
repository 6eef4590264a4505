package graft.sinks

import graft.{IndexFixtures, IndexTool, SparkSpec}
import graft.operators.{Dedup, Retrieval}
import org.apache.spark.sql.DataFrame

/** The versioned-generation artifact protocol (FIXTURES.md §10):
  * compare-and-swap commits, loud racing-writer failure, crashed-writer
  * orphan detection/sweep, and reader continuity across an update. */
class ArtifactStoreSpec extends SparkSpec {

  import spark.implicits._

  private def corpusDocs: DataFrame = Seq(
    (0L, "spark join hash table scan batch"),
    (1L, "row batch filter merge plan"),
    (2L, "slow order vector line agg")).toDF("doc_id", "text")

  test("commitGen: CAS refuses a stale expected generation, deletes the loser, retains exactly one displaced generation") {
    val path = s"${tmpDir("artcas")}/art"
    def writeGen(loaded: Option[String]): String = {
      val g = ArtifactStore.newGenDir(spark, path, loaded)
      Seq((1L, "x")).toDF("id", "v").write.parquet(g)
      g
    }
    // first commit: legacy-empty root -> gen 1
    val gA = writeGen(None)
    ArtifactStore.commitGen(spark, path, gA, None)
    val aName = new org.apache.hadoop.fs.Path(gA).getName
    assert(ArtifactStore.currentGen(spark, path).contains(aName))
    // second commit on top of A: pointer flips, A retained (displaced)
    val gB = writeGen(Some(aName))
    ArtifactStore.commitGen(spark, path, gB, Some(aName))
    val bName = new org.apache.hadoop.fs.Path(gB).getName
    assert(ArtifactStore.currentGen(spark, path).contains(bName))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(gA)),
      "displaced generation must be retained for in-flight readers")
    // stale CAS: a writer that loaded A tries to commit after B landed —
    // must fail LOUDLY, delete its own generation, leave the pointer on B
    val gC = writeGen(Some(aName))
    val e = intercept[IllegalStateException](
      ArtifactStore.commitGen(spark, path, gC, Some(aName)))
    assert(e.getMessage.contains("concurrent writer"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(gC)),
      "loser's generation must be cleaned up")
    assert(ArtifactStore.currentGen(spark, path).contains(bName))
    // third VALID commit sweeps the older-than-displaced generation A
    val gD = writeGen(Some(bName))
    ArtifactStore.commitGen(spark, path, gD, Some(bName))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(gA)),
      "generations older than the displaced one are swept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(gB)))
    // claim is never left behind by a successful or failed commit
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path,
      ArtifactStore.ClaimFile)))
  }

  test("racing index-updates on one artifact serialize or fail loudly; no delta is silently dropped (lsh + bm25)") {
    val base = tmpDir("artrace")
    val deltas = Seq(
      Seq((10L, "completely novel content here today")).toDF("doc_id", "text"),
      Seq((11L, "another unrelated fresh document body")).toDF("doc_id", "text"))
    for (tpe <- Seq("lsh", "bm25")) {
      val path = s"$base/$tpe"
      IndexTool.build(spark, tpe, corpusDocs, path, Map.empty)
      // two writers, same base generation, different deltas
      val results = new java.util.concurrent.ConcurrentHashMap[Int, Option[Throwable]]()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val threads = deltas.zipWithIndex.map { case (d, i) =>
        new Thread(() => {
          barrier.await()
          try { IndexTool.update(spark, tpe, d, path, Map.empty); results.put(i, None) }
          catch { case t: Throwable => results.put(i, Some(t)) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val failures = (0 to 1).flatMap(i => results.get(i).map(i -> _))
      // every failure is the LOUD kind, naming the conflict
      failures.foreach { case (_, t) =>
        assert(t.isInstanceOf[IllegalStateException] &&
          t.getMessage.contains("concurrent writer"),
          s"$tpe: racing update failed for the wrong reason: $t")
      }
      assert(failures.size <= 1, s"$tpe: at most one racer may lose")
      // final artifact == fresh build over corpus + the SUCCESSFUL deltas
      val applied = deltas.zipWithIndex
        .filter { case (_, i) => results.get(i).isEmpty }.map(_._1)
      val expectedDocs = applied.foldLeft(corpusDocs)(_ unionByName _)
      val rebuilt = s"$base/$tpe-rebuilt"
      IndexTool.build(spark, tpe, expectedDocs, rebuilt, Map.empty)
      def table(p: String): Set[Seq[Any]] = tpe match {
        case "lsh" => Dedup.loadLshIndex(spark, p).collect().map(_.toSeq).toSet
        case _ => Retrieval.loadBm25Index(spark, p).postings
          .collect().map(_.toSeq).toSet
      }
      assert(table(path) == table(rebuilt),
        s"$tpe: artifact after the race != rebuild over applied deltas " +
          s"(applied: ${applied.size}/2) — a delta was dropped or duplicated")
    }
  }

  test("crashed writer: orphan generation leaves old index serving, is reported by describe, swept by next commit; in-flight reader survives an update") {
    val base = tmpDir("artcrash")
    val path = s"$base/lsh"
    IndexTool.build(spark, "lsh", corpusDocs, path, Map.empty)
    val probe = Seq((20L, "spark join hash table scan batch"))
      .toDF("doc_id", "text")
    def served(): Set[Seq[Any]] =
      IndexTool.serve(spark, "lsh", probe, path,
        Map("threshold" -> "0.5")).collect().map(_.toSeq).toSet
    val before = served()
    assert(before.nonEmpty)
    // simulate a writer crashing between its staged generation write and
    // the pointer flip: a filled generation directory, no commit
    val cur = ArtifactStore.currentGen(spark, path)
    val orphan = ArtifactStore.newGenDir(spark, path, cur)
    Seq((99L, 0L, 0L)).toDF("id", "band", "bkey").write.parquet(orphan)
    assert(served() == before, "crashed update must leave the old index serving")
    val counters = IndexTool.describe(spark, "lsh", path)
    assert(counters("orphan_generations") == 1L,
      s"describe must surface the orphan: $counters")
    assert(counters("commit_claim_present") == 0L)
    // an in-flight reader planned against the live generation BEFORE an
    // update still reads its files afterwards (displaced-gen retention)
    val planned = Dedup.loadLshIndex(spark, path)
    val plannedRows = planned.count()
    IndexTool.update(spark, "lsh",
      Seq((10L, "completely novel content here")).toDF("doc_id", "text"),
      path, Map.empty)
    assert(planned.count() == plannedRows,
      "in-flight reader lost its generation after one update")
    // the successful commit swept the crashed writer's orphan
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(orphan)),
      "next successful commit must sweep the orphan")
    // post-update: exactly the displaced generation remains non-live
    assert(IndexTool.describe(spark, "lsh", path)("orphan_generations") == 1L)
  }

  test("generation longevity: a long update chain keeps exactly live+displaced on disk and stays fold-exact") {
    val base = tmpDir("artchain")
    val path = s"$base/bm25"
    IndexTool.build(spark, "bm25", corpusDocs, path, Map.empty)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def genCount: Int = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).count(ArtifactStore.isGenName)
    val texts = Seq("alpha beta words", "gamma delta words",
      "epsilon zeta words", "eta theta words", "iota kappa words",
      "lambda mu words")
    texts.zipWithIndex.foreach { case (t, i) =>
      IndexTool.update(spark, "bm25",
        Seq((100L + i, t)).toDF("doc_id", "text"), path, Map.empty)
      assert(genCount <= 2,
        s"update ${i + 1}: retention must keep at most live+displaced")
    }
    // after six folds the artifact equals one fresh build over the union
    val union = texts.zipWithIndex
      .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
      .unionByName(corpusDocs)
    val rebuilt = s"$base/bm25-rebuilt"
    IndexTool.build(spark, "bm25", union, rebuilt, Map.empty)
    def postings(p: String) = Retrieval.loadBm25Index(spark, p).postings
      .collect().map(_.toSeq).toSet
    assert(postings(path) == postings(rebuilt))
  }

  test("index-update re-ingestion guard: an overlapping delta id fails loudly (bm25 + cdc); --skip-disjoint-check waives it") {
    val base = tmpDir("artguard")
    for (tpe <- Seq("bm25", "cdc")) {
      val path = s"$base/$tpe"
      IndexTool.build(spark, tpe, corpusDocs, path, Map.empty)
      val replay = Seq((1L, "row batch filter merge plan"))
        .toDF("doc_id", "text") // doc 1 is already indexed
      val e = intercept[IllegalArgumentException](
        IndexTool.update(spark, tpe, replay, path, Map.empty))
      assert(e.getMessage.contains("already in the artifact"),
        s"$tpe: wrong guard failure: ${e.getMessage}")
      // the waiver proceeds (the scheduler claims disjointness)
      IndexTool.update(spark, tpe,
        Seq((30L, "fresh unseen words entirely")).toDF("doc_id", "text"),
        path, Map("skip-disjoint-check" -> "true"))
    }
  }

  test("index-gc sweeps crashed-writer orphans without a commit; keeps live + displaced unless --all") {
    val path = s"${tmpDir("artgc")}/art"
    def writeGen(loaded: Option[String]): String = {
      val g = ArtifactStore.newGenDir(spark, path, loaded)
      Seq((1L, "x")).toDF("id", "v").write.parquet(g)
      g
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gens: Set[String] = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName).filter(ArtifactStore.isGenName).toSet
    // live A, displaced is simulated by committing B on top; then two
    // CRASHED writers leave orphan generations (written, never committed)
    val gA = writeGen(None)
    ArtifactStore.commitGen(spark, path, gA, None)
    val aName = new org.apache.hadoop.fs.Path(gA).getName
    val gB = writeGen(Some(aName))
    ArtifactStore.commitGen(spark, path, gB, Some(aName))
    val bName = new org.apache.hadoop.fs.Path(gB).getName
    writeGen(Some(bName)); writeGen(Some(bName)) // crashed: no commit
    assert(gens.size == 4)
    // default sweep with the default staging grace: the above-live
    // orphans were JUST written, indistinguishable from a writer still
    // staging — spared (a sweep of an active staging wastes its work)
    assert(ArtifactStore.sweep(spark, path, keepDisplaced = true).isEmpty)
    assert(gens.size == 4)
    // past the grace window (grace = 0 here): the CRASHED orphans
    // (ordinal above the live gen) go; the live generation AND the true
    // displaced one (highest ordinal BELOW live — what in-flight readers
    // resolved) stay
    val swept = ArtifactStore.sweep(spark, path, keepDisplaced = true,
      stagingGraceMs = 0L)
    assert(swept.size == 2, s"swept $swept")
    assert(gens == Set(aName, bName), gens)
    // --all: only the live generation survives (maintenance window —
    // grace does not apply: the operator asserts no writers exist)
    assert(ArtifactStore.sweep(spark, path, keepDisplaced = false) ==
      Seq(aName))
    assert(gens == Set(bName))
    // the CLI verb wires through and the claim is released (a follow-up
    // works); a crashed orphan IS swept by the default gc once it ages
    // past the grace (forced here via --grace-ms=0) — it is never
    // mistaken for the displaced generation
    writeGen(Some(bName))
    val r = graft.Tool.run(spark,
      Array("index-gc", s"--path=$path", "--grace-ms=0"))
    assert(r.status == "SUCCEEDED" &&
      r.counters("swept_generations") == 1L, r.counters)
    assert(graft.Tool.run(spark,
        Array("index-gc", s"--path=$path", "--all=true"))
      .counters("swept_generations") == 0L)
    // --all value is validated up front, naming the flag
    val badAll = intercept[IllegalArgumentException](graft.Tool.run(spark,
      Array("index-gc", s"--path=$path", "--all=1")))
    assert(badAll.getMessage.contains("--all") &&
      badAll.getMessage.contains("true"), badAll.getMessage)
    val flat = s"${tmpDir("artgcflat")}/flat"
    Seq((1L, "x")).toDF("id", "v").write.parquet(flat)
    assert(graft.Tool.run(spark, Array("index-gc", s"--path=$flat"))
      .counters("swept_generations") == 0L)
    // a typo'd path fails immediately with guidance, not a 10-second
    // claim-retry loop blaming a phantom concurrent commit
    val missing = intercept[IllegalArgumentException](
      ArtifactStore.sweep(spark, s"${tmpDir("artgcmiss")}/nope",
        keepDisplaced = true))
    assert(missing.getMessage.contains("no artifact at"), missing.getMessage)
  }

  test("generation directories are invisible to legacy flat readers: a crashed first commit never corrupts root reads") {
    import spark.implicits._
    // a LEGACY flat artifact/table: plain parquet at the root
    val root = s"${tmpDir("artlegacy")}/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(root)
    // a writer stages the FIRST generation and crashes before the
    // pointer flip — the underscore-prefixed gen dir must stay invisible
    // to every reader still resolving the legacy root (Spark listing
    // skips underscore paths), instead of surfacing conflicting
    // directory structures / double reads
    val gen = ArtifactStore.newGenDir(spark, root, None)
    assert(new org.apache.hadoop.fs.Path(gen).getName.startsWith("_"),
      s"generation dirs must be underscore-prefixed: $gen")
    Seq((9L, "x")).toDF("id", "v").write.parquet(gen)
    assert(ArtifactStore.currentGen(spark, root).isEmpty)
    assert(spark.read.parquet(root).count() == 2L,
      "legacy root read must see ONLY the legacy files")
    // after the (retried) commit, readers resolve the generation
    ArtifactStore.commitGen(spark, root, gen, None)
    assert(spark.read.parquet(ArtifactStore.resolve(spark, root))
      .count() == 1L)
    // and the pointer/claim files never parse as generations
    assert(!ArtifactStore.isGenName(ArtifactStore.PointerFile) &&
      !ArtifactStore.isGenName(ArtifactStore.ClaimFile))
    assert(ArtifactStore.isGenName(new org.apache.hadoop.fs.Path(gen).getName))
    assert(ArtifactStore.isGenName("gen_3_ab12cd34"), "pre-rename spelling must still parse")
  }

  test("commitGen fails loudly (never flips the pointer) when a concurrent index-gc swept its staged generation") {
    val path = s"${tmpDir("artswept")}/art"
    def writeGen(loaded: Option[String]): String = {
      val g = ArtifactStore.newGenDir(spark, path, loaded)
      Seq((1L, "x")).toDF("id", "v").write.parquet(g)
      g
    }
    val gA = writeGen(None)
    ArtifactStore.commitGen(spark, path, gA, None)
    val aName = new org.apache.hadoop.fs.Path(gA).getName
    // writer stages gen 2 (no claim held while filling it) ...
    val gB = writeGen(Some(aName))
    // ... and an aggressive gc (--all, or past-grace default) sweeps it
    // before the writer commits. The pointer has NOT moved, so the CAS
    // alone would pass and flip _gen_current to a deleted directory.
    assert(ArtifactStore.sweep(spark, path, keepDisplaced = false) ==
      Seq(new org.apache.hadoop.fs.Path(gB).getName))
    val e = intercept[IllegalStateException](
      ArtifactStore.commitGen(spark, path, gB, Some(aName)))
    assert(e.getMessage.contains("swept by a concurrent index-gc"),
      e.getMessage)
    // the pointer still names the live, fully-present generation, and
    // the claim was released (a clean retry succeeds end-to-end)
    assert(ArtifactStore.currentGen(spark, path).contains(aName))
    assert(spark.read.parquet(ArtifactStore.resolve(spark, path))
      .count() == 1L)
    val gC = writeGen(Some(aName))
    ArtifactStore.commitGen(spark, path, gC, Some(aName))
    assert(ArtifactStore.currentGen(spark, path)
      .contains(new org.apache.hadoop.fs.Path(gC).getName))
  }

  test("commitGenAll is all-or-nothing: one failed shard precondition aborts every flip and deletes all staged generations") {
    val root = s"${tmpDir("artall")}/art"
    val s0 = s"$root/shards/0"
    val s1 = s"$root/shards/1"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stage(sr: String, loaded: Option[String], v: Long): String = {
      val g = ArtifactStore.newGenDir(spark, sr, loaded)
      Seq((v, "x")).toDF("id", "v").write.parquet(g)
      g
    }
    def cur(sr: String): Option[String] = ArtifactStore.currentGen(spark, sr)
    // both shards at generation 1
    val g0 = stage(s0, None, 1L); ArtifactStore.commitGen(spark, s0, g0, None)
    val g1 = stage(s1, None, 2L); ArtifactStore.commitGen(spark, s1, g1, None)
    val (n0, n1) = (cur(s0).get, cur(s1).get)
    // a racing single-shard writer advances shard 1
    val g1b = stage(s1, Some(n1), 3L)
    ArtifactStore.commitGen(spark, s1, g1b, Some(n1))
    val n1b = cur(s1).get
    // a multi-shard writer staged against the OLD shard-1 generation:
    // shard 0's precondition holds, shard 1's fails — NOTHING may flip
    val c0 = stage(s0, Some(n0), 10L)
    val c1 = stage(s1, Some(n1), 11L)
    val e = intercept[IllegalStateException](ArtifactStore.commitGenAll(
      spark, root, Seq((s0, c0, Some(n0)), (s1, c1, Some(n1)))))
    assert(e.getMessage.contains("NOT applied to ANY"), e.getMessage)
    assert(cur(s0).contains(n0),
      "shard 0 must NOT flip even though its own precondition held")
    assert(cur(s1).contains(n1b))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(c0)) &&
      !fs.exists(new org.apache.hadoop.fs.Path(c1)),
      "both staged generations must be deleted on abort")
    // a clean retry against the CURRENT generations flips both pointers
    val r0 = stage(s0, Some(n0), 20L)
    val r1 = stage(s1, Some(n1b), 21L)
    ArtifactStore.commitGenAll(spark, root,
      Seq((s0, r0, Some(n0)), (s1, r1, Some(n1b))))
    assert(cur(s0).contains(new org.apache.hadoop.fs.Path(r0).getName))
    assert(cur(s1).contains(new org.apache.hadoop.fs.Path(r1).getName))
    assert(spark.read.parquet(ArtifactStore.resolve(spark, s0))
      .head().getLong(0) == 20L)
    assert(spark.read.parquet(ArtifactStore.resolve(spark, s1))
      .head().getLong(0) == 21L)
    // retention: each shard keeps exactly live + displaced
    Seq(s0, s1).foreach { sr =>
      val gens = fs.listStatus(new org.apache.hadoop.fs.Path(sr))
        .map(_.getPath.getName).filter(ArtifactStore.isGenName)
      assert(gens.length == 2, s"$sr retains live+displaced: ${gens.toSeq}")
    }
  }

  test("sweep staging grace keys on the staged TREE's freshness, not the directory mtime") {
    val path = s"${tmpDir("artgrace")}/art"
    def writeGen(loaded: Option[String]): String = {
      val g = ArtifactStore.newGenDir(spark, path, loaded)
      Seq((1L, "x")).toDF("id", "v").write.parquet(g)
      g
    }
    val gA = writeGen(None)
    ArtifactStore.commitGen(spark, path, gA, None)
    val aName = new org.apache.hadoop.fs.Path(gA).getName
    // an in-flight writer stages gen 2; age the DIRECTORY mtime past the
    // grace (the HDFS shape: _temporary created once at job start) while
    // a task file inside stays fresh
    val gB = writeGen(Some(aName))
    val bPath = java.nio.file.Paths.get(new java.net.URI(
      new org.apache.hadoop.fs.Path(gB).toUri.toString match {
        case u if u.startsWith("file:") => u
        case u => s"file:$u"
      }))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3L * 60 * 60 * 1000)
    java.nio.file.Files.setLastModifiedTime(bPath, old)
    // default sweep (grace active) must SPARE the staged generation —
    // its tree holds fresh task files even though the dir mtime is stale
    assert(ArtifactStore.sweep(spark, path, keepDisplaced = true).isEmpty,
      "a staged generation with fresh files inside must survive the sweep")
    // but once the whole TREE is stale, the default sweep collects it
    def ageTree(p: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(p).forEach(f =>
        java.nio.file.Files.setLastModifiedTime(f, old))
    }
    ageTree(bPath)
    assert(ArtifactStore.sweep(spark, path, keepDisplaced = true) ==
      Seq(new org.apache.hadoop.fs.Path(gB).getName))
  }

  test("a save whose write job fails partway leaves the previous artifact loading unchanged; the orphan is reported and swept by the next save") {
    import org.apache.spark.sql.functions.{explode, lit, raise_error, split, when}
    val path = s"${tmpDir("artfail")}/bm25"
    val built = Retrieval.buildBm25Index(corpusDocs
      .select($"doc_id", explode(split($"text", " ")).as("term")))
    Retrieval.saveBm25Index(built, path)
    def loaded(): Seq[Set[Seq[Any]]] = {
      val idx = Retrieval.loadBm25Index(spark, path)
      Seq(idx.postings, idx.doclen, idx.docfreq, idx.stats)
        .map(_.collect().map(_.toSeq).toSet)
    }
    val before = loaded()
    // an overwriting save whose docfreq write job dies on one row
    val broken = built.copy(docfreq = built.docfreq.withColumn("df",
      when($"term" === "spark", raise_error(lit("injected write failure")))
        .otherwise($"df")))
    intercept[Exception](Retrieval.saveBm25Index(broken, path))
    assert(loaded() == before, "a failed save must leave the old artifact")
    val (live, orphans, claimed) =
      ArtifactStore.generationReport(spark, path).get
    assert(orphans.size == 1 && !claimed,
      s"the failed save's generation must show as an orphan: $orphans")
    // the next successful save sweeps it, keeping only the displaced one
    Retrieval.saveBm25Index(built, path)
    val (_, after, _) = ArtifactStore.generationReport(spark, path).get
    assert(after == Seq(live), s"orphan not swept: $after")
    assert(loaded() == before)
  }

  test("every index-build type keeps its root down to the pointer and generations, after build, update and remove") {
    val base = tmpDir("artlayout")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (fx <- IndexFixtures.all(spark)) {
      val tpe = fx.tpe
      val path = s"$base/$tpe"
      def assertLayout(after: String): Unit = {
        // Hadoop's local FS writes hidden `.<name>.crc` checksum sidecars
        val names = fs.listStatus(new org.apache.hadoop.fs.Path(path))
          .map(_.getPath.getName)
          .filterNot(n => n.startsWith(".") && n.endsWith(".crc")).toSeq
        assert(names.contains(ArtifactStore.PointerFile) &&
          names.forall(n => n == ArtifactStore.PointerFile ||
            ArtifactStore.isGenName(n)),
          s"$tpe after $after: root must hold only the pointer and " +
            s"generations: ${names.sorted}")
      }
      IndexTool.build(spark, tpe, fx.input, path, fx.flags)
      assertLayout("build")
      if (IndexTool.UpdateTypes(tpe)) {
        IndexTool.update(spark, tpe, fx.delta, path, fx.flags)
        assertLayout("update")
      }
      if (IndexTool.RemoveTypes(tpe)) {
        IndexTool.remove(spark, tpe, fx.removed, path, fx.flags)
        assertLayout("remove")
      }
    }
  }

  /** Every directory under `dir` that Spark would read as one surface:
    * a directory holding data files directly, or the root above its
    * `k=v` partition directories. Generation and segment directories
    * are walked too (readers name them explicitly). */
  private def surfaceDirs(dir: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val (files, dirs) = fs.listStatus(p).toSeq.partition(_.isFile)
      val here =
        if (files.exists(f => f.getPath.getName.startsWith("part-"))) Seq(p)
        else Nil
      here ++ dirs.flatMap(d => walk(d.getPath))
    }
    walk(new org.apache.hadoop.fs.Path(dir)).map { p =>
      var q = p
      while (q.getName.contains("=")) q = q.getParent
      q.toString
    }.distinct.sorted
  }

  test("readSurface takes each surface's schema from its footer: the same schema inference gives, for every surface of every index type") {
    val base = tmpDir("artschema")
    def assertParity(tpe: String, after: String, root: String): Unit = {
      val dirs = surfaceDirs(root)
      assert(dirs.nonEmpty, s"$tpe after $after: no surface under $root")
      dirs.foreach { d =>
        assert(ArtifactStore.readSurface(spark, d).schema ==
          spark.read.parquet(d).schema, s"$tpe after $after: $d")
      }
    }
    for (fx <- IndexFixtures.all(spark)) {
      val path = s"$base/${fx.tpe}"
      IndexTool.build(spark, fx.tpe, fx.input, path, fx.flags)
      assertParity(fx.tpe, "build", path)
      if (IndexTool.UpdateTypes(fx.tpe)) {
        IndexTool.update(spark, fx.tpe, fx.delta, path, fx.flags)
        assertParity(fx.tpe, "update", path)
      }
    }
    // a bm25-sharded surface after an append update, read as one
    // multi-path scan: the delta segment stores (doc_id, term, tf), the
    // base (term, doc_id, tf) — the same fields, in another order
    val bm = ArtifactStore.resolve(spark, s"$base/bm25-sharded")
    def fieldsByName(df: DataFrame) = df.schema.fields.map(f => f.name -> f).toMap
    for (surface <- Seq("postings", "docfreq")) {
      val paths = (0 until 2).flatMap(sh =>
        SegmentStore.pin(spark, bm).paths(s"shards/$sh", surface))
      assert(paths.size > 2, s"no append segment in $paths")
      assert(fieldsByName(ArtifactStore.readSurface(spark, paths: _*)) ==
        fieldsByName(spark.read.parquet(paths: _*)), surface)
    }
    // partitioned roots: partition columns still come from the paths
    import spark.implicits._
    val rows = Seq((1L, 0, 3L, "a"), (2L, 1, 4L, "b")).toDF("n_id", "shard", "c_id", "v")
    for (parts <- Seq(Seq("shard"), Seq("c_id"), Seq("shard", "c_id"))) {
      val d = s"$base/part_${parts.mkString("_")}"
      rows.write.partitionBy(parts: _*).parquet(d)
      val got = ArtifactStore.readSurface(spark, d)
      assert(got.schema == spark.read.parquet(d).schema, d)
      assert(got.collect().toSet == spark.read.parquet(d).collect().toSet, d)
    }
    // no data file: fails loudly, as inference does
    val empty = s"$base/empty"
    new java.io.File(empty).mkdirs()
    intercept[org.apache.spark.sql.AnalysisException](
      ArtifactStore.readSurface(spark, empty))
    intercept[org.apache.spark.sql.AnalysisException](
      ArtifactStore.readSurface(spark, s"$base/missing"))
  }
}
