package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.Dedup
import graft.operators.Dedup._
import graft.sinks.SegmentedIndex

/** Dedup operators as oracle-checked queries over `documents`.
  *
  * q21 exact clusters, q22 MinHash-LSH near-dup pairs (word 3-gram
  * shingles), q23 SimHash near-dup pairs, q24 char-4-gram Jaccard
  * similarity join (same LSH machinery, different gram alphabet).
  * Every oracle mirrors the *same algorithm* (including the LSH banding),
  * so the compared outputs are exact, not statistical.
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  // ── q21: exact dedup via normalized-md5 fingerprint clusters ────────────
  val q21_exact_dedup: Q = (s, d) => {
    import s.implicits._
    Dedup.exactClusters(Tables.documents(s, d), "doc_id", "text")
      .orderBy($"survivor_id")
  }
  val q21_sql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  min(doc_id) AS survivor_id, count(*) AS cluster_size
      |FROM documents GROUP BY 1 ORDER BY survivor_id""".stripMargin

  // ── q22: MinHash-LSH near-dup pairs over word 3-gram shingles ───────────
  val MinHashBands = 4
  val ShingleN = 3
  val JaccardThreshold = 0.8

  /** Corpus-scaled signature length: bands × lshRowsFor(n) — rows per
    * band grow 4 → Dedup.MaxLshRows with the corpus (Dedup.lshRowsFor),
    * which keeps
    * background-similarity band collisions linear in n instead of
    * quadratic. At the sf0.01 correctness corpus the ladder sits at its
    * floor (rows = 4, K = 16), so small-corpus outputs are identical to
    * the historical fixed-K shape. The oracle derives the identical rows
    * count from count(*) via sqlLshRowsFor. */
  private def lshK(s: SparkSession, d: String): Int =
    MinHashBands * Dedup.lshRowsFor(Tables.documents(s, d).count())

  /** Fused extraction+hashing: text → sorted distinct gram hashes in one
    * native pass (no gram strings materialized). */
  private def shingleHashes(s: SparkSession, d: String) = {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    Tables.documents(s, d).select($"doc_id".as("id"),
      columnOf(graft.plans.WordShingleHashes(
        expressionOf($"text"), ShingleN, 7)).as("ghash"))
  }

  val q22_minhash_dedup: Q = (s, d) => {
    import s.implicits._
    Dedup.minhashLshPairsHashed(shingleHashes(s, d),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"doc_a", $"doc_b")
  }
  lazy val q22_sql: String = lshOracleSql(
    sqlWordShingles("text", ShingleN), MinHashBands, JaccardThreshold)

  // ── q23: SimHash near-dup pairs (60-bit, 5×12-bit bands, exact hamming
  // rerank). MaxHamming 4 ≈ round 3's 2-of-32 scaled to the 60-bit
  // fingerprint; bands = MaxHamming+1 keeps the pigeonhole guarantee. ─────
  val MaxHamming = 4

  val q23_simhash_dedup: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // census+tile bucket-skew guard past the ladder-gate corpus size —
    // identical pair set (the oracle never sees it), bounded widest task
    Dedup.simhashPairs(docs, "doc_id", "text", MaxHamming,
        tile = docs.count() >= Dedup.TileEngageDocs)
      .orderBy($"doc_a", $"doc_b")
  }
  lazy val q23_sql: String = {
    val sim = sqlSimhash("text", Dedup.SimhashBits)
    val bandBits = Dedup.SimhashBits / Dedup.SimhashBands
    val bandList = (0 until Dedup.SimhashBands).mkString(",")
    s"""WITH sim AS (SELECT doc_id, $sim AS simhash FROM documents),
       |banded AS (
       |  SELECT doc_id, simhash, band,
       |    (simhash >> ($bandBits*band)) & ${(1L << bandBits) - 1} AS bkey
       |  FROM sim, unnest([$bandList]) AS t(band)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $MaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ── q24: n-gram Jaccard similarity join (char 8-grams, same LSH).
  // Gram length 8 spans word boundaries: on a small-vocabulary corpus,
  // 4-grams are so common that LSH buckets degenerate (one bucket held 60%
  // of sf0.1 docs → 5.8M candidate pairs); 8-grams keep cross-doc Jaccard
  // low (377k pairs, max bucket 315) while near-dup pairs stay ≈ 0.8.
  // Longer grams were MEASURED and rejected: 12-grams cut background
  // pairwise Jaccard 5× (0.039 → 0.007) yet ran SLOWER at 5× rows
  // (18.8 s vs 16.5 s, quiet box) — nearly-all-unique 12-grams inflate
  // each doc's distinct-gram set, and the per-gram minhash hashing that
  // dominates post-ladder cost grows with exactly that set. Round-11
  // scale work (BASELINE.md 25×/50× section): over-cap LSH buckets are
  // now tiled so no single bucket serializes verification, and the
  // modular band key lets the rows ladder keep tightening past 7 — at
  // 50× (250k docs, r=8) this query costs HALF its 25× (r=7 tier top)
  // time. ────────────────────────────────────────────────────────────────
  val CharGramN = 8
  val CharGramThreshold = 0.5

  val q24_ngram_jaccard: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashed = Tables.documents(s, d).select($"doc_id".as("id"),
      columnOf(graft.plans.CharGramHashes(
        expressionOf($"text"), CharGramN, 7)).as("ghash"))
    Dedup.minhashLshPairsHashed(hashed, lshK(s, d), MinHashBands, CharGramThreshold)
      .orderBy($"doc_a", $"doc_b")
  }
  lazy val q24_sql: String = lshOracleSql(
    sqlCharGrams("text", CharGramN), MinHashBands, CharGramThreshold)

  // ── q49: near-dup survivorship — q22's pair mining resolved into
  // connected-component clusters (cluster id = min doc id; doc_id ==
  // cluster_id marks the survivor). Spark: iterative min-label
  // propagation; oracle: recursive CTE reachability — both converge to
  // the identical fixpoint, so the compare is exact. ──────────────────────
  val q49_dedup_clusters: Q = (s, d) => {
    import s.implicits._
    val pairs = Dedup.minhashLshPairsHashed(shingleHashes(s, d),
      lshK(s, d), MinHashBands, JaccardThreshold)
    Dedup.nearDupClusters(pairs.select($"doc_a", $"doc_b"))
      .orderBy($"doc_id")
  }
  lazy val q49_sql: String =
    s"""WITH RECURSIVE pairs AS (
       |${lshPairsSql(sqlWordShingles("text", ShingleN), MinHashBands, JaccardThreshold)}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
       |)
       |SELECT id AS doc_id, min(lbl) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // ── q58: decontamination — near-dup pairs that CROSS a train/test
  // split. The standard eval-integrity check before training: any test
  // document with a near-duplicate in train leaks the benchmark. Composes
  // the q22 LSH pair mining (one pass over the WHOLE corpus — cheaper
  // than two per-split passes and catches both directions) with the
  // deterministic hashSplit assignment; both legs are oracle-replicated,
  // so every reported contamination is hash-verified. ─────────────────────
  val q58_decontamination: Q = (s, d) => {
    import s.implicits._
    val pairs = Dedup.minhashLshPairsHashed(shingleHashes(s, d),
      lshK(s, d), MinHashBands, JaccardThreshold)
    val splits = graft.operators.Sampling.hashSplit(
      Tables.documents(s, d).select($"doc_id"), "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2))
    pairs
      .join(splits.select($"doc_id".as("doc_a"), $"split".as("split_a")), "doc_a")
      .join(splits.select($"doc_id".as("doc_b"), $"split".as("split_b")), "doc_b")
      .filter($"split_a" =!= $"split_b")
      .select(
        when($"split_a" === "test", $"doc_a").otherwise($"doc_b").as("test_doc"),
        when($"split_a" === "test", $"doc_b").otherwise($"doc_a").as("train_doc"),
        $"jaccard")
      .orderBy($"test_doc", $"train_doc")
  }
  lazy val q58_sql: String =
    s"""WITH pairs AS (
       |${lshPairsSql(sqlWordShingles("text", ShingleN), MinHashBands, JaccardThreshold)}
       |), splits AS (
       |  SELECT doc_id,
       |    CASE WHEN ('0x'||substr(md5('split' || CAST(doc_id AS VARCHAR)),1,7))::BIGINT
       |           % 10000 < 8000 THEN 'train' ELSE 'test' END AS split
       |  FROM documents)
       |SELECT CASE WHEN sa.split = 'test' THEN p.doc_a ELSE p.doc_b END AS test_doc,
       |  CASE WHEN sa.split = 'test' THEN p.doc_b ELSE p.doc_a END AS train_doc,
       |  p.jaccard
       |FROM pairs p
       |JOIN splits sa ON p.doc_a = sa.doc_id
       |JOIN splits sb ON p.doc_b = sb.doc_id
       |WHERE sa.split <> sb.split
       |ORDER BY test_doc, train_doc""".stripMargin

  /** Shared LSH oracle: same hashed-gram signature/banding/rerank as
    * minhashLshPairs (the md5→28-bit gram hashes, the affine minhashes,
    * the band keys, and the Jaccard over hashed gram sets all mirror the
    * Spark side exactly). */
  private def lshOracleSql(gramsExpr: String, bands: Int,
                           threshold: Double): String =
    lshPairsSql(gramsExpr, bands, threshold) + "\nORDER BY doc_a, doc_b"

  /** The pair-mining body without a final ORDER BY, reusable as a CTE. */
  private def lshPairsSql(gramsExpr: String, bands: Int,
                          threshold: Double): String = {
    // The oracle derives rows-per-band from count(*) exactly like the
    // Spark side's lshRowsFor ladder; minhashes are an affine family
    // indexed by j (K-independent), so computing bands×7 of them covers
    // every reachable rows value, and the band key picks the right slice
    // via CASE on (band, rows).
    val kMax = bands * Dedup.MaxLshRows
    val mh = (0 until kMax).map(j => s"${sqlMinhashOfHashes("ghash", j)} AS mh$j")
      .mkString(",\n  ")
    // Base-31 polynomial band key — mirrors minhashLshPairs' LONG key
    // (exact in int64: minhashes < 2^31, rows <= 7).
    def key(b: Int, r: Int) = (b * r until (b + 1) * r).map(j => s"mh$j")
      .foldLeft("(0::BIGINT)")((acc, m) =>
        s"(($acc * 31 + $m) % ${Dedup.BandKeyMod})")
    val bandCases = (0 until bands).map { b =>
      val rCases = (4 until Dedup.MaxLshRows)
        .map(r => s"WHEN $r THEN ${key(b, r)}").mkString(" ")
      s"WHEN $b THEN (CASE p.r $rCases ELSE ${key(b, Dedup.MaxLshRows)} END)"
    }.mkString(" ")
    s"""WITH lshp AS (
       |  SELECT ${Dedup.sqlLshRowsFor("count(*)")} AS r FROM documents
       |), hashed AS (
       |  SELECT doc_id, list_distinct(list_transform($gramsExpr,
       |    g -> ${sqlHash28("g")})) AS ghash FROM documents
       |), sig AS (
       |  SELECT doc_id, ghash,
       |  $mh
       |  FROM hashed
       |), banded AS (
       |  SELECT doc_id, band, CASE band $bandCases END AS bkey
       |  FROM sig, lshp p, unnest([${(0 until bands).mkString(",")}]) AS t(band)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |)
       |SELECT doc_a, doc_b,
       |  len(list_intersect(ga.ghash, gb.ghash))::DOUBLE /
       |    len(list_distinct(list_concat(ga.ghash, gb.ghash))) AS jaccard
       |FROM cand
       |JOIN hashed ga ON ga.doc_id = doc_a
       |JOIN hashed gb ON gb.doc_id = doc_b
       |WHERE len(list_intersect(ga.ghash, gb.ghash))::DOUBLE /
       |    len(list_distinct(list_concat(ga.ghash, gb.ghash))) >= $threshold""".stripMargin
  }

  // ── q125: source reputation via PageRank over the near-dup link graph —
  // graph analytics as unrolled relational algebra: sources become nodes,
  // cross-source near-dup pairs (q22's mining) become weighted symmetric
  // edges ("these two domains republish each other's content"), and
  // PrIters damped PageRank rounds run as join+agg chains in pure int64
  // (pr·w div outw contributions, 85/100 damping — trunc and floor agree
  // on nonnegatives, so both engines iterate bit-identically). Scale
  // shape: the pair mining is the linear LSH pass; every graph stage
  // touches only the EDGE/NODE tables (≤ |sources|² rows, broadcastable)
  // — corpus size never enters an iteration. ─────────────────────────────
  val PrScale = 1048576L // 2^20
  val PrIters = 3

  val q125_source_rank: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source")
    val pairs = Dedup.minhashLshPairsHashed(shingleHashes(s, d),
      lshK(s, d), MinHashBands, JaccardThreshold)
    val e0 = pairs
      .join(docs.select($"doc_id".as("doc_a"), $"source".as("sa")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"source".as("sb")), "doc_b")
      .filter($"sa" =!= $"sb")
    // edges feed outw, the per-iteration joins, AND the final stats —
    // persist the (tiny) aggregated frame once; ew is its weighted-degree
    // join, reused by all PrIters iterations, so it gets its own cache
    val edges = graft.operators.OperatorCaches.register(
      e0.select($"sa".as("src"), $"sb".as("dst"))
        .unionByName(e0.select($"sb".as("src"), $"sa".as("dst")))
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
        .persist())
    val ew = graft.operators.OperatorCaches.register(
      edges.join(edges.groupBy($"src").agg(sum($"w").as("outw")), "src")
        .persist())
    // PageRank state collapses to |sources| driver-held longs each round
    // (the `lloyd` centroid pattern, Clustering.lloyd): every iteration
    // joins the cached edge frame against a LITERAL pr frame, so
    // iteration i's plan no longer embeds iterations 1..i-1's lineage —
    // one shallow collect job per round instead of the ~12-job chain of
    // re-derived broadcast stages. Driver math is pure int64: `/` on
    // nonnegative Longs truncates exactly like both engines' `div`/`//`.
    val sources = docs.select($"source").distinct()
      .orderBy($"source").as[String].collect().toSeq
    var prMap: Map[String, Long] = sources.map(_ -> PrScale).toMap
    for (_ <- 1 to PrIters) {
      val prDf = prMap.toSeq.toDF("src", "pr")
      val inflow = ew.join(broadcast(prDf), "src")
        .withColumn("t", expr("pr * w div outw"))
        .groupBy($"dst").agg(sum($"t").as("inflow"))
        .as[(String, Long)].collect().toMap
      prMap = sources.map(src => src ->
        ((15L * PrScale) / 100L + (85L * inflow.getOrElse(src, 0L)) / 100L))
        .toMap
    }
    val pr = sources.map(src => (src, prMap(src))).toDF("source", "pr")
    val stats = edges.groupBy($"src".as("source"))
      .agg(count(lit(1)).as("n_edges"), sum($"w").as("link_w"))
    pr.join(broadcast(stats), Seq("source"), "left")
      .select($"source", coalesce($"n_edges", lit(0L)).as("n_edges"),
        coalesce($"link_w", lit(0L)).as("link_w"), $"pr")
      .orderBy($"source")
  }
  lazy val q125_sql: String = {
    val iters = (1 to PrIters).map { i =>
      s"""c$i AS (
         |  SELECT e.dst AS source,
         |    CAST(sum(p.pr * e.w // o.outw) AS BIGINT) AS inflow
         |  FROM edges e JOIN outw o USING (src)
         |  JOIN pr${i - 1} p ON p.source = e.src
         |  GROUP BY 1),
         |pr$i AS (
         |  SELECT n.source,
         |    CAST((15 * $PrScale) // 100
         |      + (85 * coalesce(c.inflow, 0)) // 100 AS BIGINT) AS pr
         |  FROM nodes n LEFT JOIN c$i c USING (source))""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |${lshPairsSql(sqlWordShingles("text", ShingleN), MinHashBands, JaccardThreshold)}
       |), e0 AS (
       |  SELECT da.source AS sa, db.source AS sb
       |  FROM pairs p
       |  JOIN documents da ON da.doc_id = p.doc_a
       |  JOIN documents db ON db.doc_id = p.doc_b
       |  WHERE da.source <> db.source
       |), edges AS (
       |  SELECT src, dst, count(*) AS w
       |  FROM (SELECT sa AS src, sb AS dst FROM e0
       |        UNION ALL SELECT sb AS src, sa AS dst FROM e0)
       |  GROUP BY 1, 2
       |), outw AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM edges GROUP BY 1
       |), nodes AS (SELECT DISTINCT source FROM documents),
       |pr0 AS (SELECT source, CAST($PrScale AS BIGINT) AS pr FROM nodes),
       |$iters,
       |stats AS (
       |  SELECT src AS source, count(*) AS n_edges,
       |    CAST(sum(w) AS BIGINT) AS link_w
       |  FROM edges GROUP BY 1)
       |SELECT n.source, coalesce(st.n_edges, 0) AS n_edges,
       |  coalesce(st.link_w, 0) AS link_w, p.pr
       |FROM nodes n
       |LEFT JOIN stats st USING (source)
       |JOIN pr$PrIters p USING (source)
       |ORDER BY source""".stripMargin
  }

  // ── q79: incremental dedup — the production ingestion pattern: a NEW
  // batch (sources src0/src1 standing in for "this week's crawl") is
  // probed against the banded-signature index of the existing corpus.
  // Only delta×corpus band collisions become candidates (corpus×corpus is
  // never re-mined), so the cost scales with the delta. Same fused gram
  // hashing, banding, and exact-Jaccard rerank as q22 — the oracle
  // replays the asymmetric join relationally. ─────────────────────────────
  val DeltaSources = Seq("src0", "src1")

  val q79_incremental_dedup: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashed = Tables.documents(s, d).select($"doc_id".as("id"), $"source",
      columnOf(graft.plans.WordShingleHashes(
        expressionOf($"text"), ShingleN, 7)).as("ghash"))
    val isDelta = $"source".isin(DeltaSources: _*)
    Dedup.incrementalLshPairs(
        hashed.filter(isDelta).drop("source"),
        hashed.filter(!isDelta).drop("source"),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"new_doc", $"dup_of")
  }
  lazy val q79_sql: String = incrementalLshSql(DeltaSources)

  /** The delta-vs-rest incremental LSH oracle, parametrized by which
    * `source` values form the PROBE side and which are EXCLUDED from
    * the index side (default: the probes themselves) — shared by
    * q79/q110 (probe = both delta sources), q155 (probe = the second
    * delta only: the first has been folded into the updated index, so
    * it must now be FINDABLE, not probing), and q164 (probe = the
    * second delta, excluded = BOTH: the first has been REMOVED from the
    * index, so its pairs must VANISH). */
  private def incrementalLshSql(probeSources: Seq[String],
                                excludedSources: Seq[String] = Seq.empty)
      : String = {
    val excluded =
      if (excludedSources.nonEmpty) excludedSources else probeSources
    // Corpus-scaled rows-per-band, same derivation as lshPairsSql.
    val kMax = MinHashBands * Dedup.MaxLshRows
    val mh = (0 until kMax)
      .map(j => s"${sqlMinhashOfHashes("ghash", j)} AS mh$j").mkString(",\n  ")
    def key(b: Int, r: Int) = (b * r until (b + 1) * r).map(j => s"mh$j")
      .foldLeft("(0::BIGINT)")((acc, m) =>
        s"(($acc * 31 + $m) % ${Dedup.BandKeyMod})")
    val bandCases = (0 until MinHashBands).map { b =>
      val rCases = (4 until Dedup.MaxLshRows)
        .map(r => s"WHEN $r THEN ${key(b, r)}").mkString(" ")
      s"WHEN $b THEN (CASE p.r $rCases ELSE ${key(b, Dedup.MaxLshRows)} END)"
    }.mkString(" ")
    val deltaList = probeSources.map(s => s"'$s'").mkString(", ")
    val excludedList = excluded.map(s => s"'$s'").mkString(", ")
    val jac = "len(list_intersect(ga.ghash, gb.ghash))::DOUBLE / " +
      "len(list_distinct(list_concat(ga.ghash, gb.ghash)))"
    s"""WITH lshp AS (
       |  SELECT ${Dedup.sqlLshRowsFor("count(*)")} AS r FROM documents
       |), hashed AS (
       |  SELECT doc_id, source, list_distinct(list_transform(
       |    ${sqlWordShingles("text", ShingleN)},
       |    g -> ${sqlHash28("g")})) AS ghash FROM documents
       |), sig AS (
       |  SELECT doc_id, source, ghash,
       |  $mh
       |  FROM hashed
       |), banded AS (
       |  SELECT doc_id, source, band, CASE band $bandCases END AS bkey
       |  FROM sig, lshp p, unnest([${(0 until MinHashBands).mkString(",")}]) AS t(band)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS dup_of
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.source IN ($deltaList) AND b.source NOT IN ($excludedList)
       |)
       |SELECT new_doc, dup_of, $jac AS jaccard
       |FROM cand
       |JOIN hashed ga ON ga.doc_id = new_doc
       |JOIN hashed gb ON gb.doc_id = dup_of
       |WHERE $jac >= $JaccardThreshold
       |ORDER BY new_doc, dup_of""".stripMargin
  }

  // ── q122: snapshot-diff-driven incremental refresh — the production
  // "daily crawl" loop as ONE composed plan: classify today's snapshot
  // against yesterday's (SnapshotDiff.diff, q119's derived snapshots),
  // then near-dup ONLY the added+changed slice against the UNCHANGED
  // corpus (Dedup.incrementalLshPairs, q79's machinery) — the stable
  // corpus is never re-mined against itself, so the recurring cost
  // scales with the day's churn, not the archive. Composition is the
  // point: the diff's status column IS the delta predicate, and the
  // banding runs over the NEW snapshot's text (changed docs are banded
  // with their revised content). The oracle replays the classification
  // AND the banding end-to-end. ──────────────────────────────────────────
  val q122_diff_refresh: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val docs = Tables.documents(s, d)
    val oldSnap = docs.filter($"doc_id" % 10 =!= 0)
      .select($"doc_id", $"source", fingerprint($"text").as("fp"))
    val newText = docs.filter($"doc_id" % 13 =!= 0)
      .select($"doc_id", $"source",
        concat($"text",
          when($"doc_id" % 7 === 0, lit(" rev2")).otherwise(lit("")))
          .as("text"))
    val newSnap = newText.select($"doc_id", $"source",
      fingerprint($"text").as("fp"))
    val status = graft.operators.SnapshotDiff
      .diff(oldSnap, newSnap, "doc_id", "source", "fp")
      .select($"doc_id".as("id"), $"status")
    val hashed = newText
      .select($"doc_id".as("id"),
        columnOf(graft.plans.WordShingleHashes(
          expressionOf($"text"), ShingleN, 7)).as("ghash"))
      .join(status, "id")
    Dedup.incrementalLshPairs(
        hashed.filter($"status".isin("added", "changed")).drop("status"),
        hashed.filter($"status" === "unchanged").drop("status"),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"new_doc", $"dup_of")
  }
  lazy val q122_sql: String = {
    val kMax = MinHashBands * Dedup.MaxLshRows
    val mh = (0 until kMax)
      .map(j => s"${sqlMinhashOfHashes("ghash", j)} AS mh$j").mkString(",\n  ")
    def key(b: Int, r: Int) = (b * r until (b + 1) * r).map(j => s"mh$j")
      .foldLeft("(0::BIGINT)")((acc, m) =>
        s"(($acc * 31 + $m) % ${Dedup.BandKeyMod})")
    val bandCases = (0 until MinHashBands).map { b =>
      val rCases = (4 until Dedup.MaxLshRows)
        .map(r => s"WHEN $r THEN ${key(b, r)}").mkString(" ")
      s"WHEN $b THEN (CASE p.r $rCases ELSE ${key(b, Dedup.MaxLshRows)} END)"
    }.mkString(" ")
    val jac = "len(list_intersect(ga.ghash, gb.ghash))::DOUBLE / " +
      "len(list_distinct(list_concat(ga.ghash, gb.ghash)))"
    s"""WITH lshp AS (
       |  SELECT ${Dedup.sqlLshRowsFor("count(*)")} AS r FROM documents
       |), newd AS (
       |  SELECT doc_id,
       |    text || CASE WHEN doc_id % 7 = 0 THEN ' rev2' ELSE '' END AS text
       |  FROM documents WHERE doc_id % 13 <> 0
       |), oldd AS (
       |  SELECT doc_id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents WHERE doc_id % 10 <> 0
       |), st AS (
       |  SELECT n.doc_id, n.text,
       |    CASE WHEN o.fp IS NULL THEN 'added'
       |         WHEN o.fp <>
       |           md5(trim(regexp_replace(lower(n.text), '\\s+', ' ', 'g')))
       |           THEN 'changed'
       |         ELSE 'unchanged' END AS status
       |  FROM newd n LEFT JOIN oldd o USING (doc_id)
       |), hashed AS (
       |  SELECT doc_id, status, list_distinct(list_transform(
       |    ${sqlWordShingles("text", ShingleN)},
       |    g -> ${sqlHash28("g")})) AS ghash FROM st
       |), sig AS (
       |  SELECT doc_id, status, ghash,
       |  $mh
       |  FROM hashed
       |), banded AS (
       |  SELECT doc_id, status, band, CASE band $bandCases END AS bkey
       |  FROM sig, lshp p, unnest([${(0 until MinHashBands).mkString(",")}]) AS t(band)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS dup_of
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey
       |  WHERE a.status IN ('added', 'changed') AND b.status = 'unchanged'
       |)
       |SELECT new_doc, dup_of, $jac AS jaccard
       |FROM cand
       |JOIN hashed ga ON ga.doc_id = new_doc
       |JOIN hashed gb ON gb.doc_id = dup_of
       |WHERE $jac >= $JaccardThreshold
       |ORDER BY new_doc, dup_of""".stripMargin
  }

  // ── q110: LSH index persistence — build the corpus's banded-signature
  // index ONCE (Dedup.bandedSignatures), persist it as parquet, load it
  // back, and run the incremental batch dedup from the LOADED index with
  // no corpus signature recomputation — build-once/serve-many ingestion
  // dedup, the LSH analog of q106's PQ persistence. Parameters match q79
  // exactly, so the serve path from the persisted index must reproduce
  // q79's output bit-for-bit: the oracle IS q79's SQL, making the
  // save/load roundtrip itself hash-verified. ────────────────────────────
  val q110_lsh_index_persist: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashed = Tables.documents(s, d).select($"doc_id".as("id"), $"source",
      columnOf(graft.plans.WordShingleHashes(
        expressionOf($"text"), ShingleN, 7)).as("ghash"))
    val isDelta = $"source".isin(DeltaSources: _*)
    val path = QueryTmp.dir("lshindex", d)
    Dedup.saveLshIndex(
      Dedup.bandedSignaturesTiled(hashed.filter(!isDelta).drop("source"),
        lshK(s, d), MinHashBands),
      path)
    Dedup.incrementalLshPairsIndexed(
        hashed.filter(isDelta).drop("source"),
        Dedup.loadLshIndex(s, path),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"new_doc", $"dup_of")
  }

  // ── q80: quality-aware survivorship — q49's clusters resolved to the
  // BEST member (highest quality score, ties → smallest id) instead of
  // the oldest. One order-free max(struct) agg per cluster (full map-side
  // combine, no window, no skew cliff); the oracle replays the recursive
  // clustering plus a windowed argmax over the identical quality double
  // (the q18 expression, replicated term for term). ──────────────────────
  val q80_survivorship: Q = (s, d) => {
    import s.implicits._
    val pairs = Dedup.minhashLshPairsHashed(shingleHashes(s, d),
      lshK(s, d), MinHashBands, JaccardThreshold)
    val clusters = Dedup.nearDupClusters(pairs.select($"doc_a", $"doc_b"))
    val docs = Tables.documents(s, d)
      .select($"doc_id", qualityScore($"text").as("quality"))
    Dedup.clusterSurvivors(docs, clusters, "doc_id", "quality")
      .orderBy($"cluster_id")
  }
  lazy val q80_sql: String =
    s"""WITH RECURSIVE pairs AS (
       |${lshPairsSql(sqlWordShingles("text", ShingleN), MinHashBands, JaccardThreshold)}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
       |), clusters AS (
       |  SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
       |), scored AS (
       |  SELECT doc_id, ${TextQueries.qualitySqlExpr} AS quality
       |  FROM documents
       |), ranked AS (
       |  SELECT c.cluster_id, c.doc_id, s.quality,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY s.quality DESC, c.doc_id) AS rn,
       |    CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n
       |  FROM clusters c JOIN scored s USING (doc_id))
       |SELECT cluster_id, doc_id AS kept_doc, quality AS best_score,
       |  n AS n_members
       |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  // ── q83: Bloom-filter decontamination — the broadcast-shaped variant of
  // q58: the test split's gram hashes fold into a 2^17-bit Bloom filter
  // ONCE, and the train corpus is probed at scan speed (zero joins on the
  // 100 TB side). Positions are Kirsch–Mitzenmacher double hashes of the
  // portable 28-bit gram hash, so the oracle replays the bit arithmetic
  // exactly — including the deterministic false positives. ───────────────
  val BloomM = 1 << 17
  val BloomK = 3

  val q83_bloom_decontam: Q = (s, d) => {
    import s.implicits._
    val splits = graft.operators.Sampling.hashSplit(
      Tables.documents(s, d).select($"doc_id"), "doc_id",
      Seq("train" -> 0.8, "test" -> 0.2))
    val hashed = shingleHashes(s, d)
      .join(splits.withColumnRenamed("doc_id", "id"), "id")
    val bits = Dedup.bloomFilterBits(
      hashed.filter($"split" === "test"), BloomM, BloomK)
    Dedup.bloomProbe(hashed.filter($"split" === "train"), bits, BloomM, BloomK)
      .select($"id".as("doc_id"), size($"ghash").cast("long").as("n_grams"),
        $"n_hits", $"flagged")
      .orderBy($"doc_id")
  }
  lazy val q83_sql: String = {
    val m = BloomM
    // position j of hash h: (h1 + j*h2) % m with h1 = h % m,
    // h2 = 2*(h div m) + 1 — mirrors Dedup.bloomPositions
    def posOf(h: String, j: String) =
      s"(($h % $m) + $j * (2 * ($h // $m) + 1)) % $m"
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    CASE WHEN ('0x'||substr(md5('split' || CAST(doc_id AS VARCHAR)),1,7))::BIGINT
       |           % 10000 < 8000 THEN 'train' ELSE 'test' END AS split,
       |    list_distinct(list_transform(${sqlWordShingles("text", ShingleN)},
       |      g -> ${sqlHash28("g")})) AS ghash
       |  FROM documents),
       |bloom AS (
       |  SELECT DISTINCT ${posOf("t.h", "j.j")} AS pos
       |  FROM (SELECT unnest(ghash) AS h FROM hashed WHERE split = 'test') t,
       |       range($BloomK) j(j)),
       |probe AS (
       |  SELECT t.doc_id, t.h, j.j, ${posOf("t.h", "j.j")} AS pos
       |  FROM (SELECT doc_id, unnest(ghash) AS h FROM hashed
       |        WHERE split = 'train') t,
       |       range($BloomK) j(j)),
       |hits AS (
       |  SELECT doc_id, h FROM probe JOIN bloom USING (pos)
       |  GROUP BY doc_id, h HAVING count(*) = $BloomK),
       |hc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hits
       |  GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.ghash) AS BIGINT) AS n_grams,
       |  coalesce(hc.n, 0) AS n_hits, coalesce(hc.n, 0) > 0 AS flagged
       |FROM hashed d LEFT JOIN hc USING (doc_id)
       |WHERE d.split = 'train' ORDER BY doc_id""".stripMargin
  }

  // ── q84: duplicated n-gram coverage — the RefinedWeb/Gopher diagnostic
  // "how much of each document also appears elsewhere": the share of a
  // doc's distinct gram hashes occurring in ≥ 2 documents. One partial-
  // aggregated doc-frequency count per gram + one hash join back — never
  // doc×doc. ────────────────────────────────────────────────────────────
  val q84_dup_ngram_coverage: Q = (s, d) => {
    import s.implicits._
    Dedup.ngramCoverage(shingleHashes(s, d))
      .withColumnRenamed("id", "doc_id")
      .orderBy($"doc_id")
  }
  lazy val q84_sql: String =
    s"""WITH hashed AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    ${sqlWordShingles("text", ShingleN)},
       |    g -> ${sqlHash28("g")})) AS ghash FROM documents),
       |g AS (SELECT doc_id, unnest(ghash) AS h FROM hashed),
       |f AS (SELECT h, count(*) AS df FROM g GROUP BY h),
       |agg AS (
       |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_shared
       |  FROM g JOIN f USING (h) GROUP BY g.doc_id)
       |SELECT doc_id, n_grams, n_shared,
       |  CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE) AS coverage
       |FROM agg ORDER BY doc_id""".stripMargin

  // ── q116: duplicated-span MASKING — exact-substring dedup as a
  // TRANSFORM (Dedup.dupSpanMask): every token position covered by a
  // word 8-gram occurring in ≥2 documents is masked and the document is
  // rebuilt from the survivors — q84 diagnoses duplication, this removes
  // it (the "dedup the passage, keep the document" pass). The rebuilt
  // text is compared as md5, so the oracle hash-verifies the actual
  // reconstruction — token order, spacing, full-mask empties — not just
  // the counts. Span width 8: wide enough that only genuinely shared
  // passages (near-dup drift copies, boilerplate) mask, not the closed
  // vocabulary's background trigram collisions. ──────────────────────────
  val DupSpanN = 8

  val q116_span_dedup: Q = (s, d) => {
    import s.implicits._
    Dedup.dupSpanMask(Tables.documents(s, d), "doc_id", "text", DupSpanN)
      .select($"id".as("doc_id"), $"n_tokens", $"n_covered", $"n_kept",
        $"keep_frac", md5($"kept_text".cast("binary")).as("kept_hash"))
      .orderBy($"doc_id")
  }
  lazy val q116_sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, i AS start,
       |    ${sqlHash60(s"array_to_string(t[i:i+${DupSpanN - 1}], ' ')")} AS h
       |  FROM t, unnest(range(1, len(t) - ${DupSpanN - 2})) r(i)),
       |df AS (SELECT h, count(DISTINCT doc_id) AS df FROM grams GROUP BY h),
       |cov AS (
       |  SELECT DISTINCT doc_id, p
       |  FROM grams JOIN df USING (h),
       |    unnest(range(start, start + $DupSpanN)) r(p)
       |  WHERE df.df >= 2),
       |tp AS (
       |  SELECT doc_id, i AS pos, t[i] AS tok
       |  FROM t, unnest(range(1, len(t) + 1)) r(i)),
       |fl AS (
       |  SELECT tp.doc_id, tp.pos, tp.tok, c.p IS NOT NULL AS covd
       |  FROM tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.p = tp.pos),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(CASE WHEN covd THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_covered,
       |    coalesce(string_agg(tok, ' ' ORDER BY pos)
       |      FILTER (WHERE NOT covd), '') AS kept_text
       |  FROM fl GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_covered,
       |  n_tokens - n_covered AS n_kept,
       |  CAST(n_tokens - n_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE)
       |    AS keep_frac,
       |  md5(kept_text) AS kept_hash
       |FROM agg ORDER BY doc_id""".stripMargin

  // ── q71: fuzzy string join (record linkage) — all code pairs within
  // hamming distance 2, via Dedup.hammingPairs' pigeonhole banding
  // (guaranteed recall, no all-pairs scan). The corpus has no natural
  // fixed-length near-identical codes, so both engines derive the same
  // synthetic 32-hex code per document: a shared md5 base (97 groups)
  // with ONE deterministically mutated character — intra-group pairs sit
  // at hamming <= 2, cross-group pairs at ~28+. The oracle is DuckDB's
  // NATIVE hamming() over the naive all-pairs join — an independent
  // implementation of both the distance and the candidate set. ───────────
  /** Synthetic code space CARDINALITY scales with the corpus: a fixed
    * modulus would pin the number of code groups while the corpus grows,
    * making same-group (true-match) pairs quadratic BY CONSTRUCTION —
    * round 9's scaling curve measured exactly that (~14× cost at 5×
    * docs with the old fixed 97). Real record-linkage code populations
    * grow with the data; modeling that keeps group size ~constant
    * (≈1000/97 ≈ 10 docs) and true pairs linear. ≤1000 docs keeps the
    * historical modulus, so the correctness corpus is unchanged. */
  private def codeGroups(n: Long): Long = 97L * math.max(1L, n / 1000L)
  private val SqlCodeGroups =
    "(97 * greatest(1, (SELECT count(*) FROM documents) // 1000))"

  private def codeExpr(groupsExpr: String) =
    s"""concat(
       |  substring(md5(CAST(doc_id % $groupsExpr AS STRING)), 1, CAST(doc_id % 32 AS INT)),
       |  substr('0123456789abcdef', CAST(doc_id % 16 AS INT) + 1, 1),
       |  substring(md5(CAST(doc_id % $groupsExpr AS STRING)), CAST(doc_id % 32 AS INT) + 2))""".stripMargin

  val q71_fuzzy_join: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val n = docs.count()
    val coded = docs
      .select($"doc_id", expr(codeExpr(codeGroups(n).toString)).as("code"))
    // census+tile bucket-skew guard past the ladder-gate corpus size —
    // identical pair set (the oracle never sees it), bounded widest task
    val pairs = Dedup.hammingPairs(coded, "doc_id", "code", maxHamming = 2,
      tile = n >= Dedup.TileEngageDocs)
    // both orientations via explode, not union: a union would reference —
    // and recompute — the unpersisted pair-mining subtree twice
    val directed = pairs.select(explode(array(
        struct($"id_a".as("id"), $"id_b".as("other"), $"hamming"),
        struct($"id_b".as("id"), $"id_a".as("other"), $"hamming"))).as("e"))
      .select($"e.id".as("id"), $"e.other".as("other"), $"e.hamming".as("hamming"))
    directed.groupBy($"id")
      .agg(count(lit(1)).as("n_fuzzy"),
        min($"other").as("nearest"),
        min($"hamming").cast(org.apache.spark.sql.types.LongType).as("min_hamming"))
      .orderBy($"id")
  }
  val q71_sql: String = {
    val code = codeExpr(SqlCodeGroups)
      .replace("AS STRING", "AS VARCHAR")
      .replace("AS INT", "AS INTEGER")
    s"""WITH s AS (SELECT doc_id, $code AS code FROM documents)
       |SELECT a.doc_id AS id, count(*) AS n_fuzzy, min(b.doc_id) AS nearest,
       |  CAST(min(hamming(a.code, b.code)) AS BIGINT) AS min_hamming
       |FROM s a JOIN s b ON a.doc_id <> b.doc_id
       |  AND length(a.code) = length(b.code)
       |  AND hamming(a.code, b.code) <= 2
       |GROUP BY a.doc_id ORDER BY id""".stripMargin
  }

  // ── q72: the cleaned corpus — what the dedup machinery exists to
  // produce. Near-dup clusters (q49) resolve to one survivor each
  // (cluster_id == doc_id); unclustered documents pass through. Output
  // is the per-language profile of the KEPT corpus, so the compare
  // hash-verifies every keep/drop decision through counts and sizes. ─────
  val q72_cleaned_corpus: Q = (s, d) => {
    import s.implicits._
    val pairs = Dedup.minhashLshPairsHashed(shingleHashes(s, d),
      lshK(s, d), MinHashBands, JaccardThreshold)
    val clusters = Dedup.nearDupClusters(pairs.select($"doc_a", $"doc_b"))
    Tables.documents(s, d)
      .join(clusters, Seq("doc_id"), "left")
      .filter($"cluster_id".isNull || $"cluster_id" === $"doc_id")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("kept_chars"))
      .orderBy($"lang")
  }
  lazy val q72_sql: String =
    s"""WITH RECURSIVE pairs AS (
       |${lshPairsSql(sqlWordShingles("text", ShingleN), MinHashBands, JaccardThreshold)}
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), reach(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.id = e.dst
       |), clusters AS (
       |  SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
       |)
       |SELECT lang, count(*) AS n_kept,
       |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
       |FROM documents doc LEFT JOIN clusters c USING (doc_id)
       |WHERE c.cluster_id IS NULL OR c.cluster_id = doc.doc_id
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ── q151: CONTENT-DEFINED chunk dedup (plans/CdcBoundaries) — the
  // chunk-level dedup that survives INSERTIONS: fixed-width chunking
  // misaligns every window after an edit, while Rabin-style cut points
  // (fp of the last 16 chars ≡ 0 mod 32 → expected ~32-char chunks)
  // re-synchronize as soon as the rolling window clears the edit — so a
  // doc that copies another with a prepended sentence still shares all
  // its interior chunks (the rsync/LBFS economics on corpus text).
  // Output: every chunk content (md5, portable to the oracle) appearing
  // in >= 2 distinct documents, with its occurrence counts.
  //
  // Scale shape: the boundary kernel is a per-row linear scan; the chunk
  // explode is ~len/32 rows per doc; ONE partial-aggregated groupBy on
  // the chunk hash (map-side combine collapses within-partition
  // repeats). Nothing quadratic anywhere — the cross-doc matching IS the
  // hash agg. The oracle replays fp with a 16-row power-literal join
  // (Σ c·B^d over the window, exact int64), the cut rule, the
  // lag-derived chunk spans, and the same md5. ──────────────────────────
  val CdcMask = 32

  val q151_cdc_chunk_dedup: Q = (s, d) => {
    import s.implicits._
    Dedup.cdcChunks(Tables.documents(s, d), "doc_id", "text", CdcMask)
      .groupBy($"h")
      .agg(countDistinct($"id").as("n_docs"),
        count(lit(1)).as("n_occ"), min($"id").as("first_doc"))
      .filter($"n_docs" >= 2)
      .orderBy($"h")
  }
  /** The CDC oracle chain, through `hashed(doc_id, h)` — one row per
    * chunk of every document, exactly [[Dedup.cdcChunks]]' contract. */
  private lazy val cdcChainSql: String = {
    val powVals = {
      var p = 1L
      (0 until graft.plans.CdcBoundaries.W).map { _ =>
        val cur = p
        p = (p * graft.plans.CdcBoundaries.B) & (graft.plans.CdcBoundaries.Mod - 1)
        cur
      }
    }
    val w = graft.plans.CdcBoundaries.W
    val modv = graft.plans.CdcBoundaries.Mod
    val pows = powVals.zipWithIndex
      .map { case (p, d) => s"($d, ${p}::BIGINT)" }.mkString(", ")
    s"""chars AS (
       |  SELECT doc_id, CAST(unnest(generate_series(1, length(text))) AS INT) AS i
       |  FROM documents),
       |cc AS MATERIALIZED (
       |  SELECT c.doc_id, c.i, ascii(substr(d.text, c.i, 1)) AS ch
       |  FROM chars c JOIN documents d USING (doc_id)),
       |pw(d, p) AS (VALUES $pows),
       |fp AS (
       |  -- each term reduced mod 2^40 BEFORE the window sum: ascii() can
       |  -- return astral code points (~2^21), and 16 unreduced
       |  -- ch·B^d terms would overflow BIGINT (~2^65); reduced terms
       |  -- keep the sum < 2^44, and Σ(t mod M) mod M = Σt mod M
       |  SELECT a.doc_id, a.i,
       |    CAST(sum((b.ch * pw.p) % $modv) % $modv AS BIGINT) AS fpv
       |  FROM cc a JOIN cc b ON a.doc_id = b.doc_id
       |    AND b.i BETWEEN a.i - ${w - 1} AND a.i
       |  JOIN pw ON pw.d = a.i - b.i
       |  WHERE a.i >= $w
       |  GROUP BY a.doc_id, a.i),
       |ends AS (
       |  SELECT DISTINCT doc_id, i FROM (
       |    SELECT doc_id, i FROM fp WHERE fpv % $CdcMask = 0
       |    UNION ALL
       |    SELECT doc_id, length(text) AS i FROM documents
       |    WHERE length(text) > 0)),
       |spans AS (
       |  SELECT doc_id, i AS e,
       |    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS s
       |  FROM ends),
       |hashed AS MATERIALIZED (
       |  SELECT sp.doc_id, md5(substr(d.text, sp.s + 1, sp.e - sp.s)) AS h
       |  FROM spans sp JOIN documents d USING (doc_id) WHERE sp.e > sp.s)""".stripMargin
  }

  lazy val q151_sql: String =
    s"""WITH $cdcChainSql
       |SELECT h, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occ, min(doc_id) AS first_doc
       |FROM hashed GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY h""".stripMargin

  // ── q152: incremental CDC screen — the ingestion loop of q151: build
  // the chunk index on the EXISTING corpus (doc_id % 10 <> 0), then
  // screen the arriving slice (doc_id % 10 = 0) against it: per new doc,
  // how many of its chunks the corpus already holds and the earliest
  // corpus doc sharing one. Catches PARTIAL and SHIFTED copies exact-doc
  // dedup misses, at delta cost: one kernel scan of the delta, one hash
  // join into the (corpus-linear, unique-h) index, one per-doc agg.
  // Also CLI/stream-reachable: index-build/index-serve --type=cdc. ───────
  val q152_cdc_incremental: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val idx = Dedup.buildCdcIndex(docs.filter($"doc_id" % 10 =!= 0),
      "doc_id", "text", CdcMask)
    Dedup.incrementalCdcMatches(docs.filter($"doc_id" % 10 === 0), idx,
        "doc_id", "text", CdcMask)
      .withColumn("dup_of", coalesce($"dup_of", lit(-1L)))
      .orderBy($"new_doc")
  }
  lazy val q152_sql: String =
    s"""WITH $cdcChainSql,
       |idx AS (
       |  SELECT h, min(doc_id) AS first_doc FROM hashed
       |  WHERE doc_id % 10 <> 0 GROUP BY h)
       |SELECT dc.doc_id AS new_doc, count(*) AS n_chunks,
       |  count(ix.first_doc) AS n_dup_chunks,
       |  coalesce(min(ix.first_doc), -1) AS dup_of
       |FROM (SELECT doc_id, h FROM hashed WHERE doc_id % 10 = 0) dc
       |LEFT JOIN idx ix USING (h)
       |GROUP BY dc.doc_id ORDER BY new_doc""".stripMargin

  // ── q154: CDC chunk-index UPDATE — the third leg of the CDC family's
  // build/serve/update story: build the chunk index on the existing
  // corpus (doc_id % 10 <> 0), fold the arriving slice in with
  // Dedup.updateCdcIndex (one delta boundary-kernel scan + a chunk-hash
  // merge agg — min first_doc, sum n_occ; the archive is never
  // re-chunked), and emit the WHOLE updated index. The index rows form
  // a monoid over disjoint doc sets, so the updated artifact equals the
  // full-corpus build exactly — the oracle is q151's chain aggregated
  // without the dup filter. CLI: `index-update --type=cdc`. ─────────────
  val q154_cdc_index_update: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val path = QueryTmp.dir("cdcupdate", d)
    Dedup.saveCdcIndex(Dedup.buildCdcIndex(docs.filter($"doc_id" % 10 =!= 0),
      "doc_id", "text", CdcMask), path)
    Dedup.updateCdcIndex(Dedup.loadCdcIndex(s, path),
        docs.filter($"doc_id" % 10 === 0), "doc_id", "text", CdcMask)
      .orderBy($"h")
  }
  lazy val q154_sql: String =
    s"""WITH $cdcChainSql
       |SELECT h, min(doc_id) AS first_doc, count(*) AS n_occ
       |FROM hashed GROUP BY h ORDER BY h""".stripMargin

  // ── q155: LSH index UPDATE — admitted documents must JOIN the index,
  // or next week's near-copies of them sail through the screen. Build
  // the banded index on the existing corpus, fold the week-1 delta
  // (source src0) in with Dedup.updateLshIndex (delta-only minhash
  // chain + a re-derived tile census over the union — bucket growth can
  // cross LshBucketCap, and a stale census would re-open the skew
  // cliff), persist the updated artifact, then screen the week-2 delta
  // (src1) against the RELOADED index. The updated index equals the
  // full build exactly, so the oracle is the q79 machinery with probe =
  // src1 only: src0's docs are now on the INDEX side — pairs
  // (src1 × src0) must appear, which the un-updated index could never
  // produce. CLI: `index-update --type=lsh`. ────────────────────────────
  val q155_lsh_index_update: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashed = Tables.documents(s, d).select($"doc_id".as("id"), $"source",
      columnOf(graft.plans.WordShingleHashes(
        expressionOf($"text"), ShingleN, 7)).as("ghash"))
    val path = QueryTmp.dir("lshupdate", d)
    Dedup.saveLshIndex(
      Dedup.bandedSignaturesTiled(
        hashed.filter(!$"source".isin(DeltaSources: _*)).drop("source"),
        lshK(s, d), MinHashBands),
      path)
    val updated = Dedup.updateLshIndex(Dedup.loadLshIndex(s, path),
      hashed.filter($"source" === DeltaSources.head).drop("source"),
      lshK(s, d), MinHashBands)
    val upPath = QueryTmp.dir("lshupdated", d)
    Dedup.saveLshIndex(updated, upPath)
    Dedup.incrementalLshPairsIndexed(
        hashed.filter($"source" === DeltaSources(1)).drop("source"),
        Dedup.loadLshIndex(s, upPath),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"new_doc", $"dup_of")
  }
  lazy val q155_sql: String = incrementalLshSql(Seq(DeltaSources(1)))

  // ── q191: SHARDED LSH artifact — the rewrite-unit fix for the
  // near-dup tier (the q186 bm25-sharded pattern): the banded-signature
  // surface splits by (band, bkey) hash into independent generational
  // roots, so the week-1 fold rewrites ONLY the shards its buckets
  // route to (one all-or-nothing multi-root pointer commit;
  // Dedup.LshSharded.delta) instead of re-persisting the whole index —
  // q155's lifecycle on the sharded layout. Signature row set equals
  // the unsharded artifact's, so the week-2 screen reproduces q155
  // exactly: the oracle IS q155's SQL. CLI:
  // index-build/serve/update/remove --type=lsh-sharded. ─────────────────
  val q191_lsh_sharded_update: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashed = Tables.documents(s, d).select($"doc_id".as("id"), $"source",
      columnOf(graft.plans.WordShingleHashes(
        expressionOf($"text"), ShingleN, 7)).as("ghash"))
    val path = QueryTmp.dir("lshsharded", d)
    SegmentedIndex.save(s, Dedup.LshSharded,
      Dedup.bandedSignaturesTiled(
        hashed.filter(!$"source".isin(DeltaSources: _*)).drop("source"),
        lshK(s, d), MinHashBands),
      path, 4)
    SegmentedIndex.update(s, path, Dedup.LshSharded.delta(
      hashed.filter($"source" === DeltaSources.head).drop("source"),
      lshK(s, d), MinHashBands))
    Dedup.incrementalLshPairsIndexed(
        hashed.filter($"source" === DeltaSources(1)).drop("source"),
        SegmentedIndex.load(s, Dedup.LshSharded, path),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"new_doc", $"dup_of")
  }

  // ── q198: SEGMENTED LSH lifecycle — the write-VOLUME fix on top of
  // q191's rewrite-unit fix. A delta's (band, bkey) keys spray across
  // the whole shard grid, so q191's merge-update still re-persisted
  // every touched shard's signature surface (measured SLOWER than the
  // unsharded merge at x25). Append-mode updates land one SHADOW-BUCKET
  // segment per routed shard: the re-censused union of exactly the
  // touched buckets plus a mask naming them — every row carries a
  // per-root write ordinal, a row is live iff no later mask names its
  // bucket, so the load is one multi-path scan + one broadcast
  // anti-join against the delta-scaled masks. The compaction then
  // folds the masked live view back to one segment per root. The
  // week-2 screen after BOTH steps reproduces q155 exactly: the oracle
  // IS q155's SQL. CLI: index-update --mode=append + index-compact
  // --type=lsh-sharded. ─────────────────────────────────────────────────
  val q198_lsh_segmented_compact: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashed = Tables.documents(s, d).select($"doc_id".as("id"), $"source",
      columnOf(graft.plans.WordShingleHashes(
        expressionOf($"text"), ShingleN, 7)).as("ghash"))
    val path = QueryTmp.dir("lshseg", d)
    SegmentedIndex.save(s, Dedup.LshSharded,
      Dedup.bandedSignaturesTiled(
        hashed.filter(!$"source".isin(DeltaSources: _*)).drop("source"),
        lshK(s, d), MinHashBands),
      path, 4)
    SegmentedIndex.update(s, path, Dedup.LshSharded.delta(
      hashed.filter($"source" === DeltaSources.head).drop("source"),
      lshK(s, d), MinHashBands), append = true)
    SegmentedIndex.compact(s, Dedup.LshSharded, path)
    Dedup.incrementalLshPairsIndexed(
        hashed.filter($"source" === DeltaSources(1)).drop("source"),
        SegmentedIndex.load(s, Dedup.LshSharded, path),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"new_doc", $"dup_of")
  }

  // ── q192: SHARDED CDC artifact — the same rewrite-unit economics on
  // the chunk tier: occurrences + rollup shard by CHUNK HASH and
  // co-swap per shard generation, the arriving slice's fold rewriting
  // only its routed shards (Dedup.CdcSharded.delta) — q154's lifecycle
  // on the sharded layout. Per-shard min/sum rollup merges equal the
  // global one (h determines the shard), so the updated rollup equals
  // the full-corpus build exactly: the oracle IS q154's SQL. CLI:
  // index-build/serve/update/remove --type=cdc-sharded. ─────────────────
  val q192_cdc_sharded_update: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val path = QueryTmp.dir("cdcsharded", d)
    SegmentedIndex.save(s, Dedup.CdcSharded,
      Dedup.buildCdcArtifact(docs.filter($"doc_id" % 10 =!= 0),
        "doc_id", "text", CdcMask),
      path, 4)
    SegmentedIndex.update(s, path,
      Dedup.CdcSharded.delta(docs.filter($"doc_id" % 10 === 0), CdcMask))
    SegmentedIndex.load(s, Dedup.CdcSharded, path).rollup
      .select($"h", $"first_doc", $"n_occ")
      .orderBy($"h")
  }

  // ── q164: LSH index REMOVE — right-to-be-forgotten on the dedup
  // screen: a deleted document must stop matching future probes, which
  // q155's append-only update can never deliver. Build the banded index
  // on everything except the week-2 delta (so week-1 src0 IS indexed),
  // DROP src0's doc ids with Dedup.removeFromLshIndex (anti-join + the
  // census re-derived over the survivors — shrinking a bucket can
  // REDUCE its tile count, and a stale census would probe dead tiles),
  // persist the swap, and screen the week-2 delta (src1) against the
  // RELOADED index: every (src1 × src0) pair the un-removed index would
  // emit must VANISH. Exact: the removed index equals a fresh build on
  // the remaining corpus, so the oracle is the incremental chain with
  // probe = src1 and BOTH delta sources excluded from the index side.
  // CLI: `index-remove --type=lsh`. ─────────────────────────────────────
  val q164_lsh_index_remove: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    val hashed = Tables.documents(s, d).select($"doc_id".as("id"), $"source",
      columnOf(graft.plans.WordShingleHashes(
        expressionOf($"text"), ShingleN, 7)).as("ghash"))
    val path = QueryTmp.dir("lshrm0", d)
    Dedup.saveLshIndex(
      Dedup.bandedSignaturesTiled(
        hashed.filter($"source" =!= DeltaSources(1)).drop("source"),
        lshK(s, d), MinHashBands),
      path)
    val removed = Dedup.removeFromLshIndex(Dedup.loadLshIndex(s, path),
      Tables.documents(s, d).filter($"source" === DeltaSources.head)
        .select($"doc_id".as("id")),
      lshK(s, d), MinHashBands)
    val upPath = QueryTmp.dir("lshrm1", d)
    Dedup.saveLshIndex(removed, upPath)
    Dedup.incrementalLshPairsIndexed(
        hashed.filter($"source" === DeltaSources(1)).drop("source"),
        Dedup.loadLshIndex(s, upPath),
        lshK(s, d), MinHashBands, JaccardThreshold)
      .orderBy($"new_doc", $"dup_of")
  }
  lazy val q164_sql: String =
    incrementalLshSql(Seq(DeltaSources(1)), DeltaSources)

  // ── q165: CDC chunk-index REMOVE — right-to-be-forgotten for the
  // chunk screen. The rollup alone (h, first_doc, n_occ) is NOT
  // invertible (min first_doc is unrecoverable once its witness doc is
  // deleted), so the persisted artifact carries the doc-grain chunk
  // occurrence table beside it (Dedup.CdcArtifact — the Bm25Index
  // split): removal is an anti-join on the chunks surface plus a rollup
  // re-derivation, equal to a fresh build over the remaining corpus
  // EXACTLY. Build the two-surface artifact on the whole corpus, DROP
  // the doc_id % 10 == 0 set, emit the re-derived rollup; the oracle
  // rebuilds it from the remaining docs. CLI: `index-remove
  // --type=cdc`. ───────────────────────────────────────────────────────
  val q165_cdc_index_remove: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val path = QueryTmp.dir("cdcremove", d)
    Dedup.saveCdcArtifact(
      Dedup.buildCdcArtifact(docs, "doc_id", "text", CdcMask), path)
    Dedup.removeFromCdcArtifact(Dedup.loadCdcArtifact(s, path),
        docs.filter($"doc_id" % 10 === 0).select($"doc_id"))
      .rollup.orderBy($"h")
  }
  lazy val q165_sql: String =
    s"""WITH $cdcChainSql
       |SELECT h, min(doc_id) AS first_doc, count(*) AS n_occ
       |FROM hashed WHERE doc_id % 10 <> 0 GROUP BY h ORDER BY h""".stripMargin

  val queries: Map[String, Q] = Map(
    "q21_exact_dedup" -> q21_exact_dedup,
    "q22_minhash_dedup" -> q22_minhash_dedup,
    "q23_simhash_dedup" -> q23_simhash_dedup,
    "q24_ngram_jaccard" -> q24_ngram_jaccard,
    "q49_dedup_clusters" -> q49_dedup_clusters,
    "q58_decontamination" -> q58_decontamination,
    "q71_fuzzy_join" -> q71_fuzzy_join,
    "q72_cleaned_corpus" -> q72_cleaned_corpus,
    "q79_incremental_dedup" -> q79_incremental_dedup,
    "q110_lsh_index_persist" -> q110_lsh_index_persist,
    "q80_survivorship" -> q80_survivorship,
    "q83_bloom_decontam" -> q83_bloom_decontam,
    "q84_dup_ngram_coverage" -> q84_dup_ngram_coverage,
    "q116_span_dedup" -> q116_span_dedup,
    "q122_diff_refresh" -> q122_diff_refresh,
    "q125_source_rank" -> q125_source_rank,
    "q151_cdc_chunk_dedup" -> q151_cdc_chunk_dedup,
    "q152_cdc_incremental" -> q152_cdc_incremental,
    "q154_cdc_index_update" -> q154_cdc_index_update,
    "q155_lsh_index_update" -> q155_lsh_index_update,
    "q164_lsh_index_remove" -> q164_lsh_index_remove,
    "q165_cdc_index_remove" -> q165_cdc_index_remove,
    "q191_lsh_sharded_update" -> q191_lsh_sharded_update,
    "q192_cdc_sharded_update" -> q192_cdc_sharded_update,
    "q198_lsh_segmented_compact" -> q198_lsh_segmented_compact,
  )
  val oracleSql: Map[String, String] = Map(
    "q21_exact_dedup" -> q21_sql,
    "q22_minhash_dedup" -> q22_sql,
    "q23_simhash_dedup" -> q23_sql,
    "q24_ngram_jaccard" -> q24_sql,
    "q49_dedup_clusters" -> q49_sql,
    "q58_decontamination" -> q58_sql,
    "q71_fuzzy_join" -> q71_sql,
    "q72_cleaned_corpus" -> q72_sql,
    "q79_incremental_dedup" -> q79_sql,
    // serve-from-persisted-index must reproduce q79 exactly
    "q110_lsh_index_persist" -> q79_sql,
    "q80_survivorship" -> q80_sql,
    "q83_bloom_decontam" -> q83_sql,
    "q84_dup_ngram_coverage" -> q84_sql,
    "q116_span_dedup" -> q116_sql,
    "q122_diff_refresh" -> q122_sql,
    "q125_source_rank" -> q125_sql,
    "q151_cdc_chunk_dedup" -> q151_sql,
    "q152_cdc_incremental" -> q152_sql,
    "q154_cdc_index_update" -> q154_sql,
    "q155_lsh_index_update" -> q155_sql,
    "q164_lsh_index_remove" -> q164_sql,
    "q165_cdc_index_remove" -> q165_sql,
    // sharded-layout lifecycles must hash-reproduce the unsharded ones
    "q191_lsh_sharded_update" -> q155_sql,
    "q192_cdc_sharded_update" -> q154_sql,
    // segmented append + compact must reproduce the same screen
    "q198_lsh_segmented_compact" -> q155_sql,
  )
}
