package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Similarity
import graft.operators.Clustering.{ImiTier, IvfFlatSharded, IvfPqSharded,
  IvfPqrSharded, IvfSqTier, PqTier, SqTier}
import graft.sinks.SegmentedIndex

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * q25: brute-force exact cosine top-k (the correctness baseline).
  * q26: sign-bit LSH-bucketed approximate top-k with Hamming-1 multi-probe
  * (the 100 TB scale path — the join shuffles on the bucket key, so a query
  * scores only its probed buckets, never the whole corpus).
  * q40: bucketed near-dup pair mining.
  *
  * The LSH bucket alphabet is CORPUS-SCALED: both engines derive
  * `bits = bitsFor(count(*), TargetBucketRows)` from the same table (Spark
  * via a driver-side count, DuckDB via the mirrored CASE ladder), so
  * Σ bucket² stays ≈ n·TargetBucketRows — linear — at any scale, and the
  * outputs still hash-compare exactly.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  val Dim = 64
  val K = 5
  val MaxQueryId = 10L
  val LshMaxQueryId = 50L
  val LshK = 3
  /** Target LSH bucket population (the Σbucket² knob — see
    * [[Similarity.bitsFor]]). */
  val TargetBucketRows = 32L
  /** Max usable sign hyperplanes (bucket key must fit the mirror mask). */
  val MaxBits = 16

  private def corpusBits(s: SparkSession, d: String): Int =
    Similarity.bitsFor(Tables.embeddings(s, d).count(), TargetBucketRows, MaxBits)

  /** `idx` saved as its tier's artifact at `path` with one shard, and
    * the artifact loaded back — the persisted index every serve below
    * reads. */
  private[graft] def persisted[A](s: SparkSession,
                                  tier: SegmentedIndex.Tier[A], idx: A,
                                  path: String): A = {
    SegmentedIndex.save(s, tier, idx, path, 1)
    SegmentedIndex.load(s, tier, path)
  }

  /** √n-scaled centroid-count bits for the TRAINED IVF codebook (see
    * `Similarity.quadBitsFor` — k ∝ n would make coarse training
    * quadratic; k ≈ √n is the classic IVF balance). */
  private[queries] def ivfBits(s: SparkSession, d: String): Int =
    Similarity.quadBitsFor(Tables.embeddings(s, d).count(), MaxBits)
  private[queries] def sqlIvfParams: String =
    s"ivfp AS (SELECT ${Similarity.sqlQuadBitsFor("count(*)", MaxBits)} AS bits FROM embeddings)"

  /** Oracle-side bucket: the full MaxBits sign key masked down to the
    * corpus-derived bit count — identical to Spark's signBucket(v, bits)
    * because bit d of the key is exactly hyperplane d's sign. */
  private def sqlBucket(v: String): String =
    s"(${sqlSignBucket(v, MaxBits)} & ((1::BIGINT << p.bits) - 1))"
  private def sqlParams: String =
    s"params AS (SELECT ${Similarity.sqlBitsFor("count(*)", TargetBucketRows, MaxBits)} AS bits FROM embeddings)"

  val q25_knn_brute: Q = (s, d) => {
    import s.implicits._
    Similarity.knnExact(Tables.embeddings(s, d), "vec_id", "embedding",
        MaxQueryId, K)
      .orderBy($"q_id", $"rank")
  }
  lazy val q25_sql: String =
    s"""WITH sv AS (
       |  SELECT vec_id, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings
       |), scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    ${sqlCosineFromNorms("q.v", "e.v", "q.nrm", "e.nrm", Dim)} AS cos
       |  FROM sv q JOIN sv e ON q.vec_id < $MaxQueryId AND e.vec_id <> q.vec_id
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  val q26_knn_lsh: Q = (s, d) => {
    import s.implicits._
    Similarity.knnLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        LshMaxQueryId, corpusBits(s, d), LshK, probeHamming = 1)
      .orderBy($"q_id", $"rank")
  }
  lazy val q26_sql: String =
    s"""WITH $sqlParams, sv AS (
       |  SELECT vec_id, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm,
       |    ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings, params p
       |), scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    ${sqlCosineFromNorms("q.v", "e.v", "q.nrm", "e.nrm", Dim)} AS cos
       |  FROM sv q JOIN sv e
       |    ON q.vec_id < $LshMaxQueryId
       |   AND bit_count(xor(e.bucket, q.bucket)) <= 1
       |   AND e.vec_id <> q.vec_id
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $LshK ORDER BY q_id, rank""".stripMargin

  // ── q45: IVF-bucketed ANN — inverted lists around a k-means-TRAINED
  // coarse codebook (hash-seeded, quantized Lloyd — the q77 chain, salt
  // "ivf"); a query scores only its nprobe nearest lists. Candidates
  // ≈ n·nprobe/numCentroids per query, with numCentroids on the √n
  // ladder (quadBitsFor — k ∝ n would make coarse TRAINING quadratic;
  // k ≈ √n is the classic IVF balance); training keeps the lists
  // balanced under skew, and the oracle replays codebook, cell
  // assignment, probing and rerank bit-for-bit. ──────────────────────────
  val IvfMaxQueryId = 20L
  val IvfNprobe = 2
  val IvfK = 3

  val q45_knn_ivf: Q = (s, d) => {
    import s.implicits._
    Similarity.knnIvf(Tables.embeddings(s, d), "vec_id", "embedding",
        IvfMaxQueryId, 1 << ivfBits(s, d), IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }
  /** The trained coarse codebook as a `cent(c_id, cv, cn)` CTE: the final
    * k-means lanes re-packed into centroid vectors (`list(... ORDER BY
    * pos)`), with the exact-int norm `sqrt(Σ cval²)` — the SQL mirror of
    * `Similarity.centroidSetFromLanes`. Expects the lanes CTE
    * `${p}c$iters` from [[kmeansChainSql]]. */
  private[queries] def ivfCentSql(lanesCte: String): String =
    s"""cent AS (
       |  SELECT cluster AS c_id, list(cval ORDER BY pos) AS cv,
       |    sqrt(CAST(sum(cval * cval) AS DOUBLE)) AS cn
       |  FROM $lanesCte GROUP BY cluster)""".stripMargin

  lazy val q45_sql: String = {
    def cos(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    s"""WITH $sqlIvfParams, sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings
       |), ${kmeansChainSql("iv", 0, Dim, "(SELECT 1 << bits FROM ivfp)",
          Similarity.IvfCoarseIters, Similarity.IvfCoarseSalt)},
       |${ivfCentSql(s"ivc${Similarity.IvfCoarseIters}")},
       |assigned AS (
       |  SELECT n_id, nv, nn, c_id FROM (
       |    SELECT s.vid AS n_id, s.v AS nv, s.nrm AS nn, c.c_id,
       |      row_number() OVER (PARTITION BY s.vid
       |        ORDER BY ${cos("s.v", "c.cv", "s.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM sv s CROSS JOIN cent c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT q_id, qv, qn, c_id FROM (
       |    SELECT q.vid AS q_id, q.v AS qv, q.nrm AS qn, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cos("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM sv q CROSS JOIN cent c WHERE q.vid < $IvfMaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), scored AS (
       |  SELECT p.q_id, a.n_id, ${cos("p.qv", "a.nv", "p.qn", "a.nn")} AS cos
       |  FROM probes p JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $IvfK ORDER BY q_id, rank""".stripMargin
  }

  // ── q40: embedding-cosine near-dup pairs (bucketed, thresholded) ────────
  val CosineDupThreshold = 0.4

  val q40_embedding_dedup: Q = (s, d) => {
    import s.implicits._
    Similarity.cosinePairs(Tables.embeddings(s, d), "vec_id", "embedding",
        corpusBits(s, d), CosineDupThreshold)
      .orderBy($"vec_a", $"vec_b")
  }
  lazy val q40_sql: String =
    s"""WITH $sqlParams, sv AS (
       |  SELECT vec_id, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm,
       |    ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings, params p
       |)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${sqlCosineFromNorms("a.v", "b.v", "a.nrm", "b.nrm", Dim)} AS cos
       |FROM sv a JOIN sv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${sqlCosineFromNorms("a.v", "b.v", "a.nrm", "b.nrm", Dim)} >= $CosineDupThreshold
       |ORDER BY vec_a, vec_b""".stripMargin

  // ── q59: embedding mean-pooling — per-label class centroids, one
  // scalar (label, pos, val, n) row per centroid lane. The posexplode →
  // (key, lane) partial-agg shape keeps both group size and dimension
  // distributed; lane sums are exact scaled int64, so the centroid
  // doubles hash-compare. Scalar rows (no array column) so the result
  // survives pandas-based external checkers. ───────────────────────────────
  val q59_embedding_pool: Q = (s, d) => {
    import s.implicits._
    Similarity.meanPoolLanes(Tables.embeddings(s, d), "label", "embedding")
      .orderBy($"label", $"pos")
  }
  lazy val q59_sql: String =
    s"""WITH sv AS (
       |  SELECT label, ${sqlScaled("embedding")} AS v FROM embeddings)
       |SELECT label, CAST(p.pos AS INT) AS pos,
       |  CAST(sum(list_extract(v, CAST(p.pos AS INT) + 1)) AS DOUBLE)
       |    / count(*) AS val,
       |  count(*) AS n
       |FROM sv, range($Dim) p(pos)
       |GROUP BY label, p.pos ORDER BY label, pos""".stripMargin

  // ── q66: int8 scalar quantization of the embedding corpus — the
  // compression pass before ANN indexing. Per-vector column work only
  // (zero shuffle, full codegen); the oracle recomputes codes and the
  // EXACT integer reconstruction-error bound in DuckDB. ──────────────────
  val q66_quantize: Q = (s, d) => {
    import s.implicits._
    val sv = Tables.embeddings(s, d)
      .select($"vec_id", scaled($"embedding").as("iv"))
      .withColumn("amax", amaxInt($"iv"))
    sv.withColumn("codes", int8Codes($"iv", $"amax"))
      .select($"vec_id", $"amax",
        aggregate($"codes", lit(0L), (a, x) => a + x).as("qsum"),
        aggregate($"codes", lit(-128L), (a, x) => greatest(a, x)).as("qmax"),
        maxQuantErr($"iv", $"codes", $"amax").as("maxerr"))
      .orderBy($"vec_id")
  }
  lazy val q66_sql: String =
    s"""WITH sv AS (
       |  SELECT vec_id, ${sqlScaled("embedding")} AS iv FROM embeddings),
       |am AS (
       |  SELECT vec_id, iv,
       |    list_max(list_transform(iv, x -> abs(x))) AS amax FROM sv),
       |q AS (
       |  SELECT vec_id, iv, amax,
       |    CASE WHEN amax = 0 THEN list_transform(iv, x -> 0::BIGINT)
       |    ELSE list_transform(iv, x ->
       |      CAST(trunc(CAST(x AS DOUBLE) * 127.0 / CAST(amax AS DOUBLE))
       |        AS BIGINT)) END AS codes
       |  FROM am)
       |SELECT vec_id, amax,
       |  CAST(list_sum(codes) AS BIGINT) AS qsum,
       |  list_max(codes) AS qmax,
       |  CAST(list_max(list_transform(range(1, $Dim + 1),
       |    i -> abs(iv[i] * 127 - codes[i] * amax))) AS BIGINT) AS maxerr
       |FROM q ORDER BY vec_id""".stripMargin

  // ── q77: distributed k-means — 2 full Lloyd rounds, deterministic hash
  // seeding, integer-quantized centroid updates (Clustering.kmeansLanes).
  // Output is the final centroid lanes (cluster, pos, cval, n) — every
  // value integer-exact, so the oracle replays BOTH iterations
  // relationally (assignment = argmin over an exact int64 distance join,
  // update = lane-sum trunc-division) and hash-compares. ─────────────────
  val KmeansK = 4
  val KmeansIters = 2

  val q77_kmeans: Q = (s, d) => {
    import s.implicits._
    graft.operators.Clustering
      .kmeansLanes(Tables.embeddings(s, d), "vec_id", "embedding",
        KmeansK, KmeansIters)
      .orderBy($"cluster", $"pos")
  }
  /** The kmeans CTE chain over the subvector v[start+1 .. start+subDim],
    * CTE names prefixed with `p` (so several chains — PQ subspaces — can
    * coexist in one WITH). Expects an outer `sv(vid, v)` CTE; the final
    * centroid lanes are `${p}c$iters` and the final-round assignment
    * (vid, cluster, dist — the exact argmin distance) is `${p}a$iters`.
    * Mirrors Clustering.lloyd: hash-seeded, argmin ties to the smallest
    * cluster, integer-quantized (trunc) centroid updates.
    *
    * `k` is a SQL expression (k appears only in the seed LIMIT, which
    * DuckDB evaluates as any scalar subquery/expression) — so corpus-
    * scaled cluster counts replay too (q102 passes a bitsFor-ladder
    * subquery; the fixed-k callers pass the integer literal). */
  /** The deterministic k-means CTE chain. `src` names the training CTE
    * (default the historical `sv`): rows `(vid, v)` with `v` ALREADY on
    * the integer lattice — which is what lets the residual-PQ oracle
    * (q172/q173) train the same chain on a residual CTE. */
  private[queries] def kmeansChainSql(p: String, start: Int, subDim: Int,
                             k: String, iters: Int, salt: String,
                             src: String = "sv"): String = {
    def assignUpdate(i: Int, lanesCte: String): String =
      s"""${p}d$i AS (
         |  SELECT s.vid, c.cluster,
         |    sum((list_extract(s.v, $start + c.pos + 1) - c.cval)
         |      * (list_extract(s.v, $start + c.pos + 1) - c.cval)) AS dist
         |  FROM $src s, $lanesCte c GROUP BY s.vid, c.cluster),
         |${p}a$i AS (
         |  SELECT vid, cluster, CAST(dist AS BIGINT) AS dist FROM (
         |    SELECT vid, cluster, dist,
         |      row_number() OVER (PARTITION BY vid ORDER BY dist, cluster) AS rn
         |    FROM ${p}d$i) WHERE rn = 1),
         |${p}c$i AS (
         |  SELECT a.cluster, CAST(pp.pos AS INT) AS pos,
         |    CAST(trunc(CAST(sum(list_extract(s.v, $start + CAST(pp.pos AS INT) + 1)) AS DOUBLE)
         |      / count(*)) AS BIGINT) AS cval,
         |    count(*) AS n
         |  FROM $src s JOIN ${p}a$i a ON s.vid = a.vid, range($subDim) pp(pos)
         |  GROUP BY a.cluster, pp.pos)""".stripMargin
    val chain = (1 to iters)
      .map(i => assignUpdate(i, s"${p}c${i - 1}")).mkString(",\n")
    s"""${p}h AS (
       |  SELECT vid,
       |    ('0x'||substr(md5('$salt' || CAST(vid AS VARCHAR)), 1, 7))::BIGINT AS hb
       |  FROM $src),
       |${p}seeds AS (
       |  SELECT vid, CAST(row_number() OVER (ORDER BY hb, vid) - 1 AS INT) AS cluster
       |  FROM ${p}h ORDER BY hb, vid LIMIT $k),
       |${p}c0 AS (
       |  SELECT sd.cluster, CAST(pp.pos AS INT) AS pos,
       |    list_extract(s.v, $start + CAST(pp.pos AS INT) + 1) AS cval
       |  FROM ${p}seeds sd JOIN $src s ON s.vid = sd.vid, range($subDim) pp(pos)),
       |$chain""".stripMargin
  }

  lazy val q77_sql: String =
    s"""WITH sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v
       |  FROM embeddings),
       |${kmeansChainSql("", 0, Dim, KmeansK.toString, KmeansIters, "kmeans")}
       |SELECT cluster, pos, cval, n FROM c$KmeansIters ORDER BY cluster, pos""".stripMargin

  // ── q88: product quantization — each 64-dim vector compressed to m=2
  // per-subspace k-means codes plus the EXACT int64 reconstruction
  // distance per subspace (Clustering.pqCodes). The oracle replays BOTH
  // subspace clusterings (same hash seeding, argmin ties, quantized
  // updates — two parallel kmeans CTE chains over vector slices) and the
  // assignment distances, so every code and every error is
  // hash-verified. Completes the ANN set: brute (q25), LSH (q26),
  // IVF (q45), PQ compression (q88). ─────────────────────────────────────
  val PqM = 2
  val PqK = 4
  val PqIters = 2

  val q88_pq_codes: Q = (s, d) => {
    import s.implicits._
    graft.operators.Clustering
      .pqCodes(Tables.embeddings(s, d), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters)
      .withColumnRenamed("vid", "vec_id")
      .orderBy($"vec_id")
  }
  lazy val q88_sql: String = {
    val sub = Dim / PqM
    val chains = (0 until PqM)
      .map(s => kmeansChainSql(s"s$s", s * sub, sub, PqK.toString, PqIters, s"pq$s"))
      .mkString(",\n")
    val joins = (1 until PqM)
      .map(s => s"JOIN s${s}a$PqIters j$s USING (vid)").mkString(" ")
    val cols = (0 until PqM)
      .map(s => s"j$s.cluster AS code$s, j$s.dist AS err$s").mkString(", ")
    s"""WITH sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v
       |  FROM embeddings),
       |$chains
       |SELECT vid AS vec_id, $cols
       |FROM s0a$PqIters j0 $joins ORDER BY vec_id""".stripMargin
  }

  // ── q89: PQ asymmetric-distance (ADC) search — the lookup half of PQ:
  // per-query distance tables (m·k integer entries) broadcast against the
  // corpus's long-form codes; adist = Σ_s table[s][code_s(n)], exact
  // int64, ties → smaller n_id. The oracle replays both subspace
  // clusterings AND the table-lookup ranking, so the compare verifies the
  // quantization-induced ranking itself, not a float approximation. ──────
  val PqTopK = 3

  val q89_pq_search: Q = (s, d) => {
    import s.implicits._
    graft.operators.Clustering
      .pqSearch(Tables.embeddings(s, d), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, MaxQueryId, PqTopK)
      .orderBy($"q_id", $"rank")
  }
  lazy val q89_sql: String = {
    val sub = Dim / PqM
    val chains = (0 until PqM)
      .map(s => kmeansChainSql(s"s$s", s * sub, sub, PqK.toString, PqIters, s"pq$s"))
      .mkString(",\n")
    val codes = (0 until PqM)
      .map(s => s"SELECT vid AS n_id, $s AS s, cluster AS code FROM s${s}a$PqIters")
      .mkString(" UNION ALL ")
    val lanes = (0 until PqM)
      .map(s => s"SELECT $s AS s, cluster AS code, pos, cval FROM s${s}c$PqIters")
      .mkString(" UNION ALL ")
    val qlane = s"list_extract(q.v, l.s * $sub + l.pos + 1)"
    s"""WITH sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v
       |  FROM embeddings),
       |$chains,
       |codes AS ($codes),
       |lanes AS ($lanes),
       |dt AS (
       |  SELECT q.vid AS q_id, l.s, l.code,
       |    CAST(sum(($qlane - l.cval) * ($qlane - l.cval)) AS BIGINT) AS dval
       |  FROM sv q, lanes l WHERE q.vid < $MaxQueryId
       |  GROUP BY q_id, l.s, l.code),
       |ad AS (
       |  SELECT d.q_id, c.n_id, CAST(sum(d.dval) AS BIGINT) AS adist
       |  FROM codes c JOIN dt d ON d.s = c.s AND d.code = c.code
       |  WHERE c.n_id <> d.q_id GROUP BY d.q_id, c.n_id)
       |SELECT q_id, rank, n_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist, n_id) AS rank FROM ad)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin
  }

  // ── q159: PQ index UPDATE — Faiss `add` on a trained PQ index: train
  // the per-subspace codebooks on the existing corpus (vec_id % 10 <> 0),
  // ENCODE the arriving slice against the FIXED final codebooks
  // (per-subspace argmin — never a refit) and append its codes, persist
  // through the staged swap, and ADC-serve the q89-shaped query batch
  // from the RELOADED artifact. The corpus keeps its fit-time LAST-ROUND
  // codes; adds encode against the FINAL lanes (the only codes the
  // persisted artifact has — Faiss's exact train/add asymmetry), and the
  // oracle mirrors both sides. CLI: `index-update --type=pq`. ───────────
  val q159_pq_index_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("pqupd0", d)
    val updated = graft.operators.Clustering.updatePqIndex(
      persisted(s, PqTier,
        graft.operators.Clustering.pqFit(emb.filter($"vec_id" % 10 =!= 0),
          "vec_id", "embedding", Dim, PqM, PqK, PqIters), path),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding", Dim, PqM)
    val upPath = QueryTmp.dir("pqupd1", d)
    graft.operators.Clustering
      .pqSearchIndex(persisted(s, PqTier, updated, upPath),
        emb, "vec_id", "embedding", Dim / PqM, MaxQueryId, PqTopK)
      .orderBy($"q_id", $"rank")
  }
  /** q89's structure with the subspace chains trained on the SLICE
    * (`sv`) and codes = slice's last-round fit codes ∪ the delta's
    * final-lane argmin encodes — exactly the updated artifact. */
  lazy val q159_sql: String = {
    val sub = Dim / PqM
    val chains = (0 until PqM)
      .map(s => kmeansChainSql(s"s$s", s * sub, sub, PqK.toString, PqIters, s"pq$s"))
      .mkString(",\n")
    val corpusCodes = (0 until PqM)
      .map(s => s"SELECT vid AS n_id, $s AS s, cluster AS code FROM s${s}a$PqIters")
      .mkString(" UNION ALL ")
    val deltaCodes = (0 until PqM).map { s =>
      val dlane = s"list_extract(u.v, $s * $sub + c.pos + 1)"
      s"""SELECT vid AS n_id, $s AS s, cluster AS code FROM (
         |    SELECT vid, cluster,
         |      row_number() OVER (PARTITION BY vid ORDER BY dist, cluster) AS rn
         |    FROM (
         |      SELECT u.vid, c.cluster,
         |        sum(($dlane - c.cval) * ($dlane - c.cval)) AS dist
         |      FROM dv u, s${s}c$PqIters c GROUP BY u.vid, c.cluster))
         |  WHERE rn = 1""".stripMargin
    }.mkString(" UNION ALL ")
    val lanes = (0 until PqM)
      .map(s => s"SELECT $s AS s, cluster AS code, pos, cval FROM s${s}c$PqIters")
      .mkString(" UNION ALL ")
    val qlane = s"list_extract(q.v, l.s * $sub + l.pos + 1)"
    s"""WITH uv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v
       |  FROM embeddings),
       |sv AS (SELECT vid, v FROM uv WHERE vid % 10 <> 0),
       |dv AS (SELECT vid, v FROM uv WHERE vid % 10 = 0),
       |$chains,
       |codes AS ($corpusCodes UNION ALL $deltaCodes),
       |lanes AS ($lanes),
       |dt AS (
       |  SELECT q.vid AS q_id, l.s, l.code,
       |    CAST(sum(($qlane - l.cval) * ($qlane - l.cval)) AS BIGINT) AS dval
       |  FROM uv q, lanes l WHERE q.vid < $MaxQueryId
       |  GROUP BY q_id, l.s, l.code),
       |ad AS (
       |  SELECT d.q_id, c.n_id, CAST(sum(d.dval) AS BIGINT) AS adist
       |  FROM codes c JOIN dt d ON d.s = c.s AND d.code = c.code
       |  WHERE c.n_id <> d.q_id GROUP BY d.q_id, c.n_id)
       |SELECT q_id, rank, n_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist, n_id) AS rank FROM ad)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin
  }

  // ── q162: two-stage retrieval SERVED from artifacts — q98's
  // production pattern closed over persisted state: the compressed
  // IVFPQ artifact produces the rerankPool-deep ADC shortlist and the
  // IVF-flat postings supply the raw vectors for the exact-cosine
  // rerank (only queries·rerankPool vectors are ever fetched). Both
  // artifacts train the same coarse codebook (same salt/params), so the
  // served two-stage search must reproduce q98 bit-for-bit: the oracle
  // IS q98's SQL. ───────────────────────────────────────────────────────
  val q162_ivfpq_rerank_serve: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val k = 1 << ivfBits(s, d)
    // the production shape: ONE coarse fit shared by both artifacts —
    // the ivfflat index is built first and the compressed index reuses
    // its lanes (identical cells by construction, half the n·k fit)
    val flat = QueryTmp.dir("ivfpqr1", d)
    val flatIdx = graft.operators.Clustering.buildIvfFlatIndex(emb,
      "vec_id", "embedding", k)
    val pq = QueryTmp.dir("ivfpqr0", d)
    graft.operators.Clustering.serveIvfPqRerank(
        persisted(s, IvfPqSharded,
          graft.operators.Clustering.buildIvfPqIndexWith(emb, "vec_id",
            "embedding", Dim, PqM, PqK, PqIters, flatIdx.lanes), pq),
        persisted(s, IvfFlatSharded, flatIdx, flat).postings,
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        RerankPool, PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q94: IVF×PQ composed ANN — the sublinear index: q45's coarse
  // quantizer (corpus-scaled k-means-TRAINED centroids, cosine cells)
  // prunes the corpus to each query's nprobe probed cells, and q89's ADC
  // tables rank ONLY those cells' PQ codes. Per-query scored rows ≈
  // n·nprobe/numCentroids instead of n — the FAISS IVFPQ shape, fully
  // integer-deterministic, so the oracle replays coarse assignment,
  // probing, both subspace clusterings, and the pruned ADC ranking. ──────
  val q94_ivfpq_search: Q = (s, d) => {
    import s.implicits._
    graft.operators.Clustering
      .ivfPqSearch(Tables.embeddings(s, d), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d), IvfNprobe,
        MaxQueryId, PqTopK)
      .orderBy($"q_id", $"rank")
  }
  lazy val q94_sql: String =
    s"""WITH ${ivfPqChainSql()}
       |SELECT q_id, rank, n_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist, n_id) AS rank FROM ad)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin

  // ── q160: the composed IVFPQ artifact (Clustering.IvfPqIndex) — the
  // production 100 TB ANN shape persisted as one index: coarse codebook
  // + cell-partitioned inverted lists (n_id, c_id only) + PQ codes +
  // PQ codebooks, NO raw vectors anywhere. Serve = probes kernel-ranked
  // against the loaded coarse codebook, cells scan pruned to the probed
  // partitions, candidates fetch their m codes, broadcast ADC tables
  // fold to one integer distance per pair. Parameters match q94 exactly
  // and every persisted surface is int64-lossless, so the served search
  // must reproduce q94 bit-for-bit: the oracle IS q94's SQL. ────────────
  val q160_ivfpq_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqidx", d)
    graft.operators.Clustering.serveIvfPq(
        persisted(s, IvfPqSharded,
          graft.operators.Clustering.buildIvfPqIndex(emb, "vec_id", "embedding",
            Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)), path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe, PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q181: FILTERED compressed-tier ANN — q177's predicate+vector
  // query on the 100 TB artifact shape: the label attribute is
  // materialized in the CELLS surface at build (buildIvfPqIndex
  // attrCols) and the serve composes the predicate into the probed-cell
  // scan BEFORE the candidate join, so the ADC topK are all MATCHING
  // codes — no raw vectors read, rank-then-filter's silent under-fill
  // avoided. Oracle: q94's chain with the label restriction on the
  // candidate set. ──────────────────────────────────────────────────────
  val q181_ivfpq_filtered: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqfil", d)
    graft.operators.Clustering.serveIvfPqFiltered(
        persisted(s, IvfPqSharded,
          graft.operators.Clustering.buildIvfPqIndex(emb, "vec_id", "embedding",
            Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d),
            attrCols = Seq("label")), path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        PqTopK, pred = col("label") === FilterLabel)
      .orderBy($"q_id", $"rank")
  }
  lazy val q181_sql: String =
    s"""WITH ${ivfPqChainSql(s"AND a.label = $FilterLabel")}
       |SELECT q_id, rank, n_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist, n_id) AS rank FROM ad)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin

  // ── q182: SHARDED compressed artifact — the q175 rewrite-unit layout
  // applied to the tier the engine ships at 100 TB (IvfPqIndex): cells
  // AND codes shard by n_id mod 4, each shard a root of immutable
  // segments, both surfaces landing inside one segment so they stay
  // id-consistent. The shard-merged ADC serve must reproduce the
  // unsharded q160/q94 search bit-for-bit (equal surface sets,
  // deterministic integer rank): the oracle IS q94's SQL. ──────────────
  val q182_ivfpq_sharded: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqsh", d)
    SegmentedIndex.save(s, IvfPqSharded,
      graft.operators.Clustering.buildIvfPqIndex(emb, "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)),
      path, 4)
    graft.operators.Clustering.serveIvfPq(
        SegmentedIndex.load(s, IvfPqSharded, path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe, PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q183: sharded compressed UPDATE — q161's train/add split where
  // the add appends one delta-sized cells+codes segment to ONLY the
  // shards the delta routes to (one manifest commit). Both
  // surfaces are monoids under the fixed codebooks, so the served ADC
  // search still equals a fresh assignment+encode of the union under
  // the slice-trained fits: the oracle IS q161's SQL. ──────────────────
  val q183_ivfpq_shard_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqshup", d)
    SegmentedIndex.save(s, IvfPqSharded,
      graft.operators.Clustering.buildIvfPqIndex(
        emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)),
      path, 4)
    SegmentedIndex.update(s, path,
      IvfPqSharded.delta(emb.filter($"vec_id" % 10 === 0),
        "vec_id", "embedding", Dim, PqM))
    graft.operators.Clustering.serveIvfPq(
        SegmentedIndex.load(s, IvfPqSharded, path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe, PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q184: FILTERED serve over the SHARDED raw-vector artifact —
  // q177's predicate+vector query where the postings live in per-shard
  // segments: attrs ride every shard surface, the predicate composes
  // into each segment's pruned scan (the serve verb's
  // --type=ivfflat-sharded --filter-col path). Equal postings sets ⇒
  // the sharded filtered serve must reproduce q177 bit-for-bit: the
  // oracle IS q177's SQL. ───────────────────────────────────────────────
  val q184_ivfflat_sharded_filtered: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfflatshfil", d)
    SegmentedIndex.save(s, IvfFlatSharded,
      graft.operators.Clustering.buildIvfFlatIndex(
        emb, "vec_id", "embedding", 1 << ivfBits(s, d),
        attrCols = Seq("label")),
      path, 4)
    graft.operators.Clustering.serveIvfFlatFiltered(
        SegmentedIndex.load(s, IvfFlatSharded, path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK,
        pred = col("label") === FilterLabel)
      .orderBy($"q_id", $"rank")
  }

  // ── q161: IVFPQ index UPDATE — the ivfflat add (kernel cell
  // assignment, q157) and the pq add (per-subspace encode, q159)
  // composed over one delta pass: both corpus-sized surfaces are
  // monoids under the FIXED coarse + PQ codebooks. Build on the
  // existing corpus (vec_id % 10 <> 0), add the arriving slice, serve
  // the q94-shaped batch from the RELOADED artifact. The oracle trains
  // every chain on the slice and assigns/encodes the union — delta
  // codes argmin against the FINAL subspace lanes (the q159 asymmetry),
  // delta cells against the final coarse codebook. ──────────────────────
  val q161_ivfpq_index_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqupd0", d)
    val updated = graft.operators.Clustering.updateIvfPqIndex(
      persisted(s, IvfPqSharded,
        graft.operators.Clustering.buildIvfPqIndex(
          emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
          Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)), path),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding", Dim, PqM)
    val upPath = QueryTmp.dir("ivfpqupd1", d)
    graft.operators.Clustering.serveIvfPq(
        persisted(s, IvfPqSharded, updated, upPath),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe, PqTopK)
      .orderBy($"q_id", $"rank")
  }
  /** q94's structure with every chain trained on the SLICE (`sv`) while
    * cell assignment, probing, ADC tables and the DELTA's code encodes
    * run over ALL vectors (`uv`). */
  lazy val q161_sql: String = {
    def cos(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    val sub = Dim / PqM
    val chains = (0 until PqM)
      .map(s => kmeansChainSql(s"s$s", s * sub, sub, PqK.toString, PqIters, s"pq$s"))
      .mkString(",\n")
    val corpusCodes = (0 until PqM)
      .map(s => s"SELECT vid AS n_id, $s AS s, cluster AS code FROM s${s}a$PqIters")
      .mkString(" UNION ALL ")
    val deltaCodes = (0 until PqM).map { s =>
      val dlane = s"list_extract(u.v, $s * $sub + c.pos + 1)"
      s"""SELECT vid AS n_id, $s AS s, cluster AS code FROM (
         |    SELECT vid, cluster,
         |      row_number() OVER (PARTITION BY vid ORDER BY dist, cluster) AS rn
         |    FROM (
         |      SELECT u.vid, c.cluster,
         |        sum(($dlane - c.cval) * ($dlane - c.cval)) AS dist
         |      FROM dv u, s${s}c$PqIters c GROUP BY u.vid, c.cluster))
         |  WHERE rn = 1""".stripMargin
    }.mkString(" UNION ALL ")
    val lanes = (0 until PqM)
      .map(s => s"SELECT $s AS s, cluster AS code, pos, cval FROM s${s}c$PqIters")
      .mkString(" UNION ALL ")
    val qlane = s"list_extract(q.v, l.s * $sub + l.pos + 1)"
    s"""WITH $sqlIvfParams, uv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings),
       |sv AS (SELECT vid, v, nrm FROM uv WHERE vid % 10 <> 0),
       |dv AS (SELECT vid, v FROM uv WHERE vid % 10 = 0),
       |$chains,
       |${kmeansChainSql("iv", 0, Dim, "(SELECT 1 << bits FROM ivfp)",
          Similarity.IvfCoarseIters, Similarity.IvfCoarseSalt)},
       |${ivfCentSql(s"ivc${Similarity.IvfCoarseIters}")},
       |assigned AS (
       |  SELECT n_id, c_id FROM (
       |    SELECT s.vid AS n_id, c.c_id,
       |      row_number() OVER (PARTITION BY s.vid
       |        ORDER BY ${cos("s.v", "c.cv", "s.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv s CROSS JOIN cent c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vid AS q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cos("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv q CROSS JOIN cent c WHERE q.vid < $MaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), cand AS (
       |  SELECT p.q_id, a.n_id FROM probes p
       |  JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id
       |), codes AS ($corpusCodes UNION ALL $deltaCodes),
       |lanes AS ($lanes),
       |dt AS (
       |  SELECT q.vid AS q_id, l.s, l.code,
       |    CAST(sum(($qlane - l.cval) * ($qlane - l.cval)) AS BIGINT) AS dval
       |  FROM uv q, lanes l WHERE q.vid < $MaxQueryId
       |  GROUP BY q_id, l.s, l.code),
       |ad AS (
       |  SELECT x.q_id, x.n_id, CAST(sum(d.dval) AS BIGINT) AS adist
       |  FROM cand x JOIN codes c ON c.n_id = x.n_id
       |  JOIN dt d ON d.q_id = x.q_id AND d.s = c.s AND d.code = c.code
       |  GROUP BY x.q_id, x.n_id)
       |SELECT q_id, rank, n_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist, n_id) AS rank FROM ad)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin
  }

  /** The full IVF×PQ oracle chain through `ad(q_id, n_id, adist)` — the
    * per-candidate exact ADC distances of the pruned index. Shared by
    * q94 (rank by adist) and q98 (rerank the adist shortlist by exact
    * cosine). Expects nothing; defines sv/params/chains/cent/assigned/
    * probes/cand/codes/lanes/dt/ad. */
  private def ivfPqChainSql(candWhere: String = ""): String = {
    def cos(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    val sub = Dim / PqM
    val chains = (0 until PqM)
      .map(s => kmeansChainSql(s"s$s", s * sub, sub, PqK.toString, PqIters, s"pq$s"))
      .mkString(",\n")
    val codes = (0 until PqM)
      .map(s => s"SELECT vid AS n_id, $s AS s, cluster AS code FROM s${s}a$PqIters")
      .mkString(" UNION ALL ")
    val lanes = (0 until PqM)
      .map(s => s"SELECT $s AS s, cluster AS code, pos, cval FROM s${s}c$PqIters")
      .mkString(" UNION ALL ")
    val qlane = s"list_extract(q.v, l.s * $sub + l.pos + 1)"
    s"""$sqlIvfParams, sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm,
       |    CAST(label AS INT) AS label
       |  FROM embeddings),
       |$chains,
       |${kmeansChainSql("iv", 0, Dim, "(SELECT 1 << bits FROM ivfp)",
          Similarity.IvfCoarseIters, Similarity.IvfCoarseSalt)},
       |${ivfCentSql(s"ivc${Similarity.IvfCoarseIters}")},
       |assigned AS (
       |  SELECT n_id, label, c_id FROM (
       |    SELECT s.vid AS n_id, s.label, c.c_id,
       |      row_number() OVER (PARTITION BY s.vid
       |        ORDER BY ${cos("s.v", "c.cv", "s.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM sv s CROSS JOIN cent c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vid AS q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cos("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM sv q CROSS JOIN cent c WHERE q.vid < $MaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), cand AS (
       |  SELECT p.q_id, a.n_id FROM probes p
       |  JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id $candWhere
       |), codes AS ($codes),
       |lanes AS ($lanes),
       |dt AS (
       |  SELECT q.vid AS q_id, l.s, l.code,
       |    CAST(sum(($qlane - l.cval) * ($qlane - l.cval)) AS BIGINT) AS dval
       |  FROM sv q, lanes l WHERE q.vid < $MaxQueryId
       |  GROUP BY q_id, l.s, l.code),
       |ad AS (
       |  SELECT x.q_id, x.n_id, CAST(sum(d.dval) AS BIGINT) AS adist
       |  FROM cand x JOIN codes c ON c.n_id = x.n_id
       |  JOIN dt d ON d.q_id = x.q_id AND d.s = c.s AND d.code = c.code
       |  GROUP BY x.q_id, x.n_id)""".stripMargin
  }

  // ── q98: two-stage retrieval — q94's compressed-index shortlist
  // (rerankPool deepest ADC candidates) re-scored by EXACT cosine on raw
  // vectors; final order is exact, the index only decides which pairs
  // get the exact math. The oracle replays shortlist AND rerank. ─────────
  val RerankPool = 6

  val q98_ivfpq_rerank: Q = (s, d) => {
    import s.implicits._
    graft.operators.Clustering
      .ivfPqRerank(Tables.embeddings(s, d), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d), IvfNprobe,
        MaxQueryId, RerankPool, PqTopK)
      .orderBy($"q_id", $"rank")
  }
  lazy val q98_sql: String =
    s"""WITH ${ivfPqChainSql()},
       |short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adist, n_id) AS arank FROM ad)
       |  WHERE arank <= $RerankPool
       |), rescored AS (
       |  SELECT s.q_id, s.n_id,
       |    ${sqlCosineFromNorms("q.v", "n.v", "q.nrm", "n.nrm", Dim)} AS cos
       |  FROM short s JOIN sv q ON q.vid = s.q_id JOIN sv n ON n.vid = s.n_id
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM rescored)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin

  // ── q90: contrastive triplet mining — anchors (vec_id < 10) paired
  // with their exact top-1 neighbor (hard positive) and a deterministic
  // hash-drawn OUT-OF-BUCKET negative (reproducible "random" sampling, no
  // RNG). The margin diagnostic rides along; everything — including which
  // negative the hash picks — is oracle-replayed. ────────────────────────
  val q90_triplets: Q = (s, d) => {
    import s.implicits._
    Similarity.tripletMining(Tables.embeddings(s, d), "vec_id", "embedding",
        MaxQueryId, corpusBits(s, d))
      .orderBy($"q_id")
  }
  lazy val q90_sql: String =
    s"""WITH $sqlParams, sv AS (
       |  SELECT vec_id, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm,
       |    ${sqlBucket("embedding")} AS bucket
       |  FROM embeddings, params p
       |), scored AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    ${sqlCosineFromNorms("q.v", "e.v", "q.nrm", "e.nrm", Dim)} AS cos
       |  FROM sv q JOIN sv e ON q.vec_id < $MaxQueryId AND e.vec_id <> q.vec_id
       |), pos AS (
       |  SELECT q_id, n_id AS pos_id, cos AS cos_pos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
       |  WHERE rank = 1
       |), negc AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    ${sqlCosineFromNorms("q.v", "e.v", "q.nrm", "e.nrm", Dim)} AS cos,
       |    ('0x'||substr(md5('neg' || CAST(q.vec_id AS VARCHAR) || ':'
       |      || CAST(e.vec_id AS VARCHAR)), 1, 7))::BIGINT AS nh
       |  FROM sv q JOIN sv e
       |    ON q.vec_id < $MaxQueryId AND e.bucket <> q.bucket
       |  JOIN pos p ON p.q_id = q.vec_id AND e.vec_id <> p.pos_id
       |), neg AS (
       |  SELECT q_id, n_id AS neg_id, cos AS cos_neg FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY nh ASC, n_id ASC) AS rn FROM negc)
       |  WHERE rn = 1)
       |SELECT p.q_id, p.pos_id, p.cos_pos, n.neg_id, n.cos_neg,
       |  p.cos_pos - n.cos_neg AS margin
       |FROM pos p JOIN neg n USING (q_id) ORDER BY q_id""".stripMargin

  // ── q93: per-lane min-max feature scaling — the preprocessing
  // normalization pass before clustering/quantization. Lane statistics
  // are a 64-row aggregate (posexplode → groupBy(pos), partial-agg'd)
  // broadcast back over the scan; the normalized value is quantized to
  // [0, 2^20] via integer division, so every output is exact int64 and
  // the per-vector checksums hash-compare. Constant lanes (hi == lo)
  // normalize to 0 by convention in both engines. ────────────────────────
  /** q93 quantization width (normalized range is [0, NormScale]) — one
    * constant shared by the Spark expr and the oracle SQL so the two can
    * never drift. */
  val NormScale = 1L << 20

  val q93_feature_scale: Q = (s, d) => {
    import s.implicits._
    val sv = Tables.embeddings(s, d)
      .select($"vec_id", posexplode(scaled($"embedding")).as(Seq("pos", "x")))
    val stats = sv.groupBy($"pos").agg(min($"x").as("lo"), max($"x").as("hi"))
    sv.join(broadcast(stats), "pos")
      .withColumn("nv", when($"hi" === $"lo", lit(0L))
        .otherwise(expr(s"((x - lo) * ${NormScale}L) div (hi - lo)")))
      .groupBy($"vec_id")
      .agg(sum($"nv").as("nsum"), min($"nv").as("nmin"), max($"nv").as("nmax"))
      .orderBy($"vec_id")
  }
  lazy val q93_sql: String =
    s"""WITH sv AS (
       |  SELECT vec_id, ${sqlScaled("embedding")} AS v FROM embeddings),
       |lanes AS (
       |  SELECT vec_id, CAST(p.pos AS INT) AS pos,
       |    list_extract(v, CAST(p.pos AS INT) + 1) AS x
       |  FROM sv, range($Dim) p(pos)),
       |stats AS (
       |  SELECT pos, min(x) AS lo, max(x) AS hi FROM lanes GROUP BY pos),
       |n AS (
       |  SELECT vec_id,
       |    CASE WHEN hi = lo THEN 0
       |         ELSE ((x - lo) * $NormScale) // (hi - lo) END AS nv
       |  FROM lanes JOIN stats USING (pos))
       |SELECT vec_id, CAST(sum(nv) AS BIGINT) AS nsum,
       |  min(nv) AS nmin, max(nv) AS nmax
       |FROM n GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ── q102: SemDeDup — semantic dedup via cluster-bounded cosine pruning
  // (Clustering.semDedup): one k-means fit, then near-dup pairs mined ONLY
  // within a cluster (the k-means complement of q40's LSH buckets). The
  // cluster count is CORPUS-SCALED through the same bitsFor ladder as the
  // LSH alphabet — k = 2^bitsFor(n, SemTargetClusterRows) — which keeps
  // the pair cost Σ|cluster|² ≈ n·SemTargetClusterRows LINEAR in corpus
  // size (a fixed k would make within-cluster pairing quadratic; the
  // SemDeDup paper's k=50k-on-5B is exactly this scaling). The oracle
  // replays the ENTIRE composition: the same hash-seeded quantized Lloyd
  // chain as q77 (kmeansChainSql, salt "semdedup", k as a ladder
  // subquery in the seed LIMIT), the assignment join, and every
  // within-cluster cosine — so the compare verifies cluster membership
  // AND the prune decisions bit-for-bit. ─────────────────────────────────
  val SemIters = 2
  /** Target cluster population (the Σ|cluster|² knob). */
  val SemTargetClusterRows = 32L
  /** Cap: k ≤ 2^10 keeps driver centroid state (k·dim longs) tiny; at
    * true 100 TB scale raise it toward the paper's k≈n/targetRows. */
  val SemMaxClusterBits = 10
  /** Per-cluster pairing width cap (the skew guard — see
    * `Clustering.subcells`): clusters larger than this split into hash
    * subcells before pairing, so a degenerate corpus cannot re-create the
    * quadratic within-cluster join. 8× the target population — inactive
    * on healthy corpora (width 1, cell 0), which is why q102/q105 output
    * is unchanged at the test SFs while the oracle still replays the
    * split unconditionally. */
  val SemClusterCap = 256L

  /** Subcell CTEs mirroring `Clustering.subcells`: sizes of the final
    * assignment `aCte`, then cell = hash28(salt-cell || vid) % width.
    * Defines `${p}sz` and `${p}cl(vid, cluster, cell)`. */
  private def subcellSql(p: String, aCte: String, salt: String): String =
    s"""${p}sz AS (SELECT cluster, count(*) AS csize FROM $aCte GROUP BY 1),
       |${p}cl AS (
       |  SELECT a.vid, a.cluster,
       |    ('0x'||substr(md5('$salt-cell' || CAST(a.vid AS VARCHAR)), 1, 7))::BIGINT
       |      % ((z.csize + ${SemClusterCap - 1}) // $SemClusterCap) AS cell
       |  FROM $aCte a JOIN ${p}sz z USING (cluster))""".stripMargin

  val q102_semdedup: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val k = 1 << Similarity.bitsFor(emb.count(), SemTargetClusterRows,
      SemMaxClusterBits)
    graft.operators.Clustering
      .semDedup(emb, "vec_id", "embedding", k, SemIters, CosineDupThreshold,
        clusterCap = SemClusterCap)
      .orderBy($"pruned")
  }
  lazy val q102_sql: String = {
    val cos = sqlCosineFromNorms("x.v", "y.v", "x.nrm", "y.nrm", Dim)
    val ladder = Similarity.sqlBitsFor("count(*)", SemTargetClusterRows,
      SemMaxClusterBits)
    s"""WITH sdp AS (SELECT $ladder AS bits FROM embeddings),
       |sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings),
       |${kmeansChainSql("sd", 0, Dim, "(SELECT 1 << bits FROM sdp)",
          SemIters, "semdedup")},
       |${subcellSql("sd", s"sda$SemIters", "semdedup")},
       |j AS (
       |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
       |  FROM sv s JOIN sdcl c USING (vid))
       |SELECT x.cluster, y.vid AS pruned, min(x.vid) AS keeper,
       |  max($cos) AS best_cos
       |FROM j x JOIN j y ON x.cluster = y.cluster AND x.cell = y.cell
       |  AND x.vid < y.vid
       |WHERE $cos >= $CosineDupThreshold
       |GROUP BY x.cluster, y.vid ORDER BY pruned""".stripMargin
  }

  // ── q105: incremental SemDeDup — the ingestion-time composition
  // (Clustering.semDedupDelta): k-means fitted on the EXISTING corpus
  // only (labels outside SemDeltaLabels), the delta batch assigned to
  // those centroids in one kernel pass, and near-dup cosines mined only
  // between delta and corpus rows sharing a cluster — corpus×corpus is
  // never re-paired, so recurring ingestion cost scales with the delta
  // (q79's incremental-LSH economics, on embeddings). The oracle replays
  // the corpus-only Lloyd chain, the delta argmin against the FINAL
  // centroid lanes, and every cross-side cosine. ─────────────────────────
  val SemDeltaLabels = Seq(8, 9)

  val q105_incremental_semdedup: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val isDelta = $"label".isin(SemDeltaLabels: _*)
    val corpus = emb.filter(!isDelta)
    val k = 1 << Similarity.bitsFor(corpus.count(), SemTargetClusterRows,
      SemMaxClusterBits)
    graft.operators.Clustering
      .semDedupDelta(emb.filter(isDelta), corpus, "vec_id", "embedding",
        k, SemIters, CosineDupThreshold, "semdedup-inc",
        clusterCap = SemClusterCap)
      .orderBy($"pruned")
  }
  lazy val q105_sql: String = {
    val cos = sqlCosineFromNorms("x.v", "y.v", "x.nrm", "y.nrm", Dim)
    val deltaList = SemDeltaLabels.mkString(", ")
    val ladder = Similarity.sqlBitsFor("count(*)", SemTargetClusterRows,
      SemMaxClusterBits)
    s"""WITH sdp AS (
       |  SELECT $ladder AS bits FROM embeddings WHERE label NOT IN ($deltaList)),
       |sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings WHERE label NOT IN ($deltaList)),
       |${kmeansChainSql("sd", 0, Dim, "(SELECT 1 << bits FROM sdp)",
          SemIters, "semdedup-inc")},
       |dsv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings WHERE label IN ($deltaList)),
       |dd AS (
       |  SELECT s.vid, c.cluster,
       |    sum((list_extract(s.v, c.pos + 1) - c.cval)
       |      * (list_extract(s.v, c.pos + 1) - c.cval)) AS dist
       |  FROM dsv s, sdc$SemIters c GROUP BY s.vid, c.cluster),
       |da AS (
       |  SELECT vid, cluster FROM (
       |    SELECT vid, cluster,
       |      row_number() OVER (PARTITION BY vid ORDER BY dist, cluster) AS rn
       |    FROM dd) WHERE rn = 1),
       |${subcellSql("sd", s"sda$SemIters", "semdedup-inc")},
       |dcl AS (
       |  SELECT a.vid, a.cluster,
       |    ('0x'||substr(md5('semdedup-inc-cell' || CAST(a.vid AS VARCHAR)), 1, 7))::BIGINT
       |      % ((z.csize + ${SemClusterCap - 1}) // $SemClusterCap) AS cell
       |  FROM da a JOIN sdsz z USING (cluster)),
       |cj AS (
       |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
       |  FROM sv s JOIN sdcl c USING (vid)),
       |dj AS (
       |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
       |  FROM dsv s JOIN dcl c USING (vid))
       |SELECT x.cluster, y.vid AS pruned, min(x.vid) AS keeper,
       |  max($cos) AS best_cos
       |FROM cj x JOIN dj y ON x.cluster = y.cluster AND x.cell = y.cell
       |WHERE $cos >= $CosineDupThreshold
       |GROUP BY x.cluster, y.vid ORDER BY pruned""".stripMargin
  }

  // ── q106: PQ index persistence — train ONCE (Clustering.pqFit), persist
  // the compressed index as parquet (codes + codebooks), load it back,
  // and ADC-search from the LOADED artifact with no raw vectors and no
  // retraining — the FAISS build-once/serve-many economics on columnar
  // storage. Parameters match q89 exactly, so the search from the
  // persisted index must reproduce q89's output bit-for-bit: the oracle
  // is q89's own SQL, making the save/load roundtrip itself
  // hash-verified. ───────────────────────────────────────────────────────
  val q106_pq_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("pqindex", d)
    val idx = graft.operators.Clustering
      .pqFit(emb, "vec_id", "embedding", Dim, PqM, PqK, PqIters)
    val loaded = persisted(s, PqTier, idx, path)
    graft.operators.Clustering
      .pqSearchIndex(loaded, emb, "vec_id", "embedding", Dim / PqM,
        MaxQueryId, PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q111: IVF codebook persistence — train the coarse quantizer ONCE,
  // persist its integer lanes as parquet, load them back, and serve the
  // q45 search from the LOADED codebook (knnIvfWith) with no retraining —
  // the IVF face of q106 (PQ) and q110 (LSH): every index tier is a
  // persistable artifact. Parameters match q45 exactly and the lanes are
  // pure int64 (lossless roundtrip), so the served search must reproduce
  // q45 bit-for-bit: the oracle IS q45's SQL. ────────────────────────────
  val q111_ivf_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfindex", d)
    graft.operators.Clustering.saveIvfCodebook(
      graft.operators.Clustering.ivfCoarseLanes(
        emb, "vec_id", "embedding", 1 << ivfBits(s, d)),
      path)
    Similarity.knnIvfWith(emb, "vec_id", "embedding",
        graft.operators.Clustering.loadIvfCodebook(s, path),
        IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q156: the FULL inverted-file index (IndexIVFFlat shape) — persist
  // the inverted LISTS, not just the codebook. q111's artifact still
  // re-assigns the whole corpus per query batch (a full-corpus kernel
  // pass); here build once materializes postings partitioned BY CELL
  // (`partitionBy(c_id)` — the on-disk inverted-list layout), and serve
  // reads queries only: probes kernel-rank against the loaded codebook,
  // the broadcast probe join dynamically prunes the postings scan to the
  // probed cell directories. Same parameters as q45 and the postings are
  // exact (int64 vectors + IEEE-exact norms roundtrip), so the served
  // search must reproduce q45 bit-for-bit: the oracle IS q45's SQL. ─────
  val q156_ivfflat_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfflat", d)
    graft.operators.Clustering.serveIvfFlat(
        persisted(s, IvfFlatSharded,
          graft.operators.Clustering.buildIvfFlatIndex(
            emb, "vec_id", "embedding", 1 << ivfBits(s, d)), path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q157: IVF index UPDATE — the Faiss train/add split as an artifact
  // operation. Train the codebook and postings on the existing corpus
  // (vec_id % 10 <> 0), ADD the arriving slice with updateIvfFlatIndex
  // (one delta kernel-assign + append against the FIXED loaded
  // centroids — never a refit, never a corpus re-assign), persist the
  // updated artifact through the staged swap, and serve the q45-shaped
  // query batch from the RELOADED index. Assignment against fixed
  // centroids has no cross-row state, so the updated postings equal a
  // fresh assignment of the union: the oracle trains the k-means chain
  // on the slice (sv) and assigns/probes/scores over ALL vectors (uv).
  // CLI: `index-update --type=ivfflat`. ─────────────────────────────────
  val q157_ivfflat_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfflatup0", d)
    val updated = graft.operators.Clustering.updateIvfFlatIndex(
      persisted(s, IvfFlatSharded,
        graft.operators.Clustering.buildIvfFlatIndex(
          emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
          1 << ivfBits(s, d)), path),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding")
    val upPath = QueryTmp.dir("ivfflatup1", d)
    graft.operators.Clustering.serveIvfFlat(
        persisted(s, IvfFlatSharded, updated, upPath),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }
  /** q45's structure with the k-means chain trained on the SLICE (`sv`,
    * the pre-update corpus) while assignment, probing and scoring run
    * over ALL vectors (`uv` = slice ∪ delta) — exactly what the updated
    * postings contain when the add is exact. */
  lazy val q157_sql: String = {
    def cos(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    s"""WITH $sqlIvfParams, uv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings
       |), sv AS (
       |  SELECT vid, v, nrm FROM uv WHERE vid % 10 <> 0
       |), ${kmeansChainSql("iv", 0, Dim, "(SELECT 1 << bits FROM ivfp)",
          Similarity.IvfCoarseIters, Similarity.IvfCoarseSalt)},
       |${ivfCentSql(s"ivc${Similarity.IvfCoarseIters}")},
       |assigned AS (
       |  SELECT n_id, nv, nn, c_id FROM (
       |    SELECT s.vid AS n_id, s.v AS nv, s.nrm AS nn, c.c_id,
       |      row_number() OVER (PARTITION BY s.vid
       |        ORDER BY ${cos("s.v", "c.cv", "s.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv s CROSS JOIN cent c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT q_id, qv, qn, c_id FROM (
       |    SELECT q.vid AS q_id, q.v AS qv, q.nrm AS qn, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cos("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv q CROSS JOIN cent c WHERE q.vid < $IvfMaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), scored AS (
       |  SELECT p.q_id, a.n_id, ${cos("p.qv", "a.nv", "p.qn", "a.nn")} AS cos
       |  FROM probes p JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $IvfK ORDER BY q_id, rank""".stripMargin
  }

  // ── q175: SHARDED inverted-file artifact — the 100 TB rewrite-unit
  // layout: the same trained index persisted as one segmented root PER
  // SHARD (n_id mod 4) under a shared frozen codebook, serve = per-segment
  // probe UNIONED before the shared top-k. Postings sets are
  // equal and the rerank is deterministic, so the shard-merged serve
  // must reproduce the single-artifact serve (q156) bit-for-bit: the
  // oracle IS q45's SQL. ────────────────────────────────────────────────
  val q175_ivfflat_sharded: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfflatsh", d)
    SegmentedIndex.save(s, IvfFlatSharded,
      graft.operators.Clustering.buildIvfFlatIndex(
        emb, "vec_id", "embedding", 1 << ivfBits(s, d)),
      path, 4)
    graft.operators.Clustering.serveIvfFlat(
        SegmentedIndex.load(s, IvfFlatSharded, path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q176: sharded UPDATE — q157's train/add split where the add
  // appends one delta-sized segment to ONLY the shards the delta routes
  // to (untouched shards keep their segments). The postings monoid
  // is unchanged, so the served search still equals a fresh assignment
  // of the union under the slice-trained codebook: the oracle IS
  // q157's SQL. ─────────────────────────────────────────────────────────
  val q176_ivfflat_shard_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfflatshup", d)
    SegmentedIndex.save(s, IvfFlatSharded,
      graft.operators.Clustering.buildIvfFlatIndex(
        emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
        1 << ivfBits(s, d)),
      path, 4)
    SegmentedIndex.update(s, path,
      IvfFlatSharded.delta(emb.filter($"vec_id" % 10 === 0),
        "vec_id", "embedding"))
    graft.operators.Clustering.serveIvfFlat(
        SegmentedIndex.load(s, IvfFlatSharded, path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q177: FILTERED ANN — the production predicate+vector query
  // (`label = 3 AND knn(...)`): the label column is materialized IN the
  // postings at build time, and the serve composes the predicate into
  // the probed-cell scan (PushedFilters — plan-asserted in
  // ClusteringSpec) so the candidate pool is PRE-filtered: every query
  // still gets k matching neighbors (rank-then-filter would silently
  // return fewer). The oracle replays codebook, assignment, probing and
  // the label-restricted rerank bit-for-bit. ────────────────────────────
  val FilterLabel = 3

  val q177_ivfflat_filtered: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfflatfil", d)
    graft.operators.Clustering.serveIvfFlatFiltered(
        persisted(s, IvfFlatSharded,
          graft.operators.Clustering.buildIvfFlatIndex(
            emb, "vec_id", "embedding", 1 << ivfBits(s, d),
            attrCols = Seq("label")), path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK,
        pred = col("label") === FilterLabel)
      .orderBy($"q_id", $"rank")
  }
  lazy val q177_sql: String = {
    def cos(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    s"""WITH $sqlIvfParams, sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm,
       |    CAST(label AS INT) AS label
       |  FROM embeddings
       |), ${kmeansChainSql("iv", 0, Dim, "(SELECT 1 << bits FROM ivfp)",
          Similarity.IvfCoarseIters, Similarity.IvfCoarseSalt)},
       |${ivfCentSql(s"ivc${Similarity.IvfCoarseIters}")},
       |assigned AS (
       |  SELECT n_id, nv, nn, label, c_id FROM (
       |    SELECT s.vid AS n_id, s.v AS nv, s.nrm AS nn, s.label, c.c_id,
       |      row_number() OVER (PARTITION BY s.vid
       |        ORDER BY ${cos("s.v", "c.cv", "s.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM sv s CROSS JOIN cent c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT q_id, qv, qn, c_id FROM (
       |    SELECT q.vid AS q_id, q.v AS qv, q.nrm AS qn, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cos("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM sv q CROSS JOIN cent c WHERE q.vid < $IvfMaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), scored AS (
       |  SELECT p.q_id, a.n_id, ${cos("p.qv", "a.nv", "p.qn", "a.nn")} AS cos
       |  FROM probes p JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id
       |  WHERE a.label = $FilterLabel
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $IvfK ORDER BY q_id, rank""".stripMargin
  }

  // ── q178: index REBUILD — the drift repair for a frozen codebook:
  // train on the 90% slice, ADD the rest (q157's drifted-ingestion
  // shape), then `rebuildIvfFlatIndex` retrains the codebook FROM THE
  // INDEX'S OWN POSTINGS (exact scaled vectors — no corpus re-supply)
  // and re-assigns. Rebuild == fresh build over the union with the same
  // (k, iters, salt) bit-for-bit, so the served search equals the
  // never-drifted q45/q156 search: the oracle IS q45's SQL. CLI:
  // `index-rebuild --type=ivfflat` (describe-driven via
  // occupancy_skew_x100). ───────────────────────────────────────────────
  val q178_ivfflat_rebuild: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val stale = graft.operators.Clustering.updateIvfFlatIndex(
      graft.operators.Clustering.buildIvfFlatIndex(
        emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
        1 << ivfBits(s, d)),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding")
    val path = QueryTmp.dir("ivfflatreb", d)
    graft.operators.Clustering.serveIvfFlat(
        persisted(s, IvfFlatSharded,
          graft.operators.Clustering.rebuildIvfFlatIndex(
            stale, 1 << ivfBits(s, d)), path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q185: SHARDED index rebuild — the drift repair on the artifact
  // drift actually accumulates on (the long-lived sharded layout):
  // train on the 90% slice, sharded-ADD the rest (q176's drifted
  // shape), then retrain the codebook from the UNION of the shards'
  // postings and re-persist the sharded layout. Rebuild == fresh build
  // over the union with the same (k, iters, salt), and the sharded
  // serve reproduces the unsharded one, so the served search equals
  // the never-drifted q45 search: the oracle IS q45's SQL. CLI:
  // `index-rebuild --type=ivfflat-sharded`. ─────────────────────────────
  val q185_ivfflat_sharded_rebuild: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfflatshreb", d)
    SegmentedIndex.save(s, IvfFlatSharded,
      graft.operators.Clustering.buildIvfFlatIndex(
        emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
        1 << ivfBits(s, d)),
      path, 4)
    SegmentedIndex.update(s, path,
      IvfFlatSharded.delta(emb.filter($"vec_id" % 10 === 0),
        "vec_id", "embedding"))
    val rebuilt = graft.operators.Clustering.rebuildIvfFlatIndex(
      SegmentedIndex.load(s, IvfFlatSharded, path),
      1 << ivfBits(s, d))
    val rebPath = QueryTmp.dir("ivfflatshreb2", d)
    // save + serve with the probe stage overlapped into the save barrier
    // (bit-identical to save → load → serveIvfFlat: the probes depend
    // only on the codebook, which roundtrips exactly; the rerank reads
    // the LOADED postings — see saveIvfFlatShardedAndServe)
    graft.operators.Clustering.saveIvfFlatShardedAndServe(rebuilt, rebPath,
        numShards = 4, emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe,
        IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q194: COMPRESSED-tier rebuild — the drift repair for the
  // long-lived production artifact (q185's story on ivfpq-sharded):
  // build the sharded compressed index on a slice, drift it with an
  // update (codebooks frozen on a shrunken fit), then REBUILD from the
  // re-supplied full corpus through the CLI verb's path
  // (IndexTool.rebuild --input): coarse + PQ re-fit, a complete sharded
  // layout re-persisted into the SAME root under one root CAS — grid
  // and generation history preserved, which index-build to a fresh
  // path would discard. Rebuild == fresh full-corpus sharded build
  // bit-for-bit, and q182 pins THAT against q94: the oracle IS q94's
  // SQL. CLI: index-rebuild --type=ivfpq-sharded --input=... ───────────
  val q194_ivfpq_sharded_rebuild: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqshreb", d)
    SegmentedIndex.save(s, IvfPqSharded,
      graft.operators.Clustering.buildIvfPqIndex(
        emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)),
      path, 4)
    SegmentedIndex.update(s, path,
      IvfPqSharded.delta(emb.filter($"vec_id" % 10 === 0),
        "vec_id", "embedding", Dim, PqM))
    graft.IndexTool.rebuild(s, "ivfpq-sharded", path,
      Map("dim" -> Dim.toString, "m" -> PqM.toString, "k" -> PqK.toString,
        "iters" -> PqIters.toString,
        "centroids" -> (1 << ivfBits(s, d)).toString, "force" -> "true"),
      Some(emb))
    graft.operators.Clustering.serveIvfPq(
        SegmentedIndex.load(s, IvfPqSharded, path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe, PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q195: the same rebuild on the RESIDUAL tier (ivfpqr-sharded) —
  // residual codebooks quantize v − centroid(cell), so a drifted coarse
  // fit degrades them TWICE (wrong cells and wrong residual geometry);
  // the corpus re-supply re-fits both. Rebuild == fresh full-corpus
  // sharded residual build, and q188 pins that against q172: the
  // oracle IS q172's SQL. ──────────────────────────────────────────────
  val q195_ivfpqr_sharded_rebuild: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqrshreb", d)
    SegmentedIndex.save(s, IvfPqrSharded,
      graft.operators.Clustering.buildIvfPqrIndex(
        emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)),
      path, 4)
    SegmentedIndex.update(s, path,
      IvfPqrSharded.delta(emb.filter($"vec_id" % 10 === 0),
        "vec_id", "embedding", Dim, PqM))
    graft.IndexTool.rebuild(s, "ivfpqr-sharded", path,
      Map("dim" -> Dim.toString, "m" -> PqM.toString, "k" -> PqK.toString,
        "iters" -> PqIters.toString,
        "centroids" -> (1 << ivfBits(s, d)).toString, "force" -> "true"),
      Some(emb))
    graft.operators.Clustering.serveIvfPqr(
        SegmentedIndex.load(s, IvfPqrSharded, path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q166: the inverted MULTI-index (IMI) — the two-level coarse
  // quantizer that holds the cell count on the √n ladder while the FIT
  // cost stops tracking it: each vector half trains its own small
  // codebook (kA = 2^⌈bits/2⌉, kB = 2^⌊bits/2⌋ — kA·kB = 2^bits, the
  // same composed cell count as q45/q156's flat codebook), corpus rows
  // assign PER HALF (cosine argmin in each half-space: n·(kA+kB) kernel
  // distances instead of n·kA·kB — at the 2^16 ladder cap, 512 vs
  // 65,536 per row), and query probes rank the COMPOSED centroids
  // (concatenated halves, exact composed norm) before the usual
  // pruned-cell exact rerank. Babenko & Lempitsky's inverted
  // multi-index, Spark-first. The oracle replays both half k-means
  // chains (the q88 subvector machinery), both per-half assignment
  // argmins, the composed-centroid probe ranking, and the rerank
  // bit-for-bit. CLI: index-build/serve/update/remove --type=imi. ───────
  private def imiKs(s: SparkSession, d: String): (Int, Int) = {
    val bits = ivfBits(s, d)
    (1 << ((bits + 1) / 2), 1 << (bits / 2))
  }

  val q166_imi_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val (ka, kb) = imiKs(s, d)
    val path = QueryTmp.dir("imi", d)
    graft.operators.Clustering.serveImi(
        persisted(s, ImiTier,
          graft.operators.Clustering.buildImiIndex(emb, "vec_id", "embedding",
            Dim, ka, kb), path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q167: IMI index UPDATE — per-half Faiss train/add: the two
  // half-codebooks trained on the existing corpus stay FIXED, the
  // arriving slice is assigned per half (two O(delta·kHalf) kernel
  // passes) and appended. Per-half assignment has no cross-row state,
  // so the updated postings equal a fresh assignment of the union — the
  // oracle trains both chains on the slice and assigns/probes/scores
  // over ALL vectors. CLI: index-update --type=imi. ─────────────────────
  val q167_imi_index_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val (ka, kb) = imiKs(s, d)
    val path = QueryTmp.dir("imiup0", d)
    val updated = graft.operators.Clustering.updateImiIndex(
      persisted(s, ImiTier,
        graft.operators.Clustering.buildImiIndex(
          emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
          Dim, ka, kb), path),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding")
    val upPath = QueryTmp.dir("imiup1", d)
    graft.operators.Clustering.serveImi(
        persisted(s, ImiTier, updated, upPath),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  /** The IMI oracle chain. `update = true` trains both half-chains on
    * the `vid % 10 <> 0` slice and assigns/probes over ALL vectors (the
    * q157 train/add shape); `update = false` trains and assigns on the
    * whole corpus. `kmeansChainSql` requires the training corpus to be
    * the CTE named `sv`, so the full set is `uv` and `sv` filters it
    * (identically when not updating — one WITH shape for both). */
  private def imiSql(update: Boolean): String = {
    val h = Dim / 2
    val iters = Similarity.IvfCoarseIters
    val kbE = "(SELECT kb FROM imip)"
    def cosFull(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    // half-space dot/norm with an index OFFSET into the full scaled
    // list (the centroid list is half-length; the row vector is full)
    def halfDot(v: String, cv: String, start: Int) =
      s"list_sum(list_transform(range(1, ${h + 1}), i -> $v[i + $start] * $cv[i]))"
    def halfNorm(v: String, start: Int) =
      s"sqrt(CAST(list_sum(list_transform(range(1, ${h + 1}), " +
        s"i -> $v[i + $start] * $v[i + $start])) AS DOUBLE))"
    def halfAssign(name: String, cent: String, outCol: String, start: Int) =
      s"""$name AS (
         |  SELECT vid, c_id AS $outCol FROM (
         |    SELECT s.vid, c.c_id,
         |      row_number() OVER (PARTITION BY s.vid ORDER BY
         |        CAST(${halfDot("s.v", "c.cv", start)} AS DOUBLE)
         |          / (${halfNorm("s.v", start)} * c.cn) DESC,
         |        c.c_id ASC) AS rn
         |    FROM uv s CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
    def centHalf(name: String, lanesCte: String) =
      s"""$name AS (
         |  SELECT cluster AS c_id, list(cval ORDER BY pos) AS cv,
         |    sqrt(CAST(sum(cval * cval) AS DOUBLE)) AS cn,
         |    CAST(sum(cval * cval) AS BIGINT) AS cn2
         |  FROM $lanesCte GROUP BY cluster)""".stripMargin
    val trainFilter = if (update) "WHERE vid % 10 <> 0" else ""
    s"""WITH $sqlIvfParams,
       |imip AS (SELECT (1::BIGINT << ((bits + 1) // 2)) AS ka,
       |  (1::BIGINT << (bits // 2)) AS kb FROM ivfp),
       |uv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings
       |), sv AS (
       |  SELECT vid, v, nrm FROM uv $trainFilter
       |), ${kmeansChainSql("ia", 0, h, "(SELECT ka FROM imip)", iters, "imi-a")},
       |${kmeansChainSql("ib", h, h, kbE, iters, "imi-b")},
       |${centHalf("centa", s"iac$iters")},
       |${centHalf("centb", s"ibc$iters")},
       |${halfAssign("assigna", "centa", "ca", 0)},
       |${halfAssign("assignb", "centb", "cb", h)},
       |assigned AS (
       |  SELECT s.vid AS n_id, s.v AS nv, s.nrm AS nn,
       |    a.ca * $kbE + b.cb AS c_id
       |  FROM uv s JOIN assigna a ON a.vid = s.vid
       |    JOIN assignb b ON b.vid = s.vid
       |), centab AS (
       |  SELECT a.c_id * $kbE + b.c_id AS c_id, a.cv || b.cv AS cv,
       |    sqrt(CAST(a.cn2 + b.cn2 AS DOUBLE)) AS cn
       |  FROM centa a CROSS JOIN centb b
       |), probes AS (
       |  SELECT q_id, qv, qn, c_id FROM (
       |    SELECT q.vid AS q_id, q.v AS qv, q.nrm AS qn, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cosFull("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv q CROSS JOIN centab c WHERE q.vid < $IvfMaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), scored AS (
       |  SELECT p.q_id, a.n_id, ${cosFull("p.qv", "a.nv", "p.qn", "a.nn")} AS cos
       |  FROM probes p JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $IvfK ORDER BY q_id, rank""".stripMargin
  }
  lazy val q166_sql: String = imiSql(update = false)
  lazy val q167_sql: String = imiSql(update = true)

  // ── q137: HIERARCHICAL SemDeDup (Clustering.semDedupHier) — the 100 TB
  // form of q102. Flat k-means is quadratic at scale whichever way k is
  // chosen (assignment n·k with k ∝ n/target; capped k → pair mass n²/k —
  // q102 measured 2.43× for 2× data at 50×, past its SemMaxClusterBits
  // cap). Two levels: a coarse Lloyd over ~√(n/target) cells, hash-ranked
  // fine seeds per cell (one per targetRows members, capped), and a fine
  // assignment that scores ONLY the row's own cell's seeds through the
  // codegen'd pairwise sq_l2 kernel — n·√(n/target) candidates, never
  // n·k. The oracle replays the coarse chain (kmeansChainSql), the seed
  // ranking, the candidate distances and (dist, svid) argmin, the subcell
  // split, and every within-cell cosine — bit-for-bit, like q102. ────────
  val HierMaxCoarseBits = 8
  val HierMaxFinePerCell = 256

  val q137_semdedup_hier: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val bits = Similarity.bitsFor(emb.count(), SemTargetClusterRows, 20)
    val coarseK = 1 << math.min(HierMaxCoarseBits, (bits + 1) / 2)
    graft.operators.Clustering
      .semDedupHier(emb, "vec_id", "embedding", coarseK,
        SemTargetClusterRows, SemIters, CosineDupThreshold,
        clusterCap = SemClusterCap, maxFinePerCell = HierMaxFinePerCell)
      .orderBy($"pruned")
  }
  lazy val q137_sql: String = {
    val cos = sqlCosineFromNorms("x.v", "y.v", "x.nrm", "y.nrm", Dim)
    val ladder = Similarity.sqlBitsFor("count(*)", SemTargetClusterRows, 20)
    val sq = "(list_extract(sx.v, i + 1) - list_extract(sy.v, i + 1))"
    s"""WITH shp AS (
       |  SELECT least($HierMaxCoarseBits, (($ladder) + 1) // 2) AS cbits
       |  FROM embeddings),
       |sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings),
       |${kmeansChainSql("hc", 0, Dim, "(SELECT 1 << cbits FROM shp)",
          SemIters, "semdedup-h")},
       |hcz AS (SELECT cluster AS ccell, count(*) AS csize
       |        FROM hca$SemIters GROUP BY 1),
       |hsr AS (
       |  SELECT a.vid, a.cluster AS ccell,
       |    ('0x'||substr(md5('semdedup-h-seed' || CAST(a.vid AS VARCHAR)), 1, 7))::BIGINT AS hs
       |  FROM hca$SemIters a),
       |hseed AS MATERIALIZED (
       |  SELECT vid AS svid, ccell FROM (
       |    SELECT h.vid, h.ccell, z.csize,
       |      row_number() OVER (PARTITION BY h.ccell ORDER BY h.hs, h.vid) AS rn
       |    FROM hsr h JOIN hcz z USING (ccell))
       |  WHERE rn <= least(
       |    CAST((csize + ${SemTargetClusterRows - 1}) // $SemTargetClusterRows AS INT),
       |    $HierMaxFinePerCell)),
       |hcand AS (
       |  SELECT a.vid, e.svid,
       |    CAST(list_sum(list_transform(range(0, $Dim), i -> $sq * $sq)) AS BIGINT) AS fdist
       |  FROM hca$SemIters a
       |  JOIN hseed e ON e.ccell = a.cluster
       |  JOIN sv sx ON sx.vid = a.vid
       |  JOIN sv sy ON sy.vid = e.svid),
       |hfine AS MATERIALIZED (
       |  SELECT vid, svid AS cluster FROM (
       |    SELECT vid, svid,
       |      row_number() OVER (PARTITION BY vid ORDER BY fdist, svid) AS rn
       |    FROM hcand) WHERE rn = 1),
       |${subcellSql("hf", "hfine", "semdedup-h")},
       |j AS (
       |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
       |  FROM sv s JOIN hfcl c USING (vid))
       |SELECT x.cluster, y.vid AS pruned, min(x.vid) AS keeper,
       |  max($cos) AS best_cos
       |FROM j x JOIN j y ON x.cluster = y.cluster AND x.cell = y.cell
       |  AND x.vid < y.vid
       |WHERE $cos >= $CosineDupThreshold
       |GROUP BY x.cluster, y.vid ORDER BY pruned""".stripMargin
  }

  // ── q138: hierarchical-SemDeDup index persistence — fit ONCE
  // (Clustering.semDedupHierFit), persist the four index surfaces + meta
  // as parquet (saveSemIndex), load them back, and serve the within-cell
  // prune from the LOADED artifact with no retraining — the SemDeDup face
  // of q106 (PQ) / q110 (LSH) / q111 (IVF) / q114 (BM25): EVERY trained
  // index tier persists and serves identically. Parameters match q137
  // exactly and every surface is integer/exact (lossless roundtrip), so
  // the served prune must reproduce q137 bit-for-bit: the oracle IS
  // q137's SQL, making the save/load roundtrip itself hash-verified. ─────
  val q138_semdedup_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val bits = Similarity.bitsFor(emb.count(), SemTargetClusterRows, 20)
    val coarseK = 1 << math.min(HierMaxCoarseBits, (bits + 1) / 2)
    val path = QueryTmp.dir("semindex", d)
    graft.operators.Clustering.saveSemIndex(
      graft.operators.Clustering.semDedupHierFit(emb, "vec_id", "embedding",
        coarseK, SemTargetClusterRows, SemIters,
        clusterCap = SemClusterCap, maxFinePerCell = HierMaxFinePerCell),
      path)
    graft.operators.Clustering
      .semDedupHierServe(graft.operators.Clustering.loadSemIndex(s, path),
        CosineDupThreshold)
      .orderBy($"pruned")
  }

  // ── q139: incremental SemDeDup on the PERSISTED hierarchical index —
  // the production ingestion loop (supersedes q105's flat-centroid
  // economics, which retrain per batch and inherit q102's measured
  // quadratic): fit the index on the EXISTING corpus only, persist it,
  // load it, and serve the delta batch against it — each delta row
  // coarse-assigns to the loaded lanes, fine-assigns to its coarse
  // cell's loaded seeds, lands in the corpus-width skew subcell, and
  // pairs only with the corpus rows of its (cluster, cell), whose
  // vectors ride the index. Recurring cost scales with the DELTA; the
  // corpus is never re-fitted, never re-paired. The oracle replays the
  // whole composition: the corpus-only coarse chain, seed ranking,
  // corpus fine assignment + subcells, the delta coarse argmin against
  // the final lanes, the delta fine argmin against its cell's seeds,
  // the corpus-width cell hash, and every cross-side cosine. ────────────
  val q139_semdedup_hier_delta: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val isDelta = $"label".isin(SemDeltaLabels: _*)
    val corpus = emb.filter(!isDelta)
    val bits = Similarity.bitsFor(corpus.count(), SemTargetClusterRows, 20)
    val coarseK = 1 << math.min(HierMaxCoarseBits, (bits + 1) / 2)
    val path = QueryTmp.dir("semindexd", d)
    graft.operators.Clustering.saveSemIndex(
      graft.operators.Clustering.semDedupHierFit(corpus, "vec_id",
        "embedding", coarseK, SemTargetClusterRows, SemIters, "semdedup-hd",
        clusterCap = SemClusterCap, maxFinePerCell = HierMaxFinePerCell),
      path)
    graft.operators.Clustering
      .semDedupDeltaHier(emb.filter(isDelta), "vec_id", "embedding",
        graft.operators.Clustering.loadSemIndex(s, path), CosineDupThreshold)
      .orderBy($"pruned")
  }
  // ── q158: SemDeDup index UPDATE — admitted embeddings must JOIN the
  // index, or next week's paraphrases of them sail through the screen
  // (the q155/q157 economics on the semantic tier). Fit the hierarchical
  // index on the corpus (labels outside SemDeltaLabels), ADD the week-1
  // delta (label 8) with updateSemIndex — the exact serve-path
  // assignment chain (coarse kernel vs lanes, fine argmin vs seeds,
  // subcell from the FIXED corpus sizes) appended to the assign surface;
  // lanes/seeds/sizes never move — persist the updated artifact, and
  // screen the week-2 delta (label 9) against the RELOADED index: pairs
  // (label-9 × label-8) must appear, which the un-updated index could
  // never produce. The oracle replays q139's corpus machinery plus one
  // assignment chain per delta week, with the index side cj ∪ week-1. ───
  val q158_semdedup_index_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val corpus = emb.filter(!$"label".isin(SemDeltaLabels: _*))
    val bits = Similarity.bitsFor(corpus.count(), SemTargetClusterRows, 20)
    val coarseK = 1 << math.min(HierMaxCoarseBits, (bits + 1) / 2)
    val path = QueryTmp.dir("semupd0", d)
    graft.operators.Clustering.saveSemIndex(
      graft.operators.Clustering.semDedupHierFit(corpus, "vec_id",
        "embedding", coarseK, SemTargetClusterRows, SemIters, "semdedup-hd",
        clusterCap = SemClusterCap, maxFinePerCell = HierMaxFinePerCell),
      path)
    val updated = graft.operators.Clustering.updateSemIndex(
      graft.operators.Clustering.loadSemIndex(s, path),
      emb.filter($"label" === SemDeltaLabels.head), "vec_id", "embedding")
    val upPath = QueryTmp.dir("semupd1", d)
    graft.operators.Clustering.saveSemIndex(updated, upPath)
    graft.operators.Clustering
      .semDedupDeltaHier(emb.filter($"label" === SemDeltaLabels(1)),
        "vec_id", "embedding",
        graft.operators.Clustering.loadSemIndex(s, upPath),
        CosineDupThreshold)
      .orderBy($"pruned")
  }

  // ── q193: SHARDED SemDeDup artifact — the rewrite-unit fix for the
  // semantic tier (the q186/q191/q192 pattern): the corpus-sized assign
  // surface shards by `vid mod S` into independent generational roots
  // while the BOUNDED fitted parameters (lanes/seeds/sizes) stay at the
  // root, so the week-1 fold rewrites ONLY the assign shards its vids
  // route to (Clustering.SemSharded.delta — lanes/seeds/sizes
  // never move, the Faiss train/add split made physical) — q158's
  // lifecycle on the sharded layout. Assign row set equals the
  // unsharded artifact's, so the week-2 screen reproduces q158 exactly:
  // the oracle IS q158's SQL. CLI: index-build/serve/update/remove
  // --type=semdedup-sharded. ────────────────────────────────────────────
  val q193_semdedup_sharded_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val corpus = emb.filter(!$"label".isin(SemDeltaLabels: _*))
    val bits = Similarity.bitsFor(corpus.count(), SemTargetClusterRows, 20)
    val coarseK = 1 << math.min(HierMaxCoarseBits, (bits + 1) / 2)
    val path = QueryTmp.dir("semsharded", d)
    val tier = graft.operators.Clustering.SemSharded
    SegmentedIndex.save(s, tier,
      graft.operators.Clustering.semDedupHierFit(corpus, "vec_id",
        "embedding", coarseK, SemTargetClusterRows, SemIters, "semdedup-hd",
        clusterCap = SemClusterCap, maxFinePerCell = HierMaxFinePerCell),
      path, 4)
    SegmentedIndex.update(s, path,
      tier.delta(emb.filter($"label" === SemDeltaLabels.head)))
    graft.operators.Clustering
      .semDedupDeltaHier(emb.filter($"label" === SemDeltaLabels(1)),
        "vec_id", "embedding",
        SegmentedIndex.load(s, tier, path),
        CosineDupThreshold)
      .orderBy($"pruned")
  }
  lazy val q158_sql: String = {
    val cos = sqlCosineFromNorms("x.v", "y.v", "x.nrm", "y.nrm", Dim)
    val deltaList = SemDeltaLabels.mkString(", ")
    val ladder = Similarity.sqlBitsFor("count(*)", SemTargetClusterRows, 20)
    val sq = "(list_extract(sx.v, i + 1) - list_extract(sy.v, i + 1))"
    // one assignment chain per delta week — identical machinery, only
    // the label differs; `${p}j` ends in the assign surface's shape
    def chain(p: String, label: Int): String =
      s"""${p}sv AS (
         |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
         |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
         |  FROM embeddings WHERE label = $label),
         |${p}dd AS (
         |  SELECT s.vid, c.cluster,
         |    sum((list_extract(s.v, c.pos + 1) - c.cval)
         |      * (list_extract(s.v, c.pos + 1) - c.cval)) AS dist
         |  FROM ${p}sv s, hcc$SemIters c GROUP BY s.vid, c.cluster),
         |${p}da AS (
         |  SELECT vid, cluster AS ccell FROM (
         |    SELECT vid, cluster,
         |      row_number() OVER (PARTITION BY vid ORDER BY dist, cluster) AS rn
         |    FROM ${p}dd) WHERE rn = 1),
         |${p}dcand AS (
         |  SELECT d.vid, e.svid,
         |    CAST(list_sum(list_transform(range(0, $Dim), i -> $sq * $sq)) AS BIGINT) AS fdist
         |  FROM ${p}da d
         |  JOIN hseed e ON e.ccell = d.ccell
         |  JOIN ${p}sv sx ON sx.vid = d.vid
         |  JOIN sv sy ON sy.vid = e.svid),
         |${p}dfine AS (
         |  SELECT vid, svid AS cluster FROM (
         |    SELECT vid, svid,
         |      row_number() OVER (PARTITION BY vid ORDER BY fdist, svid) AS rn
         |    FROM ${p}dcand) WHERE rn = 1),
         |${p}dcl AS (
         |  SELECT a.vid, a.cluster,
         |    ('0x'||substr(md5('semdedup-hd-cell' || CAST(a.vid AS VARCHAR)), 1, 7))::BIGINT
         |      % ((z.csize + ${SemClusterCap - 1}) // $SemClusterCap) AS cell
         |  FROM ${p}dfine a JOIN hfsz z USING (cluster)),
         |${p}j AS (
         |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
         |  FROM ${p}sv s JOIN ${p}dcl c USING (vid))""".stripMargin
    s"""WITH shp AS (
       |  SELECT least($HierMaxCoarseBits, (($ladder) + 1) // 2) AS cbits
       |  FROM embeddings WHERE label NOT IN ($deltaList)),
       |sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings WHERE label NOT IN ($deltaList)),
       |${kmeansChainSql("hc", 0, Dim, "(SELECT 1 << cbits FROM shp)",
          SemIters, "semdedup-hd")},
       |hcz AS (SELECT cluster AS ccell, count(*) AS csize
       |        FROM hca$SemIters GROUP BY 1),
       |hsr AS (
       |  SELECT a.vid, a.cluster AS ccell,
       |    ('0x'||substr(md5('semdedup-hd-seed' || CAST(a.vid AS VARCHAR)), 1, 7))::BIGINT AS hs
       |  FROM hca$SemIters a),
       |hseed AS MATERIALIZED (
       |  SELECT vid AS svid, ccell FROM (
       |    SELECT h.vid, h.ccell, z.csize,
       |      row_number() OVER (PARTITION BY h.ccell ORDER BY h.hs, h.vid) AS rn
       |    FROM hsr h JOIN hcz z USING (ccell))
       |  WHERE rn <= least(
       |    CAST((csize + ${SemTargetClusterRows - 1}) // $SemTargetClusterRows AS INT),
       |    $HierMaxFinePerCell)),
       |hcand AS (
       |  SELECT a.vid, e.svid,
       |    CAST(list_sum(list_transform(range(0, $Dim), i -> $sq * $sq)) AS BIGINT) AS fdist
       |  FROM hca$SemIters a
       |  JOIN hseed e ON e.ccell = a.cluster
       |  JOIN sv sx ON sx.vid = a.vid
       |  JOIN sv sy ON sy.vid = e.svid),
       |hfine AS MATERIALIZED (
       |  SELECT vid, svid AS cluster FROM (
       |    SELECT vid, svid,
       |      row_number() OVER (PARTITION BY vid ORDER BY fdist, svid) AS rn
       |    FROM hcand) WHERE rn = 1),
       |${subcellSql("hf", "hfine", "semdedup-hd")},
       |cj AS (
       |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
       |  FROM sv s JOIN hfcl c USING (vid)),
       |${chain("d1", SemDeltaLabels.head)},
       |${chain("d2", SemDeltaLabels(1))},
       |ix AS (SELECT * FROM cj UNION ALL SELECT * FROM d1j)
       |SELECT x.cluster, y.vid AS pruned, min(x.vid) AS keeper,
       |  max($cos) AS best_cos
       |FROM ix x JOIN d2j y ON x.cluster = y.cluster AND x.cell = y.cell
       |WHERE $cos >= $CosineDupThreshold
       |GROUP BY x.cluster, y.vid ORDER BY pruned""".stripMargin
  }

  // ── q145: hierarchical SemDeDup through the DISTRIBUTED fine
  // assignment (Clustering.joinedFineAssign) — the corpus-unbounded path.
  // The literal GroupedNearestL2 kernel is the fast constant, but its
  // seed set is n/targetRows rows shipped as a task binary, so it carries
  // a hard corpus ceiling at MaxCentroids·targetRows (~4.2M embeddings at
  // the defaults) — at 100 TB the fit would REFUSE. seedLiteralCap=0
  // forces the fallback that engages past the ceiling: an equi-join on
  // the coarse cell whose min(struct(fdist, svid)) argmin partial-reduces
  // candidates in-stage (linear shuffle bytes — vectors cross the wire
  // once; candidate vectors never shuffle). The oracle IS q137's SQL:
  // the driver's hash gate proves the two paths assign identically. ─────
  val q145_semdedup_joinfine: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val bits = Similarity.bitsFor(emb.count(), SemTargetClusterRows, 20)
    val coarseK = 1 << math.min(HierMaxCoarseBits, (bits + 1) / 2)
    graft.operators.Clustering
      .semDedupHier(emb, "vec_id", "embedding", coarseK,
        SemTargetClusterRows, SemIters, CosineDupThreshold,
        clusterCap = SemClusterCap, maxFinePerCell = HierMaxFinePerCell,
        seedLiteralCap = 0)
      .orderBy($"pruned")
  }

  // ── q146: SEMANTIC benchmark decontamination
  // (Similarity.semanticDecontam) — the embedding-space sibling of q58
  // (n-gram suffix match) and q83 (Bloom n-gram): those catch verbatim
  // leaks, this flags corpus vectors whose embedding is near ANY held-out
  // eval vector (labels 8/9 model the eval suite), i.e. paraphrased
  // contamination. Bench side broadcasts (eval suites are fixed and
  // small at ANY corpus scale), so the operator is one corpus scan whose
  // n·|bench| cosines partial-aggregate in-stage — nothing corpus-sized
  // shuffles. Ties on best_cos keep the largest eval id (max(struct)),
  // replayed by the oracle's equality join on the per-vid max. ──────────
  /** The eval suite is FIXED-SIZE by id, not a corpus-proportional label
    * slice: benchmarks don't grow with the training corpus, and a
    * proportional bench side would make this query's n·|bench| cosines
    * quadratic at the scale tiers while the operator's real contract
    * (broadcast a bounded suite) is linear. 2000 covers the whole sf0.01
    * corpus (so small-SF results are unchanged) and pins |bench| at
    * every larger tier. */
  val DecontamBenchMaxId = 2000L

  val q146_semantic_decontam: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val isBench =
      $"label".isin(SemDeltaLabels: _*) && $"vec_id" < DecontamBenchMaxId
    graft.operators.Similarity
      .semanticDecontam(emb.filter(!isBench), emb.filter(isBench),
        "vec_id", "embedding", CosineDupThreshold)
      .orderBy($"contaminated")
  }
  lazy val q146_sql: String = {
    val benchList = SemDeltaLabels.mkString(", ")
    val benchPred =
      s"label IN ($benchList) AND vec_id < $DecontamBenchMaxId"
    val cos = sqlCosineFromNorms("c.v", "b.bv", "c.nrm", "b.bnrm", Dim)
    s"""WITH cv AS (
       |  SELECT vec_id AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings WHERE NOT ($benchPred)),
       |bv AS (
       |  SELECT vec_id AS eval_id, ${sqlScaled("embedding")} AS bv,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS bnrm
       |  FROM embeddings WHERE $benchPred),
       |hits AS (
       |  SELECT c.vid, b.eval_id, $cos AS cos
       |  FROM cv c CROSS JOIN bv b
       |  WHERE $cos >= $CosineDupThreshold),
       |best AS (SELECT vid, max(cos) AS best_cos FROM hits GROUP BY vid)
       |SELECT h.vid AS contaminated, max(h.eval_id) AS eval_match,
       |  b.best_cos
       |FROM hits h JOIN best b ON h.vid = b.vid AND h.cos = b.best_cos
       |GROUP BY h.vid, b.best_cos ORDER BY contaminated""".stripMargin
  }

  lazy val q139_sql: String = {
    val cos = sqlCosineFromNorms("x.v", "y.v", "x.nrm", "y.nrm", Dim)
    val deltaList = SemDeltaLabels.mkString(", ")
    val ladder = Similarity.sqlBitsFor("count(*)", SemTargetClusterRows, 20)
    val sq = "(list_extract(sx.v, i + 1) - list_extract(sy.v, i + 1))"
    s"""WITH shp AS (
       |  SELECT least($HierMaxCoarseBits, (($ladder) + 1) // 2) AS cbits
       |  FROM embeddings WHERE label NOT IN ($deltaList)),
       |sv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings WHERE label NOT IN ($deltaList)),
       |${kmeansChainSql("hc", 0, Dim, "(SELECT 1 << cbits FROM shp)",
          SemIters, "semdedup-hd")},
       |hcz AS (SELECT cluster AS ccell, count(*) AS csize
       |        FROM hca$SemIters GROUP BY 1),
       |hsr AS (
       |  SELECT a.vid, a.cluster AS ccell,
       |    ('0x'||substr(md5('semdedup-hd-seed' || CAST(a.vid AS VARCHAR)), 1, 7))::BIGINT AS hs
       |  FROM hca$SemIters a),
       |hseed AS MATERIALIZED (
       |  SELECT vid AS svid, ccell FROM (
       |    SELECT h.vid, h.ccell, z.csize,
       |      row_number() OVER (PARTITION BY h.ccell ORDER BY h.hs, h.vid) AS rn
       |    FROM hsr h JOIN hcz z USING (ccell))
       |  WHERE rn <= least(
       |    CAST((csize + ${SemTargetClusterRows - 1}) // $SemTargetClusterRows AS INT),
       |    $HierMaxFinePerCell)),
       |hcand AS (
       |  SELECT a.vid, e.svid,
       |    CAST(list_sum(list_transform(range(0, $Dim), i -> $sq * $sq)) AS BIGINT) AS fdist
       |  FROM hca$SemIters a
       |  JOIN hseed e ON e.ccell = a.cluster
       |  JOIN sv sx ON sx.vid = a.vid
       |  JOIN sv sy ON sy.vid = e.svid),
       |hfine AS MATERIALIZED (
       |  SELECT vid, svid AS cluster FROM (
       |    SELECT vid, svid,
       |      row_number() OVER (PARTITION BY vid ORDER BY fdist, svid) AS rn
       |    FROM hcand) WHERE rn = 1),
       |${subcellSql("hf", "hfine", "semdedup-hd")},
       |dsv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings WHERE label IN ($deltaList)),
       |dd AS (
       |  SELECT s.vid, c.cluster,
       |    sum((list_extract(s.v, c.pos + 1) - c.cval)
       |      * (list_extract(s.v, c.pos + 1) - c.cval)) AS dist
       |  FROM dsv s, hcc$SemIters c GROUP BY s.vid, c.cluster),
       |da AS (
       |  SELECT vid, cluster AS ccell FROM (
       |    SELECT vid, cluster,
       |      row_number() OVER (PARTITION BY vid ORDER BY dist, cluster) AS rn
       |    FROM dd) WHERE rn = 1),
       |dcand AS (
       |  SELECT d.vid, e.svid,
       |    CAST(list_sum(list_transform(range(0, $Dim), i -> $sq * $sq)) AS BIGINT) AS fdist
       |  FROM da d
       |  JOIN hseed e ON e.ccell = d.ccell
       |  JOIN dsv sx ON sx.vid = d.vid
       |  JOIN sv sy ON sy.vid = e.svid),
       |dfine AS (
       |  SELECT vid, svid AS cluster FROM (
       |    SELECT vid, svid,
       |      row_number() OVER (PARTITION BY vid ORDER BY fdist, svid) AS rn
       |    FROM dcand) WHERE rn = 1),
       |dcl AS (
       |  SELECT a.vid, a.cluster,
       |    ('0x'||substr(md5('semdedup-hd-cell' || CAST(a.vid AS VARCHAR)), 1, 7))::BIGINT
       |      % ((z.csize + ${SemClusterCap - 1}) // $SemClusterCap) AS cell
       |  FROM dfine a JOIN hfsz z USING (cluster)),
       |cj AS (
       |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
       |  FROM sv s JOIN hfcl c USING (vid)),
       |dj AS (
       |  SELECT s.vid, s.v, s.nrm, c.cluster, c.cell
       |  FROM dsv s JOIN dcl c USING (vid))
       |SELECT x.cluster, y.vid AS pruned, min(x.vid) AS keeper,
       |  max($cos) AS best_cos
       |FROM cj x JOIN dj y ON x.cluster = y.cluster AND x.cell = y.cell
       |WHERE $cos >= $CosineDupThreshold
       |GROUP BY x.cluster, y.vid ORDER BY pruned""".stripMargin
  }

  // ── q168: trained 8-bit SCALAR quantizer (Faiss ScalarQuantizer
  // QT_8bit — Clustering.SqIndex), the codebook-light compression tier
  // completing the flat/ivfflat/pq/ivfpq/imi index family. TRAIN fits
  // per-dimension (lo, hi) bounds on the scaled-int64 lattice in ONE
  // aggregate pass; ENCODE maps each lane to ⌊(x−lo)·255/span⌋ clamped
  // to [0,255]; SERVE ranks by the exact integer L2 in CODE space
  // (symmetric SQD — query and corpus both encoded), so fit, encode and
  // ranking replay in DuckDB bit-for-bit. Persist/load through the same
  // artifact layout as every tier; CLI: index-build/serve/update/
  // remove/describe --type=sq, batch and streamed. ──────────────────────
  val SqMaxQueryId = 10L
  val SqTopK = 5

  val q168_sq_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("sqindex", d)
    graft.operators.Clustering.serveSq(
        persisted(s, SqTier,
          graft.operators.Clustering.buildSqIndex(emb, "vec_id", "embedding",
            Dim), path),
        emb, "vec_id", "embedding", SqMaxQueryId, SqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q169: SQ index UPDATE — Faiss train/add on the scalar quantizer:
  // the bounds trained on the existing corpus stay FIXED, the arriving
  // slice is encoded against them (out-of-range lanes CLAMP to the edge
  // level — the honest add-time behavior, oracle-checked because the
  // oracle replays slice-trained bounds over the union) and appended.
  // Encoding is stateless per row, so the updated codes equal a fresh
  // encode of the union. CLI: index-update --type=sq. ───────────────────
  val q169_sq_index_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("squp0", d)
    val updated = graft.operators.Clustering.updateSqIndex(
      persisted(s, SqTier,
        graft.operators.Clustering.buildSqIndex(
          emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding", Dim), path),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding")
    val upPath = QueryTmp.dir("squp1", d)
    graft.operators.Clustering.serveSq(
        persisted(s, SqTier, updated, upPath),
        emb, "vec_id", "embedding", SqMaxQueryId, SqTopK)
      .orderBy($"q_id", $"rank")
  }

  /** The SQ oracle chain: per-dim min/max over the TRAINING slice (`sv`
    * — the whole corpus, or the `vid % 10 <> 0` slice for the update
    * shape), the clamped floor-level encode of ALL vectors against
    * those bounds, and the symmetric integer code-space L2 top-k. Every
    * step is int64 except the single correctly-rounded double division
    * inside the floor — identical in both engines (see
    * [[graft.operators.Clustering.sqEncode]]'s exactness note). */
  private def sqSql(update: Boolean): String = {
    val trainFilter = if (update) "WHERE vid % 10 <> 0" else ""
    s"""WITH uv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v
       |  FROM embeddings
       |), sv AS (
       |  SELECT vid, v FROM uv $trainFilter
       |), lanes AS (
       |  SELECT i, min(v[i]) AS lo,
       |    greatest(max(v[i]) - min(v[i]), 1) AS span
       |  FROM sv, range(1, ${Dim + 1}) t(i) GROUP BY i
       |), ll AS (
       |  SELECT list(lo ORDER BY i) AS lo, list(span ORDER BY i) AS span
       |  FROM lanes
       |), codes AS (
       |  SELECT vid, list_transform(range(1, ${Dim + 1}), i ->
       |    least(255, greatest(0, CAST(floor(
       |      CAST((u.v[i] - l.lo[i]) * 255 AS DOUBLE)
       |        / CAST(l.span[i] AS DOUBLE)) AS BIGINT)))) AS c
       |  FROM uv u CROSS JOIN ll l
       |), scored AS (
       |  SELECT q.vid AS q_id, n.vid AS n_id,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> (q.c[i] - n.c[i]) * (q.c[i] - n.c[i]))) AS BIGINT)
       |      AS sqdist
       |  FROM codes q JOIN codes n
       |    ON q.vid < $SqMaxQueryId AND n.vid <> q.vid
       |)
       |SELECT q_id, rank, n_id, sqdist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sqdist ASC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $SqTopK ORDER BY q_id, rank""".stripMargin
  }
  lazy val q168_sql: String = sqSql(update = false)
  lazy val q169_sql: String = sqSql(update = true)

  // ── q170: composed IVF × SQ8 (Faiss IndexIVFScalarQuantizer —
  // Clustering.IvfSqIndex): the trained coarse codebook partitions the
  // corpus into inverted lists, SQ8 compresses every vector to one byte
  // per lane, and a serve reads ONLY the probed cells' codes, ranking by
  // the exact integer code-space L2. Why it exists beside ivfpq: the
  // round-15 clustered-corpus recall table shows m=8 ADC saturating at
  // ~0.19 INSIDE tight clusters while per-lane 8-bit resolution keeps
  // the fine ordering — ivfsq is the compressed sublinear tier whose
  // ranking survives cluster interiors. Build is ONE fused corpus scan
  // (cell kernel argmin + clamped encode together) over two concurrent
  // fits. The oracle replays coarse chain, assignment, bounds, codes,
  // probing and ranking bit-for-bit. CLI: --type=ivfsq, full lifecycle,
  // batch+streamed. ─────────────────────────────────────────────────────
  val q170_ivfsq_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfsq", d)
    graft.operators.Clustering.serveIvfSq(
        persisted(s, IvfSqTier,
          graft.operators.Clustering.buildIvfSqIndex(emb, "vec_id",
            "embedding", Dim, 1 << ivfBits(s, d)), path),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  // ── q171: IVF×SQ index UPDATE — both fitted surfaces (coarse
  // codebook, per-dim bounds) trained on the existing corpus stay
  // FIXED; the arriving slice takes one fused assign+encode scan and
  // appends. Both halves are stateless per row, so the updated codes
  // equal a fresh assignment/encode of the union — the oracle trains
  // coarse chain AND bounds on the slice, then assigns/encodes/probes
  // over ALL vectors. CLI: index-update --type=ivfsq. ───────────────────
  val q171_ivfsq_index_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfsqup0", d)
    val updated = graft.operators.Clustering.updateIvfSqIndex(
      persisted(s, IvfSqTier,
        graft.operators.Clustering.buildIvfSqIndex(
          emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding", Dim,
          1 << ivfBits(s, d)), path),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding")
    val upPath = QueryTmp.dir("ivfsqup1", d)
    graft.operators.Clustering.serveIvfSq(
        persisted(s, IvfSqTier, updated, upPath),
        emb, "vec_id", "embedding", IvfMaxQueryId, IvfNprobe, IvfK)
      .orderBy($"q_id", $"rank")
  }

  /** The IVF×SQ oracle chain: q157's coarse-train/assign/probe shape
    * (train on `sv`, assign and probe over `uv`) composed with q168's
    * bounds/encode CTEs (bounds from `sv`, codes over `uv`), scored by
    * the integer code-space L2 within the probed cells. */
  private def ivfSqSql(update: Boolean): String = {
    def cos(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    val trainFilter = if (update) "WHERE vid % 10 <> 0" else ""
    s"""WITH $sqlIvfParams, uv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings
       |), sv AS (
       |  SELECT vid, v, nrm FROM uv $trainFilter
       |), ${kmeansChainSql("iv", 0, Dim, "(SELECT 1 << bits FROM ivfp)",
          Similarity.IvfCoarseIters, Similarity.IvfCoarseSalt)},
       |${ivfCentSql(s"ivc${Similarity.IvfCoarseIters}")},
       |sqlanes AS (
       |  SELECT i, min(v[i]) AS lo,
       |    greatest(max(v[i]) - min(v[i]), 1) AS span
       |  FROM sv, range(1, ${Dim + 1}) t(i) GROUP BY i
       |), ll AS (
       |  SELECT list(lo ORDER BY i) AS lo, list(span ORDER BY i) AS span
       |  FROM sqlanes
       |), codes AS (
       |  SELECT vid, list_transform(range(1, ${Dim + 1}), i ->
       |    least(255, greatest(0, CAST(floor(
       |      CAST((u.v[i] - l.lo[i]) * 255 AS DOUBLE)
       |        / CAST(l.span[i] AS DOUBLE)) AS BIGINT)))) AS c
       |  FROM uv u CROSS JOIN ll l
       |), assigned AS (
       |  SELECT n_id, c_id FROM (
       |    SELECT s.vid AS n_id, c.c_id,
       |      row_number() OVER (PARTITION BY s.vid
       |        ORDER BY ${cos("s.v", "c.cv", "s.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv s CROSS JOIN cent c)
       |  WHERE rn = 1
       |), probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vid AS q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cos("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv q CROSS JOIN cent c WHERE q.vid < $IvfMaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), scored AS (
       |  SELECT p.q_id, a.n_id,
       |    CAST(list_sum(list_transform(range(1, ${Dim + 1}),
       |      i -> (cq.c[i] - cn.c[i]) * (cq.c[i] - cn.c[i]))) AS BIGINT)
       |      AS sqdist
       |  FROM probes p
       |    JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id
       |    JOIN codes cq ON cq.vid = p.q_id
       |    JOIN codes cn ON cn.vid = a.n_id
       |)
       |SELECT q_id, rank, n_id, sqdist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY sqdist ASC, n_id ASC) AS rank FROM scored)
       |WHERE rank <= $IvfK ORDER BY q_id, rank""".stripMargin
  }
  lazy val q170_sql: String = ivfSqSql(update = false)
  lazy val q171_sql: String = ivfSqSql(update = true)

  // ── q172: RESIDUAL-encoded IVFPQ (Clustering.IvfPqrIndex — the
  // production Faiss IndexIVFPQ): PQ quantizes v − centroid(cell(v))
  // instead of the raw vector, so the coarse quantizer absorbs the
  // gross position and the codebooks spend all their resolution on the
  // within-cell geometry — the canonical fix for the round-15 measured
  // in-cluster ADC collapse (raw-vector ADC ~0.19 recall inside tight
  // clusters). Coarse centroids are integer-quantized lanes, so
  // residuals are exact int64 vectors and the oracle replays coarse
  // chain, residuals, the per-subspace RESIDUAL k-means chains (the
  // kmeansChainSql src hook), codes, the per-(query, probed-cell)
  // distance tables (a query's residual differs per cell — the known
  // residual-PQ table cost), and the ADC ranking bit-for-bit.
  // CLI: --type=ivfpqr, full lifecycle, batch+streamed. ─────────────────
  // ── q188: SHARDED residual artifact — the q182 rewrite-unit layout
  // on the tier the recall ladder actually recommends (residual PQ:
  // same bytes, ~2× shortlist recall inside tight clusters): cells +
  // codes shard by n_id mod 4 under the shared coarse + residual-PQ
  // codebooks. Equal surface sets ⇒ the shard-merged residual-ADC
  // serve reproduces the unsharded q172 search: the oracle IS q172's
  // SQL. ────────────────────────────────────────────────────────────────
  val q188_ivfpqr_sharded: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqrsh", d)
    SegmentedIndex.save(s, IvfPqrSharded,
      graft.operators.Clustering.buildIvfPqrIndex(emb, "vec_id",
        "embedding", Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)),
      path, 4)
    graft.operators.Clustering.serveIvfPqr(
        SegmentedIndex.load(s, IvfPqrSharded, path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q189: sharded residual UPDATE — q173's train/add split where the
  // add (cell assign + broadcast residual join + per-subspace encode
  // against the FIXED residual lanes) appends a segment to only the
  // shards the delta routes to. Oracle IS q173's SQL. ─────────────────────────────
  val q189_ivfpqr_shard_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqrshup", d)
    SegmentedIndex.save(s, IvfPqrSharded,
      graft.operators.Clustering.buildIvfPqrIndex(
        emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
        Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)),
      path, 4)
    SegmentedIndex.update(s, path,
      IvfPqrSharded.delta(emb.filter($"vec_id" % 10 === 0),
        "vec_id", "embedding", Dim, PqM))
    graft.operators.Clustering.serveIvfPqr(
        SegmentedIndex.load(s, IvfPqrSharded, path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q190: FILTERED residual-ADC serve — q181's predicate+vector
  // contract on the residual tier: the label attribute rides the cells
  // surface and pre-filters candidates inside the probed scan, so the
  // residual topK are all MATCHING codes. Oracle: q172's chain with the
  // label restriction on the candidate set. ────────────────────────────
  val q190_ivfpqr_filtered: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqrfil", d)
    graft.operators.Clustering.serveIvfPqrFiltered(
        persisted(s, IvfPqrSharded,
          graft.operators.Clustering.buildIvfPqrIndex(emb, "vec_id",
            "embedding", Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d),
            attrCols = Seq("label")), path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        PqTopK, pred = col("label") === FilterLabel)
      .orderBy($"q_id", $"rank")
  }

  val q172_ivfpqr_index_persist: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqr", d)
    graft.operators.Clustering.serveIvfPqr(
        persisted(s, IvfPqrSharded,
          graft.operators.Clustering.buildIvfPqrIndex(emb, "vec_id",
            "embedding", Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)), path),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        PqTopK)
      .orderBy($"q_id", $"rank")
  }

  // ── q173: residual-IVFPQ UPDATE — all three fitted surfaces (coarse
  // codebook, residual PQ codebooks) stay FIXED; the delta takes one
  // cell-assign pass, one broadcast residual join, and a per-subspace
  // encode against the FINAL residual lanes (the train/add asymmetry:
  // the fit corpus keeps its last-round codes — q159's contract, on
  // residuals). The oracle trains everything on the slice and
  // assigns/encodes the union. CLI: index-update --type=ivfpqr. ─────────
  val q173_ivfpqr_index_update: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val path = QueryTmp.dir("ivfpqrup0", d)
    val updated = graft.operators.Clustering.updateIvfPqrIndex(
      persisted(s, IvfPqrSharded,
        graft.operators.Clustering.buildIvfPqrIndex(
          emb.filter($"vec_id" % 10 =!= 0), "vec_id", "embedding",
          Dim, PqM, PqK, PqIters, 1 << ivfBits(s, d)), path),
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding", Dim, PqM)
    val upPath = QueryTmp.dir("ivfpqrup1", d)
    graft.operators.Clustering.serveIvfPqr(
        persisted(s, IvfPqrSharded, updated, upPath),
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        PqTopK)
      .orderBy($"q_id", $"rank")
  }

  /** The residual-IVFPQ oracle chain: coarse train on `sv` + assignment
    * of `uv` (the q157 shape), residuals of the TRAIN rows feed the
    * per-subspace k-means chains through `kmeansChainSql(src = "rv")`,
    * fit rows keep their last-round codes while delta rows (update
    * shape) argmin against the FINAL residual lanes (q159's asymmetry),
    * and serving builds one distance table per (query, probed cell)
    * from that cell's query residual. */
  private def ivfPqrSql(update: Boolean, candExtra: String = ""): String =
    s"""WITH ${ivfPqrChainSql(update, candExtra)}
       |SELECT q_id, rank, n_id, adist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adist, n_id) AS rank FROM ad)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin

  /** The residual-IVFPQ chain through `ad(q_id, n_id, adist)` — shared
    * by q172/q173 (rank by residual adist) and q174 (rerank the
    * residual shortlist by exact cosine). */
  private def ivfPqrChainSql(update: Boolean,
                             candExtra: String = ""): String = {
    def cos(a: String, b: String, na: String, nb: String) =
      sqlCosineFromNorms(a, b, na, nb, Dim)
    val sub = Dim / PqM
    val trainFilter = if (update) "WHERE vid % 10 <> 0" else ""
    val chains = (0 until PqM)
      .map(s => kmeansChainSql(s"r$s", s * sub, sub, PqK.toString, PqIters,
        s"pqr$s", src = "rv"))
      .mkString(",\n")
    val corpusCodes = (0 until PqM)
      .map(s => s"SELECT vid AS n_id, $s AS s, cluster AS code FROM r${s}a$PqIters")
      .mkString(" UNION ALL ")
    val deltaCodes = (0 until PqM).map { s =>
      val dlane = s"list_extract(u.v, $s * $sub + c.pos + 1)"
      s"""SELECT vid AS n_id, $s AS s, cluster AS code FROM (
         |    SELECT vid, cluster,
         |      row_number() OVER (PARTITION BY vid ORDER BY dist, cluster) AS rn
         |    FROM (
         |      SELECT u.vid, c.cluster,
         |        sum(($dlane - c.cval) * ($dlane - c.cval)) AS dist
         |      FROM drv u, r${s}c$PqIters c GROUP BY u.vid, c.cluster))
         |  WHERE rn = 1""".stripMargin
    }.mkString(" UNION ALL ")
    val codesCte =
      if (update) s"$corpusCodes UNION ALL $deltaCodes" else corpusCodes
    val deltaResid = if (update)
      s"""drv AS (
         |  SELECT s.vid, list_transform(range(1, ${Dim + 1}),
         |    i -> s.v[i] - c.cv[i]) AS v
         |  FROM uv s JOIN assigned a ON a.n_id = s.vid
         |    JOIN cent c ON c.c_id = a.c_id
         |  WHERE s.vid % 10 = 0),""".stripMargin
    else ""
    val lanes = (0 until PqM)
      .map(s => s"SELECT $s AS s, cluster AS code, pos, cval FROM r${s}c$PqIters")
      .mkString(" UNION ALL ")
    val qlane = s"list_extract(q.v, l.s * $sub + l.pos + 1)"
    s"""$sqlIvfParams, uv AS (
       |  SELECT CAST(vec_id AS BIGINT) AS vid, ${sqlScaled("embedding")} AS v,
       |    ${sqlVnorm(sqlScaled("embedding"), Dim)} AS nrm
       |  FROM embeddings
       |), sv AS (
       |  SELECT vid, v, nrm FROM uv $trainFilter
       |), ${kmeansChainSql("iv", 0, Dim, "(SELECT 1 << bits FROM ivfp)",
          Similarity.IvfCoarseIters, Similarity.IvfCoarseSalt)},
       |${ivfCentSql(s"ivc${Similarity.IvfCoarseIters}")},
       |assigned AS (
       |  SELECT n_id, c_id FROM (
       |    SELECT s.vid AS n_id, c.c_id,
       |      row_number() OVER (PARTITION BY s.vid
       |        ORDER BY ${cos("s.v", "c.cv", "s.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv s CROSS JOIN cent c)
       |  WHERE rn = 1
       |), rv AS (
       |  SELECT s.vid, list_transform(range(1, ${Dim + 1}),
       |    i -> s.v[i] - c.cv[i]) AS v
       |  FROM sv s JOIN assigned a ON a.n_id = s.vid
       |    JOIN cent c ON c.c_id = a.c_id
       |), $chains,
       |$deltaResid
       |codes AS ($codesCte),
       |lanes AS ($lanes),
       |probes AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vid AS q_id, c.c_id,
       |      row_number() OVER (PARTITION BY q.vid
       |        ORDER BY ${cos("q.v", "c.cv", "q.nrm", "c.cn")} DESC, c.c_id ASC) AS rn
       |    FROM uv q CROSS JOIN cent c WHERE q.vid < $MaxQueryId)
       |  WHERE rn <= $IvfNprobe
       |), qrv AS (
       |  SELECT p.q_id, p.c_id, list_transform(range(1, ${Dim + 1}),
       |    i -> q.v[i] - c.cv[i]) AS v
       |  FROM probes p JOIN uv q ON q.vid = p.q_id
       |    JOIN cent c ON c.c_id = p.c_id
       |), dt AS (
       |  SELECT q.q_id, q.c_id, l.s, l.code,
       |    CAST(sum(($qlane - l.cval) * ($qlane - l.cval)) AS BIGINT) AS dval
       |  FROM qrv q, lanes l
       |  GROUP BY q.q_id, q.c_id, l.s, l.code
       |), cand AS (
       |  SELECT p.q_id, a.n_id, p.c_id FROM probes p
       |  JOIN assigned a ON a.c_id = p.c_id AND a.n_id <> p.q_id
       |  $candExtra
       |), ad AS (
       |  SELECT x.q_id, x.n_id, CAST(sum(d.dval) AS BIGINT) AS adist
       |  FROM cand x JOIN codes c ON c.n_id = x.n_id
       |  JOIN dt d ON d.q_id = x.q_id AND d.c_id = x.c_id
       |    AND d.s = c.s AND d.code = c.code
       |  GROUP BY x.q_id, x.n_id)""".stripMargin
  }
  lazy val q172_sql: String = ivfPqrSql(update = false)
  lazy val q173_sql: String = ivfPqrSql(update = true)
  /** q172's chain with the label restriction on the candidate set (the
    * q190 filtered residual serve). */
  lazy val q190_sql: String = ivfPqrSql(update = false,
    candExtra = s"""JOIN (SELECT CAST(vec_id AS BIGINT) AS avid,
       |    CAST(label AS INT) AS albl FROM embeddings) la
       |    ON la.avid = a.n_id AND la.albl = $FilterLabel""".stripMargin)

  // ── q174: two-stage retrieval over the RESIDUAL shortlist — q162's
  // production pattern with the ivfpqr artifact as the shortlist stage:
  // the residual ADC shortlist is twice as accurate as the raw-vector
  // one at identical bytes (the q172 story), so the same rerank pool
  // covers more true neighbors. ONE coarse fit shared by both
  // artifacts; raw vectors fetched only for the shortlist, from the
  // ivfflat postings, pruned to the probed cells.
  // CLI: index-serve --type=ivfpqr --rerank-from=<ivfflat dir>. ─────────
  val q174_ivfpqr_rerank_serve: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val k = 1 << ivfBits(s, d)
    val flat = QueryTmp.dir("pqrflat", d)
    val flatIdx = graft.operators.Clustering.buildIvfFlatIndex(emb,
      "vec_id", "embedding", k)
    val pqr = QueryTmp.dir("pqrstage", d)
    graft.operators.Clustering.serveIvfPqrRerank(
        persisted(s, IvfPqrSharded,
          graft.operators.Clustering.buildIvfPqrIndexWith(emb, "vec_id",
            "embedding", Dim, PqM, PqK, PqIters, flatIdx.lanes), pqr),
        persisted(s, IvfFlatSharded, flatIdx, flat).postings,
        emb, "vec_id", "embedding", Dim, PqM, MaxQueryId, IvfNprobe,
        RerankPool, PqTopK)
      .orderBy($"q_id", $"rank")
  }
  lazy val q174_sql: String =
    s"""WITH ${ivfPqrChainSql(update = false)},
       |short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY adist, n_id) AS arank FROM ad)
       |  WHERE arank <= $RerankPool
       |), rescored AS (
       |  SELECT s.q_id, s.n_id,
       |    ${sqlCosineFromNorms("q.v", "n.v", "q.nrm", "n.nrm", Dim)} AS cos
       |  FROM short s JOIN uv q ON q.vid = s.q_id JOIN uv n ON n.vid = s.n_id
       |)
       |SELECT q_id, rank, n_id, cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM rescored)
       |WHERE rank <= $PqTopK ORDER BY q_id, rank""".stripMargin

  val queries: Map[String, Q] = Map(
    "q137_semdedup_hier" -> q137_semdedup_hier,
    "q138_semdedup_index_persist" -> q138_semdedup_index_persist,
    "q139_semdedup_hier_delta" -> q139_semdedup_hier_delta,
    "q145_semdedup_joinfine" -> q145_semdedup_joinfine,
    "q146_semantic_decontam" -> q146_semantic_decontam,
    "q25_knn_brute" -> q25_knn_brute,
    "q26_knn_lsh" -> q26_knn_lsh,
    "q40_embedding_dedup" -> q40_embedding_dedup,
    "q45_knn_ivf" -> q45_knn_ivf,
    "q59_embedding_pool" -> q59_embedding_pool,
    "q66_quantize" -> q66_quantize,
    "q77_kmeans" -> q77_kmeans,
    "q88_pq_codes" -> q88_pq_codes,
    "q89_pq_search" -> q89_pq_search,
    "q90_triplets" -> q90_triplets,
    "q93_feature_scale" -> q93_feature_scale,
    "q94_ivfpq_search" -> q94_ivfpq_search,
    "q98_ivfpq_rerank" -> q98_ivfpq_rerank,
    "q102_semdedup" -> q102_semdedup,
    "q105_incremental_semdedup" -> q105_incremental_semdedup,
    "q106_pq_index_persist" -> q106_pq_index_persist,
    "q111_ivf_index_persist" -> q111_ivf_index_persist,
    "q156_ivfflat_persist" -> q156_ivfflat_persist,
    "q157_ivfflat_update" -> q157_ivfflat_update,
    "q175_ivfflat_sharded" -> q175_ivfflat_sharded,
    "q176_ivfflat_shard_update" -> q176_ivfflat_shard_update,
    "q177_ivfflat_filtered" -> q177_ivfflat_filtered,
    "q178_ivfflat_rebuild" -> q178_ivfflat_rebuild,
    "q181_ivfpq_filtered" -> q181_ivfpq_filtered,
    "q182_ivfpq_sharded" -> q182_ivfpq_sharded,
    "q183_ivfpq_shard_update" -> q183_ivfpq_shard_update,
    "q184_ivfflat_sharded_filtered" -> q184_ivfflat_sharded_filtered,
    "q185_ivfflat_sharded_rebuild" -> q185_ivfflat_sharded_rebuild,
    "q194_ivfpq_sharded_rebuild" -> q194_ivfpq_sharded_rebuild,
    "q195_ivfpqr_sharded_rebuild" -> q195_ivfpqr_sharded_rebuild,
    "q188_ivfpqr_sharded" -> q188_ivfpqr_sharded,
    "q189_ivfpqr_shard_update" -> q189_ivfpqr_shard_update,
    "q190_ivfpqr_filtered" -> q190_ivfpqr_filtered,
    "q158_semdedup_index_update" -> q158_semdedup_index_update,
    "q193_semdedup_sharded_update" -> q193_semdedup_sharded_update,
    "q159_pq_index_update" -> q159_pq_index_update,
    "q160_ivfpq_index_persist" -> q160_ivfpq_index_persist,
    "q161_ivfpq_index_update" -> q161_ivfpq_index_update,
    "q162_ivfpq_rerank_serve" -> q162_ivfpq_rerank_serve,
    "q166_imi_index_persist" -> q166_imi_index_persist,
    "q167_imi_index_update" -> q167_imi_index_update,
    "q168_sq_index_persist" -> q168_sq_index_persist,
    "q169_sq_index_update" -> q169_sq_index_update,
    "q170_ivfsq_index_persist" -> q170_ivfsq_index_persist,
    "q171_ivfsq_index_update" -> q171_ivfsq_index_update,
    "q172_ivfpqr_index_persist" -> q172_ivfpqr_index_persist,
    "q173_ivfpqr_index_update" -> q173_ivfpqr_index_update,
    "q174_ivfpqr_rerank_serve" -> q174_ivfpqr_rerank_serve,
  )
  val oracleSql: Map[String, String] = Map(
    "q137_semdedup_hier" -> q137_sql,
    // serve-from-persisted-index must reproduce q137 exactly
    "q138_semdedup_index_persist" -> q137_sql,
    "q139_semdedup_hier_delta" -> q139_sql,
    // the distributed fine assignment must reproduce q137 exactly
    "q145_semdedup_joinfine" -> q137_sql,
    "q146_semantic_decontam" -> q146_sql,
    "q25_knn_brute" -> q25_sql,
    "q26_knn_lsh" -> q26_sql,
    "q40_embedding_dedup" -> q40_sql,
    "q45_knn_ivf" -> q45_sql,
    "q59_embedding_pool" -> q59_sql,
    "q66_quantize" -> q66_sql,
    "q77_kmeans" -> q77_sql,
    "q88_pq_codes" -> q88_sql,
    "q89_pq_search" -> q89_sql,
    "q90_triplets" -> q90_sql,
    "q93_feature_scale" -> q93_sql,
    "q94_ivfpq_search" -> q94_sql,
    "q98_ivfpq_rerank" -> q98_sql,
    "q102_semdedup" -> q102_sql,
    "q105_incremental_semdedup" -> q105_sql,
    "q106_pq_index_persist" -> q89_sql,
    // serve-from-persisted-codebook must reproduce q45 exactly
    "q111_ivf_index_persist" -> q45_sql,
    // serve-from-persisted-postings must reproduce q45 exactly
    "q156_ivfflat_persist" -> q45_sql,
    "q157_ivfflat_update" -> q157_sql,
    "q175_ivfflat_sharded" -> q45_sql,
    "q176_ivfflat_shard_update" -> q157_sql,
    "q177_ivfflat_filtered" -> q177_sql,
    "q178_ivfflat_rebuild" -> q45_sql,
    "q181_ivfpq_filtered" -> q181_sql,
    // the shard-merged ADC serve must reproduce q94 exactly
    "q182_ivfpq_sharded" -> q94_sql,
    // sharded add == fresh assignment+encode of the union (q161's replay)
    "q183_ivfpq_shard_update" -> q161_sql,
    // sharded filtered serve must reproduce the unsharded q177 exactly
    "q184_ivfflat_sharded_filtered" -> q177_sql,
    // sharded rebuild == fresh build over the union (the q178 contract)
    "q185_ivfflat_sharded_rebuild" -> q45_sql,
    // rebuild == fresh full-corpus sharded build, which q182/q188 pin
    "q194_ivfpq_sharded_rebuild" -> q94_sql,
    "q195_ivfpqr_sharded_rebuild" -> q172_sql,
    // shard-merged residual-ADC serve must reproduce q172 exactly
    "q188_ivfpqr_sharded" -> q172_sql,
    // sharded residual add == fresh assignment+encode of the union
    "q189_ivfpqr_shard_update" -> q173_sql,
    // filtered residual serve: q172's chain, label-restricted candidates
    "q190_ivfpqr_filtered" -> q190_sql,
    "q158_semdedup_index_update" -> q158_sql,
    // sharded-layout lifecycle must hash-reproduce the unsharded one
    "q193_semdedup_sharded_update" -> q158_sql,
    "q159_pq_index_update" -> q159_sql,
    // serve-from-the-composed-compressed-artifact must reproduce q94
    "q160_ivfpq_index_persist" -> q94_sql,
    "q161_ivfpq_index_update" -> q161_sql,
    // the artifact-served two-stage search must reproduce q98
    "q162_ivfpq_rerank_serve" -> q98_sql,
    "q166_imi_index_persist" -> q166_sql,
    "q167_imi_index_update" -> q167_sql,
    "q168_sq_index_persist" -> q168_sql,
    "q169_sq_index_update" -> q169_sql,
    "q170_ivfsq_index_persist" -> q170_sql,
    "q171_ivfsq_index_update" -> q171_sql,
    "q172_ivfpqr_index_persist" -> q172_sql,
    "q173_ivfpqr_index_update" -> q173_sql,
    "q174_ivfpqr_rerank_serve" -> q174_sql,
  )
}
