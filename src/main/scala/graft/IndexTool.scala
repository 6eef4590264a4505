package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{Bpe, Clustering, Dedup, Retrieval, Similarity, UnigramLm, WordPiece}
import graft.sinks.{ArtifactStore, SegmentStore, SegmentedIndex, ShardedCommit}

/** The build-once/serve-many index tier behind the CLI facade: one
  * `index-build` / `index-serve` verb pair over every persistable
  * artifact the engine trains — LSH banded signatures, the IVF coarse
  * codebook, PQ codes+codebooks, the BPE merge list, the BM25 inverted
  * index, and the unigram-LM vocabulary. Until round 11 these artifacts
  * were reachable only from query code (q106/q110/q111/q112/q114/q132);
  * this makes the persistence contract usable operationally, with the
  * same input/output spec dispatch as every other verb
  * (`Formats.read` / `Tool.writeOutput`).
  *
  * Contract per type (serve parameters must match build where noted —
  * the caller owns that, exactly like a search index):
  *
  *  - `lsh`: build = shingle-hash docs → banded signatures → parquet.
  *    serve = a delta batch probed against the LOADED index
  *    (`incrementalLshPairsIndexed`; num-hashes/bands must match).
  *  - `ivf`: build = k-means coarse codebook lanes. serve = the IVF
  *    probe search (`Similarity.knnIvfWith`) for query rows
  *    id < max-query-id of the input batch (the corpus side is the
  *    input too — the legacy codebook-only form).
  *  - `ivfflat`: build = codebook + cell-partitioned inverted LISTS
  *    (`Clustering.buildIvfFlatIndex`). serve = query rows of the input
  *    against the LOADED postings, scan pruned to the probed cells
  *    (`serveIvfFlat`); updatable (Faiss train/add). The `--nprobe=2`
  *    default is MEASURED, not guessed: on a clustered corpus (the
  *    representative regime) recall@10 is 0.946 at nprobe=1 and 1.000
  *    at 2 with cells on the √n ladder; only unclustered corpora (the
  *    adversarial floor) buy recall linearly with probes — BASELINE.md
  *    round-15 recall tables.
  *  - `ivfpq`: build = the composed compressed index — coarse codebook,
  *    cell-partitioned lists, PQ codes + codebooks, NO raw vectors
  *    (`Clustering.buildIvfPqIndex`). serve = pruned-cell ADC top-k
  *    (`serveIvfPq`; dim/m must match); updatable.
  *  - `imi`: build = the inverted MULTI-index — two half-space
  *    codebooks whose product is the cell grid, fit cost n·(kA+kB) for
  *    kA·kB cells (`Clustering.buildImiIndex` — the past-the-ladder-cap
  *    coarse quantizer). serve = composed-centroid probes + pruned
  *    exact rerank (`serveImi`); updatable (per-half Faiss train/add).
  *  - `pq`: build = product-quantizer fit (codes + codebooks). serve =
  *    ADC top-k (`pqSearchIndex`; dim/m must match).
  *  - `ivfpqr`: build = the RESIDUAL-encoded IVFPQ (PQ over
  *    v − centroid(cell) — `Clustering.buildIvfPqrIndex`, the
  *    production Faiss IndexIVFPQ). serve = pruned-cell residual ADC
  *    with per-(query, cell) tables (`serveIvfPqr`); updatable.
  *  - `sq`: build = trained 8-bit scalar quantizer (per-dim bounds +
  *    1-byte-per-lane codes — `Clustering.buildSqIndex`). serve = exact
  *    integer code-space L2 top-k over one flat scan (`serveSq`);
  *    updatable (bounds never move; out-of-range lanes clamp).
  *  - `ivfsq`: build = inverted lists of SQ codes (one fused
  *    assign+encode scan — `Clustering.buildIvfSqIndex`). serve =
  *    pruned-cell code-space L2 top-k (`serveIvfSq`); updatable.
  *  - `bpe`: build = merge-list induction. serve = kernel token stats
  *    per input doc (`BpeDocStats`).
  *  - `bm25`: build = the four inverted-index artifacts. serve = ranked
  *    retrieval of the input query docs' terms (`bm25Ranked`).
  *  - `unigram`: build = hard-EM vocabulary. serve = Viterbi kernel
  *    stats per input doc (`UnigramDocStats`).
  *  - `semdedup`: build = hierarchical-SemDeDup fit (coarse codebook +
  *    fine seeds + corpus assignment — `Clustering.semDedupHierFit`).
  *    serve = the input treated as a DELTA batch pruned against the
  *    loaded index (`semDedupDeltaHier`; the q139 ingestion loop).
  *
  * Every serve whose corpus side lives in the artifact — the four
  * delta-against-index screens (`lsh`, `semdedup`, `decontam`, `cdc`),
  * the three tokenizer encode tiers (`bpe`, `unigram`, `wordpiece`),
  * and the retrieval tiers (`ivfflat`, `ivfpq`, `ivfpqr`, `imi`, `pq`,
  * `sq`, `ivfsq`, `bm25`) — also serves as a checkpointed file STREAM
  * (`--stream=true` — [[serveStream]]): the same batch path per
  * micro-batch, re-runnable as an ingestion cron. See [[StreamTypes]]
  * for why that line is exactly the streamable set.
  *
  * The reference ships its MapReduce jobs through the same one-CLI
  * pattern (`KM/tools/KijiGather.java`); an index tier is the analog for
  * trained artifacts.
  */
object IndexTool {

  val Types: Set[String] =
    Set("lsh", "lsh-sharded", "ivf", "ivfflat", "ivfflat-sharded", "ivfpq",
      "ivfpq-sharded", "ivfpqr", "ivfpqr-sharded", "pq", "sq", "ivfsq",
      "bpe", "bm25", "bm25-sharded", "unigram", "semdedup",
      "semdedup-sharded", "wordpiece", "decontam", "cdc", "cdc-sharded",
      "imi", "hybrid")

  private def intFlag(flags: Map[String, String], k: String, dflt: Int): Int =
    flags.get(k).map(_.toInt).getOrElse(dflt)

  /** A segmented type behind the CLI: its [[SegmentedIndex]] descriptor,
    * whether it indexes documents (`doc_id`) or vectors (`vec_id`), and
    * its delta and removal folds over a verb's input and flags (the
    * removal input is the id column `tier.ids` names). */
  private final case class SegmentedType(tier: SegmentedIndex.Tier[_],
      docs: Boolean,
      delta: (DataFrame, Map[String, String]) => SegmentedIndex.Fold,
      removal: (DataFrame, Map[String, String]) => SegmentedIndex.Fold)

  /** The segmented tiers: `index-compact` and their branches of
    * `index-update`, `index-remove`, `index-describe` and the
    * re-ingestion guard are lookups here. */
  private val Segmented: Map[String, SegmentedType] = Map(
    "bm25-sharded" -> SegmentedType(Retrieval.Bm25Sharded, docs = true,
      (in, f) => Retrieval.Bm25Sharded.delta(terms(docsOf(in, f))),
      (ids, _) => Retrieval.Bm25Sharded.removal(ids)),
    "lsh-sharded" -> SegmentedType(Dedup.LshSharded, docs = true,
      (in, f) => Dedup.LshSharded.delta(
        shingled(docsOf(in, f), intFlag(f, "shingle-n", 3)),
        intFlag(f, "num-hashes", 28), intFlag(f, "bands", 4)),
      (ids, f) => Dedup.LshSharded.removal(ids,
        intFlag(f, "num-hashes", 28), intFlag(f, "bands", 4))),
    "cdc-sharded" -> SegmentedType(Dedup.CdcSharded, docs = true,
      (in, f) => Dedup.CdcSharded.delta(docsOf(in, f),
        intFlag(f, "avg-mask", 32)),
      (ids, _) => Dedup.CdcSharded.removal(ids)),
    "semdedup-sharded" -> SegmentedType(Clustering.SemSharded, docs = false,
      (in, f) => Clustering.SemSharded.delta(embOf(in, f)),
      (ids, _) => Clustering.SemSharded.removal(ids)),
    "ivfflat-sharded" -> SegmentedType(Clustering.IvfFlatSharded,
      docs = false, (in, f) => Clustering.IvfFlatSharded.delta(
        embAllOf(in, f), "vec_id", "embedding"),
      (ids, _) => Clustering.IvfFlatSharded.removal(ids)),
    "ivfpq-sharded" -> SegmentedType(Clustering.IvfPqSharded, docs = false,
      (in, f) => Clustering.IvfPqSharded.delta(embAllOf(in, f), "vec_id",
        "embedding", intFlag(f, "dim", 64), intFlag(f, "m", 8)),
      (ids, _) => Clustering.IvfPqSharded.removal(ids)),
    "ivfpqr-sharded" -> SegmentedType(Clustering.IvfPqrSharded, docs = false,
      (in, f) => Clustering.IvfPqrSharded.delta(embAllOf(in, f), "vec_id",
        "embedding", intFlag(f, "dim", 64), intFlag(f, "m", 8)),
      (ids, _) => Clustering.IvfPqrSharded.removal(ids)))

  /** A tier's artifact at `path` from either layout: the segmented type
    * through [[SegmentedIndex.load]], the flat one through `flat`. */
  private def loadTier[A](spark: SparkSession, tpe: String, path: String,
                          tier: SegmentedIndex.Tier[A])(flat: => A): A =
    if (Segmented.contains(tpe)) SegmentedIndex.load(spark, tier, path)
    else flat

  /** Save `a` in the layout `tpe` names: segmented with `--shards`
    * (default 4) roots, committed against `expected`, or flat through
    * `flat`. */
  private def saveTier[A](spark: SparkSession, tpe: String,
                          tier: SegmentedIndex.Tier[A], a: A, path: String,
                          flags: Map[String, String],
                          expected: ArtifactStore.Expect = None)(
                          flat: => Unit): Unit =
    if (Segmented.contains(tpe)) SegmentedIndex.save(spark, tier, a, path,
      intFlag(flags, "shards", 4), expected)
    else flat

  /** The artifact at `path` in whichever layout it holds — segmented
    * when its live generation carries the `_num_shards` marker, else
    * flat through `flat`. For flags that name "an ivfflat/ivfpq/bm25
    * artifact" without a type of their own (`--rerank-from`, the hybrid
    * `--path`/`--dense-path`), so those composites work against either
    * layout — at 100 TB the raw-vector rerank source IS the sharded
    * artifact. */
  private def loadAuto[A](spark: SparkSession, path: String,
                          tier: SegmentedIndex.Tier[A])(flat: => A): A =
    if (ShardedCommit.shardCount(spark, ArtifactStore.resolve(spark, path))
        .isDefined) SegmentedIndex.load(spark, tier, path)
    else flat

  private def docsOf(df: DataFrame, flags: Map[String, String]): DataFrame = {
    val id = flags.getOrElse("id-col", "doc_id")
    val text = flags.getOrElse("text-col", "text")
    df.select(col(id).cast(LongType).as("doc_id"), col(text).as("text"))
  }

  private def embOf(df: DataFrame, flags: Map[String, String]): DataFrame = {
    val id = flags.getOrElse("id-col", "vec_id")
    val vec = flags.getOrElse("vec-col", "embedding")
    df.select(col(id).cast(LongType).as("vec_id"), col(vec).as("embedding"))
  }

  /** `--attr-cols=a,b` — metadata columns to materialize in a vector
    * index's candidate surface for filtered serves. */
  private def attrColsOf(flags: Map[String, String]): Seq[String] =
    flags.get("attr-cols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  /** [[embOf]] plus the `--attr-cols` attribute columns — the
    * filtered-capable vector-tier input projection. */
  private def pqEmbOf(df: DataFrame, flags: Map[String, String]): DataFrame =
    df.select(
      col(flags.getOrElse("id-col", "vec_id")).cast(LongType)
          .as("vec_id") +:
        col(flags.getOrElse("vec-col", "embedding")).as("embedding") +:
        attrColsOf(flags).map(col): _*)

  /** [[embOf]] keeping every OTHER input column: the sharded update
    * folds discover the artifact's attribute set themselves and select
    * those columns from the delta (loud select error if the delta lacks
    * one), so the CLI must not strip them here. */
  private def embAllOf(df: DataFrame, flags: Map[String, String]): DataFrame = {
    val id = flags.getOrElse("id-col", "vec_id")
    val vec = flags.getOrElse("vec-col", "embedding")
    df.select(col(id).cast(LongType).as("vec_id") +:
      col(vec).as("embedding") +:
      df.columns.toSeq.filterNot(Set(id, vec)).map(col): _*)
  }

  private def shingled(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    docs.select(col("doc_id").as("id"),
      columnOf(graft.plans.WordShingleHashes(
        expressionOf(col("text")), n, 7)).as("ghash"))
  }

  /** CLI tokenizer for the bm25 tier: `Bpe.docWords`' split (lowercase,
    * runs of non-alphanumerics), one row per token occurrence. */
  private def terms(docs: DataFrame): DataFrame =
    Bpe.docWords(docs, "doc_id", "text").select(col("doc_id"),
      col("word").as("term"))

  /** Every tier save publishes a fresh generation through the pointer
    * CAS ([[ArtifactStore.publish]]): readers never observe a half-built
    * or mid-swap artifact, and a build racing an update on the same path
    * fails loudly instead of silently clobbering it. */
  def build(spark: SparkSession, tpe: String, input: DataFrame,
            path: String, flags: Map[String, String]): Unit =
    build(spark, tpe, input, path, flags, None)

  /** [[build]] committing against `expected` (a rebuild's pinned
    * generation — see [[ArtifactStore.Expect]]). */
  private def build(spark: SparkSession, tpe: String, input: DataFrame,
                    path: String, flags: Map[String, String],
                    expected: ArtifactStore.Expect): Unit = {
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    tpe match {
      case "hybrid" => throw new IllegalArgumentException(
        "--type=hybrid is a SERVE-time composite (reciprocal-rank fusion " +
          "of a bm25 artifact at --path with an ivfflat artifact at " +
          "--dense-path) — build/update/remove the two artifacts " +
          "separately with their own types")
      case "lsh" | "lsh-sharded" =>
        val idx = Dedup.bandedSignaturesTiled(
          shingled(docsOf(input, flags), num("shingle-n", 3)),
          num("num-hashes", 28), num("bands", 4))
        saveTier(spark, tpe, Dedup.LshSharded, idx, path, flags)(
          Dedup.saveLshIndex(idx, path))
      case "ivf" =>
        Clustering.saveIvfCodebook(Clustering.ivfCoarseLanes(
          embOf(input, flags), "vec_id", "embedding",
          num("centroids", 64), num("iters", Similarity.IvfCoarseIters)), path)
      case "ivfflat" | "ivfflat-sharded" =>
        // the FULL inverted-file index: codebook + cell-partitioned
        // postings — serve reads only the probed cells, and the
        // artifact is updatable (Faiss train/add split).
        // --attr-cols=a,b materializes metadata columns IN the postings
        // for filtered serves (--filter-col/--filter-val); the sharded
        // layout splits the postings into --shards roots (n_id mod S)
        val idx = Clustering.buildIvfFlatIndex(
          pqEmbOf(input, flags), "vec_id", "embedding",
          num("centroids", 64), num("iters", Similarity.IvfCoarseIters),
          attrCols = attrColsOf(flags))
        saveTier(spark, tpe, Clustering.IvfFlatSharded, idx, path, flags,
          expected)(Clustering.saveIvfFlatIndex(idx, path, expected))
      case "ivfpq" | "ivfpq-sharded" =>
        // the composed compressed index: coarse codebook +
        // cell-partitioned lists + PQ codes/codebooks, no raw vectors.
        // --attr-cols materializes metadata in the CELLS surface for
        // filtered ADC serves (--filter-col/--filter-val)
        val idx = Clustering.buildIvfPqIndex(
          pqEmbOf(input, flags), "vec_id", "embedding",
          num("dim", 64), num("m", 8), num("k", 16), num("iters", 2),
          num("centroids", 64), attrCols = attrColsOf(flags))
        saveTier(spark, tpe, Clustering.IvfPqSharded, idx, path, flags,
          expected)(Clustering.saveIvfPqIndex(idx, path, expected))
      case "ivfpqr" | "ivfpqr-sharded" =>
        // residual-encoded IVFPQ (the production Faiss IndexIVFPQ): PQ
        // quantizes v − centroid(cell), so the codebooks spend their
        // resolution on within-cell geometry — the fix for raw-vector
        // ADC's measured in-cluster recall collapse. --attr-cols ride
        // the cells surface for the filtered residual-ADC serve
        val idx = Clustering.buildIvfPqrIndex(
          pqEmbOf(input, flags), "vec_id", "embedding",
          num("dim", 64), num("m", 8), num("k", 16), num("iters", 2),
          num("centroids", 64), attrCols = attrColsOf(flags))
        saveTier(spark, tpe, Clustering.IvfPqrSharded, idx, path, flags,
          expected)(Clustering.saveIvfPqrIndex(idx, path, expected))
      case "imi" =>
        // inverted MULTI-index: two half-space codebooks whose product
        // is the cell grid — fit cost n·(kA+kB) for kA·kB cells, the
        // past-the-ladder-cap coarse quantizer (Babenko & Lempitsky)
        Clustering.saveImiIndex(Clustering.buildImiIndex(
          embOf(input, flags), "vec_id", "embedding", num("dim", 64),
          num("half-centroids-a", 8), num("half-centroids-b", 8),
          num("iters", Similarity.IvfCoarseIters)), path)
      case "pq" =>
        Clustering.savePqIndex(Clustering.pqFit(embOf(input, flags),
          "vec_id", "embedding", num("dim", 64), num("m", 8),
          num("k", 16), num("iters", 2)), path)
      case "sq" =>
        // trained 8-bit scalar quantizer: per-dim (lo, hi) bounds +
        // 1-byte-per-lane codes — the codebook-light compression tier
        Clustering.saveSqIndex(Clustering.buildSqIndex(embOf(input, flags),
          "vec_id", "embedding", num("dim", 64)), path)
      case "ivfsq" =>
        // composed IVF × SQ8 (IndexIVFScalarQuantizer): inverted lists
        // of 1-byte-per-lane codes — sublinear serve whose per-lane
        // ranking survives cluster interiors where m-subspace ADC
        // saturates
        Clustering.saveIvfSqIndex(Clustering.buildIvfSqIndex(
          embOf(input, flags), "vec_id", "embedding", num("dim", 64),
          num("centroids", 64), num("iters", Similarity.IvfCoarseIters)),
          path)
      case "bpe" =>
        val (merges, _) = Bpe.trainAuto(
          Bpe.wordFreq(Bpe.docWords(docsOf(input, flags), "doc_id", "text")),
          num("merges", 6))
        Bpe.saveMerges(merges, spark, path)
      case "bm25" | "bm25-sharded" =>
        val idx = Retrieval.buildBm25Index(terms(docsOf(input, flags)))
        saveTier(spark, tpe, Retrieval.Bm25Sharded, idx, path, flags)(
          Retrieval.saveBm25Index(idx, path))
      case "unigram" =>
        // --target-vocab engages the EM+prune size-targeted trainer (the
        // SentencePiece vocabulary-size knob); absent = the fixed-seed
        // trainer (historical behavior)
        val wfd = Bpe.wordFreq(Bpe.docWords(docsOf(input, flags),
          "doc_id", "text"))
        val vocab = flags.get("target-vocab")
          .map(t => UnigramLm.trainLocal(wfd, t.toInt))
          .getOrElse(UnigramLm.trainLocal(wfd))
        UnigramLm.saveVocab(vocab, spark, path)
      case "semdedup" | "semdedup-sharded" =>
        val idx = Clustering.semDedupHierFit(
          embOf(input, flags), "vec_id", "embedding",
          num("coarse-k", 16), num("target-rows", 32).toLong,
          num("iters", 2), flags.getOrElse("salt", "semdedup-h"),
          num("cluster-cap", 256).toLong,
          num("max-fine-per-cell", 256))
        saveTier(spark, tpe, Clustering.SemSharded, idx, path, flags)(
          Clustering.saveSemIndex(idx, path))
      case "wordpiece" =>
        val (_, finalToks) = WordPiece.trainAuto(
          Bpe.wordFreq(Bpe.docWords(docsOf(input, flags), "doc_id", "text")),
          num("merges", 6))
        WordPiece.saveVocab(WordPiece.vocabOf(finalToks), spark, path)
      case "decontam" =>
        // the "index" IS the held-out eval suite: persist its vectors
        // once, screen every later candidate batch against them
        ArtifactStore.publish(spark, path) { dir =>
          embOf(input, flags).coalesce(1).write.mode("overwrite").parquet(dir)
        }
      case "cdc" | "cdc-sharded" =>
        // two-surface artifact: serve reads the rollup; the doc-grain
        // chunks surface makes the index removable and the re-ingestion
        // guard exact (Dedup.CdcArtifact)
        val idx = Dedup.buildCdcArtifact(docsOf(input, flags),
          "doc_id", "text", num("avg-mask", 32))
        saveTier(spark, tpe, Dedup.CdcSharded, idx, path, flags)(
          Dedup.saveCdcArtifact(idx, path))
      case other => throw new IllegalArgumentException(
        s"unknown index type '$other' (expected ${Types.toSeq.sorted.mkString("|")})")
    }
  }

  /** The index types whose persisted artifact can absorb a delta batch
    * IN PLACE (`index-update`): those whose artifact (or its
    * corpus-sized part) is a monoid over disjoint doc sets — LSH
    * signatures (union + census re-derive), the CDC chunk table
    * (min/sum merge), the BM25 quadruple (union + df/stats merges), and
    * the IVF-flat postings (kernel-assign the delta against the FIXED
    * trained centroids + append — the Faiss train/add split: adding
    * never refits). Each update is EXACT: the updated artifact equals a
    * fresh build over the union — for ivfflat, a fresh ASSIGNMENT of
    * the union under the same codebook (q153–q155, q157 hash-verify).
    * The globally-fitted artifacts (ivf codebook itself, pq codebooks,
    * semdedup lanes/seeds, tokenizer vocabularies) are NOT updatable —
    * a delta moves every fitted parameter; re-run `index-build` when
    * the distribution drifts (the serve paths remain delta-safe
    * meanwhile, and ivfflat keeps ADDING exactly under the old
    * codebook). `semdedup` sits in between and is updatable the ivfflat
    * way: its lanes/seeds/sizes are fitted parameters that stay FIXED,
    * while the corpus-sized assign surface grows by the delta's exact
    * serve-path assignment (q158) — so later deltas screen against
    * previously admitted rows too. `pq` likewise: codebooks stay fixed,
    * a delta is ENCODED against them (per-subspace argmin — Faiss
    * `add`) and its codes appended (q159). `ivfpq` composes the ivfflat
    * and pq adds over one delta pass (q161). */
  val UpdateTypes: Set[String] =
    Set("lsh", "lsh-sharded", "cdc", "cdc-sharded", "bm25", "bm25-sharded",
      "ivfflat", "ivfflat-sharded", "semdedup", "semdedup-sharded", "pq",
      "ivfpq", "ivfpq-sharded", "imi", "sq", "ivfsq",
      "ivfpqr", "ivfpqr-sharded")

  /** Unsharded tier → its sharded twin (the per-shard rewrite-unit
    * layout). Drives the whole-surface rewrite gate in [[update]] and
    * the refusal text that names the migration. */
  val ShardedTwin: Map[String, String] = Map(
    "lsh" -> "lsh-sharded", "cdc" -> "cdc-sharded",
    "bm25" -> "bm25-sharded", "semdedup" -> "semdedup-sharded",
    "ivfflat" -> "ivfflat-sharded", "ivfpq" -> "ivfpq-sharded",
    "ivfpqr" -> "ivfpqr-sharded")

  /** Default ceiling for [[ShardedTwin]]-gated whole-surface update
    * rewrites — aligned with [[FlatServeMaxRows]]: past ~4M id rows,
    * a per-delta whole-surface rewrite is an operational bug, not a
    * choice. */
  val RewriteGateRows: Long = 1L << 22

  /** The index types whose persisted artifact can DROP a doc/vector set
    * (`index-remove` — the right-to-be-forgotten leg: a deleted
    * document must stop matching future probes, which append-only
    * updates can never deliver). Per-doc rows in these artifacts are
    * independent, so an anti-join plus re-derived rollups equals a
    * fresh build over the remaining corpus (lsh, bm25) or a fresh
    * assignment/encode of the remaining rows under the fixed fitted
    * parameters (ivfflat, ivfpq, pq, semdedup). `cdc` joined the set in
    * round 15: the persisted artifact now carries the doc-grain chunk
    * occurrence table beside the rollup ([[graft.operators.CdcArtifact]]),
    * so removal is the same anti-join + rollup re-derivation as bm25 —
    * the rollup alone was NOT invertible (its `min first_doc` is
    * unrecoverable once its witness is deleted). */
  val RemoveTypes: Set[String] =
    Set("lsh", "lsh-sharded", "bm25", "bm25-sharded", "cdc", "cdc-sharded",
      "ivfflat", "ivfflat-sharded", "ivfpq", "ivfpq-sharded", "pq",
      "semdedup", "semdedup-sharded", "imi", "sq", "ivfsq",
      "ivfpqr", "ivfpqr-sharded")

  /** `index-remove`: load the artifact, drop the ids in the input
    * batch, and commit a new generation through the same pointer
    * compare-and-swap as [[update]] — a remove racing an update/remove
    * fails loudly with the deletion unapplied rather than silently
    * clobbering it (FIXTURES.md §10). The input spec provides the ids:
    * `doc_id` for doc-typed tiers (lsh/bm25/cdc), `vec_id` for vector
    * tiers. */
  def remove(spark: SparkSession, tpe: String, input: DataFrame,
             path: String, flags: Map[String, String]): Unit = {
    require(RemoveTypes(tpe),
      s"index-remove supports --type=${RemoveTypes.toSeq.sorted.mkString("|")} " +
        s"only (got '$tpe')")
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    def docIds: DataFrame = input.select(
      col(flags.getOrElse("id-col", "doc_id")).cast(LongType).as("doc_id"))
    def vecIds: DataFrame = input.select(
      col(flags.getOrElse("id-col", "vec_id")).cast(LongType).as("n_id"))
    Segmented.get(tpe) match {
      case Some(seg) =>
        val touched = SegmentedIndex.remove(spark, path, seg.removal(
          input.select(col(flags.getOrElse("id-col",
            if (seg.docs) "doc_id" else "vec_id")).cast(LongType)
            .as(seg.tier.ids._2)), flags))
        println(s"removed from shards: ${touched.mkString(", ")}")
        return
      case None =>
    }
    // Pin the generation this remove folds onto: loads plan against
    // `base`, and the commit CAS refuses if the pointer moved meanwhile
    // (a racing update/remove) — fail loudly, never drop a deletion.
    val (_, loaded, base) = ArtifactStore.pinGen(spark, path)
    val expected = Some(loaded)
    tpe match {
      case "lsh" =>
        Dedup.saveLshIndex(Dedup.removeFromLshIndex(
          Dedup.loadLshIndex(spark, base),
          docIds.select(col("doc_id").as("id")),
          num("num-hashes", 28), num("bands", 4)), path, expected)
      case "bm25" =>
        Retrieval.saveBm25Index(Retrieval.removeFromBm25Index(
          Retrieval.loadBm25Index(spark, base), docIds), path, expected)
      case "cdc" =>
        Dedup.saveCdcArtifact(Dedup.removeFromCdcArtifact(
          Dedup.loadCdcArtifact(spark, base), docIds), path, expected)
      case "ivfflat" =>
        Clustering.saveIvfFlatIndex(Clustering.removeFromIvfFlatIndex(
          Clustering.loadIvfFlatIndex(spark, base), vecIds), path, expected)
      case "ivfpq" =>
        Clustering.saveIvfPqIndex(Clustering.removeFromIvfPqIndex(
          Clustering.loadIvfPqIndex(spark, base), vecIds), path, expected)
      case "pq" =>
        Clustering.savePqIndex(Clustering.removeFromPqIndex(
          Clustering.loadPqIndex(spark, base), vecIds), path, expected)
      case "semdedup" =>
        Clustering.saveSemIndex(Clustering.removeFromSemIndex(
          Clustering.loadSemIndex(spark, base),
          vecIds.select(col("n_id").as("vid"))), path, expected)
      case "imi" =>
        Clustering.saveImiIndex(Clustering.removeFromImiIndex(
          Clustering.loadImiIndex(spark, base), vecIds), path, expected)
      case "sq" =>
        Clustering.saveSqIndex(Clustering.removeFromSqIndex(
          Clustering.loadSqIndex(spark, base), vecIds), path, expected)
      case "ivfsq" =>
        Clustering.saveIvfSqIndex(Clustering.removeFromIvfSqIndex(
          Clustering.loadIvfSqIndex(spark, base), vecIds), path, expected)
      case "ivfpqr" =>
        Clustering.saveIvfPqrIndex(Clustering.removeFromIvfPqrIndex(
          Clustering.loadIvfPqrIndex(spark, base), vecIds), path, expected)
    }
  }

  /** The SEGMENTED tiers `index-compact` folds back to one segment per
    * shard root — the read-amplification reset after a run of
    * append-mode `index-update`s (each append adds one delta-sized
    * segment; reads stay one multi-path scan but the path list and the
    * partial-merge work grow until a compaction). Serves before and
    * after are hash-identical — compaction is purely physical. */
  val CompactTypes: Set[String] = Segmented.keySet

  def compact(spark: SparkSession, tpe: String, path: String,
              flags: Map[String, String]): Map[String, Long] = {
    require(CompactTypes(tpe),
      s"index-compact supports --type=${CompactTypes.toSeq.sorted.mkString("|")} " +
        s"only (got '$tpe'): the other types keep one flat generation, " +
        s"with no segments to fold")
    val (before, after) =
      SegmentedIndex.compact(spark, Segmented(tpe).tier, path)
    println(s"compacted: $before -> $after live segments")
    Map("segments_before" -> before, "segments_after" -> after)
  }

  /** The index types with a RETRAIN-in-place repair (`index-rebuild`).
    * Codebooks are frozen on add forever (the Faiss train/add
    * contract), so occupancy skew accumulates under drifted ingestion —
    * serve cost concentrates in few hot cells and recall decays.
    * `index-describe` reports `occupancy_skew_x100`; this verb retrains
    * the coarse codebook FROM THE INDEX'S OWN POSTINGS (exact scaled
    * vectors — no re-supply of the corpus), re-assigns, and commits via
    * the root pointer CAS. Rebuild == fresh build over the same vectors
    * with the same (centroids, iters, salt) — bit-identical (q-verified),
    * so a drifted index snaps back to the fresh-build contract. */
  val RebuildTypes: Set[String] =
    Set("ivfflat", "ivfflat-sharded", "imi", "ivfpq-sharded",
      "ivfpqr-sharded")

  def rebuild(spark: SparkSession, tpe: String, path: String,
              flags: Map[String, String],
              input: Option[DataFrame] = None): Map[String, Long] = {
    require(RebuildTypes(tpe),
      s"index-rebuild supports --type=${RebuildTypes.toSeq.sorted.mkString("|")} " +
        s"only (got '$tpe'); the remaining compressed tiers (ivfpq|ivfpqr|" +
        s"sq|ivfsq|pq) have no sharded generation history to preserve — " +
        s"run index-build on the corpus")
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    // Pin the generation every rebuild reads and commits against.
    val (_, loaded, base) = ArtifactStore.pinGen(spark, path)
    val expected = Some(loaded)
    if (tpe == "ivfpq-sharded" || tpe == "ivfpqr-sharded") {
      // The long-lived PRODUCTION compressed artifacts: drift accumulates
      // on exactly these, and pointing the operator at index-build would
      // discard the generation history and the shard grid. PQ/SQ
      // sub-codebooks quantize RAW vectors, which the codes surface
      // cannot reproduce — so unlike the ivfflat/imi rebuilds (which
      // retrain from their own exact postings), this one re-supplies the
      // corpus via --input, re-fits coarse + PQ, and re-persists a
      // complete sharded layout into the SAME root under one root CAS
      // (grid preserved, displaced generation retained for readers).
      val corpus = input.getOrElse(throw new IllegalArgumentException(
        s"index-rebuild --type=$tpe needs --input=<corpus spec>: the PQ " +
          s"sub-codebooks quantize raw vectors, which the compressed " +
          s"codes cannot reproduce — re-supply the corpus the artifact " +
          s"indexes (the ivfflat/imi rebuilds retrain from their own " +
          s"exact postings and take no --input)"))
      // one layout for both: read it through the ivfpq-sharded tier
      val idx = SegmentedIndex.load(spark, Clustering.IvfPqSharded, base)
      // The three PRE-BUILD reads — the occupancy-skew agg, the
      // stale-corpus id check, and the centroid-count default — are
      // independent read-only jobs; running them concurrently collapses
      // their driver/scheduling latencies into one barrier (guide §2.6;
      // the round-18 extraWrites pattern applied to the read side).
      // concurrentFrames lambda-isolates each plan, so the shared cells
      // lineage cannot cross-wire under concurrency.
      val doCheck = !flags.get("skip-corpus-check").exists(_.toBoolean)
      // GUARD frame: a stale corpus would silently DROP every indexed
      // vector it lacks (the rebuild replaces the surfaces wholesale) —
      // refuse when the artifact holds ids the supplied corpus does not.
      // Extra corpus ids are fine: rebuilding onto a grown corpus is the
      // grow-the-index path. One column-pruned anti-join, never
      // collected past the 6-row message sample.
      val missingFrame = existingIds(spark, tpe, base).distinct()
        .join(embOf(corpus, flags).select(col("vec_id").as("id"))
          .distinct(), Seq("id"), "left_anti")
        .limit(6)
      val preFrames = Seq(Clustering.occupancySkewAgg(idx.cells),
        idx.coarseLanes.select(col("cluster")).distinct()) ++
        (if (doCheck) Seq(missingFrame) else Nil)
      val pre = Clustering.concurrentFrames(preFrames) { (i, df) =>
        if (i == 0) Clustering.decodeOccupancySkew(df.head()): Any
        else if (i == 1) df.count(): Any
        else df.collect().map(_.getLong(0)): Any
      }
      val skew = pre(0).asInstanceOf[Double]
      val minSkew = flags.get("min-skew").map(_.toDouble).getOrElse(0.0)
      require(skew >= minSkew || flags.get("force").contains("true"),
        f"index-rebuild --type=$tpe: occupancy skew $skew%.2f is below " +
          f"--min-skew=$minSkew%.2f — the codebooks do not need a " +
          f"retrain yet (watch index-describe's occupancy_skew_x100), " +
          f"or pass --force=true")
      if (doCheck) {
        val missing = pre(2).asInstanceOf[Array[Long]]
        require(missing.isEmpty,
          s"index-rebuild --type=$tpe: the artifact holds vector id(s) " +
            s"the supplied --input corpus lacks " +
            s"(${missing.take(5).mkString(", ")}" +
            s"${if (missing.length > 5) ", …" else ""}) — rebuilding " +
            s"would silently drop them (a stale corpus snapshot?). " +
            s"Supply the full corpus, index-remove the ids first, or " +
            s"pass --skip-corpus-check=true")
      }
      // defaults from the LIVE artifact, so an omitted flag can never
      // silently reshape the index: grid size from the shard meta,
      // centroid count from the trained coarse codebook, attribute
      // columns from the cells surface
      val defaults = Map(
        "shards" -> ShardedCommit.numShards(spark, base).toString,
        "centroids" -> pre(1).asInstanceOf[Long].toString,
        "attr-cols" -> idx.cells.columns.toSeq
          .filterNot(Set("n_id", "c_id")).mkString(","))
        .filter { case (_, v) => v.nonEmpty }
      val effective = defaults ++ flags
      build(spark, tpe, corpus, path, effective, expected)
      return Map("skew_x100_before" -> (skew * 100).toLong,
        "centroids" -> effective("centroids").toLong,
        "shards" -> effective("shards").toLong)
    }
    if (tpe == "imi") {
      // both half-codebooks retrain from the postings' exact scaled
      // vector halves — the same drift repair, two-level
      val idx = Clustering.loadImiIndex(spark, base)
      val skew = Clustering.postingsOccupancySkew(idx.postings)
      val minSkew = flags.get("min-skew").map(_.toDouble).getOrElse(0.0)
      require(skew >= minSkew || flags.get("force").contains("true"),
        f"index-rebuild --type=imi: occupancy skew $skew%.2f is below " +
          f"--min-skew=$minSkew%.2f — the codebooks do not need a " +
          f"retrain yet, or pass --force=true")
      val kA = flags.get("half-centroids-a").map(_.toInt).getOrElse(idx.kA)
      val kB = flags.get("half-centroids-b").map(_.toInt).getOrElse(idx.kB)
      val rebuilt = Clustering.rebuildImiIndex(idx, kA, kB,
        num("iters", Similarity.IvfCoarseIters))
      Clustering.saveImiIndex(rebuilt, path, expected)
      return Map("skew_x100_before" -> (skew * 100).toLong,
        "half_centroids_a" -> kA.toLong, "half_centroids_b" -> kB.toLong)
    }
    // the sharded artifact rebuilds from the UNION of its shards'
    // postings (exact scaled vectors, same as the unsharded load) and
    // re-persists as a fresh sharded layout — drift accumulates on
    // exactly this long-lived artifact, so it must be repairable
    val idx = loadTier(spark, tpe, base, Clustering.IvfFlatSharded)(
      Clustering.loadIvfFlatIndex(spark, base))
    val skew = Clustering.postingsOccupancySkew(idx.postings)
    // describe-driven trigger: refuse a retrain the occupancy does not
    // justify (a full k-means over the corpus is the expensive step a
    // scheduler should not fire by accident) — unless --force=true
    val minSkew = flags.get("min-skew").map(_.toDouble).getOrElse(0.0)
    require(skew >= minSkew || flags.get("force").contains("true"),
      f"index-rebuild --type=$tpe: occupancy skew $skew%.2f is below " +
        f"--min-skew=$minSkew%.2f — the codebook does not need a retrain " +
        f"yet (watch index-describe's occupancy_skew_x100), or pass " +
        f"--force=true to retrain anyway")
    // default --centroids to the INDEX'S OWN codebook size (distinct
    // trained clusters), not a fixed literal: an omitted flag must not
    // silently reshape a 1024-cell index to 64 cells. (Empty clusters
    // drop out of the lanes, so this is the live cell count — pass
    // --centroids explicitly to grow/shrink the grid deliberately.)
    val centroids = flags.get("centroids").map(_.toInt).getOrElse(
      idx.lanes.select(col("cluster")).distinct().count().toInt)
    val rebuilt = Clustering.rebuildIvfFlatIndex(idx,
      centroids, num("iters", Similarity.IvfCoarseIters))
    // a sharded rebuild commits a fresh artifact generation holding a
    // complete sharded layout on the live grid — in-flight serves keep
    // the displaced generation's whole shard tree
    if (tpe == "ivfflat") Clustering.saveIvfFlatIndex(rebuilt, path, expected)
    else SegmentedIndex.save(spark, Clustering.IvfFlatSharded, rebuilt, path,
      ShardedCommit.numShards(spark, base), expected)
    Map("skew_x100_before" -> (skew * 100).toLong,
      "centroids" -> centroids.toLong)
  }

  /** The per-tier "ids already in the artifact" surface, for the
    * re-ingestion guard in [[update]]: one `id` column, drawn from the
    * artifact's per-doc/per-vector surface (one column scan, never
    * collected). */
  private def existingIds(spark: SparkSession, tpe: String, base: String)
      : DataFrame = tpe match {
    case t if Segmented.contains(t) =>
      SegmentedIndex.ids(spark, Segmented(t).tier, base)
    case "lsh" => Dedup.loadLshIndex(spark, base).select(col("id"))
    case "cdc" => Dedup.loadCdcArtifact(spark, base).chunks
      .select(col("doc_id").as("id"))
    case "bm25" => Retrieval.loadBm25Index(spark, base).doclen
      .select(col("doc_id").as("id"))
    case "ivfflat" => Clustering.loadIvfFlatIndex(spark, base).postings
      .select(col("n_id").as("id"))
    case "semdedup" => Clustering.loadSemIndex(spark, base).assign
      .select(col("vid").as("id"))
    case "pq" => Clustering.loadPqIndex(spark, base).codes
      .select(col("n_id").as("id"))
    case "ivfpq" => Clustering.loadIvfPqIndex(spark, base).codes
      .select(col("n_id").as("id"))
    case "imi" => Clustering.loadImiIndex(spark, base).postings
      .select(col("n_id").as("id"))
    case "sq" => Clustering.loadSqIndex(spark, base).codes
      .select(col("n_id").as("id"))
    case "ivfsq" => Clustering.loadIvfSqIndex(spark, base).codes
      .select(col("n_id").as("id"))
    case "ivfpqr" => Clustering.loadIvfPqrIndex(spark, base).cells
      .select(col("n_id").as("id"))
  }

  /** `index-update`: load the artifact at `path`, fold the delta batch
    * in, and commit a NEW GENERATION via the pointer compare-and-swap
    * ([[ArtifactStore.publish]] — the artifact never half-exists, a
    * failed update leaves the old generation serving,
    * and the DISPLACED generation is retained for in-flight readers).
    * CONCURRENCY: serves may run alongside an update; two updates (or
    * an update ∥ remove) racing on the same artifact SERIALIZE or fail
    * loudly — the loser's commit detects the moved pointer, deletes its
    * own generation, and throws with the delta UNAPPLIED (re-run it).
    * See FIXTURES.md §10.
    *
    * GUARD: every updatable tier's fold assumes delta ids are NEW
    * (disjoint from the artifact's) — re-ingesting an indexed doc
    * double-counts BM25 postings/df, CDC n_occ, LSH census rows, and
    * duplicates ANN postings/codes. A replayed delta batch (a cron
    * crash after commit) would corrupt the artifact SILENTLY, so the
    * verb checks: delta ids are semi-joined against the artifact's id
    * surface and any overlap fails loudly before anything is written
    * (one column-pruned scan; `--skip-disjoint-check=true` waives it
    * when the scheduler already guarantees disjointness). */
  def update(spark: SparkSession, tpe: String, input: DataFrame,
             path: String, flags: Map[String, String]): Unit = {
    require(UpdateTypes(tpe),
      s"index-update supports --type=${UpdateTypes.toSeq.sorted.mkString("|")} " +
        s"only (got '$tpe'); globally-fitted artifacts (ivf|bpe|" +
        s"unigram|wordpiece) re-fit — run index-build on the grown corpus " +
        s"(for ANN adds, build --type=ivfflat: its postings update exactly)")
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    // Pin the generation this update folds onto: loads plan against
    // `base`; the commit CAS refuses if the pointer moved meanwhile.
    val (_, loaded, base) = ArtifactStore.pinGen(spark, path)
    val expected = Some(loaded)
    val docTier = Segmented.get(ShardedTwin.getOrElse(tpe, tpe))
      .exists(_.docs)
    if (!flags.get("skip-disjoint-check").exists(_.toBoolean)) {
      val deltaIds = (if (docTier) docsOf(input, flags).select(
          col("doc_id").as("id"))
        else embOf(input, flags).select(col("vec_id").as("id"))).distinct()
      val dupes = deltaIds.join(existingIds(spark, tpe, base), Seq("id"),
        "left_semi").limit(6).collect().map(_.getLong(0))
      require(dupes.isEmpty,
        s"index-update --type=$tpe: delta contains id(s) already in the " +
          s"artifact at $path (${dupes.take(5).mkString(", ")}" +
          s"${if (dupes.length > 5) ", …" else ""}) — re-ingesting an " +
          s"indexed doc double-counts its contribution and corrupts the " +
          s"index silently (a replayed cron batch?). Remove them first " +
          s"(index-remove) or pass --skip-disjoint-check=true if the " +
          s"scheduler guarantees disjoint deltas")
    }
    // --mode for every sharded tier: `append` (each touched shard gains
    // one delta-sized immutable segment; the O(delta) write the 100 TB
    // cadence needs) or `merge` (whole-shard rewrite — the compacting
    // write). Unset, the tier's default applies: append for the doc and
    // dedup tiers, merge for the vector tiers, whose appended segments
    // each add a scan branch to every serve. Flat tiers ignore it.
    val appendMode = flags.get("mode").map {
      case "append" => true
      case "merge" => false
      case other => throw new IllegalArgumentException(
        s"--mode=$other: expected append|merge")
    }
    Segmented.get(tpe) match {
      case Some(seg) =>
        val fold = seg.delta(input, flags)
        val touched = SegmentedIndex.update(spark, path, fold,
          appendMode.getOrElse(fold.tier.appends))
        println(s"updated shards: ${touched.mkString(", ")}")
        return
      case None =>
    }
    // Whole-surface rewrite gate: every UNSHARDED fold below re-persists
    // the entire corpus-sized surface per delta — exact, but the
    // scale-killer class the sharded layouts eliminate (at 100 TB a
    // daily crawl would rewrite the whole index). Past the bound,
    // refuse loudly naming the sharded plan instead of letting a cron
    // trip into a whole-corpus rewrite unknowingly — the --max-flat-rows
    // serve-gate economics on the write path. The measure is the id
    // surface (one column-pruned scan, a corpus-proportional proxy for
    // the rewrite volume).
    ShardedTwin.get(tpe).foreach { twin =>
      val bound = flags.get("max-rewrite-rows").map(_.toLong)
        .getOrElse(RewriteGateRows)
      val rows = existingIds(spark, tpe, base).count()
      require(rows <= bound,
        s"index-update --type=$tpe: the artifact holds $rows id rows and " +
          s"this tier's update RE-PERSISTS THE WHOLE SURFACE per delta — " +
          s"above the $bound-row gate that is a corpus-sized rewrite for " +
          s"every crawl batch. Rebuild as --type=$twin (same serves, " +
          s"per-shard rewrite units) or raise --max-rewrite-rows=N " +
          s"deliberately for a one-off")
    }
    tpe match {
      case "lsh" =>
        Dedup.saveLshIndex(Dedup.updateLshIndex(
          Dedup.loadLshIndex(spark, base),
          shingled(docsOf(input, flags), num("shingle-n", 3)),
          num("num-hashes", 28), num("bands", 4)), path, expected)
      case "cdc" =>
        Dedup.saveCdcArtifact(Dedup.updateCdcArtifact(
          Dedup.loadCdcArtifact(spark, base), docsOf(input, flags),
          "doc_id", "text", num("avg-mask", 32)), path, expected)
      case "bm25" =>
        Retrieval.saveBm25Index(Retrieval.updateBm25Index(
          Retrieval.loadBm25Index(spark, base),
          terms(docsOf(input, flags))), path, expected)
      case "ivfflat" =>
        // a filtered-capable artifact carries attribute columns — the
        // delta must supply the same ones (loud select error otherwise)
        val idx0 = Clustering.loadIvfFlatIndex(spark, base)
        val attrs = idx0.postings.columns.toSeq
          .filterNot(Set("n_id", "nv", "nn", "c_id"))
        val deltaIn = input.select(
          col(flags.getOrElse("id-col", "vec_id")).cast(LongType)
              .as("vec_id") +:
            col(flags.getOrElse("vec-col", "embedding")).as("embedding") +:
            attrs.map(col): _*)
        Clustering.saveIvfFlatIndex(Clustering.updateIvfFlatIndex(
          idx0, deltaIn, "vec_id", "embedding"), path, expected)
      case "semdedup" =>
        Clustering.saveSemIndex(Clustering.updateSemIndex(
          Clustering.loadSemIndex(spark, base),
          embOf(input, flags), "vec_id", "embedding"), path, expected)
      case "pq" =>
        Clustering.savePqIndex(Clustering.updatePqIndex(
          Clustering.loadPqIndex(spark, base),
          embOf(input, flags), "vec_id", "embedding",
          num("dim", 64), num("m", 8)), path, expected)
      case "ivfpq" =>
        // embAllOf: an attr-carrying artifact's fold selects the
        // artifact's attribute columns FROM the delta — embOf would
        // strip them and fail the update
        Clustering.saveIvfPqIndex(Clustering.updateIvfPqIndex(
          Clustering.loadIvfPqIndex(spark, base),
          embAllOf(input, flags), "vec_id", "embedding",
          num("dim", 64), num("m", 8)), path, expected)
      case "imi" =>
        Clustering.saveImiIndex(Clustering.updateImiIndex(
          Clustering.loadImiIndex(spark, base),
          embOf(input, flags), "vec_id", "embedding"), path, expected)
      case "sq" =>
        Clustering.saveSqIndex(Clustering.updateSqIndex(
          Clustering.loadSqIndex(spark, base),
          embOf(input, flags), "vec_id", "embedding"), path, expected)
      case "ivfsq" =>
        Clustering.saveIvfSqIndex(Clustering.updateIvfSqIndex(
          Clustering.loadIvfSqIndex(spark, base),
          embOf(input, flags), "vec_id", "embedding"), path, expected)
      case "ivfpqr" =>
        Clustering.saveIvfPqrIndex(Clustering.updateIvfPqrIndex(
          Clustering.loadIvfPqrIndex(spark, base),
          embAllOf(input, flags), "vec_id", "embedding",
          num("dim", 64), num("m", 8)), path, expected)
    }
  }

  /** Corpus-size gate on the EXHAUSTIVE serve tiers (flat sq/pq scans,
    * and the legacy codebook-only ivf whose corpus is the input
    * itself): their per-batch cost is O(corpus) BY DESIGN — measured
    * growing with n while every inverted tier stays probe-bound
    * (BASELINE.md's flat-vs-ivf slope tables). Mirrors the `semDedup`
    * flat-form gate: past the bound, refuse loudly and name the
    * sublinear tier; `--max-flat-rows` raises it deliberately for a
    * one-off. */
  val FlatServeMaxRows: Long = 1L << 22

  private def gateFlatServe(tpe: String, rows: Long,
                            flags: Map[String, String], alt: String): Unit = {
    val maxRows = flags.get("max-flat-rows").map(_.toLong)
      .getOrElse(FlatServeMaxRows)
    require(rows <= maxRows,
      s"index-serve --type=$tpe is an O(corpus) EXHAUSTIVE scan per " +
        s"query batch: the corpus surface has $rows rows > $maxRows " +
        s"(--max-flat-rows). At this size use the sublinear tier " +
        s"($alt), or raise --max-flat-rows deliberately for a one-off")
  }

  /** Hybrid (lexical + dense) serve — reciprocal-rank fusion of the two
    * persisted artifacts' shortlists (`Retrieval.rrfFuse`, the q180
    * shape): the BM25 index at `--path` ranks the input docs' terms,
    * the ivfflat index at `--dense-path` probes the input embeddings,
    * and each doc contributes 1/(rrf-k + rank) per shortlist it appears
    * in. The INPUT IS the query batch: one row per query carrying BOTH
    * representations (`doc_id`/`--id-col`, `text`/`--text-col`,
    * `embedding`/`--vec-col`). Both legs cut at `--pool`; the fused
    * top-`--topk` is returned. */
  /** Parse `--filter-val` into the attribute column's type DRIVER-SIDE,
    * failing loudly on a value the type cannot hold — `lit(v).cast(dt)`
    * would yield NULL instead, making every predicate row false and the
    * serve silently return zero rows (indistinguishable from "no
    * matching neighbors"). */
  private def typedFilterVal(colName: String, v: String,
                             dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    // Resolve the unsupported-type case BEFORE the parse try: it throws
    // IllegalArgumentException too, and raising it inside would let the
    // catch re-wrap it as a misleading "--filter-val does not parse"
    // error for e.g. a timestamp/decimal attribute column.
    val supported = Set[DataType](IntegerType, LongType, ShortType,
      DoubleType, FloatType, BooleanType, StringType)
    if (!supported(dt)) throw new IllegalArgumentException(
      s"--filter-col=$colName has unsupported attribute type " +
        s"${dt.simpleString} (supported: int/long/short/double/" +
        s"float/boolean/string)")
    try dt match {
      case IntegerType => lit(v.trim.toInt)
      case LongType => lit(v.trim.toLong)
      case ShortType => lit(v.trim.toShort)
      case DoubleType => lit(v.trim.toDouble)
      case FloatType => lit(v.trim.toFloat)
      case BooleanType => lit(v.trim.toBoolean)
      case StringType => lit(v)
    } catch {
      case _: NumberFormatException | _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"--filter-val='$v' does not parse as the ${dt.simpleString} " +
            s"type of attribute column '$colName'")
    }
  }

  /** The ivfflat serve dispatch (shared by the unsharded and sharded
    * verbs — the loaded sharded artifact IS an [[Clustering.IvfFlatIndex]]):
    * plain probed-cell serve, or the filtered serve when
    * `--filter-col`/`--filter-val` name an attribute materialized in
    * the postings (predicate composed INSIDE the pruned scan —
    * pre-filtered candidates, never rank-then-filter). */
  private def serveFlatMaybeFiltered(idx: Clustering.IvfFlatIndex,
                                     emb: DataFrame,
                                     flags: Map[String, String]): DataFrame = {
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    flags.get("filter-col") match {
      case Some(c) =>
        require(idx.postings.columns.contains(c),
          s"--filter-col=$c: the postings carry no '$c' attribute " +
            s"column (available: " +
            s"${idx.postings.columns.mkString(", ")}) — rebuild with " +
            s"the attribute materialized (buildIvfFlatIndex attrCols)")
        val v = flags.getOrElse("filter-val",
          throw new IllegalArgumentException(
            "--filter-col needs --filter-val=<value>"))
        Clustering.serveIvfFlatFiltered(idx, emb, "vec_id", "embedding",
          num("max-query-id", 20).toLong, num("nprobe", 2),
          num("topk", 3),
          col(c) === typedFilterVal(c, v, idx.postings.schema(c).dataType))
      case None =>
        Clustering.serveIvfFlat(idx, emb, "vec_id", "embedding",
          num("max-query-id", 20).toLong, num("nprobe", 2),
          num("topk", 3))
    }
  }

  /** Opt-out id-parity precheck for the COMPOSITE serves (`--rerank-from`
    * two-stage search, `--type=hybrid` fusion): they read two
    * independently updated artifacts, and a one-sided update degrades
    * SILENTLY — the missing leg contributes nothing for the orphaned
    * ids. `index-describe --pair` detects this, but only when an
    * operator runs it; the composite serves therefore precheck at
    * artifact-load time (once per invocation, never per batch). Cost:
    * two column-pruned id scans + two anti-join counts. `--parity=warn`
    * (default) names the drift and serves anyway — a serve racing an
    * in-flight two-artifact update is LEGITIMATELY one-sided for the
    * update's commit window, and refusing would turn the documented
    * serve∥update concurrency into spurious failures; `--parity=refuse`
    * escalates to a hard error (scheduled pipelines that must not emit
    * degraded rankings); `--parity=skip` avoids the scans. */
  private def parityPrecheck(flags: Map[String, String], what: String,
                             hereName: String, here: DataFrame,
                             thereName: String, there: DataFrame): Unit =
    flags.getOrElse("parity", "warn") match {
      case "skip" => ()
      case mode @ ("warn" | "refuse") =>
        val h = here.distinct()
        val t = there.distinct()
        val onlyHere = h.join(t, Seq("id"), "left_anti").count()
        val onlyThere = t.join(h, Seq("id"), "left_anti").count()
        if (onlyHere + onlyThere > 0) {
          val msg = s"$what reads two independently updated artifacts " +
            s"that are OUT OF SYNC: $onlyHere id(s) only in $hereName, " +
            s"$onlyThere only in $thereName — one-sided ids degrade " +
            s"silently (the missing leg contributes nothing). Fold the " +
            s"missing delta into the lagging artifact (index-update) or " +
            s"index-remove the orphans (index-describe --pair lists " +
            s"counts); --parity=skip serves without the check, " +
            s"--parity=refuse makes this a hard error"
          if (mode == "refuse") throw new IllegalStateException(msg)
          else println(s"WARNING: $msg")
        }
      case other => throw new IllegalArgumentException(
        s"--parity=$other: expected warn|refuse|skip")
    }

  /** The compressed-tier (ADC) serve dispatch shared by the `ivfpq` and
    * `ivfpq-sharded` verbs: plain pruned-cell ADC, optionally
    * pre-filtered on a cells-surface attribute
    * (`--filter-col`/`--filter-val` — the [[Clustering.serveIvfPqFiltered]]
    * contract: the predicate composes into the probed scan BEFORE the
    * candidate join), optionally upgraded to the two-stage search
    * (`--rerank-from=<ivfflat artifact>`: ADC shortlist + exact-cosine
    * rerank over raw vectors fetched from those postings). */
  private def servePqMaybeRerank(spark: SparkSession,
                                 idx0: Clustering.IvfPqIndex,
                                 emb: DataFrame,
                                 flags: Map[String, String]): DataFrame = {
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    val idx = flags.get("filter-col") match {
      case Some(c) =>
        require(idx0.cells.columns.contains(c),
          s"--filter-col=$c: the cells surface carries no '$c' attribute " +
            s"column (available: ${idx0.cells.columns.mkString(", ")}) — " +
            s"rebuild with the attribute materialized (--attr-cols)")
        val v = flags.getOrElse("filter-val",
          throw new IllegalArgumentException(
            "--filter-col needs --filter-val=<value>"))
        idx0.copy(cells = idx0.cells.filter(
          col(c) === typedFilterVal(c, v, idx0.cells.schema(c).dataType)))
      case None => idx0
    }
    flags.get("rerank-from") match {
      case Some(flatPath) =>
        val postings = loadAuto(spark, flatPath, Clustering.IvfFlatSharded)(
          Clustering.loadIvfFlatIndex(spark, flatPath)).postings
        // parity on the UNFILTERED id sets: a --filter-col restriction
        // is per-serve intent, not artifact drift
        parityPrecheck(flags, "the two-stage rerank serve",
          "the ADC artifact (--path)",
          idx0.cells.select(col("n_id").as("id")),
          s"the raw-vector artifact (--rerank-from=$flatPath)",
          postings.select(col("n_id").as("id")))
        Clustering.serveIvfPqRerank(idx, postings,
          emb, "vec_id", "embedding", num("dim", 64), num("m", 8),
          num("max-query-id", 20).toLong, num("nprobe", 2),
          num("rerank-pool", 6), num("topk", 3))
      case None =>
        Clustering.serveIvfPq(idx, emb, "vec_id", "embedding",
          num("dim", 64), num("m", 8), num("max-query-id", 20).toLong,
          num("nprobe", 2), num("topk", 3))
    }
  }

  /** The BM25 ranked-serve dispatch shared by the unsharded and sharded
    * verbs (a loaded sharded artifact IS a [[graft.operators.Bm25Index]]). */
  private def serveBm25(idx: graft.operators.Bm25Index, docs: DataFrame,
                        flags: Map[String, String]): DataFrame = {
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    def dbl(k: String, dflt: Double): Double =
      flags.get(k).map(_.toDouble).getOrElse(dflt)
    val queryTerms = terms(docs).distinct()
      .select(col("doc_id").as("q_id"), col("term"))
    Retrieval.bm25Ranked(queryTerms, idx, dbl("k1", 1.2), dbl("b", 0.75),
        flags.get("scale").map(_.toLong).getOrElse(1048576L))
      .where(col("rank") <= num("topk", 5))
      .select(col("q_id"), col("rank"), col("doc_id"), col("n_terms"),
        col("score"))
  }

  /** [[servePqMaybeRerank]] for the RESIDUAL tier (`ivfpqr` /
    * `ivfpqr-sharded`): same filter and two-stage contracts over the
    * residual-ADC shortlist. */
  private def servePqrMaybeRerank(spark: SparkSession,
                                  idx0: Clustering.IvfPqrIndex,
                                  emb: DataFrame,
                                  flags: Map[String, String]): DataFrame = {
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    val idx = flags.get("filter-col") match {
      case Some(c) =>
        require(idx0.cells.columns.contains(c),
          s"--filter-col=$c: the cells surface carries no '$c' attribute " +
            s"column (available: ${idx0.cells.columns.mkString(", ")}) — " +
            s"rebuild with the attribute materialized (--attr-cols)")
        val v = flags.getOrElse("filter-val",
          throw new IllegalArgumentException(
            "--filter-col needs --filter-val=<value>"))
        idx0.copy(cells = idx0.cells.filter(
          col(c) === typedFilterVal(c, v, idx0.cells.schema(c).dataType)))
      case None => idx0
    }
    flags.get("rerank-from") match {
      case Some(flatPath) =>
        val postings = loadAuto(spark, flatPath, Clustering.IvfFlatSharded)(
          Clustering.loadIvfFlatIndex(spark, flatPath)).postings
        parityPrecheck(flags, "the two-stage residual rerank serve",
          "the residual-ADC artifact (--path)",
          idx0.cells.select(col("n_id").as("id")),
          s"the raw-vector artifact (--rerank-from=$flatPath)",
          postings.select(col("n_id").as("id")))
        Clustering.serveIvfPqrRerank(idx, postings,
          emb, "vec_id", "embedding", num("dim", 64), num("m", 8),
          num("max-query-id", 20).toLong, num("nprobe", 2),
          num("rerank-pool", 6), num("topk", 3))
      case None =>
        Clustering.serveIvfPqr(idx, emb, "vec_id", "embedding",
          num("dim", 64), num("m", 8), num("max-query-id", 20).toLong,
          num("nprobe", 2), num("topk", 3))
    }
  }

  private def hybridServe(spark: SparkSession, path: String,
                          flags: Map[String, String])
      : DataFrame => DataFrame = {
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    def dbl(k: String, dflt: Double): Double =
      flags.get(k).map(_.toDouble).getOrElse(dflt)
    val densePath = flags.getOrElse("dense-path",
      throw new IllegalArgumentException(
        "--type=hybrid needs --dense-path=<ivfflat|ivfpq artifact> beside " +
          "--path=<bm25 artifact>"))
    val pool = num("pool", 10)
    // the input IS the query batch — every row queries by default
    val maxQ = flags.get("max-query-id").map(_.toLong).getOrElse(Long.MaxValue)
    // BOTH artifacts load ONCE (pointer resolution + surface reads) —
    // the returned closure is applied per batch/micro-batch against the
    // same fixed state, like every other stream tier's hoisted load.
    // The lexical leg layout-sniffs a bm25-sharded root, exactly like
    // the dense legs sniff theirs
    val bmIdx = loadAuto(spark, path, Retrieval.Bm25Sharded)(
      Retrieval.loadBm25Index(spark, path))
    // The dense leg: raw-vector ivfflat (default), optionally filtered
    // (--filter-col/--filter-val — the predicate composes into the
    // probed scan, so the leg's pool is all MATCHING docs), or the
    // production compressed tier (--dense-type=ivfpq, requiring
    // --rerank-from=<ivfflat artifact> for the exact rerank of the ADC
    // shortlist — 8 B/vec shortlist + pool-sized raw fetches instead of
    // raw vectors for every candidate).
    val denseLeg: DataFrame => DataFrame =
      flags.getOrElse("dense-type", "ivfflat") match {
        case "ivfflat" =>
          val flatIdx = loadAuto(spark, densePath, Clustering.IvfFlatSharded)(
            Clustering.loadIvfFlatIndex(spark, densePath))
          parityPrecheck(flags, "the hybrid serve",
            "the bm25 artifact (--path)",
            bmIdx.doclen.select(col("doc_id").as("id")),
            s"the dense artifact (--dense-path=$densePath)",
            flatIdx.postings.select(col("n_id").as("id")))
          val pred = flags.get("filter-col").map { c =>
            require(flatIdx.postings.columns.contains(c),
              s"--filter-col=$c: the dense postings carry no '$c' " +
                s"attribute column (available: " +
                s"${flatIdx.postings.columns.mkString(", ")})")
            val v = flags.getOrElse("filter-val",
              throw new IllegalArgumentException(
                "--filter-col needs --filter-val=<value>"))
            col(c) === typedFilterVal(c, v,
              flatIdx.postings.schema(c).dataType)
          }
          qemb => pred match {
            case Some(p) => Clustering.serveIvfFlatFiltered(flatIdx, qemb,
              "vec_id", "embedding", maxQ, num("nprobe", 2), pool, p)
            case None => Clustering.serveIvfFlat(flatIdx, qemb,
              "vec_id", "embedding", maxQ, num("nprobe", 2), pool)
          }
        case "ivfpq" =>
          val pqIdx0 = loadAuto(spark, densePath, Clustering.IvfPqSharded)(
            Clustering.loadIvfPqIndex(spark, densePath))
          val pqIdx = flags.get("filter-col") match {
            case Some(c) =>
              require(pqIdx0.cells.columns.contains(c),
                s"--filter-col=$c: the dense cells carry no '$c' " +
                  s"attribute column (available: " +
                  s"${pqIdx0.cells.columns.mkString(", ")})")
              val v = flags.getOrElse("filter-val",
                throw new IllegalArgumentException(
                  "--filter-col needs --filter-val=<value>"))
              pqIdx0.copy(cells = pqIdx0.cells.filter(
                col(c) === typedFilterVal(c, v,
                  pqIdx0.cells.schema(c).dataType)))
            case None => pqIdx0
          }
          val rerankFrom = flags.getOrElse("rerank-from",
            throw new IllegalArgumentException(
              "--dense-type=ivfpq needs --rerank-from=<ivfflat artifact> " +
                "supplying raw vectors for the exact rerank of the ADC " +
                "shortlist (build both tiers from one coarse fit)"))
          val postings = loadAuto(spark, rerankFrom, Clustering.IvfFlatSharded)(
            Clustering.loadIvfFlatIndex(spark, rerankFrom)).postings
          parityPrecheck(flags, "the hybrid serve",
            "the bm25 artifact (--path)",
            bmIdx.doclen.select(col("doc_id").as("id")),
            s"the dense artifact (--dense-path=$densePath)",
            pqIdx0.cells.select(col("n_id").as("id")))
          parityPrecheck(flags, "the hybrid serve's dense leg",
            s"the ADC artifact (--dense-path=$densePath)",
            pqIdx0.cells.select(col("n_id").as("id")),
            s"the raw-vector artifact (--rerank-from=$rerankFrom)",
            postings.select(col("n_id").as("id")))
          qemb => Clustering.serveIvfPqRerank(pqIdx, postings, qemb,
            "vec_id", "embedding", num("dim", 64), num("m", 8), maxQ,
            num("nprobe", 2), num("rerank-pool", pool), pool)
        case other => throw new IllegalArgumentException(
          s"--dense-type=$other is not a hybrid dense leg (expected " +
            s"ivfflat|ivfpq)")
      }
    (input: DataFrame) => {
      val lex = Retrieval.bm25Ranked(
          terms(docsOf(input, flags)).distinct()
            .select(col("doc_id").as("q_id"), col("term")),
          bmIdx, dbl("k1", 1.2), dbl("b", 0.75),
          flags.get("scale").map(_.toLong).getOrElse(1048576L))
        .where(col("rank") <= pool)
        .select(col("q_id"), col("doc_id"), col("rank").as("lex_rank"))
      val qemb = input.select(
        col(flags.getOrElse("id-col", "doc_id")).cast(LongType).as("vec_id"),
        col(flags.getOrElse("vec-col", "embedding")).as("embedding"))
      val dense = denseLeg(qemb)
        .select(col("q_id"), col("n_id").as("doc_id"),
          col("rank").cast(LongType).as("dense_rank"))
      Retrieval.rrfFuse(lex, dense, num("rrf-k", 60), num("topk", 3))
    }
  }

  def serve(spark: SparkSession, tpe: String, input: DataFrame,
            path: String, flags: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    def dbl(k: String, dflt: Double): Double =
      flags.get(k).map(_.toDouble).getOrElse(dflt)
    tpe match {
      case "lsh" | "lsh-sharded" =>
        // the segmented load's live rows equal the flat artifact's, so
        // the probe reproduces the unsharded serve bit-for-bit
        Dedup.incrementalLshPairsIndexed(
            shingled(docsOf(input, flags), num("shingle-n", 3)),
            loadTier(spark, tpe, path, Dedup.LshSharded)(
              Dedup.loadLshIndex(spark, path)),
            num("num-hashes", 28), num("bands", 4), dbl("threshold", 0.6))
          .orderBy(col("new_doc"), col("dup_of"))
      case "ivf" =>
        // the legacy codebook-only tier re-assigns its corpus (the
        // INPUT) per batch — gate it like the other flat scans
        gateFlatServe("ivf", input.count(), flags,
          "ivfflat: persisted inverted lists, probed-cell serve")
        Similarity.knnIvfWith(embOf(input, flags), "vec_id", "embedding",
            Clustering.loadIvfCodebook(spark, path),
            num("max-query-id", 20).toLong, num("nprobe", 2), num("topk", 3))
          .orderBy(col("q_id"), col("rank"))
      case "ivfflat" | "ivfflat-sharded" =>
        // input supplies only the QUERY rows; the corpus side comes
        // from the persisted postings (pruned to the probed cells).
        // --filter-col/--filter-val compose a metadata predicate INTO
        // the probed scan (the postings must have been built with
        // that attribute column — buildIvfFlatIndex attrCols): the
        // production predicate+vector query, pre-filtered so every
        // query still gets k MATCHING neighbors. The sharded load is the
        // same index (equal postings sets), each segment's scan pruning
        // its own probed cells
        serveFlatMaybeFiltered(loadTier(spark, tpe, path,
              Clustering.IvfFlatSharded)(Clustering.loadIvfFlatIndex(spark, path)),
            embOf(input, flags), flags)
          .orderBy(col("q_id"), col("rank"))
      case "imi" =>
        // same serve economics over the two-level codebook's composed
        // cell grid (probes rank composed centroids, scan prunes)
        Clustering.serveImi(Clustering.loadImiIndex(spark, path),
            embOf(input, flags), "vec_id", "embedding",
            num("max-query-id", 20).toLong, num("nprobe", 2), num("topk", 3))
          .orderBy(col("q_id"), col("rank"))
      case "ivfpq" | "ivfpq-sharded" =>
        // --rerank-from=<ivfflat path> upgrades the ADC top-k to the
        // two-stage production search: ADC shortlist (--rerank-pool
        // deep) from THIS artifact, exact-cosine rerank on raw vectors
        // fetched from the named ivfflat postings (q162's shape).
        // --filter-col/--filter-val pre-filter the cells surface inside
        // the probed scan (serveIvfPqFiltered's contract)
        servePqMaybeRerank(spark, loadTier(spark, tpe, path,
              Clustering.IvfPqSharded)(Clustering.loadIvfPqIndex(spark, path)),
            embOf(input, flags), flags)
          .orderBy(col("q_id"), col("rank"))
      case "pq" =>
        val pqIdx = Clustering.loadPqIndex(spark, path)
        gateFlatServe("pq", pqIdx.codes.count(), flags,
          "ivfpq/ivfpqr: probed-cell ADC")
        Clustering.pqSearchIndex(pqIdx,
            embOf(input, flags), "vec_id", "embedding",
            num("dim", 64) / num("m", 8), num("max-query-id", 20).toLong,
            num("topk", 3))
          .orderBy(col("q_id"), col("rank"))
      case "sq" =>
        // queries come from the input, bounds + codes from the
        // artifact: exact integer L2 in code space over one flat scan
        val sqIdx = Clustering.loadSqIndex(spark, path)
        gateFlatServe("sq", sqIdx.codes.count(), flags,
          "ivfsq: probed-cell SQ ranking")
        Clustering.serveSq(sqIdx,
            embOf(input, flags), "vec_id", "embedding",
            num("max-query-id", 20).toLong, num("topk", 3))
          .orderBy(col("q_id"), col("rank"))
      case "ivfsq" =>
        // sublinear + compressed: probes prune the codes scan to the
        // probed cells, ranking is SQ code-space L2 within them
        Clustering.serveIvfSq(Clustering.loadIvfSqIndex(spark, path),
            embOf(input, flags), "vec_id", "embedding",
            num("max-query-id", 20).toLong, num("nprobe", 2),
            num("topk", 3))
          .orderBy(col("q_id"), col("rank"))
      case "ivfpqr" | "ivfpqr-sharded" =>
        // residual ADC: per-(query, probed cell) distance tables;
        // --rerank-from / --filter-col carry the same contracts as the
        // ivfpq verb (one shared coarse fit between the artifacts)
        servePqrMaybeRerank(spark, loadTier(spark, tpe, path,
              Clustering.IvfPqrSharded)(Clustering.loadIvfPqrIndex(spark, path)),
            embOf(input, flags), flags)
          .orderBy(col("q_id"), col("rank"))
      case "hybrid" =>
        hybridServe(spark, path, flags)(input)
          .orderBy(col("q_id"), col("rank"))
      case "bpe" =>
        encodeTransform(spark, "bpe", path, flags)(docsOf(input, flags))
          .orderBy(col("doc_id"))
      case "bm25" | "bm25-sharded" =>
        serveBm25(loadTier(spark, tpe, path, Retrieval.Bm25Sharded)(
            Retrieval.loadBm25Index(spark, path)), docsOf(input, flags), flags)
          .orderBy(col("q_id"), col("rank"))
      case "unigram" =>
        encodeTransform(spark, "unigram", path, flags)(docsOf(input, flags))
          .orderBy(col("doc_id"))
      case "semdedup" | "semdedup-sharded" =>
        Clustering.semDedupDeltaHier(embOf(input, flags), "vec_id",
            "embedding", loadTier(spark, tpe, path, Clustering.SemSharded)(
              Clustering.loadSemIndex(spark, path)),
            dbl("threshold", 0.999))
          .orderBy(col("pruned"))
      case "decontam" =>
        Similarity.semanticDecontam(embOf(input, flags),
            ArtifactStore.readSurface(spark,
              ArtifactStore.resolve(spark, path)),
            "vec_id", "embedding", dbl("threshold", 0.4))
          .orderBy(col("contaminated"))
      case "cdc" | "cdc-sharded" =>
        Dedup.incrementalCdcMatches(docsOf(input, flags),
            loadTier(spark, tpe, path, Dedup.CdcSharded)(
              Dedup.loadCdcArtifact(spark, path)).rollup, "doc_id", "text",
            num("avg-mask", 32))
          .orderBy(col("new_doc"))
      case "wordpiece" =>
        encodeTransform(spark, "wordpiece", path, flags)(docsOf(input, flags))
          .orderBy(col("doc_id"))
      case other => throw new IllegalArgumentException(
        s"unknown index type '$other' (expected ${Types.toSeq.sorted.mkString("|")})")
    }
  }

  /** Per-row encode projection for the tokenizer tiers, built ONCE from
    * the loaded artifact and applied per input frame — the batch serve
    * and every streamed micro-batch share the same transform, so
    * streamed encodes equal batch encodes by construction (the closure
    * captures only the vocab arrays; the kernels are stateless per
    * row). */
  private def encodeTransform(spark: SparkSession, tpe: String, path: String,
                              flags: Map[String, String]): DataFrame => DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    tpe match {
      case "bpe" =>
        val merges = Bpe.loadMerges(spark, path)
        val lhs = merges.map(_.lhs).toArray
        val rhs = merges.map(_.rhs).toArray
        docs => docs
          .select(col("doc_id"),
            columnOf(graft.plans.BpeDocStats(expressionOf(col("text")),
              lhs, rhs)).as("st"))
          .select(col("doc_id"), element_at(col("st"), 1).as("n_words"),
            element_at(col("st"), 2).as("n_tokens"),
            element_at(col("st"), 3).as("max_tok_len"))
      case "unigram" =>
        val vocab = UnigramLm.loadVocab(spark, path)
        docs => docs
          .select(col("doc_id"),
            columnOf(graft.plans.UnigramDocStats(expressionOf(col("text")),
              vocab.pieceArr, vocab.costArr, vocab.unkCost)).as("st"))
          .select(col("doc_id"), element_at(col("st"), 1).as("n_words"),
            element_at(col("st"), 2).as("n_tokens"),
            element_at(col("st"), 3).as("total_cost"))
      case "wordpiece" =>
        val v = WordPiece.loadVocab(spark, path)
        docs => docs
          .select(col("doc_id"),
            columnOf(graft.plans.WordPieceStats(expressionOf(col("text")),
              graft.plans.WpLookup(v.head, v.cont),
              num("max-chars", 12))).as("st"))
          .select(col("doc_id"), element_at(col("st"), 1).as("n_words"),
            element_at(col("st"), 2).as("n_tokens"),
            element_at(col("st"), 3).as("n_unk"))
      case other => throw new IllegalArgumentException(
        s"no encode transform for index type '$other'")
    }
  }

  /** `index-describe`: artifact introspection — per-surface row counts
    * and the fitted shape knobs an operator checks around an
    * `index-update` (did the delta land? how occupied are the cells?).
    * Read-only; every number is a bounded agg over the artifact (the
    * corpus-sized surfaces are counted, never collected). */
  def describe(spark: SparkSession, tpe: String, path: String,
               flags: Map[String, String] = Map.empty)
      : Map[String, Long] = {
    require(Types(tpe),
      s"unknown index type '$tpe' (expected ${Types.toSeq.sorted.mkString("|")})")
    def rows(p: String): Long = ArtifactStore.readSurface(spark,
      ArtifactStore.resolve(spark, p)).count()
    // Generation health first: orphaned
    // generations are a crashed/raced writer's leftovers (or the one
    // retained displaced generation) — detected here, swept by the next
    // successful commit. A lingering commit claim means a writer is
    // mid-flip or crashed inside the (milliseconds-wide) CAS window.
    val genCounters: Seq[(String, Long)] =
      ArtifactStore.generationReport(spark, path) match {
        case None => Seq.empty
        case Some((cur, orphans, claimed)) =>
          if (orphans.nonEmpty) println(
            s"WARNING: ${orphans.length} non-live generation(s) under " +
              s"$path (live: $cur): ${orphans.mkString(", ")} — one " +
              s"retained displaced generation is normal; more means a " +
              s"crashed writer (next successful index-update/remove " +
              s"sweeps them)")
          if (claimed) println(
            s"WARNING: commit claim present at $path/" +
              s"${ArtifactStore.ClaimFile} — a commit is in " +
              s"flight, or a writer crashed mid-flip (safe to delete " +
              s"after confirming no writer is running)")
          Seq("generations" -> (orphans.length + 1L),
            "orphan_generations" -> orphans.length.toLong,
            "commit_claim_present" -> (if (claimed) 1L else 0L))
      }
    // a segmented type reports its flat twin's counters over its live
    // view, plus the grid size, the compaction-pressure signal and the
    // segments no manifest names (a crashed or CAS-losing writer's —
    // index-gc sweeps them)
    val segmented: Seq[(String, Long)] = Segmented.get(tpe).toSeq.flatMap {
      seg =>
        val dir = ArtifactStore.resolve(spark, path)
        val orphans = SegmentStore.orphans(spark, dir, graceMs = 0L)
        if (orphans.nonEmpty) println(s"WARNING: segments named by no " +
          s"manifest (index-gc sweeps them): ${orphans.mkString(", ")}")
        Seq("shards" -> ShardedCommit.numShards(spark, dir).toLong,
          "live_segments" -> SegmentedIndex.liveSegments(spark, seg.tier, path),
          "orphan_segments" -> orphans.length.toLong)
    }
    val counters: Seq[(String, Long)] = genCounters ++ segmented ++ (tpe match {
      case "lsh" | "lsh-sharded" =>
        // one scan: count + both distincts in a single (expanded) agg
        val a = loadTier(spark, tpe, path, Dedup.LshSharded)(
            Dedup.loadLshIndex(spark, path))
          .agg(count(lit(1)), countDistinct(col("id")),
            countDistinct(col("band"))).head()
        Seq("signature_rows" -> a.getLong(0), "docs" -> a.getLong(1),
          "bands" -> a.getLong(2))
      case "cdc" | "cdc-sharded" =>
        // coalesce: sum over an EMPTY artifact is null, and describe is
        // exactly the verb an operator points at a degenerate index
        val art = loadTier(spark, tpe, path, Dedup.CdcSharded)(
          Dedup.loadCdcArtifact(spark, path))
        val agg = art.rollup
          .agg(count(lit(1)),
            coalesce(sum(col("n_occ")), lit(0L)).as("occ")).head()
        Seq("unique_chunks" -> agg.getLong(0),
          "chunk_occurrences" -> agg.getLong(1),
          "docs" -> art.chunks.select(col("doc_id")).distinct().count())
      case "bm25" | "bm25-sharded" =>
        val idx = loadTier(spark, tpe, path, Retrieval.Bm25Sharded)(
          Retrieval.loadBm25Index(spark, path))
        val st = idx.stats.head()
        Seq("posting_rows" -> idx.postings.count(),
          "docs" -> idx.doclen.count(),
          "vocab_terms" -> idx.docfreq.count(),
          "total_tokens" -> st.getAs[Long]("total_len"))
      case "ivf" =>
        val lanes =
          ArtifactStore.readSurface(spark, ArtifactStore.resolve(spark, path))
        Seq("centroids" -> lanes.select(col("cluster")).distinct().count(),
          "dim" -> lanes.select(col("pos")).distinct().count())
      case "ivfflat" | "ivfflat-sharded" =>
        val idx = loadTier(spark, tpe, path, Clustering.IvfFlatSharded)(
          Clustering.loadIvfFlatIndex(spark, path))
        // the occupancy agg's sum IS the vector total — one postings
        // scan, not two; coalesce covers the empty artifact
        val st = idx.postings.groupBy(col("c_id")).count()
          .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L)),
            coalesce(max(col("count")), lit(0L))).head()
        Seq("centroids" ->
            idx.lanes.select(col("cluster")).distinct().count(),
          "vectors" -> st.getLong(1),
          "occupied_cells" -> st.getLong(0),
          "largest_cell" -> st.getLong(2),
          // the rebuild trigger: max cell / mean cell (×100 — counters
          // are integral), derived from the SAME occupancy agg (no
          // second scan); drifted ingestion under a frozen codebook
          // drives this up, index-rebuild --type=ivfflat repairs it
          "occupancy_skew_x100" -> (if (st.getLong(1) == 0L) 0L
            else st.getLong(2) * st.getLong(0) * 100L / st.getLong(1)))
      case "imi" =>
        val idx = Clustering.loadImiIndex(spark, path)
        val st = idx.postings.groupBy(col("c_id")).count()
          .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L)),
            coalesce(max(col("count")), lit(0L))).head()
        Seq("half_centroids_a" -> idx.kA.toLong,
          "half_centroids_b" -> idx.kB.toLong,
          "composed_cells" -> (idx.kA.toLong * idx.kB),
          "vectors" -> st.getLong(1),
          "occupied_cells" -> st.getLong(0),
          "largest_cell" -> st.getLong(2))
      case "ivfpq" =>
        val idx = Clustering.loadIvfPqIndex(spark, path)
        val st = idx.cells.groupBy(col("c_id")).count()
          .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L)),
            coalesce(max(col("count")), lit(0L))).head()
        Seq("centroids" ->
            idx.coarseLanes.select(col("cluster")).distinct().count(),
          "vectors" -> st.getLong(1),
          "occupied_cells" -> st.getLong(0),
          "largest_cell" -> st.getLong(2),
          "code_rows" -> idx.codes.count(),
          "subspaces" -> idx.pqLanes.select(col("s")).distinct().count(),
          "codebook_k" ->
            idx.pqLanes.select(col("code")).distinct().count())
      case "ivfpq-sharded" | "ivfpqr-sharded" =>
        // one layout for both: read it through the ivfpq-sharded tier
        val idx = SegmentedIndex.load(spark, Clustering.IvfPqSharded, path)
        val st = idx.cells.groupBy(col("c_id")).count()
          .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L)),
            coalesce(max(col("count")), lit(0L))).head()
        Seq("centroids" ->
            idx.coarseLanes.select(col("cluster")).distinct().count(),
          "vectors" -> st.getLong(1),
          "occupied_cells" -> st.getLong(0),
          "largest_cell" -> st.getLong(2),
          "occupancy_skew_x100" -> (if (st.getLong(1) == 0L) 0L
            else st.getLong(2) * st.getLong(0) * 100L / st.getLong(1)),
          "code_rows" -> idx.codes.count(),
          "subspaces" -> idx.pqLanes.select(col("s")).distinct().count(),
          "codebook_k" ->
            idx.pqLanes.select(col("code")).distinct().count())
      case "pq" =>
        val idx = Clustering.loadPqIndex(spark, path)
        Seq("code_rows" -> idx.codes.count(),
          "vectors" -> idx.codes.select(col("n_id")).distinct().count(),
          "subspaces" -> idx.lanes.select(col("s")).distinct().count(),
          "codebook_k" -> idx.lanes.select(col("code")).distinct().count())
      case "sq" =>
        val idx = Clustering.loadSqIndex(spark, path)
        // degenerate lanes (lo == hi) quantize the whole corpus to one
        // level on that dimension — the shape check an operator wants
        val lanes = idx.lanes.agg(count(lit(1)),
          coalesce(sum(when(col("hi") === col("lo"), 1L).otherwise(0L)),
            lit(0L))).head()
        Seq("dims" -> lanes.getLong(0),
          "degenerate_dims" -> lanes.getLong(1),
          "vectors" -> idx.codes.count())
      case "ivfsq" =>
        val idx = Clustering.loadIvfSqIndex(spark, path)
        val st = idx.codes.groupBy(col("c_id")).count()
          .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L)),
            coalesce(max(col("count")), lit(0L))).head()
        Seq("centroids" ->
            idx.coarseLanes.select(col("cluster")).distinct().count(),
          "dims" -> idx.sqLanes.count(),
          "vectors" -> st.getLong(1),
          "occupied_cells" -> st.getLong(0),
          "largest_cell" -> st.getLong(2))
      case "ivfpqr" =>
        val idx = Clustering.loadIvfPqrIndex(spark, path)
        val st = idx.cells.groupBy(col("c_id")).count()
          .agg(count(lit(1)), coalesce(sum(col("count")), lit(0L)),
            coalesce(max(col("count")), lit(0L))).head()
        Seq("centroids" ->
            idx.coarseLanes.select(col("cluster")).distinct().count(),
          "subspaces" -> idx.pqLanes.select(col("s")).distinct().count(),
          "codebook_k" -> idx.pqLanes.select(col("code")).distinct().count(),
          "vectors" -> st.getLong(1),
          "occupied_cells" -> st.getLong(0),
          "largest_cell" -> st.getLong(2))
      case "semdedup" | "semdedup-sharded" =>
        val idx = loadTier(spark, tpe, path, Clustering.SemSharded)(
          Clustering.loadSemIndex(spark, path))
        Seq("coarse_k" -> idx.coarseK.toLong,
          "cluster_cap" -> idx.clusterCap,
          "fine_seeds" -> idx.seeds.count(),
          "assigned_rows" -> idx.assign.count(),
          "fine_clusters" -> idx.sizes.count())
      case "bpe" => Seq("merges" -> rows(path))
      case "unigram" => Seq("vocab_pieces" -> rows(path))
      case "wordpiece" =>
        val v = ArtifactStore.readSurface(spark,
          ArtifactStore.resolve(spark, path))
        Seq("vocab_pieces" -> v.count(),
          "continuation_pieces" -> v.filter(col("is_cont")).count())
      case "decontam" => Seq("eval_vectors" -> rows(path))
      case "hybrid" => throw new IllegalArgumentException(
        "--type=hybrid is a serve-time composite with no artifact of its " +
          "own — describe the bm25 and ivfflat artifacts separately")
    })
    // PAIRED-ARTIFACT parity (`--pair=<path> --pair-type=<type>`): the
    // hybrid serve (bm25 + dense) and the two-stage rerank (ivfpq +
    // ivfflat) read TWO artifacts that update independently — an id
    // present in one and not the other silently degrades fusion/rerank
    // (the missing side just contributes nothing for that doc, which is
    // indistinguishable from a genuine non-match). This check anti-joins
    // the two per-id surfaces both ways: bounded count aggregates over
    // column-pruned scans, nothing collected.
    val pairCounters: Seq[(String, Long)] = flags.get("pair") match {
      case None => Seq.empty
      case Some(pairPath) =>
        val pairTpe = flags.getOrElse("pair-type",
          throw new IllegalArgumentException(
            "--pair=<path> needs --pair-type=<type> naming the paired " +
              "artifact's index type"))
        def idsOf(t: String, p: String) = {
          require(UpdateTypes(t) || RemoveTypes(t),
            s"--pair parity needs an id-surfaced type (got '$t'; " +
              s"supported: ${(UpdateTypes ++ RemoveTypes).toSeq.sorted
                .mkString("|")})")
          existingIds(spark, t,
            ArtifactStore.resolve(spark, p)).distinct()
        }
        val here = idsOf(tpe, path)
        val there = idsOf(pairTpe, pairPath)
        val onlyHere = here.join(there, Seq("id"), "left_anti").count()
        val onlyThere = there.join(here, Seq("id"), "left_anti").count()
        if (onlyHere + onlyThere > 0) println(
          s"WARNING: paired artifacts out of sync — $onlyHere id(s) only " +
            s"in $path, $onlyThere only in $pairPath. A hybrid/rerank " +
            s"serve over this pair silently degrades for the one-sided " +
            s"ids (the missing leg contributes nothing); fold the missing " +
            s"delta into the lagging artifact (index-update) or remove " +
            s"the orphaned ids")
        Seq("pair_only_here" -> onlyHere, "pair_only_there" -> onlyThere,
          "pair_in_sync" -> (if (onlyHere + onlyThere == 0) 1L else 0L))
    }
    val all = counters ++ pairCounters
    all.foreach { case (name, value) => println(s"$name: $value") }
    all.toMap
  }

  /** The index types with a STREAMING serve path (`index-serve ...
    * --stream=true`). The rule: a serve streams exactly when its CORPUS
    * side lives in the loaded artifact — then every input row is
    * probed/pruned/ranked independently against fixed state (top-k
    * windows partition by q_id), so micro-batching composes exactly:
    * per-batch union == one batch serve. That covers the four ingestion
    * screens (lsh/semdedup/decontam/cdc), the three tokenizer encode
    * tiers (pure per-row kernels over a loaded vocabulary), AND the
    * retrieval tiers (ivfflat postings, pq codes, bm25 postings — each
    * query's top-k reads only artifact state). The one batch-only serve
    * is the legacy codebook-only `ivf`: its corpus side is the INPUT
    * itself (queries score the other input rows), so micro-batch
    * boundaries genuinely change results — use `ivfflat`, whose corpus
    * is the persisted inverted lists. */
  val StreamTypes: Set[String] =
    Set("lsh", "lsh-sharded", "semdedup", "semdedup-sharded", "decontam",
      "cdc", "cdc-sharded", "bpe", "unigram", "wordpiece",
      "ivfflat", "ivfflat-sharded", "ivfpq", "ivfpq-sharded", "pq", "bm25",
      "bm25-sharded", "imi", "sq", "ivfsq", "ivfpqr", "ivfpqr-sharded",
      "hybrid")

  /** STREAMING serve (`index-serve ... --stream=true`): the production
    * ingestion loop as one CLI invocation. The input spec's parquet
    * directory is read as a file STREAM of micro-batches; each batch
    * runs the type's exact batch serve path against the loaded index —
    * `lsh`: `StreamingCells.lshServeStream` →
    * `Dedup.incrementalLshPairsIndexed` (tiled probe, rerank, per-batch
    * distinct); `semdedup`: `StreamingCells.semDedupServeStream` →
    * `Clustering.semDedupDeltaHier` (coarse lanes, grouped-seed fine
    * argmin, within-cell cosine vs corpus only); `decontam`:
    * `StreamingCells.decontamServeStream` → `Similarity.semanticDecontam`
    * (the admission screen: per-row flags vs the persisted eval suite);
    * `cdc`: `Dedup.incrementalCdcMatches` (chunk screen vs the loaded
    * chunk index); `bpe`/`unigram`/`wordpiece`: the per-row encode
    * kernels over the vocab loaded once ([[encodeTransform]]) —
    * and appends its matches to the output directory. `Trigger.AvailableNow` drains the
    * current backlog then stops, so the call is re-runnable as an
    * ingestion cron: the checkpoint (kept under `_checkpoint` inside
    * the output dir — underscore-prefixed, invisible to readers) makes
    * each rerun process only files that arrived since the last drain. */
  def serveStream(spark: SparkSession, tpe: String, inputSpec: String,
                  path: String, outputSpec: String,
                  flags: Map[String, String]): Unit = {
    require(StreamTypes(tpe),
      s"--stream=true is supported for --type=" +
        s"${StreamTypes.toSeq.sorted.mkString("|")} only (got '$tpe')")
    def num(k: String, dflt: Int): Int = flags.get(k).map(_.toInt).getOrElse(dflt)
    def dbl(k: String, dflt: Double): Double =
      flags.get(k).map(_.toDouble).getOrElse(dflt)
    def fileOf(spec: String, what: String): String = {
      val kv = graft.sources.Formats.parseSpec(spec)
      require(kv.get("format").contains("parquet"),
        s"stream=true supports only format=parquet $what specs, got '$spec'")
      kv.getOrElse("file",
        throw new IllegalArgumentException(s"$what spec missing file=: '$spec'"))
    }
    val inFile = fileOf(inputSpec, "input")
    val outFile = fileOf(outputSpec, "output")
    // An input directory with no parquet yet is a NORMAL state for a
    // re-runnable ingestion cron (nothing arrived since the last drain,
    // or the producer hasn't started): drain nothing instead of failing
    // the whole cron run on the schema probe.
    val schema =
      try ArtifactStore.readSurface(spark, inFile).schema
      catch { case e: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"[index-serve] no parquet input at $inFile " +
          s"yet — nothing to drain (${e.getCondition})")
        return
      }
    val stream = spark.readStream.schema(schema).parquet(inFile)
    // batchId-keyed OVERWRITE partitions make the sink idempotent:
    // foreachBatch is at-least-once (a crash between the write and the
    // checkpoint commit replays the batch), so a replayed batch
    // re-overwrites its own batch=<id> directory instead of appending
    // duplicate rows. Readers see `batch` as an ordinary partition
    // column beside the type's match columns.
    val sink = (batchOut: org.apache.spark.sql.DataFrame, batchId: Long) =>
      batchOut.write.mode("overwrite")
        .parquet(s"$outFile/batch=$batchId"): Unit
    val writer = tpe match {
      case "lsh" | "lsh-sharded" =>
        // artifact loaded once; per-batch serve == the batch verb
        graft.streaming.StreamingCells.lshServeStream(
          docsOf(stream, flags), "doc_id", "text",
          loadTier(spark, tpe, path, Dedup.LshSharded)(
            Dedup.loadLshIndex(spark, path)),
          num("shingle-n", 3), num("num-hashes", 28), num("bands", 4),
          dbl("threshold", 0.6))(sink)
      case "semdedup" | "semdedup-sharded" =>
        graft.streaming.StreamingCells.semDedupServeStream(
          embOf(stream, flags), "vec_id", "embedding",
          loadTier(spark, tpe, path, Clustering.SemSharded)(
            Clustering.loadSemIndex(spark, path)),
          dbl("threshold", 0.999))(sink)
      case "decontam" =>
        graft.streaming.StreamingCells.decontamServeStream(
          embOf(stream, flags), "vec_id", "embedding",
          ArtifactStore.readSurface(spark,
            ArtifactStore.resolve(spark, path)),
          dbl("threshold", 0.4))(sink)
      case "cdc" | "cdc-sharded" =>
        val idx = loadTier(spark, tpe, path, Dedup.CdcSharded)(
          Dedup.loadCdcArtifact(spark, path)).rollup
        docsOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(Dedup.incrementalCdcMatches(batch, idx, "doc_id", "text",
              num("avg-mask", 32)), batchId)
        }
      case t @ ("bpe" | "unigram" | "wordpiece") =>
        // vocab loaded ONCE here; each micro-batch applies the same
        // per-row encode kernel the batch serve uses
        val enc = encodeTransform(spark, t, path, flags)
        docsOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(enc(batch), batchId)
        }
      case "ivfflat" | "ivfflat-sharded" =>
        // inverted lists loaded once; each micro-batch is a query batch
        // (per-query top-k over artifact postings — batch-independent).
        // --filter-col/--filter-val compose exactly as in the batch verb
        val idx = loadTier(spark, tpe, path, Clustering.IvfFlatSharded)(
          Clustering.loadIvfFlatIndex(spark, path))
        embOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(serveFlatMaybeFiltered(idx, batch, flags), batchId)
        }
      case "hybrid" =>
        // both artifacts' corpora are fixed state; each micro-batch is
        // an independent query batch (top-k per q_id) — per-batch fuse
        // == the batch verb on that batch
        val fuse = hybridServe(spark, path, flags)
        stream.writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(fuse(batch), batchId)
        }
      case "imi" =>
        val idx = Clustering.loadImiIndex(spark, path)
        embOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(Clustering.serveImi(idx, batch, "vec_id", "embedding",
              num("max-query-id", 20).toLong, num("nprobe", 2),
              num("topk", 3)), batchId)
        }
      case "pq" =>
        val idx = Clustering.loadPqIndex(spark, path)
        // the O(corpus)-per-batch gate applies to the STREAMED flat
        // serves too (each micro-batch pays the full codes scan)
        gateFlatServe("pq", idx.codes.count(), flags,
          "ivfpq/ivfpqr: probed-cell ADC")
        embOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(Clustering.pqSearchIndex(idx, batch, "vec_id", "embedding",
              num("dim", 64) / num("m", 8), num("max-query-id", 20).toLong,
              num("topk", 3)), batchId)
        }
      case "sq" =>
        // bounds + codes loaded once; each micro-batch is a query batch
        // encoded against the fixed lanes and ranked per q_id
        val idx = Clustering.loadSqIndex(spark, path)
        gateFlatServe("sq", idx.codes.count(), flags,
          "ivfsq: probed-cell SQ ranking")
        embOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(Clustering.serveSq(idx, batch, "vec_id", "embedding",
              num("max-query-id", 20).toLong, num("topk", 3)), batchId)
        }
      case "ivfsq" =>
        val idx = Clustering.loadIvfSqIndex(spark, path)
        embOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(Clustering.serveIvfSq(idx, batch, "vec_id", "embedding",
              num("max-query-id", 20).toLong, num("nprobe", 2),
              num("topk", 3)), batchId)
        }
      case "ivfpqr" | "ivfpqr-sharded" =>
        val idx = loadTier(spark, tpe, path, Clustering.IvfPqrSharded)(
          Clustering.loadIvfPqrIndex(spark, path))
        embOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(servePqrMaybeRerank(spark, idx, batch, flags), batchId)
        }
      case "ivfpq" | "ivfpq-sharded" =>
        // --rerank-from / --filter-col work streamed too: per-query
        // two-stage / pre-filtered search over fixed artifact state
        // composes across micro-batches (the ADC index loads once; the
        // rerank postings pointer re-resolves per batch — a few-bytes
        // read)
        val idx = loadTier(spark, tpe, path, Clustering.IvfPqSharded)(
          Clustering.loadIvfPqIndex(spark, path))
        embOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(servePqMaybeRerank(spark, idx, batch, flags), batchId)
        }
      case "bm25" | "bm25-sharded" =>
        val idx = loadTier(spark, tpe, path, Retrieval.Bm25Sharded)(
          Retrieval.loadBm25Index(spark, path))
        docsOf(stream, flags).writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            sink(serveBm25(idx, batch, flags), batchId)
        }
    }
    val q = writer
      .option("checkpointLocation", s"$outFile/_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
