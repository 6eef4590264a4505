package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector similarity primitives over `array<float>` embedding columns.
  *
  * Exactness design: floats are scaled to int64 by 2^20 (an exact power of
  * two, so `float → double → ×2^20 → trunc` is bit-deterministic), dot
  * products and norms are then exact integer sums, and the final cosine is a
  * single deterministic double expression — identical in Spark and DuckDB
  * regardless of evaluation order or parallelism. This is what makes a
  * similarity join oracle-checkable, and it costs nothing at scale: the whole
  * pipeline stays inside whole-stage codegen.
  */
object VectorFunctions {
  val Scale = 1048576L // 2^20

  /** array<float> → array<long>, exact. */
  def scaled(v: Column): Column =
    transform(v, x => (x.cast(DoubleType) * Scale).cast(LongType))

  /** Exact integer dot product of two scaled vectors — the fused
    * codegen'd [[graft.plans.IDot]] kernel (one loop, zero allocation;
    * the HOF form it replaces built an intermediate array per
    * evaluation, the dominant cost wherever cosines run per CANDIDATE
    * PAIR — see IDot's scaladoc for the measurement). Same int64 sum,
    * bit-identical everywhere. */
  def idot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{columnOf, expressionOf}
    columnOf(graft.plans.IDot(expressionOf(a), expressionOf(b)))
  }

  /** Exact integer squared norm. */
  def inorm2(a: Column): Column =
    aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x)

  /** Deterministic cosine similarity between two scaled vectors. */
  def cosineScaled(a: Column, b: Column): Column =
    idot(a, b).cast(DoubleType) /
      (sqrt(inorm2(a).cast(DoubleType)) * sqrt(inorm2(b).cast(DoubleType)))

  /** Per-vector norm — materialize this ONCE per vector before a pair
    * join: recomputing `inorm2` inside the pair expression costs O(dim)
    * per CANDIDATE PAIR (Σbucket² of them), while a norm column costs
    * O(dim) per VECTOR and an 8-byte carry through the shuffle. */
  def vnorm(a: Column): Column = sqrt(inorm2(a).cast(DoubleType))

  /** Cosine from pre-materialized norms: bit-identical to cosineScaled
    * (same double ops in the same order), minus the per-pair norm work. */
  def cosineFromNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    idot(a, b).cast(DoubleType) / (na * nb)

  /** Sign-bit LSH bucket over the first `bits` dimensions: the cheap,
    * deterministic ANN partitioner. At scale this becomes the shuffle key —
    * vectors co-locate by bucket and a query probes only the buckets within
    * small Hamming distance of its own. */
  def signBucket(v: Column, bits: Int): Column =
    (0 until bits).map { d =>
      when(element_at(v, d + 1) > 0f, lit(1L << d)).otherwise(lit(0L))
    }.reduce(_ + _)

  // ── int8 scalar quantization ──────────────────────────────────────────
  // Codes are trunc(x * 127 / amax) ∈ [-127, 127] over the SCALED integer
  // lanes, so the only floating-point ops are one multiply and one divide
  // (IEEE-exact, engine-independent). The reconstruction error
  // |127·x − q·amax| is pure int64 math — exact, and provably < amax.
  // At 100 TB this is the embedding-compression pass before ANN indexing:
  // per-row column work, zero shuffle, 4× smaller vectors downstream.

  /** Max |lane| of a scaled vector (the per-vector quantization range). */
  def amaxInt(iv: Column): Column =
    aggregate(transform(iv, x => abs(x)), lit(0L), (acc, x) => greatest(acc, x))

  /** Int8 codes of a scaled vector given its amax (zero vector → zeros). */
  def int8Codes(iv: Column, amax: Column): Column =
    when(amax === 0L, transform(iv, _ => lit(0L)))
      .otherwise(transform(iv,
        x => (x.cast(DoubleType) * lit(127.0) / amax.cast(DoubleType))
          .cast(LongType)))

  /** Exact max reconstruction error in 127ths of amax: max |127·x − q·amax|. */
  def maxQuantErr(iv: Column, codes: Column, amax: Column): Column =
    aggregate(zip_with(iv, codes, (x, q) => abs(x * 127L - q * amax)),
      lit(0L), (acc, x) => greatest(acc, x))

  /** SQL fragments for the DuckDB oracle (1-indexed lists). */
  def sqlScaled(expr: String): String =
    s"list_transform($expr, x -> CAST(trunc(CAST(x AS DOUBLE) * $Scale.0) AS BIGINT))"
  def sqlIdot(a: String, b: String, dim: Int): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]))"
  def sqlInorm2(a: String, dim: Int): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $a[i]))"
  def sqlSignBucket(v: String, bits: Int): String =
    (0 until bits).map { d =>
      s"(CASE WHEN $v[${d + 1}] > 0 THEN ${1L << d} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  def sqlVnorm(a: String, dim: Int): String =
    s"sqrt(CAST(${sqlInorm2(a, dim)} AS DOUBLE))"
  def sqlCosineFromNorms(a: String, b: String, na: String, nb: String,
                         dim: Int): String =
    s"CAST(${sqlIdot(a, b, dim)} AS DOUBLE) / ($na * $nb)"
}
