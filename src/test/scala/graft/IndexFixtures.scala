package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One tiny artifact per buildable index type (every `IndexTool.Types`
  * entry but the serve-time `hybrid`): its build input, an update delta
  * and a removal id set, and the flags that make the build fit these
  * few rows (`shards=2` for the sharded tiers). */
object IndexFixtures {

  final case class Fixture(tpe: String, input: DataFrame, delta: DataFrame,
                           removed: DataFrame, flags: Map[String, String])

  def all(spark: SparkSession): Seq[Fixture] = {
    import spark.implicits._
    val docs = Seq((0L, "spark join hash table scan batch"),
      (1L, "row batch filter merge plan"), (2L, "slow order vector line agg"),
      (3L, "spark join hash table scan rows")).toDF("doc_id", "text")
    val docDelta = Seq((10L, "completely novel content here today"))
      .toDF("doc_id", "text")
    def emb(ids: Seq[Long]): DataFrame = ids.map { i =>
        val v = Array(1f, 1f, 1f, 1f); v((i % 4).toInt) = 10f + i * 0.01f
        (i, v.toSeq)
      }.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val pq = Map("dim" -> "4", "m" -> "2", "k" -> "2", "centroids" -> "2")
    val flags: Map[String, Map[String, String]] = Map(
      "lsh" -> Map("shingle-n" -> "2"), "cdc" -> Map("avg-mask" -> "3"),
      "ivf" -> Map("centroids" -> "2"), "ivfflat" -> Map("centroids" -> "2"),
      "ivfpq" -> pq, "ivfpqr" -> pq, "pq" -> (pq - "centroids"),
      "sq" -> Map("dim" -> "4"), "ivfsq" -> Map("dim" -> "4", "centroids" -> "2"),
      "imi" -> Map("dim" -> "4", "half-centroids-a" -> "2",
        "half-centroids-b" -> "2"),
      "semdedup" -> Map("coarse-k" -> "2", "target-rows" -> "4",
        "cluster-cap" -> "64"))
    val docTypes = Set("lsh", "cdc", "bm25", "bpe", "unigram", "wordpiece")
    (IndexTool.Types - "hybrid").toSeq.sorted.map { tpe =>
      val tier = tpe.stripSuffix("-sharded")
      val f = flags.getOrElse(tier, Map.empty[String, String]) +
        ("shards" -> "2")
      if (docTypes(tier))
        Fixture(tpe, docs, docDelta, Seq(1L).toDF("doc_id"), f)
      else
        Fixture(tpe, emb(0L until 12L), emb(Seq(20L, 21L)),
          Seq(1L).toDF("vec_id"), f)
    }
  }
}
