package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The independent expectation for the table workloads, in plain Spark
  * over the generated inputs. It shares no code with the engine's merge
  * (`graft.dml.Dml`): instead of one anti-join with scope conditions it
  * reduces each tombstone kind to the newest cut per scope with equi-join
  * aggregates, under HBase's rule that a tombstone at T masks versions
  * with ts <= T (exactly T for `delete_cell`). */
object Reference {

  val CellKey: Seq[String] = Seq("entity_id", "family", "qualifier")

  /** Puts that no tombstone masks: (entity_id, family, qualifier, ts,
    * value). `changes` has the engine's change schema. */
  def livePuts(base: DataFrame, changes: DataFrame): DataFrame = {
    val puts = base.select(CellKey.map(col) ++ Seq(col("ts"), col("value")): _*)
      .unionByName(changes.filter(col("op") === "put")
        .select(CellKey.map(col) ++ Seq(col("ts"), col("value")): _*))
    def cut(op: String, keys: Seq[String], name: String): DataFrame =
      changes.filter(col("op") === op).groupBy(keys.map(col): _*)
        .agg(max(col("ts")).as(name))
    val rowCut = cut("delete_row", Seq("entity_id"), "row_cut")
    val famCut = cut("delete_family", Seq("entity_id", "family"), "fam_cut")
    val colCut = cut("delete_column", CellKey, "col_cut")
    val exact = changes.filter(col("op") === "delete_cell")
      .select(CellKey.map(col) :+ col("ts"): _*).distinct()
      .withColumn("exact", lit(true))
    def over(c: String): Column = col(c).isNotNull && col("ts") <= col(c)
    puts
      .join(rowCut, Seq("entity_id"), "left")
      .join(famCut, Seq("entity_id", "family"), "left")
      .join(colCut, CellKey, "left")
      .join(exact, CellKey :+ "ts", "left")
      .filter(!(over("row_cut") || over("fam_cut") || over("col_cut") ||
        coalesce(col("exact"), lit(false))))
      .select(CellKey.map(col) ++ Seq(col("ts"), col("value")): _*)
  }

  /** The newest live version per cell. */
  def mostRecent(live: DataFrame): DataFrame =
    live.groupBy(CellKey.map(col): _*)
      .agg(max(col("ts")).as("ts"), max_by(col("value"), col("ts")).as("value"))

  /** The newest `n` live versions per cell, one row per version. */
  def newest(live: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    live.withColumn("rk", row_number().over(
        Window.partitionBy(CellKey.map(col): _*).orderBy(col("ts").desc)))
      .filter(col("rk") <= n).drop("rk")
  }

  /** The newest `n` live versions per cell as the engine's versioned read
    * shape: (entity_id, family, qualifier, versions newest first). */
  def versioned(live: DataFrame, n: Int): DataFrame =
    newest(live, n).groupBy(CellKey.map(col): _*)
      .agg(sort_array(collect_list(struct(col("ts"), col("value"))), asc = false)
        .as("versions"))

  final case class Digest(rows: Long, hash: BigDecimal) {
    override def toString: String = s"$rows rows, xxhash64 sum $hash"
  }

  /** Row count plus the order-independent sum of per-row xxhash64 over
    * every column, as two aggregate columns. */
  def digestColumns(df: DataFrame): (Column, Column) =
    (count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(df.columns.toSeq.map(col): _*)
        .cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))).as("hash"))

  def digest(df: DataFrame): Digest = {
    val (rows, hash) = digestColumns(df)
    val r = df.agg(rows, hash).head()
    Digest(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** `df` with its digest observed while an action materializes it. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val (rows, hash) = digestColumns(df)
    df.observe(obs, rows, hash)
  }

  def digestOf(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long],
      BigDecimal(m("hash").asInstanceOf[java.math.BigDecimal]))
  }
}
