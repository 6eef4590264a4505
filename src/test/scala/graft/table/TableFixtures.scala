package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dml.Dml

/** The four entity-table layouts — flat ungrouped, grouped (`lg=` file
  * sets), bucketed, grouped-bucketed — each bulk-loaded with the same
  * cells and left with a pending stamped change feed of two
  * appends (the first written as two files). */
object TableFixtures {

  final case class Fixture(name: String, path: String, layout: TableLayout,
                           table: EntityTable)

  val flatLayout: TableLayout =
    TableLayout("t", Seq(FamilySpec("info"), FamilySpec("stats")))
  val groupedLayout: TableLayout = TableLayout("t", Seq(
    FamilySpec("info", localityGroup = "hot"),
    FamilySpec("stats", localityGroup = "cold", compression = "gzip")))
  val NumBuckets = 4

  def baseCells(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 24L).flatMap { e =>
      Seq((e, "info", "email", 10L, s"e$e@x"), (e, "info", "email", 20L,
        s"e$e@y"), (e, "info", "name", 5L, s"n$e"), (e, "stats", "zip", 1L,
        s"z$e"))
    }.toDF("entity_id", "family", "qualifier", "ts", "value")
  }

  private def changes(spark: SparkSession,
                      ch: Seq[Dml.Change[Long, String]]): DataFrame = {
    import spark.implicits._
    ch.toDF("entity_id", "family", "qualifier", "op", "ts", "value")
  }

  def batch1(spark: SparkSession): DataFrame = changes(spark, Seq(
    Dml.put(1L, "info", "email", 30L, "b1@x"),
    Dml.put(30L, "stats", "zip", 30L, "new"),
    Dml.deleteCell(2L, "info", "email", 20L, null.asInstanceOf[String])))

  def batch2(spark: SparkSession): DataFrame = changes(spark, Seq(
    Dml.put(1L, "info", "email", 25L, "late@x"),
    Dml.deleteRow(3L, 40L, null.asInstanceOf[String]),
    Dml.deleteColumn(4L, "info", "name", 40L, null.asInstanceOf[String])))

  /** Bulk-load one table per layout under `root` and append the two
    * pending batches. `flat` and `grouped` name the ungrouped and the
    * grouped layout (the bucketed shapes reuse them) and `base` the
    * loaded cells, so a suite can run the four shapes under its own
    * retention knobs. */
  def all(spark: SparkSession, root: String, flat: TableLayout = flatLayout,
          grouped: TableLayout = groupedLayout,
          base: SparkSession => DataFrame = baseCells): Seq[Fixture] =
    Seq(("flat", flat, false), ("grouped", grouped, false),
      ("bucketed", flat, true), ("grouped-bucketed", grouped, true)).map {
      case (name, layout, bucketed) =>
        val path = s"$root/$name"
        val fx = Fixture(name, path, layout, load(spark, path, layout,
          bucketed, base(spark)))
        fx.table.appendChanges(batch1(spark), numFiles = 2)
        fx.table.appendChanges(batch2(spark))
        fx
    }

  private def load(spark: SparkSession, path: String, layout: TableLayout,
                   bucketed: Boolean, cells: DataFrame): EntityTable = {
    val t = new EntityTable(spark, path, layout)
    if (bucketed) t.bulkLoadBucketed(cells, NumBuckets, numPartitions = 2)
    else t.bulkLoad(cells, numPartitions = 2)
    t
  }
}
