package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.table.EntityTable

class ReferenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "1").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def cell(e: Long, f: String, q: String, ts: Long, v: String) =
    Row(e, f, q, "put", ts, v)

  // five entities; ts is unique per version
  private val baseRows = Seq(
    cell(1, "info", "q0", 1, "a"), cell(1, "info", "q0", 2, "b"),
    cell(1, "metrics", "q1", 3, "c"),
    cell(2, "info", "q0", 4, "d"), cell(2, "metrics", "q1", 5, "e"),
    cell(3, "info", "q0", 6, "f"),
    cell(4, "metrics", "q2", 7, "g"),
    cell(5, "info", "q0", 8, "h"))

  private val changeRows = Seq(
    Row(2L, null, null, "delete_row", 10L, null),
    cell(2, "info", "q0", 11, "late"),          // outlives the row tombstone
    Row(1L, "info", "q0", "delete_column", 2L, null),
    cell(1, "info", "q0", 12, "new"),
    Row(3L, "info", "q0", "delete_cell", 6L, null),
    Row(4L, "metrics", "q2", "delete_cell", 99L, null), // no such version
    cell(5, "info", "q0", 9, "x"),
    Row(5L, "info", "q0", "delete_column", 9L, null))   // masks ts 8 and 9

  private def base = Gen.changesDf(spark, baseRows).drop("op")
  private def changes = Gen.changesDf(spark, changeRows)

  test("reference mostRecent applies row, column and exact-cell tombstones") {
    val got = Reference.mostRecent(Reference.livePuts(base, changes))
      .orderBy("entity_id", "family", "qualifier").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
      .toSeq
    assert(got == Seq(
      (1L, "info", "q0", 12L, "new"),
      (1L, "metrics", "q1", 3L, "c"),
      (2L, "info", "q0", 11L, "late"),
      (4L, "metrics", "q2", 7L, "g")))
  }

  test("reference newest keeps the live versions newest first") {
    val noTombs = Gen.changesDf(spark, Seq(cell(1, "info", "q0", 20, "z")))
    val got = Reference.newest(Reference.livePuts(base, noTombs)
        .filter("entity_id = 1 AND family = 'info'"), 2)
      .collect().map(_.getLong(3)).sorted.toSeq
    assert(got == Seq(2L, 20L))
  }

  test("the engine's merged read hashes the same as the reference") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-ref").toString
    val t = new EntityTable(spark, s"$dir/t", Gen.Layout)
    t.bulkLoad(base, 1)
    t.appendChanges(changes)
    val want = Reference.digest(Reference.mostRecent(Reference.livePuts(base, changes)))
    assert(want.rows == 4L)
    assert(Reference.digest(t.mostRecent()) == want)
    t.compactFeed()
    t.majorCompact(numPartitions = 1)
    assert(Reference.digest(t.mostRecent()) == want)
  }

  test("the digest ignores row order and sees a changed value") {
    val a = Gen.changesDf(spark, baseRows).drop("op")
    val d = Reference.digest(a)
    assert(Reference.digest(a.orderBy(org.apache.spark.sql.functions.col("ts").desc)) == d)
    val changed = Gen.changesDf(spark, baseRows.updated(0, cell(1, "info", "q0", 1, "A")))
      .drop("op")
    assert(Reference.digest(changed).rows == d.rows && Reference.digest(changed) != d)
  }
}
