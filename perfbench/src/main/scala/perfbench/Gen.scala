package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.{FamilySpec, TableLayout}

/** Seeded inputs. Every generator draws from its own stream derived from
  * the run's seed, so one seed always yields the same cells, batches
  * and documents. */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Two families in two locality groups, both with open qualifier sets
    * and unbounded retention. */
  val Layout: TableLayout = TableLayout("bench", Seq(
    FamilySpec("info", localityGroup = "lg_info"),
    FamilySpec("metrics", localityGroup = "lg_metrics")))

  val Families: Seq[String] = Layout.families.map(_.name)

  val ChangeSchema: StructType = StructType(Seq(
    StructField("entity_id", LongType, nullable = false),
    StructField("family", StringType),
    StructField("qualifier", StringType),
    StructField("op", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", StringType)))

  val ValueLen = 16

  /** Logical bytes of one user cell or change row. */
  def rowBytes(family: String, qualifier: String, value: String): Long =
    8L + Option(family).map(_.length).getOrElse(0) +
      Option(qualifier).map(_.length).getOrElse(0) + 8L +
      Option(value).map(_.length).getOrElse(0)

  private def value(r: SplittableRandom): String = {
    val c = new Array[Char](ValueLen)
    var i = 0
    while (i < ValueLen) { c(i) = ('a' + r.nextInt(26)).toChar; i += 1 }
    new String(c)
  }

  /** The base table: `entities` x `cellsPer` cells. Cell j of entity e
    * lives in family j % 2 under qualifier `q<j>` with the globally
    * unique timestamp e * cellsPer + j + 1, so later changes can address
    * base versions exactly. */
  final class Table(seed: Long, val entities: Int, val cellsPer: Int) {
    val baseRows: Long = entities.toLong * cellsPer
    private val r = rng(seed, 1)
    private var nextTs: Long = baseRows + 1

    def baseCells(spark: SparkSession): DataFrame = {
      val c = cellsPer
      spark.range(baseRows).select(
        (col("id") / c).cast(LongType).as("entity_id"),
        when(col("id") % c % 2 === 0, lit(Families(0)))
          .otherwise(lit(Families(1))).as("family"),
        concat(lit("q"), (col("id") % c).cast(StringType)).as("qualifier"),
        (col("id") + 1).as("ts"),
        substring(sha2(concat(lit(s"$seed:"), col("id").cast(StringType)),
          256), 1, ValueLen).as("value"))
    }

    def baseBytes: Long = (0 until cellsPer).map { j =>
      rowBytes(Families(j % 2), s"q$j", "x" * ValueLen)
    }.sum * entities

    /** Skewed entity choice: low ids are hot. */
    private def entity(): Long = (entities * math.pow(r.nextDouble(), 3)).toLong

    private def column(): (String, String) =
      (Families(r.nextInt(2)), s"q${r.nextInt(cellsPer + 2)}")

    /** One change batch: ~90% puts and the rest `delete_cell` (an exact
      * base version), `delete_column` and `delete_row` tombstones, each
      * stamped above every timestamp handed out before it. */
    def batch(size: Int): Seq[Row] = (0 until size).map { _ =>
      val u = r.nextDouble()
      val e = entity()
      if (u < 0.90) {
        val (f, q) = column()
        val ts = nextTs; nextTs += 1
        Row(e, f, q, "put", ts, value(r))
      } else if (u < 0.94) {
        val j = r.nextInt(cellsPer)
        Row(e, Families(j % 2), s"q$j", "delete_cell", e * cellsPer + j + 1, null)
      } else if (u < 0.98) {
        val (f, q) = column()
        val ts = nextTs; nextTs += 1
        Row(e, f, q, "delete_column", ts, null)
      } else {
        val ts = nextTs; nextTs += 1
        Row(e, null, null, "delete_row", ts, null)
      }
    }

    /** Put-only CSV records `entity_id,family,qualifier,ts,value`. */
    def csvLines(size: Int): Seq[String] = (0 until size).map { _ =>
      val (f, q) = column()
      val ts = nextTs; nextTs += 1
      s"${entity()},$f,$q,$ts,${value(r)}"
    }
  }

  def changesBytes(rows: Seq[Row]): Long = rows.map { x =>
    rowBytes(x.getString(1), x.getString(2), x.getString(5))
  }.sum

  def changesDf(spark: SparkSession, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), ChangeSchema)

  /** Ids at or above this are corpus documents; queries count up from 0. */
  val CorpusBase = 1000000L

  /** Documents over a Zipf-like vocabulary. */
  final class Corpus(seed: Long, vocab: Int) {
    private val r = rng(seed, 2)
    private var nextDoc = CorpusBase

    private def word(): String = s"t${(vocab * math.pow(r.nextDouble(), 2)).toInt}"

    private def text(words: Int): String =
      Seq.fill(words)(word()).mkString(" ")

    def docs(n: Int): Seq[(Long, String)] = Seq.fill(n) {
      val id = nextDoc; nextDoc += 1
      (id, text(8 + r.nextInt(17)))
    }

    /** Queries of four terms, one from each frequency band of the
      * vocabulary, so every query set costs about the same to serve. */
    def queryDocs(n: Int): Seq[(Long, String)] = {
      val bands = Seq(0, vocab / 300, vocab / 30, vocab / 3, vocab)
      (0 until n).map { i =>
        (i.toLong, bands.sliding(2).map { case Seq(lo, hi) =>
          s"t${lo + r.nextInt(hi - lo)}" }.mkString(" "))
      }
    }

    /** `k` distinct ids drawn from `live`, in draw order. */
    def pick(live: ArrayBuffer[Long], k: Int): Seq[Long] = {
      val chosen = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (chosen.size < math.min(k, live.length))
        chosen += live(r.nextInt(live.length))
      chosen.toSeq
    }
  }

  def docsDf(spark: SparkSession, rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  def docBytes(rows: Seq[(Long, String)]): Long = rows.map(8L + _._2.length).sum
}
