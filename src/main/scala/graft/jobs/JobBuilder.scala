package graft.jobs

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import graft.kvstore.{KeyValueStore, UnconfiguredKeyValueStore}
import graft.operators.Lifecycle
import graft.operators.Lifecycle._
import graft.sinks.{ArtifactStore, BulkSink}

/** Job facade — the `MapReduceJobBuilder` analog
  * (`KM/framework/MapReduceJobBuilder.java:296-307` configure chain,
  * `KM/KijiMapReduceJob.java:88-203` run + history recording).
  *
  * Preserves the reference's build-time validation behavior:
  *  - missing input or operator ⇒ error at build(), not at run()
  *  - store bindings must override every `UnconfiguredKeyValueStore`
  *    (`KM/kvstore/impl/XmlKeyValueStoreParser` override chain; builder
  *    `withStore` `KM/framework/MapReduceJobBuilder.java:540-545`)
  *  - producer output lands in the input table's row (same-table rule,
  *    `KM/produce/KijiProduceJobBuilder.java:168-170`) — structurally
  *    guaranteed here because runProducer appends a column to the input.
  *
  * Each run is recorded in the job-history table
  * (`KM/framework/JobHistoryKijiTable.java:198-283`; avro record
  * `job-history.avdl:77-100`): one parquet row with id, name, start/end
  * millis, end status, and the counter map.
  */
object Jobs {

  final case class JobResult(jobId: String, name: String,
                             startMs: Long, endMs: Long, status: String,
                             counters: Map[String, Long], output: Option[DataFrame])

  /** Append-only job-history tables, mirroring the fields of the
    * reference's JobHistoryEntry (`job-history.avdl:24-51`: id, name,
    * start/end, status, full job configuration, extended_info map) and its
    * per-counter cells (`counters_family`, written one put per counter by
    * `JobHistoryKijiTable.java:198-283`):
    *  - `<path>/jobs` — one row per run, with the full job configuration
    *    and extended-info as map columns (queryable with map_keys /
    *    element_at instead of string parsing);
    *  - `<path>/counters` — one row per (job_id, counter_name,
    *    counter_value): individually queryable counters. */
  final class JobHistory(spark: SparkSession, path: String) {
    def record(r: JobResult, conf: Map[String, String] = Map.empty,
               extendedInfo: Map[String, String] = Map.empty): Unit = {
      import spark.implicits._
      Seq((r.jobId, r.name, r.startMs, r.endMs, r.status, conf, extendedInfo))
        .toDF("job_id", "job_name", "job_start_time", "job_end_time",
          "job_end_status", "job_configuration", "extended_info")
        .write.mode("append").parquet(s"$path/jobs")
      if (r.counters.nonEmpty)
        r.counters.toSeq.sortBy(_._1).map { case (n, v) => (r.jobId, n, v) }
          .toDF("job_id", "counter_name", "counter_value")
          .write.mode("append").parquet(s"$path/counters")
    }
    private def exists(sub: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(s"$path/$sub")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }

    /** Empty-history-safe (both tables): a history directory with no
      * recorded runs — or whose jobs all reported zero counters — surfaces
      * empty typed frames, not a path-not-found, so listings and joins
      * against a fresh history stay valid. */
    def table: DataFrame =
      if (exists("jobs")) ArtifactStore.readSurface(spark, s"$path/jobs")
      else {
        import spark.implicits._
        Seq.empty[(String, String, Long, Long, String,
            Map[String, String], Map[String, String])]
          .toDF("job_id", "job_name", "job_start_time", "job_end_time",
            "job_end_status", "job_configuration", "extended_info")
      }

    def counters: DataFrame =
      if (exists("counters"))
        ArtifactStore.readSurface(spark, s"$path/counters")
      else {
        import spark.implicits._
        Seq.empty[(String, String, Long)]
          .toDF("job_id", "counter_name", "counter_value")
      }
    def forJob(jobId: String): DataFrame =
      table.filter(col("job_id") === jobId)
  }

  abstract class JobBuilder[Self <: JobBuilder[Self]] { self: Self =>
    protected var input: Option[DataFrame] = None
    protected var jobName: String = getClass.getSimpleName
    protected var stores: Map[String, KeyValueStore[String, String]] = Map.empty
    protected var history: Option[JobHistory] = None

    def withInput(df: DataFrame): Self = { input = Some(df); this }
    def withName(n: String): Self = { jobName = n; this }
    def withStore(name: String, s: KeyValueStore[String, String]): Self = {
      stores += (name -> s); this
    }
    /** Bind stores from an XML bindings file; later withStore calls
      * override (the reference's code → XML → builder override chain). */
    def withStoreBindingsXml(xml: String): Self = {
      stores = graft.kvstore.XmlStoreBindings.parse(xml) ++ stores; this
    }
    def withHistory(h: JobHistory): Self = { history = Some(h); this }

    /** Stores the operator requires; bindings override defaults. */
    protected def requiredStores: Map[String, KeyValueStore[String, String]]
    protected def counterNames: Seq[String]
    protected def inputOrFail: DataFrame = input.getOrElse(
      throw new IllegalStateException(s"$jobName: no input configured"))

    /** Effective store bindings after the override chain; every
      * Unconfigured placeholder must have been overridden. */
    protected def boundStores: Map[String, KeyValueStore[String, String]] = {
      val merged = requiredStores ++ stores
      val unbound = merged.collect {
        case (n, _: UnconfiguredKeyValueStore[_, _]) => n
      }
      if (unbound.nonEmpty) throw new IllegalStateException(
        s"$jobName: unbound required stores: ${unbound.mkString(", ")}")
      merged
    }

    protected def execute(spark: SparkSession, counters: Counters): DataFrame

    /** Validate, run, record history. The plan is executed exactly ONCE,
      * by `sink` — callers that write the output pass the write as the
      * sink (so a CLI job is one plan execution, not a count + a write);
      * the no-arg overload forces with a count for callers that only
      * want the counters/history side effects. */
    def run(): JobResult = run { df => df.count(); () }

    def run(sink: DataFrame => Unit): JobResult = {
      val df = inputOrFail
      val spark = df.sparkSession
      boundStores // validates bindings eagerly (build-time error behavior)
      val counters = Counters(spark, counterNames)
      val jobId = java.util.UUID.randomUUID().toString
      val start = System.currentTimeMillis()
      val (status, out, err) =
        try { val o = execute(spark, counters); sink(o); ("SUCCEEDED", Some(o), None) }
        catch { case scala.util.control.NonFatal(e) => ("FAILED", None, Some(e)) }
      val result = JobResult(jobId, jobName, start, System.currentTimeMillis(),
        status, counterNames.map(n => n -> counters.value(n)).toMap, out)
      // Full job configuration (the reference stores the Hadoop conf XML;
      // the Spark analog is the session's SQL conf snapshot).
      history.foreach(_.record(result, spark.conf.getAll))
      err.foreach(e => throw new RuntimeException(s"$jobName failed (job $jobId)", e))
      result
    }

    /** Async submit + join — `KijiMapReduceJob.submit()`'s poll/join
      * surface (`KM/KijiMapReduceJob.java:88-131`); Spark actions are
      * synchronous, so the Future is the submission handle. */
    def submit()(implicit ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global): scala.concurrent.Future[JobResult] =
      scala.concurrent.Future(run())
  }

  /** Store-binding wrapper that does NOT capture the builder (builders hold
    * DataFrames and must never ride into task closures). */
  private final class BoundGatherer[K, V](g: Gatherer[K, V],
      bound: Map[String, KeyValueStore[String, String]]) extends Gatherer[K, V] {
    override def setup(ctx: OperatorContext): Unit = g.setup(ctx)
    def gather(row: org.apache.spark.sql.Row, emit: (K, V) => Unit,
               ctx: OperatorContext): Unit = g.gather(row, emit, ctx)
    override def cleanup(ctx: OperatorContext): Unit = g.cleanup(ctx)
    override def requiredStores: Map[String, KeyValueStore[String, String]] = bound
    override def counterNames: Seq[String] = g.counterNames
  }

  /** Gather job: table scan → gatherer → (K, V) output
    * (`KM/gather/KijiGatherJobBuilder.java`). */
  final class GatherJobBuilder[K, V](g: Gatherer[K, V])(
      implicit enc: Encoder[(K, V)]) extends JobBuilder[GatherJobBuilder[K, V]] {
    protected def requiredStores = g.requiredStores
    protected def counterNames = g.counterNames
    protected def execute(spark: SparkSession, counters: Counters): DataFrame =
      Lifecycle.runGatherer(inputOrFail,
        new BoundGatherer(g, boundStores), counters).toDF("key", "value")
  }

  /** Produce job: derive a column back onto the input table
    * (`KM/produce/KijiProduceJobBuilder.java`). */
  final class ProduceJobBuilder(p: Producer) extends JobBuilder[ProduceJobBuilder] {
    protected def requiredStores = p.requiredStores
    protected def counterNames = p.counterNames
    protected def execute(spark: SparkSession, counters: Counters): DataFrame =
      Lifecycle.runProducer(inputOrFail, p, counters)
  }

  /** Pivot job: cells for arbitrary entities of a (possibly different)
    * table (`KM/pivot/KijiPivotJobBuilder.java`). */
  final class PivotJobBuilder[K, V](p: Pivoter[K, V])(
      implicit enc: Encoder[Lifecycle.CellPut[K, V]])
      extends JobBuilder[PivotJobBuilder[K, V]] {
    protected def requiredStores = p.requiredStores
    protected def counterNames = p.counterNames
    protected def execute(spark: SparkSession, counters: Counters): DataFrame =
      Lifecycle.runPivoter(inputOrFail, p, counters).toDF()
  }

  /** Bulk-import job: records → cell puts
    * (`KM/bulkimport/KijiBulkImportJobBuilder.java`). */
  final class BulkImportJobBuilder[K, V](imp: BulkImporter[String, K, V])(
      implicit enc: Encoder[Lifecycle.CellPut[K, V]])
      extends JobBuilder[BulkImportJobBuilder[K, V]] {
    protected def requiredStores = imp.requiredStores
    protected def counterNames = imp.counterNames
    protected def execute(spark: SparkSession, counters: Counters): DataFrame = {
      import spark.implicits._
      Lifecycle.runBulkImporter(
        inputOrFail.select(col(inputOrFail.columns.head)).as[String],
        imp, counters).toDF()
    }
  }

  /** Bulk-load output step shared by table-writing jobs: range-partitioned
    * sorted staged write + atomic commit (HFile output + HFileLoader). */
  def bulkCommit(df: DataFrame, dest: String, numPartitions: Int = 32): Unit =
    BulkSink.bulkLoad(df, dest, numPartitions,
      Seq("entity_id"),
      Seq(col("entity_id"), col("family"), col("qualifier"), col("ts").desc))
}
