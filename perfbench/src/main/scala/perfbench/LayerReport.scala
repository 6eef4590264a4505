package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced run. Spark events are attributed to
  * the op whose wall-clock window holds their start; filesystem counts
  * come from the per-op [[Io]] deltas; layer self time from the spans.
  * Workload-wide values are per timed op; `kind.<op>.<metric>` repeats
  * them per op kind. */
object LayerReport {

  final case class OpLayers(analysisMs: Long, optimizationMs: Long,
                            planningMs: Long, actions: Int, jobs: Int,
                            stages: Int, tasks: Int, jobBusyMs: Long,
                            runMs: Long, cpuNs: Long, waitMs: Long,
                            shuffleWrite: Long, shuffleRead: Long,
                            spill: Long, recordsRead: Long,
                            recordsWritten: Long, emptyTasks: Int)

  def perOp(p: SparkProbe, o: OpRecord): OpLayers = {
    def in(t: Long) = t >= o.startMs && t <= o.endMs
    val plans = p.plans.asScala.filter(e => in(e.startMs)).toSeq
    val jobs = p.jobs.values.asScala.filter(j => in(j.submitMs)).toSeq
    val stages = p.stages.asScala.filter(s => in(s.submitMs)).toSeq
    val tasks = p.tasks.asScala.filter(t => in(t.launchMs)).toSeq
    val busy = Stats.unionLength(jobs.map { j =>
      val end = if (j.endMs < 0) o.endMs else math.min(j.endMs, o.endMs)
      (j.submitMs, end)
    })
    OpLayers(plans.map(_.analysisMs).sum, plans.map(_.optimizationMs).sum,
      plans.map(_.planningMs).sum, plans.length, jobs.length,
      stages.length, stages.map(_.tasks).sum, busy,
      tasks.map(_.runMs).sum, tasks.map(_.cpuNs).sum, tasks.map(_.waitMs).sum,
      tasks.map(_.shuffleWrite).sum, tasks.map(_.shuffleRead).sum,
      tasks.map(_.spill).sum, tasks.map(_.recordsRead).sum,
      tasks.map(_.recordsWritten).sum,
      tasks.count(t => t.recordsRead == 0 && t.shuffleRecordsWritten == 0 &&
        t.recordsWritten == 0))
  }

  def apply(p: SparkProbe, ops: Seq[OpRecord], spans: Seq[Span], cores: Int,
            gcS: Double, heapPeakMb: Double): Seq[(String, (Double, String))] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val per = ops.map(o => o -> perOp(p, o))
    val self = Spans.selfTimes(spans)

    def block(prefix: String, group: Seq[(OpRecord, OpLayers)]): Unit = {
      val n = group.length.toDouble
      if (n == 0) return
      val l = group.map(_._2)
      val wallMs = group.map(_._1.seconds * 1000).sum
      val io = group.map(_._1.io).foldLeft(Io.Zero)(_ + _)
      def put(k: String, v: Double, unit: String): Unit = out(prefix + k) = (v, unit)
      put("catalyst.analysis_s", l.map(_.analysisMs).sum / 1e3 / n, "s/op")
      put("catalyst.optimization_s", l.map(_.optimizationMs).sum / 1e3 / n, "s/op")
      put("catalyst.planning_s", l.map(_.planningMs).sum / 1e3 / n, "s/op")
      put("catalyst.actions", l.map(_.actions).sum / n, "1/op")
      put("scheduler.jobs", l.map(_.jobs).sum / n, "1/op")
      put("scheduler.stages", l.map(_.stages).sum / n, "1/op")
      put("scheduler.tasks", l.map(_.tasks).sum / n, "1/op")
      put("scheduler.job_busy_s", l.map(_.jobBusyMs).sum / 1e3 / n, "s/op")
      put("scheduler.driver_gap_s", (wallMs - l.map(_.jobBusyMs).sum) / 1e3 / n, "s/op")
      put("scheduler.task_wait_s", l.map(_.waitMs).sum / 1e3 / n, "s/op")
      put("executor.run_s", l.map(_.runMs).sum / 1e3 / n, "s/op")
      put("executor.cpu_s", l.map(_.cpuNs).sum / 1e9 / n, "s/op")
      put("executor.core_util", l.map(_.runMs).sum / (wallMs * cores), "ratio")
      put("executor.shuffle_write_bytes", l.map(_.shuffleWrite).sum / n, "bytes/op")
      put("executor.shuffle_read_bytes", l.map(_.shuffleRead).sum / n, "bytes/op")
      put("executor.spill_bytes", l.map(_.spill).sum / n, "bytes/op")
      put("executor.records_read", l.map(_.recordsRead).sum / n, "1/op")
      put("executor.records_written", l.map(_.recordsWritten).sum / n, "1/op")
      val tasks = l.map(_.tasks).sum
      if (tasks > 0) put("executor.empty_task_ratio", l.map(_.emptyTasks).sum.toDouble / tasks, "ratio")
      put("fs.create", io.create / n, "1/op")
      put("fs.rename", io.rename / n, "1/op")
      put("fs.delete", io.delete / n, "1/op")
      put("fs.list", io.list / n, "1/op")
      put("fs.mkdirs", io.mkdirs / n, "1/op")
      put("fs.status", io.status / n, "1/op")
      put("fs.bytes_written", io.bytesWritten / n, "bytes/op")
      put("fs.bytes_read", io.bytesRead / n, "bytes/op")
      val ids = group.map(_._1.id).toSet
      spans.filter(s => ids(s.op)).groupBy(_.layer).toSeq.sortBy(_._1).foreach {
        case (layer, ss) => put(s"self.${layer}_s", ss.map(s => self(s.id)).sum / 1e9 / n, "s/op")
      }
    }

    block("", per)
    out("jvm.gc_s") = (gcS / math.max(1, ops.length), "s/op")
    out("jvm.heap_peak_mb") = (heapPeakMb, "MB")
    val writes = ops.filter(_.cls == OpClass.Write)
    if (writes.nonEmpty)
      out("sinks.meta_ops_per_write") =
        (writes.map(_.io.metaOps).sum.toDouble / writes.length, "1/op")

    // the named per-op-kind latencies and call spans
    def meanOps(kind: String) = ops.filter(_.kind == kind).map(_.seconds)
    def meanSpans(names: String*) = spans.filter(s => names.contains(s.name))
      .map(_.durationNs / 1e9)
    Seq("table.bulk_load_s" -> meanOps("bulk_load"),
      "table.append_s" -> meanOps("append"),
      "table.compact_feed_s" -> meanOps("compact_feed"),
      "table.major_compact_s" -> meanOps("major_compact"),
      "table.read_build_s" -> meanSpans("table.mostRecent", "table.read",
        "table.readAsOfOrdinal"),
      "table.read_exec_s" -> meanSpans("exec.noop"),
      "index.update_s" -> meanOps("index_update"),
      "index.remove_s" -> meanOps("index_remove"),
      "index.serve_s" -> meanOps("index_serve"),
      "index.compact_s" -> meanOps("index_compact"),
      "jobs.gather_s" -> meanSpans("jobs.gather"),
      "kvstore.lookup_join_s" -> meanSpans("kvstore.lookupJoin"),
      "jobs.bulk_import_s" -> meanSpans("jobs.bulkImport"),
      "sources.read_s" -> meanSpans("sources.read"))
      .foreach { case (k, xs) => if (xs.nonEmpty) out(k) = (xs.sum / xs.length, "s") }
    val updates = ops.filter(_.kind == "index_update")
    if (updates.nonEmpty)
      out("index.bytes_written_per_delta_byte") = (updates.map(_.io.bytesWritten).sum.toDouble /
        updates.map(_.userBytes).sum, "ratio")

    per.groupBy(_._1.kind).toSeq.sortBy(_._1).foreach { case (kind, g) =>
      block(s"kind.$kind.", g)
    }
    out.toSeq
  }
}
