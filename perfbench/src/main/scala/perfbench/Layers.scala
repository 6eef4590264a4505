package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path,
  RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local `file://` filesystem with metadata-operation counters. The
  * traced run installs it through the session's Hadoop conf
  * (`fs.file.impl`): Hadoop's own statistics count bytes on the local
  * filesystem but not these operations. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable) = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short,
                                  blockSize: Long, progress: Progressable) = {
    creates.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  // the located listing bypasses listStatus(Path) on a checksummed
  // filesystem; the iterator listing goes through it
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet()
    super.listLocatedStatus(f)
  }

  override def mkdirs(f: Path): Boolean = {
    mkdirCalls.incrementAndGet()
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mkdirCalls.incrementAndGet()
    super.mkdirs(f, permission)
  }

  override def getFileStatus(f: Path): FileStatus = {
    statuses.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingLocalFileSystem {
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val lists = new AtomicLong
  val mkdirCalls = new AtomicLong
  val statuses = new AtomicLong
}

/** Filesystem activity between two points of the run. Byte counts come
  * from Hadoop's statistics for the raw local filesystem (always on);
  * operation counts from [[CountingLocalFileSystem]] (traced run only). */
final case class Io(bytesWritten: Long, bytesRead: Long, create: Long,
                    rename: Long, delete: Long, list: Long, mkdirs: Long,
                    status: Long) {
  def -(o: Io): Io = Io(bytesWritten - o.bytesWritten, bytesRead - o.bytesRead,
    create - o.create, rename - o.rename, delete - o.delete, list - o.list,
    mkdirs - o.mkdirs, status - o.status)
  def +(o: Io): Io = Io(bytesWritten + o.bytesWritten, bytesRead + o.bytesRead,
    create + o.create, rename + o.rename, delete + o.delete, list + o.list,
    mkdirs + o.mkdirs, status + o.status)
  def metaOps: Long = create + rename + delete + mkdirs
}

object Io {
  val Zero: Io = Io(0, 0, 0, 0, 0, 0, 0, 0)

  @annotation.nowarn("cat=deprecation")
  def snapshot(): Io = {
    val st = org.apache.hadoop.fs.FileSystem.getStatistics("file",
      classOf[RawLocalFileSystem])
    import CountingLocalFileSystem._
    Io(st.getBytesWritten, st.getBytesRead, creates.get, renames.get,
      deletes.get, lists.get, mkdirCalls.get, statuses.get)
  }
}

/** Spark scheduler and Catalyst events, kept in memory and attributed to
  * ops afterwards by time (one client thread, so ops never overlap). */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()
  val stages = new ConcurrentLinkedQueue[StageEv]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val plans = new ConcurrentLinkedQueue[PlanEv]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobEv(e.jobId, e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stages.add(StageEv(t, e.stageInfo.numTasks)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val i = e.taskInfo
        val duration = i.finishTime - i.launchTime
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        // the Spark UI's scheduler delay
        val wait = math.max(0L, duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        tasks.add(TaskEv(i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime, wait, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten,
          m.shuffleWriteMetrics.recordsWritten))
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      plans.add(PlanEv(start, ms("analysis"), ms("optimization"),
        ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Blocks until every posted event has reached the listeners. */
  def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(spark.sparkContext)
}

object SparkProbe {
  final case class JobEv(id: Int, submitMs: Long, var endMs: Long = -1L)
  final case class StageEv(submitMs: Long, tasks: Int)
  final case class TaskEv(launchMs: Long, finishMs: Long, runMs: Long,
                          cpuNs: Long, waitMs: Long, shuffleWrite: Long,
                          shuffleRead: Long, spill: Long, recordsRead: Long,
                          recordsWritten: Long, shuffleRecordsWritten: Long)
  final case class PlanEv(startMs: Long, analysisMs: Long,
                          optimizationMs: Long, planningMs: Long)
}

/** JVM-wide counters: collector time and heap pool peaks. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum

  /** Process high-water resident set (VmHWM), in bytes. */
  def peakRssBytes: Long = {
    val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toLong * 1024L).getOrElse(-1L)
  }
}
