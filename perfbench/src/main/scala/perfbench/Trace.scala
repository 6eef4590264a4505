package perfbench

import scala.collection.mutable.ArrayBuffer

/** Operation classes the end-to-end metrics are split by. */
object OpClass {
  val Write = "write"
  val Read = "read"
  val Fold = "fold"
}

/** One timed client operation of the closed loop.
  *
  * @param rows      user rows the op committed (writes) or materialized
  *                  (reads); filled in after the loop for reads whose
  *                  row count comes from the reference
  * @param userBytes bytes of user input the op ingested (writes)
  */
final case class OpRecord(id: Int, kind: String, cls: String, round: Int,
                          startNs: Long, endNs: Long, startMs: Long,
                          endMs: Long, var rows: Long, userBytes: Long,
                          ok: Boolean, io: Io) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A traced call: `parent` is the enclosing span (-1 for an op's root
  * span), `op` the id of the op every span of one operation shares. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durationNs: Long = endNs - startNs
}

object Spans {
  /** Self time per span id: its duration minus the part of its interval
    * that its direct children cover (children clipped to the parent,
    * overlapping children counted once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = Stats.unionLength(children.getOrElse(s.id, Nil).map { c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))
      })
      s.id -> (s.durationNs - covered)
    }.toMap
  }
}

/** The closed loop's bookkeeping: timed ops always, spans only in the
  * traced run. Everything stays in memory until the run ends. Single
  * client thread, so no synchronization. */
final class Recorder(val traced: Boolean) {
  val ops = ArrayBuffer.empty[OpRecord]
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var currentOp = -1
  private var nextSpan = 0
  var round = 0

  /** Runs one timed op. `body` returns the user rows it handled. A
    * failing op is recorded as failed and its exception rethrown. */
  def op(kind: String, cls: String, userBytes: Long = 0L)(body: => Long): OpRecord = {
    val id = ops.length
    currentOp = id
    val io0 = Io.snapshot()
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def record(ok: Boolean, rows: Long): OpRecord = {
      val t1 = System.nanoTime()
      val t1ms = System.currentTimeMillis()
      val rec = OpRecord(id, kind, cls, round, t0, t1, t0ms, t1ms, rows,
        userBytes, ok, Io.snapshot() - io0)
      ops += rec
      rec
    }
    val rows =
      try span(s"op.$kind")(body)
      catch {
        case e: Throwable =>
          record(ok = false, 0L)
          currentOp = -1
          throw e
      }
    val rec = record(ok = true, rows)
    currentOp = -1
    rec
  }

  /** Times a call into one of the engine's layers; in the untraced run
    * this is a plain call. Names are `<layer>.<call>`. */
  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, currentOp, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}
