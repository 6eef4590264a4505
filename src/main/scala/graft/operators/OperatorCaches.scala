package graft.operators

import org.apache.spark.sql.DataFrame

/** Caller-managed release for intermediates an operator persists.
  *
  * LSH-style operators persist a mid-pipeline frame (signatures, bucketed
  * vectors) because the self-join references it twice and Spark recomputes
  * unpersisted subtrees per reference. The operator cannot unpersist it
  * itself — its result DataFrame is lazy, and the cache must live until the
  * caller's consuming action finishes. Registering here lets a long-lived
  * JVM that runs many queries (Verify, Bench, a notebook) drop all operator
  * caches between queries instead of accumulating executor storage.
  */
object OperatorCaches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val rdds = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** Track a frame the caller should release after its consuming action. */
  def register(df: DataFrame): DataFrame = synchronized { frames += df; df }

  /** Track an RDD-level persist backing a returned frame (iterative
    * operators rebase their state on persisted row RDDs — those never
    * appear in the SQL cache manager). */
  def registerRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    synchronized { rdds += rdd }

  /** Unpersist (non-blocking) everything registered and forget it. */
  def releaseAll(): Unit = releaseFrom(0, 0)

  /** Run `body`, then release what it registered however it ends — for
    * a call whose result reads none of its caches (an index verb that
    * commits and returns), so a long-lived session does not keep them.
    * Two scoped calls running at once in one session may release each
    * other's caches early: that costs a recomputation, never a result. */
  def scoped[A](body: => A): A = {
    val (f, r) = synchronized((frames.size, rdds.size))
    try body finally releaseFrom(f, r)
  }

  private def releaseFrom(f: Int, r: Int): Unit = synchronized {
    frames.drop(f).foreach(_.unpersist(false))
    frames.dropRightInPlace(frames.size - f)
    rdds.drop(r).foreach(_.unpersist(false))
    rdds.dropRightInPlace(rdds.size - r)
  }
}
