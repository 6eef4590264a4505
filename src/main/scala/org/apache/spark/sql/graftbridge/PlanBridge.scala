package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.NamedLambdaVariable
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.columnar.{CachedRDDBuilder, InMemoryRelation}

/** Structural defense against the concurrent plan-sharing hazard.
  *
  * A higher-order function's `NamedLambdaVariable` carries PER-EVALUATION
  * mutable state (an `AtomicReference` slot the enclosing
  * `HigherOrderFunction` writes before evaluating the lambda body). Two
  * plans that share the same variable INSTANCE are therefore safe only
  * when never evaluated at the same time: two concurrent driver-side
  * evaluations (optimizer constant-folding over local relations, or any
  * interpreted projection in the driver JVM) interleave their writes to
  * the shared slot and silently cross-wire rows — OBSERVED in round 16 as
  * swapped (n_id, c_id) pairs when two frames derived from one
  * `scaled`-bearing plan executed concurrently.
  *
  * [[isolateLambdas]] removes the sharing mechanically: it deep-remaps
  * every `NamedLambdaVariable` in a frame's analyzed plan to a FRESH
  * instance (fresh mutable slot), consistently by reference identity so a
  * lambda body still sees the same instance its argument list declares.
  * ExprIds are preserved — the copy canonicalizes identically, so cached
  * (persisted) frames still substitute their cache. [[sharedLambdaVars]]
  * is the matching assertion surface for tests.
  *
  * [[pendingCaches]] tells concurrent writers which of them would read a
  * cache another one is still filling (`ShardedCommit.rounds`).
  */
object PlanBridge {

  /** All NamedLambdaVariable instances in the frame's analyzed plan
    * (by reference, duplicates preserved). */
  def lambdaVarsOf(df: DataFrame): Seq[NamedLambdaVariable] = {
    val buf = scala.collection.mutable.ArrayBuffer[NamedLambdaVariable]()
    df.queryExecution.analyzed.foreach { node =>
      node.expressions.foreach(_.foreach {
        case v: NamedLambdaVariable => buf += v
        case _ =>
      })
    }
    buf.toSeq
  }

  /** The lambda-variable instances shared (by reference) between two or
    * more of the given frames — non-empty means the frames are unsafe to
    * evaluate concurrently. */
  def sharedLambdaVars(dfs: Seq[DataFrame]): Seq[NamedLambdaVariable] = {
    val perFrame = dfs.map(df =>
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[NamedLambdaVariable, java.lang.Boolean]())
    )
    dfs.zip(perFrame).foreach { case (df, set) =>
      lambdaVarsOf(df).foreach(set.add)
    }
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[NamedLambdaVariable, java.lang.Boolean]())
    val shared = scala.collection.mutable.ArrayBuffer[NamedLambdaVariable]()
    perFrame.foreach { set =>
      set.forEach { v =>
        if (!seen.add(v) && !shared.exists(_ eq v)) shared += v
      }
    }
    shared.toSeq
  }

  /** The frame re-wrapped over a deep copy of its analyzed plan in which
    * every NamedLambdaVariable is a fresh instance (fresh mutable slot),
    * remapped consistently by reference identity. The result shares NO
    * lambda-variable state with the input or with any other frame, so it
    * can be evaluated concurrently with anything. */
  def isolateLambdas(df: DataFrame): DataFrame = {
    val mapping =
      new java.util.IdentityHashMap[NamedLambdaVariable, NamedLambdaVariable]()
    val fresh = df.queryExecution.analyzed.transformAllExpressions {
      case v: NamedLambdaVariable =>
        Option(mapping.get(v)).getOrElse {
          val nv = NamedLambdaVariable(v.name, v.dataType, v.nullable, v.exprId)
          mapping.put(v, nv)
          nv
        }
    }
    Dataset.ofRows(df.sparkSession.asInstanceOf[SparkSession], fresh)
  }

  /** The caches the frame's plan reads that are not yet filled: the
    * builders of the persisted relations substituted into its plan whose
    * column buffers are not all materialized. Every relation substituted
    * for one persisted frame shares its builder, so callers compare the
    * results by reference. The substitution runs on a copy of the
    * analyzed plan, so the frame's own execution is left unplanned. */
  def pendingCaches(df: DataFrame): Seq[CachedRDDBuilder] =
    df.sparkSession.asInstanceOf[SparkSession].sharedState.cacheManager
      .useCachedData(df.queryExecution.analyzed.clone()).collect {
      case r: InMemoryRelation if !r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder
    }
}
