package graft.plans

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.queries.{DedupQueries, LexicalQueries, TextQueries, VectorQueries}

/** Plan-REGRESSION guards: freeze the audited physical shapes of the
  * scale-critical queries so a dropped broadcast() hint, an accidental
  * cartesian, or a window gone global fails a spec instead of surfacing
  * as a silent 100× at scale. Assertions run against the pre-AQE
  * physical plan (`sparkPlan`) — that is where an explicit broadcast
  * hint shows up deterministically; AQE can only improve on it. */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** sf0.001 — plan SHAPE is scale-invariant, so the smallest corpus
    * builds the identical operator tree fastest. */
  private val D = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan
  private def planString(df: DataFrame): String = planOf(df).toString

  /** Build a plan with automatic broadcasting DISABLED, so a broadcast
    * join in the result can only come from an explicit broadcast() hint.
    * At sf0.001 Spark's size estimates would otherwise auto-broadcast
    * everything and mask a dropped hint — the exact regression these
    * specs guard (at 100 TB nothing auto-broadcasts). */
  private def withoutAutoBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("q89 ADC search: distance tables stay broadcast — no shuffled join") {
    val p = withoutAutoBroadcast { planString(VectorQueries.q89_pq_search(spark, D)) }
    // the codes-side aggregation shuffles (partial agg), but every JOIN
    // (query lanes x codebooks, codes x distance tables) must be the
    // broadcast form: a shuffle join here re-exchanges the corpus per
    // query batch — the regression this spec exists to catch.
    assert(!p.contains("SortMergeJoin"), s"shuffled join in q89 plan:\n$p")
    assert(!p.contains("ShuffledHashJoin"), s"shuffled join in q89 plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q89 plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q89 plan:\n$p")
  }

  test("q22/q71 pair mining: banded equi-joins, never a cartesian product") {
    for ((name, df) <- Seq(
        "q22" -> DedupQueries.q22_minhash_dedup(spark, D),
        "q71" -> DedupQueries.q71_fuzzy_join(spark, D),
        "q107" -> LexicalQueries.q107_sparse_cosine_join(spark, D))) {
      val p = planString(df)
      assert(!p.contains("CartesianProduct"), s"cartesian in $name plan:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join in $name plan:\n$p")
    }
  }

  test("q82 budget select: data windows banded; global window only above aggregates") {
    val plan = planOf(TextQueries.q82_budget_select(spark, D))
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"no window in q82 plan:\n$plan")
    val (global, banded) = windows.partition(_.partitionSpec.isEmpty)
    // the running-total window over DATA ROWS partitions by __band
    assert(banded.exists(_.partitionSpec.exists(_.toString.contains("__band"))),
      s"no __band-partitioned window in q82 plan:\n$plan")
    // any unpartitioned window must run above an aggregate (the per-band
    // totals — a bands-sized frame), never directly over corpus rows
    global.foreach { w =>
      val overAgg = w.child.collectFirst { case a: BaseAggregateExec => a }
      assert(overAgg.nonEmpty,
        s"global window over non-aggregated rows in q82 plan:\n$plan")
    }
  }

  test("q94 IVF x PQ: probes and distance tables broadcast; index join co-partitioned") {
    val p = withoutAutoBroadcast { planString(VectorQueries.q94_ivfpq_search(spark, D)) }
    assert(!p.contains("CartesianProduct"), s"cartesian in q94 plan:\n$p")
    // candidates x codes co-partition on n_id (a shuffle join is the
    // DESIGNED shape there), but probes and distance tables must stay
    // broadcast — at least two broadcast joins in the plan.
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected >=2 broadcast joins in q94 plan:\n$p")
  }

  test("q100 BM25: query terms broadcast into the posting join; top-k window per query") {
    val df = LexicalQueries.q100_bm25(spark, D)
    val p = withoutAutoBroadcast { planString(df) }
    assert(!p.contains("CartesianProduct"), s"cartesian in q100 plan:\n$p")
    // the hinted qterms (and stats) broadcasts must survive: a shuffled
    // qterms join re-exchanges the full posting list per query batch
    assert(p.contains("BroadcastHashJoin"),
      s"no broadcast join in q100 plan:\n$p")
    // the only window is the per-query top-k — never a global window
    val windows = planOf(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"global window in q100 plan:\n$p")
  }

  test("q102 SemDeDup: pair mining is a cluster equi-join, never all-pairs") {
    val p = planString(VectorQueries.q102_semdedup(spark, D))
    assert(!p.contains("CartesianProduct"), s"cartesian in q102 plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in q102 plan:\n$p")
  }

  test("q108 prefix-filtered join: every join is an equi-join on term/doc keys") {
    // the probe (full tf x partial index) and the verification joins must
    // all be hash equi-joins — a cartesian or nested-loop here is the
    // all-pairs scan the prefix filter exists to prevent. Windows stay
    // per-document (the df-order ranking), never global.
    val df = LexicalQueries.q108_sparse_prefix_join(spark, D)
    val p = planString(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in q108 plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in q108 plan:\n$p")
    val windows = planOf(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"global window in q108 plan:\n$p")
    graft.operators.OperatorCaches.releaseAll()
  }

  test("q109 curation pipeline: no cartesian anywhere; selection windows banded") {
    // five composed stages — the guard is that composition introduced no
    // all-pairs surface and the budget/packing prefix sums kept their
    // banded two-level shape (any unpartitioned window sits above an
    // aggregate, the bands-sized frame).
    val df = graft.queries.CurationQueries.q109_curation_pipeline(spark, D)
    val plan = planOf(df)
    val p = plan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian in q109 plan:\n$p")
    val windows = plan.collect { case w: WindowExec => w }
    val global = windows.filter(_.partitionSpec.isEmpty)
    global.foreach { w =>
      val overAgg = w.child.collectFirst { case a: BaseAggregateExec => a }
      assert(overAgg.nonEmpty,
        s"global window over non-aggregated rows in q109 plan:\n$p")
    }
    graft.operators.OperatorCaches.releaseAll()
  }

  test("q115 KMV: bottom-k is a partial WindowGroupLimit; no global window") {
    val df = graft.queries.SketchQueries.q115_kmv_overlap(spark, D)
    val plan = planOf(df)
    val p = plan.toString
    // the map-side cut: each task keeps its own k smallest BEFORE the
    // shuffle — without it the per-group window sorts the full distinct
    // set on one executor
    assert(p.contains("WindowGroupLimit"),
      s"no WindowGroupLimit in q115 plan:\n$p")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in q115 plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q115 plan:\n$p")
    graft.operators.OperatorCaches.releaseAll()
  }

  test("q116 span mask: pure agg/equi-join pipeline — no window, no cartesian") {
    val p = planString(DedupQueries.q116_span_dedup(spark, D))
    // the per-doc rebuild sorts WITHIN the collected row (array_sort),
    // never via a window over corpus rows
    assert(!p.contains("WindowExec") && !p.contains(" Window "),
      s"window in q116 plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q116 plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in q116 plan:\n$p")
  }

  test("q124/q126/q128: every window partitioned (sketch buckets / as-of keys)") {
    for ((name, df) <- Seq(
        "q124" -> graft.queries.RelationalQueries.q124_mad_outliers(spark, D),
        "q126" -> graft.queries.TemporalQueries.q126_resample_ffill(spark, D),
        "q128" -> graft.queries.TextQueries.q128_quality_percentile(spark, D))) {
      val plan = planOf(df)
      val p = plan.toString
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"no window in $name plan:\n$p")
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"unpartitioned window in $name plan:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian in $name plan:\n$p")
      graft.operators.OperatorCaches.releaseAll()
    }
  }

  test("q117 transitions: session windows co-partitioned; totals broadcast") {
    val df = withoutAutoBroadcast {
      graft.queries.TemporalQueries.q117_markov_transitions(spark, D)
    }
    val plan = withoutAutoBroadcast { planOf(df) }
    val p = plan.toString
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in q117 plan:\n$p")
    // the per-from totals join the transition counts via the explicit
    // broadcast() hint (a |states|-sized frame)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q117:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"shuffled join in q117 plan:\n$p")
  }

  /** The executed plans of the data writes `body` runs — the final
    * adaptive plans, which the `AdaptiveSparkPlanHelper` traversals
    * search through their query stages. */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec])
            .isDefined) plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  test("majorCompact stages each locality group's file set through one range exchange, the version window above it and no aggregate or generate (grouped, bucketed, grouped-bucketed)") {
    val fixtures = graft.table.TableFixtures.all(spark, tmpDir("compactplan"))
      .filter(_.name != "flat")
    for (fx <- fixtures) {
      val staged = writePlans(fx.table.majorCompact(numPartitions = 2))
        .filter(p => find(p)(_.isInstanceOf[WindowExec]).isDefined)
      val groups = fx.layout.localityGroups.size
      assert(staged.size == groups,
        s"${fx.name}: ${staged.size} staging writes with a window, want $groups:\n" +
          staged.mkString("\n"))
      staged.foreach { p =>
        val exchanges = collect(p) { case e: ShuffleExchangeExec => e }
        assert(exchanges.size == 1 &&
          exchanges.head.outputPartitioning.isInstanceOf[RangePartitioning],
          s"${fx.name}: want exactly the range exchange:\n$p")
        assert(collect(p) { case a: BaseAggregateExec => a }.isEmpty,
          s"${fx.name}: aggregate in the staging:\n$p")
        assert(collect(p) { case g: GenerateExec => g }.isEmpty,
          s"${fx.name}: generate in the staging:\n$p")
        val windows = collect(p) { case w: WindowExec => w }
        assert(windows.size == 1 &&
          find(windows.head)(_.isInstanceOf[ShuffleExchangeExec]).isDefined,
          s"${fx.name}: the window must sit above the range exchange:\n$p")
        assert(collect(p) { case s: SortExec => s }.size == 1,
          s"${fx.name}: the window's sort must be the staging's only sort:\n$p")
      }
    }
  }
}
