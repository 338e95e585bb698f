package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
import graft.harness.Queries

/** Plan-shape audits: the properties that make these queries survive a
  * 100x scale-up are asserted on the optimized plans themselves, not just
  * timed — no cartesian products in any execution-path query, and no
  * partitionless (one-task) window anywhere in the hot path. */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def optimized(df: DataFrame): LogicalPlan =
    df.queryExecution.optimizedPlan

  private def hasCartesian(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("CartesianProduct")

  /** Window operators whose partitionSpec is empty = global one-task sort. */
  private def partitionlessWindows(plan: LogicalPlan): Seq[LWindow] =
    plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }

  test("a13 bootstrap: no cross join, no partitionless window") {
    val df = Queries.a13Bootstrap(spark, sf)
    assert(!hasCartesian(df), "Poisson bootstrap must not cross-join")
    assert(partitionlessWindows(optimized(df)).isEmpty,
      "no global-order window (the old dense-index plan funneled one task)")
  }

  test("sparse scoring path: no cross join") {
    val df = Queries.p10SparseScores(spark, sf)
    assert(!hasCartesian(df))
  }

  test("fast sparse band scoring is a pure projection: no aggregate, no weight join") {
    import org.apache.spark.sql.functions.col
    // pin the inputs (mentions + F5 counts) so the asserted plan is the
    // SCORING stage alone, not the upstream extraction/count aggregates
    val m = graft.pipeline.Mentions.extractIdentifier(
      graft.sources.Transcripts.load(spark, sf)).localCheckpoint(true)
    val counts = graft.pipeline.SparseFeatures.normCounts(m).localCheckpoint(true)
    val pairsAttr = graft.pipeline.Blocking.convBandPairsAttr(m)
    val pairs = pairsAttr.select("ant_id", "cur_id", "block_key")
    val feats = graft.pipeline.SparseFeatures.featureStrings(pairsAttr, counts)
    val labels = pairsAttr.select(col("ant_id"), col("cur_id"),
      (col("head_key_a") === col("head_key_c")).cast("double").as("label"))
    val w = graft.pipeline.SparseFeatures.logOddsWeights(feats, labels)
    val wmap = graft.pipeline.SparseFeatures.collectWeights(w).get
    val fast = graft.pipeline.SparseFeatures.scorePairsSparseFast(pairs, m, counts, wmap)
    val plan = fast.queryExecution.executedPlan.toString
    // the join plan carries explode + HashAggregate x2 (partial+final) + the
    // weight join; the broadcast fast plan must have NONE of them — that IS
    // the optimization, asserted structurally so a regression can't hide
    // behind a warm benchmark
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      "fast sparse scoring must not aggregate")
    assert(!plan.contains("Generate"), "fast sparse scoring must not explode")
    assert(plan.contains("sparseweightsum") || plan.contains("SparseWeightSum"),
      s"fast plan must score via the SparseWeightSum expression")
    assert(!hasCartesian(fast))
    // and the expression must actually CODEGEN — a janino failure would
    // silently fall back to interpreted eval and erase the perf win
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      assert(fast.limit(5).collect().length > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("pipeline scored pairs: no cross join, windows all partitioned") {
    val r = Queries.pipeline(spark, sf)
    assert(!hasCartesian(r.scored))
    assert(partitionlessWindows(optimized(r.scored)).isEmpty)
    assert(!hasCartesian(r.clusters))
  }

  test("band leg over Pipeline.run's cached mentions: no join, no exchange") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val band = graft.pipeline.Blocking.convBandPairsAttr(Queries.pipeline(spark, sf).mentions)
    assert(optimized(band).collect { case j: Join => j }.isEmpty,
      "the conversation band is one sweep per conversation, never a join")
    // the cached relation is a leaf here: only exchanges the band leg itself
    // plans would show, and the mentions are already spread by conv_id
    val physical = new AdaptiveSparkPlanHelper {}.collect(band.queryExecution.executedPlan) {
      case j: BaseJoinExec => j.nodeName
      case e: Exchange => e.nodeName
    }
    assert(physical.isEmpty, s"band leg plans a join or an exchange: $physical")
    assert(band.count() > 0)
  }
}
