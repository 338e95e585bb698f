package graft.train

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.pipeline.Scoring

/** Model serde + compaction (S5; SURVEY.md §2.1).
  *
  * The reference persists a trained `PairwiseScorer` as a gzip Java-serialized
  * blob (`GUtil.scala:26-40`) and compacts it by dropping zero-weight features
  * and re-indexing (`PairwiseScorer.pack:37-47`, `GUtil.scala:463-482`). Here
  * the dense weights are a `(feature, index, weight)` table ([[weightsDF]],
  * compacted by [[pack]]), and the sparse lexicalized model is a *versioned
  * parquet table* committed through [[TableIO]] (atomic snapshot + lineage
  * manifest) — readable by any engine, no JVM serialization pinning; the
  * lineage token doubles as the model config record.
  */
object ModelIO {

  /** Dense weight table in [[Scoring.FeatureNames]] order. */
  def weightsDF(spark: SparkSession, w: Scoring.Weights): DataFrame = {
    import spark.implicits._
    Scoring.FeatureNames.zipWithIndex
      .map { case (f, i) => (f, i, w.values(i)) }
      .toDF("feature", "index", "weight")
  }

  /** `pack` (model compaction): drop zero weights, re-index densely in the
    * original feature order. The window is global but the table is
    * model-dimension-sized (tens of rows), never data-sized. */
  def pack(weights: DataFrame): DataFrame =
    weights.filter(col("weight") =!= 0.0)
      .withColumn("index",
        (row_number().over(Window.orderBy(col("index"))) - 1).cast("int"))

  /** A14 top-weights report (`CorefEvaluator` weight dumps /
    * `keepTopNKeys`): the k heaviest features by |weight|, deterministic
    * tie-break on the feature name. */
  def topWeights(weights: DataFrame, k: Int = 10): DataFrame =
    weights.orderBy(abs(col("weight")).desc, col("feature").asc).limit(k)

  // ---- sparse model persistence (S5 at the lexicalized model's scale) ----

  val SparseStage = "sparse_model"

  /** Sparse `pack` — the reference's `PairwiseScorer.pack`
    * (`PairwiseScorer.scala:37-47`, `GUtil.scala:463-482`) as a relational
    * plan: drop zero-weight features, re-index densely by feature string with
    * the scale-safe two-pass numbering (no global-order window — at 10^9
    * features the re-index must not funnel through one task).
    * Input `(f, w_i)`; output `(f, feature_id, w_i)`. */
  def packSparse(weights: DataFrame): DataFrame = {
    val nz = weights.filter(col("w_i") =!= 0L).select(col("f"), col("w_i"))
    nz.join(graft.pipeline.SparseFeatures.denseIdsByKey(
        nz.select(col("f")), "f", "feature_id"), "f")
      .select(col("f"), col("feature_id"), col("w_i"))
  }

  /** Convert a trained double-weight table `(f, w)` (e.g.
    * [[Trainer.trainSparseRankingDistributed]] output) to the integer-scaled
    * execution table `(f, w_i)`, `w_i = round(w · WeightScale)`. */
  def sparseWeightsFromTrained(trained: DataFrame): DataFrame =
    trained.select(col("f"),
      round(col("w") * graft.pipeline.SparseFeatures.WeightScale, 0)
        .cast("long").as("w_i"))

  /** Commit a packed sparse model snapshot through [[TableIO]] (atomic
    * snapshot + lineage manifest). Returns the snapshot id. */
  def saveSparse(io: TableIO, weights: DataFrame, configToken: String): Int =
    io.commit(SparseStage, packSparse(weights), configToken)

  /** Load a committed sparse model snapshot as the `(f, w_i)` weight table
    * and the snapshot-derived lineage tag (`<token>@<snap>`) of a
    * [[graft.pipeline.SparseModel]] — the tag is derived from the committed
    * snapshot rather than honor-system caller input. */
  def loadSparse(spark: SparkSession, io: TableIO, configToken: String,
      snap: Option[Int] = None): (DataFrame, String) = {
    val k = snap.orElse(io.latestSnapshot(SparseStage)).getOrElse(
      throw new IllegalStateException(
        s"no committed sparse model snapshot for lineage $configToken"))
    val df = io.readIfCurrent(spark, SparseStage, configToken, Some(k)).getOrElse(
      throw new IllegalStateException(
        s"sparse model snapshot $k does not carry lineage $configToken"))
    (df.select(col("f"), col("w_i")), s"$configToken@$k")
  }
}
