package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A sparse lexicalized model (P1/A6/P8 at full strength): the weight table
  * `(f, w_i)` (integer-scaled; [[graft.train.ModelIO.sparseWeightsFromTrained]]
  * converts a trained `(f, w)` table) and a caller-supplied stable `tag`
  * identifying it in the resume-lineage token (a DataFrame can't be hashed
  * into it). */
case class SparseModel(weights: DataFrame, tag: String)

/** The pairwise model behind every scoring leg — the reference's
  * `PairwiseScorer` (a featurizer plus a weight vector,
  * `PairwiseScorer.scala:11-47`). Built once per run by [[Scorer.apply]];
  * [[Pipeline.arcs]] assembles the mention arcs from its legs. */
sealed trait Scorer {

  /** Surface-pair scores `(norm_a, norm_b, block_key, …, score)`: one score
    * per distinct blocked surface pair. */
  def surface(surfacePairs: DataFrame, surfaces: DataFrame): DataFrame

  /** Band arcs `(ant_id, cur_id, block_key, score)` over the band sweep's
    * attribute-carrying pairs ([[Blocking.convBandPairsAttr]] output). */
  def band(bandAttr: DataFrame): DataFrame

  /** Per-surface self scores `(norm, block_key, score)` — the score every
    * same-surface chain edge carries. */
  def self(surfaces: DataFrame): DataFrame

  /** Keep in-band bridge and chain edges. The dense "band scores them
    * strictly higher" argument doesn't survive trained conjunction weights,
    * so the sparse model keeps them and the decode argmax picks
    * `greatest(band, surface)` per pair ([[Blocking.bridgePairs]],
    * [[Blocking.sameSurfaceChainPairs]]). */
  def keepInBand: Boolean
}

object Scorer {

  /** The run's scorer: dense without a sparse model; with one, sparse-fast
    * when the model has at most `maxFeatures` entries (collected ONCE and
    * scored by in-projection lookup in all three legs), sparse-join
    * otherwise (the weight-join plans). Scores are bit-identical either way
    * (SparseSpec). */
  def apply(cfg: Pipeline.Config, mentions: DataFrame,
      maxFeatures: Int = SparseFeatures.BroadcastMaxFeatures): Scorer =
    cfg.sparse match {
      case None => new Dense(cfg.weights)
      case Some(m) => new Sparse(m.weights, mentions, maxFeatures)
    }

  private final class Dense(w: Scoring.Weights) extends Scorer {
    def surface(surfacePairs: DataFrame, surfaces: DataFrame): DataFrame =
      Scoring.scoreSurfacePairs(surfacePairs, surfaces, w)
    def band(bandAttr: DataFrame): DataFrame =
      Scoring.scorePairsAttr(bandAttr, w)
        .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"))
    def self(surfaces: DataFrame): DataFrame = Scoring.selfScores(surfaces, w)
    def keepInBand: Boolean = false
  }

  private final class Sparse(weights: DataFrame, mentions: DataFrame, maxFeatures: Int)
      extends Scorer {
    // F5 backoff counts — one cheap aggregation over the run's mentions
    private lazy val counts = SparseFeatures.normCounts(mentions)
    // collected on the first leg a stage actually computes: a run that
    // resumes every scoring stage never touches the model
    private lazy val collected = SparseFeatures.collectWeights(weights, maxFeatures)

    def surface(surfacePairs: DataFrame, surfaces: DataFrame): DataFrame =
      collected match {
        case Some(m) =>
          SparseFeatures.scoreSurfacePairsSparseFast(surfacePairs, surfaces, counts, m)
        case None =>
          SparseFeatures.scoreSurfacePairsSparse(surfacePairs, surfaces, counts, weights)
      }
    def band(bandAttr: DataFrame): DataFrame =
      (collected match {
        case Some(m) => SparseFeatures.scoreAttachedSparseFast(bandAttr, counts, m)
        case None => SparseFeatures.scoreWithWeights(
          SparseFeatures.featureStrings(bandAttr, counts), weights, Seq("ant_id", "cur_id"))
      }).select(col("ant_id"), col("cur_id"), lit("conv").as("block_key"), col("score"))
    def self(surfaces: DataFrame): DataFrame = collected match {
      case Some(m) => SparseFeatures.selfScoresSparseFast(surfaces, counts, m)
      case None => SparseFeatures.selfScoresSparse(surfaces, counts, weights)
    }
    def keepInBand: Boolean = true
  }
}
