package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableIO

/** End-to-end record-linkage pipeline (north rule):
  * transcripts → mentions → blocking → pairwise scoring → antecedent decode →
  * transitive clustering. Each stage optionally commits a snapshot through
  * [[TableIO]] (lineage token = upstream stage snapshot + config hash), so a
  * re-run resumes from the last committed stage instead of recomputing
  * (`OrderedClustering`-equivalent final output; SURVEY.md §3.1 for the
  * reference's lifecycle this mirrors).
  */
object Pipeline {

  case class Config(
      blocking: Blocking.Config = Blocking.Config(),
      weights: Scoring.Weights = Scoring.DefaultWeights,
      linkThreshold: Double = 0.0,
      mentionGenerator: String = "all", // "identifier" | "all"
      checkpointDir: Option[String] = None,
      /** The sparse lexicalized model scoring ALL THREE legs — band pairs
        * with the full conjunction axes, bridges/chains via surface-pure
        * bare templates scored once per surface pair. `None` = the dense
        * 16-feature codegen'd vector ([[weights]]). */
      sparse: Option[SparseModel] = None,
      /** Caller-supplied stable identity of the INPUT data (source path /
        * table + snapshot id), folded into [[token]]: two runs over
        * different inputs against the same `checkpointDir` must not share
        * snapshots, or the second silently returns the first's clusters.
        * Empty ("") keeps the config-only token — only safe when the caller
        * dedicates a checkpoint dir per input (the test-suite convention). */
      inputTag: String = "") {
    /** Deterministic config token for lineage. */
    def token: String = {
      val model = sparse.fold("dense|")(m => s"sparse|${m.tag}")
      val s = s"$blocking|${weights.values.mkString(",")}|$linkThreshold|" +
        s"$mentionGenerator|$model|$inputTag"
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL)
    }
  }

  case class Result(
      mentions: DataFrame,
      surfacePairs: DataFrame,
      surfaceScores: DataFrame,
      scored: DataFrame,
      backptrs: DataFrame,
      clusters: DataFrame,
      surfaces: DataFrame) {
    /** Release the pipeline's internal caches (mentions, surfaces and
      * backptrs). Call once the outputs you need are materialized or
      * persisted elsewhere — otherwise back-to-back `run`s in a long-lived
      * session accumulate cacheManager entries (CacheSpec pins this). */
    def unpersist(): Unit = {
      mentions.unpersist(); surfaces.unpersist(); backptrs.unpersist()
    }
  }

  def run(spark: SparkSession, transcripts: DataFrame, cfg: Config = Config()): Result = {
    graft.functions.register(spark)
    val io = cfg.checkpointDir.map(new TableIO(_))

    def stage(name: String, lineage: String)(compute: => DataFrame): DataFrame =
      io match {
        case Some(t) => t.readOrCommit(spark, name, lineage)(compute)
        case None => compute
      }

    val tok = cfg.token
    // explicit repartition (north rule): file scans often arrive with too few
    // partitions; hash-spread conversations across the cluster before the
    // narrow mention-extraction stage so every downstream broadcast-join leg
    // inherits real parallelism.
    val par = spark.sparkContext.defaultParallelism
    val spread = transcripts.repartition(par, col("conv_id"))
    // Pinned tables, each derived once per run:
    //  - mentions and surfaces fan out into many downstream legs (5
    //    block-key families + stats + scoring attach), so each leg would
    //    re-derive the whole extraction chain. Both are built by ONE action
    //    here, before surfacePairs plans against them: left lazy, AQE plans
    //    each of the self-join's cache scans (12) as a query stage of its
    //    own, and every one starts its own materialization job.
    //  - backptrs is read by clustering's bounded fetch and again by the
    //    caller's commit; lazy, each read re-runs scoring + decode.
    // Result.unpersist() releases all three.
    val mentions = stage("mentions", tok) {
      if (cfg.mentionGenerator == "identifier") Mentions.extractIdentifier(spread)
      else Mentions.extractAll(spread)
    }.cache()
    val surfaces = Blocking.surfaceTable(mentions).cache()
    surfaces.count()
    val scorer = Scorer(cfg, mentions)
    val surfacePairs = stage("surface_pairs", tok)(
      Blocking.surfacePairs(surfaces, cfg.blocking))
    val surfaceScores = stage("surface_scores", tok)(scorer.surface(surfacePairs, surfaces))
    val scored = stage("scores", tok)(arcs(mentions, surfaces, surfaceScores, scorer, cfg))
    val backptrs = stage("backptrs", tok)(Decode.backpointers(scored, cfg.linkThreshold))
      .cache()
    val clusters = stage("clusters", tok) {
      val ccCheckpoint: (Int, DataFrame) => DataFrame = io match {
        // one stage per iteration, PROBED before computing: a re-run that
        // crashed mid-loop reuses every committed iteration (the loop is
        // deterministic in backptrs + config, both in the lineage) instead
        // of recomputing all of them and appending duplicate snapshots.
        // `-str` tags the label format (String mention ids): iterations
        // committed with the retired Long-encoded labels read as stale
        case Some(t) => (i, df) => t.readOrCommit(spark, s"cc-iter-$i", s"$tok-iter$i-str")(df)
        case None => (_, df) => df.localCheckpoint(true)
      }
      Clustering.cluster(spark, mentions, backptrs, ccCheckpoint)
    }
    Result(mentions, surfacePairs, surfaceScores, scored, backptrs, clusters, surfaces)
  }

  /** Mention-level scored arcs `(ant_id, cur_id, block_key, score)`, three
    * legs (all linear in mentions + linked surface pairs — no quadratic
    * expansion anywhere):
    *  - conversation band with full conversational features;
    *  - ONE bridge edge per *linked* surface pair (coarse-to-fine:
    *    sub-threshold surface pairs never materialize at mention
    *    granularity; a single bridge yields the same connected components
    *    as the full clique because every clique edge would carry the
    *    identical surface-level score);
    *  - same-surface chains (spanning tree per repeated surface, bucketed
    *    for heavy surfaces) carrying the surface self-score.
    * `surfaceScores` is `scorer.surface` over the run's surface pairs. */
  def arcs(mentions: DataFrame, surfaces: DataFrame, surfaceScores: DataFrame,
      scorer: Scorer, cfg: Config): DataFrame = {
    // the band leg carries both mentions' attrs out of the one sweep per
    // conversation (convBandPairsAttr): no join, and no exchange over the
    // mentions, which are already spread by conv_id
    val band = scorer.band(Blocking.convBandPairsAttr(mentions, cfg.blocking))
    val linked = surfaceScores.filter(col("score") > cfg.linkThreshold)
      .select(col("norm_a"), col("norm_b"), col("block_key"), col("score"))
    val bridge = Blocking.bridgePairs(linked, mentions, cfg.blocking,
      extraCols = Seq("score"), keepInBand = scorer.keepInBand)
    // surfaces (cached) already carries n_mentions — share it instead of
    // re-aggregating the counts inside the chain leg
    val chains = Blocking.sameSurfaceChainPairs(mentions, cfg.blocking, Some(surfaces),
        keepInBand = scorer.keepInBand)
      .join(scorer.self(surfaces).hint("shuffle_hash"), "norm")
      .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"))
    band.unionByName(bridge).unionByName(chains)
  }
}
