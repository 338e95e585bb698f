package graft.train

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.{Scoring, SparseFeatures}

/** Antecedent-ranking trainers (T1, SURVEY.md §2.11).
  *
  * The reference trains a feature-rich linear model with per-coordinate
  * Adagrad and lazy L1 proximal updates ([[Adagrad]]) against a per-mention
  * softmax(-margin) ranking objective ([[rankingResiduals]]). Both trainers
  * here share those two pieces and differ only in the feature space:
  * [[trainRanking]] over the fixed dense vector of [[Scoring.FeatureNames]]
  * (the gradient is one Spark aggregation, one tiny row to the driver,
  * weights re-enter the next plan as literals), and
  * [[trainSparseRankingDistributed]] over the exploded string features of
  * [[graft.pipeline.SparseFeatures]] (the model stays a DataFrame). Batch =
  * full dataset per epoch: at 10^12 rows the aggregate amortizes the
  * shuffle the reference's batch-of-1 never could.
  */
object Trainer {

  case class Epoch(epoch: Int, loss: Double, weights: Array[Double])

  /** G4 loss-augmented (softmax-margin) ranking costs — the reference's
    * `customLoss-0.1-3-1` (`coref/PairwiseLossFunctions.scala:138-151`,
    * defaults `Driver.java:176-179`): during training each arc's score is
    * augmented by its decode-error cost, pushing the margin AWAY from
    * high-cost mistakes.
    *  - `falseLink`: gold-non-anaphoric mention, arc links to any antecedent;
    *  - `falseNew`: gold-anaphoric mention, the implicit new-entity arc;
    *  - `wrongLink`: gold-anaphoric mention, arc links to a non-gold
    *    antecedent.
    * Gold arcs always carry zero cost, so the gold-marginal numerator is
    * unchanged — only the partition function sees the augmentation. */
  case class LossFn(falseLink: Double, falseNew: Double, wrongLink: Double)
  object LossFn {
    /** No augmentation: plain gold-marginal softmax likelihood. */
    val Zero: LossFn = LossFn(0.0, 0.0, 0.0)
  }

  /** The ranking objective's per-arc terms (`DocumentInferencerBasic.
    * addUnregularizedStochasticGradient` `:24-50`): per mention (`cur_id`
    * window), a softmax over its candidate arcs plus an implicit zero-score
    * "start new entity" arc, each non-gold arc's `score` shifted by its
    * `lossFn` cost (G4, `MentionRankingDocumentComputer.scala:12-209`).
    * `scored` carries `cur_id` and the gold `label` (1.0 = gold arc); the
    * result adds, among intermediates, `resid = p − p̃` (the arc's gradient
    * weight, `p̃` renormalized over GOLD arcs — gold-marginal likelihood,
    * A3) and `l`, the arc's share of its mention's loss (the shares of one
    * mention sum to its loss). */
  def rankingResiduals(scored: DataFrame, score: Column, lossFn: LossFn): DataFrame = {
    val wCur = org.apache.spark.sql.expressions.Window.partitionBy(col("cur_id"))
    scored
      // anaphoric = mention has >=1 gold antecedent among its candidates
      .withColumn("anaph", max(col("label")).over(wCur) > 0.5)
      // arc cost: 0 on gold arcs; wrongLink/falseLink otherwise
      .withColumn("lcost", when(col("label") === 1.0, 0.0)
        .otherwise(when(col("anaph"), lossFn.wrongLink).otherwise(lossFn.falseLink)))
      // implicit new-entity arc: raw score 0 + falseNew cost when anaphoric
      .withColumn("lnew", when(col("anaph"), lossFn.falseNew).otherwise(0.0))
      .withColumn("s", score + col("lcost"))
      .withColumn("mx", greatest(max(col("s")).over(wCur), col("lnew")))
      .withColumn("e", exp(col("s") - col("mx")))
      .withColumn("z", sum(col("e")).over(wCur) + exp(col("lnew") - col("mx")))
      .withColumn("p", col("e") / col("z"))
      // gold arcs have zero cost, so their augmented e equals the raw e —
      // p̃ is the plain gold-renormalized distribution
      .withColumn("ge", when(col("label") === 1.0, col("e")).otherwise(0.0))
      .withColumn("gz", sum(col("ge")).over(wCur))
      .withColumn("ptilde", when(col("gz") > 0, col("ge") / col("gz")).otherwise(0.0))
      .withColumn("resid", col("p") - col("ptilde"))
      // per-mention loss: -log(gold mass/z) for anaphoric mentions,
      // -log(new-entity mass/z) otherwise (the non-anaphoric gold arc IS
      // the new arc, whose cost is 0 by definition — hence exp(-mx), not
      // exp(lnew-mx)). The loss is group-constant, so spreading it as
      // value/count over the group's rows sums to exactly one copy —
      // no ordered window (a per-group sort the aggregation doesn't need)
      .withColumn("l",
        when(col("gz") > 0, -log(col("gz") / col("z")))
          .otherwise(-log(exp(-col("mx")) / col("z"))) /
          count(lit(1)).over(wCur))
  }

  /** Dense antecedent-ranking trainer: [[rankingResiduals]] over the linear
    * score `w·x` of the dense feature vector; the gradient is
    * `Σ (p(ant) − p̃(ant))·x(ant)`. Unlike independent-pair logistic loss
    * this learns the *ranking* decode actually uses (e.g. dist_decay as the
    * nearest-antecedent tie-breaker). One shuffle by `cur_id` + one
    * aggregation per epoch.
    */
  def trainRanking(labeled: DataFrame, epochs: Int = 40, eta: Double = 1.0,
      lambda: Double = 0.001, init: Option[Array[Double]] = None,
      lossFn: LossFn = LossFn.Zero): (Scoring.Weights, Seq[Epoch]) = {
    val feats = Scoring.featureVector
    val dim = feats.size
    val w = init.getOrElse(Array.fill(dim)(0.0)).clone()
    val sqGrad = Array.fill(dim)(0.0)
    val trace = scala.collection.mutable.ArrayBuffer.empty[Epoch]

    // the result is driver-held weights and a trace, so the input pin is
    // released on return and on failure
    graft.Pins.scoped(labeled.sparkSession.sparkContext) {
      val cached = labeled.localCheckpoint(true)
      val nCur = cached.select(col("cur_id")).distinct().count().toDouble

      for (ep <- 0 until epochs) {
        val linear = feats.zipWithIndex.map { case ((_, c), i) => c * w(i) }.reduce(_ + _)
        val withP = rankingResiduals(cached, linear, lossFn)
        val aggs = feats.map { case (name, c) => sum(col("resid") * c).as(s"g_$name") } :+
          sum(col("l")).as("loss")
        val row = withP.agg(aggs.head, aggs.tail: _*).collect()(0)
        val grad = (0 until dim).map(i => row.getDouble(i) / nCur).toArray
        val loss = row.getDouble(dim) / nCur
        Adagrad.update(w, sqGrad, grad, eta, lambda)
        trace += Epoch(ep, loss, w.clone())
      }
    }
    (Scoring.Weights(w), trace.toSeq)
  }

  /** Sparse-feature antecedent-ranking trainer (P1/A6/P8 at full strength):
    * the same objective and update rule as [[trainRanking]], over the
    * EXPLODED string-feature space of [[graft.pipeline.SparseFeatures]]
    * instead of the dense vector, at 10^9-feature scale: the model (weight +
    * Adagrad accumulator per feature) lives in a DataFrame for the whole run;
    * NOTHING per-feature ever reaches the driver (only the scalar epoch
    * loss). The exploded feature table is pre-aggregated ONCE to pair
    * granularity (`groupBy(pair).collect_list(f)` + the label join) — the
    * pin then carries each pair's ids and label once instead of once per
    * feature row (~3× fewer pinned bytes), and every epoch's pair-keyed work
    * (windows, gradient attach) runs at PAIR cardinality, not
    * feature-occurrence cardinality. Per epoch:
    *
    *  1. pair scores: `explode(fs) ⋈ weights` (LEFT) + `groupBy(pair).sum`
    *     — the model side is explicitly broadcast while it fits
    *     ([[graft.pipeline.SparseFeatures.BroadcastMaxFeatures]], the
    *     engine-wide cutoff; beyond it the hint is withheld and the join
    *     degrades to the shuffle plan, the 10^9-feature design). The explode
    *     output is clustered by pair (one array per pair), so partial
    *     aggregation collapses the re-group to one row per pair before the
    *     exchange — the shuffle carries pair rows, never feature rows;
    *  2. the per-mention softmax(-margin) residual windows
    *     ([[rankingResiduals]]; label already on the row — no per-epoch
    *     label join);
    *  3. per-feature gradient: residuals joined back at PAIR granularity
    *     (pair ⋈ pair, both sides ~|pairs|), features exploded under the
    *     join, `groupBy(f).sum(resid)` with map-side combine, joined FULL
    *     OUTER onto the model, [[Adagrad.columns]] applied, result pinned
    *     (localCheckpoint) as the next epoch's model.
    *
    * Distributed partial aggregation fixes no float-sum association, so two
    * runs agree to rounding, not bit for bit: trained quality gates are the
    * equivalence check. Returns the final `(f, w)` weight table and the
    * per-epoch loss trace. */
  def trainSparseRankingDistributed(feats: DataFrame, labeled: DataFrame,
      epochs: Int = 30, eta: Double = 0.5, lambda: Double = 1e-6,
      lossFn: LossFn = LossFn.Zero,
      epochSecondsOut: Option[scala.collection.mutable.ArrayBuffer[Double]] = None)
      : (DataFrame, Seq[(Int, Double)]) = {
    val spark = feats.sparkSession
    val sc = spark.sparkContext
    // epoch-checkpoint hygiene (round-4 advice): each epoch pins a new withP
    // and model via localCheckpoint; without explicit release, executor
    // storage grows linearly with epochs. The per-epoch pins are identified
    // by diffing the persistent-RDD set around each localCheckpoint (the
    // trainer owns the session while it runs), the intermediate released as
    // soon as the next pin materializes, and the previous model released
    // once the new one is pinned.
    // releases are BLOCKING: each epoch pins a fresh ~pair-count-sized table
    // and back-to-back trainer invocations re-pin the full feature table, so
    // a lazy (async) unpersist lets dead blocks overlap live ones — at the
    // sf0.1 bench scale that overlap OOMed an 8g driver heap. The blocking
    // free is once per epoch, noise-level next to the epoch's joins.
    //
    // ONE pair-granularity pin: features collected per pair (multiplicity
    // preserved — a feature firing twice still contributes its weight twice)
    // with the gold label attached. The exploded input's rows are clustered
    // by pair (explode fan-out), so the partial collect_list collapses to
    // one row per pair per map task before the exchange. The (expensive)
    // featurize chain is evaluated exactly once — everything below derives
    // from this pin.
    val lab = labeled.select(col("ant_id"), col("cur_id"), col("label")).localCheckpoint(true)
    val preStr = graft.Pins.ids(sc)
    val fAggS = feats.select(col("ant_id"), col("cur_id"), col("f"))
      .groupBy(col("ant_id"), col("cur_id"))
      .agg(collect_list(col("f")).as("fs"))
      .join(lab, Seq("ant_id", "cur_id"))
      .localCheckpoint(true)
    val strPins = graft.Pins.ids(sc) -- preStr
    // Feature strings → dense long ids (the A6 Indexer move, exact — no
    // hashing): every per-epoch probe, the gradient exchange and the model
    // join then carry 8-byte ids instead of ~20–40-byte strings (measured
    // ~2× on the steady epoch). Both the dict distinct and the id
    // conversion read the PIN — the featurize chain is never re-evaluated.
    // (A single-row broadcast map + per-element `element_at` was tried and
    // abandoned: Spark's MapData lookup is a linear scan, O(|features|)
    // per probe — the hash-join probe below is constant-time.) The dict is
    // broadcast while it fits the engine-wide cutoff, like the model side
    // below, and joined back once at the end to restore the public `(f, w)`
    // face.
    //
    // The indexing is an INVESTMENT amortized over epochs (its build costs
    // roughly two steady epochs): single-epoch calls skip it and train on
    // the string arrays directly — same plans, string keys.
    val useIds = epochs > 1
    val (fAgg, dictOpt): (DataFrame, Option[DataFrame]) =
      if (!useIds) (fAggS, None)
      else {
        val dict = SparseFeatures
          .denseIdsByKey(fAggS.select(explode(col("fs")).as("f")), "f", "fid")
          .localCheckpoint(true)
        val idized = fAggS
          .select(col("ant_id"), col("cur_id"), col("label"), explode(col("fs")).as("f"))
          .join(SparseFeatures.broadcastWithin(dict, dict.count()), Seq("f"))
          .groupBy(col("ant_id"), col("cur_id"))
          .agg(collect_list(col("fid")).as("fs"), max(col("label")).as("label"))
          .localCheckpoint(true)
        graft.Pins.release(sc, strPins) // the string-array pin is superseded by the id pin
        (idized, Some(dict))
      }
    // model/gradient key column: dense long id when indexed, the feature
    // string otherwise
    val kCol = if (useIds) "fid" else "f"
    val kType: org.apache.spark.sql.types.DataType =
      if (useIds) org.apache.spark.sql.types.LongType
      else org.apache.spark.sql.types.StringType
    val nCur = lab.select(col("cur_id")).distinct().count().toDouble
    // model table: (key, w, sq) — starts empty; features enter on first
    // nonzero grad
    var model = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(kCol, kType),
        org.apache.spark.sql.types.StructField("w", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("sq", org.apache.spark.sql.types.DoubleType))))
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var prevModelIds: Set[Int] = Set.empty
    // model cardinality (updated from the pinned model each epoch — one
    // metadata-cheap job) gates the explicit broadcast of the weight side
    // (SparseFeatures.broadcastWithin):
    // a checkpointed model has no size statistics, so without the hint the
    // planner shuffles the full feature-occurrence table by `f` before AQE
    // can see the model is tiny. Over-cutoff models withhold the hint and
    // keep the shuffle plan — the 10^9-feature path.
    var nModel = 0L
    for (ep <- 0 until epochs) {
      val epT0 = System.nanoTime()
      val beforeWithP = graft.Pins.ids(sc)
      val scored = fAgg
        .select(col("ant_id"), col("cur_id"), col("label"), explode(col("fs")).as(kCol))
        .join(SparseFeatures.broadcastWithin(model.select(col(kCol), col("w")), nModel),
          Seq(kCol), "left")
        .groupBy(col("ant_id"), col("cur_id"))
        .agg(sum(coalesce(col("w"), lit(0.0))).as("s0"), max(col("label")).as("label"))
      val withP = rankingResiduals(scored, col("s0"), lossFn).localCheckpoint(true)
      val loss = withP.agg(sum(col("l"))).collect()(0).getDouble(0) / nCur
      // gradient attach at PAIR granularity: |pairs| ⋈ |pairs|, features
      // exploded under the join — the old shape re-joined the full
      // feature-occurrence table by pair every epoch
      val grads = withP.select(col("ant_id"), col("cur_id"), col("resid"))
        .join(fAgg.select(col("ant_id"), col("cur_id"), col("fs")),
          Seq("ant_id", "cur_id"))
        .select(col("resid"), explode(col("fs")).as(kCol))
        .groupBy(col(kCol)).agg((sum(col("resid")) / nCur).as("g"))
      val (wNext, sqNext) = Adagrad.columns(col("w"), col("sq"), col("g"), eta, lambda)
      val withPIds = graft.Pins.ids(sc) -- beforeWithP
      model = model.join(grads, Seq(kCol), "full_outer")
        .select(col(kCol), wNext.as("w"), sqNext.as("sq"))
        // dead-feature pruning (round-4 advice: the full_outer join otherwise
        // keeps every feature ever seen forever): drop rows whose weight is
        // L1-clamped to 0 AND whose squared-gradient history is below λ² —
        // a single gradient that small can never overcome the proximal
        // shrink, and a dropped feature re-enters cleanly (fresh accumulator)
        // the moment real evidence appears. Features with w = 0 but real
        // history keep their Adagrad state.
        .filter(!(col("w") === 0.0 && col("sq") < lit(lambda * lambda)))
        .localCheckpoint(true)
      // this epoch's intermediate and LAST epoch's model are now dead
      graft.Pins.release(sc, withPIds ++ prevModelIds)
      prevModelIds = graft.Pins.ids(sc) -- beforeWithP -- withPIds
      nModel = model.count()
      trace += ((ep, loss))
      // per-epoch wall seconds for callers that meter training cost (the
      // bench's steady-epoch surface). The one-time featurize+pin of the
      // feature table happens eagerly BEFORE the loop, so these are pure
      // epoch costs; epoch 0 still pays first-use JIT/shuffle warmup.
      epochSecondsOut.foreach(_ += (System.nanoTime() - epT0) / 1e9)
    }
    // restore the public string face: one dictionary join at model size
    val out = dictOpt match {
      case Some(dict) => model.join(dict, Seq("fid")).select(col("f"), col("w"))
      case None => model.select(col("f"), col("w"))
    }
    (out, trace.toSeq)
  }

  /** U2 fold assignment: deterministic conversation-hash fold.
    * `impl = "xxhash64"` is the engine fast path; `"md5"` is the portable
    * face (identical in Spark and DuckDB — same md5-nibble formula as the
    * skew salts), used by the oracle-checked `u2_folds` query. */
  def foldOf(conv: Column, k: Int, impl: String = "xxhash64"): Column = impl match {
    case "md5" => pmod(call_function("instr", lit("0123456789abcdef"),
      substring(md5(conv.cast("binary")), 1, 1)) - 1, lit(k)).cast("int")
    case _ => pmod(xxhash64(conv), lit(k)).cast("int")
  }

  /** Assemble labeled training pairs from a pipeline run + gold labels. */
  def labeledPairs(pairs: DataFrame, mentions: DataFrame, gold: DataFrame): DataFrame = {
    val feat = Scoring.featurize(Scoring.attachAttrs(pairs, mentions))
    feat
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .withColumn("label", (col("e_a") === col("e_c")).cast("double"))
  }
}
