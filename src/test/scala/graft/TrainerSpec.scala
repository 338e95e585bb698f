package graft

import org.apache.spark.sql.functions._
import graft.fixtures.ErFixture
import graft.pipeline._
import graft.train.{Adagrad, Trainer}

/** T1: the Adagrad+L1 ranking trainer learns weights on the fixture that
  * match the hand-set default's cluster quality; the shared Adagrad step and
  * the trainer's broadcast gate behave as specified. */
class TrainerSpec extends SparkSuite {
  import ErFixture._

  test("trained weights reach F1 >= 0.99 on the fixture; loss decreases") {
    val g = generate(entities = 20, convs = 60, seed = 42L)
    val transcripts = transcriptsDF(spark, g).cache()
    val base = Pipeline.run(spark, transcripts, Pipeline.Config(mentionGenerator = "all"))
    val mentions = base.mentions.cache()
    val gold = mentions
      .join(goldDF(spark, g), Seq("conv_id", "turn_idx", "start", "end"))
      .select(col("mention_id"), col("entity_id").cast("string").as("entity_id")).cache()

    val labeled = Trainer.labeledPairs(Blocking.candidatePairs(mentions), mentions, gold)
    val sc = spark.sparkContext
    val pinsBefore = Pins.ids(sc)
    val (learned, trace) = Trainer.trainRanking(labeled, epochs = 40, eta = 2.0)
    assert((Pins.ids(sc) -- pinsBefore).isEmpty,
      "trainRanking must release every pin it takes")
    info(s"loss: first=${trace.head.loss} last=${trace.last.loss}")
    info(s"weights: ${Scoring.FeatureNames.zip(learned.values).mkString(", ")}")
    assert(trace.last.loss < trace.head.loss * 0.5, "loss must decrease substantially")

    // decode + cluster with the learned weights
    val res = Pipeline.run(spark, transcripts,
      Pipeline.Config(mentionGenerator = "all", weights = learned))
    val f1 = Eval.pairwiseF1(
      Blocking.candidatePairs(res.mentions).select("ant_id", "cur_id"), res.clusters, gold)
      .collect()(0)
    info(s"trained-weights pairwise F1: $f1")
    assert(f1.getAs[Double]("f1") >= 0.99, s"trained model must hit the F1 gate: $f1")
  }

  test("G4: loss-augmented ranking (customLoss-0.1-3-1) recall-dominates plain ranking") {
    val g = generate(entities = 20, convs = 60, seed = 7L)
    val transcripts = transcriptsDF(spark, g).cache()
    val base = Pipeline.run(spark, transcripts, Pipeline.Config(mentionGenerator = "all"))
    val mentions = base.mentions.cache()
    val gold = mentions
      .join(goldDF(spark, g), Seq("conv_id", "turn_idx", "start", "end"))
      .select(col("mention_id"), col("entity_id").cast("string").as("entity_id")).cache()

    val labeled = Trainer.labeledPairs(Blocking.candidatePairs(mentions), mentions, gold)
    // the margin objective starts ~6x higher than the plain likelihood, so
    // Adagrad's accumulated squares shrink its steps — it needs a longer
    // schedule to reach its optimum (underfit at 40x2 it is dominated;
    // at 120x4 it dominates plain on both P and R)
    val (aug, augTrace) = Trainer.trainRanking(labeled, epochs = 120, eta = 4.0,
      lossFn = Trainer.LossFn(0.1, 3.0, 1.0)) // the reference's customLoss-0.1-3-1
    val (plain, plainTrace) = Trainer.trainRanking(labeled, epochs = 40, eta = 2.0)
    info(s"augmented loss: first=${augTrace.head.loss} last=${augTrace.last.loss}")
    // the softmax-margin objective genuinely changes the optimum
    assert(!aug.values.sameElements(plain.values),
      "loss augmentation must alter the learned weights")
    assert(augTrace.last.loss < augTrace.head.loss * 0.7,
      "augmented loss must decrease")

    def prfOf(w: Scoring.Weights): (Double, Double, Double) = {
      val res = Pipeline.run(spark, transcripts,
        Pipeline.Config(mentionGenerator = "all", weights = w))
      val r = Eval.pairwiseF1(
        Blocking.candidatePairs(res.mentions).select("ant_id", "cur_id"),
        res.clusters, gold).collect()(0)
      (r.getAs[Double]("precision"), r.getAs[Double]("recall"), r.getAs[Double]("f1"))
    }
    val (pA, rA, fA) = prfOf(aug)
    val (pP, rP, fP) = prfOf(plain)
    info(f"loss-augmented P=$pA%.5f R=$rA%.5f F1=$fA%.5f; " +
      f"plain-ranking P=$pP%.5f R=$rP%.5f F1=$fP%.5f " +
      f"plain-loss last=${plainTrace.last.loss}%.4f")
    // customLoss-0.1-3-1 prices a missed link (falseNew=3) 30x a spurious
    // one (falseLink=0.1): the behavioral claim of the loss function is the
    // recall side of the precision/recall dial — assert exactly that, plus
    // an absolute quality floor (raw F1 can go either way on a fixture, as
    // in the reference where the trade-off is tuned per metric)
    assert(rA >= rP - 1e-9,
      s"recall-weighted loss must not lose recall vs plain ranking: $rA < $rP")
    assert(fA >= fP - 0.002,
      s"loss-augmented model must match plain ranking F1: $fA << $fP")
    assert(fA >= 0.975, s"loss-augmented model must hit the F1 gate: $fA")
  }

  // (w, sq, g) edge cases: zeros of both signs, negatives, magnitudes whose
  // squares overflow or underflow, and steps the L1 shrink clamps to 0
  private val adagradCases: Seq[(Double, Double, Double)] = Seq(
    (0.0, 0.0, 0.0), (-0.0, 0.0, 0.0), (0.0, 0.0, 1e-9), (-0.0, 3.0, -0.0),
    (1.5, 0.25, -0.75), (-2.0, 1.0, 0.5), (1e-4, 0.0, 1e-7),
    (-3e-4, 4.0, -1e-6), (1e300, 1e10, -1e154), (-7.0, 1e308, 1e200),
    (5e-324, 1e-320, -5e-324), (0.125, 16.0, 3.0))
  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("Adagrad: scalar and column forms are bit-equal") {
    import spark.implicits._
    // repartitioned, so the step runs as generated code over rows rather
    // than being folded into a local relation at optimization time
    val table = adagradCases.zipWithIndex
      .map { case ((w, sq, g), k) => (k, w, sq, g) }
      .toDF("k", "w", "sq", "g").repartition(2)
    // step sizes off the powers of two, so a reassociated product rounds
    // differently and shows
    for ((eta, lambda) <- Seq((1.0, 0.001), (0.3, 1e-6), (0.7, 0.0), (3.0, 10.0))) {
      val (wCol, sqCol) = Adagrad.columns(col("w"), col("sq"), col("g"), eta, lambda)
      val byCol = table.select(col("k"), wCol, sqCol).collect()
        .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      adagradCases.zipWithIndex.foreach { case ((w0, sq0, g), k) =>
        val w = Array(w0); val sq = Array(sq0)
        Adagrad.step(w, sq, 0, g, eta, lambda)
        val (wc, sqc) = byCol(k)
        assert(bits(wc) == bits(w(0)) && bits(sqc) == bits(sq(0)),
          s"case ($w0, $sq0, $g) at eta=$eta lambda=$lambda: " +
            s"column ($wc, $sqc) != scalar (${w(0)}, ${sq(0)})")
      }
    }
  }

  test("Adagrad: lambda = 0 is the plain Adagrad step bit for bit") {
    for (eta <- Seq(0.3, 0.5, 1.0, 3.0); (w0, sq0, g) <- adagradCases) {
      // the unregularized Adagrad step
      val sqPlain = sq0 + g * g
      val wPlain = w0 - eta * g / (1.0 + math.sqrt(sqPlain))
      val w = Array(w0); val sq = Array(sq0)
      Adagrad.step(w, sq, 0, g, eta, lambda = 0.0)
      assert(bits(w(0)) == bits(wPlain) && bits(sq(0)) == bits(sqPlain),
        s"case ($w0, $sq0, $g) at eta=$eta: ${w(0)} != $wPlain")
    }
  }

  test("broadcastWithin: an over-bound count withholds the broadcast hint") {
    // planner-driven broadcasts off, so only the gate's hint can broadcast
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val dict = spark.range(50).select(col("id").cast("string").as("f"), col("id").as("fid"))
        .localCheckpoint(true)
      val probe = spark.range(400).select((col("id") % 60).cast("string").as("f"))
      def joined(rows: Long) =
        probe.join(SparseFeatures.broadcastWithin(dict, rows), Seq("f"))
      val over = joined(SparseFeatures.BroadcastMaxFeatures + 1L)
      val overPlan = over.queryExecution.executedPlan.toString
      assert(!overPlan.contains("Broadcast"),
        s"an over-bound table must stay on the shuffle join plan:\n$overPlan")
      val under = joined(dict.count())
      assert(under.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        "a within-bound table must be broadcast")
      assert(over.count() == under.count() &&
          over.count() == (0 until 400).count(_ % 60 < 50),
        "both plans must join the same rows")
    } finally spark.conf.set(key, prev)
  }
}
