package graft

import org.apache.spark.sql.functions._
import graft.fixtures.ErFixture
import graft.pipeline._

/** P1/A6/F5/P8/P9 sparse lexicalized path: dictionary density/determinism and
  * the fixture quality gate (sparse log-odds model >= dense default model). */
class SparseSpec extends SparkSuite {
  import ErFixture._

  private lazy val fix = {
    val g = generate(entities = 20, convs = 60, seed = 42L)
    val transcripts = transcriptsDF(spark, g).cache()
    val base = Pipeline.run(spark, transcripts, Pipeline.Config(mentionGenerator = "all"))
    val mentions = base.mentions.cache()
    val gold = mentions
      .join(goldDF(spark, g), Seq("conv_id", "turn_idx", "start", "end"))
      .select(col("mention_id"), col("entity_id").cast("string").as("entity_id")).cache()
    (transcripts, mentions, gold)
  }

  test("A6: dictionary ids are dense, unique, and in feature sort order") {
    val (_, mentions, _) = fix
    val pairsAttr = Scoring.attachAttrs(
      Blocking.candidatePairs(mentions), mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).cache()
    val dict = SparseFeatures.dictionary(feats).cache()
    val n = dict.count()
    assert(dict.select("feature_id").distinct().count() == n, "ids must be unique")
    val mm = dict.agg(min("feature_id"), max("feature_id")).collect()(0)
    assert(mm.getLong(0) == 0L && mm.getLong(1) == n - 1, s"ids must be dense 0..${n - 1}")
    // two-pass numbering == global ORDER BY f numbering (small-data check
    // against the one-task window it replaces at scale)
    val ref = feats.select("f").distinct()
      .withColumn("ref_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("f"))).cast("long") - 1)
    assert(dict.join(ref, "f").filter(col("feature_id") =!= col("ref_id")).count() == 0,
      "two-pass ids must equal sort-order ids")
  }

  test("P9 sparse: trained sparse model >= trained dense model F1 on the fixture") {
    val (transcripts, mentions, gold) = fix
    val universe = Blocking.candidatePairs(mentions).cache()
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
      .localCheckpoint(true)
    def f1Of(clusters: org.apache.spark.sql.DataFrame): Double =
      Eval.pairwiseF1(universe.select("ant_id", "cur_id"), clusters, gold)
        .collect()(0).getAs[Double]("f1")

    // closed-form log-odds weights (the oracle-checked harness estimator)
    val nbScored = SparseFeatures.scoreSparse(feats,
      SparseFeatures.logOddsWeights(feats, labels))
    val f1Nb = f1Of(Clustering.cluster(spark, mentions,
      Decode.backpointers(nbScored, 0.0)))

    // Adagrad sparse ranking (the reference's training regime over its
    // lexicalized space) vs the SAME objective on the dense 16-vector —
    // isolates the feature-space comparison (the hand-set default weights
    // are a fixture-tuned artifact, not a trained model)
    val (sw, sTrace) = graft.train.Trainer.trainSparseRankingDistributed(
      feats, labels, epochs = 30, eta = 1.0)
    assert(sTrace.last._2 < sTrace.head._2 * 0.5, "sparse training loss must decrease")
    val sScored = SparseFeatures.scoreWithWeights(feats,
      graft.train.ModelIO.sparseWeightsFromTrained(sw), Seq("ant_id", "cur_id"))
    val f1Sparse = f1Of(Clustering.cluster(spark, mentions,
      Decode.backpointers(sScored, 0.0)))

    val labeled = graft.train.Trainer.labeledPairs(universe, mentions, gold)
    val (dw, _) = graft.train.Trainer.trainRanking(labeled, epochs = 40, eta = 2.0)
    val dense = Pipeline.run(spark, transcripts,
      Pipeline.Config(mentionGenerator = "all", weights = dw))
    val f1Dense = f1Of(dense.clusters)

    info(s"sparse trained F1=$f1Sparse  sparse log-odds F1=$f1Nb  dense trained F1=$f1Dense")
    assert(f1Sparse >= f1Dense - 1e-9,
      s"sparse lexicalized model must reach the trained dense model: $f1Sparse < $f1Dense")
    assert(f1Sparse >= 0.99, s"sparse model must hit the F1 gate: $f1Sparse")
    assert(f1Nb >= 0.99, s"log-odds estimator must hit the F1 gate: $f1Nb")
  }

  test("distributed sparse trainer (model never leaves the cluster) hits the same F1 gate") {
    val (_, mentions, gold) = fix
    val universe = Blocking.candidatePairs(mentions).cache()
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
      .localCheckpoint(true)
    val (wdf, trace) = graft.train.Trainer.trainSparseRankingDistributed(
      feats, labels, epochs = 20, eta = 1.0)
    assert(trace.last._2 < trace.head._2 * 0.5, "distributed training loss must decrease")
    val wTab = wdf.select(col("f"),
      round(col("w") * SparseFeatures.WeightScale, 0).cast("long").as("w_i"))
    val scored = SparseFeatures.scoreWithWeights(feats, wTab, Seq("ant_id", "cur_id"))
    val f1 = Eval.pairwiseF1(universe.select("ant_id", "cur_id"),
      Clustering.cluster(spark, mentions, Decode.backpointers(scored, 0.0)), gold)
      .collect()(0).getAs[Double]("f1")
    info(s"distributed sparse F1=$f1")
    assert(f1 >= 0.99, s"distributed sparse trainer must hit the F1 gate: $f1")
  }

  /** Shared assembly for the chain/band-guard tests: the sparse pipeline's
    * three legs built by hand with the in-band chain edges EXCLUDED, and the
    * set of excluded edges + per-surface self scores so callers can model
    * the verdict's alternative guard (`greatest(band, self)`).
    * `bridgeKeepInBand` mirrors the pipeline's sparse-mode bridge guard
    * (default); the chain-bites test passes `false` to isolate chain
    * connectivity from the bridge guard. */
  private def sparseLegs(mentions: org.apache.spark.sql.DataFrame,
      w: org.apache.spark.sql.DataFrame, bridgeKeepInBand: Boolean = true) = {
    val cfgB = Blocking.Config()
    val counts = SparseFeatures.normCounts(mentions)
    val surfaces = Blocking.surfaceTable(mentions).cache()
    val sScored = SparseFeatures.scoreSurfacePairsSparse(
      Blocking.surfacePairs(surfaces, cfgB), surfaces, counts, w)
    val bridge = Blocking.bridgePairs(
      sScored.filter(col("score") > 0.0)
        .select(col("norm_a"), col("norm_b"), col("block_key"), col("score")),
      mentions, cfgB, extraCols = Seq("score"), keepInBand = bridgeKeepInBand)
      .select(col("ant_id"), col("cur_id"), col("score"))
    val band = SparseFeatures.scorePairsSparse(
      Blocking.convBandPairsAttr(mentions, cfgB).select("ant_id", "cur_id", "block_key"),
      mentions, counts, w)
      .select(col("ant_id"), col("cur_id"), col("score"))
    val selfSc = SparseFeatures.selfScoresSparse(surfaces, counts, w)
      .select(col("norm"), col("score").as("self_score"))
    val chainsOut = Blocking.sameSurfaceChainPairs(mentions, cfgB, Some(surfaces))
    val chainsAll = Blocking.sameSurfaceChainPairs(mentions, cfgB, Some(surfaces),
      keepInBand = true)
    val dropped = chainsAll.join(
      chainsOut.select(col("ant_id"), col("cur_id")), Seq("ant_id", "cur_id"), "left_anti")
    (band, bridge, chainsOut.join(selfSc, "norm")
      .select(col("ant_id"), col("cur_id"), col("self_score").as("score")),
      dropped.join(selfSc, "norm")
        .select(col("ant_id"), col("cur_id"), col("self_score")),
      surfaces)
  }

  test("sparse chain/band guard: keep-in-band edges decode EXACTLY as greatest(band, self)") {
    // Verdict r4 'what's wrong #2': the dense 'band dominates chain' argument
    // fails under trained conjunction weights. The guard keeps the in-band
    // chain edge (surface self-score) alongside the band arc; decode's
    // per-cur argmax then sees greatest(band, self) for the pair — prove the
    // equivalence exactly against a hand-boosted arc set, with FRESHLY
    // trained weights (not the cached fixture table).
    val (transcripts, mentions, gold) = fix
    val universe = Blocking.candidatePairs(mentions).cache()
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
    val w = SparseFeatures.logOddsWeights(feats, labels).cache()

    val guarded = Pipeline.run(spark, transcripts, Pipeline.Config(
      mentionGenerator = "all", sparse = Some(SparseModel(w, "guard-spec")))).backptrs
    val (band, bridge, chainsOut, dropped, surfaces) = sparseLegs(mentions, w)
    val boosted = band.join(dropped, Seq("ant_id", "cur_id"), "left")
      .select(col("ant_id"), col("cur_id"),
        greatest(col("score"), coalesce(col("self_score"), lit(Double.MinValue))).as("score"))
    val ref = Decode.backpointers(
      boosted.unionByName(bridge).unionByName(chainsOut), 0.0)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cur_id"), col("ant_id"), round(col("score"), 9).as("s"))
    assert(keyed(guarded).except(keyed(ref)).count() == 0 &&
      keyed(ref).except(keyed(guarded)).count() == 0,
      "guarded sparse decode must equal the greatest(band, self) reference decode")
    assert(dropped.count() > 0, "fixture must actually exercise in-band chain edges")

    // the same model forced over the collect bound: the shared arc assembly
    // on the weight-join plans must reproduce the fast path's arcs and the
    // pipeline's backpointers EXACTLY (integer-exact sums — no round())
    val cfgS = Pipeline.Config(mentionGenerator = "all",
      sparse = Some(SparseModel(w, "guard-spec")))
    val sPairs = Blocking.surfacePairs(surfaces, cfgS.blocking).cache()
    def arcsWith(scorer: Scorer) =
      Pipeline.arcs(mentions, surfaces, scorer.surface(sPairs, surfaces), scorer, cfgS)
    val arcsFast = arcsWith(Scorer(cfgS, mentions))
    val arcsJoin = arcsWith(Scorer(cfgS, mentions, maxFeatures = 0))
    def fastPlan(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.toLowerCase.contains("sparseweightsum")
    assert(fastPlan(arcsFast) && !fastPlan(arcsJoin),
      "maxFeatures = 0 must force every leg onto the weight-join plans")
    def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
      a.exceptAll(b).count() + b.exceptAll(a).count()
    assert(diff(arcsJoin, arcsFast) == 0, "forced-join arcs must equal the fast path's")
    assert(diff(Decode.backpointers(arcsJoin, 0.0), guarded) == 0,
      "forced-join backpointers must equal the pipeline's fast-path backpointers")
    surfaces.unpersist(); sPairs.unpersist()
  }

  test("sparse chain/band guard bites: adversarial negative conjunction weights break the unguarded chain") {
    val (_, mentions, gold) = fix
    val universe = Blocking.candidatePairs(mentions).cache()
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
    // adversarial model: every band conjunction feature dragged hugely
    // negative — exactly the regime the dense dominance argument assumed away
    val wAdv = SparseFeatures.logOddsWeights(feats, labels)
      .select(col("f"),
        when(col("f").contains("&t=") || col("f").contains("&tt="),
          col("w_i") - lit(20L * SparseFeatures.WeightScale))
          .otherwise(col("w_i")).as("w_i")).cache()
    val (band, bridge, chainsOut, dropped, surfaces) =
      sparseLegs(mentions, wAdv, bridgeKeepInBand = false)
    val chainsAllArcs = dropped.select(col("ant_id"), col("cur_id"),
      col("self_score").as("score")).unionByName(chainsOut)
    val unguarded = Decode.backpointers(
      band.unionByName(bridge).unionByName(chainsOut), 0.0)
    val guarded = Decode.backpointers(
      band.unionByName(bridge).unionByName(chainsAllArcs), 0.0)
    val curs = dropped.filter(col("self_score") > 0.0)
      .select(col("cur_id")).distinct()
    val lostCurs = curs.join(unguarded, Seq("cur_id"), "left_anti").count()
    val lostGuarded = curs.join(guarded, Seq("cur_id"), "left_anti").count()
    info(s"in-band chain curs=${curs.count()} unlinked unguarded=$lostCurs guarded=$lostGuarded")
    assert(lostGuarded == 0,
      "guarded decode must link every in-band chain successor with a positive self-score")
    assert(lostCurs > 0,
      "adversarial weights must demonstrate the unguarded connectivity break")
    surfaces.unpersist()
  }

  test("sparse bridge guard bites: in-band bridges must not depend on trained band weights") {
    // the bridge analog of the chain guard: the coarse pass linked two
    // surface groups; if their single bridge edge is in-band and dropped,
    // adversarially negative band weights split the groups the surface
    // score joined. keepInBand = true (the pipeline's sparse default) must
    // restore the connectivity.
    val (_, mentions, gold) = fix
    val universe = Blocking.candidatePairs(mentions).cache()
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
    val wAdv = SparseFeatures.logOddsWeights(feats, labels)
      .select(col("f"),
        when(col("f").contains("&t=") || col("f").contains("&tt="),
          col("w_i") - lit(20L * SparseFeatures.WeightScale))
          .otherwise(col("w_i")).as("w_i")).cache()
    val cfgB = Blocking.Config()
    val counts = SparseFeatures.normCounts(mentions)
    val surfaces = Blocking.surfaceTable(mentions).cache()
    val linked = SparseFeatures.scoreSurfacePairsSparse(
      Blocking.surfacePairs(surfaces, cfgB), surfaces, counts, wAdv)
      .filter(col("score") > 0.0)
      .select(col("norm_a"), col("norm_b"), col("block_key"), col("score"))
    val bridgeOut = Blocking.bridgePairs(linked, mentions, cfgB, extraCols = Seq("score"))
      .select(col("ant_id"), col("cur_id"), col("score"))
    val bridgeAll = Blocking.bridgePairs(linked, mentions, cfgB,
      extraCols = Seq("score"), keepInBand = true)
      .select(col("ant_id"), col("cur_id"), col("score"))
    val droppedBridges = bridgeAll
      .join(bridgeOut.select(col("ant_id"), col("cur_id")),
        Seq("ant_id", "cur_id"), "left_anti").cache()
    assert(droppedBridges.count() > 0, "fixture must actually exercise in-band bridges")
    val band = SparseFeatures.scorePairsSparse(
      Blocking.convBandPairsAttr(mentions, cfgB).select("ant_id", "cur_id", "block_key"),
      mentions, counts, wAdv)
      .select(col("ant_id"), col("cur_id"), col("score"))
    val selfSc = SparseFeatures.selfScoresSparse(surfaces, counts, wAdv)
      .select(col("norm"), col("score").as("self_score"))
    val chainsAll = Blocking.sameSurfaceChainPairs(mentions, cfgB, Some(surfaces),
        keepInBand = true)
      .join(selfSc, "norm")
      .select(col("ant_id"), col("cur_id"), col("self_score").as("score"))
    def clustersOf(bridge: org.apache.spark.sql.DataFrame) =
      Clustering.cluster(spark, mentions, Decode.backpointers(
        band.unionByName(bridge).unionByName(chainsAll), 0.0))
    def splitPairs(cl: org.apache.spark.sql.DataFrame): Long = droppedBridges
      .join(cl.select(col("mention_id").as("ant_id"), col("cluster_id").as("cl_a")), "ant_id")
      .join(cl.select(col("mention_id").as("cur_id"), col("cluster_id").as("cl_c")), "cur_id")
      .filter(col("cl_a") =!= col("cl_c")).count()
    val splitGuarded = splitPairs(clustersOf(bridgeAll))
    val splitUnguarded = splitPairs(clustersOf(bridgeOut))
    info(s"dropped in-band bridges=${droppedBridges.count()} " +
      s"split unguarded=$splitUnguarded guarded=$splitGuarded")
    assert(splitGuarded == 0,
      "guarded clustering must join both endpoints of every linked surface pair")
    assert(splitUnguarded > 0,
      "adversarial weights must demonstrate the unguarded connectivity break")
    surfaces.unpersist(); droppedBridges.unpersist(); universe.unpersist()
  }

  test("sparse chain/band guard holds at sf0.001 with freshly-trained weights") {
    val sfDir = "/root/testdata/sf0.001"
    val transcripts = graft.sources.Transcripts.load(spark, sfDir).cache()
    val mentions = Mentions.extractAll(transcripts).cache()
    val gold = graft.harness.Queries.gold(spark, sfDir)
    val universe = Blocking.candidatePairs(mentions)
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
    val w = SparseFeatures.logOddsWeights(feats, labels).cache()
    val guarded = Pipeline.run(spark, transcripts, Pipeline.Config(
      mentionGenerator = "all", sparse = Some(SparseModel(w, "guard-spec-sf0001")))).backptrs
    val (band, bridge, chainsOut, dropped, surfaces) = sparseLegs(mentions, w)
    val boosted = band.join(dropped, Seq("ant_id", "cur_id"), "left")
      .select(col("ant_id"), col("cur_id"),
        greatest(col("score"), coalesce(col("self_score"), lit(Double.MinValue))).as("score"))
    val ref = Decode.backpointers(
      boosted.unionByName(bridge).unionByName(chainsOut), 0.0)
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("cur_id"), col("ant_id"), round(col("score"), 9).as("s"))
    assert(keyed(guarded).except(keyed(ref)).count() == 0 &&
      keyed(ref).except(keyed(guarded)).count() == 0,
      "sf0.001 guarded sparse decode must equal the greatest(band, self) reference decode")
    surfaces.unpersist(); mentions.unpersist(); transcripts.unpersist()
  }

  test("broadcast fast scorers are BIT-identical to the weight-join scorers (all three legs)") {
    val (_, mentions, gold) = fix
    val universe = Blocking.candidatePairs(mentions).cache()
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val counts = SparseFeatures.normCounts(mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr, counts).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
    val w = SparseFeatures.logOddsWeights(feats, labels).cache()
    val wmap = SparseFeatures.collectWeights(w).get
    val cfgB = Blocking.Config()
    val surfaces = Blocking.surfaceTable(mentions).cache()
    val sPairs = Blocking.surfacePairs(surfaces, cfgB).cache()
    val bandPairs = Blocking.convBandPairsAttr(mentions, cfgB)
      .select("ant_id", "cur_id", "block_key")

    // integer-exact sums ⇒ the double scores must match exactly, not just to
    // a rounding tolerance — compare with no round()
    def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
      a.except(b).count() + b.except(a).count()

    val bandJoin = SparseFeatures.scorePairsSparse(bandPairs, mentions, counts, w)
    val bandFast = SparseFeatures.scorePairsSparseFast(bandPairs, mentions, counts, wmap)
    assert(diff(bandJoin, bandFast) == 0, "band leg: fast != join")

    val surfJoin = SparseFeatures.scoreSurfacePairsSparse(sPairs, surfaces, counts, w)
    val surfFast = SparseFeatures.scoreSurfacePairsSparseFast(sPairs, surfaces, counts, wmap)
    assert(diff(surfJoin, surfFast) == 0, "surface leg: fast != join")

    val selfJoin = SparseFeatures.selfScoresSparse(surfaces, counts, w)
    val selfFast = SparseFeatures.selfScoresSparseFast(surfaces, counts, wmap)
    assert(diff(selfJoin, selfFast) == 0, "self-score leg: fast != join")

    // over-cutoff model falls back to the join plan
    assert(SparseFeatures.collectWeights(w, maxFeatures = 10).isEmpty,
      "collectWeights must refuse a model over the cutoff")
    surfaces.unpersist(); sPairs.unpersist()
  }

  test("SparseWeightMap slot-indexed conjunction probes == concat-probe semantics, adversarial names included") {
    import graft.functions.SparseWeightMap
    import org.apache.spark.unsafe.types.UTF8String
    // names chosen to stress every decomposition the concat plan can reach:
    // a conj-shaped name probed BARE, a base containing a text-derived
    // "&t=", an empty base, and a bare name that LOOKS like an unknown-type
    // conjunction (reachable only through the unknown-type fallback)
    val names = Array(
      "hc=x", "hc=x&t=PROPER", "hc=x&tt=NOMINAL|PROPER",
      "hc=a&t=b&t=NOMINAL", "&t=PROPER", "hc=z&t=FOO")
    val w = Array(1L, 10L, 100L, 1000L, 10000L, 100000L)
    val m = new SparseWeightMap(names, w)
    def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    def conjRef(f: String, ta: String, tc: String): Long =
      m.lookupConj(u(f), u(ta), u(tc))
    def conjIdx(f: String, ta: String, tc: String): Long =
      m.lookupConjIdx(u(f), u(ta), u(tc), m.typeIdx(u(ta)), m.typeIdx(u(tc)))
    val bases = Seq("hc=x", "hc=x&t=PROPER", "hc=a&t=b", "", "hc=z", "nope")
    val types = Seq(null, "PROPER", "NOMINAL", "PRONOMINAL", "FOO")
    for (f <- bases; ta <- types; tc <- types)
      assert(conjIdx(f, ta, tc) === conjRef(f, ta, tc),
        s"fast/slow probe divergence at ($f, $ta, $tc)")
    // spot values pin the semantics, not just self-consistency
    assert(conjIdx("hc=x", "NOMINAL", "PROPER") === 111L)
    assert(conjIdx("hc=x&t=PROPER", null, null) === 10L,
      "a conj-shaped name must still resolve as a bare probe")
    assert(conjIdx("hc=a&t=b", null, "NOMINAL") === 1000L,
      "a base containing a text-derived &t= must reach its conj weight")
    assert(conjIdx("", null, "PROPER") === 10000L)
    assert(conjIdx("hc=z", null, "FOO") === 100000L,
      "a non-enum type must fall back to the concat probe")
  }

  test("scoringMode=sparse: FULL pipeline (band+bridge+chains) with the trained sparse model >= trained dense pipeline F1") {
    val (transcripts, mentions, gold) = fix
    val universe = Blocking.candidatePairs(mentions).cache()
    val pairsAttr = Scoring.attachAttrs(universe, mentions)
    val feats = SparseFeatures.featureStrings(pairsAttr,
      SparseFeatures.normCounts(mentions)).localCheckpoint(true)
    val labels = universe.select(col("ant_id"), col("cur_id"))
      .join(gold.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
      .join(gold.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
      .select(col("ant_id"), col("cur_id"), (col("e_a") === col("e_c")).cast("double").as("label"))
      .localCheckpoint(true)
    def f1Of(clusters: org.apache.spark.sql.DataFrame): Double =
      Eval.pairwiseF1(universe.select("ant_id", "cur_id"), clusters, gold)
        .collect()(0).getAs[Double]("f1")

    val (sw, _) = graft.train.Trainer.trainSparseRankingDistributed(
      feats, labels, epochs = 30, eta = 1.0)
    val wTab = graft.train.ModelIO.sparseWeightsFromTrained(sw).cache()
    val sparseRes = Pipeline.run(spark, transcripts, Pipeline.Config(
      mentionGenerator = "all", sparse = Some(SparseModel(wTab, "fixture-trained"))))
    val f1SparsePipe = f1Of(sparseRes.clusters)

    val labeled = graft.train.Trainer.labeledPairs(universe, mentions, gold)
    val (dw, _) = graft.train.Trainer.trainRanking(labeled, epochs = 40, eta = 2.0)
    val denseRes = Pipeline.run(spark, transcripts,
      Pipeline.Config(mentionGenerator = "all", weights = dw))
    val f1DensePipe = f1Of(denseRes.clusters)

    info(s"full-pipeline sparse F1=$f1SparsePipe  full-pipeline trained-dense F1=$f1DensePipe")
    assert(f1SparsePipe >= f1DensePipe - 1e-9,
      s"sparse execution path must reach the trained dense pipeline: $f1SparsePipe < $f1DensePipe")
    assert(f1SparsePipe >= 0.99, s"sparse pipeline must hit the F1 gate: $f1SparsePipe")
  }
}
