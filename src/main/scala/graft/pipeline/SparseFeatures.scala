package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexicalized feature space (P1/A6/F5/P8 — the reference's actual
  * model family: millions of string-named features indexed into a dense int
  * space, `coref/PairwiseIndexingFeaturizerJoint.scala:69-129` conjunction
  * scheme, `:50-57` Indexer; lexical cutoff backoff `:478-486`).
  *
  * Relational shape, end to end:
  *  - feature EXTRACTION is an `explode` of deterministic feature-name
  *    strings per candidate pair — linear fan-out, no shuffle;
  *  - the DICTIONARY (A6) is `distinct` + dense-id assignment via two-pass
  *    range-partitioned numbering (local row_number + per-partition offsets —
  *    no global-order window, so no one-task funnel at 10^9 features);
  *  - WEIGHTS live in a table keyed by feature id (broadcast when they fit,
  *    shuffle-hash join on id otherwise); scoring (P9 sparse) is
  *    join + `groupBy(pair).sum(weight)` with map-side partial aggregation.
  *
  * Weights here are integer-scaled (`round(1e5 * w)` as BIGINT) so the
  * per-pair sum is EXACT integer arithmetic — addition order cannot perturb
  * the score, which keeps the DuckDB oracle bit-identical (a float Σ over an
  * unordered feature set would differ in the last ulp between engines).
  *
  * The weight ESTIMATOR provided is the closed-form count-based log-odds
  * (`ln((pos_f+1)/(neg_f+1))` from gold-labeled pairs) — one `groupBy(f)`
  * pass, fully relational and oracle-checkable. The Adagrad sparse trainer in
  * [[graft.train.Trainer]] covers the iterative path for the dense model;
  * SparseSpec gates this estimator's fixture F1 against the dense model's.
  */
object SparseFeatures {

  /** F5 lexical cutoff (`Driver.java:198-199` default 20): surfaces seen
    * fewer times back off to their word shape. */
  val Cutoff = 20

  /** Fixed-point scale for integer-exact weight sums. */
  val WeightScale = 100000L

  /** Per-norm mention counts (over ALL mentions, closed-class included) —
    * the backoff statistic. */
  def normCounts(mentions: DataFrame): DataFrame =
    mentions.groupBy(col("norm")).agg(count(lit(1)).as("n_norm"))

  private def backoff(norm: Column, n: Column): Column =
    when(n >= Cutoff, norm).otherwise(graft.functions.wordShapePortable(norm))

  private def b01(c: Column): Column = when(c, "1").otherwise("0")

  /** The shared base template list (expressions over the attached-attrs
    * column names). Kept in ONE place so the mention-level path
    * ([[featureStrings]]) and the surface-pure path
    * ([[surfaceFeatureStrings]]) cannot drift. */
  private def baseTemplates: Seq[Column] = {
    // surface-derived pieces (backed_a/c, scls_a/c, inits_a/c) arrive
    // PRE-COMPUTED from the counts-side join ([[surfaceSideCols]]) — once
    // per distinct surface, not once per candidate pair
    val backA = col("backed_a")
    val backC = col("backed_c")
    val sameConv = col("conv_id_a") === col("conv_id_c")
    // portable suffix: negative-start substr differs between Spark and
    // DuckDB — both sides use greatest(length-2, 1) start arithmetic
    def sfx(c: Column): Column = c.substr(greatest(length(c) - 2, lit(1)), lit(3))
    // graded similarities enter the sparse space as DISCRETIZED buckets —
    // the indicator-feature analog of the dense model's real-valued JW/Lev
    // columns (the reference likewise thresholds its string-similarity
    // features into firing indicators)
    val jwb = floor(graft.functions.jaro_winkler(col("norm_a"), col("norm_c")) * 10)
      .cast("int").cast("string")
    val lv = lit(1.0) - levenshtein(col("norm_a"), col("norm_c")).cast("double") /
      greatest(length(col("norm_a")), length(col("norm_c"))).cast("double")
    val lvb = floor(lv * 10).cast("int").cast("string")
    Seq(
      lit("bias"),
      concat(lit("hm="), b01(col("head_key_a") === col("head_key_c"))),
      concat(lit("em="), b01(col("norm_a") === col("norm_c"))),
      concat(lit("cur="), backC),
      concat(lit("ant="), backA),
      concat(lit("cp="), backA, lit("|"), backC),
      // distance bucket only meaningful within a conversation; cross-conv
      // pairs fire the distinct 'x' bucket (the reference's distance
      // features are likewise document-internal)
      concat(lit("db="), when(sameConv,
        least(col("m_seq_c") - col("m_seq_a"), lit(10)).cast("string"))
        .otherwise("x")),
      concat(lit("sc="), b01(sameConv)),
      // head-granularity lexical anchors (the reference's primary lexical
      // templates — heads are sharper than full surfaces and not subject to
      // the F5 cutoff; the pair conjunction lets training assign negative
      // weight to specific spurious head pairs, e.g. acronym collisions)
      concat(lit("hc="), col("head_key_c")),
      concat(lit("ha="), col("head_key_a")),
      concat(lit("hp="), col("head_key_a"), lit("|"), col("head_key_c")),
      concat(lit("cn="), b01(
        (col("norm_a").contains(col("norm_c")) || col("norm_c").contains(col("norm_a"))) &&
          col("norm_a") =!= col("norm_c"))),
      concat(lit("ab="), b01(
        col("norm_a") === col("inits_c") ||
          col("norm_c") === col("inits_a"))),
      concat(lit("jwb="), jwb),
      concat(lit("lvb="), lvb),
      // P6-family semantic-class pair (the scoped stand-in for the
      // reference's WordNet features — see graft.functions.semClass): lets
      // training weight e.g. IDENT|IDENT vs ORG|IDENT pairs differently
      concat(lit("scm="), col("scls_a"), lit("|"), col("scls_c")),
      // head prefix/suffix lexical templates
      // (`PairwiseIndexingFeaturizerJoint.scala:488-510` — the reference
      // fires character prefixes/suffixes up to length 3 as the sub-word
      // backoff for its lexical anchors)
      concat(lit("pfc="), substring(col("head_key_c"), 1, 3)),
      concat(lit("sfc="), sfx(col("head_key_c"))),
      concat(lit("pfa="), substring(col("head_key_a"), 1, 3)),
      concat(lit("sfa="), sfx(col("head_key_a"))))
  }

  /** Surface-derived feature pieces, computed ONCE PER DISTINCT SURFACE on
    * the counts table and joined onto pairs by [[withCounts]]: the F5
    * backoff token (6 `regexp_replace` when rare), the semantic class
    * (4 `rlike` probes) and the abbreviation initials. All three are pure
    * functions of `(norm, n_norm)` — `toks` is `split(norm, " ")` and
    * `semClass` lowercases internally — so per-pair evaluation (2× each,
    * both sides) was pure waste; at 1.2M band pairs over 4.5k surfaces the
    * move cuts ~500× of the regex work out of the scoring stage. */
  def surfaceSideCols(counts: DataFrame): DataFrame =
    counts.select(col("norm"), col("n_norm"),
      backoff(col("norm"), col("n_norm")).as("backed"),
      graft.functions.semClass(element_at(split(col("norm"), " "), -1)).as("scls"),
      graft.functions.initials(split(col("norm"), " ")).as("inits"))

  /** Join the F5 backoff counts + precomputed surface pieces onto an
    * attached-attrs pair table. */
  private def withCounts(pairsAttr: DataFrame, counts: DataFrame): DataFrame = {
    val cb = surfaceSideCols(counts)
    pairsAttr
      .join(cb.select(col("norm").as("norm_a"), col("n_norm").as("n_a"),
        col("backed").as("backed_a"), col("scls").as("scls_a"),
        col("inits").as("inits_a")), Seq("norm_a"))
      .join(cb.select(col("norm").as("norm_c"), col("n_norm").as("n_c"),
        col("backed").as("backed_c"), col("scls").as("scls_c"),
        col("inits").as("inits_c")), Seq("norm_c"))
  }

  /** Exploded feature strings `(ant_id, cur_id, f)` for candidate pairs with
    * attached attributes ([[Scoring.attachAttrs]] output). The P1 conjunction
    * scheme (`PairwiseIndexingFeaturizerJoint.scala:69-129`): every base
    * feature fires bare, conjoined with the current mention's type
    * (`&t=<mtype>`), AND conjoined with both mentions' types
    * (`&tt=<mtype_a>|<mtype_c>`) — the reference's Canonical / +MentionType /
    * +BothMentionTypes axes. */
  def featureStrings(pairsAttr: DataFrame, counts: DataFrame): DataFrame =
    featureStrings(pairsAttr, counts, None, None)

  /** [[featureStrings]] with the P6/F11 semantic lookup seams — the join
    * shapes the reference fills from WordNet hypernym closures
    * (`sem/SemClass.scala:15-81`) and Hearst-pattern pair counts
    * (`PairwiseIndexingFeaturizerJoint.scala:305-336`). No such corpora
    * exist in-sandbox, so the harness exercises the seams with
    * deterministic fixture tables; a user drops in real precomputed tables
    * of the same shape.
    *
    * @param sem    `(head, sem2)` — refined per-head semantic class, unique
    *               per head; fires `scm2=<a>|<c>` (UNK when absent), joined
    *               per side on the head key (broadcast — dictionary-sized)
    * @param hearst `(head_a, head_c, hcnt)` — head-pair association counts,
    *               unique per pair; fires the log-binned `hearst=<bin>`
    *               ('x' when the pair is unattested) */
  def featureStrings(pairsAttr: DataFrame, counts: DataFrame,
      sem: Option[DataFrame], hearst: Option[DataFrame]): DataFrame = {
    val (df, base) = pairFeatureFrame(pairsAttr, counts, sem, hearst)
    df.select(col("ant_id"), col("cur_id"),
      explode(threeAxisArray(base)).as("f"))
  }

  /** Shared prep for the mention-pair template set: the joined frame plus the
    * BASE feature-string columns (pre-conjunction). Both the exploding
    * ([[featureStrings]]) and the map-lookup ([[scorePairsSparseFast]]) paths
    * build from here so the template set cannot drift between them. */
  private def pairFeatureFrame(pairsAttr: DataFrame, counts: DataFrame,
      sem: Option[DataFrame], hearst: Option[DataFrame]): (DataFrame, Seq[Column]) = {
    var df = withCounts(pairsAttr, counts)
    val extra = scala.collection.mutable.ArrayBuffer.empty[Column]
    sem.foreach { s =>
      df = df
        .join(broadcast(s.select(col("head").as("head_key_a"), col("sem2").as("sem2_a"))),
          Seq("head_key_a"), "left")
        .join(broadcast(s.select(col("head").as("head_key_c"), col("sem2").as("sem2_c"))),
          Seq("head_key_c"), "left")
      extra += concat(lit("scm2="), coalesce(col("sem2_a"), lit("UNK")),
        lit("|"), coalesce(col("sem2_c"), lit("UNK")))
    }
    hearst.foreach { h =>
      df = df.join(broadcast(h.select(col("head_a").as("head_key_a"),
        col("head_c").as("head_key_c"), col("hcnt"))),
        Seq("head_key_a", "head_key_c"), "left")
      extra += concat(lit("hearst="), when(col("hcnt").isNull, lit("x"))
        .otherwise(floor(log(col("hcnt") + 1)).cast("int").cast("string")))
    }
    (df, baseTemplates ++ extra)
  }

  /** The P1 conjunction scheme as one array column: every base feature bare,
    * `&t=`-conjoined with the current mention's type, and `&tt=`-conjoined
    * with both types. */
  private def threeAxisArray(base: Seq[Column]): Column = {
    val conj = base.map(f => concat(f, lit("&t="), col("mtype_c")))
    val conj2 = base.map(f =>
      concat(f, lit("&tt="), col("mtype_a"), lit("|"), col("mtype_c")))
    array((base ++ conj ++ conj2): _*)
  }

  /** Surface-pure exploded feature strings `(norm_a, norm_b, block_key, f)`
    * for distinct surface pairs — the sparse analog of
    * [[Scoring.scoreSurfacePairs]]'s featurization: BARE templates only (no
    * type-conjunction axes — a surface has no single mention type), with the
    * conversational columns at their neutral surface-only values (so `db=x`,
    * `sc=0` fire as constants). Bare-template weights are shared with the
    * band path's training, which is what makes the coarse-to-fine gate and
    * the band scores commensurable in sparse mode. */
  def surfaceFeatureStrings(surfacePairs: DataFrame, surfaces: DataFrame,
      counts: DataFrame): DataFrame =
    surfaceFeatureFrame(surfacePairs, surfaces, counts)
      .select(col("norm_a"), col("norm_b"), col("block_key"),
        explode(array(baseTemplates: _*)).as("f"))

  /** Shared prep for the surface-pure template set (see
    * [[surfaceFeatureStrings]] for the semantics). The surface attrs and the
    * counts-side pieces are combined into ONE side table joined once per
    * side (r06) — the old shape joined attrs and counts separately, four
    * broadcast joins per leg where two suffice. */
  private def surfaceFeatureFrame(surfacePairs: DataFrame, surfaces: DataFrame,
      counts: DataFrame): DataFrame = {
    val side = surfaces.select(col("norm"), col("head_key"), col("toks"))
      .join(surfaceSideCols(counts), "norm")
    val a = side.toDF("norm_a", "head_key_a", "toks_a",
      "n_a", "backed_a", "scls_a", "inits_a")
    val c = side.toDF("norm_b", "head_key_c", "toks_c",
      "n_c", "backed_c", "scls_c", "inits_c")
    Scoring.withSurfaceOnlyAttrs(
      surfacePairs.join(a, "norm_a").join(c, "norm_b")
        .withColumn("norm_c", col("norm_b")))
  }

  /** Self-pair frame (norm vs itself) built directly from the surface
    * table — one cb join and zero pair-side joins (the general path joined
    * the self pair list back against attrs + counts per side: four joins to
    * re-fetch columns of the SAME row). Output columns and values are
    * identical to `surfaceFeatureFrame(selfPairs, surfaces, counts)`. */
  private def selfFeatureFrame(surfaces: DataFrame, counts: DataFrame): DataFrame = {
    val side = surfaces.filter(col("n_mentions") >= 2)
      .select(col("norm"), col("head_key"), col("toks"))
      .join(surfaceSideCols(counts), "norm")
    Scoring.withSurfaceOnlyAttrs(side.select(
      col("norm").as("norm_a"), col("norm").as("norm_b"), col("norm").as("norm_c"),
      lit("x:self").as("block_key"),
      col("head_key").as("head_key_a"), col("head_key").as("head_key_c"),
      col("toks").as("toks_a"), col("toks").as("toks_c"),
      col("n_norm").as("n_a"), col("n_norm").as("n_c"),
      col("backed").as("backed_a"), col("backed").as("backed_c"),
      col("scls").as("scls_a"), col("scls").as("scls_c"),
      col("inits").as("inits_a"), col("inits").as("inits_c")))
  }

  /** A6 feature dictionary: dense ids 0..n-1 in feature-string sort order.
    * Two-pass range-partitioned numbering (the same scale-safe shape as
    * [[Clustering.denseRelabel]]): local row_number per range partition +
    * exclusive per-partition offsets — equivalent to a global
    * `row_number() OVER (ORDER BY f)` without the single-task window. The
    * range-partitioned ids are pinned (localCheckpoint) so `offsets` and the
    * id assignment see the same partition bounds. */
  def dictionary(feats: DataFrame): DataFrame =
    denseIdsByKey(feats.select(col("f")), "f", "feature_id")

  /** Generic scale-safe dense-id assignment: distinct keys → `(key, id)`
    * with ids 0..n-1 in key sort order — equivalent to a global
    * `row_number() OVER (ORDER BY key)` without the one-task window (also
    * backs W2's deterministic-order ranks and C4's relabel shape). */
  def denseIdsByKey(keys: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val d = keys.select(col(keyCol)).distinct()
      .repartitionByRange(col(keyCol))
      .withColumn("part", spark_partition_id())
      .withColumn("li",
        row_number().over(Window.partitionBy(col("part")).orderBy(col(keyCol))).cast("long") - 1)
      .localCheckpoint(true)
    val off = d.groupBy(col("part")).agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.orderBy(col("part")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("part"), col("offset"))
    d.join(broadcast(off), "part")
      .select(col(keyCol), (col("offset") + col("li")).as(idCol))
  }

  /** Count-based log-odds weights from gold-labeled pairs:
    * `w(f) = round(1e5 · ln((pos_f+1)/(neg_f+1)))` as BIGINT. One
    * `groupBy(f)` with map-side combine. `labels` = (ant_id, cur_id, label). */
  def logOddsWeights(feats: DataFrame, labels: DataFrame): DataFrame =
    feats.join(labels, Seq("ant_id", "cur_id"))
      .groupBy(col("f"))
      .agg(sum(col("label")).as("pos"), sum(lit(1.0) - col("label")).as("neg"))
      .select(col("f"),
        round(log((col("pos") + 1.0) / (col("neg") + 1.0)) * WeightScale, 0)
          .cast("long").as("w_i"))

  /** P9 sparse scoring: one weight-lookup join on the feature string +
    * integer-exact per-pair sum. Output `(ant_id, cur_id, n_feats, score)`
    * with `score = Σ w_i / 1e5`.
    *
    * The dictionary's int ids pay off when the feature table is PERSISTED
    * pre-indexed (ids assigned once at build, string column dropped — the
    * reference's Indexer exactly); re-deriving ids inside every scoring call
    * would just add a second join on the hot path, so the ad-hoc scorer
    * joins by string directly. */
  def scoreSparse(feats: DataFrame, weights: DataFrame): DataFrame =
    feats
      .join(weights.select(col("f"), col("w_i")), "f")
      .groupBy(col("ant_id"), col("cur_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("w_i")).as("wsum"))
      .select(col("ant_id"), col("cur_id"), col("n_feats"),
        (col("wsum").cast("double") / WeightScale.toDouble).as("score"))

  /** Total sparse scorer for the EXECUTION path: LEFT join on the weight
    * table (unweighted features contribute 0 — every pair gets a score, so
    * the decode sees the full candidate set) + integer-exact sum, grouped by
    * the caller's key columns. The weight table is left to Catalyst/AQE to
    * broadcast when it fits; at 10^9 features it degrades to a shuffle-hash
    * join on `f` with map-side partial aggregation. */
  def scoreWithWeights(feats: DataFrame, weights: DataFrame,
      keyCols: Seq[String]): DataFrame =
    feats.join(weights.select(col("f"), col("w_i")), Seq("f"), "left")
      .groupBy(keyCols.map(col): _*)
      .agg(sum(coalesce(col("w_i"), lit(0L))).as("wsum"))
      .withColumn("score", col("wsum").cast("double") / WeightScale.toDouble)
      .drop("wsum")

  /** Sparse surface-pair scorer (the coarse-to-fine gate in sparse mode):
    * `(norm_a, norm_b, block_key, score)` — one score per distinct surface
    * pair, shared downstream by every mention pair of those surfaces. */
  def scoreSurfacePairsSparse(surfacePairs: DataFrame, surfaces: DataFrame,
      counts: DataFrame, weights: DataFrame): DataFrame =
    scoreWithWeights(surfaceFeatureStrings(surfacePairs, surfaces, counts),
      weights, Seq("norm_a", "norm_b", "block_key"))

  /** Sparse per-surface self score (chain-edge score in sparse mode) —
    * `(norm, block_key, score)`; see [[Scoring.selfScores]]. Built on the
    * direct [[selfFeatureFrame]] (one join, not four). */
  def selfScoresSparse(surfaces: DataFrame, counts: DataFrame,
      weights: DataFrame): DataFrame =
    scoreWithWeights(
      selfFeatureFrame(surfaces, counts)
        .select(col("norm_a"), col("norm_b"), col("block_key"),
          explode(array(baseTemplates: _*)).as("f")),
      weights, Seq("norm_a", "norm_b", "block_key"))
      .select(col("norm_a").as("norm"), col("block_key"), col("score"))

  /** Sparse mention-pair scorer for the conversation-band leg:
    * `(ant_id, cur_id, score)` over the full three-axis template set. */
  def scorePairsSparse(pairs: DataFrame, mentions: DataFrame,
      counts: DataFrame, weights: DataFrame): DataFrame =
    scoreWithWeights(
      featureStrings(Scoring.attachAttrs(pairs, mentions), counts),
      weights, Seq("ant_id", "cur_id"))

  // ---- broadcast-model fast path ------------------------------------------

  /** Features up to which a trained sparse model is collected and scored by
    * in-projection hash lookup ([[graft.functions.SparseWeightSum]]) instead
    * of the explode → weight-join → re-aggregate plan. 4M entries ≈ a few
    * hundred MB of task-binary payload at most — comfortably broadcastable;
    * beyond it the engine stays on the shuffle-hash join path, which is the
    * 10^9-feature design (the reference's packed model is likewise an
    * in-memory array on every worker, `PairwiseScorer.scala:10-35`). */
  val BroadcastMaxFeatures: Int = 4000000

  /** `df` with a broadcast hint when `rows`, its caller-observed
    * cardinality, is within [[BroadcastMaxFeatures]]; over the cutoff the
    * hint is withheld and the join keeps its shuffle plan. The gate for
    * every explicitly broadcast trainer table: checkpointed frames carry no
    * reliable size statistics, so the hint, not the planner, decides. */
  def broadcastWithin(df: DataFrame, rows: Long): DataFrame =
    if (rows <= BroadcastMaxFeatures) broadcast(df) else df

  /** Collect a weight table `(f, w_i)` into a [[graft.functions.SparseWeightMap]]
    * when it is small enough to broadcast; `None` (→ caller stays on the join
    * plan) otherwise. One bounded fetch of max+1 rows is the size probe,
    * so an over-limit table costs one bounded scan, not a full count. */
  def collectWeights(weights: DataFrame,
      maxFeatures: Int = BroadcastMaxFeatures): Option[graft.functions.SparseWeightMap] = {
    // ONE bounded fetch of max+1 rows is both the size probe and the fetch —
    // a separate limit().count() probe would execute a derived (unpinned)
    // weights plan twice
    val rows = graft.functions.fetchBounded(
      weights.select(col("f"), col("w_i")), maxFeatures + 1)
    if (rows.length > maxFeatures) None
    else {
      val names = new Array[String](rows.length)
      val w = new Array[Long](rows.length)
      var i = 0
      while (i < rows.length) {
        names(i) = rows(i).getString(0)
        w(i) = rows(i).getLong(1)
        i += 1
      }
      Some(new graft.functions.SparseWeightMap(names, w))
    }
  }

  /** `Σ w_i / 1e5` of an array-of-feature-strings column against a collected
    * model — the whole sparse score as ONE codegen'd expression. */
  def weightSum(feats: Column, wmap: graft.functions.SparseWeightMap): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SparseWeightSum(
        org.apache.spark.sql.graft.ColumnBridge.expression(feats), wmap))
      .cast("double") / WeightScale.toDouble

  /** `Σ w_i / 1e5` over the full three-axis conjunction scheme, probing the
    * `&t=`/`&tt=` conjunctions INSIDE the expression
    * ([[graft.functions.SparseWeightSumConj]]) — the row carries only the
    * 22 base strings; the 44 conjunction strings are built transiently per
    * probe and never materialized. */
  def weightSumConj(base: Seq[Column], mtypeA: Column, mtypeC: Column,
      wmap: graft.functions.SparseWeightMap): Column = {
    val br = org.apache.spark.sql.graft.ColumnBridge
    br.column(graft.functions.SparseWeightSumConj(
        base.map(br.expression), br.expression(mtypeA), br.expression(mtypeC), wmap))
      .cast("double") / WeightScale.toDouble
  }

  /** [[scorePairsSparse]] on a collected model: no explode, no weight join,
    * no re-aggregation — a narrow projection per candidate pair.
    * Output and row set are bit-identical to the join path (integer-exact
    * sums; band pairs are distinct by construction, so the join path's
    * `groupBy(pair)` never merges rows). SparseSpec pins the equality. */
  def scorePairsSparseFast(pairs: DataFrame, mentions: DataFrame,
      counts: DataFrame, wmap: graft.functions.SparseWeightMap): DataFrame =
    scoreAttachedSparseFast(Scoring.attachAttrs(pairs, mentions), counts, wmap)

  /** [[scorePairsSparseFast]] over an attribute-carrying pair table (the
    * band sweep's [[Blocking.convBandPairsAttr]] output). */
  def scoreAttachedSparseFast(pairsAttr: DataFrame, counts: DataFrame,
      wmap: graft.functions.SparseWeightMap): DataFrame = {
    val (df, base) = pairFeatureFrame(pairsAttr, counts, None, None)
    df.select(col("ant_id"), col("cur_id"),
      weightSumConj(base, col("mtype_a"), col("mtype_c"), wmap).as("score"))
  }

  /** The full three-axis sparse score as a single column over an
    * attached-attrs pair frame that ALREADY carries the `n_a`/`n_c` backoff
    * counts — a stateless projection, so it runs UNCHANGED on a pair STREAM
    * ([[graft.streaming.StreamingAssembly.streamingBandScoresSparse]]), the
    * same way the dense path shares `Scoring.featurize`/`score` between
    * batch and stream. */
  def sparseScoreCol(wmap: graft.functions.SparseWeightMap): Column =
    weightSumConj(baseTemplates, col("mtype_a"), col("mtype_c"), wmap)

  /** [[scoreSurfacePairsSparse]] on a collected model (bare templates). */
  def scoreSurfacePairsSparseFast(surfacePairs: DataFrame, surfaces: DataFrame,
      counts: DataFrame, wmap: graft.functions.SparseWeightMap): DataFrame =
    surfaceFeatureFrame(surfacePairs, surfaces, counts)
      .select(col("norm_a"), col("norm_b"), col("block_key"),
        weightSum(array(baseTemplates: _*), wmap).as("score"))

  /** [[selfScoresSparse]] on a collected model (direct self frame — one
    * join, zero pair-side joins). */
  def selfScoresSparseFast(surfaces: DataFrame, counts: DataFrame,
      wmap: graft.functions.SparseWeightMap): DataFrame =
    selfFeatureFrame(surfaces, counts)
      .select(col("norm_a").as("norm"), col("block_key"),
        weightSum(array(baseTemplates: _*), wmap).as("score"))
}
