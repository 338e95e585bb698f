package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{jaro_winkler, token_jaccard}

/** Pairwise featurization + discriminative scoring (SURVEY.md §2.5).
  *
  * The reference scores each candidate pair with a linear model over sparse
  * string features (`PairwiseScorer.scala:11-47`, feature templates
  * `PairwiseIndexingFeaturizerJoint.scala:144-420`). This engine expresses the
  * same feature *semantics* as a dense vector of codegen'd Catalyst columns —
  * exact/head/containment matches (P4), distance + closed-class anaphoricity
  * (P2/P3/P5), plus the graded string similarities the north star mandates
  * (Jaro-Winkler, Levenshtein, token-Jaccard; F15) — and the logistic score
  * `σ(w·x)` is a plan-constant linear expression: no UDF, no shuffle, fully
  * inside whole-stage codegen.
  */
object Scoring {

  /** Feature names, fixed order (the model's feature dictionary). */
  val FeatureNames: Seq[String] = Seq(
    "bias", "head_match", "exact_match", "containment", "token_jaccard",
    "jaro_winkler", "lev_sim", "abbrev", "anaphoric_close", "closed_cur",
    "dist_decay", "same_role", "number_match", "number_clash",
    "gender_match", "gender_clash")

  /** Trained/handed weights, aligned with [[FeatureNames]]. The default
    * passes the fixture F1 gate; `Trainer` can re-estimate it. */
  case class Weights(values: Array[Double]) {
    require(values.length == FeatureNames.length)
    def apply(name: String): Double = values(FeatureNames.indexOf(name))
  }
  val DefaultWeights: Weights = Weights(Array(
    /* bias            */ -4.0,
    /* head_match      */ 5.0,
    /* exact_match     */ 2.0,
    /* containment     */ 2.0,
    /* token_jaccard   */ 1.5,
    /* jaro_winkler    */ 2.0,
    /* lev_sim         */ 2.0,
    /* abbrev          */ 4.5,
    /* anaphoric_close */ 6.0,
    /* closed_cur      */ -1.0,
    /* dist_decay      */ 1.0,
    /* same_role       */ 0.3,
    /* number_match    */ 0.4,
    /* number_clash    */ -2.5,
    /* gender_match    */ 0.3,
    /* gender_clash    */ -2.5))

  private def b(c: Column): Column = c.cast("double")

  /** Attach both mentions' attributes to the candidate pairs. Two equi-joins
    * on the unique `mention_id` — uniform keys, no skew. At cluster scale the
    * mentions table would be bucketed by `mention_id` so both joins co-locate.
    */
  def attachAttrs(pairs: DataFrame, mentions: DataFrame): DataFrame = {
    val attrs = mentions.select(
      col("mention_id"), col("conv_id"), col("m_seq"), col("norm"),
      col("head_key"), col("toks"), col("mtype"), col("closed_class"),
      col("role"), col("number"), col("gender"))
    val antA = attrs.toDF(attrs.columns.map(_ + "_a"): _*)
    val curA = attrs.toDF(attrs.columns.map(_ + "_c"): _*)
    pairs
      .join(antA, col("ant_id") === col("mention_id_a")).drop("mention_id_a")
      .join(curA, col("cur_id") === col("mention_id_c")).drop("mention_id_c")
  }

  /** Fill the mention-level attribute columns [[featurize]] expects with
    * their surface-only neutral values (no conversation, open-class, unknown
    * agreement) — shared by [[scoreSurfacePairs]] and the scoring-kernel
    * bench so the two can't drift when the feature set grows. */
  def withSurfaceOnlyAttrs(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("closed_class_a", lit(false))
      .withColumn("closed_class_c", lit(false))
      .withColumn("conv_id_a", lit(null).cast("string"))
      .withColumn("conv_id_c", lit(null).cast("string"))
      .withColumn("m_seq_a", lit(null).cast("int"))
      .withColumn("m_seq_c", lit(null).cast("int"))
      .withColumn("role_a", lit(null).cast("string"))
      .withColumn("role_c", lit(null).cast("string"))
      .withColumn("number_a", lit("unknown"))
      .withColumn("number_c", lit("unknown"))
      .withColumn("gender_a", lit("unknown"))
      .withColumn("gender_c", lit("unknown"))

  /** Abbreviation match (F9 analog, `sem/AbbreviationHandler.scala:7-66`):
    * one side equals the concatenated initials of the other's tokens. */
  private def abbrevMatch(normA: Column, toksA: Column, normC: Column, toksC: Column): Column =
    (normA === graft.functions.initials(toksC)) ||
      (normC === graft.functions.initials(toksA))

  /** Add the feature columns. Input: output of [[attachAttrs]]. */
  def featurize(pairsAttr: DataFrame): DataFrame = {
    val sameConv = col("conv_id_a") === col("conv_id_c")
    val dist = col("m_seq_c") - col("m_seq_a")
    pairsAttr
      .withColumn("f_head_match", b(col("head_key_a") === col("head_key_c")))
      .withColumn("f_exact_match", b(col("norm_a") === col("norm_c")))
      .withColumn("f_containment",
        b(!col("closed_class_a") && !col("closed_class_c") &&
          (col("norm_a").contains(col("norm_c")) || col("norm_c").contains(col("norm_a"))) &&
          (col("norm_a") =!= col("norm_c"))))
      .withColumn("f_token_jaccard", token_jaccard(col("toks_a"), col("toks_c")))
      .withColumn("f_jaro_winkler", jaro_winkler(col("norm_a"), col("norm_c")))
      .withColumn("f_lev_sim",
        lit(1.0) - b(levenshtein(col("norm_a"), col("norm_c"))) /
          greatest(length(col("norm_a")), length(col("norm_c"))).cast("double"))
      .withColumn("f_abbrev",
        b(abbrevMatch(col("norm_a"), col("toks_a"), col("norm_c"), col("toks_c"))))
      .withColumn("f_anaphoric_close",
        b(col("closed_class_c") && sameConv && dist <= 10 && dist > 0))
      .withColumn("f_closed_cur", b(col("closed_class_c")))
      .withColumn("f_dist_decay",
        when(sameConv, lit(1.0) / (lit(1.0) + b(dist))).otherwise(0.0))
      // P5 agreement features (`PairwiseIndexingFeaturizerJoint.scala:220-234`):
      // conversational — speaker/role identity and number/gender agreement
      // only fire within a conversation and only between known values
      // (UNKNOWN never matches nor clashes). Written as when/otherwise so the
      // surface path's null conv/role columns yield exact 0.0, not null.
      .withColumn("f_same_role",
        when(sameConv && col("role_a") === col("role_c"), 1.0).otherwise(0.0))
      .withColumn("f_number_match",
        when(sameConv && col("number_a") =!= "unknown" && col("number_c") =!= "unknown" &&
          col("number_a") === col("number_c"), 1.0).otherwise(0.0))
      .withColumn("f_number_clash",
        when(sameConv && col("number_a") =!= "unknown" && col("number_c") =!= "unknown" &&
          col("number_a") =!= col("number_c"), 1.0).otherwise(0.0))
      .withColumn("f_gender_match",
        when(sameConv && col("gender_a") =!= "unknown" && col("gender_c") =!= "unknown" &&
          col("gender_a") === col("gender_c"), 1.0).otherwise(0.0))
      .withColumn("f_gender_clash",
        when(sameConv && col("gender_a") =!= "unknown" && col("gender_c") =!= "unknown" &&
          col("gender_a") =!= col("gender_c"), 1.0).otherwise(0.0))
  }

  /** The model's effective (gated) feature vector in [[FeatureNames]] order.
    * Similarity features are zeroed for closed-class mentions — lexical
    * similarity between a pronoun and a name is noise (the reference gates
    * lexical features on mention type the same way). Shared by the scorer
    * and the trainer's gradient. */
  def featureVector: Seq[(String, Column)] = {
    val openPair = !col("closed_class_a") && !col("closed_class_c")
    val gate: Column => Column = c => when(openPair, c).otherwise(0.0)
    Seq(
      "bias" -> lit(1.0),
      "head_match" -> gate(col("f_head_match")),
      "exact_match" -> gate(col("f_exact_match")),
      "containment" -> gate(col("f_containment")),
      "token_jaccard" -> gate(col("f_token_jaccard")),
      "jaro_winkler" -> gate(col("f_jaro_winkler")),
      "lev_sim" -> gate(col("f_lev_sim")),
      "abbrev" -> gate(col("f_abbrev")),
      "anaphoric_close" -> col("f_anaphoric_close"),
      "closed_cur" -> col("f_closed_cur"),
      "dist_decay" -> col("f_dist_decay"),
      "same_role" -> col("f_same_role"),
      "number_match" -> col("f_number_match"),
      "number_clash" -> col("f_number_clash"),
      "gender_match" -> col("f_gender_match"),
      "gender_clash" -> col("f_gender_clash"))
  }

  /** Linear score + logistic probability as plan-constant expressions
    * (P9/P11; the reference's `score = Σ weights(featIdx)`,
    * `GUtil.scala:443-451`).
    *
    * `aux` is the P7 auxiliary-featurizer seam (ref
    * `coref/AuxiliaryFeaturizer.scala`): extra `(name, column, weight)`
    * features appended to the linear sum — a domain plug-in extends the model
    * without touching the core feature vector. */
  def score(featurized: DataFrame, w: Weights = DefaultWeights,
      aux: Seq[(String, Column, Double)] = Nil): DataFrame = {
    val linear = (featureVector.map { case (n, c) => c * w(n) } ++
      aux.map { case (_, c, aw) => c * aw }).reduce(_ + _)
    featurized
      .withColumn("score", linear)
      .withColumn("prob", lit(1.0) / (lit(1.0) + exp(-col("score"))))
  }

  /** Surface-level scoring (the coarse-to-fine global path): score each
    * distinct surface pair once — conversational features are identically
    * zero here (cross-conversation semantics), so the score is a pure
    * function of the two normalized surfaces. Output:
    * `(norm_a, norm_b, block_key, f_*, score)`. */
  def scoreSurfacePairs(surfacePairs: DataFrame, surfaces: DataFrame,
      w: Weights = DefaultWeights): DataFrame = {
    val attrs = surfaces.select(col("norm"), col("head_key"), col("toks"))
    val a = attrs.toDF("norm_a", "head_key_a", "toks_a")
    val c = attrs.toDF("norm_c", "head_key_c", "toks_c")
    val joined = surfacePairs
      .join(a, "norm_a")
      .join(c.withColumnRenamed("norm_c", "norm_b"), "norm_b")
      .withColumn("norm_c", col("norm_b"))
    score(featurize(withSurfaceOnlyAttrs(joined)), w)
      .select(col("norm_a"), col("norm_b"), col("block_key"),
        col("f_head_match"), col("f_exact_match"), col("f_containment"),
        col("f_token_jaccard"), col("f_jaro_winkler"), col("f_lev_sim"),
        col("f_abbrev"), col("score"))
  }

  /** Per-surface *self* score — the score the model assigns to an exact-match
    * pair of this surface (norm vs itself). Attached to the same-surface
    * chain edges ([[Blocking.sameSurfaceChainPairs]]): every chain edge of a
    * surface carries the identical, surface-pure score, so it is computed
    * once per distinct repeated surface. Output: `(norm, block_key, score)`. */
  def selfScores(surfaces: DataFrame, w: Weights = DefaultWeights): DataFrame = {
    // self frame built directly from the surface row — the general path
    // joined the self pair list back against the surface table per side to
    // re-fetch columns of the SAME row (r06; values identical)
    val self = surfaces.filter(col("n_mentions") >= 2).select(
      col("norm").as("norm_a"), col("norm").as("norm_b"), col("norm").as("norm_c"),
      lit("x:self").as("block_key"),
      col("head_key").as("head_key_a"), col("head_key").as("head_key_c"),
      col("toks").as("toks_a"), col("toks").as("toks_c"))
    score(featurize(withSurfaceOnlyAttrs(self)), w)
      .select(col("norm_a").as("norm"), col("block_key"), col("score"))
  }

  /** Full scoring stage over an attribute-attached pair table
    * ([[Blocking.convBandPairsAttr]] output, or [[attachAttrs]] over an ids
    * pair table) → scored pairs. */
  def scorePairsAttr(pairsAttr: DataFrame, w: Weights = DefaultWeights): DataFrame =
    score(featurize(pairsAttr), w)
      .select(col("ant_id"), col("cur_id"), col("block_key"),
        col("conv_id_a"), col("conv_id_c"),
        col("f_head_match"), col("f_exact_match"), col("f_containment"),
        col("f_token_jaccard"), col("f_jaro_winkler"), col("f_lev_sim"),
        col("f_abbrev"), col("f_anaphoric_close"), col("f_closed_cur"),
        col("f_dist_decay"), col("f_same_role"), col("f_number_match"),
        col("f_number_clash"), col("f_gender_match"), col("f_gender_clash"),
        col("score"), col("prob"))
}
