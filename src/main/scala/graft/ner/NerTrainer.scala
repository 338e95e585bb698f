package graft.ner

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained NER emissions (the corpus-statistics path of
  * `ner/NerFeaturizer.scala:139-166` + `NerSystemLabeled.scala:52-128`,
  * scoped to this engine's 3-label chain): a multinomial logistic emission
  * model over per-token surface features, trained with the engine's one
  * Adagrad+L1 step ([[graft.train.Adagrad]]) — supervision comes from
  * PROPER mention extents (B/I/O projection), i.e. the tagger distills the
  * span generators into a sequence model whose Viterbi/FB inference then
  * runs without them.
  *
  * Also carries the L7 surface-match feature
  * (`ner/NerFeaturizer.scala:98-125`): token membership in the entity-link
  * dictionary's surface token set, attached via broadcast join — the NER ↔
  * linking coupling the reference wires through its wiki DB.
  *
  * Per-epoch cost: ONE aggregation over tokens (3·F gradient sums + loss),
  * map-side combined; weights re-enter the next plan as literals. Scales
  * like the coref trainer: no collect of data, only of the 3×F gradient row.
  */
object NerTrainer {

  /** Feature names; the `dict*` pair only fires when a dictionary is
    * supplied. `dict` = token appears in the dictionary's surface token set;
    * `dict_cont` = this AND the previous token do (the match-start vs
    * match-continuation split of the reference's surface-match features —
    * it is what lets the model separate B from I inside a dictionary hit).
    *
    * Beyond the 7 core features, the emission featurizer carries the
    * reference's shape/class and corpus-count families
    * (`ner/NerFeaturizer.scala:139-166`, `CorpusCounts.scala:1-55`):
    * `shape_cap`/`allcaps`/`alnum_mix` word shape-and-class indicators, and
    * the count-thresholded `rare` / `pfx_common` / `sfx_common` — token,
    * 3-char-prefix, and 3-char-suffix corpus frequencies against the cutoff
    * (rare capitalized tokens are entity-like even at position 0, where
    * `cap_mid` is blind; frequent affixes mark function-word morphology). */
  val FeatureNames: Seq[String] =
    Seq("bias", "ident", "cap_mid", "digits", "cont", "dict", "dict_cont",
      "shape_cap", "allcaps", "alnum_mix", "rare", "pfx_common", "sfx_common")
  /** The pre-round-4 7-feature core (kept nameable for ablations). */
  val CoreFeatureNames: Seq[String] = FeatureNames.take(7)
  val Dim: Int = FeatureNames.size

  /** Per-token features `(conv_id, turn_idx, pos, tok, x_*)`. `dictToks` =
    * single column `dtok` of lowercased dictionary surface tokens (L7),
    * broadcast-joined. The corpus-count features (`rare`/`pfx_common`/
    * `sfx_common`) derive from three vocabulary-sized aggregations over the
    * SAME transcripts (the CorpusCounts analog; the a5b bundle computes the
    * same tables) joined back by token/affix — at scale these are
    * dictionary joins AQE broadcasts. */
  def tokenFeatures(transcripts: DataFrame, dictToks: Option[DataFrame] = None,
      countCutoff: Int = 20): DataFrame = {
    val toks = transcripts.select(col("conv_id"), col("turn_idx"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    // portable suffix arithmetic (see SparseFeatures.baseTemplates)
    def sfx3(c: Column): Column = c.substr(greatest(length(c) - 2, lit(1)), lit(3))
    val corpus = transcripts.select(explode(split(lower(col("text")), " ")).as("lt"))
    val tokCounts = corpus.groupBy(col("lt")).agg(count(lit(1)).as("n_tok"))
    val pfxCounts = corpus.groupBy(substring(col("lt"), 1, 3).as("pfx"))
      .agg(count(lit(1)).as("n_pfx"))
    val sfxCounts = corpus.groupBy(sfx3(col("lt")).as("sfx"))
      .agg(count(lit(1)).as("n_sfx"))
    val withCounts = toks
      .join(tokCounts, lower(col("tok")) === col("lt"), "left")
      .join(pfxCounts, substring(lower(col("tok")), 1, 3) === col("pfx"), "left")
      .join(sfxCounts, sfx3(lower(col("tok"))) === col("sfx"), "left")
      .drop("lt", "pfx", "sfx")
    val withDict = dictToks match {
      case Some(d) =>
        withCounts.join(broadcast(d.select(lower(col("dtok")).as("__dt")).distinct()),
            lower(col("tok")) === col("__dt"), "left")
          .withColumn("in_dict", col("__dt").isNotNull).drop("__dt")
      case None => withCounts.withColumn("in_dict", lit(false))
    }
    val w = Window.partitionBy(col("conv_id"), col("turn_idx")).orderBy(col("pos"))
    val selfEnt = col("tok").rlike("^[A-Z0-9][A-Za-z0-9#-]*$")
    withDict
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .withColumn("prev_in_dict", coalesce(lag(col("in_dict"), 1).over(w), lit(false)))
      .select(col("conv_id"), col("turn_idx"), col("pos"), col("tok"),
        lit(1.0).as("x_bias"),
        col("tok").rlike("^(?:[A-Za-z]+[#-])?[0-9]+$").cast("double").as("x_ident"),
        (col("pos") > 0 && col("tok").rlike("^[A-Z][A-Za-z0-9#-]*$")).cast("double").as("x_cap_mid"),
        col("tok").rlike("^[0-9]+$").cast("double").as("x_digits"),
        (coalesce(col("prev").rlike("^[A-Z][A-Za-z0-9#-]*$"), lit(false)) && selfEnt)
          .cast("double").as("x_cont"),
        col("in_dict").cast("double").as("x_dict"),
        (col("in_dict") && col("prev_in_dict")).cast("double").as("x_dict_cont"),
        col("tok").rlike("^[A-Z][a-z]+$").cast("double").as("x_shape_cap"),
        col("tok").rlike("^[A-Z]{2,}$").cast("double").as("x_allcaps"),
        (col("tok").rlike("[A-Za-z]") && col("tok").rlike("[0-9]"))
          .cast("double").as("x_alnum_mix"),
        (coalesce(col("n_tok"), lit(0L)) < countCutoff).cast("double").as("x_rare"),
        (coalesce(col("n_pfx"), lit(0L)) >= countCutoff).cast("double").as("x_pfx_common"),
        (coalesce(col("n_sfx"), lit(0L)) >= countCutoff).cast("double").as("x_sfx_common"))
  }

  /** L7 dictionary token set from a link dictionary `(surface, …)`: every
    * token of every surface (surfaces are short — ≤5 tokens — so the explode
    * is bounded; the result is broadcast at join time). */
  def dictTokens(dict: DataFrame): DataFrame =
    dict.select(explode(split(lower(col("surface")), " ")).as("dtok")).distinct()

  /** Token-level gold labels from PROPER mention extents: B at start, I
    * inside, O elsewhere (left join at consumption time). */
  def goldTokenLabels(properExtents: DataFrame): DataFrame =
    properExtents
      .select(col("conv_id"), col("turn_idx"), col("start"), col("end"))
      .select(col("conv_id"), col("turn_idx"),
        explode(sequence(col("start"), col("end"))).as("pos"), col("start"))
      .groupBy(col("conv_id"), col("turn_idx"), col("pos"))
      .agg(min(when(col("pos") === col("start"), 1).otherwise(2)).as("y"))

  /** Train the 3×F multinomial logistic emission model (Adagrad + L1).
    * `features` = [[tokenFeatures]]; `labels` = [[goldTokenLabels]] (absent
    * rows = O). Returns weights `W(label)(feature)`. */
  def train(features: DataFrame, labels: DataFrame, epochs: Int = 30,
      eta: Double = 0.5, lambda: Double = 0.0001,
      names: Seq[String] = FeatureNames): Array[Array[Double]] = {
    val dim = names.size
    val xCols = names.map(n => col(s"x_$n"))
    // the checkpointed feature table is released on return and on failure
    // alike: without this every train() call in a long-lived session
    // (k-fold sweeps) leaks a token-table-sized pin
    graft.Pins.scoped(features.sparkSession.sparkContext) {
      val data = features
        .join(labels, Seq("conv_id", "turn_idx", "pos"), "left")
        .withColumn("y", coalesce(col("y"), lit(0)))
        .select((xCols :+ col("y")): _*)
        .localCheckpoint(true)
      val n = data.count().toDouble
      // empty input would otherwise surface as an opaque NPE (null aggregate
      // sums → row.getDouble throws) and a 0/0 gradient
      require(n > 0, "NerTrainer.train: empty feature DataFrame")
      val w = Array.fill(3, dim)(0.0)
      val sq = Array.fill(3, dim)(0.0)
      for (_ <- 0 until epochs) {
        val s = (0 until 3).map(l =>
          xCols.zipWithIndex.map { case (c, j) => c * w(l)(j) }.reduce(_ + _))
        val mx = greatest(s(0), s(1), s(2))
        val es = s.map(si => exp(si - mx))
        val z = es.reduce(_ + _)
        val p = es.map(_ / z)
        val aggs = (for (l <- 0 until 3; j <- 0 until dim) yield
          sum((p(l) - (col("y") === l).cast("double")) * xCols(j)).as(s"g_${l}_$j")).toSeq
        val row = data.agg(aggs.head, aggs.tail: _*).collect()(0)
        for (l <- 0 until 3)
          graft.train.Adagrad.update(w(l), sq(l),
            Array.tabulate(dim)(j => row.getDouble(l * dim + j) / n), eta, lambda)
      }
      w
    }
  }

  /** Emission table `(conv_id, turn_idx, pos, tok, e_o, e_b, e_i)` from
    * trained weights — drop-in for [[Ner.emissions]] in Viterbi/FB. */
  def emissions(features: DataFrame, w: Array[Array[Double]],
      names: Seq[String] = FeatureNames): DataFrame = {
    def lin(l: Int): Column =
      names.zipWithIndex.map { case (name, j) => col(s"x_$name") * w(l)(j) }
        .reduce(_ + _)
    features.select(col("conv_id"), col("turn_idx"), col("pos"), col("tok"),
      lin(0).as("e_o"), lin(1).as("e_b"), lin(2).as("e_i"))
  }
}
