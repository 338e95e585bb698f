package graft.ner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scoped NER kernel (SURVEY.md §2.10 G1/G2, §2.6 A11, §2.4 B6) — the
  * reference's CRF tagger (`ner/NerSystemLabeled.scala:40-128`) reduced to a
  * 3-label (O/B/I) linear-chain model over transcript tokens:
  *
  *  - **emissions** are codegen'd column expressions over surface features
  *    (identifier shape, mid-sentence capitalization, digit runs, previous
  *    token class) — the featurizer analog of `ner/NerFeaturizer.scala`;
  *  - **Viterbi** is per-turn dynamic programming: turns are bounded, so the
  *    decode runs in `flatMapGroups` per (conv_id, turn_idx) — the sanctioned
  *    per-group imperative kernel (doc-at-a-time in the reference,
  *    `NerSystemLabeled.decode`). Tie-breaks prefer O, then B, then I, and
  *    the score recurrence is associated `(prev + trans) + emit` so the
  *    DuckDB recursive-CTE oracle reproduces it bit-for-bit;
  *  - **chunking**: B starts a chunk, following I's extend it (A11 eval =
  *    chunk P/R/F1, `ner/NEEvaluator.scala:56-140`);
  *  - **label-domain pruning** (B6, `ner/NerPruner.scala`): per-token allowed
  *    labels within an emission margin of the best.
  */
object Ner {

  // transition weights trans(prev)(next); label order O=0, B=1, I=2
  val Labels: Vector[String] = Vector("O", "B", "I")
  val Trans: Array[Array[Double]] = Array(
    Array(0.0, 0.0, -5.0), // from O
    Array(0.0, -0.5, 0.5), // from B
    Array(0.0, -0.5, 0.5)) // from I
  val Init: Array[Double] = Array(0.0, 0.0, -5.0)

  /** Per-token emission scores (exact-representable weights). */
  def emissions(transcripts: DataFrame): DataFrame = {
    val toks = transcripts.select(col("conv_id"), col("turn_idx"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("conv_id"), col("turn_idx")).orderBy(col("pos"))
    val ident = col("tok").rlike("^(?:[A-Za-z]+[#-])?[0-9]+$").cast("double")
    val capMid = (col("pos") > 0 && col("tok").rlike("^[A-Z][A-Za-z0-9#-]*$")).cast("double")
    val digits = col("tok").rlike("^[0-9]+$").cast("double")
    // continuation feature: the PREVIOUS token is entity-capitalized AND this
    // token itself is entity-shaped (cap or digit-led) — without the self
    // condition every lowercase word following an entity would look like I
    val selfEnt = col("tok").rlike("^[A-Z0-9][A-Za-z0-9#-]*$")
    toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .withColumn("cont",
        (coalesce(col("prev").rlike("^[A-Z][A-Za-z0-9#-]*$"), lit(false)) && selfEnt)
          .cast("double"))
      .select(col("conv_id"), col("turn_idx"), col("pos"), col("tok"),
        lit(0.5).as("e_o"),
        (lit(-2.0) + lit(4.0) * ident + lit(3.0) * capMid).as("e_b"),
        (lit(-3.0) + lit(2.0) * digits + lit(3.5) * col("cont")).as("e_i"))
  }

  private case class Emis(pos: Int, tok: String, e: Array[Double])

  /** G2 Viterbi decode: `(conv_id, turn_idx, pos, tok, label)`. */
  def viterbi(spark: SparkSession, emissions: DataFrame): DataFrame = {
    import spark.implicits._
    emissions
      .select(col("conv_id"), col("turn_idx"), col("pos"), col("tok"),
        col("e_o"), col("e_b"), col("e_i"))
      .as[(String, Int, Int, String, Double, Double, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, Int), it: Iterator[(String, Int, Int, String, Double, Double, Double)]) =>
        val (conv, turn) = key
        val toks = it.map(r => Emis(r._3, r._4, Array(r._5, r._6, r._7)))
          .toArray.sortBy(_.pos)
        val n = toks.length
        val score = Array.ofDim[Double](n, 3)
        val back = Array.ofDim[Int](n, 3)
        var l = 0
        while (l < 3) { score(0)(l) = Init(l) + toks(0).e(l); l += 1 }
        var p = 1
        while (p < n) {
          var cur = 0
          while (cur < 3) {
            // candidates associated (prev + trans), argmax prefers the
            // lowest label index on ties (O, then B, then I) — mirrors the
            // oracle's CASE evaluation order
            var bestL = 0
            var best = score(p - 1)(0) + Trans(0)(cur)
            var prev = 1
            while (prev < 3) {
              val c = score(p - 1)(prev) + Trans(prev)(cur)
              if (c > best) { best = c; bestL = prev }
              prev += 1
            }
            score(p)(cur) = best + toks(p).e(cur)
            back(p)(cur) = bestL
            cur += 1
          }
          p += 1
        }
        var endL = 0
        l = 1
        while (l < 3) { if (score(n - 1)(l) > score(n - 1)(endL)) endL = l; l += 1 }
        val labels = new Array[Int](n)
        labels(n - 1) = endL
        p = n - 1
        while (p > 0) { labels(p - 1) = back(p)(labels(p)); p -= 1 }
        toks.indices.map(i => (conv, turn, toks(i).pos, toks(i).tok, Labels(labels(i))))
      }
      .toDF("conv_id", "turn_idx", "pos", "tok", "label")
  }

  /** Three-way log-sum-exp, associated EXACTLY like the DuckDB oracle's
    * expression (`ln(exp(x0-m)+exp(x1-m)+exp(x2-m)) + m`, left-assoc sum,
    * `m = greatest`). JVM Math.exp/log and DuckDB's libm are not
    * bit-identical, so this buys identical ASSOCIATION only — remaining
    * differences stay within ulps and are absorbed by the oracle's 6dp
    * rounding (a knife-edge marginal at a .xxxxxx5 boundary is the
    * theoretical residual risk). */
  private def lse3(x0: Double, x1: Double, x2: Double): Double = {
    val m = math.max(math.max(x0, x1), x2)
    math.log(math.exp(x0 - m) + math.exp(x1 - m) + math.exp(x2 - m)) + m
  }

  /** G2 forward-backward: per-token posterior marginals over labels
    * (`NerSystemLabeled.scala:52-128`'s sum-product pass). Log-space; the
    * recurrences are associated `(LSE…) + emit` to mirror the recursive-CTE
    * oracle. Output: `(conv_id, turn_idx, pos, tok, m_o, m_b, m_i)`. */
  def forwardBackward(spark: SparkSession, emissions: DataFrame): DataFrame = {
    import spark.implicits._
    emissions
      .select(col("conv_id"), col("turn_idx"), col("pos"), col("tok"),
        col("e_o"), col("e_b"), col("e_i"))
      .as[(String, Int, Int, String, Double, Double, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (String, Int), it: Iterator[(String, Int, Int, String, Double, Double, Double)]) =>
        val (conv, turn) = key
        val toks = it.map(r => Emis(r._3, r._4, Array(r._5, r._6, r._7)))
          .toArray.sortBy(_.pos)
        val n = toks.length
        val a = Array.ofDim[Double](n, 3)
        val b = Array.ofDim[Double](n, 3)
        var l = 0
        while (l < 3) { a(0)(l) = Init(l) + toks(0).e(l); l += 1 }
        var p = 1
        while (p < n) {
          l = 0
          while (l < 3) {
            a(p)(l) = lse3(
              a(p - 1)(0) + Trans(0)(l),
              a(p - 1)(1) + Trans(1)(l),
              a(p - 1)(2) + Trans(2)(l)) + toks(p).e(l)
            l += 1
          }
          p += 1
        }
        // b(n-1)(l) = 0 by Array init
        p = n - 2
        while (p >= 0) {
          l = 0
          while (l < 3) {
            b(p)(l) = lse3(
              Trans(l)(0) + toks(p + 1).e(0) + b(p + 1)(0),
              Trans(l)(1) + toks(p + 1).e(1) + b(p + 1)(1),
              Trans(l)(2) + toks(p + 1).e(2) + b(p + 1)(2))
            l += 1
          }
          p -= 1
        }
        val z = lse3(a(n - 1)(0), a(n - 1)(1), a(n - 1)(2))
        toks.indices.map { i =>
          (conv, turn, toks(i).pos, toks(i).tok,
            math.exp((a(i)(0) + b(i)(0)) - z),
            math.exp((a(i)(1) + b(i)(1)) - z),
            math.exp((a(i)(2) + b(i)(2)) - z))
        }
      }
      .toDF("conv_id", "turn_idx", "pos", "tok", "m_o", "m_b", "m_i")
  }

  /** B6 marginal-threshold pruning (`ner/NerPruner.scala:1-98`, default −9):
    * per-token label domain = labels whose LOG posterior is within
    * `logThreshold` of the best label's — the domain the joint factor graph
    * searches. */
  def marginalDomains(fb: DataFrame, logThreshold: Double = -9.0): DataFrame = {
    val best = greatest(col("m_o"), col("m_b"), col("m_i"))
    val cut = best * math.exp(logThreshold)
    fb.withColumn("domain", filter(array(
      when(col("m_o") >= cut, "O"),
      when(col("m_b") >= cut, "B"),
      when(col("m_i") >= cut, "I")), _.isNotNull))
  }

  /** Decoded chunks `(conv_id, turn_idx, start, end)` — B opens, I extends. */
  def chunks(labeled: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id"), col("turn_idx")).orderBy(col("pos"))
    labeled
      .withColumn("grp",
        sum(when(col("label") =!= "I", 1).otherwise(0)).over(w))
      .filter(col("label") =!= "O")
      .groupBy(col("conv_id"), col("turn_idx"), col("grp"))
      .agg(min(col("pos")).as("start"), max(col("pos")).as("end"))
      .drop("grp")
  }

  /** A11 chunk P/R/F1 vs gold extents keyed (conv_id, turn_idx, start, end)
    * — one aggregation, no driver-side counts (shared with A7). */
  def chunkF1(pred: DataFrame, gold: DataFrame): DataFrame =
    graft.pipeline.Eval.extentPRF(pred, gold)
}
