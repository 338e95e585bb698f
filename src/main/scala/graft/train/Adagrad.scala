package graft.train

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-coordinate Adagrad with a lazy L1 proximal step — the one update rule
  * every trainer in the engine uses, as the reference trains every model
  * with it (`CorefFeaturizerTrainer.scala:156-193`, defaults η = 1.0,
  * λ = 0.001, `Driver.java:168-173`). For gradient `g`, squared-gradient
  * accumulator `sq` and weight `w`:
  *
  * {{{
  *   sq' = sq + g²        h = 1 + √sq'        w̃ = w − η·g / h
  *   w'  = sign(w̃) · max(0, |w̃| − η·λ / h)
  * }}}
  *
  * With λ = 0 the proximal factor is exactly `|w̃|`, so `w' = w̃` bit for
  * bit: the plain Adagrad step. The scalar form updates driver-held arrays;
  * the column form is the same arithmetic, in the same order, for a model
  * that lives in a DataFrame. */
object Adagrad {

  /** One step on coordinate `i` of `w`/`sq`, in place. */
  def step(w: Array[Double], sq: Array[Double], i: Int, g: Double,
      eta: Double, lambda: Double): Unit = {
    sq(i) += g * g
    val h = 1.0 + math.sqrt(sq(i))
    val wi = w(i) - eta * g / h
    w(i) = math.signum(wi) * math.max(0.0, math.abs(wi) - eta * lambda / h)
  }

  /** One step on every coordinate, with `grad` the full gradient. */
  def update(w: Array[Double], sq: Array[Double], grad: Array[Double],
      eta: Double, lambda: Double): Unit = {
    var i = 0
    while (i < w.length) {
      step(w, sq, i, grad(i), eta, lambda)
      i += 1
    }
  }

  /** The step as column expressions: `(w', sq')`. Null inputs read as 0 —
    * a feature new to the model, or one with no gradient this epoch. */
  def columns(w: Column, sq: Column, g: Column, eta: Double,
      lambda: Double): (Column, Column) = {
    val g0 = coalesce(g, lit(0.0))
    val sqN = coalesce(sq, lit(0.0)) + g0 * g0
    val h = lit(1.0) + sqrt(sqN)
    val wi = coalesce(w, lit(0.0)) - lit(eta) * g0 / h
    (signum(wi) * greatest(abs(wi) - lit(eta * lambda) / h, lit(0.0)), sqN)
  }
}
