package graft

import org.apache.spark.sql.functions._
import graft.joint.JointInference

/** G1 joint inference: information must flow BOTH ways through the
  * cross-task factor — coref edges type untyped mentions (type flows from
  * the antecedent), and type agreement re-ranks tied antecedents. */
class JointSpec extends SparkSuite {
  import spark.implicits._

  // m0: strongly ORG; m1: strongly IDENT; m2: untyped (flat prior), strongly
  // linked to m0; m3: IDENT-typed, pair scores TIED between m0 and m1.
  val priors = Seq(
    ("c", "m0", Seq(0.1, 0.8, 0.1)),
    ("c", "m1", Seq(0.8, 0.1, 0.1)),
    ("c", "m2", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)),
    ("c", "m3", Seq(0.8, 0.1, 0.1))
  ).toDF("conv_id", "mention_id", "prior")

  val scored = Seq(
    ("m0", "m2", 3.0), // m2 -> m0, strong
    ("m0", "m3", 1.0), // m3: tied between m0 (ORG) ...
    ("m1", "m3", 1.0)  //     ... and m1 (IDENT)
  ).toDF("ant_id", "cur_id", "score")

  lazy val out = JointInference.infer(spark, priors, scored, coupling = 1.5)
    .collect().map(r => r.getString(0) ->
      (Option(r.getString(1)), r.getString(3), r.getDouble(4))).toMap

  test("type flows along a coref edge to an untyped mention") {
    val (ant, tpe, p) = out("m2")
    assert(ant === Some("m0"))
    assert(tpe === "ORG", s"m2 must inherit its antecedent's type, got $tpe")
    assert(p > 0.4, s"posterior must move off the flat prior: $p")
  }

  test("type agreement breaks antecedent ties") {
    val (ant, tpe, _) = out("m3")
    assert(tpe === "IDENT")
    assert(ant === Some("m1"),
      "with equal pair scores the type-compatible antecedent must win")
  }

  test("without coupling the tie falls back to the id tie-break") {
    val flat = JointInference.infer(spark, priors, scored, coupling = 0.0)
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(flat("m3") === Some("m0"), "coupling 0 => pure score, ties to lowest id")
  }

  test("neutral evidence reproduces the factor-pair model exactly") {
    val ev = Seq(("m0", 0.0, 0.0), ("m1", 0.0, 0.0), ("m2", 0.0, 0.0), ("m3", 0.0, 0.0))
      .toDF("mention_id", "p_entity", "new_bias")
    val withEv = JointInference.infer(spark, priors, scored, coupling = 1.5,
      evidence = Some(ev), nerCoupling = 2.0)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getString(3), r.getDouble(4))).toMap
    assert(withEv === out, "p_entity=0, new_bias=0 must be a no-op")
  }

  test("NER-agreement factor types an untyped mention off OTHER") {
    val p = Seq(("c", "m0", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)))
      .toDF("conv_id", "mention_id", "prior")
    val noPairs = Seq.empty[(String, String, Double)].toDF("ant_id", "cur_id", "score")
    val ev = Seq(("m0", 0.9, 0.0)).toDF("mention_id", "p_entity", "new_bias")
    val r = JointInference.infer(spark, p, noPairs, coupling = 1.0,
      evidence = Some(ev), nerCoupling = 2.0).collect()(0)
    assert(r.getString(3) !== "OTHER",
      "strong NER entity evidence must pull the type off OTHER")
    assert(r.getDouble(4) > 0.4)
  }

  test("anaphoricity bias flips a weak link from new-entity to anaphoric") {
    val p = Seq(("c", "a0", Seq(0.1, 0.8, 0.1)), ("c", "a1", Seq(0.1, 0.8, 0.1)))
      .toDF("conv_id", "mention_id", "prior")
    val weak = Seq(("a0", "a1", -0.5)).toDF("ant_id", "cur_id", "score")
    def antOf(ev: Option[org.apache.spark.sql.DataFrame]) =
      JointInference.infer(spark, p, weak, coupling = 0.0, evidence = ev)
        .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap.apply("a1")
    assert(antOf(None) === None,
      "exp(-0.5) < 1: without bias the new-entity arc wins")
    val ev = Seq(("a1", 0.0, -2.0)).toDF("mention_id", "p_entity", "new_bias")
    assert(antOf(Some(ev)) === Some("a0"),
      "an anaphoric mention (new_bias=-2) must link to the weak antecedent")
  }

  test("wiki factor: linking evidence flips an ambiguous antecedent") {
    // flat type priors so the type factor is neutral; w1's raw arc score
    // beats w0's, but w0 shares cur's denotation
    val p = Seq(("c", "w0", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)),
      ("c", "w1", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)),
      ("c", "w2", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)))
      .toDF("conv_id", "mention_id", "prior")
    val sc = Seq(("w0", "w2", 0.8), ("w1", "w2", 1.0)).toDF("ant_id", "cur_id", "score")
    val grid = Seq(("w0", "Title_A", 2.0), ("w1", "Title_B", 2.0), ("w2", "Title_A", 2.0))
      .toDF("mention_id", "title", "dscore")
    def antOf(wc: Double) = JointInference.infer(spark, p, sc, coupling = 0.0,
      wikiScores = Some(grid), wikiCoupling = wc)
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap.apply("w2")
    assert(antOf(0.0) === Some("w1"), "coupling 0: higher raw score wins")
    assert(antOf(2.0) === Some("w0"),
      "denotation agreement must flip the antecedent to the co-linked mention")
  }

  test("wiki factor: a strong coref link pulls an ambiguous denotation to the antecedent's") {
    val p = Seq(("c", "w0", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)),
      ("c", "w2", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)))
      .toDF("conv_id", "mention_id", "prior")
    val sc = Seq(("w0", "w2", 3.0)).toDF("ant_id", "cur_id", "score")
    val grid = Seq(("w0", "Title_A", 3.0), // antecedent: peaked at A
      ("w2", "Title_A", 1.0), ("w2", "Title_B", 1.0)) // cur: A/B tied
      .toDF("mention_id", "title", "dscore")
    val r = JointInference.infer(spark, p, sc, coupling = 0.0,
      wikiScores = Some(grid), wikiCoupling = 2.0)
      .collect().map(x => x.getString(0) -> (Option(x.getString(5)), x.getDouble(6))).toMap
    val (t2, p2) = r("w2")
    assert(t2 === Some("Title_A"), "coref link must break the denotation tie")
    assert(p2 > 0.5, s"posterior must move off the tie: $p2")
  }

  test("wiki factor: no grid / zero coupling is a no-op on coref and types") {
    val base = JointInference.infer(spark, priors, scored, coupling = 1.5)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getString(3), r.getDouble(4))).toMap
    val grid = Seq(("m0", "Title_A", 2.0), ("m3", "Title_A", 2.0))
      .toDF("mention_id", "title", "dscore")
    val zeroC = JointInference.infer(spark, priors, scored, coupling = 1.5,
      wikiScores = Some(grid), wikiCoupling = 0.0)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getString(3), r.getDouble(4))).toMap
    assert(zeroC === base, "wikiCoupling=0 must not perturb the factor-pair model")
  }

  // ---- coupling training (the reference learns factor weights by
  // ---- BP-gradient Adagrad, JointComputerShared.scala:47-102) ------------

  private def decodeWith(c: JointInference.Couplings,
      wiki: Option[org.apache.spark.sql.DataFrame] = None,
      p: org.apache.spark.sql.DataFrame = priors,
      sc: org.apache.spark.sql.DataFrame = scored) =
    JointInference.infer(spark, p, sc, coupling = c.coref,
      nerCoupling = c.ner, wikiScores = wiki, wikiCoupling = c.wiki,
      wikiNilScore = c.wikiNil)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getString(3), Option(r.getString(5)))).toMap

  test("trainCouplings: trained type coupling beats the zero-coupling start on decode accuracy") {
    // the reference trains factor weights against the BP log-likelihood
    // (joint/JointComputerShared.scala:47-102). Gold: m2 links to m0 (ORG
    // side), m3 links to m1 (IDENT side) — only a positive type-agreement
    // coupling can rescue m3 from the id tie-break
    val gold = Seq(
      ("m0", null: String, "ORG", null: String),
      ("m1", null: String, "IDENT", null: String),
      ("m2", "m0", "ORG", null: String),
      ("m3", "m1", "IDENT", null: String))
      .toDF("mention_id", "g_ant", "g_type", "g_wiki")
    def acc(c: JointInference.Couplings): Double = {
      val d = decodeWith(c)
      val ok = Seq(
        d("m2")._1 == Some("m0"), d("m3")._1 == Some("m1"),
        d("m0")._2 == "ORG", d("m1")._2 == "IDENT",
        d("m2")._2 == "ORG", d("m3")._2 == "IDENT").count(identity)
      ok.toDouble / 6
    }
    val init = JointInference.Couplings(0, 0, 0, 0)
    val (trained, trace) = JointInference.trainCouplings(spark, priors, scored,
      gold, epochs = 8, eta = 1.0, iters = 6, init = init)
    info(s"trained couplings: $trained  trace: ${trace.map(_._2).map(l => f"$l%.3f")}")
    assert(trained.coref > 0.0, "gold agreement evidence must push the coupling up")
    assert(trace.last._2 < trace.head._2, "joint -loglik must decrease")
    assert(acc(trained) >= acc(init),
      "trained couplings must not decode worse than the hand-set start")
    assert(acc(trained) === 1.0,
      "on this fixture the trained coupling must fix the m3 tie")
    val d = decodeWith(trained)
    assert(d("m2")._1 === Some("m0"))
    assert(d("m3")._1 === Some("m1"),
      "the trained coupling must fix the m3 tie under BP decode")
    assert(d("m2")._2 === "ORG" && d("m3")._2 === "IDENT")
  }

  test("trainCouplings: wiki coupling learns to flip the co-linked antecedent") {
    val p = Seq(("c", "w0", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)),
      ("c", "w1", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)),
      ("c", "w2", Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)))
      .toDF("conv_id", "mention_id", "prior")
    val sc = Seq(("w0", "w2", 0.8), ("w1", "w2", 1.0)).toDF("ant_id", "cur_id", "score")
    val grid = Seq(("w0", "Title_A", 2.0), ("w1", "Title_B", 2.0), ("w2", "Title_A", 2.0))
      .toDF("mention_id", "title", "dscore")
    val gold = Seq(
      ("w0", null: String, null: String, "Title_A"),
      ("w1", null: String, null: String, "Title_B"),
      ("w2", "w0", null: String, "Title_A"))
      .toDF("mention_id", "g_ant", "g_type", "g_wiki")
    val (trained, trace) = JointInference.trainCouplings(spark, p, sc, gold,
      epochs = 5, eta = 1.0, iters = 6, wikiScores = Some(grid))
    info(s"trained couplings: $trained  trace: ${trace.map(_._2).map(l => f"$l%.3f")}")
    assert(trained.wiki > 0.0, "shared-denotation gold evidence must push wikiCoupling up")
    assert(trace.last._2 < trace.head._2)
    val d = decodeWith(trained, wiki = Some(grid), p = p, sc = sc)
    assert(d("w2")._1 === Some("w0"),
      "trained wiki coupling must flip the antecedent to the co-linked mention")
    assert(d("w2")._3 === Some("Title_A"))
  }

  test("goldLogLik on an empty slice is 0, and trainCouplings survives it") {
    val p0 = Seq.empty[(String, String, Seq[Double])]
      .toDF("conv_id", "mention_id", "prior")
    val sc0 = Seq.empty[(String, String, Double)].toDF("ant_id", "cur_id", "score")
    val g0 = Seq.empty[(String, String, String, String)]
      .toDF("mention_id", "g_ant", "g_type", "g_wiki")
    assert(JointInference.goldLogLik(spark, p0, sc0, g0,
      JointInference.Couplings(1, 0, 0, 0)) === 0.0)
    // an empty fold must yield a finite (zero-gradient) training run, not
    // an UnsupportedOperationException out of Dataset.reduce
    val (c, trace) = JointInference.trainCouplings(spark, p0, sc0, g0,
      epochs = 2, eta = 1.0, iters = 2)
    assert(trace.forall(_._2 === 0.0))
    assert(c === JointInference.Couplings(0, 0, 0, 0))
  }

  // ---- loopy sum-product BP: exact on trees, a no-op at zero couplings --

  test("BP is EXACT on a tree-structured conversation (brute-force enumeration)") {
    // chain w0 <- w1 <- w2: factors F(A1,T1,T0), F(A2,T2,T1) and (wiki part)
    // F'(A2,W2,W1) — acyclic, so sum-product marginals equal the true ones.
    val p0 = Array(0.7, 0.2, 0.1)
    val p1 = Array(0.3, 0.4, 0.3)
    val p2 = Array(0.2, 0.3, 0.5)
    val (s1, s2) = (0.4, 0.7)
    val kap = 1.3; val kapW = 0.9; val nil = 0.1
    val priors = Seq(("c", "w0", p0.toSeq), ("c", "w1", p1.toSeq), ("c", "w2", p2.toSeq))
      .toDF("conv_id", "mention_id", "prior")
    val sc = Seq(("w0", "w1", s1), ("w1", "w2", s2)).toDF("ant_id", "cur_id", "score")
    // wiki grids: w1 = {T_A}, w2 = {T_A, T_B}; w0 none (no wiki factor on arc 1)
    val grid = Seq(("w1", "T_A", 0.5), ("w2", "T_A", 0.8), ("w2", "T_B", 0.2))
      .toDF("mention_id", "title", "dscore")
    def softmax(raw: Seq[Double]): Array[Double] = {
      val mx = raw.max; val e = raw.map(v => math.exp(v - mx)); val z = e.sum
      e.map(_ / z).toArray
    }
    val u1 = softmax(Seq(0.5, nil))      // w1 domain: T_A, NIL
    val u2 = softmax(Seq(0.8, 0.2, nil)) // w2 domain: T_A, T_B, NIL

    // brute force: a1, a2 in {0 = arc, 1 = new}; t* in 0..2;
    // v1 in {0 = T_A, 1 = NIL}; v2 in {0 = T_A, 1 = T_B, 2 = NIL}
    var z = 0.0
    val mA1 = Array.fill(2)(0.0); val mA2 = Array.fill(2)(0.0)
    val mT = Array.fill(3, 3)(0.0)
    val mW2 = Array.fill(3)(0.0)
    for (a1 <- 0 to 1; a2 <- 0 to 1; t0 <- 0 to 2; t1 <- 0 to 2; t2 <- 0 to 2;
         v1 <- 0 to 1; v2 <- 0 to 2) {
      var w = p0(t0) * p1(t1) * p2(t2) * u1(v1) * u2(v2)
      if (a1 == 0) { w *= math.exp(s1); if (t1 == t0) w *= math.exp(kap) }
      if (a2 == 0) {
        w *= math.exp(s2); if (t2 == t1) w *= math.exp(kap)
        if (v1 == 0 && v2 == 0) w *= math.exp(kapW) // shared REAL title T_A
      }
      z += w; mA1(a1) += w; mA2(a2) += w
      mT(0)(t0) += w; mT(1)(t1) += w; mT(2)(t2) += w
      mW2(v2) += w
    }
    val exact = (mA1.map(_ / z), mA2.map(_ / z),
      mT.map(_.map(_ / z)), mW2.map(_ / z))

    val out = JointInference.infer(spark, priors, sc, coupling = kap,
      iters = 30, wikiScores = Some(grid), wikiCoupling = kapW,
      wikiNilScore = nil)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getDouble(2), r.getString(3), r.getDouble(4),
          Option(r.getString(5)), r.getDouble(6))).toMap

    // antecedent marginals (arcs dominate by construction)
    assert(exact._1(0) > 0.5 && exact._2(0) > 0.5, "fixture sanity: arcs win")
    assert(out("w1")._1 === Some("w0"))
    assert(math.abs(out("w1")._2 - exact._1(0)) < 1e-9,
      s"P(A1=arc): bp=${out("w1")._2} exact=${exact._1(0)}")
    assert(out("w2")._1 === Some("w1"))
    assert(math.abs(out("w2")._2 - exact._2(0)) < 1e-9,
      s"P(A2=arc): bp=${out("w2")._2} exact=${exact._2(0)}")
    // type marginals: argmax + probability per mention
    Seq("w0", "w1", "w2").zipWithIndex.foreach { case (id, i) =>
      val ex = exact._3(i)
      val bt = ex.indices.maxBy(t => (ex(t), -t))
      assert(out(id)._3 === JointInference.Types(bt), s"type argmax of $id")
      assert(math.abs(out(id)._4 - ex(bt)) < 1e-9,
        s"P(T_$id): bp=${out(id)._4} exact=${ex(bt)}")
    }
    // denotation marginal of w2
    val exW = exact._4
    assert(exW(0) > exW(1) && exW(0) > exW(2), "fixture sanity: T_A wins")
    assert(out("w2")._5 === Some("T_A"))
    assert(math.abs(out("w2")._6 - exW(0)) < 1e-9,
      s"P(W2=T_A): bp=${out("w2")._6} exact=${exW(0)}")
  }

  test("BP with zero couplings is a no-op: the beliefs are the unaries") {
    // zero couplings: every factor is constant 1, so every message is 1 and
    // the beliefs are the normalized unaries — exp(score) per arc against
    // exp(new_bias) = 1 for the antecedent, the prior for the type
    val zero = JointInference.infer(spark, priors, scored, coupling = 0.0, iters = 4)
      .collect().map(r => r.getString(0) ->
        (Option(r.getString(1)), r.getDouble(2), r.getString(3), r.getDouble(4))).toMap
    val e1 = math.exp(1.0); val e3 = math.exp(3.0)
    val pr = priors.collect().map(r => r.getString(1) -> r.getSeq[Double](2)).toMap
    val expected = Map(
      // m2: one arc (score 3) against the new-entity arc
      "m2" -> (Some("m0"), e3 / (e3 + 1.0)),
      // m3: two tied arcs (score 1): the lowest antecedent id wins the tie
      "m3" -> (Some("m0"), e1 / (2 * e1 + 1.0)),
      // m0, m1: no candidates
      "m0" -> (None, 1.0), "m1" -> (None, 1.0))
    expected.foreach { case (id, (ant, pAnt)) =>
      val (gotAnt, gotP, tpe, pType) = zero(id)
      assert(gotAnt === ant, s"antecedent of $id")
      assert(math.abs(gotP - pAnt) < 1e-12, s"p_ant of $id: $gotP vs $pAnt")
      val p = pr(id); val z = p.sum
      val bt = p.indices.maxBy(t => (p(t), -t))
      assert(tpe === JointInference.Types(bt), s"type of $id")
      assert(math.abs(pType - p(bt) / z) < 1e-12, s"p_type of $id: $pType")
    }
  }

  test("typePriors derive from surface sem-class") {
    val m = Seq(("x", "c", "Customer#000000007"), ("y", "c", "the vendor"))
      .toDF("mention_id", "conv_id", "surface")
    val p = JointInference.typePriors(m).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    assert(p("x")(0) === 0.8) // IDENT
    assert(p("y")(1) === 0.8) // ORG (nominal head)
  }
}
