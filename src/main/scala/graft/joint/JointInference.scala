package graft.joint

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** G1 joint coref+type inference (SURVEY.md §2.10) — the reference's
  * doc-local factor graph (`joint/JointDocFactorGraphOnto.scala:33-99`)
  * scoped to its two load-bearing ideas and run Spark-first:
  *
  *  - variables per conversation: `A_c` (antecedent choice of mention c,
  *    domain = its scored candidates + a "new entity" arc at score 0) and
  *    `T_m` (semantic type of mention m, domain = [[Types]], unary prior
  *    from the mention's surface);
  *  - the cross-task factor family (`BetterPropertyFactor`,
  *    `JointDocFactorGraphOnto.scala:62-65`): choosing antecedent `a` for
  *    `c` multiplies in `exp(coupling·[T_c = T_a])` — coref links pull the
  *    linked mentions' types together, and type (dis)agreement re-ranks
  *    antecedents;
  *  - loopy sum-product BP ([[runConvBP]]), the reference's inference
  *    algorithm (`bp/Node.scala:80-127`, `SimpleFactorGraph.scala:100-158`),
  *    iterated to a fixed round count — per-conversation, exactly the
  *    reference's document-at-a-time inference unit: the graph NEVER crosses
  *    conversations, so the distributed shape is a keyed group, not a
  *    distributed graph. On tree-structured conversations its marginals
  *    equal brute-force enumeration to 1e-9 (JointSpec).
  *
  * Round 4 added the reference's WIKI factor family
  * (`JointDocFactorGraphOnto.scala:149-172,230-237`): a latent denotation
  * variable per mention over its L5 query/denotation grid titles + NIL, and
  * a coref-link/denotation-agreement factor — see [[infer]]'s `wikiScores`.
  *
  * Round 5 adds COUPLING TRAINING ([[trainCouplings]]): the reference learns
  * every factor weight by BP-gradient Adagrad
  * (`JointComputerShared.scala:47-102`, `GeneralTrainer.scala:100-135`);
  * the scoped version optimizes the 4 coupling scalars against gold
  * antecedent/type/title assignments — the smooth objective is the summed
  * log-marginal of the gold assignment under the converged BP beliefs
  * ([[goldLogLik]]), its gradient taken by central finite differences and
  * fed through the engine's one Adagrad step ([[graft.train.Adagrad]],
  * λ = 0).
  *
  * Output: per mention, the joint antecedent argmax (or none), the type
  * posterior argmax with its probability, and the denotation argmax (MBR
  * decode per task).
  */
object JointInference {

  val Types: Vector[String] = Vector("IDENT", "ORG", "OTHER")

  /** Uniform-ish unary type prior from the mention surface via
    * [[graft.functions.semClass]] — UNKNOWN-safe: OTHER-class surfaces get a
    * flat prior, typed surfaces a peaked one. */
  def typePriors(mentions: DataFrame): DataFrame = {
    val sc = graft.functions.semClass(element_at(split(col("surface"), " "), -1))
    mentions.select(col("mention_id"), col("conv_id"),
      when(sc === "IDENT", array(lit(0.8), lit(0.1), lit(0.1)))
        .when(sc.isin("ORG", "PRON"), array(lit(0.1), lit(0.8), lit(0.1)))
        .otherwise(array(lit(1.0 / 3), lit(1.0 / 3), lit(1.0 / 3)))
        .as("prior"))
  }

  /** The 4 learnable factor-strength scalars (the reference's factor
    * weights, scoped): type-agreement, NER-agreement, denotation-agreement,
    * NIL unary. */
  case class Couplings(coref: Double = 1.0, ner: Double = 0.0,
      wiki: Double = 0.0, wikiNil: Double = 0.0)

  private case class MRow(id: String, prior: Array[Double],
      pEnt: Double, newBias: Double, wopts: Array[(String, Double)],
      gAnt: String, gType: String, gWiki: String)

  /** Converged per-conversation beliefs. */
  private case class ConvBeliefs(
      mentions: Array[MRow],
      cands: Map[Int, Array[(Int, Double)]],
      pAnt: collection.Map[Int, Array[Double]],
      qType: Array[Array[Double]],
      qWiki: Array[Array[Double]],
      wTitles: Array[Array[String]])

  /** Loopy sum-product BP kernel for ONE conversation — pure function of
    * the mention rows, candidate arcs, and couplings; runs inside the
    * cogroup on executors. The factors:
    *
    *  - per arc (c, j → a): a TYPE factor F(A_c, T_c, T_a) =
    *    `exp(coref·[t_c = t_a])` when `A_c = j`, else 1;
    *  - per arc where both ends carry titles: a WIKI factor
    *    F'(A_c, W_c, W_a) = `exp(wiki·[w_c = w_a ≠ NIL])` when `A_c = j`;
    *  - unaries: `exp(score)` / `exp(new_bias)` on A_c, the NER-boosted
    *    prior `prior(t)·exp(ner·p_ent·[t ≠ OTHER])` on T_m, and
    *    `softmax(best dscore per title, NIL @ wikiNil)` on W_m over its
    *    sorted-distinct titles.
    *
    * Messages use CAVITY beliefs (belief divided by the receiving factor's
    * own message), which buys exactness on tree-structured conversations
    * (JointSpec pins BP == brute-force enumeration there). Synchronous
    * flooding schedule, fixed iteration count, no damping (conversation
    * graphs are small). Messages of the form `1 + q·(e^κ − 1)·τ` are
    * bounded below by `min(1, e^κ) > 0`, so the divisions are safe for any
    * finite coupling. */
  private def runConvBP(mentions: Array[MRow],
      cands: Map[Int, Array[(Int, Double)]], cpl: Couplings,
      iters: Int): ConvBeliefs = {
    val k = Types.size
    val n = mentions.length
    val expC = math.exp(cpl.coref)
    val expW = math.exp(cpl.wiki)
    val wikiOn = cpl.wiki != 0.0
    // unaries: NER-boosted type priors; denotation domains (sorted distinct
    // candidate titles, implicit NIL at index titles.length) and their
    // softmax unaries
    val otherIdx = Types.indexOf("OTHER")
    val effPrior: Array[Array[Double]] = Array.tabulate(n) { i =>
      val boost = math.exp(cpl.ner * mentions(i).pEnt)
      Array.tabulate(k)(t =>
        mentions(i).prior(t) * (if (t == otherIdx) 1.0 else boost))
    }
    val wTitles: Array[Array[String]] =
      mentions.map(m => m.wopts.map(_._1).distinct.sorted)
    val wIdx: Array[Map[String, Int]] = wTitles.map(_.zipWithIndex.toMap)
    val wUnary: Array[Array[Double]] = Array.tabulate(n) { i =>
      val ts = wTitles(i)
      if (ts.isEmpty) Array.empty[Double]
      else {
        val best = mentions(i).wopts.groupBy(_._1)
          .map { case (t, xs) => t -> xs.map(_._2).max }
        val raw = ts.map(best) :+ cpl.wikiNil
        val mx = raw.max
        val e = raw.map(v => math.exp(v - mx)); val z = e.sum; e.map(_ / z)
      }
    }

    // flat arc/factor table: arc f is (cur(f), j-within-cur, ant(f));
    // arcsByCur(m)(j) = f — array indexing in the hot loops, no tuple-keyed
    // hash lookups
    val curArr = scala.collection.mutable.ArrayBuffer.empty[Int]
    val jArr = scala.collection.mutable.ArrayBuffer.empty[Int]
    val antArr = scala.collection.mutable.ArrayBuffer.empty[Int]
    val arcW = scala.collection.mutable.ArrayBuffer.empty[Double]
    val arcsByCur: Array[Array[Int]] = Array.fill(n)(Array.empty[Int])
    cands.toSeq.sortBy(_._1).foreach { case (c, as) =>
      val fs = new Array[Int](as.length)
      var j = 0
      while (j < as.length) {
        fs(j) = curArr.length
        curArr += c; jArr += j; antArr += as(j)._1; arcW += math.exp(as(j)._2)
        j += 1
      }
      arcsByCur(c) = fs
    }
    val nArcs = curArr.length
    // reverse adjacency: factor indices with ant == m (one pass; the
    // belief recomputes below stay O(arcs × states) per iteration)
    val arcsByAnt: Array[Array[Int]] = {
      val buf = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
      var f = 0
      while (f < nArcs) { buf(antArr(f)) += f; f += 1 }
      buf.map(_.toArray)
    }
    // messages: type factor → (A ratio at x=j, T_cur vector, T_ant vector);
    // wiki factor → same shape over the REAL titles (NIL message is 1)
    val rT = Array.fill(nArcs)(1.0)
    val mTc = Array.fill(nArcs)(Array.fill(k)(1.0))
    val mTa = Array.fill(nArcs)(Array.fill(k)(1.0))
    val hasWikiF = Array.tabulate(nArcs)(f =>
      wikiOn && wTitles(curArr(f)).nonEmpty && wTitles(antArr(f)).nonEmpty)
    val rW = Array.fill(nArcs)(1.0)
    val mWc = Array.tabulate(nArcs)(f =>
      if (hasWikiF(f)) Array.fill(wTitles(curArr(f)).length)(1.0) else Array.empty[Double])
    val mWa = Array.tabulate(nArcs)(f =>
      if (hasWikiF(f)) Array.fill(wTitles(antArr(f)).length)(1.0) else Array.empty[Double])

    val anyWiki = hasWikiF.exists(identity)

    // beliefs (recomputed from unaries × messages each round, log space)
    def beliefA(c: Int): Array[Double] = { // over arcs of c + implicit new at end
      val fs = arcsByCur(c)
      val b = Array.tabulate(fs.length) { j =>
        val f = fs(j)
        arcW(f) * rT(f) * (if (hasWikiF(f)) rW(f) else 1.0)
      } :+ math.exp(mentions(c).newBias)
      val z = b.sum; b.map(_ / z)
    }
    def beliefT(m: Int): Array[Double] = {
      val eff = effPrior(m)
      val logq = Array.tabulate(k)(t => math.log(math.max(eff(t), 1e-300)))
      arcsByCur(m).foreach { f =>
        var t = 0
        while (t < k) { logq(t) += math.log(mTc(f)(t)); t += 1 }
      }
      arcsByAnt(m).foreach { f =>
        var t = 0
        while (t < k) { logq(t) += math.log(mTa(f)(t)); t += 1 }
      }
      val mx = logq.max
      val e = logq.map(v => math.exp(v - mx)); val z = e.sum; e.map(_ / z)
    }
    def beliefW(m: Int): Array[Double] = {
      val ts = wTitles(m)
      if (ts.isEmpty) Array.empty[Double]
      else {
        val logq = Array.tabulate(ts.length + 1)(
          t => math.log(math.max(wUnary(m)(t), 1e-300)))
        arcsByCur(m).foreach { f =>
          if (hasWikiF(f)) {
            var t = 0
            while (t < ts.length) { logq(t) += math.log(mWc(f)(t)); t += 1 }
          }
        }
        arcsByAnt(m).foreach { f =>
          if (hasWikiF(f)) {
            var t = 0
            while (t < ts.length) { logq(t) += math.log(mWa(f)(t)); t += 1 }
          }
        }
        val mx = logq.max
        val e = logq.map(v => math.exp(v - mx)); val z = e.sum; e.map(_ / z)
      }
    }
    // cavity of variable X w.r.t. message vector m: belief/m, renormalized
    def cavity(b: Array[Double], m: Array[Double]): Array[Double] = {
      val c = Array.tabulate(b.length)(t => b(t) / m(t))
      val z = c.sum; c.map(_ / z)
    }
    // cavity probability of A_c = j for a factor whose A-message is ratio r
    def cavityAj(bA: Array[Double], j: Int, r: Double): Double = {
      val pj = bA(j) / r
      pj / (pj + (bA.sum - bA(j)))
    }

    var it = 0
    while (it < iters) {
      val bA: Array[Array[Double]] = Array.tabulate(n)(c =>
        if (arcsByCur(c).nonEmpty) beliefA(c) else null)
      val bT: Array[Array[Double]] = Array.tabulate(n)(beliefT)
      // skip the W belief snapshot entirely when no arc carries a wiki
      // factor (e.g. wiki coupling 0 during training's central differences)
      val bW: Array[Array[Double]] =
        if (anyWiki) Array.tabulate(n)(beliefW) else null
      var f = 0
      while (f < nArcs) {
        val c = curArr(f); val j = jArr(f); val a = antArr(f)
        // type factor
        val tauC = cavity(bT(c), mTc(f))
        val tauA = cavity(bT(a), mTa(f))
        val qj = cavityAj(bA(c), j, rT(f))
        var dot = 0.0
        var t = 0
        while (t < k) { dot += tauC(t) * tauA(t); t += 1 }
        rT(f) = 1.0 + (expC - 1.0) * dot
        mTc(f) = Array.tabulate(k)(t => 1.0 + qj * (expC - 1.0) * tauA(t))
        mTa(f) = Array.tabulate(k)(t => 1.0 + qj * (expC - 1.0) * tauC(t))
        if (hasWikiF(f)) {
          val tc = wTitles(c); val ta = wTitles(a)
          // cavity over titles + NIL (message over titles, NIL's message 1)
          val tauWc = cavity(bW(c), mWc(f) :+ 1.0)
          val tauWa = cavity(bW(a), mWa(f) :+ 1.0)
          val qjW = cavityAj(bA(c), j, rW(f))
          var s = 0.0
          var i = 0
          while (i < tc.length) {
            val ja = wIdx(a).getOrElse(tc(i), -1)
            if (ja >= 0) s += tauWc(i) * tauWa(ja)
            i += 1
          }
          rW(f) = 1.0 + (expW - 1.0) * s
          mWc(f) = Array.tabulate(tc.length) { i =>
            val ja = wIdx(a).getOrElse(tc(i), -1)
            1.0 + qjW * (expW - 1.0) * (if (ja >= 0) tauWa(ja) else 0.0)
          }
          mWa(f) = Array.tabulate(ta.length) { i =>
            val jc = wIdx(c).getOrElse(ta(i), -1)
            1.0 + qjW * (expW - 1.0) * (if (jc >= 0) tauWc(jc) else 0.0)
          }
        }
        f += 1
      }
      it += 1
    }

    // final beliefs in the ConvBeliefs contract: pAnt excludes the implicit
    // new-entity slot (its mass is 1 - sum)
    val pAnt = scala.collection.mutable.Map.empty[Int, Array[Double]]
    cands.keysIterator.foreach { c =>
      val b = beliefA(c)
      pAnt(c) = b.take(b.length - 1)
    }
    val qType = Array.tabulate(n)(beliefT)
    val qWiki = Array.tabulate(n)(m =>
      if (wTitles(m).isEmpty) wUnary(m).clone() else beliefW(m))
    ConvBeliefs(mentions, cands, pAnt, qType, qWiki, wTitles)
  }

  /** Assemble the per-conversation grouped Dataset the kernel consumes.
    * Gold columns (nullable) ride along when provided so the objective can
    * be computed inside the same kernel pass. */
  private def groupedInputs(spark: SparkSession, mentionPriors: DataFrame,
      scored: DataFrame, evidence: Option[DataFrame],
      wikiScores: Option[DataFrame], gold: Option[DataFrame]) = {
    import spark.implicits._
    val withEv = evidence match {
      case Some(ev) => mentionPriors
        .join(ev.select(col("mention_id"), col("p_entity"), col("new_bias")),
          Seq("mention_id"), "left")
        .withColumn("p_entity", coalesce(col("p_entity"), lit(0.0)))
        .withColumn("new_bias", coalesce(col("new_bias"), lit(0.0)))
      case None => mentionPriors
        .withColumn("p_entity", lit(0.0)).withColumn("new_bias", lit(0.0))
    }
    // denotation grid → one array column per mention (struct fields named
    // _1/_2 so the tuple encoder reads them directly)
    val withWiki = wikiScores match {
      case Some(w) => withEv.join(
        w.groupBy(col("mention_id")).agg(collect_list(
          struct(col("title").as("_1"), col("dscore").as("_2"))).as("wopts")),
        Seq("mention_id"), "left")
      case None => withEv.withColumn("wopts",
        lit(null).cast("array<struct<_1:string,_2:double>>"))
    }
    val withGold = gold match {
      case Some(g) => withWiki.join(
        g.select(col("mention_id"), col("g_ant"), col("g_type"), col("g_wiki")),
        Seq("mention_id"), "left")
      case None => withWiki
        .withColumn("g_ant", lit(null).cast("string"))
        .withColumn("g_type", lit(null).cast("string"))
        .withColumn("g_wiki", lit(null).cast("string"))
    }
    val ments = withGold
      .select(col("conv_id"), col("mention_id"), col("prior"),
        col("p_entity"), col("new_bias"), col("wopts"),
        col("g_ant"), col("g_type"), col("g_wiki"))
      .as[(String, String, Seq[Double], Double, Double, Seq[(String, Double)],
        String, String, String)]
      .map { case (c, m, p, pe, nb, wo, ga, gt, gw) =>
        (c, m, p.toArray, pe, nb,
          Option(wo).map(_.toArray).getOrElse(Array.empty[(String, Double)]),
          ga, gt, gw) }
    val pairs = scored
      .join(mentionPriors.select(col("mention_id").as("cur_id"), col("conv_id")), "cur_id")
      .select(col("conv_id"), col("ant_id"), col("cur_id"), col("score"))
      .as[(String, String, String, Double)]
    (ments, pairs)
  }

  private def toRows(ms: Iterator[(String, String, Array[Double], Double, Double,
      Array[(String, Double)], String, String, String)]): Array[MRow] =
    ms.map(t => MRow(t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9))
      .toArray.sortBy(_.id)

  private def toCands(mentions: Array[MRow],
      ps: Iterator[(String, String, String, Double)]): Map[Int, Array[(Int, Double)]] = {
    val idx = mentions.iterator.map(_.id).zipWithIndex.toMap
    ps.collect { case (_, a, c, s) if idx.contains(a) && idx.contains(c) =>
        (idx(c), (idx(a), s)) }
      .toArray.groupBy(_._1).map { case (c, xs) =>
        // duplicate (ant, cur) arcs — the sparse pipeline's band + in-band
        // chain/bridge rows for one pair — collapse to ONE state at the max
        // score (the decode-argmax semantics); two states for the same
        // antecedent would double its prior mass in the antecedent belief
        c -> xs.map(_._2).groupBy(_._1)
          .map { case (a, ss) => (a, ss.map(_._2).max) }
          .toArray.sortBy(_._1)
      }
  }

  /** @param mentionPriors (mention_id, conv_id, prior: array<double> over Types)
    * @param scored within-conversation scored pairs (ant_id, cur_id, score)
    * @param coupling log-strength of the type-agreement factor
    * @param evidence optional `(mention_id, p_entity, new_bias)` — the two
    *                 further factor families of
    *                 `JointDocFactorGraphOnto.scala:62-99`:
    *                 **NER agreement**: a unary log-linear potential
    *                 `exp(nerCoupling · p_entity · [T ≠ OTHER])` tying the
    *                 mention's type to the NER chain's entity posterior
    *                 (feed `p_entity = m_b + m_i` from
    *                 [[graft.ner.Ner.forwardBackward]] aggregated over the
    *                 span); **anaphoricity**: the "new entity" arc's weight
    *                 becomes `exp(new_bias)` instead of 1 — negative bias on
    *                 discourse-anaphoric mentions (pronouns) pushes them to
    *                 link, the unary the reference puts on the anaphoricity
    *                 node.
    * @param nerCoupling log-strength of the NER-agreement factor
    * @param wikiScores optional L5 query/denotation grid
    *                   `(mention_id, title, dscore)` — the reference's wiki
    *                   nodes (`JointDocFactorGraphOnto.scala:149-172`): each
    *                   mention with grid rows gets a latent DENOTATION
    *                   variable over its candidate titles + NIL, unary
    *                   `softmax(dscore)` (NIL at `wikiNilScore`);
    *                   the coref-link/denotation-agreement factor
    *                   (`corefWikiFactors`, `:230-237`) multiplies arc `a→c`
    *                   by `exp(wikiCoupling·[W_c = W_a ≠ NIL])` — linking
    *                   evidence re-ranks coref, and coref links pull
    *                   denotations together (both factors carry BP
    *                   messages like the type factor).
    * @param wikiCoupling log-strength of the denotation-agreement factor
    * @param wikiNilScore unary score of the NIL denotation
    * @return (mention_id, ant_id nullable, p_ant, type, p_type,
    *         wiki_title nullable, p_wiki) — per-variable marginal argmax
    *         (MBR decode per task, the reference's decode mode) */
  def infer(spark: SparkSession, mentionPriors: DataFrame, scored: DataFrame,
      coupling: Double = 1.0, iters: Int = 10,
      evidence: Option[DataFrame] = None, nerCoupling: Double = 0.0,
      wikiScores: Option[DataFrame] = None, wikiCoupling: Double = 0.0,
      wikiNilScore: Double = 0.0): DataFrame = {
    import spark.implicits._
    val cpl = Couplings(coupling, nerCoupling, wikiCoupling, wikiNilScore)
    val (ments, pairs) = groupedInputs(spark, mentionPriors, scored,
      evidence, wikiScores, None)
    val k = Types.size
    val grouped = ments.groupByKey(_._1).cogroup(pairs.groupByKey(_._1)) {
      (conv, ms, ps) =>
        val mentions = toRows(ms)
        val cands = toCands(mentions, ps)
        val b = runConvBP(mentions, cands, cpl, iters)
        mentions.indices.iterator.map { m =>
          val (antId, pA) = b.cands.get(m) match {
            case Some(as) if as.nonEmpty =>
              val pa = b.pAnt(m)
              val newMass = 1.0 - pa.sum
              // argmax antecedent; ties to the LOWEST antecedent id (decode
              // tie-break convention). toRows sorts mentions by id and
              // toCands sorts arcs ascending by antecedent index, so id
              // order == arc order and keeping the FIRST maximum (strict >)
              // IS the lowest-id tie-break.
              var bestJ = 0
              var j = 1
              while (j < pa.length) {
                if (pa(j) > pa(bestJ)) bestJ = j
                j += 1
              }
              if (pa(bestJ) > newMass) (mentions(as(bestJ)._1).id, pa(bestJ))
              else (null: String, newMass)
            case _ => (null: String, 1.0)
          }
          val bt = (0 until k).maxBy(t => (b.qType(m)(t), -t))
          // MBR decode of the denotation node: marginal argmax, ties to the
          // lexicographically-first title (NIL sits last, loses ties)
          val (wTitle, pW) =
            if (b.wTitles(m).isEmpty) (null: String, 1.0)
            else {
              val q = b.qWiki(m)
              var bi = 0; var t = 1
              while (t < q.length) { if (q(t) > q(bi)) bi = t; t += 1 }
              if (bi == b.wTitles(m).length) (null: String, q(bi))
              else (b.wTitles(m)(bi), q(bi))
            }
          (mentions(m).id, antId, pA, Types(bt), b.qType(m)(bt), wTitle, pW)
        }
    }
    grouped.toDF("mention_id", "ant_id", "p_ant", "type", "p_type",
      "wiki_title", "p_wiki")
  }

  /** The coupling-training objective: Σ over mentions of the log-marginal of
    * the GOLD assignment under the converged BP beliefs — the per-variable
    * marginal form of the reference's BP log-likelihood
    * (`JointComputerShared.computeLogLikelihood`). Smooth in the couplings
    * (unlike decode accuracy), so finite differences are well-posed.
    *
    * `gold` columns (all nullable — absent components contribute 0):
    * `g_ant` (gold antecedent mention_id; null = gold "new entity" when
    * `g_ant_known` semantics: a mention with NO gold row contributes no
    * antecedent term at all), `g_type` (gold type name), `g_wiki` (gold
    * title; null = NIL). */
  def goldLogLik(spark: SparkSession, mentionPriors: DataFrame,
      scored: DataFrame, gold: DataFrame, cpl: Couplings, iters: Int = 10,
      evidence: Option[DataFrame] = None,
      wikiScores: Option[DataFrame] = None): Double = {
    import spark.implicits._
    val (ments, pairs) = groupedInputs(spark, mentionPriors, scored,
      evidence, wikiScores, Some(gold))
    val eps = 1e-12
    val perConv = ments.groupByKey(_._1).cogroup(pairs.groupByKey(_._1)) {
      (conv, ms, ps) =>
        val mentions = toRows(ms)
        val idx = mentions.iterator.map(_.id).zipWithIndex.toMap
        val cands = toCands(mentions, ps)
        val b = runConvBP(mentions, cands, cpl, iters)
        var ll = 0.0
        mentions.indices.foreach { m =>
          val mr = mentions(m)
          // antecedent term: gold arc's converged marginal (gold "new" = the
          // leftover new-entity mass); only mentions with candidates AND a
          // gold row participate
          if (mr.gType != null || mr.gAnt != null || mr.gWiki != null) {
            cands.get(m).foreach { as =>
              val pa = b.pAnt(m)
              val p =
                if (mr.gAnt == null) math.max(1.0 - pa.sum, eps) // gold new entity
                else idx.get(mr.gAnt) match {
                  case Some(g) =>
                    val j = as.indexWhere(_._1 == g)
                    if (j >= 0) pa(j) else eps // gold ant not a candidate: floor
                  // gold ant NAMED but absent from the conversation's mention
                  // set (detection miss / cross-conv gold chain): an
                  // unreachable link, floored like the not-a-candidate case —
                  // treating it as gold-new would REWARD new-entity mass on
                  // exactly the mentions gold says should link
                  case None => eps
                }
              ll += math.log(math.max(p, eps))
            }
            if (mr.gType != null) {
              val t = Types.indexOf(mr.gType)
              if (t >= 0) ll += math.log(math.max(b.qType(m)(t), eps))
            }
            if (b.wTitles(m).nonEmpty && (mr.gWiki != null || mr.wopts.nonEmpty)) {
              val q = b.qWiki(m)
              val ti = Option(mr.gWiki).map(t => b.wTitles(m).indexOf(t))
                .getOrElse(b.wTitles(m).length) // null gold title = NIL
              if (ti >= 0) ll += math.log(math.max(q(ti), eps))
              else ll += math.log(eps) // gold title outside the grid
            }
          }
        }
        Iterator.single(ll)
    }
    // sum via agg, not Dataset.reduce: reduce throws on an empty input
    // (e.g. a fold with zero conversations) where the log-likelihood is 0
    perConv.toDF("ll")
      .agg(coalesce(sum(col("ll")), lit(0.0))).head().getDouble(0)
  }

  /** Train the 4 factor couplings by central-finite-difference gradient of
    * [[goldLogLik]] + the pairwise trainers' Adagrad step
    * ([[graft.train.Adagrad]] with λ = 0, the plain Adagrad step bit for
    * bit — 4 parameters don't need sparsity). Mirrors the reference's
    * `GeneralTrainer.trainAdagrad` driving BP factor-weight gradients
    * (`JointComputerShared.addUnregularizedStochasticGradient`).
    *
    * @return (trained couplings, per-epoch (epoch, -loglik) trace) */
  def trainCouplings(spark: SparkSession, mentionPriors: DataFrame,
      scored: DataFrame, gold: DataFrame, epochs: Int = 8, eta: Double = 0.5,
      h: Double = 0.05, iters: Int = 6, init: Couplings = Couplings(0, 0, 0, 0),
      evidence: Option[DataFrame] = None,
      wikiScores: Option[DataFrame] = None,
      trainWiki: Boolean = true): (Couplings, Seq[(Int, Double)]) = {
    // pin ALL the inputs (including the optional evidence/wiki tables):
    // every objective evaluation re-runs the kernel only, never the inputs'
    // upstream plans — with 4 dims and 8 epochs the objective runs
    // (1 + 2·dims)·epochs = 72 times. The pins are released when training
    // returns or fails (the result is 4 scalars + a trace — nothing derives
    // from them), so repeated runs don't accumulate dead checkpoint blocks.
    graft.Pins.scoped(spark.sparkContext) {
      val mp = mentionPriors.localCheckpoint(true)
      val sc = scored.localCheckpoint(true)
      val g = gold.localCheckpoint(true)
      val ev = evidence.map(_.localCheckpoint(true))
      val ws = wikiScores.map(_.localCheckpoint(true))
      def obj(c: Array[Double]): Double = goldLogLik(spark, mp, sc, g,
        Couplings(c(0), c(1), c(2), c(3)), iters, ev, ws)
      // per-dimension activity, not a prefix count: each coupling's gradient
      // is provably zero when its factor has no inputs (no evidence table →
      // p_entity = 0 everywhere → the objective is constant in `ner`), and a
      // central difference on a constant dimension costs 2 full distributed
      // kernel passes per epoch for a guaranteed 0
      val active = Array(true, evidence.nonEmpty,
        trainWiki && wikiScores.nonEmpty, trainWiki && wikiScores.nonEmpty)
      val w = Array(init.coref, init.ner, init.wiki, init.wikiNil)
      val sq = Array.fill(4)(0.0)
      val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      for (ep <- 0 until epochs) {
        val loss = -obj(w)
        trace += ((ep, loss))
        val grad = Array.tabulate(4) { i =>
          if (!active(i)) 0.0
          else {
            val wp = w.clone(); wp(i) += h
            val wm = w.clone(); wm(i) -= h
            -(obj(wp) - obj(wm)) / (2 * h) // d(-loglik)/dc_i
          }
        }
        for (i <- 0 until 4 if active(i))
          graft.train.Adagrad.step(w, sq, i, grad(i), eta, lambda = 0.0)
      }
      (Couplings(w(0), w(1), w(2), w(3)), trace.toSeq)
    }
  }
}
