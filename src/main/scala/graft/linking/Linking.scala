package graft.linking

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity linking (SURVEY.md §2.9, L1-L4 + F12) — the reference's `wiki/`
  * subsystem re-expressed relationally:
  *
  *  - the `titleGivenSurfaceDB` (`wiki/WikipediaTitleGivenSurfaceDB.scala:16`,
  *    a `CounterMap[surface, title]`) becomes a **link dictionary table**
  *    `(surface, title, cnt)`;
  *  - redirects (`wiki/WikipediaInterface.scala:59-64`) a `(src, dst)` table;
  *  - query expansion (`wiki/Query.scala:20-110`) generates per-mention query
  *    strings at descending priority (full norm → de-determinered → head
  *    token → stemmed head, F12's normalize/stem);
  *  - linking = broadcast-join the queries against the dictionary, keep the
  *    best-priority query with any hit, argmax count (ties → lexicographic
  *    title — deterministic), then resolve one redirect hop;
  *  - NIL when no query hits (the reference's -NIL- outcome).
  *
  * Scale shape: the dictionary is the small side (10^6-10^8 rows) — broadcast
  * when it fits, else a shuffle-hash join on `surface`; mentions never
  * self-join. The argmax is a per-(mention) `max_by` aggregation, no window
  * over the big side.
  */
object Linking {

  /** Per-mention link queries `(mention_id, query, prio)`, best prio = 0.
    * Priorities follow `wiki/Query.scala:20-110`: full normalized surface,
    * determiner-stripped form, head token, F12-stemmed head (drop `'s`
    * possessive, then plural `s` on tokens longer than 3). */
  def expandQueries(mentions: DataFrame): DataFrame = {
    val norm = col("norm")
    val noDet = when(
      norm.startsWith("the ") || norm.startsWith("a ") || norm.startsWith("an "),
      expr("substring(norm, instr(norm, ' ') + 1)")).otherwise(norm)
    val head = element_at(split(norm, " "), -1)
    val stemmed = when(head.endsWith("'s"), expr("substring(head_q, 1, length(head_q) - 2)"))
      .when(head.endsWith("s") && length(head) > 3,
        expr("substring(head_q, 1, length(head_q) - 1)"))
      .otherwise(head)
    mentions
      .select(col("mention_id"), norm, noDet.as("nodet_q"), head.as("head_q"))
      .withColumn("stem_q", stemmed)
      .select(col("mention_id"),
        explode(array(
          struct(col("norm").as("query"), lit(0).as("prio")),
          struct(col("nodet_q").as("query"), lit(1).as("prio")),
          struct(col("head_q").as("query"), lit(2).as("prio")),
          struct(col("stem_q").as("query"), lit(3).as("prio")))).as("q"))
      .select(col("mention_id"), col("q.query").as("query"), col("q.prio").as("prio"))
      .groupBy(col("mention_id"), col("query")).agg(min(col("prio")).as("prio"))
  }

  /** L2+L3: link each mention to its best title, or no row when NIL.
    * Output `(mention_id, title, prio, cnt)`. */
  def link(mentions: DataFrame, dict: DataFrame, redirects: DataFrame): DataFrame = {
    val hits = expandQueries(mentions)
      .join(dict.select(col("surface").as("query"), col("title"), col("cnt")), "query")
    // best = lowest prio, then highest count, then lexicographic title
    val best = hits
      .groupBy(col("mention_id"))
      .agg(min_by(
        struct(col("title"), col("prio"), col("cnt")),
        struct(col("prio"), negate(col("cnt")), col("title"))).as("b"))
      .select(col("mention_id"), col("b.title").as("title0"),
        col("b.prio").as("prio"), col("b.cnt").as("cnt"))
    // L3: one redirect hop (the reference resolves redirects once)
    best
      .join(redirects.select(col("src").as("title0"), col("dst")), Seq("title0"), "left")
      .select(col("mention_id"),
        coalesce(col("dst"), col("title0")).as("title"), col("prio"), col("cnt"))
  }

  /** L4: purge auxiliary "disambiguation page" titles from a candidate set
    * (`wiki/WikipediaAuxDB.scala:1-73` `removeDisambiguationPages`): a
    * left-anti join against the aux title table. At scale the aux set is the
    * small side — broadcast anti-join, no shuffle of the candidate grid. */
  def purgeAux(candidates: DataFrame, auxTitles: DataFrame): DataFrame =
    candidates.join(broadcast(auxTitles.select(col("title")).distinct()),
      Seq("title"), "left_anti")

  /** L5: query/denotation chooser (`wiki/QueryChooser.scala`,
    * `JointQueryDenotationChooser.scala:1-240`): instead of the hard
    * best-priority-then-count cascade of [[link]], score the full
    * query × denotation grid with a linear model — query-priority features
    * traded against the (log) count evidence — and take the per-mention
    * argmax. The reference learns these weights latently (the query is a
    * latent variable, supervision is the gold denotation); the grid scoring
    * and argmax below is that model's inference step, with the aux purge
    * (L4) applied to the grid first.
    *
    * Output `(mention_id, title, dscore)` after one redirect hop; NIL
    * mentions absent. Tie-break: higher score, then lexicographic title. */
  def queryDenotationChoose(mentions: DataFrame, dict: DataFrame,
      redirects: DataFrame, auxTitles: DataFrame,
      wPrio: Double = 1.0, wCnt: Double = 0.5): DataFrame = {
    val hits = expandQueries(mentions)
      .join(dict.select(col("surface").as("query"), col("title"), col("cnt")), "query")
    val purged = purgeAux(hits, auxTitles)
    // greatest(cnt, 1): Spark's log returns NULL for cnt <= 0 where DuckDB's
    // ln() returns -inf — a zero-count dictionary row would get a null
    // dscore and silently diverge from the oracle; the clamp makes the
    // score total in both engines (the oracle mirrors it)
    val scored = purged.withColumn("dscore",
      (lit(3) - col("prio")).cast("double") * wPrio +
        log(greatest(col("cnt"), lit(1)).cast("double")) * wCnt)
    val best = scored
      .groupBy(col("mention_id"))
      .agg(min_by(struct(col("title"), col("dscore")),
        struct(negate(col("dscore")), col("title"))).as("b"))
      .select(col("mention_id"), col("b.title").as("title0"), col("b.dscore").as("dscore"))
    best
      .join(redirects.select(col("src").as("title0"), col("dst")), Seq("title0"), "left")
      .select(col("mention_id"),
        coalesce(col("dst"), col("title0")).as("title"), col("dscore"))
  }

  /** The scored L5 query × denotation grid itself `(mention_id, title,
    * dscore)` — every candidate title, not just the per-mention argmax:
    * aux-purged, redirects resolved per row (max dscore per resolved
    * title). This is the wiki-node input of the joint factor graph
    * ([[graft.joint.JointInference.infer]]'s `wikiScores`; the reference
    * builds its wiki nodes from the same grid,
    * `wiki/JointQueryDenotationChooser.scala` via
    * `JointDocFactorGraphOnto.scala:149-172`). [[queryDenotationChoose]]
    * keeps its own argmax-then-redirect order (oracle-pinned) — this is a
    * grid view beside it, not a refactor of it. */
  def denotationGrid(mentions: DataFrame, dict: DataFrame,
      redirects: DataFrame, auxTitles: DataFrame,
      wPrio: Double = 1.0, wCnt: Double = 0.5): DataFrame = {
    val hits = expandQueries(mentions)
      .join(dict.select(col("surface").as("query"), col("title"), col("cnt")), "query")
    val scored = purgeAux(hits, auxTitles).withColumn("dscore",
      (lit(3) - col("prio")).cast("double") * wPrio +
        log(greatest(col("cnt"), lit(1)).cast("double")) * wCnt)
    scored
      .join(redirects.select(col("src").as("title"), col("dst")), Seq("title"), "left")
      .select(col("mention_id"),
        coalesce(col("dst"), col("title")).as("title"), col("dscore"))
      .groupBy(col("mention_id"), col("title"))
      .agg(max(col("dscore")).as("dscore"))
  }

  /** A12 wikification eval (`wiki/WikificationEvaluator.scala`): accuracy of
    * linked titles vs gold titles, with NIL handling (unlinked mention with a
    * gold title = miss; counted separately). */
  def wikiEval(links: DataFrame, goldTitles: DataFrame): DataFrame = {
    val joined = goldTitles
      .join(links.select(col("mention_id"), col("title")), Seq("mention_id"), "left")
    joined.agg(
      count(lit(1)).as("n_gold"),
      sum(when(col("title").isNotNull, 1L).otherwise(0L)).as("n_linked"),
      sum(when(col("title") === col("gold_title"), 1L).otherwise(0L)).as("n_correct"))
      // 0/0 collapses to 0.0, not null (the module-wide metric guard): a run
      // that links nothing — or an empty gold table — must serialize as a
      // number; the oracle SQL mirrors the guard
      .withColumn("acc_linked_r", when(col("n_linked") > 0,
        round(col("n_correct").cast("double") / col("n_linked"), 6)).otherwise(lit(0.0)))
      .withColumn("acc_all_r", when(col("n_gold") > 0,
        round(col("n_correct").cast("double") / col("n_gold"), 6)).otherwise(lit(0.0)))
  }
}
