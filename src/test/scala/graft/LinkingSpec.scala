package graft

import org.apache.spark.sql.functions._
import graft.linking.Linking

/** L1-L4 + F12: query expansion priorities, count-argmax with deterministic
  * tie-break, redirect resolution, NIL handling. */
class LinkingSpec extends SparkSuite {
  import spark.implicits._

  lazy val mentions = Seq(
    ("m1", "the acme systems"), // determiner-strip (prio 1)
    ("m2", "acme data"),        // ambiguous surface: count argmax
    ("m3", "widgets"),          // F12 stem backoff (prio 3)
    ("m4", "oldco"),            // redirect hop
    ("m5", "nosuch entity zz"), // NIL
    ("m6", "tiekey")            // count tie: lexicographic title
  ).toDF("mention_id", "norm")

  lazy val dict = Seq(
    ("acme systems", "Acme_Systems", 7),
    ("acme data", "Acme_Data_A", 3),
    ("acme data", "Acme_Data_B", 9),
    ("tiekey", "A_Title", 5),
    ("tiekey", "B_Title", 5),
    ("widget", "Widget_Co", 2),
    ("oldco", "OldCo_page", 4)
  ).toDF("surface", "title", "cnt")

  lazy val redirects = Seq(("OldCo_page", "NewCo")).toDF("src", "dst")

  test("query expansion emits prioritized queries") {
    val q = Linking.expandQueries(mentions.filter(col("mention_id") === "m1"))
      .collect().map(r => r.getString(1) -> r.getInt(2)).toMap
    assert(q("the acme systems") === 0)
    assert(q("acme systems") === 1)
    assert(q("systems") === 2)
    assert(q("system") === 3)
  }

  test("link: priorities, argmax, tie-break, redirect, NIL") {
    val links = Linking.link(mentions, dict, redirects)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(links("m1") === ("Acme_Systems", 1), "determiner-stripped query wins at prio 1")
    assert(links("m2") === ("Acme_Data_B", 0), "highest-count title wins")
    assert(links("m3") === ("Widget_Co", 3), "stemmed-head backoff")
    assert(links("m4") === ("NewCo", 0), "redirect resolved")
    assert(links("m6")._1 === "A_Title", "count ties break lexicographically")
    assert(!links.contains("m5"), "no dictionary hit -> NIL (absent)")
  }

  test("wikiEval: accuracy with NIL accounting") {
    val gold = Seq(("m1", "Acme_Systems"), ("m2", "Acme_Data_B"), ("m3", "Widget_X"),
      ("m4", "NewCo"), ("m5", "Some_Title"), ("m6", "A_Title"))
      .toDF("mention_id", "gold_title")
    val e = Linking.wikiEval(Linking.link(mentions, dict, redirects), gold).collect()(0)
    assert(e.getAs[Long]("n_gold") === 6L)
    assert(e.getAs[Long]("n_linked") === 5L) // m5 NIL
    assert(e.getAs[Long]("n_correct") === 4L) // m3 linked wrong, m5 unlinked
    assert(e.getAs[Double]("acc_linked_r") === 0.8)
  }

  test("denotationGrid: full candidate grid, aux-purged, redirect-resolved, " +
      "max-deduped per resolved title") {
    // extra head-query route to an existing title: the grid must keep ONE
    // row per (mention, resolved title) at the MAX dscore across queries
    val dict2 = dict.union(Seq(("data", "Acme_Data_B", 2)).toDF("surface", "title", "cnt"))
    val aux = Seq("Acme_Data_A").toDF("title")
    val grid = Linking.denotationGrid(mentions, dict2, redirects, aux)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(!grid.contains(("m2", "Acme_Data_A")), "aux titles purged from the grid")
    assert(grid.keys.filter(_._1 == "m6").map(_._2).toSet === Set("A_Title", "B_Title"),
      "BOTH tie candidates stay in the grid (the chooser argmaxes; the grid does not)")
    assert(grid.keys.filter(_._1 == "m4").map(_._2).toSet === Set("NewCo"),
      "redirects resolve per grid row")
    assert(!grid.keys.exists(_._1 == "m5"), "NIL mentions are absent")
    // m2 reaches Acme_Data_B at prio 0 (full surface, cnt 9) AND via the
    // head query "data" at prio 2 (cnt 2) — one row, the prio-0 score
    val expect = 3.0 * 1.0 + math.log(9.0) * 0.5
    assert(math.abs(grid(("m2", "Acme_Data_B")) - expect) < 1e-9,
      "duplicate routes to one title collapse to the max dscore")
  }

  test("wikiEval: 0/0 slices collapse to 0.0, not null (metric guard)") {
    val gold = Seq(("m1", "Acme_Systems")).toDF("mention_id", "gold_title")
    val noLinks = Seq.empty[(String, String)].toDF("mention_id", "title")
    val e = Linking.wikiEval(noLinks, gold).collect()(0)
    assert(e.getAs[Long]("n_linked") === 0L)
    assert(e.getAs[Double]("acc_linked_r") === 0.0, "0/0 must serialize as a number")
    assert(e.getAs[Double]("acc_all_r") === 0.0)
    val emptyGold = Seq.empty[(String, String)].toDF("mention_id", "gold_title")
    val e2 = Linking.wikiEval(noLinks, emptyGold).collect()(0)
    assert(e2.getAs[Long]("n_gold") === 0L)
    assert(e2.getAs[Double]("acc_linked_r") === 0.0)
    assert(e2.getAs[Double]("acc_all_r") === 0.0)
  }

  test("L4+L5: aux purge restores the accuracy junk entries destroy; " +
      "chooser trades priority against count evidence") {
    // poison: a huge-count disambiguation page on m1's surfaces
    val junk = Seq(("the acme systems", "Acme_disambiguation", 99),
      ("acme data", "Acme_disambiguation", 99)).toDF("surface", "title", "cnt")
    val poisoned = dict.unionByName(junk)
    val aux = Seq("Acme_disambiguation").toDF("title")
    val gold = Seq(("m1", "Acme_Systems"), ("m2", "Acme_Data_B"), ("m4", "NewCo"))
      .toDF("mention_id", "gold_title")

    def acc(links: org.apache.spark.sql.DataFrame): Long =
      Linking.wikiEval(links, gold).collect()(0).getAs[Long]("n_correct")

    val noPurge = Linking.queryDenotationChoose(mentions, poisoned, redirects,
      Seq.empty[String].toDF("title"))
    val purged = Linking.queryDenotationChoose(mentions, poisoned, redirects, aux)
    val accNo = acc(noPurge); val accYes = acc(purged)
    info(s"n_correct without purge=$accNo with purge=$accYes")
    assert(accNo < accYes, "junk disambiguation titles must hurt without the purge")
    assert(accYes === 3L, "purge restores all gold links")

    // chooser semantics: count evidence can overturn a one-step priority
    // advantage (prio term 1.0 vs 0.5*ln(cnt) gap) — distinct from link()'s
    // hard priority cascade
    val m = Seq(("mx", "the popular co")).toDF("mention_id", "norm")
    val d = Seq(("the popular co", "Rare_Exact", 1), ("popular co", "Popular_Co", 1000))
      .toDF("surface", "title", "cnt")
    val noAux = Seq.empty[String].toDF("title")
    val cascade = Linking.link(m, d, redirects).collect()(0).getString(1)
    val chooser = Linking.queryDenotationChoose(m, d, redirects, noAux)
      .collect()(0).getString(1)
    info(s"cascade=$cascade chooser=$chooser")
    assert(cascade === "Rare_Exact", "the hard cascade keeps the prio-0 hit")
    assert(chooser === "Popular_Co",
      "the latent chooser lets strong count evidence win over one priority step")
  }
}
