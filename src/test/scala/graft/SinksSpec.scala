package graft

import org.apache.spark.sql.functions._
import graft.fixtures.ErFixture
import graft.io.ConllWriter
import graft.pipeline._

/** S4 formatted sink round-trip, P7 auxiliary featurizer seam, C5 oracle
  * clustering. */
class SinksSpec extends SparkSuite {
  import ErFixture._

  lazy val g = generate(entities = 8, convs = 20, seed = 3L)
  lazy val transcripts = transcriptsDF(spark, g).cache()
  lazy val res = Pipeline.run(spark, transcripts, Pipeline.Config(mentionGenerator = "all"))

  test("S4: CoNLL-style writer round-trips through disk") {
    val lines = ConllWriter.formatLines(transcripts, res.mentions, res.clusters).cache()
    // every token gets exactly one line
    val nToks = transcripts.select(explode(split(col("text"), " "))).count()
    assert(lines.count() === nToks)
    // multi-token mentions open and close their cluster bit
    val opens = lines.filter(col("bit").rlike("^\\(.+[^)]$")).count()
    val closes = lines.filter(col("bit").rlike("^[^(].+\\)$")).count()
    assert(opens === closes)
    assert(opens > 0, "fixture must contain multi-token mentions")

    val dir = java.nio.file.Files.createTempDirectory("graft-conll").toString
    ConllWriter.write(lines, dir)
    val back = ConllWriter.parse(spark.read.text(dir))
    val orig = lines.select("conv_id", "turn_idx", "pos", "tok", "bit")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("M6: cluster assignments reconstruct from the CoNLL bits") {
    val lines = ConllWriter.formatLines(transcripts, res.mentions, res.clusters)
    val back = ConllWriter.parseClusters(spark,
      lines.select("conv_id", "turn_idx", "pos", "tok", "bit"))
    val orig = res.mentions.join(res.clusters, "mention_id")
      .select(col("conv_id"), col("turn_idx"), col("start"), col("end"),
        col("cluster_id"))
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty,
      "bracket matching must invert the coref-bit grafting exactly")
    assert(back.count() === orig.count())
  }

  test("M6 edge: same-cluster extents meeting at a boundary token round-trip") {
    import spark.implicits._
    // [0,2] and [2,4] both in cluster C: token 2 carries a close AND an open
    // of the same cluster — the close must be written first or the reader's
    // LIFO matching pairs brackets across the two mentions
    val t = Seq(("b0", 0, "user", "alpha beta gamma delta epsilon",
      null: String, new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val ms = Seq(("x1", "b0", 0, 0, 2), ("x2", "b0", 0, 2, 4))
      .toDF("mention_id", "conv_id", "turn_idx", "start", "end")
    val cl = Seq(("x1", "C"), ("x2", "C")).toDF("mention_id", "cluster_id")
    val lines = ConllWriter.formatLines(t, ms, cl)
    val bit2 = lines.filter(col("pos") === 2).select("bit").collect()(0).getString(0)
    assert(bit2 === "C)|(C", s"close must precede open on the boundary token: $bit2")
    val back = ConllWriter.parseClusters(spark,
      lines.select("conv_id", "turn_idx", "pos", "tok", "bit"))
    val got = back.collect().map(r => (r.getInt(2), r.getInt(3))).toSet
    assert(got === Set((0, 2), (2, 4)), s"round-trip must keep both extents: $got")
  }

  test("P7: auxiliary featurizer extends the linear model") {
    val pairs = Scoring.featurize(Blocking.convBandPairsAttr(res.mentions)).cache()
    val adjacent = (col("m_seq_c") - col("m_seq_a") === 1).cast("double")
    val joined = Scoring.score(pairs)
      .select(col("ant_id"), col("cur_id"), col("score").as("base"),
        (col("m_seq_c") - col("m_seq_a")).as("dist"))
      .join(Scoring.score(pairs, aux = Seq(("adjacent", adjacent, 2.0)))
        .select(col("ant_id"), col("cur_id"), col("score").as("boosted")),
        Seq("ant_id", "cur_id"))
    assert(joined.filter(col("dist") === 1 &&
      abs(col("boosted") - col("base") - 2.0) > 1e-9).count() === 0L)
    assert(joined.filter(col("dist") =!= 1 &&
      abs(col("boosted") - col("base")) > 1e-9).count() === 0L)
    assert(joined.filter(col("dist") === 1).count() > 0L)
  }

  test("C5: oracle clustering inherits gold entities, singletons otherwise") {
    import spark.implicits._
    val pred = Seq(("p1", "c0", 0, 1, 1), ("p2", "c0", 1, 2, 2), ("p3", "c0", 2, 0, 0))
      .toDF("mention_id", "conv_id", "turn_idx", "start", "end")
    val gold = Seq(("c0", 0, 1, 1, 7), ("c0", 1, 2, 2, 7))
      .toDF("conv_id", "turn_idx", "start", "end", "entity_id")
    val oracle = Eval.oraclePredClustering(pred, gold)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(oracle("p1") === "g:7" && oracle("p2") === "g:7")
    assert(oracle("p3") === "p3", "unaligned mention becomes a singleton")
  }

  test("C5 divergence repair: duplicate gold extents resolve deterministically, no join fan-out") {
    // the reference's wsj_0990 sanitizing case (CorefDoc.scala:69-82): the
    // same gold extent appears twice (here with CONFLICTING entities); the
    // aligned prediction must get exactly one, deterministic, cluster row
    import spark.implicits._
    val pred = Seq(("p1", "c0", 0, 1, 1), ("p2", "c0", 1, 2, 2))
      .toDF("mention_id", "conv_id", "turn_idx", "start", "end")
    val gold = Seq(("c0", 0, 1, 1, 9), ("c0", 0, 1, 1, 12), ("c0", 1, 2, 2, 12))
      .toDF("conv_id", "turn_idx", "start", "end", "entity_id")
    val oracle = Eval.oraclePredClustering(pred, gold)
    assert(oracle.count() === 2L, "one row per predicted mention despite the duplicate gold extent")
    val m = oracle.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // min over the STRING form: "12" < "9" lexicographically
    assert(m("p1") === "g:12", s"lexicographically-least entity must win, got ${m("p1")}")
    assert(m("p2") === "g:12")
  }
}
