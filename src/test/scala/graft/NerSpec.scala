package graft

import org.apache.spark.sql.functions._
import graft.ner.Ner

/** G1/G2/A11/B6: emission features, per-turn Viterbi decode, chunking,
  * chunk F1 vs scripted extents, label-domain pruning. */
class NerSpec extends SparkSuite {
  import spark.implicits._

  def toTranscripts(rows: Seq[(String, Int, String)]) =
    rows.map { case (c, t, x) => (c, t, "user", x, null: String,
      new java.sql.Timestamp(1700000000000L)) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  test("viterbi recovers single- and multi-token entity chunks") {
    val t = toTranscripts(Seq(
      ("n0", 0, "Hello this is Customer#000000007 about an order"),
      ("n0", 1, "Priority case Acct 000000007 flagged for audit"),
      ("n0", 2, "They asked about the refund again"),
      ("n0", 3, "ticket opened for Acme Data Systems after the outage")))
    val chunks = Ner.chunks(Ner.viterbi(spark, Ner.emissions(t)))
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(chunks === Set((0, 3, 3), (1, 2, 3), (3, 3, 5)),
      s"expected identifier, Acct-run and 3-token caprun chunks, got $chunks")
  }

  test("A11 chunk F1 == 1.0 against the all-generators PROPER extents") {
    val g = graft.fixtures.ErFixture.generate(entities = 10, convs = 30, seed = 7L)
    val t = graft.fixtures.ErFixture.transcriptsDF(spark, g)
    val pred = Ner.chunks(Ner.viterbi(spark, Ner.emissions(t)))
    val gold = graft.pipeline.Mentions.extractAll(t)
      .filter(col("mtype") === "PROPER")
      .select(col("conv_id"), col("turn_idx"), col("start"), col("end"))
    val f1 = Ner.chunkF1(pred, gold).collect()(0)
    info(f1.toString)
    assert(f1.getAs[Double]("f1") >= 0.99,
      s"NER decode must reproduce the caprun extents: $f1")
  }
}
