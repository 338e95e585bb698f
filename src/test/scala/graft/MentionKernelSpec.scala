package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.Mentions
import graft.pipeline.Mentions.{IdentifierRe, NominalHeads, Pronouns}

/** The one-pass per-turn mention kernel ([[Mentions.extractAll]] over
  * [[Mentions.turnMentions]]) against the relational formulation it
  * replaced, kept here as the reference: three posexploded generator legs,
  * a `collect_list` aggregate for the caps runs and turn-keyed windows for
  * the A15 extent dedup, the M2 per-end filter and the per-start
  * uniqueness. Both feed the same `finish`, so the rows and the schema —
  * nullability included — must be equal. */
class MentionKernelSpec extends SparkSuite {
  import spark.implicits._

  private def reference(transcripts: DataFrame): DataFrame = {
    val t = transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"), col("ts"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val wTurn = Window.partitionBy(col("conv_id"), col("turn_idx")).orderBy(col("pos"))

    val isCap = col("tok").rlike("^[A-Z0-9][A-Za-z0-9#-]*$") &&
      !lower(col("tok")).isin(Pronouns: _*) &&
      (col("pos") > 0 || col("tok").rlike(IdentifierRe))
    val capRuns = t.withColumn("is_cap", isCap)
      .filter(col("is_cap"))
      .withColumn("grp", col("pos") - row_number().over(wTurn))
      .groupBy(col("conv_id"), col("turn_idx"), col("grp"))
      .agg(
        min(col("pos")).as("start"), max(col("pos")).as("end"),
        concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("surface"),
        first(col("role")).as("role"), first(col("ts")).as("ts"))
      .withColumn("mtype", lit("PROPER"))
      .drop("grp")

    val prons = t.filter(lower(col("tok")).isin(Pronouns: _*))
      .select(col("conv_id"), col("turn_idx"), col("pos").as("start"),
        col("pos").as("end"), col("tok").as("surface"), lit("PRONOMINAL").as("mtype"),
        col("role"), col("ts"))

    val noms = t.withColumn("prev", lag(lower(col("tok")), 1).over(wTurn))
      .filter(lower(col("tok")).isin(NominalHeads: _*) &&
        col("prev").isin("the", "that", "this"))
      .select(col("conv_id"), col("turn_idx"), (col("pos") - 1).as("start"),
        col("pos").as("end"),
        concat(col("prev"), lit(" "), col("tok")).as("surface"),
        lit("NOMINAL").as("mtype"), col("role"), col("ts"))

    def firstPer(df: DataFrame, keys: Seq[String], order: org.apache.spark.sql.Column*) =
      df.withColumn("rk", row_number().over(
          Window.partitionBy((Seq("conv_id", "turn_idx") ++ keys).map(col): _*)
            .orderBy(order: _*)))
        .filter(col("rk") === 1).drop("rk")
    val all = capRuns.select(prons.columns.map(col): _*)
      .unionByName(prons).unionByName(noms)
    val extents = firstPer(all, Seq("start", "end"), col("mtype"))
    val maximal = firstPer(extents, Seq("end"), col("start").asc, col("mtype"))
    val uniq = firstPer(maximal, Seq("start"), col("end").desc, col("mtype"))
    Mentions.finish(uniq)
  }

  private def assertSame(transcripts: DataFrame): Long = {
    val got = Mentions.extractAll(transcripts)
    val want = reference(transcripts)
    assert(got.schema === want.schema)
    val cols = want.columns.map(col)
    val g = got.select(cols: _*).collect().map(_.toSeq).toSeq
    val w = want.select(cols: _*).collect().map(_.toSeq).toSeq
    def multiset(rows: Seq[Seq[Any]]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(multiset(g) === multiset(w))
    g.size.toLong
  }

  test("the kernel equals the windowed reference on the ErFixture") {
    val fx = graft.fixtures.ErFixture
    val n = assertSame(fx.transcriptsDF(spark, fx.generate(entities = 10, convs = 30, seed = 7L)))
    assert(n > 100, s"the fixture must yield mentions, got $n")
  }

  test("the kernel equals the windowed reference on adversarial turns") {
    val texts = Seq(
      null, "", " ", "  ", " leading space Acme", "trailing Acme ", "double  Acme  Corp",
      "Customer#000000007 asked again", "000000042 is open", "Acme opened a case",
      "It was late", "They called", "then It broke and They left", "The Vendor replied",
      "we spoke with The Vendor today", "ping Big The Vendor Inc now",
      "ping ACME THE VENDOR here", "the vendor and that company and this firm",
      "the vendors left", "THE VENDOR", "ask the Vendor", "call Acme\n", "call Acme\nCorp today",
      "met Émile and ÉMILE", "then İT failed", "see İt and It", "Kelvin Kelvin KIT",
      "case Cust-7 and Acct 00042 and Acme Customer#000000007 Corp",
      "x #7 -3 A# Z-", "he she him her them it they")
    val rows = texts.zipWithIndex.map { case (x, i) =>
      ("adv", i, if (i % 2 == 0) "user" else "agent", x,
        new java.sql.Timestamp(1700000000000L + i)) }
    val n = assertSame(rows.toDF("conv_id", "turn_idx", "role", "text", "ts"))
    assert(n >= 30, s"the adversarial turns must yield mentions, got $n")
  }

  test("turnMentions: extents, types and the three dedup rules") {
    assert(Mentions.turnMentions(null).isEmpty)
    assert(Mentions.turnMentions("").isEmpty)
    assert(Mentions.turnMentions("we spoke with The Vendor today") ===
      Seq((3, 4, "the Vendor", "NOMINAL")))
    // the nested nominal keeps its own head (end) and its own start
    assert(Mentions.turnMentions("ping Big The Vendor Inc now") ===
      Seq((1, 4, "Big The Vendor Inc", "PROPER"), (2, 3, "the Vendor", "NOMINAL")))
    // same head: only the longest span survives M2
    assert(Mentions.turnMentions("ping Big The Vendor") ===
      Seq((1, 3, "Big The Vendor", "PROPER")))
    assert(Mentions.turnMentions("They met Acme Data Systems") ===
      Seq((0, 0, "They", "PRONOMINAL"), (2, 4, "Acme Data Systems", "PROPER")))
    assert(Mentions.turnMentions("call Acme\n") === Seq((1, 1, "Acme\n", "PROPER")))
    assert(Mentions.turnMentions("then İT failed").isEmpty)
  }
}
