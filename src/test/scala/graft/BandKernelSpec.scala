package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.ErFixture
import graft.pipeline.{Blocking, Mentions}

/** The one band kernel ([[Blocking.convBandPairsAttr]] over
  * [[Blocking.bandSweep]]) against the formulation it replaced, kept here as
  * the reference: a `conv_id` equi-self-join of the mention attributes,
  * filtered to `0 < Δm_seq ≤ maxConvDist`. The rows, as a multiset, and the
  * schema — column order, types and nullability — must be equal. */
class BandKernelSpec extends SparkSuite {
  import spark.implicits._

  private def reference(mentions: DataFrame, cfg: Blocking.Config): DataFrame = {
    val attrs = mentions.select(
      col("mention_id"), col("conv_id"), col("m_seq"), col("norm"),
      col("head_key"), col("toks"), col("mtype"), col("closed_class"),
      col("role"), col("number"), col("gender"))
    val a = attrs.toDF(attrs.columns.map(_ + "_a"): _*)
      .withColumnRenamed("mention_id_a", "ant_id")
      .withColumn("conv_id", col("conv_id_a"))
    val c = attrs.toDF(attrs.columns.map(_ + "_c"): _*)
      .withColumnRenamed("mention_id_c", "cur_id")
      .withColumn("conv_id", col("conv_id_c"))
    a.join(c, Seq("conv_id"))
      .filter(col("m_seq_c") > col("m_seq_a") &&
        col("m_seq_c") - col("m_seq_a") <= cfg.maxConvDist)
      .drop("conv_id")
      .withColumn("block_key", lit("conv"))
  }

  /** Asserts kernel == reference and returns the pair count. */
  private def assertSame(mentions: DataFrame,
      cfg: Blocking.Config = Blocking.Config()): Long = {
    val got = Blocking.convBandPairsAttr(mentions, cfg)
    val want = reference(mentions, cfg)
    assert(got.schema === want.schema)
    val n = want.count()
    assert(got.count() === n)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "the band kernel and the self-join must emit the same rows")
    n
  }

  private lazy val fixture = Mentions.extractAll(ErFixture.transcriptsDF(spark,
    ErFixture.generate(entities = 20, convs = 60, seed = 42L))).cache()

  /** Σ over conversations of min(i, w) for the i-th mention (0-based): the
    * band size of dense `m_seq` conversations. */
  private def expectedPairs(mentions: DataFrame, w: Int): Long =
    mentions.groupBy("conv_id").count().as[(String, Long)].collect()
      .map { case (_, n) => (0L until n).map(math.min(_, w.toLong)).sum }.sum

  private def turns(rows: Seq[(String, Int, String)]): DataFrame =
    rows.map { case (c, t, text) =>
      (c, t, if (t % 2 == 0) "user" else "agent", text,
        new java.sql.Timestamp(1700000000000L + t * 1000L))
    }.toDF("conv_id", "turn_idx", "role", "text", "ts")

  test("the band kernel equals the conv_id self-join on the ErFixture") {
    val n = assertSame(fixture)
    assert(n === expectedPairs(fixture, Blocking.Config().maxConvDist))
    assert(n > 1000, s"the fixture must yield band pairs, got $n")
  }

  test("the band kernel equals the conv_id self-join on sf0.001 (Pipeline.run's mentions)") {
    val m = graft.harness.Queries.pipeline(spark, "/root/testdata/sf0.001").mentions
    assert(assertSame(m) > 0)
  }

  test("the band kernel equals the conv_id self-join on one 5,000-mention conversation") {
    // five identifier/pronoun mentions per turn
    val m = Mentions.extractIdentifier(turns((0 until 1000).map(t =>
      ("long", t, s"Customer#$t told it that ${t % 7} and they met Cust-${t % 13}"))))
      .cache()
    assert(m.count() === 5000)
    val w = Blocking.Config().maxConvDist
    assert(assertSame(m) === 5000L * w - w * (w + 1) / 2)
    m.unpersist()
  }

  test("the band kernel equals the conv_id self-join at band widths 0 and 1") {
    assert(assertSame(fixture, Blocking.Config(maxConvDist = 0)) === 0)
    assert(assertSame(fixture, Blocking.Config(maxConvDist = 1)) === expectedPairs(fixture, 1))
  }

  test("the band kernel equals the conv_id self-join on single-mention conversations") {
    val m = Mentions.extractIdentifier(turns(
      (1 to 5).map(c => (s"solo$c", 0, s"ping Customer#$c today")) ++
        Seq(("pair", 0, "ping Customer#9 today"), ("pair", 1, "yes it is"))))
    assert(m.count() === 7)
    assert(assertSame(m) === 1)
  }

  test("the band kernel equals the conv_id self-join on mentions read back from parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-band").toString
    fixture.repartition(3).write.mode("overwrite").parquet(dir)
    val m = spark.read.parquet(dir)
    // no conv_id partitioning survives the round trip: the grouping shuffles
    val plan = Blocking.convBandPairsAttr(m).queryExecution.executedPlan.toString
    assert(plan.contains("Exchange"), s"the grouping must shuffle:\n$plan")
    assert(assertSame(m) === expectedPairs(fixture, Blocking.Config().maxConvDist))
  }
}
