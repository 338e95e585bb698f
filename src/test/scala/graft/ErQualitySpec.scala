package graft

import org.apache.spark.sql.functions._
import graft.fixtures.ErFixture
import graft.pipeline._

/** The BASELINE.json quality gates on the seeded ER fixture: blocking recall,
  * scorer parity (vs a single-JVM reimplementation of the reference's
  * decodeMax + createFromBackpointers semantics), cluster equivalence, and
  * pairwise F1 >= 0.99 on labeled pairs sharing a blocking key. */
class ErQualitySpec extends SparkSuite {
  import ErFixture._

  lazy val g = generate(entities = 20, convs = 60, seed = 42L)
  lazy val transcripts = transcriptsDF(spark, g).cache()
  lazy val res = {
    val r = Pipeline.run(spark, transcripts, Pipeline.Config(mentionGenerator = "all"))
    Pipeline.Result(r.mentions.cache(), r.surfacePairs.cache(), r.surfaceScores.cache(),
      r.scored.cache(), r.backptrs.cache(), r.clusters.cache(), r.surfaces)
  }
  lazy val universe = Blocking.candidatePairs(res.mentions).cache()
  lazy val goldMentions = goldDF(spark, g).cache()
  /** (mention_id, entity_id) via extent join. */
  lazy val gold = res.mentions
    .join(goldMentions, Seq("conv_id", "turn_idx", "start", "end"))
    .select(col("mention_id"), col("entity_id").cast("string").as("entity_id"))
    .cache()

  test("mention detection: extraction recovers exactly the scripted mentions") {
    val prf = Eval.mentionPRF(res.mentions, goldMentions).collect()(0)
    info(prf.toString)
    assert(prf.getAs[Double]("f1") == 1.0,
      s"extraction must exactly match the scripted extents: $prf")
  }

  test("blocking recall >= 0.995 (antecedent + entity connectivity)") {
    // B7a: reference-semantics within-conversation antecedent recall
    val ar = Eval.antecedentRecall(universe, res.mentions, gold).collect()(0)
    info(s"antecedent recall: $ar")
    assert(ar.getAs[Double]("recall") >= 0.995, s"antecedent recall too low: $ar")
    // B7b: cross-conversation entity connectivity under blocking
    val cr = Eval.connectivityRecall(universe, gold).collect()(0)
    info(s"connectivity recall: $cr")
    assert(cr.getAs[Double]("recall") >= 0.995, s"connectivity recall too low: $cr")
    // diagnostic: direct pair recall over open-class/same-conv linkable pairs
    val m = res.mentions.join(gold, "mention_id")
      .select(col("mention_id"), col("entity_id"), col("conv_id"), col("m_seq"),
        col("closed_class"))
    val a = m.toDF(m.columns.map(_ + "_a"): _*)
    val c = m.toDF(m.columns.map(_ + "_c"): _*)
    val goldPairs = a.join(c,
      col("entity_id_a") === col("entity_id_c") &&
        col("mention_id_a") < col("mention_id_c") &&
        ((!col("closed_class_a") && !col("closed_class_c")) ||
          (col("conv_id_a") === col("conv_id_c") &&
            col("m_seq_c") - col("m_seq_a") > 0 &&
            col("m_seq_c") - col("m_seq_a") <= 30)))
      .select(col("mention_id_a").as("ant_id"), col("mention_id_c").as("cur_id"))
    val r = Eval.blockingRecall(universe, goldPairs).collect()(0)
    info(s"direct pair recall (diagnostic): $r")
  }

  test("scorer parity: spark decode == single-JVM decodeMax oracle") {
    // oracle: reference semantics (DocumentInferencerBasic.decodeMax
    // :112-128) — best antecedent, ties to lowest ant id, threshold 0
    val rows = res.scored.select("cur_id", "ant_id", "score").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val oracle = rows.groupBy(_._1).flatMap { case (cur, cands) =>
      val best = cands.filter(_._3 > 0.0)
      if (best.isEmpty) None
      else {
        val mx = best.map(_._3).max
        Some(cur -> best.filter(_._3 == mx).map(_._2).min)
      }
    }
    val sparkBp = res.backptrs.select("cur_id", "ant_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(sparkBp == oracle, {
      val onlyS = (sparkBp.toSet -- oracle.toSet).take(5)
      val onlyO = (oracle.toSet -- sparkBp.toSet).take(5)
      s"decode mismatch; spark-only=$onlyS oracle-only=$onlyO"
    })
  }

  test("cluster equivalence: spark CC == union-find oracle over backpointers") {
    // oracle: createFromBackpointers semantics (OrderedClustering.scala:83-99)
    val bp = res.backptrs.select("cur_id", "ant_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ids = res.mentions.select("mention_id").collect().map(_.getString(0))
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = parent.getOrElseUpdate(x, x); while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }; r
    }
    ids.foreach(find)
    bp.foreach { case (cur, ant) =>
      val rc = find(cur); val ra = find(ant)
      if (rc != ra) { if (rc < ra) parent(ra) = rc else parent(rc) = ra }
    }
    val oracle = ids.map(id => id -> find(id)).toMap
    val sparkCl = res.clusters.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(sparkCl == oracle, {
      val diff = sparkCl.collect { case (k, v) if oracle.get(k) != Some(v) =>
        (k, v, oracle.get(k)) }.take(5)
      s"cluster mismatch: $diff"
    })
  }

  test("pairwise F1 >= 0.99 on labeled same-block pairs (north rule)") {
    val f1row = Eval.pairwiseF1(universe.select("ant_id", "cur_id"),
      res.clusters, gold).collect()(0)
    info(f1row.toString)
    assert(f1row.getAs[Double]("f1") >= 0.99, s"F1 gate failed: $f1row")
  }

  test("MUC and B3 sanity on fixture") {
    val m = Eval.muc(res.clusters, gold).collect()(0)
    val b = Eval.bcub(res.clusters, gold).collect()(0)
    info(s"MUC=$m B3=$b")
    assert(m.getAs[Double]("muc_f1") >= 0.98)
    assert(b.getAs[Double]("bcub_f1") >= 0.95)
  }

  test("partition invariance: same clusters under different shuffle partitioning") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val r2 = Pipeline.run(spark, transcripts.repartition(7),
        Pipeline.Config(mentionGenerator = "all"))
      val a = res.clusters.orderBy("mention_id").collect().toSeq
      val b = r2.clusters.orderBy("mention_id").collect().toSeq
      assert(a == b)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
