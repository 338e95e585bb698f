package graft

import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.pipeline.Scoring
import graft.train.ModelIO

/** S5 model serde + pack: the sparse model round-trips through a versioned
  * parquet snapshot; pack drops zero weights and re-indexes densely. */
class ModelSpec extends SparkSuite {

  test("S5b sparse model: pack / save / load round-trips a distributed-trained table") {
    import spark.implicits._
    import graft.pipeline.SparseFeatures
    // tiny ranking problem: f_good fires exactly on gold arcs
    val feats = Seq(
      ("a1", "c1", "bias"), ("a1", "c1", "f_good"),
      ("a2", "c1", "bias"),
      ("a1", "c2", "bias"),
      ("a2", "c2", "bias"), ("a2", "c2", "f_good")).toDF("ant_id", "cur_id", "f")
    val labeled = Seq(("a1", "c1", 1.0), ("a2", "c1", 0.0),
      ("a1", "c2", 0.0), ("a2", "c2", 1.0)).toDF("ant_id", "cur_id", "label")
    val (trained, trace) = graft.train.Trainer.trainSparseRankingDistributed(
      feats, labeled, epochs = 10, eta = 1.0)
    assert(trace.last._2 < trace.head._2, "distributed sparse loss must decrease")
    val wTable = ModelIO.sparseWeightsFromTrained(trained).localCheckpoint(true)
    assert(wTable.filter(col("f") === "f_good" && col("w_i") > 0L).count() === 1L,
      "the gold-discriminating feature must earn positive weight")

    val dir = java.nio.file.Files.createTempDirectory("graft-smodel").toString
    val io = new TableIO(dir)
    val snap = ModelIO.saveSparse(io, wTable, configToken = "sparse-cfg-1")
    val (loaded, tag) = ModelIO.loadSparse(spark, io, "sparse-cfg-1", Some(snap))
    assert(tag === s"sparse-cfg-1@$snap",
      "sparseTag must be derived from the committed snapshot, not caller input")

    // loaded == the nonzero rows of the trained table, exactly
    val expect = wTable.filter(col("w_i") =!= 0L).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = loaded.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === expect, "round-trip through disk must reproduce nonzero weights")

    // packed ids are dense 0..n-1 in feature sort order
    val packed = io.readIfCurrent(spark, ModelIO.SparseStage, "sparse-cfg-1", Some(snap)).get
    val byF = packed.orderBy("f").collect()
    assert(byF.map(_.getAs[Long]("feature_id")).toSeq === (0L until byF.length.toLong),
      "packed ids must be dense in feature sort order")

    // the loaded table drives the execution scorer identically to in-memory
    val s1 = SparseFeatures.scoreWithWeights(feats, wTable, Seq("ant_id", "cur_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Double]("score"))).toSet
    val s2 = SparseFeatures.scoreWithWeights(feats, loaded, Seq("ant_id", "cur_id"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Double]("score"))).toSet
    assert(s1 === s2, "loaded snapshot must score identically to the trained table")
  }

  test("A14 top-weights + pack compaction") {
    val w = ModelIO.weightsDF(spark, Scoring.DefaultWeights)
    val top = ModelIO.topWeights(w, 3).collect().map(_.getString(0)).toSeq
    assert(top.head === "anaphoric_close") // |6.0| is the heaviest default
    assert(top.size === 3)

    val vals = Scoring.DefaultWeights.values.clone()
    vals(Scoring.FeatureNames.indexOf("gender_match")) = 0.0 // pack must drop it
    val packed = ModelIO.pack(ModelIO.weightsDF(spark, Scoring.Weights(vals)))
    val nonZero = vals.count(_ != 0.0)
    assert(packed.count() === nonZero.toLong)
    assert(packed.agg(max(col("index"))).collect()(0).getInt(0) === nonZero - 1,
      "packed indices must be dense 0..n-1")
    assert(packed.filter(col("feature") === "gender_match").count() === 0L)
  }
}
