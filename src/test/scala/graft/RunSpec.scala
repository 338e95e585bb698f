package graft

import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.train.ModelIO

/** The spark-submit entry point ([[Run]]) driven end-to-end on the shared
  * session via [[Run.runWith]]: `--train` must train a sparse model on the
  * input's gold labels, commit the PACKED snapshot through TableIO, score
  * with the committed snapshot (not the in-memory table), and a later
  * predict-only run loading that snapshot must reproduce the exact same
  * clusters — the engine's `runTrainEvaluate` contract
  * (reference `EntitySystem.scala:226-266`). */
class RunSpec extends SparkSuite {

  /** Spark jobs of one dense batch `Run` on the 30-conversation fixture:
    * measured 37 (67 before the stages were pinned and built once), plus
    * slack for AQE's plan choices. */
  private val RunJobBound = 40

  private def field(json: String, key: String): String = {
    val m = (s""""$key":"?([^",}]+)"?""").r.findFirstMatchIn(json)
    assert(m.nonEmpty, s"metrics line missing $key: $json")
    m.get.group(1)
  }

  test("--train: trains, commits a packed model, evaluates, and a predict-only " +
      "run from the committed snapshot reproduces the clusters") {
    val tmp = java.nio.file.Files.createTempDirectory("runspec").toString
    val outTrain = s"$tmp/out_train"
    val outPred = s"$tmp/out_pred"
    val modelDir = s"$tmp/models"

    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> outTrain,
      "model-dir" -> modelDir,
      "train" -> "12",
      "eta" -> "1.0",
      "generator" -> "identifier",
      "evaluate" -> "true"))
    info(metrics)

    // training happened and the loss moved the right way
    assert(field(metrics, "trained_epochs") === "12")
    val lossFirst = field(metrics, "train_loss_first").toDouble
    val lossLast = field(metrics, "train_loss_last").toDouble
    assert(lossLast < lossFirst,
      s"per-epoch loss must decrease over training: $lossFirst -> $lossLast")

    // quality gate on the evaluate leg (same bar as SparseSpec's trainers)
    val f1 = field(metrics, "pairwise_f1").toDouble
    assert(f1 >= 0.99, s"trained-model pairwise F1 must hit the gate: $f1")
    assert(field(metrics, "muc_f1").toDouble >= 0.99)
    assert(field(metrics, "bcub_f1").toDouble >= 0.99,
      "B³ catches the degenerate one-cluster merge that MUC forgives")
    val nClusters = field(metrics, "clusters").toLong
    assert(nClusters > 1L && nClusters < 1000L,
      s"cluster count must be non-degenerate: $nClusters")

    // the committed model is packed: loadable by token, no zero weights
    val token = field(metrics, "model_token")
    val (w, tag) = ModelIO.loadSparse(spark, new TableIO(modelDir), token)
    assert(w.count() === field(metrics, "model_features").toLong)
    assert(w.filter(col("w_i") === 0L).count() === 0L, "pack must drop zero weights")
    assert(tag.startsWith(s"$token@"))

    // the clusters output was committed under the reported config lineage
    val cfgToken = field(metrics, "config")
    val trainClusters = new TableIO(outTrain)
      .readIfCurrent(spark, "clusters", cfgToken)
      .getOrElse(fail("train-run clusters not committed under the config token"))

    // predict-only run loading the committed snapshot: identical clusters
    val metrics2 = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> outPred,
      "mode" -> "sparse",
      "model-dir" -> modelDir,
      "model-token" -> token,
      "generator" -> "identifier"))
    info(metrics2)
    val predClusters = new TableIO(outPred)
      .readIfCurrent(spark, "clusters", field(metrics2, "config"))
      .getOrElse(fail("predict-run clusters not committed under the config token"))
    val diff = trainClusters.select("mention_id", "cluster_id")
      .exceptAll(predClusters.select("mention_id", "cluster_id"))
      .union(predClusters.select("mention_id", "cluster_id")
        .exceptAll(trainClusters.select("mention_id", "cluster_id")))
      .count()
    assert(diff === 0L,
      "predicting from the committed snapshot must reproduce the train-run clusters")
  }

  test("--joint: commits the BP joint decode alongside the clusters and reports flips") {
    val tmp = java.nio.file.Files.createTempDirectory("runspec_joint").toString
    val out = s"$tmp/out"
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      "joint" -> "true"))
    info(metrics)
    val joint = new TableIO(out)
      .readIfCurrent(spark, "joint", field(metrics, "joint_config"))
      .getOrElse(fail("joint decode not committed under the joint_config token"))
    assert(joint.count() === field(metrics, "mentions").toLong,
      "one joint decision per mention")
    assert(joint.filter(!col("type").isin("IDENT", "ORG", "OTHER")).count() === 0L,
      "joint types stay in the M5 enum")
    val badP = joint.filter(col("p_ant") < 0.0 || col("p_ant") > 1.0 + 1e-9 ||
      col("p_type") < 0.0 || col("p_type") > 1.0 + 1e-9).count()
    assert(badP === 0L, "joint marginals must be probabilities")
    val flips = field(metrics, "joint_flips").toLong
    assert(flips >= 0L && flips < field(metrics, "mentions").toLong)
  }

  test("--joint with NER evidence and wiki denotation factors: the full " +
      "factor family runs from the entry point and commits titles") {
    import graft.pipeline.Mentions
    import graft.sources.Transcripts
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("runspec_jointfull").toString
    val out = s"$tmp/out"
    val m = Mentions.extractIdentifier(
      Transcripts.load(spark, "/root/testdata/sf0.001"))
    m.select(col("norm").as("surface")).distinct()
      .select(col("surface"), concat(lit("T_"), col("surface")).as("title"),
        lit(100L).as("cnt"))
      .write.parquet(s"$tmp/dict")
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      "joint" -> "true",
      "joint-ner-coupling" -> "1.0",
      "joint-wiki-coupling" -> "1.0",
      "joint-wiki-nil" -> "0.5",
      "link-dict" -> s"$tmp/dict"))
    info(metrics)
    val joint = new TableIO(out)
      .readIfCurrent(spark, "joint", field(metrics, "joint_config"))
      .getOrElse(fail("joint decode not committed under the joint_config token"))
    assert(joint.count() === field(metrics, "mentions").toLong)
    val titled = joint.filter(col("wiki_title").isNotNull)
    assert(titled.count() === field(metrics, "joint_wiki_titled").toLong)
    assert(titled.count() > 0L, "dict-covered mentions must carry denotations")
    assert(titled.filter(!col("wiki_title").startsWith("T_")).count() === 0L,
      "denotations come from the grid's titles")
    val badP = joint.filter(col("p_wiki") < 0.0 || col("p_wiki") > 1.0 + 1e-9).count()
    assert(badP === 0L, "denotation marginals must be probabilities")
    assert(field(metrics, "joint_ner_coupling") === "1.0")
  }

  test("--ner-train + --joint-ner-coupling: the joint evidence comes from " +
      "the TRAINED tagger, rebuildable from the committed ner_model") {
    import graft.ner.{Ner, NerTrainer}
    import graft.sources.Transcripts
    val tmp = java.nio.file.Files.createTempDirectory("runspec_jointner").toString
    val out = s"$tmp/out"
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      "ner-train" -> "60",
      "eta" -> "1.0",
      "joint" -> "true",
      "joint-ner-coupling" -> "1.5"))
    info(metrics)
    val io = new TableIO(out)
    val joint = io.readIfCurrent(spark, "joint", field(metrics, "joint_config"))
      .getOrElse(fail("joint decode not committed under the joint_config token"))
    val wdf = io.readIfCurrent(spark, "ner_model", field(metrics, "ner_config"))
      .getOrElse(fail("ner model not committed under the ner_config token"))
    val wmap = wdf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val w = Array.tabulate(3, NerTrainer.FeatureNames.size)((l, j) =>
      wmap((Ner.Labels(l), NerTrainer.FeatureNames(j))))
    val t = Transcripts.load(spark, "/root/testdata/sf0.001")
    val res = graft.pipeline.Pipeline.run(spark, t,
      graft.pipeline.Pipeline.Config(mentionGenerator = "identifier"))
    // rebuild the evidence the way Run does, decode directly, and compare
    // against the committed table — equality under the TRAINED emissions
    // plus inequality under the FIXED ones proves the run's joint factors
    // consumed the tagger this run trained and committed
    def decodeWith(emis: org.apache.spark.sql.DataFrame) = {
      val fb = Ner.forwardBackward(spark, emis)
      val ev = res.mentions.select(col("mention_id"), col("conv_id"),
          col("turn_idx"), explode(sequence(col("start"), col("end"))).as("pos"))
        .join(fb, Seq("conv_id", "turn_idx", "pos"))
        .groupBy(col("mention_id"))
        .agg(avg(col("m_b") + col("m_i")).as("p_entity"))
        .withColumn("new_bias", lit(0.0))
      graft.joint.JointInference.infer(spark,
        graft.joint.JointInference.typePriors(res.mentions),
        res.scored.select(col("ant_id"), col("cur_id"), col("score")),
        coupling = 1.0, iters = 6,
        evidence = Some(ev), nerCoupling = 1.5)
    }
    def diffs(a: org.apache.spark.sql.DataFrame): Long = joint.alias("x")
      .join(a.alias("y"), "mention_id")
      .filter(!(col("x.ant_id") <=> col("y.ant_id")) ||
        !(col("x.type") <=> col("y.type")) ||
        abs(col("x.p_ant") - col("y.p_ant")) > 1e-9 ||
        abs(col("x.p_type") - col("y.p_type")) > 1e-9)
      .count()
    assert(diffs(decodeWith(
        NerTrainer.emissions(NerTrainer.tokenFeatures(t), w))) === 0L,
      "committed joint decode must equal a rebuild from the committed ner_model")
    assert(diffs(decodeWith(Ner.emissions(t))) > 0L,
      "the fixed-emission decode must be observably different — otherwise " +
      "this gate proves nothing")
  }

  test("--joint-train: trains the factor couplings from the entry point and " +
      "decodes with them") {
    val tmp = java.nio.file.Files.createTempDirectory("runspec_jointtrain").toString
    val out = s"$tmp/out"
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      // no "joint" flag: --joint-train must imply the decode
      "joint-coupling" -> "0.0", // trained from a cold start
      "joint-train" -> "4",
      "eta" -> "1.0"))
    info(metrics)
    assert(field(metrics, "joint_trained_epochs") === "4")
    val lossFirst = field(metrics, "joint_loss_first").toDouble
    val lossLast = field(metrics, "joint_loss_last").toDouble
    assert(lossLast <= lossFirst,
      s"joint -loglik must not increase over training: $lossFirst -> $lossLast")
    // the decode ran with the TRAINED coupling, which moved off the 0 start
    val trained = field(metrics, "joint_coupling").toDouble
    assert(trained !== 0.0, s"training must move the coupling off 0: $metrics")
    val joint = new TableIO(out)
      .readIfCurrent(spark, "joint", field(metrics, "joint_config"))
      .getOrElse(fail("joint decode not committed under the joint_config token"))
    assert(joint.count() === field(metrics, "mentions").toLong)
  }

  test("--ner: commits the Viterbi labels and chunks under the config token; " +
      "the metrics A11 F1 matches a recompute") {
    val tmp = java.nio.file.Files.createTempDirectory("runspec_ner").toString
    val out = s"$tmp/out"
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      "ner" -> "true",
      "evaluate" -> "true"))
    info(metrics)
    val io = new TableIO(out)
    val token = field(metrics, "ner_config")
    assert(token.startsWith(field(metrics, "config") + "-"),
      "the ner lineage token must extend the pipeline token")
    val labeled = io.readIfCurrent(spark, "ner", token)
      .getOrElse(fail("ner labels not committed under the ner_config token"))
    val chunks = io.readIfCurrent(spark, "ner_chunks", token)
      .getOrElse(fail("ner chunks not committed under the ner_config token"))
    assert(chunks.count() === field(metrics, "ner_chunks").toLong)
    assert(labeled.filter(!col("label").isin("O", "B", "I")).count() === 0L,
      "labels stay in the O/B/I domain")
    // the committed tables ARE the G2 decode of the input, bit for bit
    val t = graft.sources.Transcripts.load(spark, "/root/testdata/sf0.001")
    val re = graft.ner.Ner.viterbi(spark, graft.ner.Ner.emissions(t))
    assert(labeled.exceptAll(re).isEmpty && re.exceptAll(labeled).isEmpty,
      "committed ner table must equal a fresh Viterbi decode")
    // the reported A11 chunk F1 is the chunkF1 of the committed chunks
    // against the PROPER all-generators extents — recompute and compare
    val gold = graft.pipeline.Mentions.extractAll(t)
      .filter(col("mtype") === "PROPER")
      .select(col("conv_id"), col("turn_idx"), col("start"), col("end"))
    val f1 = graft.ner.Ner.chunkF1(chunks, gold).collect()(0).getAs[Double]("f1")
    assert(math.abs(field(metrics, "ner_chunk_f1").toDouble - f1) < 1e-6,
      s"reported A11 F1 must match the recompute: $metrics vs $f1")
    assert(f1 > 0.0, "the synthetic corpus has recoverable PROPER chunks")
  }

  test("--ner-train: trains the emission model, commits it, and a decode " +
      "rebuilt from the committed model reproduces the committed labels") {
    import graft.ner.{Ner, NerTrainer}
    val tmp = java.nio.file.Files.createTempDirectory("runspec_nertrain").toString
    val out = s"$tmp/out"
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      "ner-train" -> "60",
      "eta" -> "1.0",
      "evaluate" -> "true"))
    info(metrics)
    assert(field(metrics, "ner_trained_epochs") === "60")
    val io = new TableIO(out)
    val token = field(metrics, "ner_config")
    assert(token.startsWith(field(metrics, "config") + "-"),
      "the ner lineage token must extend the pipeline token")
    val wdf = io.readIfCurrent(spark, "ner_model", token)
      .getOrElse(fail("ner model not committed under the ner_config token"))
    assert(wdf.count() === 3L * NerTrainer.FeatureNames.size,
      "one weight per (label, feature)")
    // the committed model is the reproducibility contract: rebuild the 3×F
    // matrix FROM THE STORE, decode fresh, and demand the committed labels
    val wmap = wdf.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val w = Array.tabulate(3, NerTrainer.FeatureNames.size)((l, j) =>
      wmap((Ner.Labels(l), NerTrainer.FeatureNames(j))))
    val t = graft.sources.Transcripts.load(spark, "/root/testdata/sf0.001")
    val re = Ner.viterbi(spark,
      NerTrainer.emissions(NerTrainer.tokenFeatures(t), w))
    val labeled = io.readIfCurrent(spark, "ner", token)
      .getOrElse(fail("ner labels not committed under the config token"))
    assert(labeled.exceptAll(re).isEmpty && re.exceptAll(labeled).isEmpty,
      "decode from the committed model must reproduce the committed labels")
    // the trained tagger recovers the extents that supervised it (the
    // NerTrainSpec 60-epoch wide-feature gate, on the real corpus)
    assert(field(metrics, "ner_chunk_f1").toDouble >= 0.95,
      s"trained NER must recover its supervision extents: $metrics")
  }

  test("--streaming: drains the input as a file stream, the maintained state " +
      "equals the batch band-leg decode, and a re-run resumes without refolding") {
    import graft.pipeline.{Mentions, Blocking, Scoring, Decode, Clustering}
    import graft.sources.Transcripts
    import graft.streaming.StreamingClusters
    val tmp = java.nio.file.Files.createTempDirectory("runspec_stream").toString
    val out = s"$tmp/out"
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "streaming" -> "true"))
    info(metrics)
    assert(field(metrics, "folds").toLong > 0L, "the drain must fold at least one batch")

    // batch reference over the SAME arc universe the streaming chain scores
    // (the in-conversation band leg): scores -> decode -> full clustering
    val m = Mentions.extractIdentifier(
      Transcripts.load(spark, "/root/testdata/sf0.001"))
    val scored = Scoring.scorePairsAttr(Blocking.convBandPairsAttr(m, Blocking.Config()))
    val batchBp = Decode.backpointers(scored, 0.0)
      .select("cur_id", "ant_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(batchBp.nonEmpty)

    val st = StreamingClusters.loadState(spark, new TableIO(out), field(metrics, "config"))
      .getOrElse(fail("streaming state not committed under the config token"))
    val streamBp = st.backptrs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamBp === batchBp,
      "maintained backpointers must equal the batch band-leg decode")
    val live = st.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val full = Clustering.cluster(spark,
        st.clusters.select(col("mention_id")), st.backptrs)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(live === full,
      "maintained clusters must equal a full recompute over the folded arcs")

    // resume: no new files arrived — the loaded state IS the result, zero
    // refolds (the durable checkpoint skips every already-processed file)
    val metrics2 = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "streaming" -> "true"))
    info(metrics2)
    assert(field(metrics2, "resumed_from_fold") === field(metrics, "folds"),
      "the re-run must load the committed state")
    assert(field(metrics2, "folds") === field(metrics, "folds"),
      "no new arrivals => no new folds")
    assert(field(metrics2, "clusters") === field(metrics, "clusters"))
    assertClosingCounts(st.clusters)

    // a copy of the output records its files under the ORIGINAL path: a
    // resume from the copy would fold every file again, so it must fail
    val copy = s"$tmp/copy"
    copyTree(java.nio.file.Paths.get(out), java.nio.file.Paths.get(copy))
    val ex = intercept[IllegalStateException] {
      Run.runWith(spark, Map("input" -> field(metrics, "input"), "output" -> copy,
        "streaming" -> "true"))
    }
    assert(ex.getMessage.contains(s"$tmp/copy") && ex.getMessage.contains(s"$tmp/out"),
      s"the error must name both paths: ${ex.getMessage}")
  }

  /** Copy the directory tree `from` to `to`. */
  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val all = java.nio.file.Files.walk(from)
    try all.iterator().asScala.toSeq.foreach(p =>
      java.nio.file.Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally all.close()
  }

  /** [[Run.rowsAndClusters]] equals `count` and `countDistinct(cluster_id)`
    * over a `(mention_id, cluster_id)` table. */
  private def assertClosingCounts(clusters: org.apache.spark.sql.DataFrame): Unit = {
    val r = clusters.agg(count(lit(1)), countDistinct(col("cluster_id"))).head()
    assert(Run.rowsAndClusters(clusters) === ((r.getLong(0), r.getLong(1))))
  }

  test("--link: wikifies the mentions against a dictionary and commits the links") {
    import graft.pipeline.Mentions
    import graft.sources.Transcripts
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("runspec_link").toString
    val out = s"$tmp/out"
    // fixture dictionary: every normalized surface maps to TWO titles, the
    // intended one (high count) and a decoy disambiguation page the L4 purge
    // must drop; one redirect hop rewrites a marked title
    val m = Mentions.extractIdentifier(
      Transcripts.load(spark, "/root/testdata/sf0.001"))
    val surfaces = m.select(col("norm").as("surface")).distinct()
    surfaces.select(col("surface"), concat(lit("T_"), col("surface")).as("title"),
        lit(100L).as("cnt"))
      .union(surfaces.select(col("surface"),
        concat(lit("DAB_"), col("surface")).as("title"), lit(1000L).as("cnt")))
      .write.parquet(s"$tmp/dict")
    surfaces.limit(1)
      .select(concat(lit("T_"), col("surface")).as("src"),
        concat(lit("R_"), col("surface")).as("dst"))
      .write.parquet(s"$tmp/redirects")
    surfaces.select(concat(lit("DAB_"), col("surface")).as("title"))
      .write.parquet(s"$tmp/aux")

    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      "link" -> "true",
      "link-dict" -> s"$tmp/dict",
      "link-redirects" -> s"$tmp/redirects",
      "link-aux" -> s"$tmp/aux"))
    info(metrics)
    val links = new TableIO(out)
      .readIfCurrent(spark, "links", field(metrics, "link_config"))
      .getOrElse(fail("links not committed under the link lineage token"))
    assert(field(metrics, "link_config").startsWith(field(metrics, "config") + "-"),
      "link lineage extends the pipeline config token with the linking inputs")
    assert(links.count() === field(metrics, "linked_mentions").toLong)
    assert(links.count() > 0L)
    assert(links.groupBy("mention_id").count().filter(col("count") > 1).count() === 0L,
      "at most one link per mention")
    assert(links.filter(col("title").startsWith("DAB_")).count() === 0L,
      "disambiguation titles must be purged (L4)")
    assert(links.filter(col("title").startsWith("R_")).count() > 0L,
      "the redirect hop must rewrite the marked title (L3)")
    assert(links.filter(!col("title").startsWith("T_") &&
      !col("title").startsWith("R_")).count() === 0L)
  }

  test("--conll-out: the written coref-bit text round-trips to exactly the " +
      "committed clusters") {
    import graft.io.ConllWriter
    val tmp = java.nio.file.Files.createTempDirectory("runspec_conll").toString
    val out = s"$tmp/out"
    // a quote and non-ASCII text in the path must still give valid JSON
    val conll = s"$tmp/con" + "\"ll-é日"
    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "generator" -> "identifier",
      "conll-out" -> conll))
    info(metrics)
    val onDisk = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      java.nio.file.Files.readString(java.nio.file.Paths.get(out, "metrics.json")))
    assert(onDisk.get("conll_out").asText === conll)
    assert(onDisk.get("config").asText === field(metrics, "config"))
    val committed = new TableIO(out)
      .readIfCurrent(spark, "clusters", field(metrics, "config"))
      .getOrElse(fail("clusters not committed under the config token"))
      .select(col("mention_id"), col("cluster_id").cast("string").as("cluster_id"))
    // invert the format: brackets -> extents -> positional mention ids; the
    // text sink must carry EXACTLY the committed cluster assignment
    val back = ConllWriter.parseClusters(spark,
        ConllWriter.parse(spark.read.text(conll)))
      .select(graft.functions.mentionId(
          col("conv_id"), col("turn_idx"), col("start")).as("mention_id"),
        col("cluster_id").cast("string").as("cluster_id"))
    assert(back.exceptAll(committed).isEmpty && committed.exceptAll(back).isEmpty,
      "coref-bit text must round-trip to the committed clusters exactly")
    assert(back.count() === committed.count())
  }

  test("--streaming sparse: scores the stream with a committed packed model; " +
      "the maintained state equals the batch sparse band-leg decode") {
    import graft.pipeline.{Mentions, Blocking, Scoring, Decode, SparseFeatures}
    import graft.sources.Transcripts
    import graft.streaming.StreamingClusters
    val tmp = java.nio.file.Files.createTempDirectory("runspec_sstream").toString
    val out = s"$tmp/out"
    val modelDir = s"$tmp/models"

    // commit a deterministic sparse model (closed-form log-odds against a
    // head-match pseudo-label — the shape Run --train produces)
    val m = Mentions.extractIdentifier(
      Transcripts.load(spark, "/root/testdata/sf0.001"))
    val counts = SparseFeatures.normCounts(m)
    val pairsAttr = Blocking.convBandPairsAttr(m, Blocking.Config())
    val feats = SparseFeatures.featureStrings(pairsAttr, counts)
    val labels = pairsAttr.select(col("ant_id"), col("cur_id"),
      (col("head_key_a") === col("head_key_c")).cast("double").as("label"))
    val io = new TableIO(modelDir)
    val snap = ModelIO.saveSparse(io,
      SparseFeatures.logOddsWeights(feats, labels), "streamtest")

    val metrics = Run.runWith(spark, Map(
      "input" -> "/root/testdata/sf0.001",
      "output" -> out,
      "streaming" -> "true",
      "mode" -> "sparse",
      "model-dir" -> modelDir,
      "model-token" -> "streamtest"))
    info(metrics)

    // batch reference under the SAME committed (packed) model
    val (wLoaded, _) = ModelIO.loadSparse(spark, io, "streamtest", Some(snap))
    val wmap = SparseFeatures.collectWeights(wLoaded)
      .getOrElse(fail("fixture model must be broadcast-size"))
    val batchScores = SparseFeatures.scorePairsSparseFast(
        pairsAttr.select("ant_id", "cur_id", "block_key"), m, counts, wmap)
      .select(col("ant_id"), col("cur_id"), col("score"))
    val batchBp = Decode.backpointers(batchScores, 0.0)
      .select("cur_id", "ant_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(batchBp.nonEmpty)

    val st = StreamingClusters.loadState(spark, new TableIO(out), field(metrics, "config"))
      .getOrElse(fail("streaming state not committed under the config token"))
    val streamBp = st.backptrs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamBp === batchBp,
      "sparse-mode maintained backpointers must equal the batch sparse band decode")

    // the state token carries the SNAPSHOT-qualified model identity — a
    // retrain into the same store under the same --model-token mints a new
    // snapshot and must NOT resume state folded under the old one
    assert(field(metrics, "config").contains(s"streamtest@$snap"),
      s"stream state token must embed the model snapshot: ${field(metrics, "config")}")
    // the F5 backoff counts the stream scored with are a committed artifact
    // under the same token (a resume reloads them instead of recomputing
    // over the grown corpus — mixed-statistics state guard)
    assert(new TableIO(out).readIfCurrent(spark, "stream_counts",
        field(metrics, "config")).nonEmpty,
      "stream_counts must be committed under the state token")
  }

  test("same --input path with CHANGED contents invalidates checkpoint resume; " +
      "unchanged contents resume") {
    import graft.sources.Transcripts
    val tmp = java.nio.file.Files.createTempDirectory("runspec_ident").toString
    val inDir = s"$tmp/in"
    val ckpt = s"$tmp/ckpt"
    // a plain transcript parquet dir of the input-hint schema (NOT an sf
    // dir), so the test can append data to it between runs
    val base = Transcripts.load(spark, "/root/testdata/sf0.001")
    base.filter(col("conv_id") < lit("c0001")).write.parquet(inDir)

    def run(out: String): String = Run.runWith(spark, Map(
      "input" -> inDir, "output" -> out, "checkpoint" -> ckpt,
      "generator" -> "identifier"))
    run(s"$tmp/out1")
    val io = new TableIO(ckpt)
    val snap1 = io.latestSnapshot("clusters").get

    // unchanged input: the re-run resumes (no new snapshot committed)
    run(s"$tmp/out2")
    assert(io.latestSnapshot("clusters").get === snap1,
      "unchanged input must resume the committed snapshots")
    // a re-run into the same output commits no identical snapshot there
    run(s"$tmp/out1")
    val out1 = new TableIO(s"$tmp/out1")
    assert(out1.latestSnapshot("clusters") === Some(0),
      "a re-run with the same config must not append an identical snapshot")
    assert(out1.latestSnapshot("backptrs") === Some(0))

    // nightly-append: new files under the SAME path — every stage must
    // recompute under a new lineage token, not serve yesterday's clusters
    base.filter(col("conv_id") >= lit("c0001") && col("conv_id") < lit("c0002"))
      .write.mode("append").parquet(inDir)
    run(s"$tmp/out3")
    assert(io.latestSnapshot("clusters").get > snap1,
      "appended input files must invalidate the checkpointed lineage")
  }

  test("a batch Run derives each stage once: its Spark job count stays under the bound") {
    // every pinned table (mentions, surfaces, backptrs) built by one action,
    // TableIO counters from footers, one closing aggregate: a stage that is
    // lazily re-derived again adds 5-15 jobs and trips the bound
    val fx = graft.fixtures.ErFixture
    val tmp = java.nio.file.Files.createTempDirectory("runspec_jobs").toString
    fx.transcriptsDF(spark, fx.generate(entities = 10, convs = 30, seed = 7L))
      .write.parquet(s"$tmp/in")
    var metrics = ""
    val jobs = jobsDuring {
      metrics = Run.runWith(spark, Map("input" -> s"$tmp/in", "output" -> s"$tmp/out"))
    }
    info(s"$jobs Spark jobs: $metrics")
    assert(field(metrics, "clusters").toInt > 0)
    assert(jobs <= RunJobBound, s"a batch Run took $jobs Spark jobs (bound $RunJobBound)")
    val committed = new TableIO(s"$tmp/out").readIfCurrent(spark, "clusters",
      field(metrics, "config")).getOrElse(fail("clusters not committed"))
    assertClosingCounts(committed)
    assert(Run.rowsAndClusters(committed)._2 === field(metrics, "clusters").toLong)
  }

  test("--train without --model-dir fails loudly; --mode sparse without a model fails loudly") {
    val tmp = java.nio.file.Files.createTempDirectory("runspec2").toString
    intercept[RuntimeException] {
      Run.runWith(spark, Map(
        "input" -> "/root/testdata/sf0.001", "output" -> s"$tmp/o1", "train" -> "1"))
    }
    intercept[RuntimeException] {
      Run.runWith(spark, Map(
        "input" -> "/root/testdata/sf0.001", "output" -> s"$tmp/o2", "mode" -> "sparse"))
    }
  }

  test("malformed command lines are rejected, not silently accepted") {
    // dangling flag (user forgot the value): reject, don't drop it
    intercept[IllegalArgumentException] {
      Run.parseArgs(Array("--input", "x", "--joint"))
    }
    // typo'd option: reject, don't run the job without it
    intercept[RuntimeException] {
      Run.parseArgs(Array("--modeldir", "x"))
    }
    assert(Run.parseArgs(Array("--input", "a", "--train", "3")) ===
      Map("input" -> "a", "train" -> "3"))
    // --train 0 rejects up front instead of NoSuchElementException after
    // the full training prep ran
    val tmp = java.nio.file.Files.createTempDirectory("runspec3").toString
    intercept[IllegalArgumentException] {
      Run.runWith(spark, Map(
        "input" -> "/root/testdata/sf0.001", "output" -> s"$tmp/o",
        "model-dir" -> s"$tmp/m", "train" -> "0"))
    }
    // batch-only options alongside --streaming reject loudly instead of
    // silently doing nothing
    intercept[IllegalArgumentException] {
      Run.runWith(spark, Map(
        "input" -> "/root/testdata/sf0.001", "output" -> s"$tmp/o2",
        "streaming" -> "true", "evaluate" -> "true"))
    }
    // joint sub-options without --joint/--joint-train reject UP FRONT
    // (before the pipeline runs), not silently no-op
    intercept[IllegalArgumentException] {
      Run.runWith(spark, Map(
        "input" -> "/root/testdata/sf0.001", "output" -> s"$tmp/o3",
        "joint-wiki-coupling" -> "1.0"))
    }
    // --joint false + --joint-train is a contradiction, not a silent train
    intercept[IllegalArgumentException] {
      Run.runWith(spark, Map(
        "input" -> "/root/testdata/sf0.001", "output" -> s"$tmp/o4",
        "joint" -> "false", "joint-train" -> "2"))
    }
    // --joint-wiki-nil without an active wiki factor is dangling
    intercept[IllegalArgumentException] {
      Run.runWith(spark, Map(
        "input" -> "/root/testdata/sf0.001", "output" -> s"$tmp/o5",
        "joint" -> "true", "joint-wiki-nil" -> "0.5"))
    }
    // a typo'd --mode must not run dense and report the typo as the mode,
    // batch or streaming; and --train scores with the model it trains, so
    // an explicit --mode dense is a contradiction, not a silent sparse run.
    // Both reject before any Spark job runs.
    for ((extra, i) <- Seq(
        Map("mode" -> "sprase"),
        Map("mode" -> "sprase", "streaming" -> "true"),
        Map("mode" -> "dense", "train" -> "1", "model-dir" -> s"$tmp/m")).zipWithIndex) {
      val jobs = jobsDuring {
        intercept[IllegalArgumentException] {
          Run.runWith(spark, Map(
            "input" -> s"$tmp/never-read", "output" -> s"$tmp/o6-$i") ++ extra)
        }
      }
      assert(jobs == 0, s"$extra ran $jobs Spark jobs before rejecting")
    }
    assert(!new java.io.File(s"$tmp/m").exists(), "no model may be committed")
  }
}
