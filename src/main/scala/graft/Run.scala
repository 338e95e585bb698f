package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Json, TableIO}
import graft.pipeline._
import graft.sources.Transcripts
import graft.train.{ModelIO, Trainer}

/** spark-submit entry point for the record-linkage pipeline (north rule:
  * "launched via spark-submit on a multi-executor cluster"): transcripts in →
  * entity clusters out, with staged checkpoint/resume and a one-line JSON
  * metrics report. This is the operational face of [[Pipeline.run]] — the
  * engine analog of the reference's `Driver` main
  * (`/root/reference/src/main/java/edu/berkeley/nlp/entity/Driver.java`),
  * re-expressed as a cluster job instead of a single-JVM process.
  *
  * {{{
  * spark-submit --class graft.Run graft.jar \
  *   --input  <transcript parquet dir | harness sf dir>      (required)
  *   --output <dir for clusters/ backptrs/ metrics.json>     (required)
  *   [--mode dense|sparse]            default dense
  *   [--model-dir <TableIO dir>]      sparse: packed-model store (S5b)
  *   [--model-token <lineage token>]  sparse: model lineage to load
  *   [--train <epochs>]               train the sparse ranking model on the
  *                                    input's gold labels first, commit it
  *                                    packed to --model-dir, then score with
  *                                    the committed snapshot (forces sparse)
  *   [--gold <parquet>]               (mention_id, entity_id) gold table;
  *                                    default: harness convention (entity id
  *                                    encoded in the conv_id prefix)
  *   [--loss zero|<fl>-<fn>-<wl>]     train loss costs (falseLink-falseNew-
  *                                    wrongLink). Default zero (plain
  *                                    likelihood): correct for decoding at
  *                                    the default link threshold 0. The
  *                                    reference's recall-weighted customLoss
  *                                    regime (0.1-3.0-1.0, G4) biases scores
  *                                    UP by design — pair it with a higher
  *                                    --link-threshold or it over-links
  *   [--eta <double>]                 Adagrad step size, default 0.5 (feeds
  *                                    whichever trainer runs: --train,
  *                                    --ner-train, and/or --joint-train)
  *   [--evaluate true]                score the output against gold: pairwise
  *                                    link F1 over the blocked universe + MUC
  *                                    + B³ into metrics.json
  *   [--joint true]                   additionally run loopy-BP joint
  *                                    inference (G3: coref × mention-type
  *                                    factor graph) over the scored arcs and
  *                                    commit the per-mention joint decode
  *                                    (antecedent, type, marginals) as a
  *                                    `joint` table; metrics gains the count
  *                                    of antecedent flips vs the pairwise
  *                                    decode
  *   [--joint-coupling <double>]      type-agreement factor strength (1.0)
  *   [--joint-iters <int>]            BP iterations (6)
  *   [--joint-ner-coupling <double>]  NER-agreement factor strength (0 = off):
  *                                    ties each mention's type to the NER
  *                                    chain's entity posterior (forward-
  *                                    backward `m_b + m_i` averaged over the
  *                                    mention span)
  *   [--joint-wiki-coupling <double>] denotation-agreement factor strength
  *                                    (0 = off): latent wiki denotations per
  *                                    mention over the L5 grid (requires
  *                                    --link-dict; --link-redirects /
  *                                    --link-aux honored); coref links pull
  *                                    denotations together and vice versa
  *   [--joint-wiki-nil <double>]      NIL denotation unary score (0.0)
  *   [--joint-train <epochs>]         train the coref (and, with
  *                                    --joint-ner-coupling ≠ 0, NER) factor
  *                                    couplings first by BP-gradient Adagrad
  *                                    over the gold assignment log-likelihood
  *                                    (central finite differences), starting
  *                                    from the --joint-* values; gold
  *                                    antecedents derive from --gold / the
  *                                    harness convention (lowest-id
  *                                    gold-coreferent candidate IN THE SAME
  *                                    CONVERSATION — the factor graph is
  *                                    per-conversation; absent = gold-new).
  *                                    Mentions NOT covered by --gold carry no
  *                                    supervision term (a partial gold table
  *                                    does not read as "everything uncovered
  *                                    is gold-new"). Wiki couplings stay
  *                                    user-set (the gold table carries no
  *                                    titles). The decode then runs with the
  *                                    TRAINED couplings (reported in
  *                                    metrics); implies --joint
  *   [--ner true]                     additionally run the G1/G2 NER layer
  *                                    (per-token Viterbi labels + decoded
  *                                    chunks) over the input transcripts and
  *                                    commit `ner` + `ner_chunks` tables —
  *                                    the reference predict driver's NER
  *                                    output (committed under `ner_config`,
  *                                    the pipeline token extended with the
  *                                    emission model's identity). With
  *                                    --evaluate, metrics gains the A11 chunk
  *                                    F1 against the PROPER extents of the
  *                                    all-generators universe
  *   [--ner-train <epochs>]           train the NER emission model first
  *                                    (Adagrad+L1 multinomial logistic over
  *                                    the NerFeaturizer surface features,
  *                                    supervised by the PROPER extents) and
  *                                    decode with the trained emissions
  *                                    instead of the fixed ones; the 3×F
  *                                    weight matrix is committed as
  *                                    `ner_model` (implies --ner). A
  *                                    --link-dict, if given, feeds the L7
  *                                    surface-match dictionary features
  *   [--link true]                    wikify the mentions (L2–L5) against
  *                                    --link-dict and commit the per-mention
  *                                    `links` table alongside the clusters
  *   [--link-dict <parquet>]          (surface, title, cnt) dictionary —
  *                                    distill one from a dump via L6
  *   [--link-redirects <parquet>]     (src, dst) one-hop redirects (L3)
  *   [--link-aux <parquet>]           disambiguation titles to purge (L4)
  *   [--link-choose grid|cascade]     L5 query×denotation grid (default) or
  *                                    the L2 priority-then-count cascade
  *   [--conll-out <dir>]              also write the clustered mentions as
  *                                    CoNLL-style coref-bit text (S4)
  *   [--checkpoint <dir>]             stage snapshots; re-run resumes
  *   [--generator all|identifier]     mention generators (M1)
  *   [--link-threshold <double>]      default 0.0
  *   [--streaming true]               STREAMING face: drain --input as an
  *                                    arriving transcript file stream
  *                                    (Trigger.AvailableNow) through mention
  *                                    extraction → stateful band pairing →
  *                                    scoring → per-microbatch decode in
  *                                    the live cluster-maintenance fold;
  *                                    the maintained
  *                                    state commits through TableIO every
  *                                    --commit-cadence folds and a re-run
  *                                    with the same --output RESUMES (durable
  *                                    engine checkpoint + committed state),
  *                                    folding only newly-arrived files
  *   [--commit-cadence <int>]         streaming: state commit every n folds
  *                                    (default 1 = exactly-once resume)
  *   [--band <int>]                   streaming: band width (default = the
  *                                    batch Blocking.Config maxConvDist)
  *   [--watermark <duration>]         streaming: event-time watermark
  *                                    ("10 minutes")
  * }}}
  *
  * `--train N` is the engine's `runTrainEvaluate`
  * (`EntitySystem.scala:226-266`): distributed Adagrad antecedent-ranking
  * over the exploded sparse features (T1), loss-augmented per `--loss` (G4),
  * model packed (zero weights dropped, dense re-index — `PairwiseScorer.pack`,
  * `PairwiseScorer.scala:37-47`) and committed through [[TableIO]] (S5b);
  * prediction then LOADS the committed snapshot rather than reusing the
  * in-memory table, so every scored run is reproducible from the store and a
  * torn model write fails loudly here, not in a later session.
  *
  * Master/executor topology comes from spark-submit; launched bare (no
  * master set) it falls back to `local[*]` for smoke runs. AQE + skew-join
  * handling are enabled here; `spark.sql.shuffle.partitions` is respected
  * if the submitter set it and defaulted to the cluster parallelism
  * otherwise.
  */
object Run {

  /** Every option the job understands — an operational entry point must
    * reject a typo'd or dangling flag, not silently run without it. */
  private val KnownOpts = Set(
    "input", "output", "mode", "model-dir", "model-token", "train", "gold",
    "loss", "eta", "evaluate", "joint", "joint-coupling", "joint-iters",
    "joint-ner-coupling", "joint-wiki-coupling", "joint-wiki-nil",
    "joint-train",
    "ner", "ner-train", "link", "link-dict", "link-redirects", "link-aux",
    "link-choose",
    "conll-out", "checkpoint", "generator", "link-threshold",
    "streaming", "commit-cadence", "band", "watermark")

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, "options are --key value pairs; dangling " +
      s"flag at the end of: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) if k.startsWith("--") && KnownOpts(k.stripPrefix("--")) =>
        k.stripPrefix("--") -> v
      case Array(k, _) => sys.error(s"unknown option $k (known: " +
        KnownOpts.toSeq.sorted.map("--" + _).mkString(", ") + ")")
    }.toMap
  }

  /** Path probe / small-text write through the Hadoop FileSystem API — the
    * entry point documents spark-submit against a cluster, where paths are
    * hdfs:///s3a:// URIs and `java.io.File` silently answers false. */
  private def fsExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Content identity of an input path — (file count, total bytes, max
    * mtime) over one recursive listing, hashed. Folded into lineage tokens
    * so "same path, changed data" invalidates resume snapshots and link
    * lineage, not just "changed path": a nightly job that appends files to
    * the same --input must recompute, not resume yesterday's snapshots.
    * One driver-side listing — the same O(files) cost the parquet scan's
    * split planning pays on every read. */
  private def pathIdentity(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var n = 0L; var bytes = 0L; var maxMtime = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      n += 1; bytes += s.getLen
      maxMtime = math.max(maxMtime, s.getModificationTime)
    }
    java.lang.Long.toHexString(scala.util.hashing.MurmurHash3
      .stringHash(s"$path|$n|$bytes|$maxMtime").toLong & 0xffffffffL)
  }

  private def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((text + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** A harness sf dir derives transcripts from `events × customer`; anything
    * else is read as a parquet table of the input-hint schema. */
  private def readTranscripts(spark: SparkSession, input: String): DataFrame =
    if (fsExists(spark, s"$input/events.parquet"))
      Transcripts.load(spark, input)
    else {
      val df = spark.read.parquet(input)
      val need = Seq("conv_id", "turn_idx", "role", "text")
      val missing = need.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"input $input is missing transcript columns: ${missing.mkString(", ")}")
      df
    }

  /** Gold mention→entity mapping: `--gold` parquet when given, else the
    * harness convention (the gold entity id is the conv_id prefix group —
    * the synthetic-data analog of the reference's gold CoNLL annotation). */
  private def goldEntities(spark: SparkSession, opt: Map[String, String],
      mentions: DataFrame): DataFrame =
    opt.get("gold") match {
      case Some(p) =>
        val g = spark.read.parquet(p)
        val missing = Seq("mention_id", "entity_id").filterNot(g.columns.contains)
        require(missing.isEmpty,
          s"--gold $p is missing columns: ${missing.mkString(", ")}")
        g.select(col("mention_id"), col("entity_id"))
      case None => mentions.select(col("mention_id"),
        regexp_extract(col("conv_id"), "^c([0-9]+)-", 1).as("entity_id"))
    }

  private def parseLoss(s: String): Trainer.LossFn = s match {
    case "zero" => Trainer.LossFn.Zero
    case other => other.split("-") match {
      case Array(fl, fn, wl) => Trainer.LossFn(fl.toDouble, fn.toDouble, wl.toDouble)
      case _ => sys.error("--loss must be 'zero' or " +
        s"'<falseLink>-<falseNew>-<wrongLink>', got $other")
    }
  }

  private def extractMentions(transcripts: DataFrame, generator: String): DataFrame =
    if (generator == "identifier") Mentions.extractIdentifier(transcripts)
    else Mentions.extractAll(transcripts)

  /** Train the sparse ranking model on the input's gold labels, commit the
    * packed snapshot to `modelDir`, and load it BACK from the store (the
    * committed artifact is what scores, not the in-memory table). Returns
    * the loaded model (snapshot-derived lineage tag) and the metrics
    * fragment. All RDD blocks pinned by the prep/trainer are
    * released once the snapshot is committed (or the training fails) — the
    * loaded model reads from parquet and holds no reference to them. */
  private def trainAndCommit(spark: SparkSession, opt: Map[String, String],
      transcripts: DataFrame, generator: String, epochs: Int)
      : (SparseModel, String) = {
    require(epochs >= 1, s"--train needs at least 1 epoch, got $epochs")
    val modelDir = opt.getOrElse("model-dir",
      sys.error("--train requires --model-dir (where the packed model is committed)"))
    val loss = parseLoss(opt.getOrElse("loss", "zero"))
    val eta = opt.get("eta").map(_.toDouble).getOrElse(0.5)
    val token = s"train-$generator-ep$epochs-" +
      s"${loss.falseLink}-${loss.falseNew}-${loss.wrongLink}"
    val io = new TableIO(modelDir)
    val (trace, snap) = Pins.scoped(spark.sparkContext) {
      val mentions = extractMentions(transcripts, generator).localCheckpoint(true)
      // train over the FULL blocked candidate universe (band ∪ surface-blocked
      // cross-conversation pairs), not just the in-conversation band: the band
      // alone can be all-positive (a conversation's mentions often share one
      // entity), and a model that never sees a negative learns to link
      // everything — the reference likewise trains on all pruned candidate
      // antecedents (`CorefPruner.scala:100-153`).
      val pairsAttr = Scoring.attachAttrs(
        Blocking.candidatePairs(mentions, Blocking.Config()), mentions)
      val feats = SparseFeatures.featureStrings(pairsAttr,
        SparseFeatures.normCounts(mentions))
      val g = goldEntities(spark, opt, mentions)
      val labels = pairsAttr.select(col("ant_id"), col("cur_id"))
        .join(g.select(col("mention_id").as("ant_id"), col("entity_id").as("e_a")), "ant_id")
        .join(g.select(col("mention_id").as("cur_id"), col("entity_id").as("e_c")), "cur_id")
        .select(col("ant_id"), col("cur_id"),
          (col("e_a") === col("e_c")).cast("double").as("label"))
      val (trained, trace) = Trainer.trainSparseRankingDistributed(
        feats, labels, epochs = epochs, eta = eta, lossFn = loss)
      (trace, ModelIO.saveSparse(io, ModelIO.sparseWeightsFromTrained(trained), token))
    }
    val (w, tag) = ModelIO.loadSparse(spark, io, token, Some(snap))
    val nFeats = w.count()
    val frag =
      f""""trained_epochs":$epochs,"train_loss_first":${trace.head._2}%.6f,""" +
      f""""train_loss_last":${trace.last._2}%.6f,"model_snapshot":$snap,""" +
      s""""model_token":${Json.quote(token)},"model_features":$nFeats,"""
    (SparseModel(w, tag), frag)
  }

  /** `--mode`, checked once for batch and streaming: true for sparse. An
    * unknown value is rejected up front, never run as dense. */
  private def sparseMode(opt: Map[String, String]): Boolean =
    opt.getOrElse("mode", "dense") match {
      case "dense" => false
      case "sparse" => true
      case other => throw new IllegalArgumentException(
        s"--mode must be dense or sparse, got $other")
    }

  /** The committed packed model named by `--model-dir` / `--model-token`
    * (S5b). Its tag is the SNAPSHOT-qualified identity from
    * [[ModelIO.loadSparse]] (`<token>@<snap>`), not the raw --model-token: a
    * retrain into the same store keeps the token but mints a new snapshot,
    * and snapshots or state computed under the old one must not resume. */
  private def loadModel(spark: SparkSession, opt: Map[String, String]): SparseModel = {
    val dir = opt.getOrElse("model-dir",
      sys.error("--mode sparse requires --model-dir (a committed packed model)"))
    val token = opt.getOrElse("model-token",
      sys.error("--mode sparse requires --model-token"))
    val (w, tag) = ModelIO.loadSparse(spark, new TableIO(dir), token)
    SparseModel(w, tag)
  }

  /** Evaluate the committed clusters against gold: pairwise link F1 (A8,
    * the north-star metric) over the blocked candidate universe, plus MUC
    * and B³ (A10). Returns a metrics fragment. */
  private def evaluateFragment(spark: SparkSession, opt: Map[String, String],
      cfg: Pipeline.Config, res: Pipeline.Result): String = {
    val g = goldEntities(spark, opt, res.mentions)
    // the evaluation universe is the SAME blocked pair set the pipeline
    // under evaluation scored (cfg.blocking) — scoring it over a different
    // blocking config would count pairs the pipeline never saw as recall
    // misses (and exclude pairs it did score)
    val universe = Blocking.candidatePairs(res.mentions, cfg.blocking)
    val f1 = Eval.pairwiseF1(universe.select("ant_id", "cur_id"), res.clusters, g)
      .collect()(0)
    val m = Eval.muc(res.clusters, g).collect()(0)
    val b = Eval.bcub(res.clusters, g).collect()(0)
    f""""pairwise_f1":${f1.getAs[Double]("f1")}%.6f,""" +
    f""""muc_f1":${m.getAs[Double]("muc_f1")}%.6f,""" +
    f""""bcub_f1":${b.getAs[Double]("bcub_f1")}%.6f,"""
  }

  /** The STREAMING job body (`--streaming true`): the operational face of
    * the ST chain — transcript file stream → stateless mention extraction +
    * property enrichment → stateful band pairing (B1's streaming analog) →
    * the batch scoring expressions, stateless → a DURABLE scored-arc parquet
    * sink → (second query, stateless) the threshold filter and, per
    * microbatch, the per-mention argmax decode (W4/A2) inside
    * [[graft.streaming.StreamingClusters.maintain]], with a DURABLE engine
    * checkpoint and TableIO state commits every `--commit-cadence` folds.
    * `Trigger.AvailableNow` drains whatever has arrived and terminates — the
    * warehouse incremental-maintenance shape: a re-run with the same
    * `--output` loads the committed state, the engine checkpoint skips
    * already-folded files, and only new arrivals fold — one fold and one
    * state commit per run that brings new arcs, none for a run that brings
    * none (cadence 1 = exactly-once resume; see `maintain`'s resume
    * contract). Outputs written when the decode was a stateful query hold
    * its operator state under `stream_checkpoint/state/`; it is deleted
    * before the fold starts, since the stateless fold query cannot start
    * over a checkpoint that records a stateful operator.
    * The maintained cluster table equals the batch clustering of the band
    * arcs decoded so far after every fold (StreamingSpec), so the committed
    * `stream_clusters` snapshot is always a consistent entity table. */
  private def runStreaming(spark: SparkSession, opt: Map[String, String],
      input: String, output: String, sparse: Boolean): String = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{StreamingAssembly, StreamingClusters}
    val t0 = System.nanoTime()
    val linkThreshold = opt.get("link-threshold").map(_.toDouble).getOrElse(0.0)
    // band default: the batch Blocking.Config width, as in
    // streamingBandPairs' own signature — a narrower stream band drops
    // far-antecedent arcs the batch pipeline scores, and the maintained
    // clusters stop equalling the batch decode (found by RunSpec)
    val band = opt.get("band").map(_.toInt).getOrElse(Blocking.Config().maxConvDist)
    val watermark = opt.getOrElse("watermark", "10 minutes")
    val cadence = opt.get("commit-cadence").map(_.toInt).getOrElse(1)
    // sparse mode: the MODEL IDENTITY is part of the state lineage — a
    // resume that loads state folded under model A and extends it with
    // arrivals scored by model B would commit silently mixed-model clusters
    // under one tag (the batch path puts the model tag in
    // Pipeline.Config.token for exactly this reason).
    val model = if (sparse) Some(loadModel(spark, opt)) else None
    val wmap = model.map(m => SparseFeatures.collectWeights(m.weights).getOrElse(sys.error(
      "--streaming sparse needs a broadcast-size model (the stream-side " +
      "scorer is a pure projection; a join-scale model has no stream plan)")))
    val mode = if (sparse) "sparse" else "dense"
    val modelFrag = model.map("-" + _.tag).getOrElse("")
    val token =
      s"stream-$mode-$linkThreshold-$band-${watermark.replace(' ', '_')}$modelFrag"

    // Source dir: a harness sf dir derives transcripts relationally — they
    // have no parquet on disk to stream, so materialize them ONCE into the
    // output (skipped if present: a rewrite would mint new part-file names
    // the engine checkpoint hasn't seen and refold every row as new data).
    // Real deployments point --input at the arriving directory itself.
    val srcDir =
      if (fsExists(spark, s"$input/events.parquet")) {
        val d = s"$output/transcripts_src"
        // presence is judged by the _SUCCESS marker, not the directory: a
        // run killed mid-write leaves a partial directory that would
        // otherwise pass as the complete corpus forever (the engine
        // checkpoint cements whatever file set the first fold saw)
        if (!fsExists(spark, s"$d/_SUCCESS"))
          Transcripts.load(spark, input).write.mode("overwrite").parquet(d)
        d
      } else input

    val mentionStream = StreamingAssembly.enrichMentions(
      StreamingAssembly.extractMentions(
        StreamingAssembly.streamTranscripts(spark, srcDir)))
    val scores = wmap match {
      case None =>
        StreamingAssembly.streamingBandScores(spark, mentionStream,
          maxConvDist = band, watermark = watermark)
      case Some(w) =>
        // F5 backoff counts are a STATIC table (training-corpus statistics)
        // and part of the state identity: computed ONCE from the corpus the
        // first run saw, committed under the state token, and reloaded on
        // resume — recomputing over the grown corpus would score identical
        // pairs differently across runs and fold mixed-statistics arcs into
        // one state. Cold-start surfaces the table never saw back off to
        // their word shape (documented in streamingBandScoresSparse).
        val countsIo = new TableIO(output)
        val counts = countsIo.readOrCommit(spark, "stream_counts", token)(
          SparseFeatures.normCounts(
            Mentions.extractIdentifier(spark.read.parquet(srcDir))))
        StreamingAssembly.streamingBandScoresSparse(spark, mentionStream,
          counts, w, maxConvDist = band, watermark = watermark)
    }
    // Two chained queries, NOT one: band pairing keeps event-time state, so
    // after each drain Spark runs one more, empty microbatch to advance the
    // watermark and evict idle conversations. In one query that batch would
    // reach foreachBatch as an empty fold with its own state commit; here it
    // ends in the arc sink, and the fold query — stateless, so it never
    // runs a no-data microbatch — folds once per run that brings new arcs.
    // The durable arc table between them is the warehouse topology anyway:
    // each stage has its own checkpoint, the parquet file sink is
    // exactly-once per batch (file-sink log), and the fold reads whole sink
    // batches, so all of a mention's arcs reach the same fold.
    val arcDir = s"$output/band_scores"
    val q1 = scores.writeStream
      .format("parquet")
      .option("path", arcDir)
      .option("checkpointLocation", s"$output/ckpt_scores")
      .trigger(Trigger.AvailableNow())
      .start()
    q1.awaitTermination()

    val arcStream = spark.readStream
      .schema("ant_id STRING, cur_id STRING, block_key STRING, " +
        "score DOUBLE, ts TIMESTAMP")
      .parquet(arcDir)
    val decoded = StreamingAssembly.streamingDecode(spark, arcStream, linkThreshold)

    val foldCkpt = s"$output/stream_checkpoint"
    // only the retired stateful decode ever wrote operator state here
    val retiredState = new org.apache.hadoop.fs.Path(s"$foldCkpt/state")
    val ckptFs = retiredState.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (ckptFs.exists(retiredState)) {
      ckptFs.delete(retiredState, true)
      System.err.println(s"[run] deleted the retired decode's operator state " +
        s"$retiredState (the fold query holds no state)")
    }
    val io = new TableIO(output)
    val initial = StreamingClusters.loadState(spark, io, token)
    val initialBatches = initial.map(_.batches).getOrElse(0L)
    val (q, ref) = StreamingClusters.maintain(spark, decoded,
      trigger = Some(Trigger.AvailableNow()),
      initial = initial,
      commitCadence = Some((io, token, cadence)),
      checkpointLocation = Some(foldCkpt))
    q.awaitTermination()
    val st = ref.get()
    // the cadence committed every n-th fold; seal the tail so the final
    // state is always resumable (skip when the cadence already wrote it —
    // or when nothing folded, leaving the loaded state current)
    if (st.batches > initialBatches && st.batches % cadence != 0)
      StreamingClusters.commitState(io, st, token)
    val (nLive, nClusters) = rowsAndClusters(st.clusters)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val metrics =
      s"""{"input":${Json.quote(input)},"mode":${Json.quote(mode)},"streaming":true,""" +
      s""""config":${Json.quote(token)},"folds":${st.batches},""" +
      s""""resumed_from_fold":$initialBatches,""" +
      s""""linked_mentions":$nLive,"clusters":$nClusters,""" +
      f""""wall_sec":$wallSec%.3f}"""
    writeText(spark, s"$output/metrics.json", metrics)
    metrics
  }

  /** Rows and distinct `cluster_id`s of a `(mention_id, cluster_id)` table,
    * in one aggregate; (0, 0) when it is empty. */
  private def rowsAndClusters(clusters: DataFrame): (Long, Long) = {
    val r = clusters.agg(count(lit(1)), countDistinct(col("cluster_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The job body, session-lifecycle-free so a test can drive it on a shared
    * session: parses options, optionally trains+commits a sparse model, runs
    * the pipeline, commits outputs, writes and returns the metrics line. */
  def runWith(spark: SparkSession, opt: Map[String, String]): String = {
    val input = opt.getOrElse("input", sys.error("--input is required"))
    val output = opt.getOrElse("output", sys.error("--output is required"))
    val sparse = sparseMode(opt)
    if (opt.get("streaming").exists(_.toBoolean)) {
      // every option runStreaming does not read is rejected, not silently
      // ignored — including sub-options of rejected mains (--gold,
      // --generator, --loss…): the stream always extracts identifier
      // mentions, so accepting `--generator all` would silently no-op
      val batchOnly = Seq("train", "joint", "evaluate", "ner", "ner-train",
        "link", "conll-out", "checkpoint", "gold", "generator", "loss", "eta",
        "joint-coupling", "joint-iters", "joint-ner-coupling",
        "joint-wiki-coupling", "joint-wiki-nil", "joint-train", "link-dict",
        "link-redirects", "link-aux", "link-choose").filter(opt.contains)
      require(batchOnly.isEmpty,
        s"--streaming is the incremental-maintenance face; batch-only options " +
        s"given: ${batchOnly.map("--" + _).mkString(", ")} (train the model in " +
        "a batch run and pass it via --model-dir/--model-token)")
      return runStreaming(spark, opt, input, output, sparse)
    }
    // joint-flag validation UP FRONT (before the pipeline runs), same
    // doctrine as KnownOpts and the streaming batch-only reject: an
    // operational entry point must reject a contradictory or dangling
    // sub-option, not run a full pipeline and then silently ignore it.
    // --joint-train implies --joint, the way --ner-train implies --ner: a
    // training request with the decode flag forgotten must not no-op
    val jointOn = opt.get("joint").exists(_.toBoolean) ||
      opt.contains("joint-train")
    require(!(opt.contains("joint-train") && opt.get("joint").exists(!_.toBoolean)),
      "--joint false contradicts --joint-train (training implies the decode)")
    require(!(opt.contains("train") && opt.get("mode").contains("dense")),
      "--mode dense contradicts --train (the trained sparse model scores the run)")
    if (!jointOn) {
      val dangling = Seq("joint-coupling", "joint-iters", "joint-ner-coupling",
        "joint-wiki-coupling", "joint-wiki-nil").filter(opt.contains)
      require(dangling.isEmpty,
        s"joint sub-options given without --joint true / --joint-train: " +
        s"${dangling.map("--" + _).mkString(", ")}")
    }
    require(opt.get("joint-wiki-coupling").map(_.toDouble).getOrElse(0.0) != 0.0 ||
        !opt.contains("joint-wiki-nil"),
      "--joint-wiki-nil is meaningless without --joint-wiki-coupling ≠ 0")

    val trainEpochs = opt.get("train").map(_.toInt)
    val generator = opt.getOrElse("generator", "all")
    val transcripts = readTranscripts(spark, input)

    val (model, trainFrag) = trainEpochs match {
      case Some(ep) =>
        val (m, frag) = trainAndCommit(spark, opt, transcripts, generator, ep)
        (Some(m), frag)
      case None => (if (sparse) Some(loadModel(spark, opt)) else None, "")
    }
    val mode = if (model.nonEmpty) "sparse" else "dense"

    val cfg = Pipeline.Config(
      mentionGenerator = generator,
      linkThreshold = opt.get("link-threshold").map(_.toDouble).getOrElse(0.0),
      checkpointDir = opt.get("checkpoint"),
      sparse = model,
      // input identity in the lineage: the same --checkpoint dir pointed at
      // a different --input — or the SAME path with changed contents (the
      // nightly-append case) — must recompute, not resume stale snapshots
      inputTag = s"$input@${pathIdentity(spark, input)}")

    val t0 = System.nanoTime()
    val res = Pipeline.run(spark, transcripts, cfg)
    // one atomic commit per output table, lineage = the pipeline config token;
    // a re-run whose latest snapshot already carries the token commits nothing
    val out = new TableIO(output)
    for ((stage, df) <- Seq("clusters" -> res.clusters, "backptrs" -> res.backptrs))
      if (out.readIfCurrent(spark, stage, cfg.token).isEmpty) out.commit(stage, df, cfg.token)
    val wallSec = (System.nanoTime() - t0) / 1e9

    // shared loader for the linking inputs (consumed by the joint wiki
    // factors, --ner-train's L7 dictionary features, and --link): one parse
    // point, so a schema or default fix cannot drift between consumers
    def loadLinkInputs(requiredBy: String): (DataFrame, DataFrame, DataFrame) = {
      import spark.implicits._
      val dict = spark.read.parquet(opt.getOrElse("link-dict", sys.error(
        s"$requiredBy requires --link-dict (a (surface,title,cnt) parquet — " +
        "distill one from a dump with graft.wiki (L6))")))
      val redirects = opt.get("link-redirects").map(spark.read.parquet(_))
        .getOrElse(Seq.empty[(String, String)].toDF("src", "dst"))
      val aux = opt.get("link-aux").map(spark.read.parquet(_))
        .getOrElse(Seq.empty[String].toDF("title"))
      (dict, redirects, aux)
    }
    // CONTENT identity of an optional path option, and a derived sub-token:
    // a committed table whose content depends on inputs beyond the pipeline
    // config must extend the pipeline token with those inputs' identities
    // (the `links` doctrine: the same clusters against two different
    // dictionaries — or one re-distilled into the same path — must never
    // share a snapshot identity)
    def optId(key: String): String = opt.get(key)
      .map(p => s"$p@${pathIdentity(spark, p)}").getOrElse("")
    def subToken(parts: String): String = cfg.token + "-" +
      java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(parts).toLong & 0xffffffffL)

    // G1/G2 + A11 operational face: the reference's predict driver emits the
    // NER layer alongside coref (`NerSystemLabeled` tagged docs); commit the
    // per-token Viterbi labels and the decoded chunks. Runs BEFORE the joint
    // block: when --ner-train and --joint-ner-coupling are both given, the
    // joint evidence must be the TRAINED tagger's posteriors — the model
    // this run commits — not the fixed default's.
    val nerTrainEpochs = opt.get("ner-train").map(_.toInt)
    val (nerFrag, nerW) =
      if (nerTrainEpochs.nonEmpty || opt.get("ner").exists(_.toBoolean)) {
      import graft.ner.{Ner, NerTrainer}
      Pins.scoped(spark.sparkContext) {
        // the PROPER extents of the all-generators universe double as the NER
        // supervision (B/I/O projection — the reference distills its span
        // annotation the same way) and as the A11 evaluation gold; computed
        // against the SAME universe in both roles, independent of --generator
        lazy val properExtents = {
          val u = if (generator == "all") res.mentions
            else extractMentions(transcripts, "all")
          u.filter(col("mtype") === "PROPER")
            .select(col("conv_id"), col("turn_idx"), col("start"), col("end"))
        }
        // the NER lineage extends the pipeline token with everything the
        // emission model depends on: epochs, step size, the L7 dictionary's
        // content identity — two differently-trained taggers into the same
        // --output must not share a snapshot identity
        val (emissions, wOpt, nerToken, trainNerFrag) = nerTrainEpochs match {
          case Some(ep) =>
            require(ep >= 1, s"--ner-train needs at least 1 epoch, got $ep")
            val eta = opt.get("eta").map(_.toDouble).getOrElse(0.5)
            val dictToks = opt.get("link-dict")
              .map(p => NerTrainer.dictTokens(spark.read.parquet(p)))
            val feats = NerTrainer.tokenFeatures(transcripts, dictToks)
              .localCheckpoint(true) // consumed twice: trainer epochs + emissions
            val w = NerTrainer.train(feats,
              NerTrainer.goldTokenLabels(properExtents), epochs = ep, eta = eta)
            val tok = subToken(s"ner|$ep|$eta|${optId("link-dict")}")
            // the trained 3×F matrix is committed like the coref model — the
            // store is what makes a later decode reproducible (RunSpec gates it)
            import spark.implicits._
            val wdf = (for {
              l <- 0 until Ner.Labels.length
              j <- NerTrainer.FeatureNames.indices
            } yield (Ner.Labels(l), NerTrainer.FeatureNames(j), w(l)(j)))
              .toDF("label", "feature", "weight")
            out.commit("ner_model", wdf, tok)
            (NerTrainer.emissions(feats, w), Some(w), tok,
              s""""ner_trained_epochs":$ep,""")
          case None =>
            (Ner.emissions(transcripts), None, subToken("ner|fixed"), "")
        }
        val labeled = Ner.viterbi(spark, emissions)
          .localCheckpoint(true) // consumed twice: committed + chunked
        out.commit("ner", labeled, nerToken)
        val chunks = Ner.chunks(labeled).localCheckpoint(true)
        out.commit("ner_chunks", chunks, nerToken)
        val nChunks = chunks.count()
        // A11 under --evaluate: chunk F1 against the PROPER extents
        val f1Frag = if (opt.get("evaluate").exists(_.toBoolean)) {
          val f1 = Ner.chunkF1(chunks, properExtents).collect()(0)
          f""""ner_chunk_f1":${f1.getAs[Double]("f1")}%.6f,"""
        } else ""
        (trainNerFrag + s""""ner_config":${Json.quote(nerToken)},"ner_chunks":$nChunks,""" +
          f1Frag, wOpt)
      }
    } else ("", None)

    // G3 operational face: BP joint decode over the same scored arcs the
    // pairwise decode consumed, committed alongside (the factor graph is
    // per-conversation, so cross-conversation bridge/chain arcs simply do
    // not couple — identical to the g3_joint_decode driver surface);
    // flag validation happened up front, before the pipeline ran
    val jointFrag = if (jointOn) {
      val coupling = opt.get("joint-coupling").map(_.toDouble).getOrElse(1.0)
      val iters = opt.get("joint-iters").map(_.toInt).getOrElse(6)
      val nerCpl = opt.get("joint-ner-coupling").map(_.toDouble).getOrElse(0.0)
      val wikiCpl = opt.get("joint-wiki-coupling").map(_.toDouble).getOrElse(0.0)
      val wikiNil = opt.get("joint-wiki-nil").map(_.toDouble).getOrElse(0.0)
      Pins.scoped(spark.sparkContext) {
        // NER-agreement evidence: the forward-backward entity posterior
        // (m_b + m_i) averaged over each mention's token span — the infer()
        // contract's documented feed (JointDocFactorGraphOnto.scala:62-99) —
        // from the emission model THIS RUN decodes with (trained when
        // --ner-train ran, fixed otherwise); checkpointed: consumed by
        // training (dozens of objective evaluations) and by the decode
        val evidence = if (nerCpl != 0.0) {
          val emis = nerW match {
            case Some(w) => graft.ner.NerTrainer.emissions(
              graft.ner.NerTrainer.tokenFeatures(transcripts,
                opt.get("link-dict").map(p =>
                  graft.ner.NerTrainer.dictTokens(spark.read.parquet(p)))), w)
            case None => graft.ner.Ner.emissions(transcripts)
          }
          val fb = graft.ner.Ner.forwardBackward(spark, emis)
          Some(res.mentions.select(col("mention_id"), col("conv_id"),
              col("turn_idx"), explode(sequence(col("start"), col("end"))).as("pos"))
            .join(fb, Seq("conv_id", "turn_idx", "pos"))
            .groupBy(col("mention_id"))
            .agg(avg(col("m_b") + col("m_i")).as("p_entity"))
            .withColumn("new_bias", lit(0.0))
            .localCheckpoint(true))
        } else None
        // wiki denotation nodes: the full L5 grid (every candidate title per
        // mention), not the chooser's argmax — the factor graph owns the choice
        val wikiScores = if (wikiCpl != 0.0) {
          val (dict, redirects, aux) = loadLinkInputs("--joint-wiki-coupling")
          Some(graft.linking.Linking.denotationGrid(res.mentions, dict, redirects, aux))
        } else None
        // --joint-train: the reference's runTrainEvaluate for the factor graph
        // (BP-gradient Adagrad over the factor weights) — coref and, when the
        // evidence factor is active, NER couplings; wiki couplings stay
        // user-set (no gold titles in the mention→entity supervision). The
        // gold marker g_type = "NONE" is deliberately outside the Types enum:
        // the row participates in the antecedent term (gold-new mentions
        // included) with no type-supervision term.
        val (cplCoref, cplNer, trainJointFrag) =
          opt.get("joint-train").map(_.toInt) match {
            case Some(ep) =>
              require(ep >= 1, s"--joint-train needs at least 1 epoch, got $ep")
              val g = goldEntities(spark, opt, res.mentions)
              val mConv = res.mentions.select(col("mention_id"), col("conv_id"))
              // the factor graph is per-conversation: the gold antecedent is
              // the lowest-id gold-coreferent candidate IN THE SAME
              // CONVERSATION. A cross-conversation chain/bridge arc is not a
              // reachable assignment for any A_c, so deriving g_ant from one
              // would floor that mention's goldLogLik term to a constant
              // (zero gradient) even when an in-conversation gold candidate
              // exists — silently destroying its training signal.
              val goldArc = res.scored.select(col("ant_id"), col("cur_id"))
                .join(mConv.select(col("mention_id").as("ant_id"),
                  col("conv_id").as("conv_a")), "ant_id")
                .join(mConv.select(col("mention_id").as("cur_id"),
                  col("conv_id").as("conv_c")), "cur_id")
                .filter(col("conv_a") === col("conv_c"))
                .join(g.select(col("mention_id").as("ant_id"),
                  col("entity_id").as("e_a")), "ant_id")
                .join(g.select(col("mention_id").as("cur_id"),
                  col("entity_id").as("e_c")), "cur_id")
                .filter(col("e_a") === col("e_c"))
                .groupBy(col("cur_id")).agg(min(col("ant_id")).as("g_ant"))
              // supervision only for gold-COVERED mentions: a mention absent
              // from the gold table gets NO gold row (the kernel's all-null
              // case, no term), not a fabricated "gold-new" — a partial
              // --gold must not read as "everything uncovered starts its own
              // entity", which would bias the trained coupling against linking
              val goldDf = g.select(col("mention_id")).distinct()
                .join(goldArc.select(col("cur_id").as("mention_id"), col("g_ant")),
                  Seq("mention_id"), "left")
                .select(col("mention_id"), col("g_ant"),
                  lit("NONE").as("g_type"),
                  lit(null).cast("string").as("g_wiki"))
              val (trained, trace) = graft.joint.JointInference.trainCouplings(
                spark, graft.joint.JointInference.typePriors(res.mentions),
                res.scored.select(col("ant_id"), col("cur_id"), col("score")),
                goldDf, epochs = ep,
                eta = opt.get("eta").map(_.toDouble).getOrElse(0.5),
                iters = iters,
                init = graft.joint.JointInference.Couplings(coupling, nerCpl,
                  wikiCpl, wikiNil),
                // no wikiScores in the TRAINING graph: every g_wiki is null,
                // so a wiki-factored objective would read "all denotations are
                // gold-NIL" — false supervision perturbing the coref gradient.
                // Wiki factors join at decode with their user-set couplings.
                evidence = evidence, wikiScores = None,
                trainWiki = false)
              (trained.coref, trained.ner,
                f""""joint_trained_epochs":$ep,""" +
                f""""joint_loss_first":${trace.head._2}%.6f,""" +
                f""""joint_loss_last":${trace.last._2}%.6f,""")
            case None => (coupling, nerCpl, "")
          }
        val joint = graft.joint.JointInference.infer(spark,
          graft.joint.JointInference.typePriors(res.mentions),
          res.scored.select(col("ant_id"), col("cur_id"), col("score")),
          coupling = cplCoref, iters = iters,
          evidence = evidence, nerCoupling = cplNer,
          wikiScores = wikiScores, wikiCoupling = wikiCpl, wikiNilScore = wikiNil)
          .localCheckpoint(true) // consumed twice: committed + flip-diffed
        // the joint table's lineage: pipeline token + everything the factor
        // graph depends on beyond the pipeline — the (possibly trained)
        // couplings, the iteration count, the gold table's content identity
        // (it shaped the trained couplings), the emission model feeding the
        // evidence, and the wiki grid's inputs
        val emisId = if (nerCpl != 0.0) nerW.map(_ =>
            s"trained|${nerTrainEpochs.get}|${opt.getOrElse("eta", "0.5")}|" +
              optId("link-dict"))
          .getOrElse("fixed") else ""
        val wikiId = if (wikiCpl != 0.0)
          s"${optId("link-dict")}|${optId("link-redirects")}|${optId("link-aux")}"
          else ""
        val jointToken = subToken(
          s"joint|$cplCoref|$cplNer|$wikiCpl|$wikiNil|$iters|bp|" +
          s"${opt.getOrElse("joint-train", "")}|${optId("gold")}|$emisId|$wikiId")
        out.commit("joint", joint, jointToken)
        val flips = joint
          .select(col("mention_id").as("cur_id"), col("ant_id").as("joint_ant"))
          .join(res.backptrs.select(col("cur_id"), col("ant_id").as("pair_ant")),
            Seq("cur_id"), "left")
          .filter(!(col("joint_ant") <=> col("pair_ant"))).count()
        val wikiFrag = if (wikiCpl != 0.0) {
          val titled = joint.filter(col("wiki_title").isNotNull).count()
          s""""joint_wiki_coupling":$wikiCpl,"joint_wiki_titled":$titled,"""
        } else ""
        val nerCplFrag =
          if (cplNer != 0.0) s""""joint_ner_coupling":$cplNer,""" else ""
        trainJointFrag + s""""joint_config":${Json.quote(jointToken)},""" +
          s""""joint_coupling":$cplCoref,"joint_iters":$iters,""" +
          nerCplFrag + wikiFrag + s""""joint_flips":$flips,"""
      }
    } else ""
    // L2–L5 operational face: wikify the mentions against a user-supplied
    // title dictionary and commit the per-mention links alongside the
    // clusters — the reference job's wikification output
    // (`wiki/JointQueryDenotationChooser.scala`, `WikificationEvaluator`)
    val linkFrag = if (opt.get("link").exists(_.toBoolean)) {
      val (dict, redirects, aux) = loadLinkInputs("--link")
      Pins.scoped(spark.sparkContext) {
        val choose = opt.getOrElse("link-choose", "grid")
        val links = (choose match {
          case "grid" => // L5 query×denotation grid with the L4 aux purge
            graft.linking.Linking.queryDenotationChoose(res.mentions, dict, redirects, aux)
          case "cascade" => // L2+L3 best-priority-then-count cascade
            graft.linking.Linking.link(res.mentions, dict, redirects)
          case other => sys.error(s"--link-choose must be grid|cascade, got $other")
        }).localCheckpoint(true) // consumed twice: committed + counted
        // links lineage extends the pipeline token with the linking inputs —
        // the same clusters wikified against a different dictionary (or chooser)
        // must NOT share a token, or a resume-style reader would treat the two
        // as interchangeable snapshots (see optId/subToken above)
        val linkToken = subToken(
          s"${optId("link-dict")}|${optId("link-redirects")}|" +
          s"${optId("link-aux")}|$choose")
        out.commit("links", links, linkToken)
        val nLinked = links.count()
        s""""link_config":${Json.quote(linkToken)},"linked_mentions":$nLinked,"""
      }
    } else ""
    // S4 operational face: the reference predict driver's actual output
    // format (`ConllDocWriter.writeDoc`) — token-per-line text with coref
    // bits, one conversation never split across files. Parquet commits stay
    // the primary sink; this is the interchange format a CoNLL scorer or the
    // reference's own readers consume.
    val conllFrag = opt.get("conll-out").map { dir =>
      graft.io.ConllWriter.write(
        graft.io.ConllWriter.formatLines(transcripts, res.mentions, res.clusters),
        dir)
      s""""conll_out":${Json.quote(dir)},"""
    }.getOrElse("")
    val evalFrag = if (opt.get("evaluate").exists(_.toBoolean))
      evaluateFragment(spark, opt, cfg, res) else ""
    // `clusters` holds one row per mention (Clustering.cluster's contract)
    val (nMentions, nClusters) = rowsAndClusters(res.clusters)
    val metrics = s"""{"input":${Json.quote(input)},"mode":${Json.quote(mode)},""" +
      s""""config":${Json.quote(cfg.token)},""" +
      trainFrag + jointFrag + nerFrag + linkFrag + conllFrag + evalFrag +
      s""""mentions":$nMentions,"clusters":$nClusters,""" +
      f""""wall_sec":$wallSec%.3f}"""
    writeText(spark, s"$output/metrics.json", metrics)
    res.unpersist()
    metrics
  }

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val conf = new SparkConf()
    val builder = SparkSession.builder().appName("graft-er")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    val spark =
      (if (conf.contains("spark.master")) builder else builder.master("local[*]"))
        .getOrCreate()
    if (!conf.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.defaultParallelism.toString)
    graft.functions.register(spark)
    println(runWith(spark, opt))
    spark.stop()
  }
}
