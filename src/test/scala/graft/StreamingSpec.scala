package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.fixtures.ErFixture
import graft.streaming.StreamingAssembly

/** Streaming ingest: the stream path must agree with the batch path on the
  * same data (micro-batch equivalence), and the maintained cluster state
  * must commit and resume. */
class StreamingSpec extends SparkSuite {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-stream").toString
    val g = ErFixture.generate(entities = 10, convs = 20, seed = 11L)
    ErFixture.transcriptsDF(spark, g).repartition(3).write.mode("overwrite").parquet(d)
    d
  }

  test("streaming mention extraction == batch extraction on same input") {
    val stream = StreamingAssembly.streamTranscripts(spark, dir)
    val q = StreamingAssembly.extractMentions(stream)
      .writeStream.format("memory").queryName("stream_mentions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_mentions")
      .select("mention_id", "surface", "mtype").orderBy("mention_id").collect().toSeq
    val batch = graft.pipeline.Mentions.extractIdentifier(spark.read.parquet(dir))
      .select("mention_id", "surface", "mtype").orderBy("mention_id").collect().toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("streaming band scoring + decode == batch band + decode on replay") {
    import graft.pipeline.{Mentions, Blocking, Scoring, Decode}
    val transcripts = spark.read.parquet(dir)
    val m = Mentions.extractIdentifier(transcripts).cache()
    val cfg = Blocking.Config()
    val batchScores = Scoring.scorePairs(
      Blocking.convBandPairs(m, cfg), m)
      .select(col("ant_id"), col("cur_id"), round(col("score"), 9).as("score"))
      .cache()
    val batchBptr = Decode.backpointers(
      Scoring.scorePairs(Blocking.convBandPairs(m, cfg), m), 0.0)
      .select("cur_id", "ant_id").collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // replay the enriched mentions as a file stream; ONE file per conv order
    // is not needed — the stateful sequencer sorts within the batch
    val md = Files.createTempDirectory("graft-band").toString
    m.select("conv_id", "mention_id", "turn_idx", "start", "norm", "head_key",
      "toks", "mtype", "closed_class", "role", "number", "gender", "ts")
      .coalesce(1).write.mode("overwrite").parquet(md)
    val stream = spark.readStream.schema(
      "conv_id STRING, mention_id STRING, turn_idx INT, start INT, norm STRING, " +
        "head_key STRING, toks ARRAY<STRING>, mtype STRING, closed_class BOOLEAN, " +
        "role STRING, number STRING, gender STRING, ts TIMESTAMP").parquet(md)
    val q = StreamingAssembly.streamingBandScores(spark, stream,
      maxConvDist = cfg.maxConvDist)
      .writeStream.format("memory").queryName("stream_band")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamedScores = spark.table("stream_band")
      .select(col("ant_id"), col("cur_id"), round(col("score"), 9).as("score"))
    val nBatch = batchScores.count()
    assert(nBatch > 0)
    assert(streamedScores.count() === nBatch)
    assert(streamedScores.exceptAll(batchScores).count() === 0L,
      "streamed band scores must equal the batch band scores exactly")

    // decode phase: stream the scored arcs through the threshold filter,
    // then take the per-mention argmax the fold takes per microbatch
    val sd = Files.createTempDirectory("graft-banddec").toString
    spark.table("stream_band").coalesce(1).write.mode("overwrite").parquet(sd)
    val arcStream = spark.readStream.schema(
      "ant_id STRING, cur_id STRING, block_key STRING, score DOUBLE, ts TIMESTAMP")
      .parquet(sd)
    val q2 = StreamingAssembly.streamingDecode(spark, arcStream, 0.0)
      .writeStream.format("memory").queryName("stream_decode")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(180000)
    // every arc above the threshold; the best per cur is the decode
    val streamedBptr = spark.table("stream_decode")
      .groupBy(col("cur_id"))
      .agg(min_by(col("ant_id"), struct(negate(col("score")), col("ant_id"))).as("ant_id"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamedBptr === batchBptr,
      s"streaming decode must equal batch backpointers (${streamedBptr.size} vs ${batchBptr.size})")
  }

  test("streaming SPARSE band scoring == batch sparse band scores on replay") {
    import graft.pipeline.{Mentions, Blocking, Scoring, SparseFeatures}
    val transcripts = spark.read.parquet(dir)
    val m = Mentions.extractIdentifier(transcripts).cache()
    val cfg = Blocking.Config()
    val counts = SparseFeatures.normCounts(m).cache()
    val bandPairs = Blocking.convBandPairs(m, cfg)
    // deterministic model: log-odds against a head-match pseudo-label — any
    // fixed weight table works, the test pins stream == batch under it
    val pairsAttr = Scoring.attachAttrs(bandPairs, m)
    val feats = SparseFeatures.featureStrings(pairsAttr, counts)
    val labels = pairsAttr.select(col("ant_id"), col("cur_id"),
      (col("head_key_a") === col("head_key_c")).cast("double").as("label"))
    val wmap = SparseFeatures.collectWeights(
      SparseFeatures.logOddsWeights(feats, labels)).get
    val batchScores = SparseFeatures.scorePairsSparseFast(bandPairs, m, counts, wmap)
      .select(col("ant_id"), col("cur_id"), col("score")).cache()

    val md = Files.createTempDirectory("graft-sband").toString
    m.select("conv_id", "mention_id", "turn_idx", "start", "norm", "head_key",
      "toks", "mtype", "closed_class", "role", "number", "gender", "ts")
      .coalesce(1).write.mode("overwrite").parquet(md)
    val stream = spark.readStream.schema(
      "conv_id STRING, mention_id STRING, turn_idx INT, start INT, norm STRING, " +
        "head_key STRING, toks ARRAY<STRING>, mtype STRING, closed_class BOOLEAN, " +
        "role STRING, number STRING, gender STRING, ts TIMESTAMP").parquet(md)
    val q = StreamingAssembly.streamingBandScoresSparse(spark, stream, counts,
      wmap, maxConvDist = cfg.maxConvDist)
      .writeStream.format("memory").queryName("stream_sband")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = spark.table("stream_sband")
      .select(col("ant_id"), col("cur_id"), col("score"))
    val nBatch = batchScores.count()
    assert(nBatch > 0)
    assert(streamed.count() === nBatch)
    // integer-exact sums ⇒ EXACT double equality, no rounding
    assert(streamed.exceptAll(batchScores).count() === 0L &&
      batchScores.exceptAll(streamed).count() === 0L,
      "streamed sparse band scores must equal the batch sparse band scores exactly")
  }

  test("END-TO-END raw transcript stream -> mentions -> band scores == batch") {
    import graft.pipeline.{Mentions, Blocking, Scoring}
    // the full streaming chain from RAW transcripts: extract (stateless) →
    // enrich with the batch property expressions (stateless) → stateful band
    // pairing + sequencing → the batch scoring expressions, stateless
    val stream = StreamingAssembly.streamTranscripts(spark, dir)
    val enriched = StreamingAssembly.enrichMentions(
      StreamingAssembly.extractMentions(stream))
    val q = StreamingAssembly.streamingBandScores(spark, enriched)
      .writeStream.format("memory").queryName("stream_e2e_band")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = spark.table("stream_e2e_band")
      .select(col("ant_id"), col("cur_id"), round(col("score"), 9).as("score"))
    val m = Mentions.extractIdentifier(spark.read.parquet(dir))
    val batch = Scoring.scorePairs(Blocking.convBandPairs(m, Blocking.Config()), m)
      .select(col("ant_id"), col("cur_id"), round(col("score"), 9).as("score"))
    assert(batch.count() > 0)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0L,
      "end-to-end streamed band scores must equal the batch band scores")
  }

  /** Delete the LARGEST parquet part under a snapshot dir: tiny tables
    * written at 32 shuffle partitions leave most parts empty, and deleting
    * an empty part would not perturb the manifest row count the corruption
    * tests need to violate. */
  private def deleteLargestPart(snap: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val doomed = Files.list(snap).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .maxBy(Files.size)
    Files.delete(doomed)
  }

  test("maintain FAILS loudly when the loaded state diverges from the engine checkpoint") {
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sclust-div").toString
    val ckpt = Files.createTempDirectory("graft-sclust-divckpt").toString
    val ioRoot = Files.createTempDirectory("graft-sclust-divio").toString
    val io = new TableIO(ioRoot)
    def addFile(rows: Seq[(String, String, Double)]): Unit =
      rows.toDF("cur_id", "ant_id", "score")
        .coalesce(1).write.mode("append").parquet(dir)
    def stream = spark.readStream
      .schema("cur_id STRING, ant_id STRING, score DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    addFile(Seq(("b", "a", 1.0)))
    addFile(Seq(("c", "b", 1.0)))
    val (q1, _) = StreamingClusters.maintain(spark, stream,
      trigger = Some(Trigger.AvailableNow()),
      commitCadence = Some((io, "div", 1)),
      checkpointLocation = Some(ckpt))
    q1.awaitTermination(180000)
    // corrupt the NEWEST committed snapshot: loadState walks back to batch
    // 1, but the engine checkpoint has batch 1's offsets committed — the
    // folds between them are unrecoverable from the stream
    deleteLargestPart(java.nio.file.Paths.get(ioRoot, "stream_state", "snap-1"))
    val loaded = StreamingClusters.loadState(spark, io, "div")
    assert(loaded.isDefined && loaded.get.batches === 1L)
    addFile(Seq(("e", "d", 1.0))) // new data → engine batch 2 vs state fold 1
    val (q2, _) = StreamingClusters.maintain(spark, stream,
      initial = loaded,
      trigger = Some(Trigger.AvailableNow()),
      commitCadence = Some((io, "div", 1)),
      checkpointLocation = Some(ckpt))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    assert(ex.getMessage.contains("diverge") ||
      Option(ex.getCause).exists(_.getMessage.contains("diverge")),
      s"divergent resume must fail with the alignment error, got: ${ex.getMessage}")
  }

  test("streaming cluster maintenance == batch clustering after EVERY microbatch") {
    import graft.pipeline.{Mentions, Blocking, Scoring, Decode, Clustering}
    import graft.streaming.StreamingClusters
    import spark.implicits._
    // denser corpus than the shared fixture: enough band arcs that the
    // ascending-score replay spans genuinely multi-arc mentions
    val cd = Files.createTempDirectory("graft-sclust-in").toString
    ErFixture.transcriptsDF(spark,
        ErFixture.generate(entities = 12, convs = 60, seed = 23L))
      .repartition(3).write.mode("overwrite").parquet(cd)
    val m = Mentions.extractIdentifier(spark.read.parquet(cd)).cache()
    val cfg = Blocking.Config()
    val scored = Scoring.scorePairs(Blocking.convBandPairs(m, cfg), m)
      .select(col("ant_id"), col("cur_id"), col("score")).cache()
    // ascending-score replay: a mention's best arc lands in its LAST wave,
    // so earlier waves link it provisionally and later waves re-point it —
    // the C2 edit path must fire, not just fresh links
    val arcs = scored.collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(t => (t._3, t._1, t._2))
    assert(arcs.length > 30)

    // drive the fold with one link per changed mention per wave (score >
    // threshold, ties to the lowest ant — the decode rule): waves that
    // re-point mentions exercise the C2 edit path
    val slices = arcs.grouped((arcs.length + 3) / 4).toSeq
    var best = Map.empty[String, (String, Double)]
    var seen = Set.empty[String]
    var st = StreamingClusters.empty(spark)
    // the same emissions folded again with the driver bound at 0: every
    // non-empty batch takes the distributed fold (updateDistributed)
    var stDist = StreamingClusters.empty(spark)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    var repoints = 0
    for (slice <- slices) {
      // at most ONE row per mention per wave — the wave-final best — never
      // the intra-wave superseded links
      val preBest = best
      for ((ant, cur, score) <- slice) {
        val better = score > 0.0 && (best.get(cur) match {
          case None => true
          case Some((bAnt, bS)) => score > bS || (score == bS && ant < bAnt)
        })
        if (better) best += cur -> ((ant, score))
      }
      val emissions = best.iterator
        .filter { case (c, v) => !preBest.get(c).contains(v) }
        .map { case (c, (a, s)) => (c, a, s) }.toSeq
      repoints += emissions.count(e => preBest.contains(e._1))
      seen ++= emissions.iterator.flatMap(e => Seq(e._1, e._2))
      val batch = emissions.toSeq.toDF("cur_id", "ant_id", "score")
      st = StreamingClusters.update(spark, st, batch)
      stDist = StreamingClusters.update(spark, stDist, batch, maxEdges = 0)
      // exactness after EVERY batch: incremental == full recompute over
      // everything decoded so far (including ants a later wave superseded)
      val expected = Clustering.cluster(spark,
          seen.toSeq.toDF("mention_id"),
          best.toSeq.map { case (c, (a, _)) => (c, a) }.toDF("cur_id", "ant_id"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val got = pairs(st.clusters)
      assert(got === expected, s"divergence after microbatch ${st.batches}")
      assert(pairs(stDist.clusters) === got,
        s"distributed fold clusters diverge after microbatch ${st.batches}")
      assert(pairs(stDist.backptrs) === pairs(st.backptrs),
        s"distributed fold backptrs diverge after microbatch ${st.batches}")
    }
    assert(repoints > 0, "the replay must exercise at least one C2 re-point")
    assert(st.batches === slices.length.toLong)

    // end-to-end: arc stream -> streamingDecode -> foreachBatch fold
    val sd = Files.createTempDirectory("graft-sclust").toString
    scored.select(col("ant_id"), col("cur_id"), lit("b").as("block_key"),
        col("score"), to_timestamp(lit("2026-01-01 00:00:00")).as("ts"))
      .coalesce(1).write.mode("overwrite").parquet(sd)
    val arcStream = spark.readStream.schema(
      "ant_id STRING, cur_id STRING, block_key STRING, score DOUBLE, ts TIMESTAMP")
      .parquet(sd)
    val decoded = StreamingAssembly.streamingDecode(spark, arcStream, 0.0)
    val (q, ref) = StreamingClusters.maintain(spark, decoded,
      trigger = Some(Trigger.AvailableNow()))
    q.awaitTermination(180000)
    val fin = ref.get()
    val streamBp = fin.backptrs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val batchBp = Decode.backpointers(scored, 0.0)
      .select("cur_id", "ant_id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(streamBp === batchBp,
      "maintained backpointer table must equal the batch decode")
    val full = Clustering.cluster(spark,
        fin.clusters.select(col("mention_id")), fin.backptrs)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val live = fin.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(live === full,
      "incrementally maintained clusters must equal a full recompute")
  }

  test("streaming cluster state commits + resumes through TableIO; torn commit walks back") {
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    def fold(st: StreamingClusters.State, rows: Seq[(String, String, Double)]) =
      StreamingClusters.update(spark, st,
        rows.toDF("cur_id", "ant_id", "score"))
    val b1 = Seq(("b", "a", 1.0), ("c", "b", 1.0))   // {a,b,c}
    val b2 = Seq(("e", "d", 1.0))                     // {d,e}
    val b3 = Seq(("d", "c", 2.0))                     // merge via C2 fresh link
    val ioRoot = Files.createTempDirectory("graft-sclust-io").toString
    val io = new TableIO(ioRoot)

    var st = StreamingClusters.empty(spark)
    st = fold(st, b1); st = fold(st, b2)
    StreamingClusters.commitState(io, st, "t1")
    val inMem = fold(st, b3)
    val inMemSet = inMem.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(inMemSet === Set("a", "b", "c", "d", "e").map(x => (x, "a")))

    // resume from disk, replay only batch 3 — identical result
    val loaded = StreamingClusters.loadState(spark, io, "t1")
    assert(loaded.isDefined && loaded.get.batches === 2L)
    val resumed = fold(loaded.get, b3)
    val resumedSet = resumed.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(resumedSet === inMemSet,
      "resume from the committed state + replay must equal the uninterrupted fold")

    // torn commit: batch 3's data is written but its manifest (the commit
    // marker) never is — loadState must resume the last committed batch
    inMem.table.write.parquet(s"$ioRoot/stream_state/snap-1")
    val afterTorn = StreamingClusters.loadState(spark, io, "t1")
    assert(afterTorn.isDefined && afterTorn.get.batches === 2L,
      "a torn commit must resume one batch earlier")
    assert(io.latestSnapshot("stream_state") === Some(0))

    // a foreign tag never resolves
    assert(StreamingClusters.loadState(spark, io, "t2").isEmpty)
  }

  test("maintain commits state on the configured cadence; resume sees the last fold") {
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sclust-cad").toString
    // 4 single-row part files → 4 microbatches under maxFilesPerTrigger=1
    // (file arrival order is not guaranteed, but each mention carries one
    // out-edge exactly once, so the END state is order-insensitive)
    Seq(
      Seq(("b", "a", 1.0)), Seq(("c", "b", 1.0)),
      Seq(("e", "d", 1.0)), Seq(("d", "c", 2.0))).foreach { rows =>
      rows.toDF("cur_id", "ant_id", "score")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val io = new TableIO(Files.createTempDirectory("graft-sclust-cadio").toString)
    val stream = spark.readStream
      .schema("cur_id STRING, ant_id STRING, score DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val (q, ref) = StreamingClusters.maintain(spark, stream,
      trigger = Some(Trigger.AvailableNow()),
      commitCadence = Some((io, "cad", 2)))
    q.awaitTermination(180000)
    assert(ref.get().batches === 4L)
    // cadence 2 over 4 folds → exactly two committed snapshots of the one
    // state table, and nothing in the two-table layout
    assert(io.latestSnapshot("stream_state") === Some(1))
    assert(io.latestSnapshot("stream_clusters").isEmpty)
    assert(io.latestSnapshot("stream_backptrs").isEmpty)
    val loaded = StreamingClusters.loadState(spark, io, "cad")
    assert(loaded.isDefined && loaded.get.batches === 4L)
    val set = loaded.get.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(set === Set("a", "b", "c", "d", "e").map(x => (x, "a")))
  }

  test("loadState walks back past a corrupt newest snapshot pair") {
    // the two-table layout: a pair committed under one lineage, resumed as
    // the one state table
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    def fold(st: StreamingClusters.State, rows: Seq[(String, String, Double)]) =
      StreamingClusters.update(spark, st,
        rows.toDF("cur_id", "ant_id", "score"))
    val ioRoot = Files.createTempDirectory("graft-sclust-corrupt").toString
    val io = new TableIO(ioRoot)
    var st = StreamingClusters.empty(spark)
    st = fold(st, Seq(("b", "a", 1.0)))
    st = fold(st, Seq(("c", "b", 1.0)))
    StreamingSpec.retiredCommitState(io, st, "t1") // batch-2, intact
    st = fold(st, Seq(("e", "d", 1.0)))
    st = fold(st, Seq(("d", "c", 2.0)))
    StreamingSpec.retiredCommitState(io, st, "t1") // batch-4, about to corrupt

    // lose a part file under the batch-4 clusters snapshot: row-count
    // verification must fail that pair and fall through to batch-2 —
    // not recompute from batch 0 (pre-fix: maxOption short-circuited to None)
    deleteLargestPart(java.nio.file.Paths.get(ioRoot, "stream_clusters", "snap-1"))

    val loaded = StreamingClusters.loadState(spark, io, "t1")
    assert(loaded.isDefined && loaded.get.batches === 2L,
      "a corrupt newest pair must fall through to the next-older intact pair")
    val set = loaded.get.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(set === Set(("a", "a"), ("b", "a"), ("c", "a")))
    assert(idPairs(loaded.get.backptrs) === Set(("b", "a"), ("c", "b")))

    // a batch committed in one stage only (a torn pair) never resumes
    io.commit("stream_backptrs", st.backptrs, "t1@batch-5")
    assert(StreamingClusters.loadState(spark, io, "t1").get.batches === 2L)
  }

  test("loadState walks back past a corrupt newest stream_state snapshot") {
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    def fold(st: StreamingClusters.State, rows: Seq[(String, String, Double)]) =
      StreamingClusters.update(spark, st,
        rows.toDF("cur_id", "ant_id", "score"))
    val ioRoot = Files.createTempDirectory("graft-state-corrupt").toString
    val io = new TableIO(ioRoot)
    var st = StreamingClusters.empty(spark)
    st = fold(st, Seq(("b", "a", 1.0)))
    st = fold(st, Seq(("c", "b", 1.0)))
    StreamingClusters.commitState(io, st, "t1") // batch-2, intact
    st = fold(st, Seq(("e", "d", 1.0)))
    st = fold(st, Seq(("d", "c", 2.0)))
    StreamingClusters.commitState(io, st, "t1") // batch-4, about to corrupt
    deleteLargestPart(java.nio.file.Paths.get(ioRoot, "stream_state", "snap-1"))

    val loaded = StreamingClusters.loadState(spark, io, "t1")
    assert(loaded.isDefined && loaded.get.batches === 2L,
      "a corrupt newest snapshot must fall through to the next-older intact one")
    assert(idPairs(loaded.get.clusters) === Set(("a", "a"), ("b", "a"), ("c", "a")))
    assert(idPairs(loaded.get.backptrs) === Set(("b", "a"), ("c", "b")))
  }

  test("an output committed in the two-table layout resumes as one state " +
      "table, and its next fold commits stream_state") {
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    def fold(st: StreamingClusters.State, rows: Seq[(String, String, Double)]) =
      StreamingClusters.update(spark, st, rows.toDF("cur_id", "ant_id", "score"))
    val io = new TableIO(Files.createTempDirectory("graft-sclust-legacy").toString)
    var st = StreamingClusters.empty(spark)
    st = fold(st, Seq(("b", "a", 1.0), ("c", "b", 1.0)))
    st = fold(st, Seq(("e", "d", 1.0), ("x", "y", 1.0)))
    StreamingSpec.retiredCommitState(io, st, "leg")
    val (committedCl, committedBp) = (idPairs(st.clusters), idPairs(st.backptrs))
    val b3 = Seq(("d", "c", 2.0), ("x", "a", 3.0)) // a merge and a re-point
    val uninterrupted = fold(st, b3)

    val loaded = StreamingClusters.loadState(spark, io, "leg")
      .getOrElse(fail("the two-table layout must resume"))
    assert(loaded.batches === 2L)
    assert(loaded.table.columns.toSeq === Seq("mention_id", "cluster_id", "ant_id"))
    assert(idPairs(loaded.clusters) === committedCl)
    assert(idPairs(loaded.backptrs) === committedBp)
    val resumed = fold(loaded, b3)
    assert(idPairs(resumed.clusters) === idPairs(uninterrupted.clusters))
    assert(idPairs(resumed.backptrs) === idPairs(uninterrupted.backptrs))

    // the next commit is the one-table snapshot, and loadState prefers it
    StreamingClusters.commitState(io, resumed, "leg")
    assert(io.latestSnapshot("stream_state") === Some(0))
    val again = StreamingClusters.loadState(spark, io, "leg").get
    assert(again.batches === 3L)
    assert(idPairs(again.clusters) === idPairs(uninterrupted.clusters))
  }

  test("maintain resumes from loadState + durable checkpoint without double-folding") {
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sclust-resume").toString
    val ckpt = Files.createTempDirectory("graft-sclust-ckpt").toString
    val io = new TableIO(Files.createTempDirectory("graft-sclust-resio").toString)
    def addFile(rows: Seq[(String, String, Double)]): Unit =
      rows.toDF("cur_id", "ant_id", "score")
        .coalesce(1).write.mode("append").parquet(dir)
    def stream = spark.readStream
      .schema("cur_id STRING, ant_id STRING, score DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(dir)

    // run 1: two batches, one of which re-points x (x->z then x->a);
    // cadence 1 + durable checkpoint = the exactly-once configuration
    addFile(Seq(("x", "z", 1.0), ("b", "a", 2.0)))
    addFile(Seq(("x", "a", 3.0))) // re-point: a replay of batch 0 on top of
                                  // this state would regress x back to z
    val (q1, ref1) = StreamingClusters.maintain(spark, stream,
      trigger = Some(Trigger.AvailableNow()),
      commitCadence = Some((io, "res", 1)),
      checkpointLocation = Some(ckpt))
    q1.awaitTermination(180000)
    assert(ref1.get().batches === 2L)

    // crash: in-memory state gone; two more batches of data arrive
    addFile(Seq(("c", "b", 1.0)))
    addFile(Seq(("y", "x", 1.0)))
    val loaded = StreamingClusters.loadState(spark, io, "res")
    assert(loaded.isDefined && loaded.get.batches === 2L)
    val (q2, ref2) = StreamingClusters.maintain(spark, stream,
      initial = loaded,
      trigger = Some(Trigger.AvailableNow()),
      commitCadence = Some((io, "res", 1)),
      checkpointLocation = Some(ckpt))
    q2.awaitTermination(180000)
    val fin = ref2.get()
    assert(fin.batches === 4L,
      "the durable checkpoint must deliver only the two new batches")
    val got = fin.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // x must still point at a (no stale z re-point from a replay)
    assert(got === Set(("a", "a"), ("b", "a"), ("c", "a"), ("x", "a"),
      ("y", "a"), ("z", "z")))
    val bp = fin.backptrs.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(bp === Set(("x", "a"), ("b", "a"), ("c", "b"), ("y", "x")))
  }

  // ---- Run --streaming over time-ordered appends --------------------------

  private val Sf = "/root/testdata/sf0.001"
  /** `Run --streaming`'s state token under the default options. */
  private val DenseToken =
    s"stream-dense-0.0-${graft.pipeline.Blocking.Config().maxConvDist}-10_minutes"

  /** sf0.001's transcripts as three parquet slices of consecutive event-time
    * ranges — the order an arriving stream delivers them in. */
  private lazy val sfSlices: Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val d = Files.createTempDirectory("graft-stream-slices").toString
    graft.sources.Transcripts.load(spark, Sf)
      .withColumn("slice", ntile(3).over(
        Window.orderBy(col("ts"), col("conv_id"), col("turn_idx"))))
      .repartition(3, col("slice"))
      .write.mode("overwrite").partitionBy("slice").parquet(d)
    (1 to 3).map(k => s"$d/slice=$k")
  }

  /** Copy slice `k`'s parquet files into the input directory `input`. */
  private def appendSlice(k: Int, input: String): Unit = {
    import scala.jdk.CollectionConverters._
    val in = java.nio.file.Paths.get(input)
    Files.createDirectories(in)
    Files.list(java.nio.file.Paths.get(sfSlices(k))).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, in.resolve(s"slice-$k-${f.getFileName}")))
  }

  private def field(json: String, key: String): String = {
    val m = (s""""$key":"?([^",}]+)"?""").r.findFirstMatchIn(json)
    assert(m.nonEmpty, s"metrics line missing $key: $json")
    m.get.group(1)
  }

  private def runStream(input: String, output: String): String =
    Run.runWith(spark, Map("input" -> input, "output" -> output,
      "streaming" -> "true"))

  /** Runs `body` and returns its result with the progress of every
    * microbatch the `foreachBatch` fold query ran meanwhile. The listener
    * bus is asynchronous, so it waits until every query started during
    * `body` has reported its termination. */
  private def withFoldProgress[T](body: => T)
    : (T, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val started = new java.util.concurrent.atomic.AtomicInteger
    val ended = new java.util.concurrent.atomic.AtomicInteger
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.sink.description.contains("ForeachBatch") &&
            e.progress.durationMs.containsKey("addBatch"))
          progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.incrementAndGet()
    }
    spark.streams.addListener(l)
    try {
      val r = body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(20)
      assert(ended.get === started.get, "a streaming query never reported its end")
      import scala.jdk.CollectionConverters._
      (r, progress.asScala.toSeq)
    } finally spark.streams.removeListener(l)
  }

  private type Links = (Set[(String, String)], Set[(String, String)])

  private def idPairs(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** The committed `(backpointers, clusters)` under `token`. */
  private def committedState(io: graft.io.TableIO, token: String = DenseToken): Links = {
    val st = graft.streaming.StreamingClusters.loadState(spark, io, token)
      .getOrElse(fail(s"no committed stream state under $token"))
    (idPairs(st.backptrs.select("cur_id", "ant_id")),
      idPairs(st.clusters.select("mention_id", "cluster_id")))
  }

  /** The batch `(backpointers, clusters)` of `arcs`: `Decode.backpointers`,
    * then `Clustering.cluster` over the linked mentions. */
  private def batchDecode(arcs: org.apache.spark.sql.DataFrame, threshold: Double): Links = {
    import graft.pipeline.{Clustering, Decode}
    val bp = Decode.backpointers(arcs, threshold).select(col("cur_id"), col("ant_id"))
    val nodes = bp.select(col("cur_id").as("mention_id"))
      .union(bp.select(col("ant_id").as("mention_id"))).distinct()
    (idPairs(bp), idPairs(Clustering.cluster(spark, nodes, bp)))
  }

  /** The committed state equals the batch decode and clustering of the
    * committed `band_scores` arcs. */
  private def assertStateIsBatchDecode(out: String): Unit = {
    val st = committedState(new graft.io.TableIO(out))
    assert(st._1.nonEmpty)
    assert(st === batchDecode(spark.read.parquet(s"$out/band_scores"), 0.0),
      "committed state must equal the batch decode and clustering")
  }

  test("--streaming: N time-ordered appends == one drain; each run folds and " +
      "commits once, with no state in the fold query") {
    val tmp = Files.createTempDirectory("graft-stream-append").toString
    val (appIn, appOut) = (s"$tmp/app/in", s"$tmp/app/out")
    val io = new graft.io.TableIO(appOut)
    for (k <- sfSlices.indices) {
      appendSlice(k, appIn)
      val (m, folds) = withFoldProgress(runStream(appIn, appOut))
      info(m)
      assert(field(m, "folds").toLong === k + 1L, "one fold per appended slice")
      assert(io.latestSnapshot("stream_state") === Some(k),
        "one state commit per appended slice")
      assert(io.latestSnapshot("stream_clusters").isEmpty)
      assert(folds.size === 1, s"one fold microbatch per run, got ${folds.size}")
      assert(folds.forall(_.stateOperators.isEmpty), "the fold query holds no state")
    }
    // a re-run with no new files neither folds nor commits
    val (m, folds) = withFoldProgress(runStream(appIn, appOut))
    assert(field(m, "folds") === sfSlices.size.toString)
    assert(io.latestSnapshot("stream_state") === Some(sfSlices.size - 1))
    assert(folds.isEmpty)

    val (drainIn, drainOut) = (s"$tmp/drain/in", s"$tmp/drain/out")
    sfSlices.indices.foreach(appendSlice(_, drainIn))
    assert(field(runStream(drainIn, drainOut), "folds") === "1")
    assertStateIsBatchDecode(drainOut)
    val (appBp, appCl) = committedState(io)
    val (drainBp, drainCl) = committedState(new graft.io.TableIO(drainOut))
    assert(appBp === drainBp, "appends and a drain must decode the same backpointers")
    assert(appCl === drainCl, "appends and a drain must commit the same clusters")
  }

  test("one fold microbatch with several arcs per mention commits exactly " +
      "Decode.backpointers of those arcs") {
    import graft.streaming.StreamingClusters
    import spark.implicits._
    val threshold = 0.5
    val arcs = Seq(
      ("a", "b", 0.9), ("c", "b", 0.9),                   // tie: lowest ant wins
      ("a", "c", 0.6), ("b", "c", 0.7), ("x", "c", 0.1),  // best + a sub-threshold arc
      ("a", "d", 0.3), ("b", "d", 0.5),                   // all at or below: no link
      ("b", "g", 0.8), ("a", "g", 0.8), ("c", "g", 0.6),  // tie past a lower arc
      ("d", "h", 0.55))                                   // single arc
      .toDF("ant_id", "cur_id", "score")
      .withColumn("block_key", lit("conv"))
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
    val in = Files.createTempDirectory("graft-fold-arcs").toString
    arcs.coalesce(1).write.mode("overwrite").parquet(in)
    val root = Files.createTempDirectory("graft-fold-multi").toString
    val io = new graft.io.TableIO(root)
    val stream = spark.readStream.schema(
      "ant_id STRING, cur_id STRING, block_key STRING, score DOUBLE, ts TIMESTAMP")
      .parquet(in)
    val (q, ref) = StreamingClusters.maintain(spark,
      StreamingAssembly.streamingDecode(spark, stream, threshold),
      trigger = Some(Trigger.AvailableNow()),
      commitCadence = Some((io, "multi", 1)),
      checkpointLocation = Some(s"$root/ckpt"))
    q.awaitTermination(180000)
    assert(ref.get().batches === 1L)
    val batch = batchDecode(arcs, threshold)
    assert(batch._1 === Set(("b", "a"), ("c", "b"), ("g", "a"), ("h", "d")))
    assert(committedState(io, "multi") === batch)
  }

  test("--streaming resumes an output whose fold checkpoint holds the retired " +
      "stateful decode's operator state") {
    import graft.streaming.StreamingClusters
    val tmp = Files.createTempDirectory("graft-stream-retired").toString
    val (in, out) = (s"$tmp/in", s"$tmp/out")
    val io = new graft.io.TableIO(out)
    val arcSchema = "ant_id STRING, cur_id STRING, block_key STRING, " +
      "score DOUBLE, ts TIMESTAMP"
    // the layout the stateful decode left: band pairer (10-minute horizon)
    // → arc sink → stateful running decode → fold, committed every fold as
    // the two-table state, and no output-path marker
    var folds = 0L
    for (k <- 0 until 2) {
      appendSlice(k, in)
      StreamingAssembly.streamingBandScores(spark,
          StreamingAssembly.enrichMentions(StreamingAssembly.extractMentions(
            StreamingAssembly.streamTranscripts(spark, in))),
          horizonMs = StreamingSpec.RetiredHorizonMs)
        .writeStream.format("parquet")
        .option("path", s"$out/band_scores")
        .option("checkpointLocation", s"$out/ckpt_scores")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val arcStream = spark.readStream.schema(arcSchema).parquet(s"$out/band_scores")
      val (q, ref) = StreamingClusters.maintain(spark,
        StreamingSpec.retiredDecode(spark, arcStream, 0.0),
        onBatch = StreamingSpec.retiredCommitState(io, _, DenseToken),
        trigger = Some(Trigger.AvailableNow()),
        initial = StreamingClusters.loadState(spark, io, DenseToken),
        checkpointLocation = Some(s"$out/stream_checkpoint"))
      q.awaitTermination()
      folds = ref.get().batches
    }
    val stateDir = java.nio.file.Paths.get(out, "stream_checkpoint", "state")
    assert(Files.isDirectory(stateDir), "the retired decode keeps operator state")

    appendSlice(2, in)
    val m = runStream(in, out)
    info(m)
    assert(!Files.exists(stateDir))
    assert(field(m, "resumed_from_fold") === folds.toString)
    assert(field(m, "folds") === (folds + 1).toString)
    assert(io.latestSnapshot("stream_state") === Some(0),
      "the first fold after the two-table layout commits one state table")
    assertStateIsBatchDecode(out)
    assert(Files.exists(java.nio.file.Paths.get(out, "stream_checkpoint", "output_path")),
      "an output without a path marker gets one")
  }

  test("a driver-held fold commits its state in one write: at most 9 Spark " +
      "jobs per microbatch, and the snapshot's file count stays bounded") {
    import graft.streaming.StreamingClusters
    import graft.io.TableIO
    import spark.implicits._
    val root = Files.createTempDirectory("graft-fold-jobs").toString
    val (in, ckpt) = (s"$root/arcs", s"$root/ckpt")
    val io = new TableIO(root)
    def stream = spark.readStream
      .schema("cur_id STRING, ant_id STRING, score DOUBLE").parquet(in)
    // six appends, one maintain run each (the Run --streaming shape): fresh
    // links, merges of committed clusters, and several arcs per mention;
    // each mention's arcs arrive in one append, as the band pairer emits them
    val appends = Seq(
      Seq(("b", "a", 1.0), ("c", "b", 1.0), ("c", "a", 0.5)),
      Seq(("e", "d", 1.0), ("g", "f", 1.0)),
      Seq(("d", "c", 2.0), ("h", "g", 1.0), ("h", "e", 1.0)),
      Seq(("i", "a", 1.0), ("j", "i", 1.0), ("k", "j", 1.0)),
      Seq(("f", "k", 1.0), ("m", "l", 1.0)),
      Seq(("l", "h", 1.0), ("n", "z", 0.2), ("n", "m", 0.7)))
    val files = for ((rows, k) <- appends.zipWithIndex) yield {
      rows.toDF("cur_id", "ant_id", "score").coalesce(1)
        .write.mode("append").parquet(in)
      val initial = StreamingClusters.loadState(spark, io, "jobs")
      var st: StreamingClusters.State = null
      val jobs = jobsRecordedDuring {
        val (q, ref) = StreamingClusters.maintain(spark, stream,
          trigger = Some(Trigger.AvailableNow()), initial = initial,
          commitCadence = Some((io, "jobs", 1)), checkpointLocation = Some(ckpt))
        q.awaitTermination(180000)
        st = ref.get()
      }
      assert(st.batches === k + 1L)
      assert(st.pins.isEmpty, "a committed fold's state is its snapshot, not a pin")
      info(s"append $k: ${jobs.size} jobs, ${jobs.count(_.writes)} writing")
      assert(jobs.size <= 9, s"fold microbatch $k ran ${jobs.size} Spark jobs")
      assert(jobs.count(_.writes) === 1, s"fold microbatch $k must write one table")
      assert(io.latestSnapshot("stream_state") === Some(k))
      val snap = java.nio.file.Paths.get(root, "stream_state", s"snap-$k")
      import scala.jdk.CollectionConverters._
      Files.list(snap).iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    }
    info(s"data files per snapshot: ${files.mkString(", ")}")
    assert(files.forall(_ <= spark.sparkContext.defaultParallelism),
      s"snapshot file counts must stay within one per core: $files")
    assert(Seq("stream_clusters", "stream_backptrs").forall(io.latestSnapshot(_).isEmpty))
    assert(committedState(io, "jobs") === batchDecode(spark.read.parquet(in), 0.0))
  }
}

object StreamingSpec {

  /** The state commit before the state was one table, kept as the reference
    * copy that builds an output in its layout: the clusters and the
    * backpointers as two stages under the same lineage token
    * `<tag>@batch-<n>`. */
  def retiredCommitState(io: graft.io.TableIO,
      st: graft.streaming.StreamingClusters.State, tag: String): String = {
    val lin = s"$tag@batch-${st.batches}"
    io.commit("stream_clusters", st.clusters, lin)
    io.commit("stream_backptrs", st.backptrs, lin)
    lin
  }

  /** The band pairer's eviction horizon before it became
    * [[StreamingAssembly.IdleHorizonMs]]: 10 minutes of event time. */
  val RetiredHorizonMs: Long = 600000L

  case class ScoredArc(cur_id: String, ant_id: String, score: Double,
      ts: java.sql.Timestamp)
  case class BestArc(ant_id: String, score: Double)

  /** The stateful decode `Run --streaming` ran before the decode moved into
    * the fold, kept as the reference copy that builds an output in its
    * layout: a running per-mention argmax in keyed state (best score, ties
    * to the lowest antecedent id, sub-threshold arcs never link) that emits
    * the current best whenever it improves, with event-time eviction. Its
    * state makes Spark run an empty no-data microbatch after every drain. */
  def retiredDecode(spark: org.apache.spark.sql.SparkSession,
      scoredArcs: org.apache.spark.sql.DataFrame, threshold: Double,
      watermark: String = "10 minutes",
      horizonMs: Long = RetiredHorizonMs): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    scoredArcs
      .withWatermark("ts", watermark)
      .select(col("cur_id"), col("ant_id"), col("score"), col("ts"))
      .as[ScoredArc]
      .groupByKey(_.cur_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (cur: String, rows: Iterator[ScoredArc], state: GroupState[BestArc]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty[(String, String, Double)] }
          else {
            var best = state.getOption
            var maxTsMs = 0L
            var improved = false
            rows.foreach { r =>
              if (r.ts != null) maxTsMs = math.max(maxTsMs, r.ts.getTime)
              if (r.score > threshold &&
                (best.isEmpty || r.score > best.get.score ||
                  (r.score == best.get.score && r.ant_id < best.get.ant_id))) {
                best = Some(BestArc(r.ant_id, r.score)); improved = true
              }
            }
            best.foreach(state.update)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), maxTsMs) + horizonMs)
            if (improved) Iterator.single((cur, best.get.ant_id, best.get.score))
            else Iterator.empty
          }
        })
      .toDF("cur_id", "ant_id", "score")
  }
}
