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

    // decode phase: stream the scored arcs through the running argmax
    val sd = Files.createTempDirectory("graft-banddec").toString
    spark.table("stream_band").coalesce(1).write.mode("overwrite").parquet(sd)
    val arcStream = spark.readStream.schema(
      "ant_id STRING, cur_id STRING, block_key STRING, score DOUBLE, ts TIMESTAMP")
      .parquet(sd)
    val q2 = StreamingAssembly.streamingDecode(spark, arcStream, 0.0)
      .writeStream.format("memory").queryName("stream_decode")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(180000)
    // one emission per improvement; the LAST per cur is the decode
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
    // corrupt the NEWEST committed pair: loadState walks back to batch 1,
    // but the engine checkpoint has batch 1's offsets committed — the folds
    // between them are unrecoverable from the stream
    deleteLargestPart(java.nio.file.Paths.get(ioRoot, "stream_clusters", "snap-1"))
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

    // drive the fold with the decode emission contract (emit on improvement,
    // score > threshold, ties to the lowest ant — streamingDecode's rule)
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
      // streamingDecode emits at most ONE row per mention per microbatch —
      // the batch-final best — never the intra-batch superseded links
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
      val savedBound = Clustering.maxDriverEdges
      stDist = try {
        Clustering.maxDriverEdges = 0
        StreamingClusters.update(spark, stDist, batch)
      } finally Clustering.maxDriverEdges = savedBound
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
    val io = new TableIO(Files.createTempDirectory("graft-sclust-io").toString)

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

    // torn commit: only ONE stage advances to batch 3 — loadState must walk
    // back to the newest batch committed in BOTH stages
    io.commit("stream_clusters", inMem.clusters, "t1@batch-3")
    val afterTorn = StreamingClusters.loadState(spark, io, "t1")
    assert(afterTorn.isDefined && afterTorn.get.batches === 2L,
      "a torn commit must resume one batch earlier, not pair mismatched tables")

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
    // cadence 2 over 4 folds → exactly two committed snapshots per stage
    assert(io.latestSnapshot("stream_clusters") === Some(1))
    assert(io.latestSnapshot("stream_backptrs") === Some(1))
    val loaded = StreamingClusters.loadState(spark, io, "cad")
    assert(loaded.isDefined && loaded.get.batches === 4L)
    val set = loaded.get.clusters.collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(set === Set("a", "b", "c", "d", "e").map(x => (x, "a")))
  }

  test("loadState walks back past a corrupt newest snapshot pair") {
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
    StreamingClusters.commitState(io, st, "t1") // batch-2, intact
    st = fold(st, Seq(("e", "d", 1.0)))
    st = fold(st, Seq(("d", "c", 2.0)))
    StreamingClusters.commitState(io, st, "t1") // batch-4, about to corrupt

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
}
