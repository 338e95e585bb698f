package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.fixtures.ErFixture
import graft.streaming.StreamingAssembly

/** Streaming ingest: the stream path must agree with the batch path on the
  * same data (micro-batch equivalence), and session windows / stateful
  * sequencing must behave. */
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

  test("session windows assemble conversations with watermark") {
    val stream = StreamingAssembly.streamTranscripts(spark, dir)
    // complete mode: emit every session at end-of-stream (append would hold
    // back sessions the watermark has not yet closed)
    val q = StreamingAssembly.conversationSessions(stream, gap = "1 hour")
      .writeStream.format("memory").queryName("stream_sessions")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val sessions = spark.table("stream_sessions")
    // every conversation appears; session turn counts sum to the turn count
    val total = sessions.agg(sum("n_turns")).collect()(0).getLong(0)
    val expected = spark.read.parquet(dir).count()
    assert(total === expected)
  }

  test("stateful per-conversation sequencing (flatMapGroupsWithState)") {
    val stream = StreamingAssembly.streamTranscripts(spark, dir)
    val q = StreamingAssembly.sequenceTurns(spark, stream)
      .writeStream.format("memory").queryName("stream_seq")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val seqd = spark.table("stream_seq")
    val bad = seqd.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), countDistinct("m_seq").as("d"),
        min("m_seq").as("mn"), max("m_seq").as("mx"))
      .filter(col("n") =!= col("d") || col("mn") =!= 0 || col("mx") =!= col("n") - 1)
    assert(bad.count() === 0, "m_seq must be dense 0..n-1 per conversation")
  }

  test("streaming minhash near-dup == batch minhashLsh pair set") {
    // corpus with planted near/exact dups (same generator as the batch op)
    val corpus = graft.ops.Dedup.corpus(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .withColumn("ts", timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000))
      .select("doc_id", "text", "ts")
    val d = Files.createTempDirectory("graft-neardup").toString
    corpus.repartition(3).write.mode("overwrite").parquet(d)
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(d)
    val q = StreamingAssembly.streamingMinhashNearDup(spark, stream)
      .writeStream.format("memory").queryName("stream_neardup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = spark.table("stream_neardup")
      .select("doc_a", "doc_b", "jacc_r").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = graft.ops.Dedup.minhashLsh(
      graft.ops.Dedup.corpus(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed.keySet === batch.keySet,
      s"streamed pair set must equal batch (streamed ${streamed.size}, batch ${batch.size})")
    assert(batch.nonEmpty)
    streamed.foreach { case (k, j) =>
      assert(math.abs(j - batch(k)) < 1e-9, s"jaccard mismatch on $k") }
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

  /** Write `df` as one new file into `dir` with a strictly later mtime than
    * any file already there, so the file stream processes waves in write
    * order (FileStreamSource orders by modification time). */
  private def writeWave(df: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    df.coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // parquet mtime granularity can be 1s
  }

  test("OUT-OF-ORDER replay: ordered band pairing == batch on within-conversation shuffled waves") {
    import graft.pipeline.{Mentions, Blocking, Scoring}
    val transcripts = spark.read.parquet(dir)
    val m = Mentions.extractIdentifier(transcripts).cache()
    val cfg = Blocking.Config()
    val batchScores = Scoring.scorePairs(Blocking.convBandPairs(m, cfg), m)
      .select(col("ant_id"), col("cur_id"), round(col("score"), 9).as("score"))
      .cache()
    val cols = m.select("conv_id", "mention_id", "turn_idx", "start", "norm",
      "head_key", "toks", "mtype", "closed_class", "role", "number", "gender", "ts")
    val md = Files.createTempDirectory("graft-ooo-band").toString
    // three waves, mentions assigned by hash — within a conversation the
    // arrival order across micro-batches is now scrambled w.r.t. turn order
    (0 until 3).foreach { wv =>
      writeWave(cols.filter(pmod(xxhash64(col("mention_id")), lit(3)) === wv), md)
    }
    // flush wave: one far-future dummy mention pushes the watermark past all
    // real data so quiet conversations flush their buffers via the timeout
    val flushTs = m.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime +
      45L * 24 * 3600 * 1000
    writeWave(cols.limit(1)
      .withColumn("conv_id", lit("zzz-flush"))
      .withColumn("mention_id", lit("zzz-flush#000000000000"))
      .withColumn("ts", timestamp_millis(lit(flushTs))), md)
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema("conv_id STRING, mention_id STRING, turn_idx INT, start INT, norm STRING, " +
        "head_key STRING, toks ARRAY<STRING>, mtype STRING, closed_class BOOLEAN, " +
        "role STRING, number STRING, gender STRING, ts TIMESTAMP").parquet(md)
    // watermark delay wider than the fixture's whole time range: nothing is
    // engine-dropped as late, everything buffers and flushes in order
    val q = StreamingAssembly.streamingBandScoresOrdered(spark, stream,
      maxConvDist = cfg.maxConvDist, watermark = "30 days")
      .writeStream.format("memory").queryName("stream_ooo_band")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(240000)
    val streamed = spark.table("stream_ooo_band")
      .filter(col("cur_id") =!= "zzz-flush#000000000000")
      .select(col("ant_id"), col("cur_id"), round(col("score"), 9).as("score"))
    assert(batchScores.count() > 0)
    assert(streamed.count() === batchScores.count(),
      s"ordered pairer must emit the batch pair count (${streamed.count()} vs ${batchScores.count()})")
    assert(streamed.exceptAll(batchScores).count() === 0L,
      "out-of-order replayed band scores must equal the batch band scores exactly")
  }

  test("OUT-OF-ORDER: position-late mention goes to the late side channel, never a wrong m_seq") {
    val md = Files.createTempDirectory("graft-ooo-late").toString
    val base = 1700000000000L
    def mrow(id: String, turn: Int, tsMs: Long) =
      (("cX", id, turn, 0, id.toLowerCase, id.toLowerCase, Seq(id), "PROPER",
        false, "user", "unknown", "unknown", new java.sql.Timestamp(tsMs)))
    import spark.implicits._
    def wave(rows: Seq[(String, String, Int, Int, String, String, Seq[String],
        String, Boolean, String, String, String, java.sql.Timestamp)]): Unit =
      writeWave(rows.toDF("conv_id", "mention_id", "turn_idx", "start", "norm",
        "head_key", "toks", "mtype", "closed_class", "role", "number", "gender", "ts"), md)
    val delayMs = 600000L // 10 min watermark delay
    // wave 1: turn 1 at ts=base (turn 0 has NOT arrived yet)
    wave(Seq(mrow("M1", 1, base)))
    // wave 2: unrelated conv advances the watermark just past base
    wave(Seq(mrow("M9", 0, base + delayMs + 1000).copy(_1 = "cOther",
      _2 = "M9")))
    // wave 3: turn 2 arrives on time -> conv cX is invoked, watermark has
    // passed base, so turn 1 releases as m_seq 0 and turn 2 buffers
    wave(Seq(mrow("M2", 2, base + delayMs + 2000)))
    // wave 4: turn 0 finally arrives — ts above the watermark (not engine-
    // dropped) but its POSITION is behind the release frontier: side channel
    wave(Seq(mrow("M0", 0, base + delayMs + 3000)))
    // flush wave: far future, times out cX and flushes turn 2 as m_seq 1
    wave(Seq(mrow("MF", 0, base + 45L * 24 * 3600 * 1000).copy(_1 = "cFlush", _2 = "MF")))
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema("conv_id STRING, mention_id STRING, turn_idx INT, start INT, norm STRING, " +
        "head_key STRING, toks ARRAY<STRING>, mtype STRING, closed_class BOOLEAN, " +
        "role STRING, number STRING, gender STRING, ts TIMESTAMP").parquet(md)
    val q = StreamingAssembly.streamingBandPairsOrdered(spark, stream,
      maxConvDist = 10, watermark = "10 minutes").toDF()
      .writeStream.format("memory").queryName("stream_ooo_late")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(240000)
    val outRows = spark.table("stream_ooo_late").filter(col("conv_id_a") === "cX")
    val late = outRows.filter(col("block_key") === "late")
      .select("cur_id").collect().map(_.getString(0)).toSeq
    assert(late === Seq("M0"), s"turn 0 must land on the late side channel, got $late")
    val pairs = outRows.filter(col("block_key") === "conv")
      .select("ant_id", "cur_id", "m_seq_a", "m_seq_c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(pairs === Seq(("M1", "M2", 0, 1)),
      s"M1/M2 must sequence 0/1 with M0 excluded, got $pairs")
  }

  test("OUT-OF-ORDER: a null-ts later turn never overtakes a held earlier turn") {
    val md = Files.createTempDirectory("graft-ooo-nullts").toString
    val base = 1700000000000L
    import spark.implicits._
    def mrow(conv: String, id: String, turn: Int, ts: java.sql.Timestamp) =
      ((conv, id, turn, 0, id.toLowerCase, id.toLowerCase, Seq(id), "PROPER",
        false, "user", "unknown", "unknown", ts))
    def wave(rows: Seq[(String, String, Int, Int, String, String, Seq[String],
        String, Boolean, String, String, String, java.sql.Timestamp)]): Unit =
      writeWave(rows.toDF("conv_id", "mention_id", "turn_idx", "start", "norm",
        "head_key", "toks", "mtype", "closed_class", "role", "number", "gender", "ts"), md)
    val delayMs = 600000L
    // wave 1: turn 2 arrives, watermark has NOT passed its ts -> held
    wave(Seq(mrow("cY", "M2", 2, new java.sql.Timestamp(base + 60000))))
    // wave 2: turn 4 with a NULL event time — pre-fix it released instantly
    // (m_seq 0, ahead of the held turn 2, regressing the frontier); now it
    // must queue BEHIND the held earlier position
    wave(Seq(mrow("cY", "M4", 4, null)))
    // wave 3: watermark passes turn 2; a held turn 5 invokes the group
    wave(Seq(mrow("cOther", "M9", 0, new java.sql.Timestamp(base + 60000 + delayMs + 1000))))
    wave(Seq(mrow("cY", "M5", 5, new java.sql.Timestamp(base + delayMs + 2000))))
    // flush: far-future row times cY out, releasing the held tail in order
    wave(Seq(mrow("cFlush", "MF", 0, new java.sql.Timestamp(base + 45L * 24 * 3600 * 1000))))
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema("conv_id STRING, mention_id STRING, turn_idx INT, start INT, norm STRING, " +
        "head_key STRING, toks ARRAY<STRING>, mtype STRING, closed_class BOOLEAN, " +
        "role STRING, number STRING, gender STRING, ts TIMESTAMP").parquet(md)
    val q = StreamingAssembly.streamingBandPairsOrdered(spark, stream,
      maxConvDist = 10, watermark = "10 minutes").toDF()
      .writeStream.format("memory").queryName("stream_ooo_nullts")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(240000)
    val outRows = spark.table("stream_ooo_nullts").filter(col("conv_id_a") === "cY")
    assert(outRows.filter(col("block_key") === "late").count() === 0L,
      "nothing here is position-late; the null-ts row must buffer, not mis-release")
    val pairs = outRows.filter(col("block_key") === "conv")
      .select("ant_id", "cur_id", "m_seq_a", "m_seq_c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(pairs === Set(("M2", "M4", 0, 1), ("M2", "M5", 0, 2), ("M4", "M5", 1, 2)),
      s"release order must follow turn order 2,4,5 regardless of the null ts, got $pairs")
  }

  test("OUT-OF-ORDER: a batch of ONLY null-ts rows holds (no epoch-0 release)") {
    val md = Files.createTempDirectory("graft-ooo-allnull").toString
    val base = 1700000000000L
    import spark.implicits._
    def mrow(conv: String, id: String, turn: Int, ts: java.sql.Timestamp) =
      ((conv, id, turn, 0, id.toLowerCase, id.toLowerCase, Seq(id), "PROPER",
        false, "user", "unknown", "unknown", ts))
    def wave(rows: Seq[(String, String, Int, Int, String, String, Seq[String],
        String, Boolean, String, String, String, java.sql.Timestamp)]): Unit =
      writeWave(rows.toDF("conv_id", "mention_id", "turn_idx", "start", "norm",
        "head_key", "toks", "mtype", "closed_class", "role", "number", "gender", "ts"), md)
    // wave 1: a LONE null-ts turn 4 — the batch max ts is 0, so a stamp of
    // 0 would be <= every watermark and release instantly with m_seq 0,
    // advancing the frontier to turn 4 and forcing the later turn 2 onto
    // the late channel (the pre-fix behavior)
    wave(Seq(mrow("cZ", "M4", 4, null)))
    // wave 2: the genuinely earlier turn 2 arrives with a real event time
    wave(Seq(mrow("cZ", "M2", 2, new java.sql.Timestamp(base + 60000))))
    // wave 3: watermark passes everything buffered; a held turn 5 invokes cZ
    wave(Seq(mrow("cOther", "M9", 0, new java.sql.Timestamp(base + 60000 + 600000 + 1000))))
    wave(Seq(mrow("cZ", "M5", 5, new java.sql.Timestamp(base + 600000 + 2000))))
    // flush: far-future row times cZ out
    wave(Seq(mrow("cFlush", "MF", 0, new java.sql.Timestamp(base + 45L * 24 * 3600 * 1000))))
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema("conv_id STRING, mention_id STRING, turn_idx INT, start INT, norm STRING, " +
        "head_key STRING, toks ARRAY<STRING>, mtype STRING, closed_class BOOLEAN, " +
        "role STRING, number STRING, gender STRING, ts TIMESTAMP").parquet(md)
    val q = StreamingAssembly.streamingBandPairsOrdered(spark, stream,
      maxConvDist = 10, watermark = "10 minutes").toDF()
      .writeStream.format("memory").queryName("stream_ooo_allnull")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(240000)
    val outRows = spark.table("stream_ooo_allnull").filter(col("conv_id_a") === "cZ")
    assert(outRows.filter(col("block_key") === "late").count() === 0L,
      "turn 2 must NOT be forced late by an instantly-released null-ts turn 4")
    val pairs = outRows.filter(col("block_key") === "conv")
      .select("ant_id", "cur_id", "m_seq_a", "m_seq_c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(pairs === Set(("M2", "M4", 0, 1), ("M2", "M5", 0, 2), ("M4", "M5", 1, 2)),
      s"release order must be 2,4,5 even when turn 4's batch had no event times, got $pairs")
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

  test("OUT-OF-ORDER: ordered turn sequencer matches turn order on shuffled waves") {
    val transcripts = spark.read.parquet(dir).cache()
    val md = Files.createTempDirectory("graft-ooo-seq").toString
    (0 until 3).foreach { wv =>
      writeWave(transcripts.filter(
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(3)) === wv), md)
    }
    val flushTs = transcripts.agg(max(col("ts"))).collect()(0)
      .getTimestamp(0).getTime + 45L * 24 * 3600 * 1000
    writeWave(transcripts.limit(1).withColumn("conv_id", lit("zzz-flush"))
      .withColumn("ts", timestamp_millis(lit(flushTs))), md)
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema(StreamingAssembly.transcriptSchema).parquet(md)
    val q = StreamingAssembly.sequenceTurnsOrdered(spark, stream,
      watermark = "30 days")
      .writeStream.format("memory").queryName("stream_ooo_seq")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(240000)
    val seqd = spark.table("stream_ooo_seq").filter(col("conv_id") =!= "zzz-flush")
    assert(seqd.filter(col("m_seq") === -1).count() === 0, "no spurious late rows")
    // m_seq must equal the batch turn rank (turns arrive shuffled, release ordered)
    val expected = transcripts.select(col("conv_id"), col("turn_idx"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("conv_id").orderBy("turn_idx")) - 1).as("m_seq"))
    assert(seqd.count() === expected.count())
    assert(seqd.exceptAll(expected.select("conv_id", "turn_idx", "m_seq")).count() === 0L,
      "ordered sequencer must reproduce the batch canonical order exactly")
  }

  test("streaming near-dup retains null-ts docs for one horizon (not epoch-0 aged out)") {
    import spark.implicits._
    val md = Files.createTempDirectory("graft-nullts").toString
    val base = 1700000000000L
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    // wave 0: docB anchors the watermark at base - 10min
    writeWave(Seq(
      (2L, "completely unrelated content with no shingle overlap whatsoever here",
        new java.sql.Timestamp(base)))
      .toDF("doc_id", "text", "ts"), md)
    // wave 1: docA has NULL ts — stamped at the current watermark (base-10min)
    writeWave(Seq(
      (1L, text, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("doc_id", "text", "ts"), md)
    // wave 2: docC is a near-dup of docA, 15 min later — the prune cutoff is
    // base - 20min; with the old epoch-0 stamp docA would be pruned
    // (0 < cutoff) and the hit lost
    writeWave(Seq(
      (3L, text + " x", new java.sql.Timestamp(base + 15 * 60000L)))
      .toDF("doc_id", "text", "ts"), md)
    val stream = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema("doc_id LONG, text STRING, ts TIMESTAMP").parquet(md)
    val q = StreamingAssembly.streamingMinhashNearDup(spark, stream,
      watermark = "10 minutes", horizonMs = 600000L)
      .writeStream.format("memory").queryName("stream_nullts")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(240000)
    val hits = spark.table("stream_nullts").select("doc_a", "doc_b").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((1L, 3L)),
      s"null-ts docA must still be a near-dup candidate one horizon on, got $hits")
  }

  test("streaming exact dedup == batch exact dedup survivor set") {
    val stream = StreamingAssembly.streamTranscripts(spark, dir)
    val q = StreamingAssembly.streamingExactDedup(stream)
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamedHashes = spark.table("stream_dedup")
      .select("text_md5").distinct().collect().map(_.getString(0)).toSet
    val batchHashes = spark.read.parquet(dir)
      .select(md5(col("text").cast("binary")).as("h")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(streamedHashes === batchHashes,
      "streaming dedup must keep exactly one row per distinct text")
    assert(spark.table("stream_dedup").count() === batchHashes.size.toLong)
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
    // the same emissions folded again with the driver edit bound at 0: every
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
      val savedBound = Clustering.maxDriverEditEdges
      stDist = try {
        Clustering.maxDriverEditEdges = 0
        StreamingClusters.update(spark, stDist, batch)
      } finally Clustering.maxDriverEditEdges = savedBound
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
