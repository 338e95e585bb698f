package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest path (SURVEY.md §2.13). The reference's only streaming
  * shape is the constant-memory one-doc-at-a-time scan + per-doc prediction
  * writer (`ConllDocReader.readConllDocsProcessStreaming`,
  * `EntitySystem.scala:205-214`). Spark-natively:
  *
  *  - mention extraction and property enrichment are stateless per turn →
  *    they run unchanged on a stream;
  *  - band pairing keeps per-conversation running state (the band window and
  *    dense mention sequence numbers, the stream analog of the
  *    canonical-order window) in `flatMapGroupsWithState`;
  *  - scoring is the batch expressions, stateless on the pair stream;
  *  - decode is stateless too: [[streamingDecode]] keeps the arcs above the
  *    link threshold, and the fold takes the per-mention argmax of each
  *    microbatch ([[StreamingClusters.update]]). The band pairer emits all
  *    of a mention's arcs in the microbatch where the mention arrives, so
  *    that argmax is the whole decode of the mention — one decode per
  *    mention, as in the reference's per-document inferencer
  *    (`DocumentInferencerBasic.scala:112-128`).
  */
object StreamingAssembly {

  /** How long, in event time past the watermark, a conversation may sit
    * idle before the band pairer evicts its buffer: 7 days. A harness
    * conversation spans hours, so only a conversation that has ended is
    * evicted, and appending a corpus in event-time slices pairs exactly as
    * a one-shot drain of the same files does unless a conversation falls
    * silent for longer than this between two of its turns. A conversation
    * that resumes after eviction restarts at `m_seq` 0, with no
    * antecedents. State stays bounded by the band width per live
    * conversation. */
  val IdleHorizonMs: Long = 7L * 24 * 60 * 60 * 1000

  val transcriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  /** File-stream source over a directory of transcript parquet. */
  def streamTranscripts(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(transcriptSchema).parquet(dir)

  /** Stateless streaming mention extraction: the batch identifier candidates
    * plus their position-derived `mention_id` (the band pairer assigns `m_seq`). */
  def extractMentions(stream: DataFrame): DataFrame =
    graft.pipeline.Mentions.identifierCandidates(stream)
      .withColumn("mention_id",
        graft.functions.mentionId(col("conv_id"), col("turn_idx"), col("start")))

  // ---- streaming band scoring + decode (the streaming face of the
  // ---- pipeline's conversation-band leg) ----------------------------------

  /** M5 property enrichment on a mention stream — applies the batch
    * pipeline's EXACT property expressions ([[graft.pipeline.Mentions
    * .properties]]: norm/head_key/toks/closed_class/number/gender/person);
    * stateless, so it runs unchanged on the stream. */
  def enrichMentions(stream: DataFrame): DataFrame =
    graft.pipeline.Mentions.properties(stream)

  case class MIn(conv_id: String, mention_id: String, turn_idx: Int, start: Int,
      norm: String, head_key: String, toks: Seq[String], mtype: String,
      closed_class: Boolean, role: String, number: String, gender: String,
      ts: java.sql.Timestamp)
  case class BufM(mention_id: String, m_seq: Int, norm: String, head_key: String,
      toks: Seq[String], mtype: String, closed_class: Boolean, role: String,
      number: String, gender: String)
  case class BandBuf(nextSeq: Int, ms: List[BufM])
  /** Emitted candidate pair carrying BOTH mentions' attributes under the
    * batch `attachAttrs` column names — [[graft.pipeline.Scoring.featurize]]
    * and `.score` then run stateless and UNCHANGED on the pair stream. */
  case class BandPair(ant_id: String, cur_id: String, block_key: String,
      conv_id_a: String, conv_id_c: String, m_seq_a: Int, m_seq_c: Int,
      norm_a: String, norm_c: String, head_key_a: String, head_key_c: String,
      toks_a: Seq[String], toks_c: Seq[String], mtype_a: String, mtype_c: String,
      closed_class_a: Boolean, closed_class_c: Boolean, role_a: String,
      role_c: String, number_a: String, number_c: String, gender_a: String,
      gender_c: String, ts: java.sql.Timestamp)

  /** Streaming B1 band-pair emission: per-conversation keyed state holding
    * the last `maxConvDist` mentions (the band window) plus the running
    * canonical sequence counter (W1's streaming analog). Each microbatch
    * runs the batch band kernel ([[graft.pipeline.Blocking.bandSweep]]) over
    * the buffered window followed by the sorted arrivals, so each arriving
    * mention emits one candidate pair per in-band antecedent, with both
    * mentions' attributes attached (so downstream featurize+score is
    * stateless).
    *
    * Arrival contract: a conversation's mentions arrive in `(turn_idx,
    * start)` order — within a micro-batch they are sorted, but across
    * micro-batches the sequence number is the arrival rank. A file source
    * that receives each conversation's turns in order keeps the contract.
    * A violation does not fail: a mention that arrives after a later
    * position of its conversation takes the next `m_seq`, so it pairs with
    * the band before it in arrival order, not in position order, and the
    * arcs differ from the batch band leg.
    *
    * State is bounded two ways: the buffer is trimmed to the band width on
    * every update (≤ maxConvDist mentions per live conversation), and whole
    * conversations are evicted by event-time timeout one idle horizon
    * ([[IdleHorizonMs]] by default) past the watermark; a conversation that
    * resumes after eviction restarts at `m_seq` 0, with no antecedents. */
  def streamingBandPairs(spark: SparkSession, mentionStream: DataFrame,
      maxConvDist: Int = graft.pipeline.Blocking.Config().maxConvDist,
      watermark: String = "10 minutes",
      horizonMs: Long = IdleHorizonMs) = {
    import spark.implicits._
    val in = mentionStream
      .withWatermark("ts", watermark)
      .select(col("conv_id"), col("mention_id"), col("turn_idx"), col("start"),
        col("norm"), col("head_key"), col("toks"), col("mtype"),
        col("closed_class"), col("role"), col("number"), col("gender"), col("ts"))
      .as[MIn]
    in.groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (conv: String, rows: Iterator[MIn], state: GroupState[BandBuf]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty[BandPair] }
          else {
            val carried = state.getOption.fold(List.empty[BufM])(_.ms).sortBy(_.m_seq)
            val firstSeq = state.getOption.fold(0)(_.nextSeq)
            val arrived = rows.toVector.sortBy(m => (m.turn_idx, m.start))
              .zipWithIndex.map { case (m, i) =>
                (BufM(m.mention_id, firstSeq + i, m.norm, m.head_key, m.toks, m.mtype,
                  m.closed_class, m.role, m.number, m.gender), m.ts) }
            val nextSeq = firstSeq + arrived.size
            // the buffer keeps what the NEXT mention (m_seq = nextSeq) can pair with
            state.update(BandBuf(nextSeq,
              (carried ++ arrived.map(_._1)).filter(nextSeq - _.m_seq <= maxConvDist).reverse))
            val maxTsMs = arrived.flatMap(m => Option(m._2)).map(_.getTime).maxOption
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), maxTsMs.getOrElse(0L)) + horizonMs)
            graft.pipeline.Blocking.bandSweep[(BufM, java.sql.Timestamp)](
                carried.map((_, null)), arrived.iterator, maxConvDist)(_._1.m_seq)
              .map { case ((a, _), (m, ts)) =>
                BandPair(a.mention_id, m.mention_id, "conv",
                  conv, conv, a.m_seq, m.m_seq,
                  a.norm, m.norm, a.head_key, m.head_key, a.toks, m.toks,
                  a.mtype, m.mtype, a.closed_class, m.closed_class,
                  a.role, m.role, a.number, m.number, a.gender, m.gender, ts) }
          }
        })
  }

  /** Streaming band scoring: [[streamingBandPairs]] → the batch featurize +
    * logistic score expressions, stateless on the pair stream. Output
    * `(ant_id, cur_id, block_key, score, ts)`. */
  def streamingBandScores(spark: SparkSession, mentionStream: DataFrame,
      weights: graft.pipeline.Scoring.Weights = graft.pipeline.Scoring.DefaultWeights,
      maxConvDist: Int = graft.pipeline.Blocking.Config().maxConvDist,
      watermark: String = "10 minutes",
      horizonMs: Long = IdleHorizonMs): DataFrame =
    graft.pipeline.Scoring.score(graft.pipeline.Scoring.featurize(
      streamingBandPairs(spark, mentionStream, maxConvDist, watermark,
        horizonMs).toDF()), weights)
      .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"), col("ts"))

  /** Streaming band scoring under the SPARSE lexicalized model: the
    * broadcast fast scorer ([[graft.pipeline.SparseFeatures.sparseScoreCol]])
    * is a pure projection, so the flagship model runs on the pair stream
    * with no stream-side join against the weight table at all. The F5
    * backoff counts are a STATIC table (training-corpus statistics) joined
    * broadcast-left: surfaces the training corpus never saw get count 0 and
    * back off to their word shape — the honest cold-start semantics.
    * Output `(ant_id, cur_id, block_key, score, ts)`; scores are identical
    * to the batch band leg on replay (StreamingSpec pins it). */
  def streamingBandScoresSparse(spark: SparkSession, mentionStream: DataFrame,
      counts: DataFrame, wmap: graft.functions.SparseWeightMap,
      maxConvDist: Int = graft.pipeline.Blocking.Config().maxConvDist,
      watermark: String = "10 minutes",
      horizonMs: Long = IdleHorizonMs): DataFrame = {
    val cb = graft.pipeline.SparseFeatures.surfaceSideCols(counts)
    def cold(side: String): DataFrame => DataFrame = df => df
      // cold-start fallbacks for surfaces the static table never saw: count
      // 0 (→ shape backoff), shape/class/initials computed on the stream
      // side — the same functions surfaceSideCols applies statically
      .withColumn(s"n_$side", coalesce(col(s"n_$side"), lit(0L)))
      .withColumn(s"backed_$side",
        coalesce(col(s"backed_$side"),
          graft.functions.wordShapePortable(col(s"norm_$side"))))
      .withColumn(s"scls_$side", coalesce(col(s"scls_$side"),
        graft.functions.semClass(
          element_at(split(col(s"norm_$side"), " "), -1))))
      .withColumn(s"inits_$side", coalesce(col(s"inits_$side"),
        array_join(transform(split(col(s"norm_$side"), " "),
          x => substring(x, 1, 1)), "")))
    val joined = streamingBandPairs(spark, mentionStream, maxConvDist,
        watermark, horizonMs)
      .toDF()
      .join(broadcast(cb.select(col("norm").as("norm_a"), col("n_norm").as("n_a"),
        col("backed").as("backed_a"), col("scls").as("scls_a"),
        col("inits").as("inits_a"))), Seq("norm_a"), "left")
      .join(broadcast(cb.select(col("norm").as("norm_c"), col("n_norm").as("n_c"),
        col("backed").as("backed_c"), col("scls").as("scls_c"),
        col("inits").as("inits_c"))), Seq("norm_c"), "left")
    cold("c")(cold("a")(joined))
      .select(col("ant_id"), col("cur_id"), col("block_key"),
        graft.pipeline.SparseFeatures.sparseScoreCol(wmap).as("score"), col("ts"))
  }

  /** Streaming W4/A2 decode, the stateless half: keeps the arcs that can
    * link, `score > threshold` — the same Spark-SQL comparison as
    * [[graft.pipeline.Decode.backpointers]]. The argmax (best score, ties to
    * the lowest antecedent id) runs per microbatch in the fold
    * ([[StreamingClusters.update]]); it is the whole decode of a mention
    * because the band pairer emits all of that mention's arcs in one
    * microbatch. The query therefore holds no state and runs no empty
    * no-data microbatch. `watermark` is unused and kept for callers that
    * name it. Output `(cur_id, ant_id, score)`. */
  def streamingDecode(spark: SparkSession, scoredArcs: DataFrame,
      threshold: Double = 0.0, watermark: String = "10 minutes"): DataFrame =
    scoredArcs.filter(col("score") > threshold)
      .select(col("cur_id"), col("ant_id"), col("score"))
}
