package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableIO
import graft.pipeline._
import graft.streaming.{StreamingAssembly, StreamingClusters}

/** End-to-end and per-layer benchmark of the shipped entry point
  * [[graft.Run.runWith]] at `local[4]`, one JVM, one client, closed loop.
  *
  * {{{
  * Main --workload batch|stream_append --seed <n> --seconds <s> --trace 0|1
  *      --work <scratch dir> [--trace-out <file>]
  * }}}
  *
  * Prints one JSON result as the last line of stdout; everything else goes
  * to stderr. `perfbench/run.py` builds the program and launches this. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traceOut: Option[String])

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  val Cores = 4

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[A](f: => A): (A, Double) = { val t = System.nanoTime(); val a = f; (a, secs(t)) }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$Cores]").appName("perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.register(s)
    s
  }

  /** One field of a flat metrics JSON line written by `Run`. */
  def field(json: String, key: String): String =
    ("\"" + java.util.regex.Pattern.quote(key) + "\":\"?([^,\"}]*)").r
      .findFirstMatchIn(json).map(_.group(1))
      .getOrElse(sys.error(s"no $key in $json"))

  /** Harness gold: the entity of a mention is the user in its conversation
    * id (`c<user>-<k>`). */
  def gold(mentionIds: DataFrame): DataFrame =
    mentionIds.select(col("mention_id"),
      regexp_extract(col("mention_id"), "^c([0-9]+)-", 1).as("entity_id"))

  def bcub(clusters: DataFrame): Double =
    Eval.bcub(clusters, gold(clusters)).head().getAs[Double]("bcub_f1")

  /** Clusters as a partition: each mention labelled by its cluster's
    * smallest member, so two labellings of the same partition compare equal. */
  def partition(clusters: DataFrame): Set[(String, String)] =
    clusters.select(col("mention_id"),
        min(col("mention_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))).as("lbl"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  def rows(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** Result of one op: wall seconds, input rows processed, and whether its
    * output passed the workload's check. */
  final case class Op(seconds: Double, rows: Long, ok: Boolean, bcub: Double)

  /** A workload: seeded inputs, an untimed warm-up, timed ops (each checked
    * outside its timed region) and a traced op. */
  trait Workload {
    def generate(spark: SparkSession, seed: Long): Unit
    def warmUp(spark: SparkSession): Unit
    def hasNext: Boolean
    def op(spark: SparkSession): Op
    /** Run the traced composition of the next op. Returns (traced wall
      * seconds, untraced op seconds, traced output identical to untraced,
      * layer counts). */
    def traced(spark: SparkSession, tr: Trace): (Double, Double, Boolean, Map[String, Double])
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"), kv.get("trace-out"))
    // exit explicitly: an exception must not leave Spark's threads holding
    // the JVM open, and a failed run prints no result
    val code = try { println(run(o)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  def run(o: Opts): String = {
    new File(o.work).mkdirs()
    val dir = s"${o.work}/data"
    val wl: Workload = o.workload match {
      case "batch" => new BatchWorkload(dir)
      case "stream_append" => new StreamWorkload(dir, o.trace)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start + seeded input generation, SetupReps times
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { r =>
      if (spark != null) spark.stop()
      val (_, t) = timed {
        spark = session(o.work)
        wl.generate(spark, o.seed)
      }
      log(f"setup $r: $t%.3f s")
      t
    }
    val (_, tw) = timed(wl.warmUp(spark))
    log(f"warm-up: $tw%.3f s")

    val out = try {
      if (!o.trace) measure(spark, wl, o, median(setups)) else traceRun(spark, wl, o)
    } finally spark.stop()
    log(f"run: ${(System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s since JVM start")
    out
  }

  private def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${m.mkString(",")}}}"""
  }

  /** Untraced run: timed ops for `--seconds`, end-to-end metrics. */
  private def measure(spark: SparkSession, wl: Workload, o: Opts, setupS: Double): String = {
    val heap = new PeakHeap
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    heap.start()
    while (wl.hasNext && (ops.isEmpty || secs(t0) < o.seconds)) {
      val op = try wl.op(spark) catch {
        case e: Exception => log(s"op failed: $e"); Op(secs(t0), 0, ok = false, Double.NaN)
      }
      log(f"op ${ops.size + 1}: ${op.seconds}%.3f s, ${op.rows} rows, ok=${op.ok}, bcub=${op.bcub}%.6f")
      ops += op
    }
    heap.stop()
    val failed = ops.count(!_.ok)
    val secsAll = ops.map(_.seconds).toSeq
    result(failed == 0, ops.size, failed, Seq(
      ("setup_s", setupS, "s"),
      ("op_s_p50", median(secsAll), "s"),
      ("op_s_max", secsAll.max, "s"),
      ("input_rows_per_s", ops.map(_.rows).sum / secsAll.sum, "1/s"),
      ("bcub_f1", median(ops.filter(_.ok).map(_.bcub) match {
        case Seq() => Seq(0.0); case s => s.toSeq }), "ratio"),
      ("peak_heap_mb", heap.peakMb, "MB")))
  }

  /** Traced run: one traced op, per-layer metrics. */
  private def traceRun(spark: SparkSession, wl: Workload, o: Opts): String = {
    val tr = new Trace(spark)
    val (tracedS, untracedS, same, counts) = wl.traced(spark, tr)
    tr.drain()
    tr.close()
    o.traceOut.foreach(p => Files.write(new File(p).toPath,
      tr.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val traced = tr.allSpans
    val tot = tr.total
    val mb = 1024.0 * 1024.0
    def s(name: String) = tr.layerSeconds(name)
    def c(name: String) = counts.getOrElse(name, 0.0)
    val progress = Trace.twinProgress(tr)
    def p50(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Option[Long]): Double = {
      val xs = progress.flatMap(f).map(_.toDouble)
      if (xs.isEmpty) 0.0 else median(xs)
    }
    def dur(k: String)(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      Option(p.durationMs.get(k)).map(_.longValue)
    val lastState = progress.groupBy(_.id).values.map(_.last).toSeq
    val mismatches = tr.callSiteMismatches.size
    val scoringS = s("scoring")
    val metrics = Seq(
      ("spark.jobs", tot.jobs.toDouble, "count"),
      ("spark.tasks", tot.tasks.toDouble, "count"),
      ("spark.plan_s", tot.planMs / 1e3, "s"),
      ("spark.cpu_util", tot.taskMs / 1e3 / (tracedS * Cores), "ratio"),
      ("spark.task_s", tot.taskMs / 1e3, "s"),
      ("spark.gc_s", tot.gcMs / 1e3, "s"),
      ("spark.shuffle_write_mb", tot.shuffleWrite / mb, "MB"),
      ("spark.shuffle_read_mb", tot.shuffleRead / mb, "MB"),
      ("spark.spill_mb", tot.spill / mb, "MB"),
      ("spark.peak_storage_mb", tr.peakStorageBytes / mb, "MB"),
      ("sources.s", s("sources"), "s"),
      ("mentions.s", s("mentions"), "s"),
      ("mentions.rows", c("mentions.rows"), "count"),
      ("blocking.s", s("blocking"), "s"),
      ("blocking.surfaces", c("blocking.surfaces"), "count"),
      ("blocking.surface_pairs", c("blocking.surface_pairs"), "count"),
      ("blocking.band_pairs", c("blocking.band_pairs"), "count"),
      ("scoring.s", scoringS, "s"),
      ("scoring.pairs", c("scoring.pairs"), "count"),
      ("scoring.pairs_per_s", c("scoring.pairs") / scoringS, "1/s"),
      ("scoring.link_yield", c("scoring.link_yield"), "ratio"),
      ("decode.s", s("decode"), "s"),
      ("decode.linked_frac", c("decode.linked_frac"), "ratio"),
      ("clustering.s", s("clustering"), "s"),
      ("clustering.jobs", tr.layer("clustering").jobs.toDouble, "count"),
      ("clustering.clusters", c("clustering.clusters"), "count"),
      ("tableio.commit_s", s("tableio.commit"), "s"),
      ("tableio.read_s", s("tableio.read"), "s"),
      ("tableio.written_mb", tr.layer("tableio.commit").written / mb, "MB"),
      ("tableio.commits", c("tableio.commits"), "count"),
      ("eval.s", s("eval"), "s"),
      ("stream.trigger_ms_p50", p50(dur("triggerExecution")), "ms"),
      ("stream.add_batch_ms_p50", p50(dur("addBatch")), "ms"),
      ("stream.plan_ms_p50", p50(dur("queryPlanning")), "ms"),
      ("stream.input_rows", progress.map(_.numInputRows.toDouble).sum, "count"),
      ("stream.state_rows", lastState.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
        "count"),
      ("stream.state_mb", lastState.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum / mb,
        "MB"),
      ("trace.total_s", tracedS, "s"),
      ("trace.overhead_s", tracedS - untracedS, "s"),
      ("trace.spans", traced.size.toDouble, "count"),
      ("trace.callsite_mismatch_jobs", mismatches.toDouble, "count"))
    metrics.foreach { case (k, v, u) => log(f"$k%-28s $v%.4f $u") }
    result(same, 1, if (same) 0 else 1, metrics)
  }

  /** Peak driver heap in use after a garbage collection, over the timed
    * ops: the high-water mark of live data, read from GC notifications so
    * it does not depend on when the collector happens to run. In local mode
    * the executors share this heap. */
  final class PeakHeap {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    @volatile private var peak = 0L
    private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray.toSeq.collect { case e: NotificationEmitter => e }
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.toArray
          .map(_.asInstanceOf[java.lang.management.MemoryUsage].getUsed).sum
        peak = math.max(peak, after)
      }
    def start(): Unit = { System.gc(); peak = 0L; gcs.foreach(_.addNotificationListener(listener, null, null)) }
    /** With no collection during the ops, the heap in use after one. */
    def stop(): Unit = {
      gcs.foreach(_.removeNotificationListener(listener))
      if (peak == 0L) {
        System.gc()
        peak = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }
    }
    def peakMb: Double = peak / (1024.0 * 1024.0)
  }

  /** `batch`: one dense `Run` batch per op over a seeded transcript sample,
    * fresh `--output` each time, TableIO commits included. */
  final class BatchWorkload(dir: String) extends Workload {
    val users = 30
    val input = s"$dir/input"
    private var turns = 0L
    private var entities = 0L
    private var n = 0

    def generate(spark: SparkSession, seed: Long): Unit = {
      turns = Gen.write(Gen.transcripts(spark, seed, users), input, Cores)
      entities = spark.read.parquet(input)
        .select(regexp_extract(col("conv_id"), "^c([0-9]+)-", 1)).distinct().count()
      log(s"batch input: $users users, $entities entities, $turns turns")
    }

    private def runOnce(spark: SparkSession): (String, String, Double) = {
      n += 1
      val out = s"$dir/out-$n"
      val (metrics, t) = timed(graft.Run.runWith(spark, Map("input" -> input, "output" -> out)))
      (out, metrics, t)
    }

    private def committed(spark: SparkSession, out: String, metrics: String): DataFrame =
      new TableIO(out).readIfCurrent(spark, "clusters", field(metrics, "config"))
        .getOrElse(sys.error(s"no committed clusters in $out"))

    private def check(spark: SparkSession, out: String, metrics: String): (Boolean, Double) = {
      val cl = committed(spark, out, metrics)
      val b = bcub(cl)
      val k = cl.select(col("cluster_id")).distinct().count()
      if (k != entities) log(s"check: $k clusters, $entities gold entities")
      (b >= 0.99 && k == entities, b)
    }

    /** None: the timed op is the first `Run` of the JVM, as a batch job
      * launched by spark-submit runs it. Set-up has already run the
      * session and the generator's Spark SQL. */
    def warmUp(spark: SparkSession): Unit = ()

    def hasNext: Boolean = true

    def op(spark: SparkSession): Op = {
      val (out, m, t) = runOnce(spark)
      val ((ok, b), tc) = timed(check(spark, out, m))
      log(f"check: $tc%.3f s")
      rmrf(new File(out))
      Op(t, turns, ok, b)
    }

    def traced(spark: SparkSession, tr: Trace): (Double, Double, Boolean, Map[String, Double]) = {
      rmrf(new File(runOnce(spark)._1)) // the cold first op; the overhead is taken against a warm one
      val (out, m, untracedS) = runOnce(spark)
      val untraced = rows(committed(spark, out, m).select("mention_id", "cluster_id"))
      tr.nextOp()
      val tout = s"$dir/traced"
      val (counts, tracedS) = timed(tracedBatch(spark, tr, tout))
      val io = new TableIO(tout)
      val mine = rows(io.readIfCurrent(spark, "clusters", "traced").get
        .select("mention_id", "cluster_id"))
      log(s"traced clusters identical to untraced: ${mine == untraced} (${mine.size} rows)")
      (tracedS, untracedS, mine == untraced, counts)
    }

    /** `Run.runWith`'s batch path (dense, all generators, default config)
      * composed from the layer calls, each in a span, each materialized at
      * its boundary so its work is charged to it. */
    private def tracedBatch(spark: SparkSession, tr: Trace, out: String): Map[String, Double] = {
      val cfg = Pipeline.Config()
      val par = spark.sparkContext.defaultParallelism
      def pin(df: DataFrame): (DataFrame, Long) = { val c = df.cache(); (c, c.count()) }
      val (spread, _) = tr.span("sources")(pin(spark.read.parquet(input)
        .repartition(par, col("conv_id"))))
      val (mentions, nMentions) = tr.span("mentions")(pin(Mentions.extractAll(spread)))
      val (surfaces, nSurfaces, surfacePairs, nSurfacePairs, bandAttr, nBand) =
        tr.span("blocking") {
          val (s, ns) = pin(Blocking.surfaceTable(mentions))
          val (sp, nsp) = pin(Blocking.surfacePairs(s, cfg.blocking))
          val (b, nb) = pin(Blocking.convBandPairsAttr(mentions, cfg.blocking))
          (s, ns, sp, nsp, b, nb)
        }
      val (surfaceScores, scored, nScored, nLinked) = tr.span("scoring") {
        val (ss, _) = pin(Scoring.scoreSurfacePairs(surfacePairs, surfaces, cfg.weights))
        val band = Scoring.scorePairsAttr(bandAttr, cfg.weights)
          .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"))
        val linked = ss.filter(col("score") > cfg.linkThreshold)
          .select(col("norm_a"), col("norm_b"), col("block_key"), col("score"))
        val bridge = Blocking.bridgePairs(linked, mentions, cfg.blocking,
          extraCols = Seq("score"), keepInBand = false)
        val chains = Blocking.sameSurfaceChainPairs(mentions, cfg.blocking, Some(surfaces),
            keepInBand = false)
          .join(Scoring.selfScores(surfaces, cfg.weights).hint("shuffle_hash"), "norm")
          .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"))
        val (sc, n) = pin(band
          .unionByName(bridge.select(col("ant_id"), col("cur_id"), col("block_key"), col("score")))
          .unionByName(chains))
        (ss, sc, n, linked.count())
      }
      val (backptrs, nBp) = tr.span("decode")(pin(Decode.backpointers(scored, cfg.linkThreshold)))
      val (clusters, _) = tr.span("clustering")(pin(Clustering.cluster(spark, mentions, backptrs)))
      val io = new TableIO(out)
      tr.span("tableio.commit") {
        io.commit("clusters", clusters, "traced")
        io.commit("backptrs", backptrs, "traced")
      }
      val back = tr.span("tableio.read") {
        val c = io.readIfCurrent(spark, "clusters", "traced").get
        c.count(); c
      }
      val b = tr.span("eval")(bcub(back))
      val nClusters = back.select(col("cluster_id")).distinct().count()
      Seq(spread, mentions, surfaces, surfacePairs, bandAttr, surfaceScores, scored, backptrs,
        clusters).foreach(_.unpersist())
      log(f"traced bcub $b%.6f")
      Map[String, Double]("mentions.rows" -> nMentions, "blocking.surfaces" -> nSurfaces,
        "blocking.surface_pairs" -> nSurfacePairs, "blocking.band_pairs" -> nBand,
        "scoring.pairs" -> (nScored + nSurfacePairs),
        "scoring.link_yield" -> nLinked.toDouble / math.max(1L, nSurfacePairs),
        "decode.linked_frac" -> nBp.toDouble / math.max(1L, nMentions),
        "clustering.clusters" -> nClusters, "tableio.commits" -> 2)
    }
  }

  /** `stream_append`: per op, append the next event-time slice of a seeded
    * transcript sample to the input directory, then `Run --streaming` with
    * the same `--output` (resume, fold, state commit). */
  final class StreamWorkload(dir: String, mirror: Boolean) extends Workload {
    val users = 60
    val files = 6
    val staged = s"$dir/staged"
    private var slices: Seq[String] = Nil
    private var sliceRows: Seq[Long] = Nil
    private var next = 0
    private val token = s"stream-dense-0.0-${Blocking.Config().maxConvDist}-10_minutes"
    /** The chain the untraced ops drive, and (traced runs) a second chain
      * fed the same slices for the traced composition. */
    private val chain = (s"$dir/input", s"$dir/out")
    private val twin = (s"$dir/${Trace.Twin}/input", s"$dir/${Trace.Twin}/out")

    def generate(spark: SparkSession, seed: Long): Unit = {
      Seq(staged, chain._1, chain._2, s"$dir/${Trace.Twin}").foreach(d => rmrf(new File(d)))
      val written = Gen.writeByTime(Gen.transcripts(spark, seed, users), staged, files)
      slices = written.map(_._1)
      sliceRows = written.map(_._2)
      log(s"stream input: $users users, ${sliceRows.sum} turns in $files time slices " +
        sliceRows.mkString("(", ", ", ")"))
      next = 0
    }

    private def append(k: Int, input: String): Unit = {
      val d = new File(input); d.mkdirs()
      new File(slices(k)).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        Files.copy(f.toPath, new File(d, f"slice-$k%03d.parquet").toPath,
          StandardCopyOption.REPLACE_EXISTING)
      }
    }

    private def runOnce(spark: SparkSession, c: (String, String)): (String, Double) =
      timed(graft.Run.runWith(spark, Map("input" -> c._1, "output" -> c._2,
        "streaming" -> "true")))

    private def state(spark: SparkSession, out: String): StreamingClusters.State =
      StreamingClusters.loadState(spark, new TableIO(out), token)
        .getOrElse(sys.error(s"no committed stream state in $out"))

    /** The committed state equals the batch decode and clustering of the
      * committed band_scores arcs. */
    private def check(spark: SparkSession, out: String): (Boolean, Double) = {
      val st = state(spark, out)
      val arcs = spark.read.parquet(s"$out/band_scores")
      val bp = Decode.backpointers(arcs, 0.0).select(col("cur_id"), col("ant_id"))
      val nodes = bp.select(col("cur_id").as("mention_id"))
        .union(bp.select(col("ant_id").as("mention_id"))).distinct()
      val sameBp = rows(st.backptrs.select("cur_id", "ant_id")) == rows(bp)
      val sameCl = partition(st.clusters) == partition(Clustering.cluster(spark, nodes, bp))
      if (!sameBp || !sameCl) log(s"check: backptrs equal $sameBp, clusters equal $sameCl")
      (sameBp && sameCl, bcub(st.clusters))
    }

    def warmUp(spark: SparkSession): Unit = {
      append(0, chain._1)
      runOnce(spark, chain)
      if (mirror) { append(0, twin._1); runOnce(spark, twin) }
      next = 1
    }

    def hasNext: Boolean = next < files

    def op(spark: SparkSession): Op = {
      val k = next; next += 1
      append(k, chain._1)
      val (_, t) = runOnce(spark, chain)
      val ((ok, b), tc) = timed(check(spark, chain._2))
      log(f"check: $tc%.3f s")
      Op(t, sliceRows(k), ok, b)
    }

    def traced(spark: SparkSession, tr: Trace): (Double, Double, Boolean, Map[String, Double]) = {
      val k = next; next += 1
      append(k, chain._1)
      val (_, untracedS) = runOnce(spark, chain)
      append(k, twin._1)
      tr.nextOp()
      val (counts, tracedS) = timed(tracedStream(spark, tr, twin._1, twin._2))
      def committed(out: String) = rows(state(spark, out).clusters.select("mention_id", "cluster_id"))
      val same = committed(twin._2) == committed(chain._2)
      log(s"traced clusters identical to untraced: $same")
      (tracedS, untracedS, same, counts + ("mentions.rows" -> Mentions.extractIdentifier(
        spark.read.parquet(slices(k))).count().toDouble))
    }

    /** `Run.runWith`'s streaming path (dense) composed from the layer calls.
      * Streaming plans are lazy: the sources, mentions and decode spans hold
      * plan construction only; the band-pairing and scoring query executes
      * in the scoring span, and the decode + fold query in clustering, with
      * each state commit in a tableio span. */
    private def tracedStream(spark: SparkSession, tr: Trace, input: String,
        out: String): Map[String, Double] = {
      import org.apache.spark.sql.streaming.Trigger
      val watermark = "10 minutes"
      val src = tr.span("sources")(StreamingAssembly.streamTranscripts(spark, input))
      val mentions = tr.span("mentions")(
        StreamingAssembly.enrichMentions(StreamingAssembly.extractMentions(src)))
      val arcDir = s"$out/band_scores"
      def arcCount = spark.read.parquet(arcDir).count()
      val arcsBefore = arcCount
      // StreamingAssembly.streamingBandScores, split at its pairing call
      val pairs = tr.span("blocking")(StreamingAssembly.streamingBandPairs(spark, mentions,
        maxConvDist = Blocking.Config().maxConvDist, watermark = watermark))
      tr.span("scoring") {
        Scoring.score(Scoring.featurize(pairs.toDF()), Scoring.DefaultWeights)
          .select(col("ant_id"), col("cur_id"), col("block_key"), col("score"), col("ts"))
          .writeStream.format("parquet")
          .option("path", arcDir)
          .option("checkpointLocation", s"$out/ckpt_scores")
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
      }
      val decoded = tr.span("decode") {
        val arcStream = spark.readStream
          .schema("ant_id STRING, cur_id STRING, block_key STRING, score DOUBLE, ts TIMESTAMP")
          .parquet(arcDir)
        StreamingAssembly.streamingDecode(spark, arcStream, 0.0, watermark = watermark)
      }
      val io = new TableIO(out)
      var commits = 0
      val st = tr.span("clustering") {
        val initial = tr.span("tableio.read")(StreamingClusters.loadState(spark, io, token))
        val (q, ref) = StreamingClusters.maintain(spark, decoded,
          onBatch = s => tr.span("tableio.commit") {
            StreamingClusters.commitState(io, s, token); commits += 2
          },
          trigger = Some(Trigger.AvailableNow()),
          initial = initial,
          checkpointLocation = Some(s"$out/stream_checkpoint"))
        q.awaitTermination()
        ref.get()
      }
      val b = tr.span("eval")(bcub(st.clusters))
      log(f"traced bcub $b%.6f")
      val arcs = spark.read.parquet(arcDir)
      val nArcs = arcCount
      val addedArcs = nArcs - arcsBefore
      val nCur = arcs.select(col("cur_id")).distinct().count()
      val nBp = st.backptrs.count()
      val nLinked = arcs.filter(col("score") > 0.0).count()
      Map("blocking.band_pairs" -> addedArcs.toDouble, "scoring.pairs" -> addedArcs.toDouble,
        "scoring.link_yield" -> nLinked.toDouble / math.max(1L, nArcs),
        "decode.linked_frac" -> nBp.toDouble / math.max(1L, nCur),
        "clustering.clusters" -> st.clusters.select(col("cluster_id")).distinct().count().toDouble,
        "tableio.commits" -> commits.toDouble)
    }
  }
}
