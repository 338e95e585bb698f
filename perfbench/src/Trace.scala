package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span tracer for the traced run.
  *
  * A span (name, start, end, parent, op id) wraps one of the benchmark's own
  * calls into a layer of the program. Spark work started inside a span is
  * tagged with the span id through a local property, so the listeners below
  * charge every job, task, plan and streaming trigger to the span that
  * caused it. The program itself is not instrumented: the listeners are
  * registered from outside, on the session the benchmark owns. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new InheritableThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }
  private var opId = 0

  /** Per-span Spark counters, keyed by span id (0 = outside every span). */
  val stats = new ConcurrentHashMap[Int, Counters]()
  private def counters(span: Int): Counters = stats.computeIfAbsent(span, _ => new Counters)
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSite = new ConcurrentHashMap[Int, String]()
  private val openJobs = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Jobs and task seconds by the source file of the job's call site. */
  val byCallSite = new ConcurrentHashMap[String, Counters]()
  /** (span id, call-site file) of every job, in start order. */
  val jobSites = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
  /** Streaming trigger progress events, in arrival order. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      openJobs.incrementAndGet()
      val s = spanOf(e.properties)
      // SQL actions set the call site as a job property (it survives the
      // adaptive executor's async stage jobs); plain RDD jobs name it in
      // their final stage
      val site = callSiteFile(Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
      e.stageIds.foreach { id => stageSpan.put(id, s); stageSite.put(id, site) }
      jobSites.add((s, site))
      counters(s).jobs += 1
      byCallSite.computeIfAbsent(site, _ => new Counters).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = openJobs.decrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageSpan.getOrDefault(e.stageId, 0))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.written += m.outputMetrics.bytesWritten
        byCallSite.computeIfAbsent(stageSite.getOrDefault(e.stageId, ""), _ => new Counters)
          .taskMs += m.executorRunTime
      }
    }
  }

  /** (wall-clock start ms, planning ms) of every finished query. The
    * listener runs on the listener bus, not on the query's thread, so plans
    * are charged to spans by time in [[drain]]. */
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans.add((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Start a new op; spans opened until the next call carry its id. */
  def nextOp(): Unit = opId += 1

  /** Peak storage memory in use (cached and checkpointed blocks), sampled
    * at every span end. */
  @volatile var peakStorageBytes = 0L
  private def sampleStorage(): Unit = {
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    peakStorageBytes = math.max(peakStorageBytes, used)
  }

  /** Run `f` inside a span named `name` (a layer, e.g. "mentions"). */
  def span[A](name: String)(f: => A): A = {
    val parent = current.get()
    val s = spans.synchronized {
      val s = new Span(spans.size + 1, name, parent.map(_.id).getOrElse(0),
        opId, (System.nanoTime() - t0) / 1e9, System.currentTimeMillis())
      spans += s
      s
    }
    val prevProp = sc.getLocalProperty(SpanProp)
    current.set(Some(s))
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      s.end = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      sampleStorage()
      sc.setLocalProperty(SpanProp, prevProp)
      current.set(parent)
    }
  }

  /** Wait until the listener bus has delivered every started job's events. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    Thread.sleep(200)
    while (openJobs.get() > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
    val all = allSpans
    Iterator.continually(plans.poll()).takeWhile(_ != null).foreach { case (at, ms) =>
      val inner = all.filter(s => s.startMs <= at && at <= s.endMs).sortBy(-_.startMs)
      counters(inner.headOption.map(_.id).getOrElse(0)).planMs += ms
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time: the span's wall time minus its children's. */
  def selfSeconds(s: Span): Double =
    s.seconds - allSpans.filter(_.parent == s.id).map(_.seconds).sum

  /** Counters summed over every span named `name` (their own work, not
    * their children's). */
  def layer(name: String): Counters =
    allSpans.filter(_.name == name).foldLeft(new Counters)((acc, s) =>
      acc.add(stats.getOrDefault(s.id, new Counters)))

  /** Counters over every span; work outside spans is not the traced op's. */
  def total: Counters = stats.asScala.filter(_._1 != 0).values
    .foldLeft(new Counters)((acc, c) => acc.add(c))

  /** Jobs whose call site lies in a program module of another layer than
    * the span that ran them or any span enclosing it: a check on the span
    * attribution. */
  def callSiteMismatches: Seq[(String, String)] = {
    val byId = allSpans.map(s => s.id -> s).toMap
    def names(id: Int): List[String] = byId.get(id).map(s => s.name :: names(s.parent)).getOrElse(Nil)
    jobSites.asScala.toSeq.collect {
      case (span, file) if span != 0 &&
          LayerOf.get(file).exists(l => !names(span).exists(_.startsWith(l))) =>
        (byId(span).name, file)
    }
  }

  def layerSeconds(name: String): Double = allSpans.filter(_.name == name).map(selfSeconds).sum

  /** The trace as JSON: spans with their own counters, plus the call-site
    * aggregate. */
  def json: String = {
    val sp = allSpans.map { s =>
      val c = stats.getOrDefault(s.id, new Counters)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
      f""""start":${s.start}%.6f,"end":${s.end}%.6f,"self_s":${selfSeconds(s)}%.6f,""" +
      s""""jobs":${c.jobs},"tasks":${c.tasks},"task_ms":${c.taskMs},"plan_ms":${c.planMs}}"""
    }
    val cs = byCallSite.asScala.toSeq.sortBy(-_._2.jobs).map { case (k, c) =>
      s"""{"file":"$k","jobs":${c.jobs},"task_ms":${c.taskMs}}"""
    }
    val mm = callSiteMismatches.map { case (span, file) => s"""{"span":"$span","file":"$file"}""" }
    s"""{"spans":[${sp.mkString(",")}],"call_sites":[${cs.mkString(",")}],""" +
      s""""call_site_mismatches":[${mm.mkString(",")}]}"""
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
      val start: Double, val startMs: Long) {
    @volatile var end: Double = start
    @volatile var endMs: Long = startMs
    def seconds: Double = end - start
  }

  final class Counters {
    @volatile var jobs = 0L
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    @volatile var gcMs = 0L
    @volatile var planMs = 0L
    @volatile var shuffleWrite = 0L
    @volatile var shuffleRead = 0L
    @volatile var spill = 0L
    @volatile var written = 0L
    def add(o: Counters): Counters = {
      jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; gcMs += o.gcMs
      planMs += o.planMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; written += o.written
      this
    }
  }

  /** Directory name of the traced streaming chain's input and output. */
  val Twin = "twin"

  /** Progress of the traced streaming queries only: those reading from or
    * writing to the traced chain. */
  def twinProgress(tr: Trace): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    tr.progress.asScala.map(_.progress).filter(p =>
      p.sources.exists(_.description.contains(s"/$Twin/"))).toSeq

  /** The layer each program module belongs to. */
  val LayerOf: Map[String, String] = Map(
    "Transcripts.scala" -> "sources", "Mentions.scala" -> "mentions",
    "Blocking.scala" -> "blocking", "Scoring.scala" -> "scoring",
    "SparseFeatures.scala" -> "scoring", "Decode.scala" -> "decode",
    "Clustering.scala" -> "clustering", "StreamingClusters.scala" -> "clustering",
    "TableIO.scala" -> "tableio", "Eval.scala" -> "eval")

  /** Source file of a call site such as `localCheckpoint at Trainer.scala:308`. */
  def callSiteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.substring(at + 4) else site
    val colon = loc.lastIndexOf(':')
    if (colon > 0) loc.substring(0, colon) else loc
  }
}
