package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.register(s)
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** One Spark job: the call site of its result stage (e.g. `parquet at
    * TableIO.scala:83`; jobs of a streaming microbatch carry the query's
    * `start` site) and whether any of its stages wrote output. */
  protected case class JobRecord(site: String, writes: Boolean)

  /** Every Spark job started while `body` runs, recorded by a listener. The
    * listener bus is asynchronous, so a marker job is run afterwards and
    * awaited: once its start event arrives, every earlier event has too. */
  protected def jobsRecordedDuring(body: => Unit): Seq[JobRecord] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[Int])]
    val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sparksuite.marker") != null))
          flushed.countDown()
        else jobs.add((e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""),
          e.stageIds))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val out = e.stageInfo.taskMetrics.outputMetrics
        if (out.recordsWritten > 0 || out.bytesWritten > 0) writing.add(e.stageInfo.stageId)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("sparksuite.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("sparksuite.marker", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never reached the listener")
      jobs.asScala.toSeq.map { case (site, stages) =>
        JobRecord(site, stages.exists(writing.contains(_))) }
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs ([[jobsRecordedDuring]]). */
  protected def jobsDuring(body: => Unit): Int = jobsRecordedDuring(body).size
}
