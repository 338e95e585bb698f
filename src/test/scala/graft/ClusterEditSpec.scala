package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Clustering

/** C2 incremental cluster edit
  * (`OrderedClusteringFromBackpointers.changeBackpointerGetClusters`,
  * reference `coref/OrderedClustering.scala:102-143`): the incremental path
  * (recompute touched clusters only) must be bit-identical to a full
  * re-clustering over the edited backpointer table, across all three edit
  * kinds the reference supports — re-point, detach, fresh link.
  */
class ClusterEditSpec extends SparkSuite {
  import spark.implicits._

  private def mid(conv: String, turn: Int, start: Int): String =
    conv + "#" + f"$turn%06d" + f"$start%06d"

  private def toSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** `body`'s result, and the output columns of every broadcast-hinted
    * subplan in the queries it runs (probes, pins and collects alike), read
    * from a query listener; a sentinel query flushes the listener bus before
    * returning. */
  private def broadcastHinted[A](body: => A): (A, Seq[Seq[String]]) = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val sentinel = "broadcast_hint_sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == sentinel)) flushed.countDown()
        else qe.analyzed.foreach {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
            seen.add(h.child.output.map(_.name))
          case _ =>
        }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try {
      val r = body
      spark.range(1).toDF(sentinel).collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (result, seen.asScala.toSeq)
  }

  test("incremental edit == full recompute (re-point, detach, fresh link)") {
    val ids = Seq(
      mid("cA", 0, 0), mid("cA", 0, 5), mid("cA", 1, 2), // chain A
      mid("cB", 0, 0), mid("cB", 0, 7),                  // pair B
      mid("cC", 0, 0), mid("cC", 1, 1), mid("cC", 2, 2), // pair C + singleton
      mid("cD", 0, 0), mid("cD", 0, 9))                  // pair D (untouched)
    val mentions = ids.toDF("mention_id")
    val bp = Seq(
      (mid("cA", 0, 5), mid("cA", 0, 0)),
      (mid("cA", 1, 2), mid("cA", 0, 5)),
      (mid("cB", 0, 7), mid("cB", 0, 0)),
      (mid("cC", 1, 1), mid("cC", 0, 0)),
      (mid("cD", 0, 9), mid("cD", 0, 0))).toDF("cur_id", "ant_id")
    val clusters0 = Clustering.cluster(spark, mentions, bp).localCheckpoint(true)

    val edits = Seq(
      // re-point: splits chain A's tail off and merges it into cluster B
      (mid("cA", 1, 2), mid("cB", 0, 0)),
      // detach: backpointers(i) == i drops the link, splitting cluster B
      (mid("cB", 0, 7), mid("cB", 0, 7)),
      // fresh link: cC#2,2 had no backpointer row at all
      (mid("cC", 2, 2), mid("cC", 0, 0))).toDF("cur_id", "new_ant_id")

    val bpEdited = Seq(
      (mid("cA", 0, 5), mid("cA", 0, 0)),
      (mid("cA", 1, 2), mid("cB", 0, 0)),
      (mid("cC", 1, 1), mid("cC", 0, 0)),
      (mid("cC", 2, 2), mid("cC", 0, 0)),
      (mid("cD", 0, 9), mid("cD", 0, 0))).toDF("cur_id", "ant_id")

    val full = Clustering.cluster(spark, mentions, bpEdited)
    val inc = Clustering.editBackpointers(spark, clusters0, bp, edits)
    assert(toSet(inc) == toSet(full))

    // the untouched cluster D passes through with its id intact
    val dRows = toSet(inc).filter(_._1.startsWith("cD"))
    assert(dRows == Set(
      (mid("cD", 0, 0), mid("cD", 0, 0)),
      (mid("cD", 0, 9), mid("cD", 0, 0))))
  }

  test("over-bound edit batch falls back to the full contraction pipeline, same labels") {
    // force the driver bound to 0 so the edit probes and the touched
    // subgraph's clustering all take their distributed fallbacks on the
    // same fixture; labels must match the driver fast path
    val ids = Seq(
      mid("cA", 0, 0), mid("cA", 0, 5), mid("cA", 1, 2),
      mid("cB", 0, 0), mid("cB", 0, 7),
      mid("cD", 0, 0), mid("cD", 0, 9))
    val mentions = ids.toDF("mention_id")
    val bp = Seq(
      (mid("cA", 0, 5), mid("cA", 0, 0)),
      (mid("cA", 1, 2), mid("cA", 0, 5)),
      (mid("cB", 0, 7), mid("cB", 0, 0)),
      (mid("cD", 0, 9), mid("cD", 0, 0))).toDF("cur_id", "ant_id")
    val clusters0 = Clustering.cluster(spark, mentions, bp).localCheckpoint(true)
    val edits = Seq((mid("cA", 1, 2), mid("cB", 0, 0))).toDF("cur_id", "new_ant_id")
    val fast = Clustering.editBackpointers(spark, clusters0, bp, edits)
    val (slowSet, hinted) =
      broadcastHinted(toSet(Clustering.editBackpointers(spark, clusters0, bp, edits,
        maxEdges = 0)))
    // the edit-id set (mention_id) and the touched set (cluster_id) are over
    // the bound here by construction: neither may carry a broadcast hint
    assert(!hinted.exists(c => c == Seq("mention_id") || c == Seq("cluster_id")),
      s"over-bound set broadcast-hinted in the fallback: $hinted")
    assert(slowSet == toSet(fast))
    val full = Clustering.cluster(spark, mentions,
      Seq((mid("cA", 0, 5), mid("cA", 0, 0)),
        (mid("cA", 1, 2), mid("cB", 0, 0)),
        (mid("cB", 0, 7), mid("cB", 0, 0)),
        (mid("cD", 0, 9), mid("cD", 0, 0))).toDF("cur_id", "ant_id"))
    assert(slowSet == toSet(full))
  }

  test("empty edit batch is the identity") {
    val mentions = Seq(mid("cA", 0, 0), mid("cA", 0, 5)).toDF("mention_id")
    val bp = Seq((mid("cA", 0, 5), mid("cA", 0, 0))).toDF("cur_id", "ant_id")
    val clusters0 = Clustering.cluster(spark, mentions, bp).localCheckpoint(true)
    val edits = spark.emptyDataset[(String, String)].toDF("cur_id", "new_ant_id")
    val out = Clustering.editBackpointers(spark, clusters0, bp, edits)
    assert(toSet(out) == toSet(clusters0))
  }

  test("distributed CC loop: pins bounded across iterations, labels equal driver path") {
    // a long cross-conversation chain forces a multi-iteration hash-to-min
    // loop; the r06 pin hygiene must release each superseded iteration's
    // checkpoint blocks, so the persistent-RDD count after the run is
    // bounded by a constant (the result + its inputs), not the iteration
    // count. The driver bound at 0 forces the loop.
    val n = 40
    val ids = (0 until n).map(i => mid(f"c$i%02d", 0, 0))
    val mentions = ids.toDF("mention_id")
    val bp = (1 until n).map(i => (ids(i), ids(i - 1))).toDF("cur_id", "ant_id")
    val expected = Clustering.cluster(spark, mentions, bp)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val dist = Clustering.cluster(spark, mentions, bp, maxEdges = 0).localCheckpoint(true)
    val pinsAfter = sc.getPersistentRDDs.size - before
    // chain of 40 conversations -> O(log n) CC iterations; without the
    // release each iteration leaked one labels checkpoint. Allow the
    // result pin + the loop's live labels + a small constant of pinned
    // inputs (local roots, contracted edges), NOT one per iteration beyond
    // that.
    assert(pinsAfter <= 8, s"persistent RDDs grew by $pinsAfter — superseded " +
      "CC iterations are not being released")
    assert(toSet(dist) == toSet(expected))
  }

  test("one driver bound: 0, small and default give equal labels; pins show the branch") {
    // 6 conversations, each a 4-mention chain (18 within-conversation
    // edges), joined by 3 cross-conversation links: the bound 5 is below
    // the 21 backpointers but above the 3 contracted edges
    val convs = (0 until 6).map(c => f"c$c%02d")
    val chains = convs.map(c => (0 until 4).map(t => mid(c, t, t)))
    val mentions = (chains.flatten :+ mid("c99", 0, 0)).toDF("mention_id")
    val within = chains.flatMap(ch => (1 until ch.length).map(i => (ch(i), ch(i - 1))))
    val cross = Seq((chains(1)(2), chains(0)(3)), (chains(3)(0), chains(2)(1)),
      (chains(4)(1), chains(3)(3)))
    val bp = (within ++ cross).toDF("cur_id", "ant_id")
    val sc = spark.sparkContext
    def run(bound: Int): (Set[(String, String)], Int) = {
      val before = Pins.ids(sc)
      val out = Clustering.cluster(spark, mentions, bp, maxEdges = bound)
      val pinned = Pins.ids(sc) -- before
      val labels = toSet(out)
      Pins.release(sc, pinned)
      (labels, pinned.size)
    }
    val (dflt, dfltPins) = run(Clustering.maxDriverEdges)
    val (small, smallPins) = run(5)
    val (dist, _) = run(0)
    // components: {c00,c01}, {c02,c03,c04}, {c05}, the isolated c99
    assert(dflt.map(_._2).size === 4)
    assert(dflt.filter(_._1.startsWith("c01")).map(_._2) === Set(mid("c00", 0, 0)))
    assert(small === dflt)
    assert(dist === dflt)
    // the top-level solve pins nothing; the small bound pins exactly the
    // contraction tables (local roots, contracted edges) and then solves
    // the contracted graph on the driver
    assert(dfltPins === 0, s"top-level solve pinned $dfltPins RDDs")
    assert(smallPins === 2, s"contraction + driver solve pinned $smallPins RDDs")
  }
  test("ids mixing U+E000–U+FFFF and supplementary characters take Spark's " +
      "string order on every branch") {
    // "c\uFFFD" < "c\uD83D\uDE00" (U+1F600) in Spark's UTF-8 byte order, but
    // String.compareTo (UTF-16 code units) orders them the other way: the
    // component minimum, the fold's tie-break and the cluster count must
    // all follow Spark's `min`
    val (rep, emoji, pua) = ("c\uFFFD", "c\uD83D\uDE00", "c\uE000")
    val mentions = Seq(mid(rep, 0, 0), mid(rep, 0, 3), mid(emoji, 0, 0),
      mid(emoji, 1, 1), mid(pua, 0, 0), mid("cz", 0, 0)).toDF("mention_id")
    val bp = Seq(
      (mid(rep, 0, 3), mid(rep, 0, 0)),
      (mid(emoji, 0, 0), mid(rep, 0, 3)),   // joins the two conversations
      (mid(emoji, 1, 1), mid(emoji, 0, 0)),
      (mid("cz", 0, 0), mid(pua, 0, 0))).toDF("cur_id", "ant_id")
    val dflt = toSet(Clustering.cluster(spark, mentions, bp))
    val overBound = Clustering.cluster(spark, mentions, bp, maxEdges = 0)
    assert(toSet(overBound) === dflt)
    val sparkMin = mentions.filter(!col("mention_id").startsWith("cz") &&
        !col("mention_id").startsWith(pua))
      .agg(min(col("mention_id"))).head().getString(0)
    assert(sparkMin === mid(rep, 0, 0))
    assert(dflt.filter(_._1.startsWith(emoji)).map(_._2) === Set(sparkMin))
    // the closing count over an over-bound clustering
    val r = overBound.agg(count(lit(1)), countDistinct(col("cluster_id"))).head()
    assert(Run.rowsAndClusters(overBound) === ((r.getLong(0), r.getLong(1))))

    // the fold: a tie between the two antecedents goes to Spark's lower id,
    // driver-held and distributed alike
    import graft.streaming.StreamingClusters
    val arcs = Seq((mid("cz", 1, 0), mid(emoji, 0, 0), 1.0),
      (mid("cz", 1, 0), mid(rep, 0, 0), 1.0), (mid(rep, 0, 3), mid(rep, 0, 0), 1.0))
      .toDF("cur_id", "ant_id", "score")
    def fold(bound: Int) = {
      val st = StreamingClusters.update(spark, StreamingClusters.empty(spark), arcs, bound)
      val out = (toSet(st.backptrs), toSet(st.clusters))
      Pins.release(spark.sparkContext, st.pins)
      out
    }
    val (bpDriver, clDriver) = fold(Clustering.maxDriverEdges)
    assert(bpDriver(mid("cz", 1, 0) -> mid(rep, 0, 0)))
    assert(fold(0) === ((bpDriver, clDriver)))
  }
}
