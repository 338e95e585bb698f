package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.annotation.tailrec
import scala.reflect.runtime.universe.TypeTag
import graft.Pins

/** Transitive clustering (SURVEY.md §2.12).
  *
  * The reference forms clusters by sequential union over backpointers
  * (`OrderedClustering.createFromBackpointers`,
  * `OrderedClustering.scala:83-99`) — i.e. connected components of the
  * backpointer forest. Here that is one bounded solver with one bound,
  * [[maxDriverEdges]]:
  *
  *  1. a backpointer set within the bound is fetched once and solved on the
  *     driver by union-by-min;
  *  2. over it, a per-conversation union-find (`mapGroups` — conversations
  *     are bounded) contracts the graph, and the contracted
  *     cross-conversation graph takes the same bounded solve, else a
  *     DataFrame-native hash-to-min loop (min-label propagation + pointer
  *     jumping, O(log diameter) rounds, checkpointed per iteration).
  *
  * Cluster id = min mention_id (string) in the component on every path —
  * deterministic, content-derived, retry/order-independent.
  */
object Clustering {

  /** One hash-to-min CC over edges `(src, dst)` (String or Long ids).
    * `checkpoint` is invoked with (iteration, labels) after each round —
    * TableIO hooks in there for resumable per-iteration commits. Returns
    * `(mention_id, cluster_id)` for every node appearing in `nodes`. */
  def connectedComponents(
      nodes: DataFrame, // single col "id"
      edges: DataFrame, // cols "src", "dst"
      maxIter: Int = 50,
      checkpoint: (Int, DataFrame) => DataFrame = (_, df) => df.localCheckpoint(true))
    : DataFrame = {

    // pin hygiene (r06): each iteration's superseded labels checkpoint is
    // released as soon as the convergence check has read it — without this,
    // dead label tables accumulate in executor storage for the whole loop
    // (O(nodes × iterations) pinned bytes on a deep graph). Pins are
    // attributed by diffing the persistent-RDD set around each checkpoint
    // call (a TableIO-backed checkpoint pins nothing — the diff is empty
    // and the release a no-op). `sym` is released when the loop ends; the
    // FINAL labels pin is the returned result and stays.
    val sc = nodes.sparkSession.sparkContext

    val preSym = Pins.ids(sc)
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val symPins = Pins.ids(sc) -- preSym

    // init: label(v) = min(v, min neighbor)
    val preInit = Pins.ids(sc)
    var labels = nodes.select(col("id"), col("id").as("lbl"))
      .unionByName(sym.select(col("dst").as("id"), col("src").as("lbl")))
      .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
      .localCheckpoint(true)
    var labelPins: Set[Int] = Pins.ids(sc) -- preInit

    @tailrec
    def loop(iter: Int): Unit = {
      if (iter >= maxIter) return
      // neighbor-min: candidate label from each neighbor's current label
      val viaNbr = sym.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("lbl"))
      // pointer jump: label(label(v))
      val viaJump = labels.join(
        labels.select(col("id").as("lbl"), col("lbl").as("lbl2")), "lbl")
        .select(col("id"), col("lbl2").as("lbl"))
      val next = labels.unionByName(viaNbr).unionByName(viaJump)
        .groupBy(col("id")).agg(min(col("lbl")).as("lbl"))
      val preChk = Pins.ids(sc)
      val nextChk = checkpoint(iter, next)
      val nextPins = Pins.ids(sc) -- preChk
      val changed = nextChk.join(labels.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).limit(1).count()
      // the superseded iteration is dead once the convergence check read it
      Pins.release(sc, labelPins)
      labels = nextChk
      labelPins = nextPins
      if (changed > 0) loop(iter + 1)
    }
    loop(0)
    Pins.release(sc, symPins)
    labels.select(col("id").as("mention_id"), col("lbl").as("cluster_id"))
  }

  /** Spark's string order: `UTF8String` byte order, which is code point
    * order. `String.compareTo` compares UTF-16 code units instead, and the
    * two disagree between U+E000–U+FFFF and the supplementary characters
    * (surrogate pairs), so every driver- or executor-side minimum over ids
    * compares with this one, as the distributed loop's `min` does. The
    * remap is the standard code-unit fix-up: surrogates move above
    * U+E000–U+FFFF; within the BMP and within surrogates order is kept. */
  private[graft] object SparkStringOrder extends Ordering[String] {
    private def fix(c: Char): Int =
      if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i); val y = b.charAt(i)
        if (x != y) return fix(x) - fix(y)
        i += 1
      }
      a.length - b.length
    }
  }

  /** Union-find with path compression and union-by-MIN root — the single
    * definition of the kernel behind the "cluster id = component minimum"
    * contract, shared by the per-conversation contraction (executor-side,
    * String ids), the bounded driver solve (String or Long ids) and the
    * streaming fold's driver-side edit; one place to fix means the call
    * sites cannot drift. String ids take [[SparkStringOrder]]. `find`
    * registers unseen keys as their own root. */
  private[graft] final class UnionFindMin[K](ord: Ordering[K]) {
    private val parent = scala.collection.mutable.HashMap.empty[K, K]
    def find(x: K): K = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: K, b: K): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    /** Every registered key with its component-min root. */
    def roots: Iterator[(K, K)] = parent.keysIterator.map(k => (k, find(k)))
  }

  /** Per-conversation union-find fast path (custom Aggregator-shaped kernel
    * via `mapGroups`; SURVEY.md §7.3). Collapses all within-conversation
    * edges in one pass; returns `(id, local_root)`. */
  def localRoots(spark: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    import spark.implicits._
    // canonical conv-key extraction: fixed-width positional suffix strip —
    // MUST agree with the column-side graft.functions.convOfMentionId used by
    // `cluster`'s edge classification, or a conv_id containing '#' could pass
    // the within-conversation filter yet group under different local graphs.
    val convOf = (id: String) => id.dropRight(graft.functions.MentionIdSuffixLen)
    val nodeByConv = nodes.select(col("id")).as[String].map(id => (convOf(id), id, id))
    val edgeByConv = edges
      .filter(graft.functions.convOfMentionId(col("src")) ===
        graft.functions.convOfMentionId(col("dst")))
      .as[(String, String)].map { case (s, d) => (convOf(s), s, d) }
    nodeByConv.union(edgeByConv)
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val uf = new UnionFindMin[String](SparkStringOrder)
        it.foreach { case (_, a, b) => if (a == b) uf.find(a) else uf.union(a, b) }
        uf.roots.toSeq
      }
      .toDF("id", "local_root")
  }

  /** Full clustering, `(mention_id, cluster_id)` for every mention
    * (`mentions` holds each id once). A backpointer set within
    * [[maxDriverEdges]] is solved in one bounded fetch on the driver. Over
    * the bound, union-find contracts each conversation, and [[components]]
    * solves the contracted cross-conversation graph; then every mention
    * takes its local root's label. */
  def cluster(
      spark: SparkSession,
      mentions: DataFrame,
      backptrs: DataFrame, // (cur_id, ant_id)
      checkpoint: (Int, DataFrame) => DataFrame = (_, df) => df.localCheckpoint(true),
      maxEdges: Int = maxDriverEdges)
    : DataFrame = {

    val nodes = mentions.select(col("mention_id").as("id"))
    val edges = backptrs.select(col("ant_id").as("src"), col("cur_id").as("dst"))
    boundedRoots(edges, maxEdges).map(labelled(nodes, _)).getOrElse {
      // over the bound: pin the edge set ONCE for the contraction's two
      // legs, or each re-derives it (the whole scoring + decode chain when
      // the caller's backpointers are lazy); dead once both legs are pinned
      val sc = spark.sparkContext
      val preEdges = Pins.ids(sc)
      val pinned = edges.localCheckpoint(true)
      val edgePins = Pins.ids(sc) -- preEdges
      val local = localRoots(spark, nodes, pinned).localCheckpoint(true)

      // contract: cross-conversation edges between local roots
      val cross = pinned.filter(
        graft.functions.convOfMentionId(col("src")) =!=
          graft.functions.convOfMentionId(col("dst")))
      // materialize the contracted edge set ONCE: the bounded fetch and the
      // distributed loop's first iteration both consume it — without the
      // checkpoint each recomputes the two root joins (measured ~2x
      // clustering wall-clock at sf0.1). The contracted graph is orders of
      // magnitude smaller than the mention set, so this is cheap by design.
      val crossRoots = cross
        .join(local.withColumnRenamed("id", "src").withColumnRenamed("local_root", "src_root"), "src")
        .join(local.withColumnRenamed("id", "dst").withColumnRenamed("local_root", "dst_root"), "dst")
        .select(col("src_root").as("src"), col("dst_root").as("dst"))
        .localCheckpoint(true)
      Pins.release(sc, edgePins)
      val rootNodes = local.select(col("local_root").as("id")).distinct()
      val rootClusters = components(rootNodes, crossRoots, checkpoint, maxEdges)
      local.join(rootClusters.withColumnRenamed("mention_id", "local_root"), "local_root")
        .select(col("id").as("mention_id"), col("cluster_id"))
    }
  }

  /** The one bound on every driver-side fetch in the clustering layer: the
    * bounded solve, [[editBackpointers]]' two probes and the streaming
    * fold's arc and touched-cluster fetches; each takes it as the default
    * of a `maxEdges` parameter. 200k string edges is at most ~20 MB of
    * driver heap. Mutable so specs can force the distributed fallbacks on
    * small fixtures. */
  private[graft] var maxDriverEdges: Int = 200000

  /** The bounded solve: ONE bounded fetch of `edges` (two columns, String
    * or Long ids; [[graft.functions.fetchBounded]], so at most max+1 rows
    * reach the driver) doubles as the size probe and the edge set; within
    * the bound, union-by-min gives `(id, root)` for every endpoint, where
    * root is its component minimum. None over the bound. */
  private def boundedRoots(edges: DataFrame, maxEdges: Int): Option[DataFrame] = {
    val taken = graft.functions.fetchBounded(edges, maxEdges + 1)
    def solve[K: TypeTag](ord: Ordering[K]): DataFrame = {
      val uf = new UnionFindMin[K](ord)
      taken.foreach(r => uf.union(r.getAs[K](0), r.getAs[K](1)))
      val spark = edges.sparkSession
      import spark.implicits._
      uf.roots.toSeq.toDF("id", "root")
    }
    if (taken.length > maxEdges) None
    else Some(edges.schema.head.dataType match {
      case LongType => solve[Long](Ordering.Long)
      case _ => solve[String](SparkStringOrder)
    })
  }

  /** `nodes` (col "id") labelled through a driver-held roots table: one
    * broadcast left join, and a node on no edge is its own root. */
  private def labelled(nodes: DataFrame, roots: DataFrame): DataFrame =
    nodes.join(broadcast(roots), Seq("id"), "left")
      .select(col("id").as("mention_id"), coalesce(col("root"), col("id")).as("cluster_id"))

  /** Connected components of `edges` `(src, dst)` over `nodes` (col "id"),
    * String or Long ids: the bounded solve within [[maxDriverEdges]], else
    * the distributed checkpointed loop. Cluster id = component minimum
    * either way. Backs [[cluster]]'s contracted graph and near-dup
    * canonicalization ([[graft.ops.Dedup.canonicalize]]). Returns
    * `(mention_id, cluster_id)` like [[connectedComponents]]. */
  def components(nodes: DataFrame, edges: DataFrame,
      checkpoint: (Int, DataFrame) => DataFrame = (_, df) => df.localCheckpoint(true),
      maxEdges: Int = maxDriverEdges)
    : DataFrame =
    boundedRoots(edges.select(col("src"), col("dst")), maxEdges)
      .map(labelled(nodes, _))
      .getOrElse(connectedComponents(nodes, edges, checkpoint = checkpoint))

  /** The backpointer table after applying `edits`: existing rows re-pointed,
    * detaches (`new_ant_id == cur_id`) dropped, brand-new links kept via the
    * outer join. Single definition shared by [[editBackpointers]] and the
    * streaming maintenance fold ([[graft.streaming.StreamingClusters]]) so
    * the merge semantics cannot drift between the clustering kernel and the
    * maintained state. */
  def mergeBackpointers(backptrs: DataFrame, edits: DataFrame): DataFrame =
    backptrs.select(col("cur_id"), col("ant_id"))
      .join(edits.select(col("cur_id"), col("new_ant_id")), Seq("cur_id"), "full_outer")
      .select(col("cur_id"),
        coalesce(col("new_ant_id"), col("ant_id")).as("ant_id"))
      .filter(col("ant_id") =!= col("cur_id"))

  /** C2: incremental cluster edit
    * (`OrderedClusteringFromBackpointers.changeBackpointerGetClusters`,
    * `OrderedClustering.scala:102-143`). The reference re-points one
    * mention's backpointer and recomputes only the two affected clusters by
    * frontier expansion; relationally that is: the touched components are
    * exactly the edited mention's current cluster and the new antecedent's
    * cluster (removal can only split the former; the new edge can only merge
    * into the latter), so re-run connected components on the touched members
    * with the edited edge set ([[cluster]], so a touched subgraph within
    * [[maxDriverEdges]] is one bounded fetch) and union with the untouched
    * rows. Work is proportional to the touched clusters, never the corpus —
    * a touched-id set within [[maxDriverEdges]] is broadcast, and untouched
    * rows pass through an anti-join unscanned by the CC loop.
    *
    * `edits` rows are `(cur_id, new_ant_id)`; `new_ant_id == cur_id`
    * detaches the mention (reference: `backpointers(i) == i`). An edit for a
    * mention with no existing backpointer adds a fresh link (outer join).
    * Cluster ids stay the component-min convention, so the result is
    * bit-identical to a full [[cluster]] run over the edited backpointer
    * table — the C2 spec and the `c2_incremental_edit` oracle both pin that.
    */
  def editBackpointers(
      spark: SparkSession,
      clusters: DataFrame, // (mention_id, cluster_id) — current clustering
      backptrs: DataFrame, // (cur_id, ant_id)
      edits: DataFrame,    // (cur_id, new_ant_id)
      editsPinned: Boolean = false, // caller already localCheckpoint'ed edits
      // merged backpointer table the caller already computed (and pinned)
      // via [[mergeBackpointers]] — avoids running the O(state) full_outer
      // merge twice when the caller also keeps the merged table as state
      premerged: Option[DataFrame] = None,
      maxEdges: Int = maxDriverEdges)
    : DataFrame = {
    // fresh exprIds on every intermediate that derives FROM `clusters` and
    // joins straight back against it: a pinned LogicalRDD keeps its source
    // plan's attribute ids — when `clusters` is itself a union/projection
    // (StreamingClusters' lazy registered view) the analyzer's conflict
    // dedup cannot rewrite the alias side, failing with "conflicting
    // references". An alias round-trip re-ids the output.
    def refresh(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
    val e0 = edits.select(col("cur_id"), col("new_ant_id"))
    val e = if (editsPinned) e0 else e0.localCheckpoint(true)
    val ids = e.select(col("cur_id").as("mention_id"))
      .unionByName(e.select(col("new_ant_id").as("mention_id")))
      .distinct()
    val sparkSes = spark
    import sparkSes.implicits._
    // Touched-cluster ids, driver-side and bounded: in the steady
    // incremental regime the touched set is a handful of clusters, so ONE
    // bounded fetch of the edit ids and ONE of their clusters replace the
    // pinned shape's checkpoint jobs. Both fetches are the cardinality gate:
    // only a set already held within [[maxDriverEdges]] is broadcast,
    // and an over-bound edit-id or touched set falls back to the pinned
    // distributed shape below. The probe streams `clusters` against the
    // broadcast edit ids — no shuffle of the state table.
    def bounded(df: DataFrame): Option[Seq[String]] = {
      val rows = graft.functions.fetchBounded(df, maxEdges + 1)
      if (rows.length <= maxEdges) Some(rows.map(_.getString(0)).toSeq)
      else None
    }
    val touchedSeq: Option[Seq[String]] =
      bounded(ids).flatMap(is => bounded(
        clusters.join(broadcast(is.toDF("mention_id")), Seq("mention_id"))
          .select(col("cluster_id")).distinct()))
    // driver-held: a LocalRelation, known-size and statically broadcast, so
    // every consumer below is a narrow scan of `clusters` with no pins and
    // no state shuffles. Over-bound: the pinned touched and members sets,
    // with no broadcast hint — AQE picks the broadcast side only when it is
    // in fact small.
    val (touched, driverHeld) = touchedSeq match {
      case Some(ts) => (broadcast(ts.toDF("cluster_id")), true)
      case None => (refresh(ids.join(clusters, "mention_id")
        .select(col("cluster_id")).distinct()
        .localCheckpoint(true)), false)
    }
    val members0 = clusters.join(touched, Seq("cluster_id")).select(col("mention_id"))
    val members = refresh(if (driverHeld) members0 else members0.localCheckpoint(true))
    // edited backpointers restricted to touched members (refresh a caller-
    // pinned premerged table: pinned LogicalRDDs keep their source exprIds).
    // Membership filter on the cur side only: an unedited edge's ant shares
    // cur's component, and an edited edge's ant is touched by construction.
    val edited = premerged.map(refresh).getOrElse(mergeBackpointers(backptrs, e))
    val subEdges = edited.join(
      members.select(col("mention_id").as("cur_id")), "cur_id")
    val recomputed = cluster(spark, members, subEdges, maxEdges = maxEdges)
    clusters.join(touched, Seq("cluster_id"), "left_anti")
      .select(col("mention_id"), col("cluster_id"))
      .unionByName(recomputed.select(col("mention_id"), col("cluster_id")))
  }

  /** C3: drop singleton clusters (CoNLL postprocessing,
    * `OrderedClusteringBound.scala:8-11`). */
  def dropSingletons(clusters: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id"))
    clusters.withColumn("sz", count(lit(1)).over(w))
      .filter(col("sz") > 1).drop("sz")
  }

  /** C4: dense relabel (`OrderedClustering.scala:61-67`). Scalable two-pass
    * (NOT a global-order window, which would funnel every row through one
    * partition): range-partition the distinct cluster ids, number locally,
    * then add exclusive per-partition offsets (a num-partitions-sized
    * cumulative sum). */
  def denseRelabel(clusters: DataFrame): DataFrame = {
    val distinctIds = clusters.select(col("cluster_id")).distinct()
      .repartitionByRange(col("cluster_id"))
    // pin ONE materialization of the range-partitioned ids: `offsets` and
    // `indexed` both branch off it, and correctness needs both branches to
    // see the SAME partitioning — without the checkpoint that holds only via
    // Spark's exchange reuse (RangePartitioner sampling is RDD-id-seeded, so
    // a recomputed exchange could draw different bounds and misalign offsets
    // with local indices). The distinct id set is small.
    val withLocal = distinctIds
      .withColumn("part", spark_partition_id())
      .withColumn("local_idx",
        row_number().over(Window.partitionBy(col("part")).orderBy(col("cluster_id"))).cast("long") - 1)
      .localCheckpoint(true)
    val offsets = withLocal.groupBy(col("part")).agg(count(lit(1)).as("n"))
      .withColumn("offset",
        coalesce(sum(col("n")).over(
          Window.orderBy(col("part")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("part"), col("offset")) // one row per partition — tiny
    val indexed = withLocal.join(broadcast(offsets), "part")
      .select(col("cluster_id"), (col("offset") + col("local_idx")).as("cluster_idx"))
    clusters.join(indexed, "cluster_id")
  }
}
