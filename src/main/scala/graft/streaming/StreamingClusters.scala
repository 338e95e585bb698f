package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Pins
import graft.pipeline.Clustering

/** Streaming cluster maintenance (ST × C1/C2).
  *
  * Folds the [[StreamingAssembly.streamingDecode]] arc stream (the arcs
  * above the link threshold) into one live state table
  * `(mention_id, cluster_id, ant_id)`, one microbatch at a time: every
  * mention seen so far, its cluster, and its backpointer (`ant_id` null for
  * a mention with no link). It is also where the stream decodes: each
  * microbatch's per-mention argmax (best score, ties to the lowest
  * antecedent id — the [[graft.pipeline.Decode.backpointers]] rule) gives
  * its links. The band pairer emits all of a mention's arcs in one
  * microbatch and the fold reads whole arc-sink batches, so on the shipped
  * path that argmax is the mention's whole decode.
  *
  * The kernel is the reference's incremental cluster edit
  * (`OrderedClustering.scala:102-143`): a link for a mention that already
  * has one is a C2 re-point, a first link a C2 fresh link, and an id never
  * seen before a new singleton. The touched clusters are those of the
  * batch's ids; they are closed under the backpointers (an unedited edge
  * stays inside its cluster, an edited one points at a batch id), so
  * re-clustering their rows with the batch's links is exact. Within
  * [[Clustering.maxDriverEdges]] the whole edit runs on the driver: one
  * bounded fetch of the arcs, one probe of the state for the batch ids'
  * clusters, one bounded fetch of those clusters' rows, a union-by-min
  * ([[Clustering.UnionFindMin]]), and the new state is the untouched rows
  * (one narrow filter of the state) ∪ the recomputed rows (a
  * LocalRelation).
  * Over the bound the fold runs distributed: [[Clustering.editBackpointers]]
  * over the state's two projections, joined back into one table.
  *
  * Exactness: the backpointer graph is a forest — every mention carries at
  * most one out-edge — and the touched clusters are recomputed whole, so
  * the state equals the batch clustering of the links folded so far after
  * EVERY microbatch, not only at end of stream (StreamingSpec asserts it
  * per batch, on both branches).
  *
  * Storage: a fold that [[maintain]] commits writes its new state once,
  * through [[graft.io.TableIO]] (stage `stream_state`), and the next fold
  * reads that snapshot back from its footers — nothing is pinned. Other
  * folds pin the new table via localCheckpoint and release the previous
  * state's blocks (the trainer's hygiene pattern), so pinned storage is
  * O(state), not O(state × batches). Every written table is capped at one
  * partition per core, so a snapshot's file count stays bounded across
  * folds. Like the trainer, an update owns the session's persistent-RDD set
  * while it runs (single-writer maintenance job).
  */
object StreamingClusters {

  /** The TableIO stage of the committed state. */
  private val Stage = "stream_state"

  /** The two stages the state was committed as before it was one table,
    * `(mention_id, cluster_id)` and `(cur_id, ant_id)` under the same
    * lineage; [[loadState]] still resumes them. */
  private val LegacyStages = ("stream_clusters", "stream_backptrs")

  /** Live state: `table` = (mention_id, cluster_id, ant_id), one row per
    * mention seen; `pins` = the RDD ids backing it (empty when it is read
    * from a committed snapshot), released when the next fold supersedes it. */
  case class State(table: DataFrame, pins: Set[Int], batches: Long) {
    /** `(mention_id, cluster_id)` for every mention seen. */
    def clusters: DataFrame = table.select(col("mention_id"), col("cluster_id"))
    /** `(cur_id, ant_id)` for every linked mention. */
    def backptrs: DataFrame = table.filter(col("ant_id").isNotNull)
      .select(col("mention_id").as("cur_id"), col("ant_id"))
  }

  def empty(spark: SparkSession): State = {
    import spark.implicits._
    State(Seq.empty[(String, String, String)].toDF("mention_id", "cluster_id", "ant_id"),
      Set.empty, 0L)
  }

  /** The per-microbatch decode, distributed: one link per mention, best
    * score, ties to the lowest antecedent id — the
    * [[graft.pipeline.Decode.backpointers]] rule, so the fold is insensitive
    * to the order of arcs within the batch. Callers pass arcs that can link
    * (`score > threshold`). */
  private def finalLinks(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cur_id"))
      .orderBy(col("score").desc, col("ant_id").asc)
    batch.select(col("cur_id"), col("ant_id"), col("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cur_id"), col("ant_id").as("new_ant_id"))
  }

  /** [[finalLinks]] over driver-held `(cur_id, ant_id, score)` rows, with
    * Spark's string order for the tie-break. */
  private def argmax(arcs: Array[Row]): Map[String, String] = {
    val best = mutable.HashMap.empty[String, (String, Double)]
    arcs.foreach { r =>
      val (cur, ant, s) = (r.getString(0), r.getString(1), r.getDouble(2))
      val better = best.get(cur).forall { case (bAnt, bS) =>
        s > bS || (s == bS && Clustering.SparkStringOrder.lt(ant, bAnt)) }
      if (better) best(cur) = (ant, s)
    }
    best.iterator.map { case (cur, (ant, _)) => cur -> ant }.toMap
  }

  /** One fold's new state table, lazy over the previous state and over
    * `dead`, the pins taken while deriving it (the distributed fold's),
    * which are released once the table is materialized. */
  private case class Next(table: DataFrame, dead: Set[Int])

  /** One microbatch fold (pure batch function): decode the batch's arcs,
    * register unseen ids as singletons, then apply the links as one C2
    * edit; the new state is pinned. A batch with no arcs still counts as a
    * fold, so `batches` tracks the engine's batch ids. `maxEdges` bounds
    * every driver-side fetch; over it the fold runs distributed. */
  def update(spark: SparkSession, st: State, batchDecoded: DataFrame,
      maxEdges: Int = Clustering.maxDriverEdges): State =
    next(spark, st, batchDecoded, maxEdges) match {
      case None => st.copy(batches = st.batches + 1)
      case Some(n) =>
        val sc = spark.sparkContext
        val before = Pins.ids(sc)
        val table = n.table.localCheckpoint(true)
        val pins = Pins.ids(sc) -- before
        // Pins.release frees BLOCKING: the steady per-batch fold pins fresh
        // checkpoint blocks right after releasing the previous fold's — an
        // async free lets dead and live blocks overlap, the documented
        // steady-epoch OOM class (SURVEY §11.2, same rule as the trainer)
        Pins.release(sc, n.dead ++ st.pins)
        State(table, pins, st.batches + 1)
    }

  /** One microbatch fold whose new state is committed: the commit is the
    * fold's one write, and the new state is that snapshot read back from
    * its footers (no Spark job, nothing pinned). */
  private def commitFold(spark: SparkSession, st: State, batchDecoded: DataFrame,
      io: graft.io.TableIO, tag: String): State = {
    val n = next(spark, st, batchDecoded, Clustering.maxDriverEdges)
      .getOrElse(Next(st.table, Set.empty))
    val batches = st.batches + 1
    // always commit: reusing an existing snapshot of the same lineage would
    // put a refold from batch 0 back onto the old run's state
    val lin = lineage(tag, batches)
    val snap = io.commit(Stage, n.table, lin)
    val table = io.readIfCurrent(spark, Stage, lin, Some(snap)).getOrElse(
      throw new IllegalStateException(s"$Stage snapshot $snap was just committed " +
        s"under lineage '$lin' but cannot be read back"))
    Pins.release(spark.sparkContext, n.dead ++ st.pins)
    State(table, Set.empty, batches)
  }

  /** The new state table of one fold; None for a batch with no arcs. */
  private def next(spark: SparkSession, st: State, batchDecoded: DataFrame,
      maxEdges: Int): Option[Next] = {
    val sparkSes = spark
    import sparkSes.implicits._
    val arcs = graft.functions.fetchBounded(
      batchDecoded.select(col("cur_id"), col("ant_id"), col("score")), maxEdges + 1)
    if (arcs.isEmpty) return None
    if (arcs.length > maxEdges)
      return Some(distributed(spark, st, finalLinks(batchDecoded), maxEdges))
    val links = argmax(arcs)
    val ids = (links.keysIterator ++ links.valuesIterator).toSet
    // ONE narrow probe (a scan of the state) gives the touched clusters;
    // at most |ids| rows come back
    val touched = st.table.filter(memberOf(col("mention_id"), ids))
      .select(col("cluster_id")).collect().map(_.getString(0)).toSet
    val isTouched = memberOf(col("cluster_id"), touched)
    // the touched clusters' rows: members and their backpointers at once
    val rows =
      if (touched.isEmpty) Array.empty[Row]
      else graft.functions.fetchBounded(st.table.filter(isTouched)
        .select(col("mention_id"), col("ant_id")), maxEdges + 1)
    if (rows.length > maxEdges)
      return Some(distributed(spark, st, links.toSeq.toDF("cur_id", "new_ant_id"), maxEdges))

    // member → backpointer (null = none): the touched rows, the batch's new
    // ids as singletons, then the batch's links (a self-link detaches)
    val ant = mutable.HashMap.empty[String, String]
    rows.foreach(r => ant(r.getString(0)) = r.getString(1))
    ids.foreach(id => if (!ant.contains(id)) ant(id) = null)
    links.foreach { case (cur, a) => ant(cur) = if (a == cur) null else a }
    val uf = new Clustering.UnionFindMin[String](Clustering.SparkStringOrder)
    ant.foreach { case (m, a) => if (a == null) uf.find(m) else uf.union(m, a) }
    val recomputed = ant.iterator.map { case (m, a) => (m, uf.find(m), a) }.toSeq
      .toDF("mention_id", "cluster_id", "ant_id")
    val table = st.table.filter(!isTouched)
      .select(col("mention_id"), col("cluster_id"), col("ant_id"))
      .unionByName(recomputed)
    Some(Next(capFiles(spark, table), Set.empty))
  }

  /** `c` is in the driver-held set `ids`, as one UDF over the set: unlike a
    * broadcast join it starts no job of its own, and unlike `isin` its plan
    * stays one node at any size (a filter of a 50k-row table at local[4]
    * took 0.12–0.36 s at 1k–100k ids, against 0.2–0.7 s for a broadcast
    * join and 0.18–4.2 s for `isin`). */
  private def memberOf(c: Column, ids: Set[String]): Column =
    udf((s: String) => ids.contains(s)).apply(c)

  /** At most one partition per core: the union adds the recomputed rows'
    * partitions to the state's on every fold, so without the cap a
    * snapshot's file count would grow with the fold count. */
  private def capFiles(spark: SparkSession, table: DataFrame): DataFrame =
    table.coalesce(spark.sparkContext.defaultParallelism)

  /** The fully distributed fold — the over-bound branch of [[next]]:
    * register the new singletons, apply `edits` `(cur_id, new_ant_id)` as
    * one [[Clustering.editBackpointers]] over the state's projections, and
    * join the edited clusters and backpointers back into one table. */
  private def distributed(spark: SparkSession, st: State, edits: DataFrame,
      maxEdges: Int): Next = {
    val sc = spark.sparkContext
    val before = Pins.ids(sc)
    val e = edits.localCheckpoint(true)
    // every id the batch mentions that the state has never seen becomes a
    // singleton cluster first, so the C2 kernel always edits a complete
    // universe (its touched-set lookup joins against `clusters`); pin ONLY
    // the new singletons (batch-sized), the registered view stays lazy
    val ids = e.select(col("cur_id").as("mention_id"))
      .unionByName(e.select(col("new_ant_id").as("mention_id")))
      .distinct()
    val newSingletons = ids.join(st.clusters, Seq("mention_id"), "left_anti")
      .select(col("mention_id"), col("mention_id").as("cluster_id"))
      .localCheckpoint(true)
    val registered = st.clusters.unionByName(newSingletons)
    // the merged backpointers: the new state's links AND the edge set the
    // C2 kernel restricts to touched members, pinned for both reads
    val merged = Clustering.mergeBackpointers(st.backptrs, e).localCheckpoint(true)
    val edited = Clustering.editBackpointers(spark, registered, st.backptrs, e,
      editsPinned = true, premerged = Some(merged), maxEdges = maxEdges)
    val table = edited
      .join(merged.select(col("cur_id").as("mention_id"), col("ant_id")),
        Seq("mention_id"), "left")
      .select(col("mention_id"), col("cluster_id"), col("ant_id"))
    Next(capFiles(spark, table), Pins.ids(sc) -- before)
  }

  private def lineage(tag: String, batches: Long): String = s"$tag@batch-$batches"

  /** Commit the state through [[graft.io.TableIO]] — the Iceberg-shaped
    * seam, so the maintenance job is resumable with per-partition lineage +
    * counters (north rule) — as ONE snapshot of the `stream_state` stage
    * under the lineage token `<tag>@batch-<n>`, which it returns. One table
    * means one commit, so no crash can leave half a state behind. */
  def commitState(io: graft.io.TableIO, st: State, tag: String): String = {
    val lin = lineage(tag, st.batches)
    io.commit(Stage, st.table, lin)
    lin
  }

  /** Load the newest committed state under `tag`: the newest `stream_state`
    * snapshot whose rows verify against its manifest (TableIO resume
    * semantics), walking back past torn or corrupt ones. An output with no
    * such snapshot resumes from the two-table layout: the newest batch
    * committed and intact in BOTH legacy stages, joined into one table. */
  def loadState(spark: SparkSession, io: graft.io.TableIO, tag: String): Option[State] = {
    val Lin = (java.util.regex.Pattern.quote(tag) + "@batch-(\\d+)").r
    def committed(stage: String): Map[Long, Int] =
      (0 to io.latestSnapshot(stage).getOrElse(-1)).flatMap { k =>
        io.lineage(stage, k).collect { case Lin(n) => n.toLong -> k }
      }.toMap // later snapshots win per batch id
    def read(stage: String, n: Long, snap: Int): Option[DataFrame] =
      io.readIfCurrent(spark, stage, lineage(tag, n), Some(snap))
    val current = {
      val s = committed(Stage)
      s.keys.toSeq.sortBy(-_).iterator.flatMap { n =>
        read(Stage, n, s(n)).map(State(_, Set.empty, n)) }
    }
    def legacy = {
      val (cs, bs) = LegacyStages
      val (c, b) = (committed(cs), committed(bs))
      (c.keySet intersect b.keySet).toSeq.sortBy(-_).iterator.flatMap { n =>
        (for {
          cl <- read(cs, n, c(n))
          bp <- read(bs, n, b(n))
        } yield State(cl.join(bp.withColumnRenamed("cur_id", "mention_id"),
            Seq("mention_id"), "left")
          .select(col("mention_id"), col("cluster_id"), col("ant_id")),
          Set.empty, n)).iterator
      }
    }
    current.nextOption().orElse(legacy.nextOption())
  }

  /** Attach the fold to a (streaming) `(cur_id, ant_id, score)` arc
    * DataFrame via `foreachBatch`. Returns the started query and a live handle to the
    * current state; `onBatch` fires after each fold (metrics, extra
    * assertions in tests). `commitCadence = Some((io, tag, n))` commits the
    * state every n-th fold — the built-in warehouse-scale checkpoint: that
    * fold writes its new state as the `stream_state` snapshot instead of
    * pinning it, and the next fold reads it back.
    *
    * Resume contract: restart with `initial = loadState(spark, io, tag)`
    * AND the same durable `checkpointLocation`. The engine's checkpoint
    * stops the source replaying already-folded data from scratch (a temp
    * checkpoint would re-deliver every past arc ON TOP of the loaded
    * state, re-pointing mentions back to stale antecedents); the batch-id
    * guard below absorbs the one in-flight batch foreachBatch re-delivers
    * at-least-once. Exactly-once resume needs cadence 1 — with cadence n a
    * crash strands up to n-1 folds whose source offsets the engine already
    * committed (their arcs will not be re-delivered); the alignment
    * guard detects any such divergence — including a loadState walk-back
    * past folds the checkpoint considers done — and FAILS the query rather
    * than resuming into silent data loss. */
  def maintain(spark: SparkSession, decoded: DataFrame,
      onBatch: State => Unit = _ => (),
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      initial: Option[State] = None,
      commitCadence: Option[(graft.io.TableIO, String, Int)] = None,
      checkpointLocation: Option[String] = None)
    : (StreamingQuery, AtomicReference[State]) = {
    val ref = new AtomicReference[State](initial.getOrElse(empty(spark)))
    val w0 = decoded.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val st = ref.get()
        // fold-count / engine-batch-id alignment, enforced ONLY under a
        // durable checkpoint (without one, batch ids restart at 0 every
        // run, the invariant is meaningless, and skipping would silently
        // drop new data — so the undurable path folds unconditionally):
        //   batchId == batches     → the next batch: fold it
        //   batchId == batches - 1 → the one in-flight batch foreachBatch
        //     re-delivers at-least-once (its fold committed, its offset
        //     commit did not): skip, don't double-fold
        //   anything else → this state and this checkpoint do not belong
        //     together (fresh checkpoint over an old state, loadState
        //     walked back past folds whose offsets the engine already
        //     committed, foreign tag …). Those arcs will never be
        //     re-delivered; resuming would silently diverge — fail loudly.
        val fold = checkpointLocation.isEmpty || batchId == st.batches
        if (checkpointLocation.isDefined && (batchId < st.batches - 1 || batchId > st.batches))
          throw new IllegalStateException(
            s"maintain(): engine batch $batchId vs state fold count ${st.batches} — " +
            "the checkpoint and the loaded state diverge (arcs between them " +
            "are gone); restore a newer state commit or restart with a fresh " +
            "checkpoint AND no initial state to refold from scratch")
        if (fold) {
          val next = commitCadence match {
            case Some((io, tag, n)) if n > 0 && (st.batches + 1) % n == 0 =>
              commitFold(spark, st, batch, io, tag)
            case _ => update(spark, st, batch)
          }
          ref.set(next)
          onBatch(next)
        }
      }
    val w1 = checkpointLocation.fold(w0)(loc =>
      w0.option("checkpointLocation", loc))
    val q = trigger.fold(w1)(w1.trigger).start()
    (q, ref)
  }
}
