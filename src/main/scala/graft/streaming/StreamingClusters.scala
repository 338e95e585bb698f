package graft.streaming

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Pins
import graft.pipeline.Clustering

/** Streaming cluster maintenance (ST × C1/C2).
  *
  * Folds the [[StreamingAssembly.streamingDecode]] arc stream (the arcs
  * above the link threshold) into a live `(mention_id, cluster_id)` table
  * one microbatch at a time, and is where the stream decodes: each
  * microbatch's per-mention argmax ([[finalLinks]], the
  * [[graft.pipeline.Decode.backpointers]] rule) gives its links. The band
  * pairer emits all of a mention's arcs in one microbatch and the fold reads
  * whole arc-sink batches, so on the shipped path that argmax is the
  * mention's whole decode. The reference's incremental cluster edit
  * (`OrderedClustering.scala:102-143`) is the kernel: each microbatch
  * reduces to (1) registering ids never seen before as singleton clusters
  * and (2) ONE [[Clustering.editBackpointers]] call carrying the batch's
  * final per-mention links. A link for a mention that already has one (a
  * later batch re-pointing it) is exactly a C2 re-point; a first link is a
  * C2 fresh link.
  *
  * Exactness: the backpointer graph is a forest — every mention carries at
  * most one out-edge — so arrivals that don't re-point can only append to a
  * component or lower its min-id label, never merge two pre-existing
  * clusters; re-points go through the C2 kernel, which is spec- and
  * oracle-pinned (`c2_incremental_edit`) bit-identical to a full recompute.
  * The streaming table therefore equals the batch clustering of the links
  * folded so far after EVERY microbatch, not only at end of stream
  * (StreamingSpec asserts per-batch).
  *
  * Scale: per-batch work is proportional to the touched clusters (the C2
  * contract) — untouched rows pass through an anti-join unscanned by the CC
  * loop. State is two id-pair tables pinned via localCheckpoint, with the
  * previous batch's blocks released once the new pins materialize (the
  * distributed trainer's hygiene pattern — state storage is O(corpus), not
  * O(corpus × batches)). At warehouse scale the same fold writes through
  * [[graft.io.TableIO]] (`commit` per batch or every N batches), so the
  * maintenance job resumes from the last committed snapshot with lineage;
  * like the trainer, an update owns the session's persistent-RDD set while
  * it runs (single-writer maintenance job).
  */
object StreamingClusters {

  /** Live state: `clusters` = (mention_id, cluster_id), `backptrs` =
    * (cur_id, ant_id), both localCheckpoint-pinned; `pins` = the RDD ids
    * backing them (released when the next update supersedes this state). */
  case class State(clusters: DataFrame, backptrs: DataFrame,
      pins: Set[Int], batches: Long)

  def empty(spark: SparkSession): State = {
    import spark.implicits._
    State(
      Seq.empty[(String, String)].toDF("mention_id", "cluster_id"),
      Seq.empty[(String, String)].toDF("cur_id", "ant_id"),
      Set.empty, 0L)
  }

  /** The per-microbatch decode: one link per mention, best score, ties to
    * the lowest antecedent id — the [[graft.pipeline.Decode.backpointers]]
    * rule, so the fold is insensitive to the order of arcs within the
    * batch. Callers pass arcs that can link (`score > threshold`). */
  private def finalLinks(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cur_id"))
      .orderBy(col("score").desc, col("ant_id").asc)
    batch.select(col("cur_id"), col("ant_id"), col("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cur_id"), col("ant_id").as("new_ant_id"))
  }

  /** One microbatch fold (pure batch function): decode the batch's arcs
    * ([[finalLinks]]), register unseen ids as singletons, then apply the
    * links as one C2 edit. A batch with no arcs still counts as a fold, so
    * `batches` tracks the engine's batch ids. */
  def update(spark: SparkSession, st: State, batchDecoded: DataFrame): State = {
    val sparkSes = spark
    import sparkSes.implicits._
    // ONE bounded fetch doubles as the emptiness probe, the edit fetch and
    // the singleton-registration input: the steady fold regime is
    // touched-proportional by contract, so the final link set is small; a
    // batch over [[Clustering.maxDriverEdges]] (the clustering layer's one
    // driver bound) falls back to the fully distributed shape.
    val taken = graft.functions.fetchBounded(
      finalLinks(batchDecoded), Clustering.maxDriverEdges + 1)
    if (taken.isEmpty) return st.copy(batches = st.batches + 1)
    if (taken.length > Clustering.maxDriverEdges)
      return updateDistributed(spark, st, batchDecoded)

    val before = Pins.ids(spark.sparkContext)

    // edits as a LocalRelation: statically broadcastable, nothing to pin
    val editPairs = taken.map(r => (r.getString(0), r.getString(1))).toSeq
    val edits = editPairs.toDF("cur_id", "new_ant_id")
    val idsArr = (editPairs.map(_._1) ++ editPairs.map(_._2)).distinct
    // every id the batch mentions that the state has never seen becomes a
    // singleton cluster first, so the C2 kernel always edits a complete
    // universe. ONE narrow scan of the state (broadcast ids, no shuffle)
    // resolves the batch ids' current clusters; ids it misses are the new
    // singletons — and the touched-cluster set falls out of the same probe
    // (existing clusters hit + the new ids themselves), so the C2 kernel
    // skips its own probe (`knownTouched`).
    // ONE probe job over BOTH state tables (unioned, tagged): resolves the
    // batch ids' current clusters AND which cur_ids already hold a
    // backpointer row — two narrow broadcast-join scans in a single action
    val curIds = editPairs.map(_._1).distinct
    val probed = st.clusters
      .join(broadcast(idsArr.toDF("mention_id")), Seq("mention_id"))
      .select(col("mention_id"), col("cluster_id"), lit("c").as("src"))
      .unionByName(st.backptrs
        .join(broadcast(curIds.toDF("cur_id")), Seq("cur_id"))
        .select(col("cur_id").as("mention_id"),
          col("cur_id").as("cluster_id"), lit("b").as("src")))
      .collect() // ≤ |idsArr| + |curIds| rows — bounded by construction
    val matched = probed.filter(_.getString(2) == "c")
    val existingCur = probed.collect {
      case r if r.getString(2) == "b" => r.getString(0) }.toSet
    val matchedIds = matched.map(_.getString(0)).toSet
    val newIds = idsArr.filterNot(matchedIds)
    val touched = (matched.map(_.getString(1)).toSeq ++ newIds).distinct
    val newSingletons = newIds.map(id => (id, id)).toDF("mention_id", "cluster_id")
    val registered = st.clusters.unionByName(newSingletons)

    // ONE O(state) merge per batch — as a SCAN, not a shuffle: with the
    // edits driver-held, the full_outer decomposes into [state rows
    // broadcast-LEFT-joined against the edits] ∪ [edit rows whose cur_id
    // the state has no backpointer for] (resolved by one more bounded
    // probe). Value-identical to Clustering.mergeBackpointers (edits are
    // unique per cur_id by finalLinks), with the state table streamed once
    // instead of sort-merge-shuffled every batch.
    val freshLinks = editPairs.filterNot { case (c, _) => existingCur(c) }
    val merged = st.backptrs
      .join(broadcast(edits), Seq("cur_id"), "left")
      .select(col("cur_id"),
        coalesce(col("new_ant_id"), col("ant_id")).as("ant_id"))
      .unionByName(freshLinks.toDF("cur_id", "ant_id"))
      .filter(col("ant_id") =!= col("cur_id"))
    foldTail(spark, st, before, registered, edits, merged, Some(touched))
  }

  /** The fully distributed fold — the over-bound branch of [[update]]
    * (edit set too large to hold driver-side): the pinned shape. */
  private def updateDistributed(spark: SparkSession, st: State,
      batchDecoded: DataFrame): State = {
    val before = Pins.ids(spark.sparkContext)
    val edits = finalLinks(batchDecoded).localCheckpoint(true)
    // every id the batch mentions that the state has never seen becomes a
    // singleton cluster first, so the C2 kernel always edits a complete
    // universe (its touched-set lookup joins against `clusters`)
    val ids = edits.select(col("cur_id").as("mention_id"))
      .unionByName(edits.select(col("new_ant_id").as("mention_id")))
      .distinct()
    // pin ONLY the new singletons (batch-sized); the registered view is a
    // lazy union of two pinned tables — the C2 kernel's several reads scan
    // checkpoint blocks either way, and the O(state) write that used to
    // re-materialize the whole cluster table every batch is gone
    val newSingletons = ids.join(st.clusters, Seq("mention_id"), "left_anti")
      .select(col("mention_id"), col("mention_id").as("cluster_id"))
      .localCheckpoint(true)
    val registered = st.clusters.unionByName(newSingletons)

    foldTail(spark, st, before, registered, edits,
      Clustering.mergeBackpointers(st.backptrs, edits), None)
  }

  /** The tail both fold shapes share: pin the merged backpointer table (the
    * next backpointer state AND the edge set the C2 kernel restricts to
    * touched members), apply the batch as ONE C2 edit, pin the new clusters
    * and release every pin taken since `before` that the new state does not
    * hold, plus the previous state's. `knownTouched` is the touched-cluster
    * set the driver-held fold already probed. */
  private def foldTail(spark: SparkSession, st: State, before: Set[Int],
      registered: DataFrame, edits: DataFrame, merged: DataFrame,
      knownTouched: Option[Seq[String]]): State = {
    val sc = spark.sparkContext
    val preMerge = Pins.ids(sc)
    val backptrs2 = merged.localCheckpoint(true)
    val bp2Pins = Pins.ids(sc) -- preMerge
    // editBackpointers pins its internals eagerly during the call; snapshot
    // the pin set before taking the new state pins so the internals (plus
    // the caller's edits and singletons) can be attributed and released
    val edited = Clustering.editBackpointers(spark, registered, st.backptrs,
      edits, editsPinned = true, premerged = Some(backptrs2),
      knownTouched = knownTouched)
    val interm = Pins.ids(sc) -- before -- bp2Pins
    val clusters2 = edited.localCheckpoint(true)
    val pins2 = Pins.ids(sc) -- before -- interm
    // Pins.release frees BLOCKING: the steady per-batch fold pins fresh
    // checkpoint blocks immediately after releasing the previous fold's — an
    // async free lets dead and live blocks overlap, the documented
    // steady-epoch OOM class (SURVEY §11.2, same rule as the trainer)
    Pins.release(sc, interm ++ st.pins)
    State(clusters2, backptrs2, pins2, st.batches + 1)
  }

  /** Commit the state through [[graft.io.TableIO]] — the Iceberg-shaped
    * seam, so the maintenance job is resumable with per-partition lineage +
    * counters (north rule). Both tables carry the SAME lineage token
    * `<tag>@batch-<n>`: a crash between the two commits leaves the stages'
    * latest lineages disagreeing, and [[loadState]] walks back to the
    * newest batch present in BOTH — a torn commit resumes one batch
    * earlier instead of pairing a clusters table with a foreign
    * backpointer table. */
  def commitState(io: graft.io.TableIO, st: State, tag: String): String = {
    val lin = s"$tag@batch-${st.batches}"
    io.commit("stream_clusters", st.clusters, lin)
    io.commit("stream_backptrs", st.backptrs, lin)
    lin
  }

  /** Load the newest consistent committed state: the largest batch id whose
    * lineage token (under `tag`) is committed in BOTH stages, row counts
    * verified against their manifests (TableIO resume semantics). */
  def loadState(spark: SparkSession, io: graft.io.TableIO, tag: String): Option[State] = {
    val Lin = (java.util.regex.Pattern.quote(tag) + "@batch-(\\d+)").r
    def committed(stage: String): Map[Long, Int] =
      (0 to io.latestSnapshot(stage).getOrElse(-1)).flatMap { k =>
        io.lineage(stage, k).collect { case Lin(n) => n.toLong -> k }
      }.toMap // later snapshots win per batch id
    val c = committed("stream_clusters")
    val b = committed("stream_backptrs")
    // walk back through every batch committed in BOTH stages, newest first:
    // a pair whose snapshot fails row-count verification (torn/corrupt files)
    // falls through to the next-older intact pair instead of failing the
    // whole load and recomputing from batch 0
    (c.keySet intersect b.keySet).toSeq.sortBy(-_).iterator.flatMap { n =>
      val lin = s"$tag@batch-$n"
      (for {
        cl <- io.readIfCurrent(spark, "stream_clusters", lin, Some(c(n)))
        bp <- io.readIfCurrent(spark, "stream_backptrs", lin, Some(b(n)))
      } yield State(cl, bp, Set.empty, n)).iterator
    }.nextOption()
  }

  /** Attach the fold to a (streaming) `(cur_id, ant_id, score)` arc
    * DataFrame via `foreachBatch`. Returns the started query and a live handle to the
    * current state; `onBatch` fires after each fold (metrics, extra
    * assertions in tests). `commitCadence = Some((io, tag, n))` commits the
    * state through [[commitState]] every n-th fold — the built-in
    * warehouse-scale checkpoint.
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
          val next = update(spark, st, batch)
          ref.set(next)
          commitCadence.foreach { case (io, tag, n) =>
            if (n > 0 && next.batches % n == 0) commitState(io, next, tag)
          }
          onBatch(next)
        }
      }
    val w1 = checkpointLocation.fold(w0)(loc =>
      w0.option("checkpointLocation", loc))
    val q = trigger.fold(w1)(w1.trigger).start()
    (q, ref)
  }
}
