package graft

import org.apache.spark.SparkContext

/** RDD pin bookkeeping: the blocks a step caches or checkpoints are found by
  * diffing the session's persistent-RDD set around it, and released
  * BLOCKING — async frees let dead blocks overlap live ones (the
  * steady-epoch OOM, SURVEY §11.2). */
object Pins {

  /** Ids of every RDD currently pinned in the session. */
  def ids(sc: SparkContext): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Unpersist the given RDDs, blocking until their blocks are freed. */
  def release(sc: SparkContext, rddIds: Set[Int]): Unit =
    rddIds.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))

  /** Run `body` and release every pin it created, on return and on
    * exception alike. The result must not depend on those pins once
    * `body` returns (collect it, or commit it and read it back). */
  def scoped[A](sc: SparkContext)(body: => A): A = {
    val before = ids(sc)
    try body finally release(sc, ids(sc) -- before)
  }
}
