package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding column.
  *
  * - [[bruteTopK]]: exact cosine top-k as the correctness baseline. The dot
  *   product is an explicit left-associated 64-term double expression so the
  *   DuckDB oracle reproduces it bit-for-bit (no UDF, fully codegen'd); norms
  *   are precomputed once per vector.
  * - [[annLsh]]: random-hyperplane (sign) LSH bucketing as the scale path —
  *   each vector probes only its bucket; hyperplanes are seeded plan
  *   literals (also reproduced verbatim in the oracle SQL).
  * - [[embeddingNearDup]]: cosine >= threshold near-duplicate pairs over the
  *   planted-dup corpus.
  */
object Similarity {

  val Dim = 64

  /** embeddings (cast to double) + planted near-dup copies (vec_id%9==0 →
    * +1,000,000 with component 1 shifted by +0.05), plus precomputed norm. */
  def corpus(embeddings: DataFrame): DataFrame = {
    val base = embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val near = base.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        concat(array(element_at(col("emb"), 1) + 0.05), slice(col("emb"), 2, Dim - 1)).as("emb"))
    base.unionByName(near).withColumn("nrm", sqrt(dot64(col("emb"), col("emb"))))
  }

  /** Explicit left-associated dot product (bit-reproducible in DuckDB).
    * One codegen'd node ([[graft.functions.Dot64]]) — value-identical to the
    * 64-term `element_at` chain the DuckDB oracle spells out (same add
    * order), but without the ~190-node Catalyst tree per use that dominated
    * the sim_* ops' planning/codegen time (guide §7.2; FunctionsSpec pins
    * the equality). */
  def dot64(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.Dot64(
      org.apache.spark.sql.graft.ColumnBridge.expression(a),
      org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  private def cosPre(a: Column, b: Column, na: Column, nb: Column): Column =
    dot64(a, b) / (na * nb)

  /** Exact top-k neighbors for the query subset `vec_id % queryMod == 0`.
    * Output (q_id, nb_id, rank, cos_r). Plan shape: broadcast the small query
    * side against the full corpus — one pass over the big side, no shuffle
    * until the tiny per-query top-k. */
  def bruteTopK(corpus: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    val queries = corpus.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val cands = corpus.select(col("vec_id").as("nb_id"), col("emb").as("nb_emb"),
      col("nrm").as("nb_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("nb_id").asc)
    broadcast(queries).join(cands, col("q_id") =!= col("nb_id"))
      .select(col("q_id"), col("nb_id"),
        round(cosPre(col("q_emb"), col("nb_emb"), col("q_nrm"), col("nb_nrm")), 6).as("cos_r"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Seeded random hyperplanes (deterministic; plan literals). */
  def hyperplanes(bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(Dim)(rng.nextGaussian()))
  }

  /** Sign-LSH bucket key: `bits` hyperplane sign bits. One codegen'd node
    * ([[graft.functions.SignBucketKey]]) — value-identical to the plan-literal
    * `when(dot >= 0, "1").otherwise("0")` concat (the DuckDB oracle's
    * spelled-out form), replacing the ~`bits×Dim`-node tree per table that
    * dominated the LSH ops' planning/codegen time (FunctionsSpec pins the
    * equality, the sim/dd oracle rows pin it end-to-end). */
  def signBucket(emb: Column, planes: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.SignBucketKey(
      org.apache.spark.sql.graft.ColumnBridge.expression(emb), planes))

  /** Multi-table sign-LSH bucket keys: `tables` independent plane sets (seed
    * + t), each key prefixed by its table index. A vector emits `tables`
    * keys; two vectors are candidates when ANY table buckets them together —
    * the standard recall amplifier (P[miss] = Π per-table miss). */
  def lshKeys(corpus: DataFrame, bits: Int, tables: Int, seed: Long): DataFrame =
    (0 until tables).map { t =>
      val planes = hyperplanes(bits, seed + t)
      corpus.select(col("vec_id"),
        concat(lit(s"$t:"), signBucket(col("emb"), planes)).as("bucket"))
    }.reduce(_ unionByName _)

  /** ANN via multi-table sign-LSH: candidate ids are gathered from every
    * table's bucket (deduped id-only — the bucket join never carries the
    * embedding payload), then scored exactly and top-k'd. Recall is gated in
    * OpsSpec against [[bruteTopK]] on a planted-neighbor corpus. */
  def annLsh(corpus: DataFrame, k: Int = 5, queryMod: Int = 50,
      bits: Int = 8, seed: Long = 42L, tables: Int = 4): DataFrame = {
    // pin the bucket keys: both the query side and the candidate side
    // consume `keyed`, and without the checkpoint each consumer re-evaluates
    // the tables×bits×Dim sign-plane expression tree (plus the corpus norm)
    // from the scan — measured ~2× on the ops bench. Id+bucket rows only, so
    // the pinned footprint is tiny at any corpus size.
    val keyed = lshKeys(corpus, bits, tables, seed).localCheckpoint(true)
    val qIds = keyed.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("bucket"))
    val candIds = qIds
      .join(keyed.select(col("vec_id").as("nb_id"), col("bucket")), Seq("bucket"))
      .filter(col("q_id") =!= col("nb_id"))
      .select("q_id", "nb_id").distinct()
    val q = corpus.select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
      col("nrm").as("q_nrm"))
    val c = corpus.select(col("vec_id").as("nb_id"), col("emb").as("nb_emb"),
      col("nrm").as("nb_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("nb_id").asc)
    candIds.join(q, "q_id").join(c, "nb_id")
      .select(col("q_id"), col("nb_id"),
        round(cosPre(col("q_emb"), col("nb_emb"), col("q_nrm"), col("nb_nrm")), 6).as("cos_r"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** ANN via IVF (inverted-file) with a sampled coarse quantizer: `cells`
    * centroids are picked deterministically (md5-order sample of the corpus —
    * the cheap, fully-relational stand-in for k-means; same recall mechanics:
    * cells partition the space, `probes` nearest cells bound the search).
    * Every vector indexes into its `probes` closest cells; a query's
    * candidates are the vectors sharing any probed cell — O(n·cells)
    * assignment + cell-local search, never all-pairs. */
  def annIvf(corpus: DataFrame, k: Int = 5, queryMod: Int = 50,
      cells: Int = 16, probes: Int = 2): DataFrame =
    ivfSearch(corpus, sampledCentroids(corpus, cells), k, queryMod, probes)

  /** Deterministic md5-order centroid sample (the oracle-checked quantizer). */
  def sampledCentroids(corpus: DataFrame, cells: Int): DataFrame =
    corpus.orderBy(md5(col("vec_id").cast("string")))
      .limit(cells)
      .select(col("vec_id").as("cell_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))

  private def ivfSearch(corpus: DataFrame, cents: DataFrame, k: Int,
      queryMod: Int, probes: Int): DataFrame = {
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cell_id").asc)
    val assigned = corpus.select(col("vec_id"), col("emb"), col("nrm"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"),
        col("cell_id"), cosPre(col("emb"), col("c_emb"), col("nrm"), col("c_nrm")).as("sim"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= probes)
      .select(col("vec_id"), col("cell_id"))
    val qIds = assigned.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("cell_id"))
    val candIds = qIds
      .join(assigned.select(col("vec_id").as("nb_id"), col("cell_id")), Seq("cell_id"))
      .filter(col("q_id") =!= col("nb_id"))
      .select("q_id", "nb_id").distinct()
    val q = corpus.select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
      col("nrm").as("q_nrm"))
    val c = corpus.select(col("vec_id").as("nb_id"), col("emb").as("nb_emb"),
      col("nrm").as("nb_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("nb_id").asc)
    candIds.join(q, "q_id").join(c, "nb_id")
      .select(col("q_id"), col("nb_id"),
        round(cosPre(col("q_emb"), col("nb_emb"), col("q_nrm"), col("nb_nrm")), 6).as("cos_r"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs (>= threshold, default 0.99) —
    * bucketed, never all-pairs: candidates come from a multi-table sign-LSH
    * bucket self-join (at cos 0.99 the per-table same-bucket probability is
    * ~0.9, so 4 tables miss ~1e-4 of true pairs), then exact-cosine verify.
    * Shuffles only on bucket keys; the verify joins fetch each embedding by
    * unique id. */
  def embeddingNearDup(corpus: DataFrame, threshold: Double = 0.99,
      bits: Int = 8, seed: Long = 42L, tables: Int = 4): DataFrame = {
    // pin the bucket keys like annLsh does: the self-join consumes `keyed`
    // from both sides, and unpinned each side re-evaluates the
    // tables×bits×Dim sign-plane expression tree from the scan
    val keyed = lshKeys(corpus, bits, tables, seed).localCheckpoint(true)
    val cands = keyed.select(col("bucket"), col("vec_id").as("vec_a"))
      .join(keyed.select(col("bucket"), col("vec_id").as("vec_b")), Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val l = corpus.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"))
    val r = corpus.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"))
    cands.join(l, "vec_a").join(r, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosPre(col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_r"))
  }
}
