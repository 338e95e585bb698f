package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._

/** Document-level deduplication operators for the training-data pipeline —
  * exact (hash groupBy), MinHash-LSH, n-gram Jaccard banding, SimHash.
  * All shuffle only on content-derived keys (hashes / buckets); no global
  * sorts — each operator scales linearly with one hash-partitioned exchange.
  *
  * The driver corpus has no natural near-duplicates, so the harness queries
  * run over [[corpus]]: documents plus deterministically planted exact and
  * near copies (reproduced identically by the DuckDB oracle SQL).
  */
object Dedup {

  /** documents + planted dups: doc_id%11==0 → exact copy (+2,000,000);
    * doc_id%7==0 → first token dropped (+1,000,000). */
  def corpus(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"))
    val near = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("substring(text, locate(' ', text) + 1)").as("text"))
    val exact = base.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    base.unionByName(near).unionByName(exact)
  }

  /** Exact dedup: md5-hash groupBy; keep-first = min doc_id per group.
    * Map-side partial agg + one exchange on the hash — the canonical
    * billion-row dedup shape. */
  def exact(corpus: DataFrame): DataFrame =
    corpus.groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
      .filter(col("n_docs") > 1)

  /** Word 3-gram shingles of a normalized text. */
  def wordShingles(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val toks = split(lower(text), " ")
    when(size(toks) < 3, array(array_join(toks, " "))).otherwise(
      transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2))))
  }

  /** MinHash-LSH near-dup pairs: shingle → minhash → band → bucket-join →
    * exact-Jaccard verify (threshold). `impl` = "md5" (oracle-portable) or
    * "xxhash64" (engine path). */
  def minhashLsh(corpus: DataFrame, threshold: Double = 0.7,
      minhashes: Int = 12, bands: Int = 6, impl: String = "xxhash64"): DataFrame = {
    val withSh = corpus.select(col("doc_id"), wordShingles(col("text")).as("sh"))
    // band keys straight from the shingle column (lshBandKeysDirect): a
    // projected sig array consumed by element_at gets inlined by
    // CollapseProject into every reference — bands*rows full-signature
    // recomputations per doc (the round-2 bench regression)
    val keyed = withSh
      .select(col("doc_id"), explode(lshBandKeysDirect(col("sh"), bands,
        minhashes / bands, impl)).as("bk"))
    // candidate ids first (dedup across bands), fetch shingles once per pair
    // — at 10^12 scale the band join must not carry the shingle payload
    val cands = keyed.select(col("bk"), col("doc_id").as("doc_a"))
      .join(keyed.select(col("bk"), col("doc_id").as("doc_b")), Seq("bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cands, withSh, threshold)
  }

  /** Exact-Jaccard verify stage shared by the candidate generators. */
  private def verifyJaccard(cands: DataFrame, withSh: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        token_jaccard(col("sh_a"), col("sh_b")).as("jacc"))
      .filter(col("jacc") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jacc"), 6).as("jacc_r"))

  /** N-gram Jaccard near-dup banded on (length-bucket × minhash band). A
    * length bucket alone is a degenerate blocking key — real corpora
    * concentrate lengths, so one 16-char bucket holds O(n) docs and the
    * self-join inside it goes quadratic. Composing each of the doc's two
    * length buckets {b, b+1} with its minhash band keys keeps the
    * length-compatibility semantics while bounding every block to docs that
    * also collide on content. */
  def ngramJaccard(corpus: DataFrame, threshold: Double = 0.7,
      minhashes: Int = 12, bands: Int = 6, impl: String = "xxhash64"): DataFrame = {
    val withSh = corpus.select(col("doc_id"),
      wordShingles(col("text")).as("sh"), length(col("text")).as("len"))
    val keyed = withSh
      .select(col("doc_id"), col("len"),
        explode(lshBandKeysDirect(col("sh"), bands, minhashes / bands, impl)).as("bk"))
      .select(col("doc_id"),
        explode(array(floor(col("len") / 16), floor(col("len") / 16) + 1)).as("bucket"),
        col("bk"))
      .select(col("doc_id"),
        concat(col("bucket").cast("string"), lit("|"), col("bk")).as("key"))
    val cands = keyed.select(col("key"), col("doc_id").as("doc_a"))
      .join(keyed.select(col("key"), col("doc_id").as("doc_b")), Seq("key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(cands, withSh, threshold)
  }

  /** Near-dup canonicalization — the step a production dedup actually ships:
    * connected components over the verified near-dup pairs, canonical doc =
    * component minimum, output `(doc_id, canonical_id)` for every doc that
    * belongs to a non-trivial component (drop-list = rows with
    * `doc_id != canonical_id`). Reuses the clustering layer's components
    * solver ([[graft.pipeline.Clustering.components]]): near-dup graphs
    * after verification are tiny relative to the corpus, so they almost
    * always take the bounded driver union-find (skipping the checkpointed
    * loop's per-iteration action overhead entirely); a graph over
    * `maxEdges` ([[graft.pipeline.Clustering.maxDriverEdges]] by default)
    * falls back to the distributed hash-to-min loop. Ids stay longs end to
    * end; canonical id = component minimum either way (oracle
    * `dd_canonical` pins the equality). */
  def canonicalize(pairs: DataFrame,
      maxEdges: Int = graft.pipeline.Clustering.maxDriverEdges): DataFrame = {
    // pin the verified pair list ONCE: the solver's bounded fetch, the
    // fallback loop and the node derivation each consume it, and without
    // the checkpoint every consumer re-runs the (expensive) upstream
    // candidate+verify chain. The pair list is tiny by construction.
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val nodes = p.select(col("doc_a").as("id"))
      .unionByName(p.select(col("doc_b").as("id"))).distinct()
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    graft.pipeline.Clustering.components(nodes, edges, maxEdges = maxEdges)
      .select(col("mention_id").as("doc_id"), col("cluster_id").as("canonical_id"))
  }

  /** SimHash near-dup: 64-bit simhash over word shingles, 4x16-bit band keys
    * (two docs within Hamming distance 3 share >=1 exact 16-bit band), verify
    * by Hamming <= maxHamming. xxhash64-based (engine path; no SQL oracle). */
  def simhash(corpus: DataFrame, maxHamming: Int = 3): DataFrame = {
    // materialize token hashes once per row; the 64 bit-aggregates then read
    // the array column instead of re-shingling 64x
    val withH = corpus
      .select(col("doc_id"), wordShingles(col("text")).as("sh"))
      .select(col("doc_id"), transform(col("sh"), t => xxhash64(t)).as("hv"))
      .select(col("doc_id"), simhash64FromHashes(col("hv")).as("h"))
    val keyed = withH.select(col("doc_id"), col("h"),
      explode(array((0 until 4).map(b =>
        concat(lit(s"$b:"), shiftright(col("h"), b * 16).bitwiseAND(0xffffL))): _*))
        .as("bk"))
    val l = keyed.select(col("bk"), col("doc_id").as("doc_a"), col("h").as("h_a"))
    val r = keyed.select(col("bk"), col("doc_id").as("doc_b"), col("h").as("h_b"))
    l.join(r, Seq("bk")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(hamming64(col("h_a"), col("h_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Portable (DuckDB-reproducible) SimHash: per-shingle 64-bit hash from the
    * first 16 md5 nibbles, carried as two 32-bit halves (DuckDB BIGINT cannot
    * shift into bit 63). Same banding + verify shape as [[simhash]]; this
    * variant backs the fully-oracled `dd_simhash` harness query while the
    * engine path stays xxhash64. */
  def simhashPortable(corpus: DataFrame, maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.Column
    val hexes = corpus
      .select(col("doc_id"), wordShingles(col("text")).as("sh"))
      .select(col("doc_id"),
        transform(col("sh"), s => md5(s.cast("binary"))).as("hx"))
    val nibs = hexes.select(col("doc_id"),
      transform(col("hx"), h =>
        transform(sequence(lit(1), lit(16)), i =>
          (call_function("instr", lit("0123456789abcdef"),
            call_function("substring", h, i, lit(1))) - 1).cast("int"))).as("nibs"))
    // 32 sign-sum bits per half; nibs is a materialized column reference so
    // the 64 aggregates don't each re-hash the shingles
    def half(offset: Int): Column = (0 until 32).map { b =>
      val nib = (offset + b) / 4 + 1
      val bit = (offset + b) % 4
      val bitSum = aggregate(col("nibs"), lit(0L), (acc, nv) =>
        acc + when(shiftright(element_at(nv, nib).cast("long"), bit)
          .bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val withH = nibs.select(col("doc_id"), half(32).as("h_hi"), half(0).as("h_lo"))
    val keyed = withH.select(col("doc_id"), col("h_hi"), col("h_lo"),
      explode(array(
        concat(lit("0:"), col("h_lo").bitwiseAND(lit(0xffffL)).cast("string")),
        concat(lit("1:"), shiftright(col("h_lo"), 16).bitwiseAND(lit(0xffffL)).cast("string")),
        concat(lit("2:"), col("h_hi").bitwiseAND(lit(0xffffL)).cast("string")),
        concat(lit("3:"), shiftright(col("h_hi"), 16).bitwiseAND(lit(0xffffL)).cast("string"))))
        .as("bk"))
    val l = keyed.select(col("bk"), col("doc_id").as("doc_a"),
      col("h_hi").as("hi_a"), col("h_lo").as("lo_a"))
    val r = keyed.select(col("bk"), col("doc_id").as("doc_b"),
      col("h_hi").as("hi_b"), col("h_lo").as("lo_b"))
    l.join(r, Seq("bk")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
