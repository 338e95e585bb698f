package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** Blocking ≡ candidate generation (SURVEY.md §2.4), two-level:
  *
  * **Surface level (global / cross-conversation).** Transcript mentions repeat
  * the same surface massively (10^12 turns ↦ ~10^6 distinct surfaces), so all
  * global blocking and string-similarity work happens once per *distinct
  * normalized surface*: [[surfaceTable]] aggregates mentions to surfaces;
  * [[surfacePairs]] self-joins surface block keys (head / sorted-neighborhood
  * prefix / first-token / acronym / MinHash-LSH bands). Downstream, only
  * surface pairs that *score* above the link threshold are expanded back to
  * mention pairs (Pipeline) — the reference's coarse-to-fine pruning
  * (`CorefPruner.scala:36-47`) as an aggregation pushdown: cost is quadratic
  * in surfaces, linear in mentions.
  *
  * **Mention level (conversation band, B1).** All (ant, cur) with
  * `0 < cur.m_seq − ant.m_seq ≤ maxConvDist` within a conversation
  * (`DocumentGraph.scala:91-102`), from one sweep per conversation
  * ([[bandSweep]]): O(mentions × maxConvDist) work, one conversation per
  * task group, so a long conversation costs its length, not its square
  * (one very long conversation still lands on one task). Closed-class
  * mentions (pronouns/nominals) pair only here.
  *
  * Skew control: per-key surface counts are capped (`maxBlockSize`); the
  * oversize audit is [[blockStats]] (manifest counters / B7).
  */
object Blocking {

  case class Config(
      maxConvDist: Int = 30,
      snkPrefixLen: Int = 6,
      shingleK: Int = 3,
      minhashes: Int = 12,
      bands: Int = 6, // 6 bands x 2 rows: catches 2-edit typos w.p. ~0.93
      maxBlockSize: Int = 300, // max surfaces per block key
      maxBlockMass: Int = 2000, // max Σ mentions per block key (expansion cap)
      enableLsh: Boolean = true,
      /** "xxhash64" (fast engine path) | "md5" (portable, DuckDB-reproducible
        * — used by the oracle-checked harness queries). */
      minhashImpl: String = "xxhash64",
      /** Salt fan-out S for heavy-surface mention expansion / chaining. */
      expansionSalt: Int = 8,
      /** Surfaces with more mentions than this get salted into S deterministic
        * buckets (first md5 nibble of the mention id — see [[saltOf]]; a
        * positional salt would degenerate on fixed-position surfaces)
        * wherever their mention set is joined or windowed. */
      saltThreshold: Int = 64,
      /** Eval-universe cap: surfaces above this mention count do not emit
        * their same-surface clique into the candidate universe (audited —
        * at that size the clique is quadratic even for evaluation; sample or
        * raise deliberately). */
      maxSelfMentions: Int = 100000)

  /** Distinct open-class surfaces: `(norm, head_key, toks, n_mentions)`.
    * head_key/toks are functions of norm, so `first` is deterministic. */
  def surfaceTable(mentions: DataFrame): DataFrame =
    mentions.filter(!col("closed_class"))
      .groupBy(col("norm"))
      .agg(count(lit(1)).as("n_mentions"))
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("head_key", headKey(element_at(col("toks"), -1)))

  /** (block_key, norm) for every global blocking key of a surface. */
  def blockKeys(surfaces: DataFrame, cfg: Config = Config()): DataFrame = {
    val base = surfaces.select(col("norm"), col("head_key"))

    val headKeyed = base.select(concat(lit("h:"), col("head_key")).as("block_key"), col("norm"))

    val snk = base.select(
      concat(lit("s:"),
        substring(regexp_replace(col("norm"), "[^a-z0-9]", ""), 1, cfg.snkPrefixLen))
        .as("block_key"),
      col("norm"))

    // first-token key: blocks truncated surfaces ("Acme" vs "Acme Data
    // Systems") that share neither head nor prefix window
    val firstTok = base.select(
      concat(lit("f:"), element_at(split(col("norm"), " "), 1)).as("block_key"),
      col("norm"))

    // acronym key: initials of multi-token surfaces; short single tokens are
    // candidate acronyms of themselves ("ADS" ↔ "Acme Data Systems") — the
    // blocking-side analog of the reference's abbreviation feature
    // (`sem/AbbreviationHandler.scala:7-66`)
    val initials = graft.functions.initials(split(col("norm"), " "))
    val acronym = base
      .withColumn("acro",
        when(size(split(col("norm"), " ")) > 1, initials)
          .when(length(col("norm")) <= 5, col("norm")))
      .filter(col("acro").isNotNull && length(col("acro")) > 1)
      .select(concat(lit("a:"), col("acro")).as("block_key"), col("norm"))

    val exact = headKeyed.unionByName(snk).unionByName(firstTok).unionByName(acronym)
    if (!cfg.enableLsh) exact
    else {
      // band keys straight from the shingles (no intermediate sig array —
      // CollapseProject would inline the full signature into every
      // element_at reference, re-minhashing bands*rows times per surface)
      val lsh = base
        .select(explode(lshBandKeysDirect(charShingles(col("norm"), cfg.shingleK),
          cfg.bands, cfg.minhashes / cfg.bands, cfg.minhashImpl))
          .as("block_key"), col("norm"))
        .withColumn("block_key", concat(lit("l:"), col("block_key")))
      exact.unionByName(lsh)
    }
  }

  /** Per-key surface counts + mention mass + oversize (skew-cap) flags — the
    * pruning-stats audit (B7 analog, `DocumentGraph.scala:117-142`) and the
    * skew monitor. A key is oversize when it has too many surfaces (quadratic
    * surface-pair work) OR too much mention mass (quadratic expansion). */
  def blockStats(keys: DataFrame, surfaces: DataFrame,
      cfg: Config = Config()): DataFrame =
    keys.join(surfaces.select(col("norm"), col("n_mentions")), "norm")
      .groupBy(col("block_key"))
      .agg(count(lit(1)).as("n_surfaces"), sum(col("n_mentions")).as("mention_mass"))
      .withColumn("oversize",
        col("n_surfaces") > cfg.maxBlockSize || col("mention_mass") > cfg.maxBlockMass)

  /** Candidate *surface* pairs `(norm_a, norm_b, block_key)`, `norm_a <
    * norm_b`, deduped across keys, oversize keys dropped (audited — the gate
    * semantics are exactly [[blockStats]]' `oversize`, which stays the
    * audit-query face).
    *
    * Plan shape (r06): the per-key size gate is a WINDOW over `block_key`
    * instead of the old aggregate-then-join-back — one `block_key`
    * partitioning serves the gate AND both sides of the self-join (the
    * window's exchange+sort is planned once and reused; the join adds no
    * exchange because both children already hash-cluster and sort on
    * `block_key`). Replaces the keys cache + stats join + hinted self-join:
    * 3 exchanges and a cache round-trip fewer per call, and the minhash
    * band keys are still computed exactly once per surface. */
  def surfacePairs(surfaces: DataFrame, cfg: Config = Config()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = blockKeys(surfaces, cfg)
      .join(surfaces.select(col("norm"), col("n_mentions")), "norm")
    val w = Window.partitionBy(col("block_key"))
    val sized = keys
      .withColumn("n_surfaces", count(lit(1)).over(w))
      .withColumn("mention_mass", sum(col("n_mentions")).over(w))
      .filter(!(col("n_surfaces") > cfg.maxBlockSize ||
        col("mention_mass") > cfg.maxBlockMass))
      .select(col("block_key"), col("norm"))
    val left = sized.select(col("block_key"), col("norm").as("norm_a"))
    val right = sized.select(col("block_key"), col("norm").as("norm_b"))
    left.join(right, Seq("block_key"))
      .filter(col("norm_a") < col("norm_b"))
      .groupBy(col("norm_a"), col("norm_b"))
      .agg(min(col("block_key")).as("block_key"))
      .localCheckpoint(true)
  }

  /** B1 over one conversation (`DocumentGraph.scala:91-102`): each mention
    * of `arrivals` (in `seq` order) pairs, as `(ant, cur)`, with every
    * `carried` (an earlier sweep's window) or earlier arrival `ant` with `0 <
    * seq(cur) − seq(ant) ≤ maxConvDist`. The window is trimmed by `seq`
    * value: O(mentions × maxConvDist) work. Batch ([[convBandPairsAttr]])
    * and stream ([[graft.streaming.StreamingAssembly.streamingBandPairs]])
    * both run it. */
  def bandSweep[M](carried: Seq[M], arrivals: Iterator[M], maxConvDist: Int)(
      seq: M => Int): Iterator[(M, M)] = {
    val window = scala.collection.mutable.ArrayDeque.from(carried)
    arrivals.flatMap { cur =>
      val s = seq(cur)
      while (window.nonEmpty && s - seq(window.head) > maxConvDist) window.removeHead()
      val pairs = window.iterator.filter(a => seq(a) < s).map((_, cur)).toVector
      window += cur
      pairs
    }
  }

  /** B1 band pairs `(ant_id, <attrs>_a, cur_id, <attrs>_c, block_key)` with
    * both mentions' scoring attributes in the input's types: [[bandSweep]]
    * per `conv_id` group sorted by `m_seq`. Over `Pipeline.run`'s mentions
    * (spread by `conv_id`) this only sorts; other inputs shuffle once. */
  def convBandPairsAttr(mentions: DataFrame, cfg: Config = Config()): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val attrs = mentions.select(
      col("mention_id"), col("conv_id"), col("m_seq"), col("norm"),
      col("head_key"), col("toks"), col("mtype"), col("closed_class"),
      col("role"), col("number"), col("gender"))
    def side(id: String, suffix: String) = attrs.schema.map(f =>
      f.copy(name = if (f.name == "mention_id") id else f.name + suffix))
    val out = StructType(side("ant_id", "_a") ++ side("cur_id", "_c") :+
      StructField("block_key", StringType, nullable = false))
    val mSeq = attrs.schema.fieldIndex("m_seq")
    attrs.groupBy(col("conv_id")).as[String, Row](Encoders.STRING, Encoders.row(attrs.schema))
      .flatMapSortedGroups(col("m_seq")) { (_, ms) =>
        bandSweep(Nil, ms, cfg.maxConvDist)(_.getInt(mSeq)).map { case (a, c) =>
          Row.fromSeq(a.toSeq ++ c.toSeq :+ "conv") }
      }(Encoders.row(out))
      .toDF()
  }

  /** Per-surface open-class mention counts `(norm, n_mentions)` — the skew
    * statistic every expansion path keys its salting decision on. */
  def mentionCounts(mentions: DataFrame): DataFrame =
    mentions.filter(!col("closed_class"))
      .groupBy(col("norm")).agg(count(lit(1)).as("n_mentions"))

  /** Deterministic, DuckDB-portable salt bucket for a mention of a surface
    * with `n` mentions: heavy surfaces bucket on the first md5 nibble of the
    * mention id — uniform for ANY mention pattern (a positional salt like
    * `m_seq % S` degenerates when a surface always appears at the same turn
    * position, e.g. a turn-0 greeting template). */
  private def saltOf(n: Column, id: Column, cfg: Config): Column =
    when(n > cfg.saltThreshold,
      pmod(call_function("instr", lit("0123456789abcdef"),
        substring(md5(id.cast("binary")), 1, 1)) - 1, lit(cfg.expansionSalt)))
      .otherwise(0).cast("int")

  /** Same-surface spanning chains — the implicit self-link of every repeated
    * surface (two mentions with an identical normalized surface are candidate
    * coreferent wherever they occur; without this leg, single-surface
    * entities can never merge across conversations). For transitive
    * clustering a spanning tree suffices, so this emits `n-1` *chain* edges
    * per surface (consecutive mentions in mention_id order), not the `n²/2`
    * clique: linear in mentions, no skew. Heavy surfaces are bucketed on the
    * md5-nibble salt ([[saltOf]]) and chained two-level — within each bucket, plus a chain
    * over the bucket minima — so no single task ever sorts more than ~n/S
    * rows of one surface. In-band pairs are excluded BY DEFAULT: the
    * conversation band already scores them, with a strictly higher score
    * under the DENSE model (same features + dist_decay ≥ 0), so connectivity
    * is preserved. That argument does NOT hold for a trained sparse model
    * (its `&t=`/`&tt=` conjunction weights can be negative, so a band pair
    * could score below the link threshold where the chain's surface
    * self-score would have linked) — sparse callers pass
    * `keepInBand = true`: the in-band chain edge rides along at the surface
    * self-score and the decode's per-mention argmax simply sees one more arc
    * for the pair, so connectivity never depends on trained band weights.
    * Output: `(ant_id, cur_id, norm)` with `ant_id < cur_id`. */
  def sameSurfaceChainPairs(mentions: DataFrame, cfg: Config = Config(),
      counts: Option[DataFrame] = None, keepInBand: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = mentions.filter(!col("closed_class"))
      .join(counts.getOrElse(mentionCounts(mentions))
        .select(col("norm"), col("n_mentions")), "norm")
      .filter(col("n_mentions") >= 2)
      .select(col("norm"), col("mention_id"), col("conv_id"), col("m_seq"),
        saltOf(col("n_mentions"), col("mention_id"), cfg).as("salt"))
    val wBucket = Window.partitionBy(col("norm"), col("salt")).orderBy(col("mention_id"))
    val leg1 = src
      .select(col("norm"),
        lag(col("mention_id"), 1).over(wBucket).as("ant_id"),
        col("mention_id").as("cur_id"),
        lag(col("conv_id"), 1).over(wBucket).as("conv_a"),
        col("conv_id").as("conv_c"),
        lag(col("m_seq"), 1).over(wBucket).as("seq_a"),
        col("m_seq").as("seq_c"))
    // bucket minimum with its conv/seq attributes in ONE aggregation
    // (min_by on mention_id) — the old shape re-joined the mention table
    // just to re-fetch two columns the aggregation already saw
    val bucketMin = src.groupBy(col("norm"), col("salt"))
      .agg(min(col("mention_id")).as("mention_id"),
        min_by(struct(col("conv_id"), col("m_seq")), col("mention_id")).as("ba"))
      .select(col("norm"), col("salt"), col("mention_id"),
        col("ba.conv_id").as("conv_id"), col("ba.m_seq").as("m_seq"))
    val wSurface = Window.partitionBy(col("norm")).orderBy(col("mention_id"))
    val leg2 = bucketMin
      .select(col("norm"),
        lag(col("mention_id"), 1).over(wSurface).as("ant_id"),
        col("mention_id").as("cur_id"),
        lag(col("conv_id"), 1).over(wSurface).as("conv_a"),
        col("conv_id").as("conv_c"),
        lag(col("m_seq"), 1).over(wSurface).as("seq_a"),
        col("m_seq").as("seq_c"))
    val chained = leg1.unionByName(leg2).filter(col("ant_id").isNotNull)
    val banded =
      if (keepInBand) chained
      else chained.filter(!(col("conv_a") === col("conv_c") &&
        abs(col("seq_a") - col("seq_c")) <= cfg.maxConvDist))
    banded.select(col("ant_id"), col("cur_id"), col("norm"))
  }

  /** Bridge expansion of *linked* surface pairs: ONE mention-pair edge per
    * linked surface pair — (min mention of `norm_a`) × (min mention of
    * `norm_b`). A single bridge provably yields the same connected components
    * as the full n_a×n_b clique: all same-surface mentions are already
    * connected by [[sameSurfaceChainPairs]], and every clique edge of a
    * linked pair would carry the identical surface-level score (the score is
    * a pure function of the two surfaces). Cost: O(|linked pairs|) instead of
    * O(Σ n_a·n_b) — this is what kills the heavy-surface quadratic at 10^12
    * turns. Joins hit exactly one row per norm: uniform keys, no salt needed.
    *
    * In-band bridges are excluded BY DEFAULT: under the DENSE model the band
    * arc for the same mention pair carries the same surface features plus
    * dist_decay ≥ 0, so if the surface score linked, the band arc links too
    * and the clique-equivalence above is preserved. As with
    * [[sameSurfaceChainPairs]], that dominance argument does NOT survive a
    * trained sparse model (negative `&t=`/`&tt=` conjunction weights can
    * push the band arc below the link threshold where the surface score
    * would have linked, splitting the two surface groups the coarse pass
    * joined) — sparse callers pass `keepInBand = true` so the bridge rides
    * along at the surface score and the decode argmax sees
    * `greatest(band, surface)` for the pair. */
  def bridgePairs(linkedSurfacePairs: DataFrame, mentions: DataFrame,
      cfg: Config = Config(), extraCols: Seq[String] = Nil,
      keepInBand: Boolean = false): DataFrame = {
    // per-surface minimum mention with its conv/seq in ONE aggregation
    // (min_by) — no second pass over the mention table
    val smin = mentions.filter(!col("closed_class"))
      .groupBy(col("norm"))
      .agg(min(col("mention_id")).as("mention_id"),
        min_by(struct(col("conv_id"), col("m_seq")), col("mention_id")).as("ba"))
      .select(col("norm"), col("mention_id"),
        col("ba.conv_id").as("conv_id"), col("ba.m_seq").as("m_seq"))
    val a = smin.toDF("norm_a", "id_a", "conv_a", "seq_a")
    val b = smin.toDF("norm_b", "id_b", "conv_b", "seq_b")
    val joined = linkedSurfacePairs.join(a, "norm_a").join(b, "norm_b")
    val banded =
      if (keepInBand) joined
      else joined.filter(!(col("conv_a") === col("conv_b") &&
        abs(col("seq_a") - col("seq_b")) <= cfg.maxConvDist))
    banded
      .select(Seq(least(col("id_a"), col("id_b")).as("ant_id"),
        greatest(col("id_a"), col("id_b")).as("cur_id"),
        col("block_key")) ++ extraCols.map(col): _*)
  }

  /** Expand surface pairs to ALL mention pairs (canonical `ant_id < cur_id`),
    * excluding pairs already covered by the conversation band. This is the
    * full n_a×n_b expansion — used by the *evaluation* universe (B7 /
    * "labeled pairs sharing a blocking key"); the execution path uses
    * [[bridgePairs]]+[[sameSurfaceChainPairs]] instead. Runs as the north
    * rule's salted, skew-aware shuffle-hash join: a surface above
    * `saltThreshold` mentions has its mention side split into
    * `expansionSalt` deterministic buckets and the pair side replicated
    * across them, so no reducer owns a heavy surface's whole n_a×n_b block.
    * Accepts self pairs (`norm_a == norm_b`, the same-surface clique); self
    * rows (`id_a == id_b`) are dropped. */
  def expandToMentionPairs(surfacePairs: DataFrame, mentions: DataFrame,
      cfg: Config = Config(), extraCols: Seq[String] = Nil): DataFrame = {
    val counts = mentionCounts(mentions)
    val m = mentions.filter(!col("closed_class"))
      .join(counts, "norm")
      .select(col("norm"), col("mention_id"), col("conv_id"), col("m_seq"),
        saltOf(col("n_mentions"), col("mention_id"), cfg).as("salt"))
    val a = m.toDF("norm_a", "id_a", "conv_a", "seq_a", "salt_a")
    val b = m.toDF("norm_b", "id_b", "conv_b", "seq_b", "salt_b")
    def saltsFor(n: Column): Column =
      when(n > cfg.saltThreshold, sequence(lit(0), lit(cfg.expansionSalt - 1)))
        .otherwise(array(lit(0)))
    val p = surfacePairs
      .join(counts.select(col("norm").as("norm_a"), col("n_mentions").as("n_a")), "norm_a")
      .join(counts.select(col("norm").as("norm_b"), col("n_mentions").as("n_b")), "norm_b")
    p.withColumn("salt_a", explode(saltsFor(col("n_a"))))
      .join(a.hint("shuffle_hash"), Seq("norm_a", "salt_a"))
      .withColumn("salt_b", explode(saltsFor(col("n_b"))))
      .join(b.hint("shuffle_hash"), Seq("norm_b", "salt_b"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(!(col("conv_a") === col("conv_b") &&
        abs(col("seq_a") - col("seq_b")) <= cfg.maxConvDist))
      .select(Seq(least(col("id_a"), col("id_b")).as("ant_id"),
        greatest(col("id_a"), col("id_b")).as("cur_id"),
        col("block_key")) ++ extraCols.map(col): _*)
  }

  /** Same-surface self pairs for the eval universe: every surface repeated
    * 2..maxSelfMentions times contributes its clique. Surfaces above the cap
    * are EXCLUDED from the universe — consumers of a recall computed on it
    * (B7) must check [[selfSurfaceOversize]] and surface the dropped mass,
    * or the recall silently reads as complete on a shrunken universe. */
  def selfSurfacePairs(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    mentionCounts(mentions)
      .filter(col("n_mentions") >= 2 && col("n_mentions") <= cfg.maxSelfMentions)
      .select(col("norm").as("norm_a"), col("norm").as("norm_b"),
        lit("x:self").as("block_key"))

  /** Audit of the [[selfSurfacePairs]] cap: surfaces whose same-surface
    * clique was dropped from the eval universe, with their mention mass.
    * Empty in healthy runs; the B7 harness query reports its count. */
  def selfSurfaceOversize(mentions: DataFrame, cfg: Config = Config()): DataFrame =
    mentionCounts(mentions).filter(col("n_mentions") > cfg.maxSelfMentions)

  /** Full candidate mention-pair universe (band ∪ expanded surface blocks ∪
    * same-surface cliques) — the evaluation/B7 universe; the execution path
    * never materializes the unlinked global expansion. */
  def candidatePairs(mentions: DataFrame, cfg: Config = Config()): DataFrame = {
    val global = expandToMentionPairs(
      surfacePairs(surfaceTable(mentions), cfg)
        .unionByName(selfSurfacePairs(mentions, cfg)),
      mentions, cfg)
    convBandPairsAttr(mentions, cfg).select(col("ant_id"), col("cur_id"), col("block_key"))
      .unionByName(global)
      .groupBy(col("ant_id"), col("cur_id"))
      .agg(min(col("block_key")).as("block_key"))
  }
}
