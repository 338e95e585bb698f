package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level function library of the engine. Everything here is either a
  * built-in composition (codegen'd by Catalyst for free) or one of the two
  * custom expressions ([[graft.functions.JaroWinkler]],
  * [[graft.functions.TokenJaccard]]) registered by [[functions.register]].
  */
package object functions {

  /** Register the custom expressions with a session's function registry so
    * they are usable from SQL and via `call_function`. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "jaro_winkler", exprs => JaroWinkler(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "token_jaccard", exprs => TokenJaccard(exprs(0), exprs(1)), "scala_udf")
  }

  def jaro_winkler(a: Column, b: Column): Column = call_function("jaro_winkler", a, b)
  def token_jaccard(a: Column, b: Column): Column = call_function("token_jaccard", a, b)

  /** Whitespace tokenization of a turn text (F13: transcripts arrive as
    * pre-segmented turns, so the PTB tokenizer of the reference reduces to a
    * split — `/root/reference/.../preprocess/Tokenizer.scala:11-69`). */
  def tokens(text: Column): Column = split(text, " ")

  /** A turn text's mentions, one generated row `(start, end, surface,
    * mtype)` each ([[TurnMentions]]); use in a `select` with
    * `.as(Seq(...))`. */
  def turnMentions(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      TurnMentions(org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** `c` with its nullability widened to nullable, value unchanged. */
  def knownNullable(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.KnownNullable(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Lowercased normalized form of a mention surface (F1 analog:
    * `/root/reference/.../coref/Mention.scala:32-51`). */
  def normSurface(s: Column): Column = lower(trim(s))

  /** Canonical entity head key of a surface token: the digit run with leading
    * zeros stripped when present (so `Customer#000000007`, `000000007` and
    * `Cust-7` agree on `7`), else the lowercased token. Deterministic
    * parse-free head rule (M4' in SURVEY.md §2.2). */
  def headKey(s: Column): Column = {
    val digits = regexp_extract(s, "([0-9]+)", 1)
    val stripped = regexp_replace(digits, "^0+", "")
    when(digits =!= "", when(stripped === "", "0").otherwise(stripped))
      .otherwise(lower(s))
  }

  /** Width of the positional suffix of a mention id: `#` + 6-digit turn_idx +
    * 6-digit start. Width 6 (not 4) so 100k-turn conversations / very long
    * turns can't silently collide ids or break the lexicographic-order
    * invariant (mention_id order == (turn_idx, start) order) that decode
    * tie-breaks and CC root selection rely on. */
  val MentionIdSuffixLen: Int = 13

  /** Canonical mention id: `conv_id#<turn_idx,6><start,6>` — sorts
    * lexicographically in the reference's canonical mention order within a
    * conversation (`/root/reference/.../coref/CorefDocAssembler.scala:473-475`). */
  def mentionId(convId: Column, turnIdx: Column, start: Column): Column =
    concat(convId, lit("#"),
      lpad(turnIdx.cast("string"), 6, "0"),
      lpad(start.cast("string"), 6, "0"))

  /** Inverse of [[mentionId]]'s conv component: strip the fixed-width
    * positional suffix. Robust to `#` inside conv_id (unlike substring_index). */
  def convOfMentionId(id: Column): Column =
    id.substr(lit(1), length(id) - lit(MentionIdSuffixLen))

  /** Word shape, run-length compressed (F2 analog:
    * `/root/reference/.../ner/NerFeaturizer.scala:171-188`): uppercase→X,
    * lowercase→x, digit→d, other kept; X/x/d runs >2 collapse to two chars +
    * an 'e' marker. Per-class `{3,}` quantifiers instead of a backreference,
    * so the expression is RE2-portable (the DuckDB oracle runs it too). */
  def wordShapePortable(s: Column): Column = {
    val mapped = regexp_replace(regexp_replace(regexp_replace(s,
      "[A-Z]", "X"), "[a-z]", "x"), "[0-9]", "d")
    regexp_replace(regexp_replace(regexp_replace(mapped,
      "X{3,}", "XXe"), "x{3,}", "xxe"), "d{3,}", "dde")
  }

  /** Word class (F3 analog: `ner/NerFeaturizer.scala:189-245`). */
  def wordClass(s: Column): Column =
    when(s.rlike("^[A-Z][a-z]"), "INITC")
      .when(s.rlike("^[A-Z]+$"), "CAPS")
      .when(s.rlike("^[a-z]+$"), "LC")
      .when(s.rlike("^[0-9]+$"), "NUM")
      .when(s.rlike("-"), "DASH")
      .otherwise("OTHER")

  /** Character k-shingles of a string (B4 input). */
  def charShingles(s: Column, k: Int): Column =
    when(length(s) < k, array(s)).otherwise(
      transform(sequence(lit(1), length(s) - (k - 1)), i => s.substr(i, lit(k))))

  /** MinHash signature over shingles using `numHashes` seeded xxhash64 draws
    * (SURVEY.md §7.3: built-ins only — `min` over `xxhash64(seed, shingle)`).
    * Deterministic; stays fully inside codegen. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(shingles, sh => xxhash64(lit(seed), sh)))
    }: _*)

  /** LSH band keys from a minhash signature: `bands` keys, each hashing
    * `rowsPerBand` consecutive signature entries. Output: array<string>
    * `b<i>:<hash>`. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1))
      concat_ws(":", lit(s"b$b") +: parts.map(_.cast("string")): _*)
    }: _*)

  /** One minhash slot (seeded min over shingle hashes), engine ("xxhash64")
    * or oracle-portable ("md5") implementation. Slot `seed` here equals
    * signature element `seed+1` of [[minhashSignature]]. */
  def minhashOne(shingles: Column, seed: Int, impl: String): Column =
    if (impl == "md5")
      array_min(transform(shingles, sh => md5(concat(lit(s"$seed:"), sh))))
    else array_min(transform(shingles, sh => xxhash64(lit(seed), sh)))

  /** LSH band keys computed DIRECTLY from the shingle column — one minhash
    * evaluation per signature slot (`bands*rowsPerBand` total), bypassing the
    * intermediate signature array. Value-identical to
    * `lshBandKeys(minhashSignature*(shingles, n), bands, rowsPerBand)`, but
    * immune to the projection-collapse blowup: when the signature array is a
    * projected column consumed by `element_at` references, Catalyst's
    * CollapseProject can inline the whole array expression into EVERY
    * reference — `bands*rowsPerBand` copies of an `n`-minhash computation
    * (observed 8x wall-clock on the dedup band stage). Here every minhash
    * subexpression appears exactly once, so there is nothing to duplicate. */
  def lshBandKeysDirect(shingles: Column, bands: Int, rowsPerBand: Int,
      impl: String): Column =
    if (impl == "xxhash64")
      // engine fast path: ONE codegen'd traversal computing every band's
      // minhash slots at once ([[LshBandKeysXx]]) — value-identical to the
      // per-slot `array_min(transform(...))` built-ins below (FunctionsSpec
      // pins it), without `bands×rowsPerBand` interpreted lambdas per row.
      // The md5 variant stays on the built-ins: it exists for DuckDB
      // portability, not speed, and the oracle-checked queries use it.
      org.apache.spark.sql.graft.ColumnBridge.column(LshBandKeysXx(
        org.apache.spark.sql.graft.ColumnBridge.expression(shingles),
        bands, rowsPerBand))
    else
      array((0 until bands).map { b =>
        val parts = (0 until rowsPerBand)
          .map(r => minhashOne(shingles, b * rowsPerBand + r, impl))
        concat_ws(":", lit(s"b$b") +: parts.map(_.cast("string")): _*)
      }: _*)

  /** SimHash (64-bit) from a pre-materialized array of 64-bit token hashes:
    * for each bit b, sign-sum over tokens > 0 sets the bit. One codegen'd
    * traversal ([[Simhash64]]) — value-identical to the 64 per-bit
    * `aggregate` folds OR'd together (FunctionsSpec pins it), without the
    * 64 interpreted lambdas per row or their plan/compile cost. */
  def simhash64FromHashes(hashed: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      Simhash64(org.apache.spark.sql.graft.ColumnBridge.expression(hashed)))

  /** SimHash (64-bit) over string tokens — convenience for small inputs; for
    * datasets, materialize `transform(tokens, xxhash64)` into a column first
    * and use [[simhash64FromHashes]]. */
  def simhash64(tokens: Column): Column =
    simhash64FromHashes(transform(tokens, t => xxhash64(t)))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** F6 pronoun canonicalization (`PronounDictionary.scala:4-21`
    * `canonicalize`): map case/inflection variants to one canonical pronoun
    * per (person, number, gender) cell. */
  def pronounCanonical(norm: Column): Column =
    when(norm.isin("they", "them", "their", "theirs"), "they")
      .when(norm.isin("he", "him", "his"), "he")
      .when(norm.isin("she", "her", "hers"), "she")
      .when(norm.isin("it", "its"), "it")
      .when(norm.isin("i", "me", "my", "mine"), "i")
      .when(norm.isin("we", "us", "our", "ours"), "we")
      .when(norm.isin("you", "your", "yours"), "you")
      .otherwise(norm)

  /** F6 person sets (`PronounDictionary` first/second/third partitions):
    * grammatical person of a pronoun, "unknown" for non-pronouns. The
    * engine's anaphoric closed class is third-person-only by design (deictic
    * I/we/you are speaker-feature territory, see
    * [[graft.pipeline.Mentions.Pronouns]]), so pairwise person-clash
    * features are degenerate here — the sets exist for the speaker-feature
    * seam and any caller that widens the closed class. */
  def pronounPerson(norm: Column): Column =
    when(norm.isin("i", "me", "my", "mine", "we", "us", "our", "ours"), "first")
      .when(norm.isin("you", "your", "yours"), "second")
      .when(norm.isin("they", "them", "their", "theirs", "he", "him", "his",
        "she", "her", "hers", "it", "its"), "third")
      .otherwise("unknown")

  /** F7 definiteness (`PairwiseIndexingFeaturizerJoint.scala:540-549`):
    * classify a normalized surface by its leading determiner. */
  def definiteness(norm: Column): Column =
    when(norm.rlike("^(the|that|this|these|those) "), "definite")
      .when(norm.rlike("^(a|an) "), "indefinite")
      .otherwise("bare")

  /** F8 iWi containment (`Mention.scala:228-231`): one mention's extent
    * nested inside the other's, within the same turn — nested mentions are
    * (almost) never coreferent. */
  def iWiContainment(turnA: Column, startA: Column, endA: Column,
      turnB: Column, startB: Column, endB: Column): Column =
    turnA === turnB &&
      ((startA >= startB && endA <= endB) || (startB >= startA && endB <= endA)) &&
      !(startA === startB && endA === endB)

  /** F10 fancy head containment (`sem/FancyHeadMatcher.scala:127-150`): one
    * mention's head token appears anywhere in the other's token list. */
  def fancyHeadContainment(headA: Column, toksB: Column): Column =
    array_contains(toksB, headA)

  /** Concatenated first letters of a token array
    * (`sem/AbbreviationHandler.scala:7-66`). ONE definition shared by the
    * acronym blocking key (B5), the sparse `ab=` template input, and the
    * dense f_abbrev feature: the blocking-side acronym key recalls exactly
    * the pairs the scorers reward only while all three agree, so they must
    * not be able to drift apart. */
  def initials(toks: Column): Column =
    array_join(transform(toks, t => substring(t, 1, 1)), "")

  /** F11 semantic class — scoped dictionary heuristic (the reference uses
    * WordNet synset walks, `sem/SemClass.scala:15-81`; no WordNet exists in
    * this environment, so the class comes from surface morphology + the
    * closed dictionaries the engine already carries). */
  def semClass(tok: Column): Column = {
    val lc = lower(tok)
    when(lc.rlike("^[0-9]+$") || lc.rlike("^[a-z]+[#-][0-9]+$"), "IDENT")
      .when(lc.isin(graft.pipeline.Mentions.Pronouns: _*), "PRON")
      .when(lc.isin(graft.pipeline.Mentions.NominalHeads: _*), "ORG")
      .when(lc.rlike("(corp|systems|labs|holdings|partners|group|works|networks|industries|dynamics|solutions|ventures)$"), "ORG")
      .otherwise("OTHER")
  }

  /** Bounded driver fetch: at most `n` rows of `df`, and at most `n` rows
    * ever reach the driver. `limit(n)` keeps n rows per partition and one
    * single-partition exchange cuts them to n before the collect — one
    * derivation of `df`, whatever its size. `df.take(n)` is either up to
    * ~log4(partitions) sequential jobs (`spark.sql.limit.initialNumPartitions`
    * escalation) or, scanning every partition in one job, ships up to n rows
    * PER PARTITION to the driver: on an over-bound input that is the very
    * driver memory the bound exists to cap. Callers pass their bound + 1, so
    * a full result means "over the bound". */
  def fetchBounded(df: DataFrame, n: Int): Array[org.apache.spark.sql.Row] =
    df.limit(n).rdd.collect()
}
