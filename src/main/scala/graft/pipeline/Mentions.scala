package graft.pipeline

import java.util.regex.Pattern
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{headKey, mentionId, normSurface}

/** Mention extraction: transcript turns → mention rows (the row-generator of
  * SURVEY.md §2.2). Three candidate generators, union'd + deduped like the
  * reference's three span sources (`CorefDocAssembler.scala:66-132`):
  *
  *  - `identifier`: tokens carrying account-like identifiers
  *    (`Customer#000000007`, `000000007`, `Cust-7`) — pattern-based, fully
  *    SQL-expressible (used by the DuckDB-oracle harness queries).
  *  - `caprun`: maximal runs of capitalized tokens mid-sentence (the NNP-run
  *    generator, `CorefDocAssembler.scala:191-207`).
  *  - `pronoun` + `nominal`: closed-class mentions from small dictionaries
  *    (`PronounDictionary.scala:4-21`; nominal descriptors after a
  *    determiner).
  *
  * The identifier path ([[extractIdentifier]]) is plain SQL over posexploded
  * tokens. The all-generators path ([[extractAll]]) runs every generator
  * and the three dedup rules in one pass per turn ([[turnMentions]]); the
  * relational formulation it replaced is kept as the reference in
  * MentionKernelSpec, and `ErOracle.mentionsAllSql` is its DuckDB mirror.
  *
  * Mention identity is positional and deterministic: `mention_id =
  * conv_id#<turn,6><start,6>` sorts lexicographically in the reference's
  * canonical mention order within a conversation
  * (`CorefDocAssembler.scala:473-475`); `m_seq` is the dense per-conversation
  * index assigned by a window, never `monotonically_increasing_id`
  * (SURVEY.md §1.2).
  */
object Mentions {

  /** Third-person anaphoric pronouns (the closed class that links to an
    * in-conversation antecedent; deictic we/you/I are not anaphora in this
    * engine — the reference handles those via speaker features instead,
    * `PairwiseIndexingFeaturizerJoint.scala:220-234`). */
  val Pronouns: Seq[String] =
    Seq("they", "it", "he", "she", "them", "him", "her")
  val NominalHeads: Seq[String] =
    Seq("vendor", "company", "client", "supplier", "firm", "organization")
  val IdentifierRe = "^(?:[A-Za-z]+[#-])?[0-9]+$"

  /** Identifier + pronoun mentions (single-token; harness path). */
  def extractIdentifier(transcripts: DataFrame): DataFrame =
    finish(identifierCandidates(transcripts))

  /** Every identifier or pronoun token as a candidate; stateless, so the
    * stream extracts with it too. */
  def identifierCandidates(transcripts: DataFrame): DataFrame =
    transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"), col("ts"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok").rlike(IdentifierRe) || lower(col("tok")).isin(Pronouns: _*))
      .select(col("conv_id"), col("turn_idx"), col("pos").as("start"),
        col("pos").as("end"), col("tok").as("surface"),
        when(lower(col("tok")).isin(Pronouns: _*), "PRONOMINAL")
          .otherwise("PROPER").as("mtype"),
        col("role"), col("ts"))

  /** All three generators union'd (fixture/ER path): capitalized runs,
    * pronouns, determiner+nominal. Sentence-initial capitalized tokens are
    * only kept if they look like identifiers or pronouns (avoids treating
    * every sentence opener as a name). Every rule is local to one turn, so
    * the candidates come from ONE pass of [[turnMentions]] per turn (a
    * generator, [[graft.functions.TurnMentions]]) instead of posexploded
    * legs, an aggregate and turn-keyed windows; [[finish]] then adds the
    * properties, `m_seq` and `mention_id`. */
  def extractAll(transcripts: DataFrame): DataFrame = {
    // the union of the per-generator legs this replaces took role/ts from
    // `first` (nullable) — keep that schema whatever the input's nullability
    def nullable(c: String) = graft.functions.knownNullable(col(c)).as(c)
    val cands = transcripts
      .select(col("conv_id"), col("turn_idx"), nullable("role"), nullable("ts"),
        graft.functions.turnMentions(col("text")).as(Seq("start", "end", "surface", "mtype")))
      .select(col("conv_id"), col("turn_idx"), col("start"), col("end"),
        col("surface"), col("mtype"), col("role"), col("ts"))
    finish(cands)
  }

  private val CapRe = Pattern.compile("^[A-Z0-9][A-Za-z0-9#-]*$")
  private val IdentifierPattern = Pattern.compile(IdentifierRe)
  private val PronounSet = Pronouns.toSet
  private val NominalHeadSet = NominalHeads.toSet
  private val Determiners = Set("the", "that", "this")

  /** The mentions of one turn's text as `(start, end, surface, mtype)`, in
    * start order; none for a null text. Tokens are `split(text, " ", -1)`
    * and positions index them, as Spark's `split` + `posexplode` do; the
    * patterns match with `find()`, as `rlike` does (so a token's trailing
    * `\n` passes a `$`-anchored pattern); lowercasing only feeds membership
    * in the ASCII word lists. Candidates:
    *  - `PROPER`: maximal runs of capitalized non-pronoun tokens, a
    *    sentence-initial token only when it is an identifier;
    *  - `PRONOMINAL`: each pronoun;
    *  - `NOMINAL`: a nominal head after the/that/this, surfaced as the
    *    lowercased determiner + the head.
    * Then, in this order: A15 one mention per extent (smallest mtype); M2
    * (`CorefDocAssembler.scala:157-189`) per end position — the parse-free
    * head — only the longest span (smallest start, then mtype); id safety
    * (`mention_id` is `(turn, start)`-derived) per start only the longest
    * span (largest end, then mtype). */
  def turnMentions(text: String): Seq[(Int, Int, String, String)] =
    if (text == null) Nil
    else {
      val toks = text.split(" ", -1)
      val low = toks.map(_.toLowerCase(java.util.Locale.ROOT))
      def isCap(i: Int) = CapRe.matcher(toks(i)).find() && !PronounSet(low(i)) &&
        (i > 0 || IdentifierPattern.matcher(toks(i)).find())
      val cands = Seq.newBuilder[(Int, Int, String, String)]
      var i = 0
      while (i < toks.length) {
        if (isCap(i)) {
          val s = i
          while (i + 1 < toks.length && isCap(i + 1)) i += 1
          cands += ((s, i, toks.slice(s, i + 1).mkString(" "), "PROPER"))
        }
        i += 1
      }
      for (i <- toks.indices) {
        if (PronounSet(low(i))) cands += ((i, i, toks(i), "PRONOMINAL"))
        if (i > 0 && NominalHeadSet(low(i)) && Determiners(low(i - 1)))
          cands += ((i - 1, i, low(i - 1) + " " + toks(i), "NOMINAL"))
      }
      val extents = cands.result().groupBy(m => (m._1, m._2)).values.map(_.minBy(_._4))
      val maximal = extents.groupBy(_._2).values.map(_.minBy(m => (m._1, m._4)))
      maximal.groupBy(_._1).values.map(_.minBy(m => (-m._2, m._4))).toSeq.sortBy(_._1)
    }

  /** Shared property computation + canonical ids (M3/M5/W1). */
  private[graft] def finish(cands: DataFrame): DataFrame = {
    val wConv = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx"), col("start"), col("end"))
    properties(cands)
      .withColumn("m_seq", (row_number().over(wConv) - 1).cast("int"))
      .withColumn("mention_id",
        mentionId(col("conv_id"), col("turn_idx"), col("start")))
  }

  /** The M5 property columns alone (no window, no ids) — shared verbatim by
    * the batch [[finish]] and the streaming mention enrichment
    * ([[graft.streaming.StreamingAssembly.enrichMentions]]) so the two
    * paths cannot drift. Stateless: safe on a streaming DataFrame. */
  private[graft] def properties(cands: DataFrame): DataFrame = {
    cands
      .withColumn("norm", normSurface(col("surface")))
      .withColumn("head_tok",
        element_at(split(col("norm"), " "), -1))
      .withColumn("head_key", headKey(col("head_tok")))
      .withColumn("toks", split(col("norm"), " "))
      .withColumn("closed_class", col("mtype").isin("PRONOMINAL", "NOMINAL"))
      // M5 number/gender (UNKNOWN-safe, `NumberGenderComputer.scala:27-78`,
      // `Mention.scala:288-305`): pronouns by dictionary, nominals by plural
      // morphology; PROPER identifiers reveal neither → unknown (agreement
      // features never fire against unknown, mirroring the reference's
      // UNKNOWN semantics)
      .withColumn("number",
        when(col("mtype") === "PRONOMINAL",
          when(col("norm").isin("they", "them"), "plural").otherwise("singular"))
          .when(col("mtype") === "NOMINAL",
            when(col("norm").endsWith("s"), "plural").otherwise("singular"))
          .otherwise("unknown"))
      .withColumn("gender",
        when(col("norm").isin("he", "him"), "male")
          .when(col("norm").isin("she", "her"), "female")
          .when(col("mtype") === "PRONOMINAL", "neutral")
          .otherwise("unknown"))
      // F6 person sets — always "third" for this engine's anaphoric closed
      // class (deictic 1st/2nd person are excluded by design, see Pronouns)
      .withColumn("person",
        when(col("mtype") === "PRONOMINAL",
          graft.functions.pronounPerson(col("norm"))).otherwise("unknown"))
  }
}
