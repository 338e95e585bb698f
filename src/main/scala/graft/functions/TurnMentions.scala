package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** [[graft.pipeline.Mentions.turnMentions]] as a generator: one row
  * `(start, end, surface, mtype)` per mention of a turn's text, none for a
  * null text. `start`, `end` and `surface` are nullable, as they were in
  * the windowed union of generator legs this replaces (min/max aggregates,
  * a concat over a lag), so every downstream schema — `mention_id`'s
  * nullability included — stays the same. */
case class TurnMentions(child: Expression) extends UnaryExpression
    with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = true),
    StructField("end", IntegerType, nullable = true),
    StructField("surface", StringType, nullable = true),
    StructField("mtype", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val text = child.eval(input)
    graft.pipeline.Mentions.turnMentions(if (text == null) null else text.toString)
      .iterator.map { case (start, end, surface, mtype) =>
        InternalRow(start, end, UTF8String.fromString(surface), UTF8String.fromString(mtype))
      }
  }

  override protected def withNewChildInternal(newChild: Expression): TurnMentions =
    copy(child = newChild)
}
