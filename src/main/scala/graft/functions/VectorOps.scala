package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Vector / hashing kernels behind the r06 compact expressions.
  *
  * Motivation (guide §1.2 step 2 / §7.2): the similarity and LSH operators
  * were built from thousands-of-node Catalyst trees — a 64-term dot product
  * inlined per use, 32 sign-plane dots of 64 terms each, 64 per-bit
  * `aggregate` folds, 12 `array_min(transform(...))` minhash lambdas. At any
  * data size each query invocation pays seconds of analysis + optimization +
  * janino compilation for those trees, and the higher-order functions run
  * interpreted per element. Each kernel below replaces one such tree with a
  * single codegen'd expression whose loop is BIT-IDENTICAL to the
  * left-associated expression chain it replaces (same add order, same
  * null/NaN semantics — FunctionsSpec pins value equality against the
  * original expression-built columns, and the oracle rows of every consumer
  * query pin it end-to-end).
  */
object VecOps {

  /** Left-associated Σ a(i)·b(i) over the first 64 elements — bit-identical
    * to the `element_at(a,1)*element_at(b,1) + …` chain: any null / missing
    * element nulls the whole sum (returns null), NaN propagates through the
    * adds. */
  def dot64(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = graft.ops.Similarity.Dim
    if (a.numElements() < n || b.numElements() < n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Sign-LSH bucket key over one plane set: bit b = '1' iff the
    * left-associated dot of `emb` with plane b is ≥ 0, '0' otherwise —
    * including the null/short-array case, where the original chain's null
    * dot fell through `when(dot >= 0, "1").otherwise("0")` to '0'. A null
    * `emb` column therefore yields the all-zero key, exactly like the
    * original (the caller wraps this non-null result in its own concat). */
  def signBucket(emb: ArrayData, planes: Array[Array[Double]]): UTF8String = {
    val bits = new Array[Byte](planes.length)
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      var bit: Byte = '0'
      if (emb != null && emb.numElements() >= plane.length) {
        var s = 0.0
        var ok = true
        var i = 0
        while (ok && i < plane.length) {
          if (emb.isNullAt(i)) ok = false
          else s += emb.getDouble(i) * plane(i)
          i += 1
        }
        if (ok && s >= 0) bit = '1'
      }
      bits(p) = bit
      p += 1
    }
    UTF8String.fromBytes(bits)
  }

  /** 64-bit SimHash from an array of 64-bit hashes: bit b set iff strictly
    * more elements have bit b set than clear. Bit-identical to the 64
    * `aggregate(...)` sign-sum folds OR'd together — including the
    * null-array case, where every per-bit `when(null > 0, …).otherwise(0)`
    * yielded 0 and the OR therefore 0, and null elements, which the fold's
    * `when(null === 1, 1).otherwise(-1)` counted as −1 on every bit: a null
    * element counts as a 0 hash. */
  def simhash64(hashed: ArrayData): Long = {
    if (hashed == null) return 0L
    val n = hashed.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = if (hashed.isNullAt(i)) 0L else hashed.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** xxhash64 LSH band keys in ONE traversal of the shingle array:
    * `bands` keys, each `"b<i>:<min0>:<min1>…"` over `rowsPerBand` seeded
    * minhash slots. Slot value for seed s = min over shingles of
    * `xxhash64(lit(s), shingle)` = `XXH64.hashUTF8String(sh,
    * XXH64.hashInt(s, 42))` — exactly Spark's `XxHash64` fold. Mirrors the
    * original `concat_ws(":", "b<i>", cast(array_min(transform(…))))`
    * null semantics: a null shingle element hashes to just the seed step
    * (Spark's hash of a null child leaves the accumulator unchanged); a
    * null or empty array makes every slot null and `concat_ws` drops them,
    * leaving the bare `"b<i>"` key. */
  def lshBandKeysXx(shingles: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val nSlots = bands * rowsPerBand
    val n = if (shingles == null) 0 else shingles.numElements()
    val keys = new Array[AnyRef](bands)
    if (n == 0) {
      var b = 0
      while (b < bands) { keys(b) = UTF8String.fromString("b" + b); b += 1 }
      return new GenericArrayData(keys)
    }
    // seed prefix of each slot's fold: hashInt(seed, 42L), computed once
    val mins = new Array[Long](nSlots)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val isNull = shingles.isNullAt(i)
      val sh = if (isNull) null else shingles.getUTF8String(i)
      var s = 0
      while (s < nSlots) {
        val seeded = XXH64.hashInt(s, 42L)
        val h = if (isNull) seeded else XXH64.hashUTF8String(sh, seeded)
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      i += 1
    }
    val sb = new java.lang.StringBuilder(48)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      sb.append('b').append(b)
      var r = 0
      while (r < rowsPerBand) {
        sb.append(':').append(mins(b * rowsPerBand + r))
        r += 1
      }
      keys(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** `dot64(array<double>, array<double>) -> double` — the 64-term
  * left-associated dot product as ONE codegen'd node (replaces a ~190-node
  * tree per use; see [[VecOps.dot64]] for exact semantics). */
case class Dot64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot64 expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot64(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
       |java.lang.Double ${ev.value}_d = graft.functions.VecOps.dot64($a, $b);
       |${ev.isNull} = ${ev.value}_d == null;
       |${ev.value} = ${ev.isNull} ? 0.0 : ${ev.value}_d.doubleValue();
       |""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** `sign_bucket(array<double>) -> string` — one sign-LSH plane set's bucket
  * key as ONE codegen'd node (replaces a ~512-node tree per table). Never
  * null (a null embedding yields the all-zero key, like the original
  * when/otherwise chain). */
case class SignBucketKey(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"sign_bucket expects array<double>, got $t")
  }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    VecOps.signBucket(
      if (v == null) null else v.asInstanceOf[ArrayData], planes)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |org.apache.spark.unsafe.types.UTF8String ${ev.value} =
      |  graft.functions.VecOps.signBucket(
      |    ${c.isNull} ? null : ${c.value}, $ref);
      |""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): SignBucketKey =
    copy(child = newChild)
}

/** `simhash64(array<long>) -> long` — the 64-bit sign-sum SimHash as ONE
  * codegen'd node (replaces 64 interpreted `aggregate` folds). Never null
  * (a null array yields 0, like the original per-bit when/otherwise OR). */
case class Simhash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 expects array<long>, got $t")
  }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    VecOps.simhash64(if (v == null) null else v.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |long ${ev.value} = graft.functions.VecOps.simhash64(
      |  ${c.isNull} ? null : ${c.value});
      |""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}

/** `lsh_band_keys_xx(array<string>) -> array<string>` — all xxhash64 minhash
  * band keys in ONE codegen'd traversal of the shingles (replaces
  * `bands×rowsPerBand` interpreted `array_min(transform(...))` lambdas).
  * Never null (a null/empty shingle array yields the bare `b<i>` keys, like
  * the original `concat_ws` dropping null minhash slots). */
case class LshBandKeysXx(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"lsh_band_keys_xx expects array<string>, got $t")
  }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    VecOps.lshBandKeysXx(
      if (v == null) null else v.asInstanceOf[ArrayData], bands, rowsPerBand)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.functions.VecOps.lshBandKeysXx(
      |    ${c.isNull} ? null : ${c.value}, $bands, $rowsPerBand);
      |""".stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): LshBandKeysXx =
    copy(child = newChild)
}
