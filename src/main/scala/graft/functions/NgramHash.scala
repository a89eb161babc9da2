package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression hashing every word-`width`-gram of a
  * space-separated text column to a BIGINT, optionally de-duplicated:
  * the shared front end of the n-gram dedup family (3-shingles for
  * MinHash-LSH, 4-gram Jaccard, 8-gram decontamination, 20-token
  * repeated-span windows, 2/3-gram repetition counts).
  *
  * Why an expression and not `transform(sequence(...), ...)`:
  * higher-order functions evaluate on the interpreted path with boxed
  * elements — measured ~6 µs per gram, and the gram build dominated
  * every query in the family (10–17 executor-CPU-seconds each at
  * sf0.1). This expression makes ONE pass over the string bytes:
  * each word's bytes are hashed exactly once (xxhash64, seed 42 — the
  * `transform` formulation re-hashed every word's string bytes once
  * per overlapping gram), grams combine the fixed 8-byte word hashes,
  * and the result is an `UnsafeArrayData` over a primitive long[] —
  * no boxing anywhere. ~30× less CPU than the higher-order-function
  * formulation, and `doGenCode` keeps the surrounding projection
  * inside whole-stage codegen (a CodegenFallback here would kick the
  * whole stage to interpreted evaluation — the round-4 lesson).
  *
  * Hash values are engine-internal (every consumer either re-derives
  * ground truth differently in the oracle or compares set sizes), so
  * the only requirements are determinism and injectivity-up-to-
  * collision — the standard |vocab|²/2⁶⁴ trade documented at each
  * call site.
  *
  * Semantics match the `split(text, ' ')` formulation: words are the
  * byte runs between 0x20 bytes (UTF-8 continuation bytes are ≥ 0x80,
  * so the byte scan is multibyte-safe), empty tokens included; fewer
  * than `width` words yields an EMPTY array (never null) so short
  * docs simply produce no grams. `distinct = true` returns the gram
  * SET (sorted — callers treat it as a set); `false` keeps one hash
  * per position for occurrence counting (q_llm_repetition).
  *
  * SQL name `graft_ngrams(text, width, distinct)`, registered by
  * the [[GraftFunctions]] table.
  */
case class NgramHash(child: Expression, width: Int, distinct: Boolean)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if width >= 1 => TypeCheckResult.TypeCheckSuccess
    case _: StringType => TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams width must be >= 1, got $width")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams requires a STRING argument, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  override protected def nullSafeEval(input: Any): Any =
    NgramHash.compute(input.asInstanceOf[UTF8String], width, distinct)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NgramHash$$.MODULE$$.compute($c, $width, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): NgramHash =
    copy(child = newChild)
}

object NgramHash {
  // same default seed as Spark's xxhash64() — no compatibility
  // requirement, just a sane constant
  private final val Seed = 42L

  def compute(s: UTF8String, width: Int, distinct: Boolean): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes
    // words = byte runs between spaces; n = spaces + 1
    var spaces = 0
    var i = 0
    while (i < nb) {
      if (Platform.getByte(base, off + i) == ' ') spaces += 1
      i += 1
    }
    val n = spaces + 1
    if (n < width)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // hash every word's bytes exactly once
    val hw = new Array[Long](n)
    var w = 0
    var start = 0
    i = 0
    while (i <= nb) {
      if (i == nb || Platform.getByte(base, off + i) == ' ') {
        hw(w) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        w += 1
        start = i + 1
      }
      i += 1
    }
    // combine each window of word hashes (chained, like multi-arg
    // xxhash64); O(n·width) long-hashes on primitives
    val m = n - width + 1
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      var acc = Seed
      var k = 0
      while (k < width) { acc = XXH64.hashLong(hw(j + k), acc); k += 1 }
      out(j) = acc
      j += 1
    }
    if (!distinct) return UnsafeArrayData.fromPrimitiveArray(out)
    // set semantics: sort + unique in place
    java.util.Arrays.sort(out)
    var u = 0
    var p = 1
    while (p < m) {
      if (out(p) != out(u)) { u += 1; out(u) = out(p) }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (u + 1 == m) out else java.util.Arrays.copyOf(out, u + 1))
  }

  // width/distinct must be non-NULL literals: eval(null) on a column
  // reference crashes with an internal UnsupportedOperationException
  // and a NULL literal NPEs — both must surface as a clean analysis
  // error naming the function instead (review r13)
  private def litArg(e: Expression, pos: String): Any = {
    require(e.foldable,
      s"graft_ngrams: $pos argument must be a literal, got $e")
    val v = e.eval(null)
    require(v != null, s"graft_ngrams: $pos argument must not be NULL")
    v
  }
  private[functions] def litInt(e: Expression): Int =
    litArg(e, "width").asInstanceOf[Number].intValue
  private[functions] def litBool(e: Expression): Boolean =
    litArg(e, "distinct") match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"graft_ngrams: distinct argument must be BOOLEAN, got $other")
    }

  def fromExprs(exprs: Seq[Expression]): NgramHash = {
    GraftFunctions.requireArity("graft_ngrams", exprs, 3)
    NgramHash(exprs(0), litInt(exprs(1)), litBool(exprs(2)))
  }
}
