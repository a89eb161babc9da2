package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expression for the portable 60-bit key hash the
  * deterministic-sampling family keys on. Semantically IDENTICAL to
  * the composable formulation
  * `conv(substring(md5(x), 1, 15), 16, 10)::LONG` — the first 15 hex
  * digits of an MD5 are its top 60 bits — but computed straight from
  * the digest bytes: the composable chain materializes a 32-char hex
  * string and re-parses 15 chars of it PER ROW (per GRAM in
  * q_llm_dsir_weight), all to recover bits the digest already held.
  * 60 bits < 63 keeps the value non-negative, so `% n` bucketing and
  * `< p` thresholding behave identically in Spark and in the DuckDB
  * oracles, which deliberately KEEP the string formulation — the two
  * engines now agree through entirely different code paths, which
  * strengthens the oracle rather than weakening it.
  *
  * Registered under `graft_hash60` by the [[GraftFunctions]] table.
  */
case class Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_hash60 requires a STRING argument, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash60"

  override def nullSafeEval(v: Any): Any =
    Hash60.hash(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60.hash($c)")

  override protected def withNewChildInternal(c: Expression): Hash60 =
    copy(child = c)
}

object Hash60 {
  private val md = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private[functions] def digest(): java.security.MessageDigest = md.get()

  private[functions] def top60(dig: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < 8) { acc = (acc << 8) | (dig(i) & 0xffL); i += 1 }
    acc >>> 4
  }

  /** Top 60 bits of md5(utf8 bytes): bytes 0–6 whole plus the high
    * nibble of byte 7 — exactly the value `conv(substring(hex, 1, 15),
    * 16, 10)` parses from the hex rendering. */
  def hash(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    top60(d.digest(s.getBytes))
  }
}

/** Native expression: [[Hash60]] of every word-`width`-gram of a
  * space-separated text column, one element per gram POSITION
  * (occurrence-preserving, not a set). Semantically identical to
  *   `transform(sequence(1, size(w) − width + 1),
  *      i -> graft_hash60(concat_ws(' ', slice(w, i, width))))`
  * over `w = split(text, ' ')`, but ONE pass over the string bytes:
  * consecutive split tokens are separated by exactly one 0x20 in the
  * source, so each gram's joined string IS a byte range of the
  * original text and the MD5 digests that range in place — no
  * interpreted higher-order lambda (CodegenFallback, measured
  * ~14 µs/gram in q_llm_dsir_weight's checkpoint stage), no per-gram
  * concat strings, no boxing. The hash stays the PORTABLE md5-based
  * h60 — DuckDB oracles keep recomputing it from the string
  * formulation, so cross-engine agreement is preserved by
  * construction (contrast [[NgramHash]], whose xxhash64 values are
  * engine-internal). Fewer than `width` words yields an EMPTY array,
  * matching the `size(w) >= width` guard of the lambda formulation.
  * SQL name `graft_ngram_h60(text, width)`. */
case class NgramHash60(child: Expression, width: Int)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType if width >= 1 => TypeCheckResult.TypeCheckSuccess
    case _: StringType => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram_h60 width must be >= 1, got $width")
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram_h60 requires a STRING argument, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_h60"

  override protected def nullSafeEval(input: Any): Any =
    NgramHash60.compute(input.asInstanceOf[UTF8String], width)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NgramHash60$$.MODULE$$.compute($c, $width)")

  override protected def withNewChildInternal(c: Expression): NgramHash60 =
    copy(child = c)
}

object NgramHash60 {
  def compute(s: UTF8String, width: Int): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    var spaces = 0
    var i = 0
    while (i < nb) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val n = spaces + 1
    if (n < width)
      return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // word boundaries: starts(k)/ends(k) delimit token k, 0x20-split
    // with trailing empties kept (split's limit=-1 semantics)
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    var w = 0
    var st = 0
    i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == ' ') {
        starts(w) = st; ends(w) = i; w += 1; st = i + 1
      }
      i += 1
    }
    val md = Hash60.digest()
    val m = n - width + 1
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      md.reset()
      md.update(bytes, starts(j), ends(j + width - 1) - starts(j))
      out(j) = Hash60.top60(md.digest())
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def fromExprs(exprs: Seq[Expression]): NgramHash60 = {
    GraftFunctions.requireArity("graft_ngram_h60", exprs, 2)
    // width must be a non-NULL literal — same clean-error contract as
    // graft_ngrams (review r13)
    require(exprs(1).foldable,
      s"graft_ngram_h60: width argument must be a literal, got ${exprs(1)}")
    val v = exprs(1).eval(null)
    require(v != null, "graft_ngram_h60: width argument must not be NULL")
    // integral literals only — a fractional literal would silently
    // truncate (2.7 → 2) and a non-numeric one would throw a raw
    // ClassCastException instead of the clean-error contract above
    val width = v match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long => l.intValue
      case s: java.lang.Short => s.intValue
      case b: java.lang.Byte => b.intValue
      case other => throw new IllegalArgumentException(
        s"graft_ngram_h60: width argument must be an integral literal, " +
          s"got $other (${other.getClass.getSimpleName})")
    }
    NgramHash60(exprs(0), width)
  }
}
