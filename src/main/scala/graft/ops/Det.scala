package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Determinism helpers for the DuckDB hash-match gate.
  *
  * `round()` is NOT portable across engines: Spark rounds the exact
  * binary expansion of the double (BigDecimal HALF_UP) while DuckDB
  * rounds after a float multiply — at .xx5 boundaries they disagree
  * (observed on sf0.001: 255874.545 → .54 vs .55). Instead we
  * discretize with `floor(x·10ⁿ + 0.5)/10ⁿ`: every step is an IEEE-754
  * double op that both engines evaluate bit-identically, so the result
  * matches as long as the input doubles match. Oracle SQL must use the
  * same formula (see `sql` below).
  */
object Det {
  private def pow10(n: Int): Double = math.pow(10.0, n)

  /** floor-based fixed-point discretization, portable across engines. */
  def rN(c: Column, n: Int): Column =
    floor(c * lit(pow10(n)) + lit(0.5)) / lit(pow10(n))

  def r2(c: Column): Column = rN(c, 2)
  def r4(c: Column): Column = rN(c, 4)
  def r6(c: Column): Column = rN(c, 6)

  /** Driver-side r6, bit-identical to [[r6]] and [[sql6]]: the same
    * IEEE-754 double ops, through a long as Spark's `floor` returns
    * one (the two differ only on NaN, infinities and |x| ≥ 9.2e12). */
  def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6

  /** The oracle-side (DuckDB) rendering of rN. */
  def sql(expr: String, n: Int): String = {
    val p = pow10(n).toLong
    s"floor(($expr) * $p + 0.5) / $p"
  }
  def sql2(expr: String): String = sql(expr, 2)
  def sql4(expr: String): String = sql(expr, 4)
  def sql6(expr: String): String = sql(expr, 6)
}
