package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.DatasetBridge

import graft.plans.DetLn

/** Deterministic natural log — the cross-engine bit-exactness answer for
  * scoring functions that need a transcendental (BM25's idf, q127/q128).
  *
  * Why not `ln`: measured in this sandbox (round 16), DuckDB's `ln` and the
  * JVM's `Math.log` disagree in the last ulp on 624 of 658,990 inputs drawn
  * from the BM25-idf domain x = 1 + (N − df + 0.5)/(df + 0.5) over
  * N ∈ {50, 500, 5000, 59420, 594020} — any oracle-hashed score routed
  * through a libm `ln` WILL eventually hash-mismatch. Same contract as the
  * left-fold dot product ([[Similarity.dot]]/[[Similarity.dotSql]]): build
  * the function from IEEE ops both engines execute identically —
  *
  *   1. exponent  e = Σ_{i=1..40} [x ≥ 2^i]      (exact integer sum;
  *      powers of two are exactly representable literals),
  *   2. scale   2^e = Π_{i=1..40} (x ≥ 2^i ? 2 : 1)  (exact products),
  *   3. mantissa  m = x / 2^e ∈ [1, 2)           (÷ by 2^e is exact),
  *   4. atanh series: z = (m−1)/(m+1), ln m = 2z · Horner(z², 1/(2k+1))
  *      over k = 0..15 — |z| < 1/3 so the truncation tail is below double
  *      ulp,
  *   5. ln x = e·LN2 + ln m, LN2 a shared shortest-round-trip literal.
  *
  * Every constant is rendered from the SAME Scala double ([[DetLn]]'s):
  * Spark's compiled kernel reads the double, DuckDB gets
  * `CAST('<toString>' AS DOUBLE)` whose correctly-rounding parse returns
  * the identical bits (shortest-round-trip repr by construction).
  * Accuracy ≤ 2 ulp vs Math.log over the idf domain (DetMathSpec);
  * determinism exact by construction.
  *
  * Domain: x ∈ [1, 2^41). Out of it the Spark kernel follows plain IEEE
  * arithmetic and never raises: x = −1 gives −Infinity, NaN and ±Infinity
  * give NaN, other x < 1 give finite values that are not logs (DetMathSpec
  * pins x = −1). This is a scoring kernel, not a general libm.
  */
object DetMath {
  import DetLn.{Ln2, MaxExp, SeriesCoeffs}

  /** DuckDB literal with the exact bits of `d` (string cast is
    * correctly-rounded and always DOUBLE-typed — decimal literals would
    * pull DuckDB into DECIMAL arithmetic with different rounding). */
  private def dlit(d: Double): String = s"CAST('${d.toString}' AS DOUBLE)"

  /** Spark side: one compiled [[DetLn]] node over `x` (DoubleType).
    * Built straight from the expression, so it needs no function
    * registration and works on any session; SQL reaches the same node as
    * `det_ln` once [[graft.plans.GraftExtensions]] is installed. */
  def lnCol(x: Column): Column =
    DatasetBridge.column(DetLn(DatasetBridge.expression(x)))

  /** DuckDB side: a CTE chain staging the intermediates (inlining them
    * textually would square the expression to ~150 KB). Input: relation
    * `src` with DOUBLE column `x`; output: relation `${out}_fin` = all of
    * `src`'s columns plus `$out` = ln(x). Same op sequence as
    * [[DetLn.compute]]. */
  def lnSqlCtes(src: String, x: String, out: String): String = {
    val e = (1 to MaxExp)
      .map(i => s"(CASE WHEN $x >= ${dlit(math.pow(2.0, i))} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val scale = (1 to MaxExp)
      .map(i => s"(CASE WHEN $x >= ${dlit(math.pow(2.0, i))} THEN ${dlit(2.0)} ELSE ${dlit(1.0)} END)")
      .mkString(" * ")
    val horner = SeriesCoeffs.init.foldRight(dlit(SeriesCoeffs.last))(
      (c, acc) => s"(${dlit(c)} + ${out}_z2 * $acc)")
    s"""${out}_s1 AS (
        SELECT *, ($e) AS ${out}_e, ($scale) AS ${out}_scale FROM $src
      ), ${out}_s2 AS (
        SELECT *, ($x / ${out}_scale) AS ${out}_m FROM ${out}_s1
      ), ${out}_s3 AS (
        SELECT *, ((${out}_m - ${dlit(1.0)}) / (${out}_m + ${dlit(1.0)})) AS ${out}_z
        FROM ${out}_s2
      ), ${out}_s4 AS (
        SELECT *, (${out}_z * ${out}_z) AS ${out}_z2 FROM ${out}_s3
      ), ${out}_fin AS (
        SELECT *, CAST(${out}_e AS DOUBLE) * ${dlit(Ln2)} +
                  ${dlit(2.0)} * ${out}_z * $horner AS $out
        FROM ${out}_s4
      )"""
  }
}
