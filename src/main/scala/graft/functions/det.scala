package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataTypes, DecimalType}

/** Determinism helpers (SURVEY.md §6).
  *
  * Double aggregation is order-dependent; Spark's partial aggregation
  * and DuckDB's vectorized aggregation add in different orders, so a
  * plain `sum(double)` is not bit-reproducible across engines. Routing
  * the sum through a fixed-scale decimal makes it exact and
  * order-independent: both engines round each input once (at 6
  * decimals), sum exactly, and cast the identical decimal to double.
  * Derived statistics (avg/stddev/corr) are then computed from the
  * exact decimal sums with the *same* double expression on both sides,
  * which is bit-identical because IEEE ops are deterministic.
  *
  * Caveat (ADVICE r1): the double→decimal cast itself rounds, and
  * Spark (HALF_UP) and DuckDB need not break an exact mid-point tie
  * the same way. A product like price*(1-discount) landing exactly on
  * a 6th-decimal tie could therefore hash-mismatch. Ties at 1e-6 of
  * continuous doubles are measure-zero in practice — none observed
  * across 37 oracle queries — but if one ever appears the fix is to
  * round() both sides identically before the cast. Engine-internal
  * arithmetic (percentile interpolation, corr) is NOT expression-
  * identical across engines; those results are rounded to 4 decimals
  * on both sides instead (see q10/q11).
  *
  * MAGNITUDE CEILINGS (round 10, SURVEY §6(k)/(l)): both cast
  * directions stop being engine-identical at large magnitudes.
  * DECIMAL→DOUBLE: once the decimal's scaled integer exceeds 2^53,
  * DuckDB's double(v)/double(10^s) double-rounds while Spark's
  * BigDecimal path rounds once — bounce the ORACLE cast through
  * VARCHAR (`CAST(CAST(x AS VARCHAR) AS DOUBLE)`). DOUBLE→DECIMAL:
  * once |x|·10^scale exceeds 2^63, DuckDB leaves its exact int64
  * conversion path while Spark still expands the exact binary value —
  * do NOT re-quantize doubles ≥ ~1e12 at scale 6; fold bounded
  * per-group terms in explicit sorted order instead (q203's
  * sort_array+aggregate ≡ list_sort+list_reduce pattern).
  */
object det {
  val D20_6: DecimalType = DataTypes.createDecimalType(20, 6)
  /** Wider variant for sums of squares / large products. */
  val D28_6: DecimalType = DataTypes.createDecimalType(28, 6)
  /** Narrow variant for quantizing a small per-group TERM (e.g. an ln
    * value) BEFORE an exact integer-weighted decimal sum — the q129
    * lesson: quantize at the few-hundred-distinct-values surface, not
    * per row, and never `round(…, 4)` an exact decimal sum (a sum
    * ending in …50 at the 5th decimal is a GUARANTEED half-tie, and
    * Spark's decimal-string HALF_UP disagrees with DuckDB's binary
    * rounding on it — P ≈ 1/100 per row, not measure-zero).
    */
  val D18_6: DecimalType = DataTypes.createDecimalType(18, 6)

  /** Order-independent, cross-engine-exact sum of a double column. */
  def dsum(c: Column): Column = sum(c.cast(D20_6)).cast("double")

  /** Wide variant: use when per-row values can exceed ~1e13. */
  def dsumw(c: Column): Column = sum(c.cast(D28_6)).cast("double")

  /** Deterministic average = exact decimal sum / count. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Deterministic sample stddev from exact decimal moments:
    * sqrt((n*Σx² − (Σx)²) / (n(n−1))).
    */
  def dstddev(x: Column): Column = {
    val n  = count(lit(1)).cast("double")
    val sx = dsumw(x)
    val s2 = dsumw(x * x)
    sqrt((n * s2 - sx * sx) / (n * (n - lit(1.0))))
  }

  /** Deterministic sample variance from exact decimal moments:
    * (n*Σx² − (Σx)²) / (n(n−1)). Same expression must be written on the
    * oracle side verbatim so the IEEE evaluation is bit-identical.
    */
  def dvar(x: Column): Column = {
    val n  = count(lit(1)).cast("double")
    val sx = dsumw(x)
    val s2 = dsumw(x * x)
    (n * s2 - sx * sx) / (n * (n - lit(1.0)))
  }

  /** Deterministic Pearson correlation from exact decimal moments. */
  def dcorr(x: Column, y: Column): Column = {
    val n   = count(lit(1)).cast("double")
    val sx  = dsumw(x);     val sy  = dsumw(y)
    val sxx = dsumw(x * x); val syy = dsumw(y * y)
    val sxy = dsumw(x * y)
    (n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
  }

  /** Natural log quantized to [[D18_6]]: the per-group ln term that an
    * exact integer-weighted decimal sum then folds (the q129 lesson
    * above). The oracle side writes `CAST(ln(CAST(c AS DOUBLE)) AS
    * DECIMAL(18,6))`.
    */
  def lnq(c: Column): Column = log(c.cast("double")).cast(D18_6)

  /** Order-independent double average: `n` divides a left fold over the
    * SORTED collected values, so the IEEE addition order is fixed on
    * both engines (oracle: `list_reduce(list_sort(list(c) FILTER (c IS
    * NOT NULL)), (a, b) -> a + b) / n`).
    * For bounded per-group value lists only — the list is collected.
    */
  def foldAvg(c: Column, n: Column): Column =
    aggregate(sort_array(collect_list(c)), lit(0.0), (a, x) => a + x) / n

  /** Cross-engine-EXACT linear-interpolated percentile over a sorted
    * array column (`sort_array(collect_list(x))` on the Spark side,
    * `list_sort(list(x))` in DuckDB) with `n` elements.
    *
    * Engine-internal percentile implementations (Spark `percentile`,
    * DuckDB `quantile_cont`) interpolate with engine-private
    * arithmetic, and q10's round-to-4 compromise breaks when the raw
    * value lands on an exact 5-at-the-5th-decimal tie that the two
    * engines' round() resolve differently (hit by q58's
    * cost-per-stream quartiles). Writing the interpolation as an
    * explicit expression — `lo = arr[⌊f·(n−1)⌋+1]`, `hi = arr[⌈…⌉+1]`,
    * `lo + (hi − lo)·frac` — and mirroring it VERBATIM in the oracle
    * SQL makes every IEEE operation identical on both engines, so the
    * result is bit-exact with no rounding at all.
    */
  def dpercentile(sortedArr: Column, n: Column, f: Double): Column = {
    val pos = lit(f) * (n - 1).cast("double")
    val lo  = element_at(sortedArr, floor(pos).cast("int") + 1)
    val hi  = element_at(sortedArr, ceil(pos).cast("int") + 1)
    lo + (hi - lo) * (pos - floor(pos))
  }
}
