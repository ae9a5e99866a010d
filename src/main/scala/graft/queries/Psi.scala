package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.det
import graft.functions.det.lnq

/** q199: POPULATION STABILITY INDEX — the industry-standard drift
  * alarm for deployed model inputs (credit-scoring canon, public;
  * PSI < 0.1 stable, 0.1–0.25 shifting, > 0.25 retrain), the binned
  * companion of q131's KL source drift: per event type, how far has
  * the value distribution of the CURRENT fortnight drifted from the
  * REFERENCE fortnight? PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over value bins.
  *
  * The zero-bin rule, stated instead of fudged: textbook PSI is
  * undefined when a bin is empty on one side; the common ε-floor
  * hack makes the number depend on an arbitrary constant. Here the
  * Σ runs over bins present on BOTH sides, and one-sided bins are
  * REPORTED (n_new / n_gone with their row mass) — a new-in-current
  * bin is itself the loudest drift signal and deserves its own
  * column, not an ε-smoothed burial.
  *
  * Determinism — the q154/q198 ln-on-integers discipline through the
  * identity ln(pᵢ/qᵢ) = lnq(aᵢ) − lnq(A) − lnq(bᵢ) + lnq(B) (every
  * argument an integer count, each ln quantized to D18_6) and the
  * cleared-denominator weight (aᵢ·B − bᵢ·A) (exact int64):
  * A·B·PSI = Σ (aᵢB − bᵢA)·lnterm, an exact D38_6 decimal sum;
  * PSI is ONE IEEE division by (A·B) at the end.
  *
  * Scale shape: ONE map-side-combined (type, side, bin) aggregate —
  * the date split rides the scan as a pushed filter disjunction,
  * both windows in a single pass — then bounded cell algebra
  * (≤ types·bins·2 rows) and a per-type fold. Nothing but cells
  * crosses the exchange.
  */
object Psi {

  private val RefEnd = "2024-01-16"

  /** Per-key PSI of binned `bin` counts between `isRef` rows and the
    * rest. Factored so the spec can pin identical distributions
    * (PSI = 0), a hand-computed shift, and the one-sided-bin ledger.
    */
  def psiByKey(df: DataFrame, key: Column, isRef: Column, bin: Column): DataFrame = {
    val cells = df
      .select(key.as("key"), isRef.as("graft_ref"), bin.as("graft_b"))
      .groupBy(col("key"), col("graft_b"))
      .agg(
        sum(when(col("graft_ref"), 1L).otherwise(0L)).as("a"),
        sum(when(!col("graft_ref"), 1L).otherwise(0L)).as("b"))
    val totals = cells.groupBy(col("key"))
      .agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    cells
      .join(broadcast(totals), Seq("key"))
      .groupBy(col("key"))
      .agg(
        first(col("ta")).as("n_ref"),
        first(col("tb")).as("n_cur"),
        sum(when(col("a") > 0 && col("b") > 0, 1L).otherwise(0L))
          .as("n_common"),
        sum(when(col("a") === 0 && col("b") > 0, 1L).otherwise(0L))
          .as("n_new"),
        sum(when(col("a") > 0 && col("b") === 0, 1L).otherwise(0L))
          .as("n_gone"),
        sum(when(col("a") === 0, col("b")).otherwise(0L)).as("new_rows"),
        sum(when(col("b") === 0, col("a")).otherwise(0L)).as("gone_rows"),
        // weight is an exact int64 → DECIMAL(18,0); lnterm a tiny exact
        // decimal → DECIMAL(18,6). The 18+18-digit product stays under
        // DuckDB's 38-digit multiply ceiling (a D28×D28 product does
        // not) and is exact on both engines.
        sum(when(col("a") > 0 && col("b") > 0,
          (col("a") * col("tb") - col("b") * col("ta")).cast(DecimalInt) *
            (lnq(col("a")) - lnq(col("ta")) - lnq(col("b")) + lnq(col("tb")))
              .cast(det.D18_6))
          .otherwise(lit(0).cast(DecimalInt) * lit(0).cast(det.D18_6)))
          .as("graft_psi_num"))
      .select(
        col("key"), col("n_ref"), col("n_cur"), col("n_common"),
        col("n_new"), col("n_gone"), col("new_rows"), col("gone_rows"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          col("graft_psi_num").cast("double") /
            (col("n_ref").cast("double") * col("n_cur").cast("double")))
          .as("psi"))
  }

  private val DecimalInt =
    org.apache.spark.sql.types.DataTypes.createDecimalType(18, 0)

  val q199 = Q.of(
    "q199_psi_drift",
    s"""WITH cells AS (
      |  SELECT event_type AS key,
      |    CAST(FLOOR(value / 50.0) AS BIGINT) AS b,
      |    SUM(CASE WHEN ts < TIMESTAMP '$RefEnd' THEN 1 ELSE 0 END) AS a,
      |    SUM(CASE WHEN ts < TIMESTAMP '$RefEnd' THEN 0 ELSE 1 END) AS bb
      |  FROM events GROUP BY 1, 2
      |), totals AS (
      |  SELECT key, SUM(a) AS ta, SUM(bb) AS tb FROM cells GROUP BY 1
      |), folded AS (
      |  SELECT key,
      |    CAST(MAX(ta) AS BIGINT) AS n_ref,
      |    CAST(MAX(tb) AS BIGINT) AS n_cur,
      |    CAST(SUM(CASE WHEN a > 0 AND bb > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_common,
      |    CAST(SUM(CASE WHEN a = 0 AND bb > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(SUM(CASE WHEN a > 0 AND bb = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_gone,
      |    CAST(SUM(CASE WHEN a = 0 THEN bb ELSE 0 END) AS BIGINT) AS new_rows,
      |    CAST(SUM(CASE WHEN bb = 0 THEN a ELSE 0 END) AS BIGINT) AS gone_rows,
      |    SUM(CASE WHEN a > 0 AND bb > 0 THEN
      |      CAST(a * tb - bb * ta AS DECIMAL(18,0)) *
      |        CAST(CAST(ln(CAST(a AS DOUBLE)) AS DECIMAL(18,6))
      |          - CAST(ln(CAST(ta AS DOUBLE)) AS DECIMAL(18,6))
      |          - CAST(ln(CAST(bb AS DOUBLE)) AS DECIMAL(18,6))
      |          + CAST(ln(CAST(tb AS DOUBLE)) AS DECIMAL(18,6))
      |        AS DECIMAL(18,6))
      |      ELSE CAST(0 AS DECIMAL(18,0)) * CAST(0 AS DECIMAL(18,6))
      |      END) AS psi_num
      |  FROM cells JOIN totals USING (key) GROUP BY key
      |)
      |SELECT key, n_ref, n_cur, n_common, n_new, n_gone, new_rows, gone_rows,
      |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
      |    CAST(psi_num AS DOUBLE)
      |      / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) END AS psi
      |FROM folded
      |ORDER BY key""".stripMargin) { t =>
    psiByKey(
      t.events.select(col("event_type"), col("ts"), col("value")),
      col("event_type"),
      col("ts") < lit(RefEnd).cast("timestamp"),
      floor(col("value") / 50.0))
      .orderBy(col("key"))
  }

  def all: Seq[Q] = Seq(q199)
}
