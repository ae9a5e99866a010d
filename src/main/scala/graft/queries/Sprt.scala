package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.det
import graft.functions.det.lnq

/** q206: WALD SPRT — the SEQUENTIAL probability ratio test (Wald
  * 1945, public): q74 sizes an A/B readout after the fact and q192/
  * q203 test a frozen sample; SPRT is the monitor that watches a
  * Bernoulli rate DAY BY DAY and stops the experiment the moment the
  * evidence clears a boundary — the early-stopping discipline every
  * production experimentation system runs. Per line status (O rows
  * never return, F rows return ~half the time — the two arms drive
  * the two OPPOSITE boundaries): is the return rate p0 = 24% (H0) or
  * p1 = 26% (H1)?
  *
  * LLR_t = s_t·ln(p1/p0) + (n_t−s_t)·ln((1−p1)/(1−p0)) with both
  * coefficients decomposed to INTEGER-argument lns (ln 26 − ln 24,
  * ln 74 − ln 76 — the q154/q198 lnq discipline) quantized D18_6, so
  * the whole trajectory is EXACT decimal arithmetic over int64
  * cumulative counts: products (18,0)×(18,6), sums exact, boundary
  * compares `llr ≥ ln 19` (α = β = 0.05 ⇒ b = ln((1−β)/α) = ln 19,
  * itself a quantized integer-argument ln) decided on exact decimals
  * — no IEEE compare anywhere, the decision and its day are
  * hash-stable by construction. The reported llr is one final cast.
  *
  * Scale shape: ONE map-side-combined (status, day) cell aggregate is
  * all that touches the fact; cumulative windows run over the bounded
  * status×day frame (q138's bound); output one row per status.
  */
object Sprt {

  /** SPRT over a per-(key, day) (n, s) cell frame. p0 = n0/den vs
    * p1 = n1/den with α = β = 0.05. Factored so the spec can pin the
    * exact per-observation step arithmetic and the crossing days.
    */
  def sprt(cells: DataFrame, key: Column, day: Column, n: Column, s: Column,
      n0: Int, n1: Int, den: Int): DataFrame = {
    val d18 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 0)
    val c1 = lnq(lit(n1)) - lnq(lit(n0))             // ln(p1/p0)
    val c2 = lnq(lit(den - n1)) - lnq(lit(den - n0)) // ln((1-p1)/(1-p0))
    val b  = lnq(lit(19))                            // ln((1-β)/α), α=β=0.05
    val ord = Window.partitionBy(col("key")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val traj = cells
      .select(key.as("key"), day.as("day"), n.as("graft_n"), s.as("graft_s"))
      .withColumn("graft_cn", sum(col("graft_n")).over(ord))
      .withColumn("graft_cs", sum(col("graft_s")).over(ord))
      .withColumn("graft_llr",
        col("graft_cs").cast(d18) * c1
          + (col("graft_cn") - col("graft_cs")).cast(d18) * c2)
    traj
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_days"),
        max(col("graft_cn")).as("n"),
        max(col("graft_cs")).as("s"),
        // day is unique within a key, so the struct max picks the
        // final day's llr deterministically
        max(struct(col("day"), col("graft_llr"))).getField("graft_llr")
          .cast("double").as("final_llr"),
        min(when(col("graft_llr") >= b, col("day"))).as("h1_day"),
        min(when(col("graft_llr") <= -b, col("day"))).as("h0_day"))
      .select(col("key"), col("n_days"), col("n"), col("s"),
        col("final_llr"), col("h1_day"), col("h0_day"),
        when(col("h1_day").isNotNull &&
          (col("h0_day").isNull || col("h1_day") <= col("h0_day")), "accept_h1")
          .when(col("h0_day").isNotNull, "accept_h0")
          .otherwise("continue").as("decision"))
  }

  val q206 = Q.of(
    "q206_sprt",
    """WITH cells AS (
      |  SELECT l_linestatus AS key, l_shipdate AS day,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS s
      |  FROM lineitem GROUP BY 1, 2
      |), coef AS (
      |  SELECT
      |    CAST(ln(CAST(26 AS DOUBLE)) AS DECIMAL(18,6))
      |      - CAST(ln(CAST(24 AS DOUBLE)) AS DECIMAL(18,6)) AS c1,
      |    CAST(ln(CAST(74 AS DOUBLE)) AS DECIMAL(18,6))
      |      - CAST(ln(CAST(76 AS DOUBLE)) AS DECIMAL(18,6)) AS c2,
      |    CAST(ln(CAST(19 AS DOUBLE)) AS DECIMAL(18,6)) AS b
      |), traj AS (
      |  SELECT key, day,
      |    SUM(n) OVER w AS cn,
      |    SUM(s) OVER w AS cs
      |  FROM cells
      |  WINDOW w AS (PARTITION BY key ORDER BY day
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), scored AS (
      |  SELECT key, day, cn, cs,
      |    CAST(cs AS DECIMAL(18,0)) * c1
      |      + CAST(cn - cs AS DECIMAL(18,0)) * c2 AS llr,
      |    b
      |  FROM traj CROSS JOIN coef
      |)
      |SELECT key,
      |  CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(MAX(cn) AS BIGINT) AS n,
      |  CAST(MAX(cs) AS BIGINT) AS s,
      |  CAST(arg_max(llr, day) AS DOUBLE) AS final_llr,
      |  MIN(CASE WHEN llr >= b THEN day END) AS h1_day,
      |  MIN(CASE WHEN llr <= -b THEN day END) AS h0_day,
      |  CASE
      |    WHEN MIN(CASE WHEN llr >= b THEN day END) IS NOT NULL
      |     AND (MIN(CASE WHEN llr <= -b THEN day END) IS NULL
      |          OR MIN(CASE WHEN llr >= b THEN day END)
      |             <= MIN(CASE WHEN llr <= -b THEN day END))
      |      THEN 'accept_h1'
      |    WHEN MIN(CASE WHEN llr <= -b THEN day END) IS NOT NULL
      |      THEN 'accept_h0'
      |    ELSE 'continue'
      |  END AS decision
      |FROM scored
      |GROUP BY key
      |ORDER BY key""".stripMargin) { t =>
    sprt(
      t.lineitem.groupBy(col("l_linestatus").as("key"),
        col("l_shipdate").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("s")),
      col("key"), col("day"), col("n"), col("s"),
      24, 26, 100)
      .orderBy(col("key"))
  }

  def all: Seq[Q] = Seq(q206)
}
