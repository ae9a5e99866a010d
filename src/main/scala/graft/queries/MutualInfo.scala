package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.det
import graft.functions.det.lnq

/** q198: MUTUAL INFORMATION between two categorical columns — the
  * dependence readout q11's Pearson corr cannot give for categoricals
  * and the feature-selection primitive of every tabular-ML pipeline
  * (information-gain ranking, public Shannon canon): how much does
  * knowing the event type tell you about WHEN it happens (hour of
  * day)? Emits H(X), H(Y), H(X,Y), MI = H(X)+H(Y)−H(X,Y), and the
  * normalized MI/min(H(X),H(Y)) in one row.
  *
  * Determinism — the q154 ln-on-integers discipline pushed through
  * the MI identity so NO ratio ever reaches libm:
  * N·MI = Σ c_xy·(lnq N + lnq c_xy − lnq c_x − lnq c_y), every ln
  * argument an exact INTEGER count quantized to D18_6, the weighted
  * sum an exact D28_6 decimal; the entropies use the same q154
  * identity over the same quantized terms; the final divisions are
  * single IEEE ops over exact operands. Marginal counts are
  * RE-AGGREGATED FROM THE CELLS (joint cells → group by x / group by
  * y), so all three distributions come from one fact pass and agree
  * exactly.
  *
  * Scale shape: ONE map-side-combined (x, y) cell aggregate — state
  * bounded by |X|·|Y| (5 types × 24 hours) — then bounded cell-frame
  * algebra: broadcast marginal joins onto ≤120 rows, one-row fold.
  * The information arithmetic never touches the fact.
  */
object MutualInfo {

  /** One-row MI summary of categorical columns `x` vs `y`. Factored
    * so the spec can pin the independent case (MI = 0), the identical
    * case (MI = H), and a hand-computed 2×2 table.
    */
  def mutualInfo(df: DataFrame, x: Column, y: Column): DataFrame = {
    val cells = df.select(x.as("graft_x"), y.as("graft_y"))
      .groupBy(col("graft_x"), col("graft_y"))
      .agg(count(lit(1)).as("graft_cxy"))
    val mx = cells.groupBy(col("graft_x")).agg(sum(col("graft_cxy")).as("graft_cx"))
    val my = cells.groupBy(col("graft_y")).agg(sum(col("graft_cxy")).as("graft_cy"))
    cells
      .join(broadcast(mx), Seq("graft_x"))
      .join(broadcast(my), Seq("graft_y"))
      .agg(
        sum(col("graft_cxy")).as("n"),
        count(lit(1)).as("n_cells"),
        sum((col("graft_cxy") * lnq(col("graft_cxy"))).cast(det.D28_6))
          .as("graft_cln_xy"),
        // marginal Σ c_xy·ln c_x ≡ Σ c_x·ln c_x because each x's cells
        // sum to c_x — same identity for y
        sum((col("graft_cxy") * lnq(col("graft_cx"))).cast(det.D28_6))
          .as("graft_cln_x"),
        sum((col("graft_cxy") * lnq(col("graft_cy"))).cast(det.D28_6))
          .as("graft_cln_y"))
      .select(
        col("n"), col("n_cells"),
        (lnq(col("n")).cast("double") -
          col("graft_cln_x").cast("double") / col("n").cast("double")).as("h_x"),
        (lnq(col("n")).cast("double") -
          col("graft_cln_y").cast("double") / col("n").cast("double")).as("h_y"),
        (lnq(col("n")).cast("double") -
          col("graft_cln_xy").cast("double") / col("n").cast("double")).as("h_xy"),
        ((col("graft_cln_xy").cast("double") -
          col("graft_cln_x").cast("double") -
          col("graft_cln_y").cast("double")) / col("n").cast("double") +
          lnq(col("n")).cast("double")).as("mi"))
      .withColumn("nmi",
        when(least(col("h_x"), col("h_y")) > 0.0,
          col("mi") / least(col("h_x"), col("h_y"))))
  }

  val q198 = Q.of(
    "q198_mutual_info",
    """WITH cells AS (
      |  SELECT event_type AS x, EXTRACT(hour FROM ts) AS y, COUNT(*) AS cxy
      |  FROM events GROUP BY 1, 2
      |), mx AS (
      |  SELECT x, SUM(cxy) AS cx FROM cells GROUP BY 1
      |), my AS (
      |  SELECT y, SUM(cxy) AS cy FROM cells GROUP BY 1
      |), folded AS (
      |  SELECT
      |    CAST(SUM(cxy) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS n_cells,
      |    SUM(CAST(cxy * CAST(ln(CAST(cxy AS DOUBLE)) AS DECIMAL(18,6))
      |      AS DECIMAL(28,6))) AS cln_xy,
      |    SUM(CAST(cxy * CAST(ln(CAST(cx AS DOUBLE)) AS DECIMAL(18,6))
      |      AS DECIMAL(28,6))) AS cln_x,
      |    SUM(CAST(cxy * CAST(ln(CAST(cy AS DOUBLE)) AS DECIMAL(18,6))
      |      AS DECIMAL(28,6))) AS cln_y
      |  FROM cells JOIN mx USING (x) JOIN my USING (y)
      |), e AS (
      |  SELECT n, n_cells,
      |    CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
      |      - CAST(cln_x AS DOUBLE) / CAST(n AS DOUBLE) AS h_x,
      |    CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
      |      - CAST(cln_y AS DOUBLE) / CAST(n AS DOUBLE) AS h_y,
      |    CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE)
      |      - CAST(cln_xy AS DOUBLE) / CAST(n AS DOUBLE) AS h_xy,
      |    (CAST(cln_xy AS DOUBLE) - CAST(cln_x AS DOUBLE)
      |      - CAST(cln_y AS DOUBLE)) / CAST(n AS DOUBLE)
      |      + CAST(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS DOUBLE) AS mi
      |  FROM folded
      |)
      |SELECT n, n_cells, h_x, h_y, h_xy, mi,
      |  CASE WHEN LEAST(h_x, h_y) > 0.0 THEN mi / LEAST(h_x, h_y) END AS nmi
      |FROM e""".stripMargin) { t =>
    mutualInfo(t.events, col("event_type"), hour(col("ts")))
  }

  def all: Seq[Q] = Seq(q198)
}
