package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.det
import graft.functions.det.lnq

/** q207: ZIPF-LAW FIT per language — the corpus-statistics readout
  * (Zipf 1949, public) behind every token-frequency intuition the
  * pipeline uses: OLS slope of ln(freq) on ln(rank) over the top-K
  * tokens, with r². A healthy natural-language corpus slopes ≈ −1;
  * a template-flooded or deduplication-damaged one bends away — so
  * this is a data-quality alarm (q202's dataset card tells you WHAT
  * is in the corpus; this tells you whether its token law still looks
  * like language), and the regression-on-transformed-aggregates
  * pattern complements q130 (groupwise OLS on raw values).
  *
  * Determinism: ranks are integers with a deterministic tiebreak
  * (count DESC, token ASC); x = lnq(rank), y = lnq(freq) are
  * INTEGER-argument lns quantized D18_6 (the q154/q198 discipline);
  * per-term products x·y, x², y² are exact decimal multiplies of
  * quantized operands (scale 12 — no re-rounding needed), sums exact;
  * slope/intercept/r² are FIXED IEEE chains over the exact decimal
  * moments cast to double, token-identical in the oracle. The
  * K-point fold is bounded, so collecting moments is safe at any
  * corpus size.
  *
  * Scale shape: tokenize → ONE map-side-combined (lang, token) count
  * (the exchange carries distinct tokens, not occurrences — q37's
  * bound), top-K per lang via one window over the counts, then a
  * ≤K-cell regression fold per lang. Output one row per language.
  */
object Zipf {

  private val K = 50

  /** OLS of lnq(freq) on lnq(rank) over the top-`k` rows of a
    * (key, token, freq) frame. Factored so the spec can pin an exact
    * power law (slope hits the generator exponent, r² = 1), the
    * tiebreak, and the two-point degenerate fit.
    */
  def zipfFit(counts: DataFrame, key: Column, freq: Column, tok: Column,
      k: Int = K): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("graft_f").desc, col("graft_t").asc)
    val ranked = counts
      .select(key.as("key"), freq.as("graft_f"), tok.as("graft_t"))
      .withColumn("graft_r", row_number().over(w))
      .filter(col("graft_r") <= k)
      .select(col("key"),
        lnq(col("graft_r")).as("graft_x"),
        lnq(col("graft_f")).as("graft_y"))
    val nD   = col("n_points").cast("double")
    val sx   = col("graft_sx").cast("double")
    val sy   = col("graft_sy").cast("double")
    val sxx  = col("graft_sxx").cast("double")
    val syy  = col("graft_syy").cast("double")
    val sxy  = col("graft_sxy").cast("double")
    val covn = nD * sxy - sx * sy
    val varx = nD * sxx - sx * sx
    val vary = nD * syy - sy * sy
    ranked
      .groupBy(col("key"))
      .agg(
        count(lit(1)).as("n_points"),
        sum(col("graft_x")).as("graft_sx"),
        sum(col("graft_y")).as("graft_sy"),
        sum(col("graft_x") * col("graft_x")).as("graft_sxx"),
        sum(col("graft_y") * col("graft_y")).as("graft_syy"),
        sum(col("graft_x") * col("graft_y")).as("graft_sxy"))
      .select(
        col("key"), col("n_points"),
        when(varx > 0.0, covn / varx).as("slope"),
        when(varx > 0.0, (sy - covn / varx * sx) / nD).as("intercept"),
        when(varx > 0.0 && vary > 0.0, covn * covn / (varx * vary)).as("r2"))
  }

  val q207 = Q.of(
    "q207_zipf_fit",
    s"""WITH tok AS (
      |  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS token
      |  FROM documents
      |), counts AS (
      |  SELECT lang AS key, token, COUNT(*) AS f FROM tok GROUP BY 1, 2
      |), ranked AS (
      |  SELECT key,
      |    CAST(ln(CAST(ROW_NUMBER() OVER (PARTITION BY key
      |      ORDER BY f DESC, token ASC) AS DOUBLE)) AS DECIMAL(18,6)) AS x,
      |    CAST(ln(CAST(f AS DOUBLE)) AS DECIMAL(18,6)) AS y,
      |    ROW_NUMBER() OVER (PARTITION BY key
      |      ORDER BY f DESC, token ASC) AS r
      |  FROM counts
      |), top AS (
      |  SELECT * FROM ranked WHERE r <= $K
      |), m AS (
      |  SELECT key,
      |    CAST(COUNT(*) AS BIGINT) AS n_points,
      |    SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM top GROUP BY 1
      |)
      |SELECT key, n_points,
      |  CASE WHEN CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |    THEN (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS slope,
      |  CASE WHEN CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |    THEN (CAST(sy AS DOUBLE)
      |          - (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
      |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |            / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
      |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * CAST(sx AS DOUBLE))
      |         / CAST(n_points AS DOUBLE) END AS intercept,
      |  CASE WHEN CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0.0
      |        AND CAST(n_points AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0.0
      |    THEN (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       * (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
      |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |       / ((CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
      |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |          * (CAST(n_points AS DOUBLE) * CAST(syy AS DOUBLE)
      |             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS r2
      |FROM m
      |ORDER BY key""".stripMargin) { t =>
    zipfFit(
      t.documents
        .select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("lang").as("key"), col("token"))
        .agg(count(lit(1)).as("f")),
      col("key"), col("f"), col("token"))
      .orderBy(col("key"))
  }

  def all: Seq[Q] = Seq(q207)
}
