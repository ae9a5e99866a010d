package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{AsOf, Q}
import graft.Dims.dimBroadcast
import graft.functions.det._

/** q75: the twentieth full reference analysis end-to-end — Predictive
  * Content Performance Modeling (/root/reference/SQL/Predictive
  * Content Performance Modeling.txt:1-140; pyspark twin) as one
  * oracle-checked composition, closing SURVEY §8: per-content feature
  * engineering (ACTOR-POPULARITY via a real many-to-many bridge
  * self-join — the construct VERDICT r5 flagged as blocked on
  * testdata — plus genre performance history, director success rate,
  * seasonal suitability) → actual-performance metrics (viewers,
  * completion, active days, 31-90-day long-term viewers — q59
  * machinery) → the reference's linear scoring model → per-genre
  * model accuracy (MAPE/MAE, HAVING >= 10) → prediction-confidence
  * banding → acquisition recommendation.
  *
  * Reference → testdata mapping (SURVEY §3): content→part (genre =
  * brand number mod 5, content_type = first p_type word, imdb_rating
  * = (id mod 56)/10+3.5 per q67), viewing_history→lineitem⋈orders
  * (viewer = o_custkey per q68), added_date = first stream in the
  * window (q59), release_year/month = year/month(added_date). The
  * content_actors/actors bridge = each content's TOP-3 suppliers by
  * line count (deterministic count-desc/suppkey-asc rank — the q65
  * pairCap device): per-actor filmography is |fact|/|suppliers| ≈ 60
  * contents at EVERY sf (both scale linearly), so the actor
  * co-occurrence self-join is Σ_actor filmography² = |suppliers|·60²
  * — LINEAR in the catalog, a bounded-degree co-occurrence graph,
  * never contents². content_directors→p_brand (25 directors; the
  * director success rate is a per-brand broadcast aggregate).
  *
  * Deviations (documented): (a) the reference's model_accuracy CTE
  * (:96-110) mixes corpus-wide aggregates into a GROUP BY genre (a
  * MySQL-ism); re-expressed per-genre only, which is all the final
  * SELECT consumes. (b) ladder cutpoints re-banded to measured
  * quantiles (q66's rule): completion 80/60 → 95.5/94.5 (completion
  * = (1−discount)·100 lives in [90,100] here), confidence MAPE bands
  * 20/40 → 185000/192000 (the reference's predicted-viewers formula
  * — imdb·1000 + actor·500 + completion·10 — is ~10⁴ against ~5
  * actual viewers at testdata scale; the formula is mirrored
  * verbatim, so MAPE is ~1.9·10⁵ % and the bands move with it),
  * acquisition 0.7/0.5/0.3-score and 5000/2000/500-viewer gates →
  * 3.9/3.5/3.2 and 12000/10000/8500 (score terciles). (c) the
  * genre-history feature ("5 prior release years") is the q28 RANGE
  * BETWEEN 5 PRECEDING AND 1 PRECEDING window over a per-(genre,
  * year) frame instead of a per-content correlated range scan. (d)
  * seasonal multipliers keyed on mapped genres G0-G4 (no
  * Horror/Romance labels exist).
  *
  * Plan shape at scale: ONE windowed fact scan (cached after the
  * added_date window); the per-content roll-up, the per-(content,
  * actor) bridge counts + top-3 rank window, and the genre-year tag
  * join all reuse the SAME l_partkey clustering. The bridge self-join
  * exchanges only slim (content, actor) pairs on actor_id; the
  * per-(genre, year) history frame and the 25-row director frame are
  * broadcast; model-accuracy is a 5-row broadcast.
  */
object Predictive {

  val defaultAsOf: AsOf = AsOf("1997-06-30")
  val defaultLookbackDays = 730

  def q75For(asOf: AsOf, lookbackDays: Int): Q = {
    val start = asOf.minusDays(lookbackDays)

    Q.of(
      "q75_predictive_features",
      s"""WITH va AS (
        |  SELECT l.l_partkey AS content_id, l.l_suppkey AS actor_id, o.o_custkey AS viewer_id,
        |    l.l_shipdate AS view_ts,
        |    CAST((1.0 - l.l_discount) * 100 AS DOUBLE) AS completion,
        |    min(l.l_shipdate) OVER (PARTITION BY l.l_partkey) AS added_date
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE l.l_shipdate > ${start.sqlTs} AND l.l_shipdate <= ${asOf.sqlTs}
        |), hp AS (
        |  SELECT content_id, max(added_date) AS added_date,
        |    CAST(count(DISTINCT viewer_id) AS BIGINT) AS actual_viewers,
        |    CAST(count(*) AS BIGINT) AS total_views,
        |    CAST(SUM(CAST(completion AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS actual_completion_rate,
        |    CAST(count(DISTINCT CAST(view_ts AS DATE)) AS BIGINT) AS active_days,
        |    CAST(count(DISTINCT CASE WHEN view_ts >= added_date + INTERVAL 31 DAY
        |                              AND view_ts <= added_date + INTERVAL 90 DAY
        |                             THEN viewer_id END) AS BIGINT) AS long_term_viewers
        |  FROM va GROUP BY 1
        |  HAVING max(added_date) <= ${asOf.sqlTs} - INTERVAL 90 DAY
        |), cf AS (
        |  SELECT hp.*, p.p_name AS title,
        |    'G' || CAST(CAST(substr(p.p_brand, 7) AS BIGINT) % 5 AS VARCHAR) AS genre,
        |    split_part(p.p_type, ' ', 1) AS content_type,
        |    p.p_brand AS director_id,
        |    CAST(year(hp.added_date) AS BIGINT) AS release_year,
        |    CAST(month(hp.added_date) AS BIGINT) AS added_month,
        |    CAST(hp.content_id % 56 AS DOUBLE) / CAST(10 AS DOUBLE) + CAST(3.5 AS DOUBLE) AS imdb_rating
        |  FROM hp JOIN part p ON p.p_partkey = hp.content_id
        |), bridge AS (
        |  SELECT content_id, actor_id FROM (
        |    SELECT content_id, actor_id, count(*) AS nl,
        |      row_number() OVER (PARTITION BY content_id ORDER BY count(*) DESC, actor_id) AS rk
        |    FROM va GROUP BY 1, 2
        |  ) WHERE rk <= 3
        |), af AS (
        |  SELECT content_id,
        |    list_reduce(list_transform(others, x -> CAST(x % 56 AS DOUBLE) / CAST(10 AS DOUBLE) + CAST(3.5 AS DOUBLE)), (a, b) -> a + b)
        |      / CAST(len(others) AS DOUBLE) AS actor_avg_rating
        |  FROM (
        |    SELECT b1.content_id, list_sort(list(DISTINCT b2.content_id)) AS others
        |    FROM bridge b1 JOIN bridge b2 ON b2.actor_id = b1.actor_id AND b2.content_id != b1.content_id
        |    GROUP BY 1
        |  )
        |), gy AS (
        |  SELECT genre, release_year,
        |    SUM(comp_sum) OVER (PARTITION BY genre ORDER BY release_year
        |      RANGE BETWEEN 5 PRECEDING AND 1 PRECEDING) AS win_comp,
        |    SUM(cnt) OVER (PARTITION BY genre ORDER BY release_year
        |      RANGE BETWEEN 5 PRECEDING AND 1 PRECEDING) AS win_cnt
        |  FROM (
        |    SELECT cf.genre, cf.release_year,
        |      SUM(CAST(va.completion AS DECIMAL(20,6))) AS comp_sum, count(*) AS cnt
        |    FROM va JOIN cf ON cf.content_id = va.content_id
        |    GROUP BY 1, 2
        |  )
        |), gf AS (
        |  SELECT genre, release_year,
        |    CASE WHEN win_cnt > 0 THEN CAST(win_comp AS DOUBLE) / win_cnt END AS genre_avg_completion
        |  FROM gy
        |), dir AS (
        |  SELECT director_id, CAST(SUM(CASE WHEN imdb_rating > 7.0 THEN 1 ELSE 0 END) AS BIGINT) AS director_high_rated
        |  FROM cf GROUP BY 1
        |), feat AS (
        |  SELECT cf.*, af.actor_avg_rating, gf.genre_avg_completion,
        |    COALESCE(d.director_high_rated, 0) AS director_high_rated_content,
        |    CASE WHEN cf.genre IN ('G0', 'G1') AND cf.added_month IN (10, 11) THEN 1.2
        |         WHEN cf.genre IN ('G2', 'G3') AND cf.added_month IN (2, 12) THEN 1.15
        |         WHEN cf.genre = 'G4' AND cf.added_month IN (6, 7) THEN 1.1
        |         ELSE 1.0 END AS seasonal_multiplier
        |  FROM cf
        |  LEFT JOIN af ON af.content_id = cf.content_id
        |  LEFT JOIN gf ON gf.genre = cf.genre AND gf.release_year = cf.release_year
        |  LEFT JOIN dir d ON d.director_id = cf.director_id
        |), pp AS (
        |  SELECT *,
        |    (imdb_rating * 0.25 + actor_avg_rating * 0.20 + genre_avg_completion / 100 * 0.15 +
        |     (CAST(director_high_rated_content AS DOUBLE) / 10) * 0.10 + seasonal_multiplier * 0.30) AS predicted_success_score,
        |    (imdb_rating * 1000 + actor_avg_rating * 500 + genre_avg_completion * 10) AS predicted_viewers,
        |    CASE WHEN actual_completion_rate > 95.5 THEN 'High Performance'
        |         WHEN actual_completion_rate > 94.5 THEN 'Medium Performance'
        |         ELSE 'Low Performance' END AS performance_category
        |  FROM feat
        |), ma AS (
        |  SELECT genre,
        |    CAST(count(*) AS BIGINT) AS sample_size,
        |    list_reduce(list_sort(list(abs(predicted_viewers - CAST(actual_viewers AS DOUBLE)) / CAST(actual_viewers AS DOUBLE))
        |        FILTER (predicted_viewers IS NOT NULL)), (a, b) -> a + b)
        |      / count(predicted_viewers) * 100 AS genre_mape,
        |    list_reduce(list_sort(list(abs(predicted_success_score * 100 - actual_completion_rate))
        |        FILTER (predicted_success_score IS NOT NULL)), (a, b) -> a + b)
        |      / count(predicted_success_score) AS completion_mae
        |  FROM pp WHERE actual_viewers > 0
        |  GROUP BY 1 HAVING count(*) >= 10
        |)
        |SELECT pp.content_id, pp.title, pp.content_type, pp.genre, pp.imdb_rating,
        |  pp.predicted_success_score, pp.predicted_viewers, pp.actual_viewers,
        |  pp.actual_completion_rate, pp.performance_category,
        |  CASE WHEN ma.genre_mape < 185000 THEN 'High Confidence'
        |       WHEN ma.genre_mape BETWEEN 185000 AND 192000 THEN 'Medium Confidence'
        |       ELSE 'Low Confidence' END AS prediction_confidence,
        |  CASE WHEN pp.predicted_success_score > 3.9 AND pp.predicted_viewers > 12000 THEN 'Strong Acquire'
        |       WHEN pp.predicted_success_score > 3.5 AND pp.predicted_viewers > 10000 THEN 'Consider Acquire'
        |       WHEN pp.predicted_success_score < 3.2 OR pp.predicted_viewers < 8500 THEN 'Reject'
        |       ELSE 'Further Analysis Needed' END AS acquisition_recommendation
        |FROM pp LEFT JOIN ma ON ma.genre = pp.genre
        |WHERE pp.actual_viewers > 0
        |ORDER BY pp.predicted_success_score DESC, pp.content_id""".stripMargin) { t =>
      val va = graft.CacheScope.trackedCache(t.lineitem
        .filter(col("l_shipdate") > start.tsLit && col("l_shipdate") <= asOf.tsLit)
        .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(
          col("l_partkey").as("content_id"),
          col("l_suppkey").as("actor_id"),
          col("o_custkey").as("viewer_id"),
          col("l_shipdate").as("view_ts"),
          ((lit(1.0) - col("l_discount")) * 100).cast("double").as("completion"))
        .withColumn("added_date",
          min(col("view_ts")).over(Window.partitionBy(col("content_id")))))

      val hp = va.groupBy(col("content_id"))
        .agg(
          max(col("added_date")).as("added_date"),
          size(collect_set(col("viewer_id"))).cast("long").as("actual_viewers"),
          count(lit(1)).cast("long").as("total_views"),
          (sum(col("completion").cast(D20_6)).cast("double") / count(lit(1)))
            .as("actual_completion_rate"),
          size(collect_set(to_date(col("view_ts")))).cast("long").as("active_days"),
          size(collect_set(when(
            col("view_ts") >= col("added_date") + expr("INTERVAL 31 DAY") &&
              col("view_ts") <= col("added_date") + expr("INTERVAL 90 DAY"),
            col("viewer_id")))).cast("long").as("long_term_viewers"))
        .filter(col("added_date") <= asOf.tsLit - expr("INTERVAL 90 DAY"))

      val partDim = t.part.select(col("p_partkey"), col("p_name").as("title"),
        concat(lit("G"), (substring(col("p_brand"), 7, 10).cast("long") % 5).cast("string"))
          .as("genre"),
        split(col("p_type"), " ").getItem(0).as("content_type"),
        col("p_brand").as("director_id"))

      val cf = graft.CacheScope.trackedCache(hp
        .join(dimBroadcast(partDim), col("p_partkey") === col("content_id"))
        .drop("p_partkey")
        .withColumn("release_year", year(col("added_date")).cast("long"))
        .withColumn("added_month", month(col("added_date")).cast("long"))
        .withColumn("imdb_rating",
          (col("content_id") % 56).cast("double") / lit(10).cast("double") +
            lit(3.5).cast("double")))

      // content_actors bridge: top-3 suppliers per content, rank riding
      // the fact's content clustering (the q65 pairCap device)
      val bridge = va.groupBy(col("content_id"), col("actor_id"))
        .agg(count(lit(1)).as("nl"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("content_id"))
            .orderBy(col("nl").desc, col("actor_id"))))
        .filter(col("rk") <= 3)
        .select(col("content_id"), col("actor_id"))

      // pair dedup folds into the per-content collect_set (one
      // content_id exchange shipping bounded ~180-id sets) instead of
      // a distinct over the materialized pair frame (which cost a
      // second full exchange on (content, other) — 3.6M rows at
      // sf0.1); the rating average is a sorted-array fold, identical
      // expression on both engines
      val af = bridge
        .join(bridge.select(col("actor_id"), col("content_id").as("other_id")),
          Seq("actor_id"))
        .filter(col("other_id") =!= col("content_id"))
        .groupBy(col("content_id"))
        .agg(sort_array(collect_set(col("other_id"))).as("others"))
        .select(col("content_id"),
          (aggregate(transform(col("others"),
            x => (x % 56).cast("double") / lit(10).cast("double") + lit(3.5).cast("double")),
            lit(0.0), (a, b) => a + b) / size(col("others")).cast("double"))
            .as("actor_avg_rating"))

      val gyWin = Window.partitionBy(col("genre")).orderBy(col("release_year"))
        .rangeBetween(-5, -1)
      val gf = va.select(col("content_id"), col("completion"))
        .join(cf.select(col("content_id"), col("genre"), col("release_year")),
          Seq("content_id"))
        .groupBy(col("genre"), col("release_year"))
        .agg(sum(col("completion").cast(D20_6)).as("comp_sum"), count(lit(1)).as("cnt"))
        .withColumn("win_comp", sum(col("comp_sum")).over(gyWin))
        .withColumn("win_cnt", sum(col("cnt")).over(gyWin))
        .select(col("genre"), col("release_year"),
          when(col("win_cnt") > 0, col("win_comp").cast("double") / col("win_cnt"))
            .as("genre_avg_completion"))

      val dir = cf.groupBy(col("director_id"))
        .agg(sum(when(col("imdb_rating") > 7.0, 1).otherwise(0)).cast("long")
          .as("director_high_rated"))

      val pp = cf
        .join(af, Seq("content_id"), "left")
        .join(broadcast(gf), Seq("genre", "release_year"), "left")
        .join(broadcast(dir), Seq("director_id"), "left")
        .withColumn("director_high_rated_content",
          coalesce(col("director_high_rated"), lit(0L)))
        .withColumn("seasonal_multiplier",
          when(col("genre").isin("G0", "G1") && col("added_month").isin(10, 11), 1.2)
            .when(col("genre").isin("G2", "G3") && col("added_month").isin(2, 12), 1.15)
            .when(col("genre") === "G4" && col("added_month").isin(6, 7), 1.1)
            .otherwise(1.0))
        .withColumn("predicted_success_score",
          col("imdb_rating") * 0.25 + col("actor_avg_rating") * 0.20 +
            col("genre_avg_completion") / 100 * 0.15 +
            (col("director_high_rated_content").cast("double") / 10) * 0.10 +
            col("seasonal_multiplier") * 0.30)
        .withColumn("predicted_viewers",
          col("imdb_rating") * 1000 + col("actor_avg_rating") * 500 +
            col("genre_avg_completion") * 10)
        .withColumn("performance_category",
          when(col("actual_completion_rate") > 95.5, "High Performance")
            .when(col("actual_completion_rate") > 94.5, "Medium Performance")
            .otherwise("Low Performance"))

      val ppScored = graft.CacheScope.trackedCache(pp.filter(col("actual_viewers") > 0))

      val ma = ppScored.groupBy(col("genre"))
        .agg(
          count(lit(1)).cast("long").as("sample_size"),
          (foldAvg(
            abs(col("predicted_viewers") - col("actual_viewers").cast("double")) /
              col("actual_viewers").cast("double"),
            count(col("predicted_viewers"))) * 100).as("genre_mape"),
          foldAvg(abs(col("predicted_success_score") * 100 - col("actual_completion_rate")),
            count(col("predicted_success_score"))).as("completion_mae"))
        .filter(col("sample_size") >= 10)

      ppScored
        .join(broadcast(ma.select(col("genre"), col("genre_mape"))), Seq("genre"), "left")
        .withColumn("prediction_confidence",
          when(col("genre_mape") < 185000, "High Confidence")
            .when(col("genre_mape").between(185000, 192000), "Medium Confidence")
            .otherwise("Low Confidence"))
        .withColumn("acquisition_recommendation",
          when(col("predicted_success_score") > 3.9 && col("predicted_viewers") > 12000,
            "Strong Acquire")
            .when(col("predicted_success_score") > 3.5 && col("predicted_viewers") > 10000,
              "Consider Acquire")
            .when(col("predicted_success_score") < 3.2 || col("predicted_viewers") < 8500,
              "Reject")
            .otherwise("Further Analysis Needed"))
        .select(col("content_id"), col("title"), col("content_type"), col("genre"),
          col("imdb_rating"), col("predicted_success_score"), col("predicted_viewers"),
          col("actual_viewers"), col("actual_completion_rate"),
          col("performance_category"), col("prediction_confidence"),
          col("acquisition_recommendation"))
        .orderBy(col("predicted_success_score").desc_nulls_last, col("content_id"))
    }
  }

  val q75: Q = q75For(defaultAsOf, defaultLookbackDays)

  def all: Seq[Q] = Seq(q75)
}
