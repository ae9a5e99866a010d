package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{AsOf, Q}
import graft.functions.det.foldAvg

/** q74: the nineteenth full reference analysis end-to-end — Test
  * Analysis (A/B test of a UI/UX change, /root/reference/SQL/Test
  * Analysis.txt:1-130; pyspark twin) as one oracle-checked
  * composition: deterministic `profile_id % 3` Control/Variant_A/
  * Variant_B assignment (the reference's own device, :8-12) →
  * per-user pre/post engagement metrics (content watched, views,
  * completion, NEW-content discovery vs the pre-test history,
  * session duration, feature usage) → per-(group, period) statistical
  * frame (exact-moment stddevs, z-score vs the Control of the same
  * period) → Test_Period lifts vs Control → significance ladder →
  * weighted overall-impact score → business recommendation.
  *
  * Reference → testdata mapping (SURVEY §3): profiles→event users
  * (every distinct user_id with an event before asOf),
  * viewing_history→'view' events (completion = value, content =
  * props.k per q64), the hypothetical new-feature usage→'purchase'
  * events in the user's window. The reference's created_date period
  * split becomes `user_id % 2` (profiles "created" in the second
  * fortnight are the Test_Period cohort): the real first-event dates
  * all cluster on the stream's first day at every SF, so a
  * data-derived creation date puts ~every user in Pre_Test — the
  * deterministic split is the same kind of device as the reference's
  * own `% 3` group assignment. Pre_Test users are measured on
  * [asOf−2·half, asOf−half), Test_Period users on [asOf−half, asOf)
  * (half = 15 days over the one-month event stream vs the
  * reference's 60-day halves).
  *
  * Deviations (documented): (a) session duration — events carry no
  * end timestamp, so duration = minutes to the user's NEXT view
  * (q06 lead-gap machinery) capped at 2880; the reference's
  * TIMESTAMPDIFF(start, end) needs a column that does not exist
  * here. (b) new-content discovery's correlated NOT IN (:31-36) is
  * re-expressed as "the user's first-ever view of that content falls
  * after test start" — a per-(user, content) window min instead of a
  * per-row correlated subquery, exactly equivalent. (c)
  * avg_session_duration and avg_feature_usage are SURFACED as output
  * columns (the reference computes them and drops them; surfacing
  * keeps the machinery oracle-checked — the q65
  * avg_connection_strength rule). (d) distinct counts ride
  * size(collect_set(...)) so the per-user aggregate stays
  * Expand-free (q62's rule).
  *
  * Plan shape at scale: TWO pruned events scans for metrics (views,
  * purchases) plus one user_id-only scan for the population frame;
  * the view branch puts its windows (per-(user, content) first-view
  * min and per-user lead) and its per-user aggregate on ONE user_id
  * exchange; population/view/purchase frames co-join on user_id; the
  * statistical frame is 6 rows, Control is a broadcast, and every
  * ladder is a pure column expression.
  */
object AbTest {

  val defaultAsOf: AsOf = AsOf("2024-01-31")
  val defaultHalfWindowDays = 15

  def q74For(asOf: AsOf, halfWindowDays: Int): Q = {
    val testStart = asOf.minusDays(halfWindowDays)
    val preStart = testStart.minusDays(halfWindowDays)

    val zLadder =
      s"""CASE WHEN abs(z_raw) > 1.96 THEN '95% Confidence'
         |       WHEN abs(z_raw) > 1.645 THEN '90% Confidence'
         |       ELSE 'Not Significant' END""".stripMargin
    val impact =
      s"""(CASE WHEN z_raw > 0 THEN 1 ELSE -1 END * 0.4 +
         |   CASE WHEN (avg_completion_rate - c_completion) > 0 THEN 1 ELSE -1 END * 0.3 +
         |   CASE WHEN (avg_new_content - c_new) > 0 THEN 1 ELSE -1 END * 0.3)""".stripMargin

    Q.of(
      "q74_ab_test",
      s"""WITH pop AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 3 = 0 THEN 'Control'
        |         WHEN user_id % 3 = 1 THEN 'Variant_A' ELSE 'Variant_B' END AS test_group,
        |    CASE WHEN user_id % 2 = 1 THEN 'Test_Period' ELSE 'Pre_Test' END AS period
        |  FROM (SELECT DISTINCT user_id FROM events WHERE ts <= ${asOf.sqlTs})
        |), vwall AS (
        |  SELECT user_id, ts,
        |    CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS v_content,
        |    value AS completion,
        |    min(ts) OVER (PARTITION BY user_id, CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS first_ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
        |  FROM events WHERE event_type = 'view' AND ts <= ${asOf.sqlTs}
        |), vwin AS (
        |  SELECT user_id, v_content, completion, first_ts,
        |    CASE WHEN next_ts IS NULL THEN NULL
        |         ELSE least(CAST((epoch_us(next_ts) - epoch_us(ts)) // 60000000 AS BIGINT), 2880) END AS duration_minutes
        |  FROM vwall
        |  WHERE (user_id % 2 = 1 AND ts >= ${testStart.sqlTs} AND ts < ${asOf.sqlTs})
        |     OR (user_id % 2 = 0 AND ts >= ${preStart.sqlTs} AND ts < ${testStart.sqlTs})
        |), vm AS (
        |  SELECT user_id,
        |    CAST(count(DISTINCT v_content) AS BIGINT) AS content_watched,
        |    CAST(count(*) AS BIGINT) AS total_views,
        |    CAST(SUM(CAST(completion AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS completion_rate,
        |    CAST(count(DISTINCT CASE WHEN first_ts >= ${testStart.sqlTs} THEN v_content END) AS BIGINT) AS new_content_discovered,
        |    CASE WHEN count(duration_minutes) > 0 THEN
        |      CAST(CAST(SUM(duration_minutes) AS BIGINT) AS DOUBLE) / count(duration_minutes) END AS avg_session_duration
        |  FROM vwin GROUP BY 1
        |), pm AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS feature_usage
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND ((user_id % 2 = 1 AND ts >= ${testStart.sqlTs} AND ts < ${asOf.sqlTs})
        |      OR (user_id % 2 = 0 AND ts >= ${preStart.sqlTs} AND ts < ${testStart.sqlTs}))
        |  GROUP BY 1
        |), um AS (
        |  SELECT p.test_group, p.period, p.user_id,
        |    COALESCE(vm.content_watched, 0) AS content_watched,
        |    COALESCE(vm.total_views, 0) AS total_views,
        |    vm.completion_rate,
        |    COALESCE(vm.new_content_discovered, 0) AS new_content_discovered,
        |    vm.avg_session_duration,
        |    COALESCE(pm.feature_usage, 0) AS feature_usage
        |  FROM pop p
        |  LEFT JOIN vm ON vm.user_id = p.user_id
        |  LEFT JOIN pm ON pm.user_id = p.user_id
        |), sa AS (
        |  SELECT test_group, period,
        |    CAST(count(*) AS BIGINT) AS user_count,
        |    CAST(CAST(SUM(content_watched) AS BIGINT) AS DOUBLE) / count(*) AS avg_content_watched,
        |    CAST(CAST(SUM(total_views) AS BIGINT) AS DOUBLE) / count(*) AS avg_total_views,
        |    CASE WHEN count(completion_rate) > 0 THEN
        |      list_reduce(list_sort(list(completion_rate) FILTER (completion_rate IS NOT NULL)), (a, b) -> a + b) / count(completion_rate) END AS avg_completion_rate,
        |    CAST(CAST(SUM(new_content_discovered) AS BIGINT) AS DOUBLE) / count(*) AS avg_new_content,
        |    CASE WHEN count(avg_session_duration) > 0 THEN
        |      list_reduce(list_sort(list(avg_session_duration) FILTER (avg_session_duration IS NOT NULL)), (a, b) -> a + b) / count(avg_session_duration) END AS avg_session_duration,
        |    CAST(CAST(SUM(feature_usage) AS BIGINT) AS DOUBLE) / count(*) AS avg_feature_usage,
        |    sqrt((CAST(count(*) AS DOUBLE) * CAST(SUM(CAST(content_watched * content_watched AS DECIMAL(28,6))) AS DOUBLE)
        |        - CAST(SUM(CAST(content_watched AS DECIMAL(28,6))) AS DOUBLE) * CAST(SUM(CAST(content_watched AS DECIMAL(28,6))) AS DOUBLE))
        |       / (CAST(count(*) AS DOUBLE) * (CAST(count(*) AS DOUBLE) - 1.0))) AS std_content_watched_raw,
        |    sqrt((CAST(count(*) AS DOUBLE) * CAST(SUM(CAST(total_views * total_views AS DECIMAL(28,6))) AS DOUBLE)
        |        - CAST(SUM(CAST(total_views AS DECIMAL(28,6))) AS DOUBLE) * CAST(SUM(CAST(total_views AS DECIMAL(28,6))) AS DOUBLE))
        |       / (CAST(count(*) AS DOUBLE) * (CAST(count(*) AS DOUBLE) - 1.0))) AS std_total_views_raw
        |  FROM um GROUP BY 1, 2
        |), ctrl AS (
        |  SELECT period, avg_content_watched AS c_content, avg_completion_rate AS c_completion,
        |    avg_new_content AS c_new
        |  FROM sa WHERE test_group = 'Control'
        |), saz AS (
        |  SELECT sa.*,
        |    (sa.avg_content_watched - c.c_content) / greatest(sa.std_content_watched_raw, 0.001) AS z_raw,
        |    c.c_content, c.c_completion, c.c_new
        |  FROM sa JOIN ctrl c ON c.period = sa.period
        |)
        |SELECT test_group, user_count, avg_content_watched, avg_completion_rate, avg_new_content,
        |  avg_session_duration, avg_feature_usage,
        |  round(std_content_watched_raw, 4) AS std_content_watched,
        |  round(std_total_views_raw, 4) AS std_total_views,
        |  round(z_raw, 4) AS content_watched_z_score,
        |  (avg_content_watched / c_content - 1) * 100 AS content_watched_lift,
        |  (avg_completion_rate / c_completion - 1) * 100 AS completion_lift,
        |  (avg_new_content / c_new - 1) * 100 AS discovery_lift,
        |  $zLadder AS statistical_significance,
        |  $impact AS overall_impact_score,
        |  CASE WHEN $impact > 0.5 AND ($zLadder) != 'Not Significant' THEN 'Implement Feature'
        |       WHEN $impact > 0.2 AND ($zLadder) != 'Not Significant' THEN 'Consider Implementation'
        |       WHEN $impact < -0.2 THEN 'Reject Feature'
        |       ELSE 'Requires More Testing' END AS business_recommendation
        |FROM saz
        |WHERE period = 'Test_Period'
        |ORDER BY test_group""".stripMargin) { t =>
      val D20_6 = graft.functions.det.D20_6
      val D28_6 = graft.functions.det.D28_6
      val k = regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long")

      val inTest = col("ts") >= testStart.tsLit && col("ts") < asOf.tsLit
      val inPre = col("ts") >= preStart.tsLit && col("ts") < testStart.tsLit
      val windowOfUser = (col("user_id") % 2 === 1 && inTest) ||
        (col("user_id") % 2 === 0 && inPre)

      val pop = t.events.filter(col("ts") <= asOf.tsLit)
        .select(col("user_id")).distinct()
        .select(col("user_id"),
          when(col("user_id") % 3 === 0, "Control")
            .when(col("user_id") % 3 === 1, "Variant_A")
            .otherwise("Variant_B").as("test_group"),
          when(col("user_id") % 2 === 1, "Test_Period")
            .otherwise("Pre_Test").as("period"))

      val vwall = t.events.filter(col("event_type") === "view" && col("ts") <= asOf.tsLit)
        .select(col("user_id"), col("ts"), col("event_id"),
          k.as("v_content"), col("value").as("completion"))
        .withColumn("first_ts",
          min(col("ts")).over(Window.partitionBy(col("user_id"), col("v_content"))))
        .withColumn("next_ts",
          lead(col("ts"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))

      val vm = vwall.filter(windowOfUser)
        .withColumn("duration_minutes",
          when(col("next_ts").isNotNull,
            least(expr("(unix_micros(next_ts) - unix_micros(ts)) div 60000000"), lit(2880L))))
        .groupBy(col("user_id"))
        .agg(
          size(collect_set(col("v_content"))).cast("long").as("content_watched"),
          count(lit(1)).cast("long").as("total_views"),
          (sum(col("completion").cast(D20_6)).cast("double") / count(lit(1)))
            .as("completion_rate"),
          size(collect_set(when(col("first_ts") >= testStart.tsLit, col("v_content"))))
            .cast("long").as("new_content_discovered"),
          when(count(col("duration_minutes")) > 0,
            sum(col("duration_minutes")).cast("long").cast("double") /
              count(col("duration_minutes"))).as("avg_session_duration"))

      val pm = t.events.filter(col("event_type") === "purchase" && windowOfUser)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("feature_usage"))

      val um = pop
        .join(vm, Seq("user_id"), "left")
        .join(pm, Seq("user_id"), "left")
        .select(col("test_group"), col("period"), col("user_id"),
          coalesce(col("content_watched"), lit(0L)).as("content_watched"),
          coalesce(col("total_views"), lit(0L)).as("total_views"),
          col("completion_rate"),
          coalesce(col("new_content_discovered"), lit(0L)).as("new_content_discovered"),
          col("avg_session_duration"),
          coalesce(col("feature_usage"), lit(0L)).as("feature_usage"))

      def dstd(x: Column): Column = {
        val n = count(lit(1)).cast("double")
        val sx = sum(x.cast(D28_6)).cast("double")
        val sxx = sum((x * x).cast(D28_6)).cast("double")
        sqrt((n * sxx - sx * sx) / (n * (n - lit(1.0))))
      }

      // cached: the Control frame below re-reads this 6-row frame
      // instead of recomputing the whole per-user subtree
      val sa = graft.CacheScope.trackedCache(um.groupBy(col("test_group"), col("period"))
        .agg(
          count(lit(1)).cast("long").as("user_count"),
          (sum(col("content_watched")).cast("long").cast("double") / count(lit(1)))
            .as("avg_content_watched"),
          (sum(col("total_views")).cast("long").cast("double") / count(lit(1)))
            .as("avg_total_views"),
          when(count(col("completion_rate")) > 0,
            foldAvg(col("completion_rate"), count(col("completion_rate"))))
            .as("avg_completion_rate"),
          (sum(col("new_content_discovered")).cast("long").cast("double") / count(lit(1)))
            .as("avg_new_content"),
          when(count(col("avg_session_duration")) > 0,
            foldAvg(col("avg_session_duration"), count(col("avg_session_duration"))))
            .as("avg_session_duration"),
          (sum(col("feature_usage")).cast("long").cast("double") / count(lit(1)))
            .as("avg_feature_usage"),
          dstd(col("content_watched")).as("std_content_watched_raw"),
          dstd(col("total_views")).as("std_total_views_raw")))

      val ctrl = sa.filter(col("test_group") === "Control")
        .select(col("period"), col("avg_content_watched").as("c_content"),
          col("avg_completion_rate").as("c_completion"),
          col("avg_new_content").as("c_new"))

      val zRaw = (col("avg_content_watched") - col("c_content")) /
        greatest(col("std_content_watched_raw"), lit(0.001))
      val sig = when(abs(col("z_raw")) > 1.96, "95% Confidence")
        .when(abs(col("z_raw")) > 1.645, "90% Confidence")
        .otherwise("Not Significant")
      val impactCol =
        when(col("z_raw") > 0, 1).otherwise(-1) * 0.4 +
          when(col("avg_completion_rate") - col("c_completion") > 0, 1).otherwise(-1) * 0.3 +
          when(col("avg_new_content") - col("c_new") > 0, 1).otherwise(-1) * 0.3

      sa.join(broadcast(ctrl), Seq("period"))
        .withColumn("z_raw", zRaw)
        .filter(col("period") === "Test_Period")
        .withColumn("statistical_significance", sig)
        .withColumn("overall_impact_score", impactCol)
        .withColumn("business_recommendation",
          when(impactCol > 0.5 && sig =!= "Not Significant", "Implement Feature")
            .when(impactCol > 0.2 && sig =!= "Not Significant", "Consider Implementation")
            .when(impactCol < -0.2, "Reject Feature")
            .otherwise("Requires More Testing"))
        .select(col("test_group"), col("user_count"), col("avg_content_watched"),
          col("avg_completion_rate"), col("avg_new_content"),
          col("avg_session_duration"), col("avg_feature_usage"),
          round(col("std_content_watched_raw"), 4).as("std_content_watched"),
          round(col("std_total_views_raw"), 4).as("std_total_views"),
          round(col("z_raw"), 4).as("content_watched_z_score"),
          ((col("avg_content_watched") / col("c_content") - 1) * 100)
            .as("content_watched_lift"),
          ((col("avg_completion_rate") / col("c_completion") - 1) * 100)
            .as("completion_lift"),
          ((col("avg_new_content") / col("c_new") - 1) * 100).as("discovery_lift"),
          col("statistical_significance"), col("overall_impact_score"),
          col("business_recommendation"))
        .orderBy(col("test_group"))
    }
  }

  val q74: Q = q74For(defaultAsOf, defaultHalfWindowDays)

  def all: Seq[Q] = Seq(q74)
}
