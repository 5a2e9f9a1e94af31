package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}

/** User-behavior analytics over the event stream: ordered funnel
  * conversion and cohort retention — the two canonical shapes a
  * product-analytics workload runs on a clickstream (the reference's
  * per-key ProcessorFunction composition reaches the same results
  * one keyed state machine at a time; SURVEY §2.9).
  *
  * Both are ONE shuffle on user_id: every per-user statistic
  * (first-view / first-click-after / first-purchase-after, cohort
  * day) is a window over that partitioning, never a join-back.
  * Timestamps are compared as epoch MICROSECONDS on both engines —
  * the parquet column is TIMESTAMP(NANOS), Spark's reader truncates
  * to µs, so the oracle must truncate identically (`epoch_us`) or
  * strict inequalities disagree on sub-µs ties.
  */
object BehaviorQueries {

  /** Ordered three-stage funnel view → click → purchase: per user the
    * first view, the first click strictly after it, the first
    * purchase strictly after that; one row of stage-reach counts.
    * Each stage's window references the previous stage's column —
    * three Window nodes, all on the user_id partitioning, zero extra
    * exchanges. */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelStages(s, dir).agg(
      count(when(col("mv").isNotNull, 1)).as("n_view"),
      count(when(col("mc").isNotNull, 1)).as("n_click"),
      count(when(col("mp").isNotNull, 1)).as("n_purchase"))

  /** The funnel's per-user stage frame (first view / first click
    * after / first purchase after, as nullable epoch-µs), used by the
    * streaming twin's parity spec AND as [[funnel]]'s input — ONE copy
    * of the three-stage window chain, so the headline counts and the
    * parity-tested frame can never drift apart. The frame is one row
    * per user (distinct over per-user-constant columns), so funnel's
    * stage counts are plain conditional counts over it. */
  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("mv",
        min(when(col("event_type") === "view", col("tus"))).over(w))
      .withColumn("mc",
        min(when(col("event_type") === "click" && col("tus") > col("mv"),
          col("tus"))).over(w))
      .withColumn("mp",
        min(when(col("event_type") === "purchase" && col("tus") > col("mc"),
          col("tus"))).over(w))
      .select(col("user_id"), col("mv"), col("mc"), col("mp"))
      .distinct()
  }

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      |v AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN tus END) AS mv
      |  FROM e GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, MIN(tus) AS mc
      |  FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND tus > mv GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, MIN(tus) AS mp
      |  FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND tus > mc GROUP BY e.user_id)
      |SELECT
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM v WHERE mv IS NOT NULL) AS n_view,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase""".stripMargin

  /** Cohort retention: users grouped by first-activity day, then
    * distinct active users per (cohort, day-offset) cell. The cohort
    * day is a min-window over user_id; the distinct collapses
    * (user, cohort, day) before the cell count so a user counts once
    * per day. */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort", min(col("day")).over(w))
      .select(col("user_id"), col("cohort"), col("day")).distinct()
      .select(col("user_id"),
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        datediff(col("day"), col("cohort")).as("day_offset"))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("day_offset"))
  }

  val cohortRetentionSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY user_id),
      |a AS (SELECT DISTINCT e.user_id, cohort, day FROM e JOIN c USING (user_id))
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
      |  CAST(date_diff('day', cohort, day) AS BIGINT) AS day_offset,
      |  CAST(COUNT(*) AS BIGINT) AS n_users
      |FROM a GROUP BY cohort, day_offset
      |ORDER BY cohort, day_offset""".stripMargin

  /** 3-sigma outlier detection per event type: population moments in
    * EXACT decimal (Σv, Σv² never see float rounding), converted to
    * mean/std at the double edge — sqrt and division are correctly
    * rounded IEEE ops, so the boundary `value > mean + 3σ` lands
    * identically in every engine and even this float-thresholded
    * operator hash-matches. Stats are 5 rows ⇒ broadcast back onto
    * the scan; one aggregation shuffle total. */
  def anomalies(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 2)
    val v = col("value").cast(dec)
    val st = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(v).as("s0"), sum(v * v).as("s2"))
    val mean = col("s0").cast("double") / col("n")
    val m = st.select(col("event_type"), mean.as("mean"),
      sqrt(col("s2").cast("double") / col("n") - mean * mean).as("std"))
    Tables.events(s, dir)
      .join(broadcast(m), Seq("event_type"))
      .filter(col("value") > col("mean") + lit(3) * col("std"))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - col("mean")) / col("std")).as("deviation"))
      .orderBy(col("event_id"))
  }

  val anomaliesSql: String =
    """WITH st AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS s0,
      |    SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS s2
      |  FROM events GROUP BY event_type),
      |m AS (
      |  SELECT event_type,
      |    CAST(s0 AS DOUBLE) / n AS mean,
      |    sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s0 AS DOUBLE) / n) * (CAST(s0 AS DOUBLE) / n)) AS std
      |  FROM st)
      |SELECT event_id, e.event_type, value,
      |  (value - mean) / std AS deviation
      |FROM events e JOIN m ON m.event_type = e.event_type
      |WHERE value > mean + 3 * std
      |ORDER BY event_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("e_funnel", funnel, Some(funnelSql)),
    QuerySpec("e_cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    QuerySpec("e_anomaly", anomalies, Some(anomaliesSql)))
}
