package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QuerySpec, Tables}

/** Batch twins of the reference's streaming query surface (Nexmark
  * Q1/Q2/Q3/Q5/Q8/Q11 analogs), expressed over the driver's `events`
  * table. The streaming forms (graft.streaming) share these exact
  * DataFrame expressions over a streaming source; the batch twins are
  * what the DuckDB oracle checks (SURVEY §5).
  */
object EventQueries {

  private val dec = DecimalType(18, 2)

  /** Nexmark Q1 analog — per-record mapping (currency conversion).
    * Reference: Query1.java:62-85 `dollarToEuro`, truncating
    * `(long)(0.82*price)`; floor() mirrors the truncation for
    * non-negative values and is IEEE-deterministic per row. */
  def e1MapCurrency(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 0.82).cast("long").as("eur"),
        col("event_type"))
      .orderBy(col("event_id"))

  val e1MapCurrencySql: String =
    """SELECT event_id, user_id, CAST(FLOOR(value * 0.82) AS BIGINT) AS eur, event_type
      |FROM events ORDER BY event_id""".stripMargin

  /** Nexmark Q2 analog — selection (auction % k) + projection.
    * Reference: Query2.java:59-69. */
  def e2Filter(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id") % 5 === 0 && col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  val e2FilterSql: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE user_id % 5 = 0 AND event_type = 'click'
      |ORDER BY event_id""".stripMargin

  /** Nexmark Q3 analog — filtered stream ⋈ dimension (persons⋈auctions
    * becomes events⋈customer). Reference: Query3.java:71-155. The
    * customer side is broadcast (small dim). */
  def e3JoinDim(s: SparkSession, dir: String): DataFrame =
    EventSemantics.dimJoin(Tables.events(s, dir), Tables.customer(s, dir))
      .orderBy(col("event_id"))

  val e3JoinDimSql: String =
    """SELECT event_id, user_id, c_name, c_mktsegment
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'purchase' AND c_mktsegment IN ('BUILDING','AUTOMOBILE')
      |ORDER BY event_id""".stripMargin

  /** Nexmark Q5 analog — tumbling-window count ("hot items").
    * Reference: Query5.java:79-143 (sliding variant below). */
  def e5TumblingHourly(s: SparkSession, dir: String): DataFrame =
    EventSemantics.tumblingHourly(Tables.events(s, dir))
      .orderBy(col("hour"), col("event_type"))

  val e5TumblingHourlySql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Nexmark Q5 analog, sliding window (size 2h, slide 1h): each event
    * lands in 2 hourly-aligned windows. The oracle expands the slide
    * explicitly via UNION ALL of the two shifted assignments. */
  def e5SlidingHot(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:00").as("win_start"),
        col("event_type"), col("n"))
      .orderBy(col("win_start"), col("event_type"))

  val e5SlidingHotSql: String =
    """SELECT strftime(win_start, '%Y-%m-%d %H:00') AS win_start, event_type, COUNT(*) AS n
      |FROM (
      |  SELECT date_trunc('hour', ts) AS win_start, event_type FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS win_start, event_type FROM events)
      |GROUP BY win_start, event_type ORDER BY win_start, event_type""".stripMargin

  /** Nexmark Q8 analog — windowed stream-stream equi-join: users who
    * signed up and purchased within the same tumbling hour.
    * Reference: Query8.java:101-120 (join on window equality). */
  def e8WindowJoin(s: SparkSession, dir: String): DataFrame =
    EventSemantics.windowJoin(Tables.events(s, dir))
      .orderBy(col("user_id"), col("su_event"), col("pu_event"))

  val e8WindowJoinSql: String =
    """SELECT s.user_id AS user_id,
      |  strftime(date_trunc('hour', s.ts), '%Y-%m-%d %H:00') AS hour,
      |  s.event_id AS su_event, p.event_id AS pu_event
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON s.user_id = p.user_id
      | AND date_trunc('hour', s.ts) = date_trunc('hour', p.ts)
      |ORDER BY user_id, su_event, pu_event""".stripMargin

  /** Nexmark Q11 analog — session windows (30 min gap) per user.
    * Reference: Query11.java:72-81 (EventTimeSessionWindows). The
    * oracle reconstructs sessions with the gaps-and-islands pattern;
    * its gap comparison is STRICT `<` because Spark's session_window
    * is half-open [ts, ts+gap): an event exactly gap after its
    * predecessor starts a NEW session (verified on Spark 4.1.2) — a
    * `<=` oracle would merge it and hash-mismatch on any corpus with
    * an exactly-aligned gap. */
  def e11Sessions(s: SparkSession, dir: String): DataFrame =
    EventSemantics.sessions(Tables.events(s, dir))
      .orderBy(col("user_id"), col("session_start"))

  val e11SessionsSql: String =
    """SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_sess
      |    FROM events))
      |GROUP BY user_id, sess_id ORDER BY user_id, session_start""".stripMargin

  /** Word-count analog over event props (the reference's
    * StatefulWordCount batch twin): tokenize + per-word counts.
    * Reference: flinkapp/wordcount/StatefulWordCount.java:82-133. */
  def eWordCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(graft.functions.GraftFunctions.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  val eWordCountSql: String =
    """SELECT word, COUNT(*) AS n FROM (
      |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
      |  FROM documents)
      |WHERE length(word) > 0 GROUP BY word ORDER BY word""".stripMargin

  /** Key-group distribution audit — mirrors the reference's key-group
    * routing unit (KeyGroupRangeAssignment.java) with a portable
    * modulo assignment so the oracle can reproduce it. The
    * murmur-based production form is GraftFunctions.keygroup. */
  def eKeygroups(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(pmod(col("user_id"), lit(128)).as("keygroup"))
      .groupBy(col("keygroup")).agg(count(lit(1)).as("n"))
      .orderBy(col("keygroup"))

  // floored mod on the oracle side: DuckDB's % keeps the dividend's
  // sign while Spark's pmod is always non-negative — identical on the
  // generator's user_id >= 0, but the definitions must agree for ANY
  // corpus or a negative id silently lands in a different keygroup
  val eKeygroupsSql: String =
    """SELECT ((user_id % 128) + 128) % 128 AS keygroup, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY keygroup""".stripMargin

  /** JSON extraction from the props payload — per-row semi-structured
    * access (get_json_object ⇒ codegen'd path). */
  def eJsonProps(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      // NULLS LAST on BOTH sides: Spark's bare ASC is nulls-first,
      // DuckDB's is nulls-last — a props payload missing $.k (legal
      // JSON, absent key) would otherwise sort its NULL group to
      // opposite ends and fail the order-sensitive hash compare.
      // (Outright MALFORMED props remains a corpus contract: DuckDB's
      // json_extract errors on it where get_json_object returns NULL.)
      .orderBy(col("k").asc_nulls_last)

  val eJsonPropsSql: String =
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n
      |FROM events GROUP BY 1 ORDER BY k NULLS LAST""".stripMargin

  /** Time-interval join (the Flink interval-join operator family):
    * purchases by the same user within 30 minutes AFTER a click.
    * Plan shape at scale: an EQUI join on user_id (one shuffle per
    * side) with the time bound as a post-join filter — never a range
    * cross product. Streaming twin: [[graft.streaming.EventStream]]
    * intervalJoin (stream-stream with the same bound as the state
    * eviction constraint). */
  def eIntervalJoin(s: SparkSession, dir: String): DataFrame =
    EventSemantics.intervalJoin(Tables.events(s, dir))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))

  val eIntervalJoinSql: String =
    """SELECT c.user_id AS user_id, c.event_id AS click_id,
      |  p.event_id AS purchase_id,
      |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
      |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |  p.value AS value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON p.user_id = c.user_id
      | AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  /** Pivot (dynamic column spread): daily event counts as one column
    * per event type. Spark expands the pivot to conditional aggregates
    * in a single shuffle on the grouping key; explicit value list
    * keeps the schema static (required at scale — an implicit pivot
    * would need a distinct-scan first). */
  def ePivotDaily(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("day"))
  }

  val ePivotDailySql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Set operations (INTERSECT / EXCEPT over distinct key sets):
    * segment users by click∩purchase vs click∖purchase. Both set ops
    * are one aggregation-shaped shuffle on user_id. */
  def eSetSegments(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val clickers = ev.filter(col("event_type") === "click")
      .select(col("user_id")).distinct()
    val buyers = ev.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    clickers.intersect(buyers)
      .withColumn("segment", lit("click_and_buy"))
      .union(clickers.except(buyers)
        .withColumn("segment", lit("click_only")))
      .select(col("segment"), col("user_id"))
      .orderBy(col("segment"), col("user_id"))
  }

  val eSetSegmentsSql: String =
    """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
      |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
      |SELECT 'click_and_buy' AS segment, user_id FROM (
      |  SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
      |UNION ALL
      |SELECT 'click_only' AS segment, user_id FROM (
      |  SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
      |ORDER BY segment, user_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("e_interval_join", eIntervalJoin, Some(eIntervalJoinSql)),
    QuerySpec("e_pivot_daily", ePivotDaily, Some(ePivotDailySql)),
    QuerySpec("e_set_segments", eSetSegments, Some(eSetSegmentsSql)),
    QuerySpec("e1_map_currency", e1MapCurrency, Some(e1MapCurrencySql)),
    QuerySpec("e2_filter", e2Filter, Some(e2FilterSql)),
    QuerySpec("e3_join_dim", e3JoinDim, Some(e3JoinDimSql)),
    QuerySpec("e5_tumbling_hourly", e5TumblingHourly, Some(e5TumblingHourlySql)),
    QuerySpec("e5_sliding_hot", e5SlidingHot, Some(e5SlidingHotSql)),
    QuerySpec("e8_window_join", e8WindowJoin, Some(e8WindowJoinSql)),
    QuerySpec("e11_sessions", e11Sessions, Some(e11SessionsSql)),
    QuerySpec("e_word_count", eWordCount, Some(eWordCountSql)),
    QuerySpec("e_keygroups", eKeygroups, Some(eKeygroupsSql)),
    QuerySpec("e_json_props", eJsonProps, Some(eJsonPropsSql)))
}
