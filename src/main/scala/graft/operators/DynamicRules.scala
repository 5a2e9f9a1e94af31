package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType,
  StringType, StructField, StructType}

import graft.{QuerySpec, Tables}
import graft.model.Rule

/** Rule-driven dynamic aggregation — the reference's megaphone fraud
  * engine (reference megaphone/dynamicrules/ControlMessage.java:33-122:
  * a rule declares groupingKeyNames, aggregateFieldName,
  * aggregatorFunctionType ∈ {SUM,AVG,MIN,MAX}, limitOperatorType ∈
  * {=,!=,>,<,>=,<=}, limit and windowMinutes; the engine evaluates
  * every ACTIVE rule over event-time windows per key and emits an
  * Alert when agg ⊕ limit holds).
  *
  * Spark-first: each rule compiles to a windowed groupBy aggregation —
  * the plan is *generated from the rule set* per micro-batch (or batch
  * run), so rules can be added/paused without code changes. Alerts of
  * all rules union into one output. Aggregates run on DECIMAL(18,2)
  * for exactness (the reference accumulates BigDecimal).
  */
object DynamicRules {

  private val dec = DecimalType(18, 2)

  private def aggExpr(r: Rule, valueCol: Column): Column = {
    val d = valueCol.cast(dec)
    r.aggregatorFunctionType match {
      case "SUM" => sum(d).cast("double")
      case "AVG" => sum(d).cast("double") / count(lit(1))
      case "MIN" => min(d).cast("double")
      case "MAX" => max(d).cast("double")
      case other => throw new IllegalArgumentException(s"agg $other")
    }
  }

  private def limitPredicate(r: Rule, value: Column): Column =
    r.limitOperatorType match {
      case "=" => value === r.limit.toDouble
      case "!=" => value =!= r.limit.toDouble
      case ">" => value > r.limit.toDouble
      case "<" => value < r.limit.toDouble
      case ">=" => value >= r.limit.toDouble
      case "<=" => value <= r.limit.toDouble
      case other => throw new IllegalArgumentException(s"op $other")
    }

  /** Evaluate all ACTIVE rules over an event-time window per key.
    * `events` needs a `ts` timestamp column plus the rules' grouping
    * and aggregate columns. Output: (rule_id, win_start, key, value). */
  def evaluate(events: DataFrame, rules: Seq[Rule]): DataFrame = {
    val alerts = rules.filter(_.ruleState == "ACTIVE").map { r =>
      val win = window(col("ts"), s"${r.windowMinutes} minutes")
      val keyCols = r.groupingKeyNames.map(col)
      events
        .groupBy(win +: keyCols: _*)
        .agg(aggExpr(r, col(r.aggregateFieldName)).as("value"))
        .filter(limitPredicate(r, col("value")))
        .select(lit(r.ruleId).cast("long").as("rule_id"),
          date_format(col("window.start"), "yyyy-MM-dd HH:mm").as("win_start"),
          concat_ws("|", keyCols.map(_.cast("string")): _*).as("key"),
          col("value"))
    }
    // no ACTIVE rule (the control stream can pause the last one) ⇒ an
    // EMPTY alerts frame with the contract schema, not
    // empty.reduceLeft's UnsupportedOperationException
    alerts.reduceOption(_ unionByName _)
      .getOrElse {
        val s = events.sparkSession
        s.createDataFrame(s.sparkContext.emptyRDD[Row],
          StructType(Seq(
            StructField("rule_id", LongType),
            StructField("win_start", StringType),
            StructField("key", StringType),
            StructField("value", DoubleType))))
      }
      .orderBy(col("rule_id"), col("win_start"), col("key"))
  }

  /** Parse rules from JSON control messages — the RuleParser analog
    * (reference megaphone/dynamicrules/RuleParser.java; messages
    * arrive on the control stream as JSON). Uses Spark's from_json so
    * a whole control-stream batch parses distributed. */
  def parseRules(s: SparkSession, jsonLines: Seq[String]): Seq[Rule] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ruleId", IntegerType),
      StructField("ruleState", StringType),
      StructField("groupingKeyNames", ArrayType(StringType)),
      StructField("aggregateFieldName", StringType),
      StructField("aggregatorFunctionType", StringType),
      StructField("limitOperatorType", StringType),
      StructField("limit", DecimalType(38, 18)),
      StructField("windowMinutes", IntegerType)))
    import s.implicits._
    // a malformed or incomplete control message parses to a null
    // struct / null fields under from_json's PERMISSIVE mode — it
    // must be SKIPPED (with a stderr note), not NPE the whole
    // rule-refresh batch: one bad message on the control stream would
    // otherwise take down the streaming deployment's rules supplier
    val (ok, bad) = s.createDataset(jsonLines)
      .select(from_json(col("value"), schema).as("r"))
      .select(col("r.*"))
      .collect()
      .toSeq
      .partition(r => !r.anyNull)
    bad.foreach(r => System.err.println(
      s"[rules] skipping malformed control message (parsed: $r)"))
    ok.map(r => Rule(r.getInt(0), r.getString(1),
      r.getSeq[String](2), r.getString(3), r.getString(4),
      r.getString(5), BigDecimal(r.getDecimal(6)), r.getInt(7)))
  }

  /** The fixed demo rule set the oracle checks (rules arrive on a
    * control stream in the streaming deployment; see
    * graft.streaming docs). */
  val demoRules: Seq[Rule] = Seq(
    Rule(1, "ACTIVE", Seq("user_id"), "value", "SUM", ">",
      BigDecimal(700), 24 * 60),
    Rule(2, "ACTIVE", Seq("event_type"), "value", "AVG", "<=",
      BigDecimal(95), 24 * 60),
    Rule(3, "ACTIVE", Seq("event_type"), "value", "MAX", ">=",
      BigDecimal(190), 6 * 60),
    Rule(4, "PAUSE", Seq("user_id"), "value", "MIN", "<",
      BigDecimal(1), 60))

  def rulesAlerts(s: SparkSession, dir: String): DataFrame =
    evaluate(Tables.events(s, dir), demoRules)

  /** Streaming deployment: the rule set is consulted per micro-batch
    * (the reference broadcasts ControlMessages to all tasks,
    * MegaphoneEvaluator.java:90,133-140 — here the rules supplier is
    * read at every batch, so rule ACTIVE/PAUSE/DELETE transitions from
    * a control stream apply at the next trigger).
    *
    * Windows ACCUMULATE across micro-batches: each batch is reduced
    * executor-side to per-(rule, window, key) DECIMAL partials
    * (sum/count/min/max — tiny relative to the events), which merge
    * into a window-accumulator keyed exactly like the reference's
    * per-key window state (MegaphoneEvaluator's MapState). A
    * per-batch-only evaluation (the previous form here) under-counts
    * every window that spans a trigger: 400 in batch 1 + 400 in batch
    * 2 never fires a SUM>700 rule although the true window total is
    * 800. Alerts are evaluated over the ACCUMULATED aggregates of the
    * windows each batch touches and fire on every touching batch
    * whose accumulated value satisfies the rule — the reference
    * evaluates per arriving element the same way, so early partial
    * alerts (an AVG rule that holds now and not at window end) are
    * the reference's semantics, not an artifact. State is bounded:
    * windows evict once the max event time seen passes their end plus
    * `lateSlackMinutes`, and rules no longer ACTIVE drop their
    * windows at the next batch. Each batch's alerts append through
    * `sink` with the [[evaluate]] output schema.
    *
    * Delivery contract: foreachBatch is at-least-once, so a batch can
    * be RE-DELIVERED under the same batchId. Accumulation is
    * idempotent against that: each batch's partials are STAGED
    * without touching the accumulator, alerts are evaluated over the
    * merged view and sunk, and only then is the batch committed
    * (state merged + batchId recorded) — a re-delivery of a committed
    * batch is skipped outright, and a failure anywhere before the
    * commit leaves the accumulator untouched so the retry recomputes
    * from scratch. The sink itself is therefore at-least-once (a
    * crash between sink and commit replays the batch's alerts), which
    * matches the reference's at-least-once ControlMessage pipeline.
    *
    * Restart contract: the accumulator is driver-memory state scoped
    * to THIS StreamingQuery run — a restart from checkpoint starts
    * with empty windows, i.e. windows spanning the restart under-count
    * until they seal. For restart-durable windows use the
    * [[graft.streaming.RulesTws]] twin: it keeps the same per-(rule,
    * window, key) DECIMAL partials in CHECKPOINTED transformWithState
    * state (the reference's managed-keyed-state semantics,
    * ProcessorFunction.java:127-137) while still re-reading the rule
    * set every micro-batch. This foreachBatch form remains the
    * plan-regeneration demonstration (each batch compiles the rules to
    * fresh aggregation plans). Bounded-state eviction is unaffected. */
  def streaming(events: DataFrame, currentRules: () => Seq[Rule],
      sink: (DataFrame, Long) => Unit, lateSlackMinutes: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch(batchHandler(currentRules, sink, lateSlackMinutes))
      .start()

  /** The foreachBatch body, factored out so the at-least-once
    * re-delivery contract is directly testable (a spec can call it
    * twice with the same batchId on a static frame). One handler
    * instance = one query run's window-accumulator state. */
  private[operators] def batchHandler(currentRules: () => Seq[Rule],
      sink: (DataFrame, Long) => Unit, lateSlackMinutes: Int = 0)
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit = {
    // (ruleId, winStartSec, key) -> (sum, cnt, min, max, winEndSec);
    // confined to the streaming thread (foreachBatch is sequential)
    val state = scala.collection.mutable.HashMap
      .empty[(Int, Long, String), Array[java.math.BigDecimal]]
    val winEnd = scala.collection.mutable.HashMap.empty[(Int, Long, String), Long]
    var maxTsSec = Long.MinValue
    var lastCommittedBatchId = -1L
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm")
      .withZone(java.time.ZoneOffset.UTC)
    // null-aware DECIMAL merges, matching the batch twin ([[evaluate]])
    // and the TWS twin ([[graft.streaming.RulesTws]]): sum/min/max of a
    // group whose values are ALL null is null (count still counts the
    // rows — the AVG denominator), and a null aggregate satisfies no
    // limit predicate. Without these, one all-null group NPE'd the
    // whole streaming query on `null.add(...)`.
    def nAdd(a: java.math.BigDecimal, b: java.math.BigDecimal) =
      if (a == null) b else if (b == null) a else a.add(b)
    def nMin(a: java.math.BigDecimal, b: java.math.BigDecimal) =
      if (a == null) b else if (b == null) a
      else if (a.compareTo(b) <= 0) a else b
    def nMax(a: java.math.BigDecimal, b: java.math.BigDecimal) =
      if (a == null) b else if (b == null) a
      else if (a.compareTo(b) >= 0) a else b;
    { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // foreachBatch is at-least-once: a committed batch can come
        // around again under the same batchId — re-merging its
        // partials would inflate SUM/COUNT and fire spurious alerts
        if (batchId > lastCommittedBatchId) {
          val rules = currentRules().filter(_.ruleState == "ACTIVE")
          val active = rules.map(_.ruleId).toSet
          state.keySet.filterNot(k => active(k._1)).toSeq.foreach { k =>
            state.remove(k); winEnd.remove(k)
          }
          // one PERSISTED copy of the micro-batch: the loop below runs
          // one aggregation per ACTIVE rule plus the watermark probe —
          // N+2 actions that would otherwise each re-read the source
          // (measured 11 source re-reads per batch with 10 rules,
          // which also inflated numInputRows 11×)
          val cached = batch.toDF().persist()
          try if (rules.nonEmpty && !cached.isEmpty) {
            val df = cached
            // STAGE: this batch's per-(rule, window, key) partials —
            // no accumulator mutation yet, so a failure anywhere below
            // leaves state exactly as the retry expects it
            val staged = scala.collection.mutable.LinkedHashMap
              .empty[(Int, Long, String), Array[java.math.BigDecimal]]
            val stagedEnd = scala.collection.mutable.HashMap
              .empty[(Int, Long, String), Long]
            val touched =
              Seq.newBuilder[(Rule, (Int, Long, String), String)]
            rules.foreach { r =>
              val keyCols = r.groupingKeyNames.map(col)
              val winStart = unix_timestamp(
                window(col("ts"), s"${r.windowMinutes} minutes")
                  .getField("start"))
              val d = col(r.aggregateFieldName).cast(dec)
              // group by the RAW key columns (cast to string only for
              // the driver-side read), never the concat_ws rendering:
              // the batch twin groups raw and renders afterwards, and
              // rendered-key collisions (null vs "", (null,"x") vs
              // ("x",null), a literal "|" inside a value) would merge
              // groups here that it keeps separate
              val n = keyCols.length
              df.groupBy(
                  (winStart.as("ws") +: keyCols.map(_.cast("string"))): _*)
                .agg(sum(d).as("s"), count(lit(1)).as("c"),
                  min(d).as("mn"), max(d).as("mx"))
                .collect()
                .foreach { row =>
                  val comps = (1 to n).map(i =>
                    if (row.isNullAt(i)) null else row.getString(i))
                  val rendered = comps.iterator.filter(_ != null)
                    .mkString("|")
                  // injective encoding (null marker + length prefix) —
                  // the state key; same scheme as RulesTws.expand
                  val gkey = comps.iterator.map {
                    case null => "N"
                    case v => s"S${v.length}:$v"
                  }.mkString
                  val k = (r.ruleId, row.getLong(0), gkey)
                  staged(k) = Array(row.getDecimal(n + 1),
                    java.math.BigDecimal.valueOf(row.getLong(n + 2)),
                    row.getDecimal(n + 3), row.getDecimal(n + 4))
                  stagedEnd(k) = row.getLong(0) + r.windowMinutes * 60L
                  touched += ((r, k, rendered))
                }
            }
            // a batch whose ts are ALL null has no event time (its
            // rows were filtered out of every window above) — leave
            // the watermark where it was
            val maxTsRow = df.agg(max(unix_timestamp(col("ts")))).head()
            val batchMaxTs =
              if (maxTsRow.isNullAt(0)) maxTsSec else maxTsRow.getLong(0)
            // evaluate over the MERGED view (committed state ⊕ staged)
            val alerts = touched.result().distinct.flatMap {
              case (r, k, rendered) =>
              val sg = staged(k)
              val acc = state.get(k)
              val sumAll = nAdd(acc.map(_(0)).orNull, sg(0))
              val cntAll = acc.map(_(1).add(sg(1))).getOrElse(sg(1))
              val mnAll = nMin(acc.map(_(2)).orNull, sg(2))
              val mxAll = nMax(acc.map(_(3)).orNull, sg(3))
              val value: java.lang.Double = r.aggregatorFunctionType match {
                case "SUM" => if (sumAll == null) null else sumAll.doubleValue
                case "AVG" =>
                  if (sumAll == null) null
                  else sumAll.doubleValue / cntAll.longValue
                case "MIN" => if (mnAll == null) null else mnAll.doubleValue
                case "MAX" => if (mxAll == null) null else mxAll.doubleValue
                case other => throw new IllegalArgumentException(s"agg $other")
              }
              if (value == null) None
              else {
                val v = value.doubleValue()
                val lim = r.limit.toDouble
                val fires = r.limitOperatorType match {
                  case "=" => v == lim
                  case "!=" => v != lim
                  case ">" => v > lim
                  case "<" => v < lim
                  case ">=" => v >= lim
                  case "<=" => v <= lim
                  case other => throw new IllegalArgumentException(s"op $other")
                }
                if (fires)
                  Some(Row(k._1.toLong,
                    fmt.format(java.time.Instant.ofEpochSecond(k._2)),
                    rendered, v))
                else None
              }
            }
            if (alerts.nonEmpty) {
              val s = df.sparkSession
              sink(s.createDataFrame(
                s.sparkContext.parallelize(alerts, 1),
                StructType(Seq(
                  StructField("rule_id", LongType),
                  StructField("win_start", StringType),
                  StructField("key", StringType),
                  StructField("value", DoubleType)))), batchId)
            }
            // COMMIT: merge staged partials, advance the watermark,
            // seal windows, record the batch — all after the sink, so
            // a sink failure replays the batch (at-least-once alerts)
            // instead of double-merging its partials
            staged.foreach { case (k, sg) =>
              val acc = state.getOrElseUpdate(k, Array(
                null, java.math.BigDecimal.ZERO, null, null))
              acc(0) = nAdd(acc(0), sg(0))
              acc(1) = acc(1).add(sg(1))
              acc(2) = nMin(acc(2), sg(2))
              acc(3) = nMax(acc(3), sg(3))
            }
            stagedEnd.foreach { case (k, e) => winEnd(k) = e }
            maxTsSec = math.max(maxTsSec, batchMaxTs)
            // seal: a window whose end (+ slack) is behind the max
            // event time seen can no longer be touched
            val sealBefore = maxTsSec - lateSlackMinutes * 60L
            winEnd.filter(_._2 <= sealBefore).keys.toSeq.foreach { k =>
              state.remove(k); winEnd.remove(k)
            }
          } finally cached.unpersist(blocking = false)
          lastCommittedBatchId = batchId
        }
      }
  }

  /** Oracle. Window starts via floor(epoch) (a bare ::BIGINT cast
    * rounds and can flip bucket at window boundaries) and
    * make_timestamp (naive, unlike tz-aware to_timestamp). */
  val rulesAlertsSql: String =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS rule_id,
      |    strftime(make_timestamp(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 * 86400 * 1000000), '%Y-%m-%d %H:%M') AS win_start,
      |    CAST(user_id AS VARCHAR) AS key,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value
      |  FROM events GROUP BY 1, 2, 3
      |  HAVING CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) > 700
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT),
      |    strftime(make_timestamp(CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 * 86400 * 1000000), '%Y-%m-%d %H:%M'),
      |    event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      |  FROM events GROUP BY 1, 2, 3
      |  HAVING CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) <= 95
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT),
      |    strftime(make_timestamp(CAST(FLOOR(epoch(ts)) AS BIGINT) // 21600 * 21600 * 1000000), '%Y-%m-%d %H:%M'),
      |    event_type,
      |    CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |  FROM events GROUP BY 1, 2, 3
      |  HAVING CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) >= 190)
      |ORDER BY rule_id, win_start, key""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("rules_alerts", rulesAlerts, Some(rulesAlertsSql)))
}
