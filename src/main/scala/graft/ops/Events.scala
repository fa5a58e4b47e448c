package graft.ops

import graft.{Exact, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators (SURVEY.md §2.10): time-bucketed aggregation,
  * sessionization, and semi-structured JSON extraction, expressed as batch
  * DataFrame plans. (The reference has no true streaming — its cadence is a
  * daily batch re-pull, `/root/reference/airflow/dags/spacex_api_dag.py:58` —
  * so these are the engine-capability rows; the Structured Streaming variant
  * lives in graft.streaming.)
  *
  * Timestamp discipline: `events.ts` is nanosecond parquet (FIXTURES.md);
  * Spark truncates to µs on read while DuckDB keeps ns. All temporal logic
  * therefore runs on integer *milliseconds* — `unix_micros(ts) / 1000` in
  * Spark vs `epoch_ms(ts)` in DuckDB, both floor-truncations to the same
  * value — never on raw timestamps.
  *
  * Scale stance: hourly aggregation is a single partial+final HashAggregate;
  * sessionization shuffles once on user_id (the window partition key) and
  * every per-user window is tiny. `value` money math uses exact cents
  * ([[graft.Exact.cents]]).
  */
object Events {

  /** ts as integer epoch milliseconds (floor) — engine-portable. `div` is
    * true integer division (Spark's `/` on longs returns double, whose
    * truncation can round across the floor at epoch-µs magnitudes). */
  private def tsMs: Column = expr("unix_micros(ts) div 1000").as("ts_ms")

  /** Tumbling-window aggregation: events per (hour, type) with exact value
    * sums. Hour bucket = epoch seconds of the hour start (BIGINT). */
  def q20HourlyByType(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        (expr("unix_micros(ts) div 3600000000") * lit(3600L)).as("hour_epoch_s"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(Exact.cents(col("value"))).cast("double") / lit(100.0)).as("sum_value"))
      .orderBy(col("hour_epoch_s"), col("event_type"))

  val q20Oracle: String =
    """SELECT (epoch_ms(ts) // 3600000) * 3600 AS hour_epoch_s, event_type,
      |  count(*) AS n_events,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Sessionization (gaps-and-islands, 30-minute inactivity gap): a session
    * starts when a user's gap since their previous event exceeds 30 min; the
    * session id is the running count of session starts. One shuffle on
    * user_id; both windows share that partitioning. */
  def q21Sessions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), Exact.cents(col("value")).as("value_cents"), tsMs)
    ev.withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("is_start",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > lit(1800000L), 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("is_start")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("start_ms"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("duration_ms"),
        (sum(col("value_cents")).cast("double") / lit(100.0)).as("sum_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  val q21Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS value_cents,
      |    epoch_ms(ts) AS ts_ms
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |    CASE WHEN lag(ts_ms) OVER w IS NULL
      |           OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_start
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |sessions AS (
      |  SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged)
      |SELECT user_id, session_seq,
      |  count(*) AS n_events,
      |  min(ts_ms) AS start_ms,
      |  max(ts_ms) - min(ts_ms) AS duration_ms,
      |  CAST(sum(value_cents) AS DOUBLE) / 100.0 AS sum_value
      |FROM sessions
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Native session windows (SURVEY §2.10): the same 30-minute-gap
    * sessionization as q21, through Spark's built-in `session_window`
    * (merge-on-overlap state windows — the construct that runs incrementally
    * under readStream), aggregated per user. Time is floored to ms first so
    * both engines see identical instants (ns parquet; see class doc).
    *
    * Boundary semantics differ from q21's islands by design: session_window
    * starts a new session when `gap >= 30min` (merge condition is
    * `next_start < prev_end`), while q21 breaks strictly `> 30min` — the
    * oracle mirrors the `>=` rule. */
  def q66SessionWindows(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), timestamp_millis(expr("unix_micros(ts) div 1000")).as("tsm"))
    val sess = ev
      .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        (expr("unix_millis(w.end)") - expr("unix_millis(w.start)") - lit(1800000L)).as("duration_ms"))
    sess.groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events_total"),
        max(col("n_events")).as("max_session_events"),
        sum(col("duration_ms")).as("total_duration_ms"))
      .orderBy(col("user_id"))
  }

  val q66Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events),
      |flagged AS (
      |  SELECT *,
      |    CASE WHEN lag(ts_ms) OVER w IS NULL
      |           OR ts_ms - lag(ts_ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS is_start
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
      |sessions AS (
      |  SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged),
      |per_session AS (
      |  SELECT user_id, session_seq, count(*) AS n_events,
      |    max(ts_ms) - min(ts_ms) AS duration_ms
      |  FROM sessions GROUP BY user_id, session_seq)
      |SELECT user_id,
      |  count(*) AS n_sessions,
      |  CAST(sum(n_events) AS BIGINT) AS n_events_total,
      |  max(n_events) AS max_session_events,
      |  CAST(sum(duration_ms) AS BIGINT) AS total_duration_ms
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Event funnel (SURVEY §2.10 family — sequence analytics over the event
    * stream): per user, did signup happen, and did a purchase follow a
    * signup in time order? One hash aggregate over conditional min/max —
    * the funnel never materializes per-step joins, so it scales as a
    * single pass. Emits corpus-level funnel counts. */
  def q93EventFunnel(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), tsMs)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts_ms"))).as("first_signup_ms"),
        max(when(col("event_type") === "purchase", col("ts_ms"))).as("last_purchase_ms"),
        count(lit(1)).as("n_events"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("first_signup_ms").isNotNull, 1L).otherwise(0L)).as("n_signed_up"),
      sum(when(col("first_signup_ms").isNotNull &&
        col("last_purchase_ms") > col("first_signup_ms"), 1L).otherwise(0L))
        .as("n_converted"),
      sum(col("n_events")).as("n_events_total"))
  }

  val q93Oracle: String =
    """WITH per_user AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS first_signup_ms,
      |    max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS last_purchase_ms,
      |    count(*) AS n_events
      |  FROM events GROUP BY user_id)
      |SELECT count(*) AS n_users,
      |  CAST(sum(CASE WHEN first_signup_ms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signed_up,
      |  CAST(sum(CASE WHEN first_signup_ms IS NOT NULL
      |                 AND last_purchase_ms > first_signup_ms THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      |  CAST(sum(n_events) AS BIGINT) AS n_events_total
      |FROM per_user""".stripMargin

  /** Semi-structured extraction: parse the `props` JSON text column
    * (SURVEY.md §2.8 F10 — the `details`/`props` free-text mapping), bucket
    * by the extracted integer, aggregate. get_json_object stays inside
    * whole-stage codegen. */
  def q22JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy((col("k") % lit(10L)).as("k_mod10"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("k_mod10"), col("event_type"))

  val q22Oracle: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10, event_type,
      |  count(*) AS n_events,
      |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Top-k per group over time: for each event_type, the 5 highest-value
    * events (deterministic tie-break on event_id). event_type is
    * low-cardinality, so instead of a row_number window (which sorts the
    * whole stream in |types| tasks) a bounded top-k aggregator reduces each
    * map partition to ≤ 5 rows per type before the shuffle; the ≤ 5·|types|
    * winners then broadcast-join the source to recover the payload columns
    * (user_id, exact value). value is 2-decimal, so the integer-cents score
    * orders identically to the raw double. */
  def q23TopEventsPerType(s: SparkSession, dir: String): DataFrame = {
    val top5 = udaf(new graft.functions.TopKPairsAggregator(5),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredKey])
    val ev = Tables.events(s, dir)
    val tops = ev.groupBy(col("event_type"))
      .agg(top5(col("event_id"), graft.Exact.cents(col("value"))).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("pos", "sk")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rk"),
        col("sk.key").as("event_id"))
    ev.select(col("event_id"), col("user_id"), col("value"))
      .join(broadcast(tops), Seq("event_id"))
      .select(col("event_type"), col("event_id"), col("user_id"), col("value"), col("rk"))
      .orderBy(col("event_type"), col("rk"))
  }

  val q23Oracle: String =
    """SELECT event_type, event_id, user_id, value, rk FROM (
      |  SELECT event_type, event_id, user_id, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rk
      |  FROM events) t
      |WHERE rk <= 5
      |ORDER BY event_type, rk""".stripMargin

  /** Cohort retention — the classic product-analytics matrix: users
    * cohorted by first-activity week; for each (cohort, week offset), how
    * many of the cohort were active and what fraction that is. Weekly
    * because the events fixture spans ~4 weeks (monthly would be a single
    * degenerate cell); the week is the integer epoch-week (epoch_ms div
    * 604800000) — exact and engine-portable, no calendar arithmetic.
    *
    * Shape: distinct (user, week) activity → per-user cohort index (one
    * groupBy with map-side combine) → tiny cohort-size dimension joined
    * back — two shuffles on user_id (scaling key) and one small aggregate;
    * no windows, no self-join on the fact table. The retention ratio is an
    * int/int double division — oracle-parity safe. */
  def q107CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wix"))
      .distinct()
    val cohorts = activity.groupBy(col("user_id")).agg(min(col("wix")).as("cohort_week"))
    val cells = graft.Caches.persist(activity.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("wix") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active")))
    // a cohort's size IS its offset-0 cell (every member is active in its
    // own first week) — derive it from the |cohorts|×|offsets|-row cells
    // frame instead of re-aggregating the fact table a third time
    val sizes = cells.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort_week"))
      .select(
        col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q107Oracle: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS wix
      |  FROM events),
      |cohorts AS (SELECT user_id, min(wix) AS cohort_week FROM activity GROUP BY user_id),
      |sizes AS (SELECT cohort_week, count(*) AS cohort_size FROM cohorts GROUP BY cohort_week),
      |cells AS (
      |  SELECT cohort_week, a.wix - c.cohort_week AS week_offset, count(*) AS n_active
      |  FROM activity a JOIN cohorts c USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT cohort_week, week_offset, n_active, cohort_size,
      |  CAST(n_active AS DOUBLE) / cohort_size AS retention
      |FROM cells JOIN sizes USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** SCD2 interval construction (slowly-changing-dimension type 2 — the
    * standard warehouse history shape): collapse each entity's ordered
    * state stream to its change points and attach validity intervals
    * `[valid_from, valid_to)` with `is_current` on the open row.
    *
    * Generic operator: `df` ordered per `key` by `orderCols`, state =
    * `stateCol`; rows where the state differs from the previous row open a
    * new version, `valid_to` = the next version's `valid_from`. Two
    * windows over the same scaling partition key — one shuffle. */
  def scd2Intervals(df: DataFrame, key: Column, stateCol: Column,
      fromCol: Column, tieCols: Column*): DataFrame = {
    val w = Window.partitionBy(key).orderBy(fromCol +: tieCols: _*)
    df.withColumn("__prev_state", lag(stateCol, 1).over(w))
      .filter(col("__prev_state").isNull || col("__prev_state") =!= stateCol)
      .drop("__prev_state")
      .withColumn("valid_to", lead(fromCol, 1).over(w))
      .withColumn("is_current", when(col("valid_to").isNull, 1L).otherwise(0L))
  }

  /** Driver-checked SCD2 query: per user, the versioned history of their
    * event_type "state" — change rows only, each carrying its validity
    * interval in ms and the current-row flag. event_id rides along as the
    * unique tie-break (two different-state changes can share a
    * millisecond). */
  def q108Scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsMs)
      .withColumnRenamed("ts_ms", "valid_from_ms")
    scd2Intervals(ev, col("user_id"), col("event_type"),
        col("valid_from_ms"), col("event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from_ms"), col("valid_to").as("valid_to_ms"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from_ms"), col("event_id"))
  }

  val q108Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS valid_from_ms,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |      AS prev_state
      |  FROM events),
      |changes AS (
      |  SELECT user_id, event_id, event_type, valid_from_ms
      |  FROM ev WHERE prev_state IS NULL OR prev_state <> event_type),
      |versioned AS (
      |  SELECT *,
      |    lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY valid_from_ms, event_id)
      |      AS valid_to_ms
      |  FROM changes)
      |SELECT user_id, event_id, event_type, valid_from_ms, valid_to_ms,
      |  CAST(CASE WHEN valid_to_ms IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM versioned
      |ORDER BY user_id, valid_from_ms, event_id""".stripMargin

  /** q120: point-in-time (temporal) join — the consumption side of q108's
    * SCD2 build, and the standard warehouse pattern for "which dimension
    * version was valid when this fact happened". Dimension = the user's
    * signup/purchase state history (SCD2 intervals); facts = click/view
    * events, each matched to the version whose `[valid_from, valid_to)`
    * interval contains its timestamp.
    *
    * Scale shape: the join is EQUI on user_id (a scaling key) with the
    * interval containment as a residual predicate — a shuffled hash/merge
    * join, never a nested loop, because per-user version chains are short
    * (bounded by state changes, not fact volume). The final rollup is one
    * partial+final HashAggregate. */
  def q120TemporalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"), col("event_type"), tsMs)
    val dim = scd2Intervals(
        ev.filter(col("event_type").isin("signup", "purchase"))
          .withColumnRenamed("ts_ms", "valid_from_ms"),
        col("user_id"), col("event_type"), col("valid_from_ms"), col("event_id"))
      .select(col("user_id").as("d_user"), col("event_type").as("state"),
        col("valid_from_ms"), col("valid_to").as("valid_to_ms"))
    val facts = ev.filter(col("event_type").isin("click", "view"))
    facts.join(dim,
        facts("user_id") === dim("d_user") &&
          facts("ts_ms") >= dim("valid_from_ms") &&
          (dim("valid_to_ms").isNull || facts("ts_ms") < dim("valid_to_ms")))
      .groupBy(col("state"), col("event_type").as("fact_type"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("state"), col("fact_type"))
  }

  val q120Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |chg AS (
      |  SELECT user_id, event_id, event_type, ts_ms AS valid_from_ms,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev
      |  FROM ev WHERE event_type IN ('signup', 'purchase')),
      |dim AS (
      |  SELECT user_id, event_type AS state, valid_from_ms,
      |    lead(valid_from_ms) OVER (PARTITION BY user_id ORDER BY valid_from_ms, event_id)
      |      AS valid_to_ms
      |  FROM chg WHERE prev IS NULL OR prev <> event_type)
      |SELECT d.state, f.event_type AS fact_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users
      |FROM ev f JOIN dim d
      |  ON f.user_id = d.user_id AND f.ts_ms >= d.valid_from_ms
      | AND (d.valid_to_ms IS NULL OR f.ts_ms < d.valid_to_ms)
      |WHERE f.event_type IN ('click', 'view')
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** q123: rolling 7-day distinct users per day (the DAU/WAU shape —
    * rolling windows + COUNT DISTINCT don't compose in SQL window frames,
    * and approx sketches change the answer). Exact and scalable via
    * contribution expansion: each (user, active-day) row contributes to
    * the 7 target days it can be counted under — a bounded ×7 explode —
    * then ONE partial+final distinct-aggregate per target day. No range
    * join, no per-day re-scan; the oracle uses the equivalent
    * BETWEEN-range join. Target days are restricted to observed activity
    * days (an empty day has no row — matches the oracle's day spine). */
  def q123RollingDistinct(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val duP = graft.Caches.persist(du)
    val days = duP.select(col("day").as("tday")).distinct()
    duP.select(col("user_id"), explode(sequence(col("day"), col("day") + lit(6L))).as("tday"))
      .join(days, "tday")
      .groupBy(col("tday").as("day"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
      .orderBy(col("day"))
  }

  val q123Oracle: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      |days AS (SELECT DISTINCT day FROM du)
      |SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
      |FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q133: strictly-ORDERED multi-step funnel — signup, then the first view
    * AFTER that signup, then the first purchase AFTER that view. q93's
    * conditional aggregation cannot express this (each step's qualifying
    * set depends on the previous step's chosen timestamp, the classic
    * sequential-funnel semantics); the scalable shape is a chain of
    * per-step aggregations stitched by equi-joins on user_id — every
    * shuffle is on the scaling key, no per-user sort window, no event
    * explosion. Gaps are exact integer ms sums.
    *
    * At 100 TB each step's input is pre-filtered to one event type before
    * its join (pushed to the scan), so the chain touches the fact table
    * once per step and carries only (user, ts) rows between steps. */
  def q133OrderedFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Caches.persist(
      Tables.events(s, dir).select(col("user_id"), col("event_type"), tsMs))
    def firstAfter(evType: String, prev: DataFrame, prevTs: String, outTs: String): DataFrame =
      e.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts_ms") > col(prevTs))
        .groupBy(col("user_id"), col(prevTs))
        .agg(min(col("ts_ms")).as(outTs))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("s_ts"))
    val s2 = firstAfter("view", s1, "s_ts", "v_ts")
    val s3 = firstAfter("purchase", s2.select(col("user_id"), col("v_ts")), "v_ts", "p_ts")
    // One global aggregate over the tagged union of the step frames — a
    // cross-join of single-row aggregates would plan as CartesianProduct
    // (banned by the PlanSpec lint); this stays a single HashAggregate.
    val tagged = s1.select(lit(1).as("step"), lit(0L).as("gap"))
      .unionAll(s2.select(lit(2).as("step"), (col("v_ts") - col("s_ts")).as("gap")))
      .unionAll(s3.select(lit(3).as("step"), (col("p_ts") - col("v_ts")).as("gap")))
    tagged.agg(
      coalesce(sum(when(col("step") === 1, 1L).otherwise(0L)), lit(0L)).as("n_signup"),
      coalesce(sum(when(col("step") === 2, 1L).otherwise(0L)), lit(0L)).as("n_signup_view"),
      coalesce(sum(when(col("step") === 3, 1L).otherwise(0L)), lit(0L)).as("n_full_funnel"),
      coalesce(sum(when(col("step") === 2, col("gap"))), lit(0L)).as("sum_sv_gap_ms"),
      coalesce(sum(when(col("step") === 3, col("gap"))), lit(0L)).as("sum_vp_gap_ms"))
  }

  val q133Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms FROM events),
      |s1 AS (SELECT user_id, min(ts_ms) s_ts FROM e WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, s1.s_ts, min(e.ts_ms) v_ts
      |  FROM e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'view' AND e.ts_ms > s1.s_ts
      |  GROUP BY 1, 2),
      |s3 AS (
      |  SELECT e.user_id, s2.v_ts, min(e.ts_ms) p_ts
      |  FROM e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts_ms > s2.v_ts
      |  GROUP BY 1, 2)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_signup,
      |       (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_signup_view,
      |       (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_full_funnel,
      |       (SELECT CAST(coalesce(sum(v_ts - s_ts), 0) AS BIGINT) FROM s2) AS sum_sv_gap_ms,
      |       (SELECT CAST(coalesce(sum(p_ts - v_ts), 0) AS BIGINT) FROM s3) AS sum_vp_gap_ms""".stripMargin

  /** q141: behavioral path mining — the 10 most common 3-event sequences
    * (consecutive per user in event-time order). One shuffle on user_id for
    * the lead windows (per-user partitions are small and the key scales),
    * then a partial+final count on the sequence string. Tie-break on the
    * sequence text makes top-10 total-ordered. */
  def q141EventSequences(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), tsMs)
      .select(col("event_type"),
        lead(col("event_type"), 1).over(byUser).as("e2"),
        lead(col("event_type"), 2).over(byUser).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("seq"))
      .groupBy(col("seq")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("seq"))
      .limit(10)
  }

  val q141Oracle: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_ms(ts) ts_ms, event_id FROM events),
      |seqs AS (
      |  SELECT event_type || '>' ||
      |         lead(event_type, 1) OVER w || '>' ||
      |         lead(event_type, 2) OVER w AS seq,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      |SELECT seq, CAST(count(*) AS BIGINT) n FROM seqs WHERE e3 IS NOT NULL
      |GROUP BY seq ORDER BY n DESC, seq LIMIT 10""".stripMargin

  /** q143: cumulative unique users by day — "audience growth to date". Each
    * user contributes once at their FIRST day (one hash agg on the scaling
    * key), daily first-appearance counts then cumulate over the tiny day
    * frame. The companion to q123's rolling 7-day distinct: same question,
    * unbounded window, and the same trick of never re-counting the fact
    * table per day. */
  def q143CumulativeUniques(s: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")).as("dday"))
    firstDay.groupBy(col("dday")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users",
        sum(col("new_users")).over(
          Window.orderBy(col("dday"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("dday"))
  }

  val q143Oracle: String =
    """WITH fd AS (
      |  SELECT user_id,
      |         CAST(min(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT) dday
      |  FROM events GROUP BY 1),
      |daily AS (SELECT dday, CAST(count(*) AS BIGINT) new_users FROM fd GROUP BY 1)
      |SELECT dday, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY dday
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) cum_users
      |FROM daily ORDER BY dday""".stripMargin

  /** q144: last-touch conversion attribution — each purchase credited to
    * the user's most recent click/view at or before it (ties broken by
    * event_id, pinned identically in both engines). Single union-window
    * shuffle on user_id (the q65 as-of shape: touches and purchases
    * interleave in one frame, `last(ignoreNulls)` carries the touch
    * forward), then one partial+final aggregate per channel. Purchases
    * with no prior touch report as 'none' — attribution's unmatched row is
    * a result, not a dropped row. */
  def q144Attribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        Exact.cents(col("value")).as("cents"), tsMs)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), when(col("event_type") === "purchase", 1).otherwise(0),
        col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("ch",
        last(when(col("event_type") =!= "purchase", col("event_type")), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("ch"), lit("none")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("channel"))
  }

  val q144Oracle: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) ts_ms,
      |         CAST(round(value * 100) AS BIGINT) cents
      |  FROM events WHERE event_type IN ('click', 'view', 'purchase')),
      |p AS (SELECT event_id pid, user_id, ts_ms pts, cents FROM e
      |      WHERE event_type = 'purchase'),
      |t AS (SELECT event_id tid, user_id, ts_ms tts, event_type ch FROM e
      |      WHERE event_type <> 'purchase'),
      |a AS (
      |  SELECT p.pid, p.cents,
      |         max({'ts': t.tts, 'eid': t.tid, 'ch': t.ch}) m
      |  FROM p LEFT JOIN t
      |    ON p.user_id = t.user_id AND t.tts <= p.pts
      |  GROUP BY p.pid, p.cents)
      |SELECT coalesce(m.ch, 'none') AS channel,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM a GROUP BY 1 ORDER BY channel""".stripMargin

  /** q145: interval sweep line — how many orders are "open" (within their
    * 7-day processing window) on each boundary day. The O(n log n) classic:
    * intervals become ±1 delta events, one aggregate collapses deltas per
    * day, and the running sum over the tiny day frame is the active count —
    * no day×interval range join anywhere in the engine (the ORACLE does the
    * independent range-join formulation to prove the sweep exact). Counts
    * change only at delta days, so emitting exactly those rows is the
    * complete answer. */
  def q145IntervalSweep(s: SparkSession, dir: String): DataFrame = {
    val sd = datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long")
    val o = Tables.orders(s, dir)
    val deltas = o.select(sd.as("d"), lit(1L).as("delta"))
      .unionAll(o.select((sd + 7).as("d"), lit(-1L).as("delta")))
      .groupBy(col("d")).agg(sum(col("delta")).as("net"))
    deltas
      .withColumn("n_active",
        sum(col("net")).over(Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("d"), col("n_active"))
      .orderBy(col("d"))
  }

  val q145Oracle: String =
    """WITH o AS (
      |  SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') sd FROM orders),
      |days AS (
      |  SELECT DISTINCT d FROM (
      |    SELECT sd AS d FROM o UNION SELECT sd + 7 FROM o) t)
      |SELECT CAST(days.d AS BIGINT) AS d,
      |       CAST(count(o.sd) AS BIGINT) AS n_active
      |FROM days LEFT JOIN o ON o.sd <= days.d AND days.d < o.sd + 7
      |GROUP BY days.d ORDER BY d""".stripMargin

  /** q148: session quality summary — bounce rate (single-event sessions),
    * depth and duration, reduced from q21's session frame in one more
    * aggregate. Ratios are truncated ppm of exact counts; the engine-side
    * session assignment is identical to q21 (gap > 30 min starts a new
    * session), so this pins the composition, not new sessionization. */
  def q148SessionStats(s: SparkSession, dir: String): DataFrame = {
    val sessions = q21Sessions(s, dir)
    sessions.agg(
      count(lit(1)).as("n_sessions"),
      coalesce(sum(when(col("n_events") === 1, 1L).otherwise(0L)), lit(0L)).as("n_bounce"),
      expr("coalesce((sum(case when n_events = 1 then 1 else 0 end) * 1000000) div count(1), 0)")
        .as("bounce_ppm"),
      coalesce(sum(col("n_events")), lit(0L)).as("n_events_total"),
      expr("(coalesce(sum(n_events), 0) * 1000) div greatest(count(1), 1)")
        .as("events_per_session_milli"),
      coalesce(max(col("duration_ms")), lit(0L)).as("max_duration_ms"))
  }

  val q148Oracle: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events),
      |flagged AS (
      |  SELECT *,
      |    CASE WHEN lag(ts_ms) OVER w IS NULL
      |           OR ts_ms - lag(ts_ms) OVER w > 1800000 THEN 1 ELSE 0 END AS is_start
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
      |sessions AS (
      |  SELECT *, CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      |  FROM flagged),
      |agg AS (
      |  SELECT user_id, session_seq, CAST(count(*) AS BIGINT) n_events,
      |         max(ts_ms) - min(ts_ms) AS duration_ms
      |  FROM sessions GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(coalesce(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_bounce,
      |  CAST(coalesce((sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)
      |       // count(*), 0) AS BIGINT) AS bounce_ppm,
      |  CAST(coalesce(sum(n_events), 0) AS BIGINT) AS n_events_total,
      |  CAST((coalesce(sum(n_events), 0) * 1000) // greatest(count(*), 1) AS BIGINT)
      |    AS events_per_session_milli,
      |  CAST(coalesce(max(duration_ms), 0) AS BIGINT) AS max_duration_ms
      |FROM agg""".stripMargin

  /** q161: seasonal-baseline anomaly detection — flag hours whose event
    * count deviates >3σ from the hour-of-week baseline (same weekday +
    * hour across all other weeks). The monitoring primitive for any
    * ingest pipeline: "is this hour's volume abnormal *for a Tuesday
    * 14:00*", not "abnormal vs a flat mean".
    *
    * Baseline is LEAVE-ONE-OUT (the candidate hour is excluded from its
    * own mean/variance — a hot anomaly would otherwise drag the baseline
    * toward itself and mask smaller ones). The 3σ test is evaluated in
    * EXACT INTEGER arithmetic: with per-slot n' buckets, sum s', sum of
    * squares ss' (all integers from integer counts), `z² > 9` is
    * equivalent to `(cnt·n' − s')² > 9·(ss'·n' − s'²)` — no float compare
    * at the decision boundary, so engines can't disagree on marginal
    * rows. Terms are widened to DECIMAL(38,0)/HUGEINT first: at cluster
    * magnitudes (1e9 events/hour × 1e2 weeks) the squared terms pass
    * 2^63, so the widening is the 100 TB requirement, not pedantry.
    *
    * Scale: two hash aggregates (hour buckets, then 168 hour-of-week
    * slots) + a broadcast-sized join of buckets back to their slot stats.
    * Reported `baseline_mean` is one int/int double division
    * (IEEE-identical) rounded to 4. */
  def q161SeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def wide(c: Column): Column = c.cast(DecimalType(38, 0))
    val buckets = Tables.events(s, dir)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dow", (expr("h div 24") + lit(4L)) % 7)
      .withColumn("hod", col("h") % 24)
    val slots = buckets.groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("cnt")).as("s"),
        sum(col("cnt") * col("cnt")).as("ss"))
    val j = buckets.join(broadcast(slots), Seq("dow", "hod"))
      .withColumn("np", col("n") - lit(1L))
      .withColumn("sp", col("s") - col("cnt"))
      .withColumn("ssp", col("ss") - col("cnt") * col("cnt"))
    val lhsRoot = wide(col("cnt")) * wide(col("np")) - wide(col("sp"))
    val rhs = lit(9) * (wide(col("ssp")) * wide(col("np")) - wide(col("sp")) * wide(col("sp")))
    j.filter(col("np") >= 4 && lhsRoot * lhsRoot > rhs)
      .select((col("h") * lit(3600L)).as("hour_epoch_s"), col("dow"), col("hod"),
        col("cnt"),
        round(col("sp").cast("double") / col("np").cast("double"), 4)
          .as("baseline_mean"),
        col("np").as("n_baseline_weeks"))
      .orderBy(col("hour_epoch_s"))
  }

  val q161Oracle: String =
    """WITH b AS (
      |  SELECT epoch_ms(ts) // 3600000 AS h, count(*) AS cnt
      |  FROM events GROUP BY 1),
      |k AS (
      |  SELECT h, cnt, ((h // 24) + 4) % 7 AS dow, h % 24 AS hod FROM b),
      |slots AS (
      |  SELECT dow, hod, count(*) AS n, sum(cnt) AS s, sum(cnt * cnt) AS ss
      |  FROM k GROUP BY 1, 2),
      |j AS (
      |  SELECT k.h, k.cnt, k.dow, k.hod,
      |    s.n - 1 AS np, s.s - k.cnt AS sp, s.ss - k.cnt * k.cnt AS ssp
      |  FROM k JOIN slots s ON k.dow = s.dow AND k.hod = s.hod)
      |SELECT CAST(h * 3600 AS BIGINT) AS hour_epoch_s,
      |  CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
      |  CAST(cnt AS BIGINT) AS cnt,
      |  round(CAST(sp AS DOUBLE) / CAST(np AS DOUBLE), 4) AS baseline_mean,
      |  CAST(np AS BIGINT) AS n_baseline_weeks
      |FROM j
      |WHERE np >= 4
      |  AND (CAST(cnt AS HUGEINT) * CAST(np AS HUGEINT) - CAST(sp AS HUGEINT))
      |      * (CAST(cnt AS HUGEINT) * CAST(np AS HUGEINT) - CAST(sp AS HUGEINT))
      |    > 9 * (CAST(ssp AS HUGEINT) * CAST(np AS HUGEINT)
      |           - CAST(sp AS HUGEINT) * CAST(sp AS HUGEINT))
      |ORDER BY hour_epoch_s""".stripMargin

  /** q204: k-anonymity release audit — before per-cell analytics about the
    * training corpus leave the pipeline (public dashboards, partner
    * reports), every cell of the quasi-identifier grid must cover at least
    * k distinct individuals; smaller cells are suppressed (Sweeney 2002,
    * the k-anonymity criterion — the standard minimum-cell-size release
    * rule). Quasi-identifier here is (event_type, day); k = 5 distinct
    * users. Per event_type: how many cells the release keeps vs
    * suppresses, the row mass on each side, the smallest released cell
    * (the audit's proof obligation: min ≥ k), and the suppressed-row share
    * in exact ppm.
    *
    * Scale stance: one hash aggregation keyed by the quasi-identifier
    * (count-distinct expands user_id into the same shuffle), then a
    * second agg over the |types|×|days| cell frame — bounded, broadcast-
    * sized. The decision (n_users < k) is an integer compare; the ppm is
    * integer floor division. Never touches raw rows twice, never windows
    * over the event stream. */
  def q204KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val k = lit(5L)
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("user_id")).as("n_users"))
    cells
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(col("n_users") < k, lit(1L)).otherwise(lit(0L))).as("n_suppressed_cells"),
        sum(when(col("n_users") >= k, col("n_rows")).otherwise(lit(0L))).as("rows_released"),
        sum(when(col("n_users") < k, col("n_rows")).otherwise(lit(0L))).as("rows_suppressed"),
        coalesce(min(when(col("n_users") >= k, col("n_users"))), lit(0L))
          .as("min_released_cell_users"))
      .withColumn("suppressed_ppm",
        expr("rows_suppressed * 1000000 div (rows_released + rows_suppressed)"))
      .orderBy(col("event_type"))
  }

  val q204Oracle: String =
    """WITH cells AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    count(*) AS n_rows, count(DISTINCT user_id) AS n_users
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(sum(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_suppressed_cells,
      |  CAST(sum(CASE WHEN n_users >= 5 THEN n_rows ELSE 0 END) AS BIGINT)
      |    AS rows_released,
      |  CAST(sum(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END) AS BIGINT)
      |    AS rows_suppressed,
      |  CAST(coalesce(min(CASE WHEN n_users >= 5 THEN n_users END), 0) AS BIGINT)
      |    AS min_released_cell_users,
      |  CAST(sum(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END) * 1000000
      |    // sum(n_rows) AS BIGINT) AS suppressed_ppm
      |FROM cells GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Inverse-CDF thresholds for the TRUNCATED two-sided geometric
    * (discrete-Laplace) mechanism at α = 1/2 (ε = ln 2), 2^60 fixed point:
    * P(Z = z) ∝ α^|z| over z ∈ [-16, 16]. Exact CDF at α = 1/2:
    * F(z) = (2/3)·2^z for z ≤ -1, F(z) = 1 − (1/3)·2^(−z) for z ≥ 0 —
    * thresholds are ⌊F(z)·2^60⌋, public constants computed in exact BigInt
    * so BOTH engines invert the same uniform-from-md5 stream to the same
    * draw (the q254 Poisson-bootstrap recipe, generalized to a signed
    * noise law). A `def` (round-5 gotcha: object val init order). */
  private def dpGeomCase(h: String): String = {
    val p60 = BigInt(1) << 60
    val ladder = (-16 to 15).map { z =>
      val t =
        if (z < 0) (BigInt(1) << (61 + z)) / 3
        else {
          val den = BigInt(3) * (BigInt(1) << z)
          (p60 * (den - 1)) / den
        }
      s"WHEN $h < $t THEN ${z}"
    }
    ladder.mkString("CASE ", " ", " ELSE 16 END")
  }

  /** q267: ε-differentially-private noisy-count release (VERDICT r9 item
    * 4) — the fourth rung of the privacy ladder (k-anonymity q204 →
    * l-diversity q212 → t-closeness q230 are SYNTACTIC criteria; this is
    * the statistical one): per-cell event counts over q204's
    * quasi-identifier grid (event_type, day) are released with additive
    * two-sided-geometric noise, the discrete analogue of the Laplace
    * mechanism (Ghosh, Roughgarden & Sundararajan 2009, "Universally
    * utility-maximizing privacy mechanisms" — the geometric mechanism is
    * ε-DP for sensitivity-1 counts and universally optimal). Event-level
    * adjacency (one event added/removed changes one cell count by 1 →
    * sensitivity 1); α = exp(−ε) = 1/2, i.e. ε = ln 2 per cell. Noise is
    * truncated to |z| ≤ 16 (tail mass 2·(1/3)·2⁻¹⁶ < 2⁻¹⁵ — the standard
    * truncated-geometric variant, (ε, δ)-DP with δ < 2⁻¹⁵) so the draw is
    * a bounded CASE ladder; negative noisy counts clip to 0
    * (post-processing preserves DP).
    *
    * Randomness is the house deterministic stream: u = first 15 hex chars
    * of md5("dp:" ‖ event_type ‖ ':' ‖ day) ∈ [0, 2^60), inverted through
    * the EXACT fixed-point CDF ([[dpGeomCase]]) — both engines draw
    * bit-identical noise, so the release audit hash-matches.
    *
    * Output is the release audit a governance reviewer reads: per
    * event_type, cell count, exact vs noised totals, L1 noise mass (the
    * realized utility cost, also in ppm of the exact total), the largest
    * single-cell perturbation, and how many cells clipped at zero.
    *
    * Scale stance: one hash aggregation keyed by the quasi-identifier
    * builds the cell frame; the noise draw is a pure per-cell map (no
    * coordination — exactly why the geometric mechanism distributes); the
    * audit is a second agg over the bounded |types|×|days| cell frame. */
  def q267DpNoisyRelease(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("u", conv(substring(md5(
        concat(lit("dp:"), col("event_type"), lit(":"), col("day").cast("string"))
          .cast("binary")), 1, 15), 16, 10).cast("long"))
      .withColumn("z", expr(dpGeomCase("u")).cast("long"))
      .withColumn("released", greatest(col("n_rows") + col("z"), lit(0L)))
    cells
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("n_rows")).as("exact_total"),
        sum(col("released")).as("noisy_total"),
        sum(abs(col("released") - col("n_rows"))).as("l1_noise"),
        max(abs(col("released") - col("n_rows"))).as("max_abs_noise"),
        sum(when(col("n_rows") + col("z") < 0, lit(1L)).otherwise(lit(0L)))
          .as("n_clipped"))
      .withColumn("l1_err_ppm", expr("(l1_noise * 1000000L) div exact_total"))
      .orderBy(col("event_type"))
  }

  def q267Oracle: String =
    s"""WITH cells AS (
       |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
       |    CAST(count(*) AS BIGINT) AS n_rows
       |  FROM events GROUP BY 1, 2),
       |noised AS (
       |  SELECT event_type, n_rows,
       |    ${dpGeomCase("CAST('0x' || substr(md5('dp:' || event_type || ':' || CAST(day AS VARCHAR)), 1, 15) AS BIGINT)")} AS z
       |  FROM cells),
       |rel AS (
       |  SELECT event_type, n_rows, z,
       |    CAST(greatest(n_rows + z, 0) AS BIGINT) AS released
       |  FROM noised)
       |SELECT event_type,
       |  CAST(count(*) AS BIGINT) AS n_cells,
       |  CAST(sum(n_rows) AS BIGINT) AS exact_total,
       |  CAST(sum(released) AS BIGINT) AS noisy_total,
       |  CAST(sum(abs(released - n_rows)) AS BIGINT) AS l1_noise,
       |  CAST(max(abs(released - n_rows)) AS BIGINT) AS max_abs_noise,
       |  CAST(sum(CASE WHEN n_rows + z < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clipped,
       |  CAST(sum(abs(released - n_rows)) * 1000000 // sum(n_rows) AS BIGINT)
       |    AS l1_err_ppm
       |FROM rel GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q208: VARIANT-typed semi-structured extraction — the Spark 4 VARIANT
    * path (parse once into the binary variant encoding, then typed
    * `variant_get` / null-safe `try_variant_get` / `schema_of_variant`
    * introspection) over the events props JSON, complementing q22's
    * per-path `get_json_object` strings. At 100 TB the difference is real:
    * VARIANT parses each document ONCE into a shreddable binary form that
    * all downstream paths read, where get_json_object re-parses the text
    * per extraction. Report per event_type: row count, the typed-long sum
    * of `$.k`, the null-safe miss count for an absent path (try_variant_get
    * returns NULL, never throws), and the count of distinct observed
    * schemas (drift detector; compared against DuckDB's json_structure by
    * COUNT — the schema-string spellings differ across engines, their
    * cardinality cannot).
    *
    * Scale stance: one scan, one hash aggregate keyed by event_type;
    * parse_json + variant_get stay inside whole-stage codegen. */
  def q208VariantExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("v", parse_json(col("props")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(expr("variant_get(v, '$.k', 'long')")).as("sum_k"),
        sum(when(expr("try_variant_get(v, '$.missing', 'long')").isNull, lit(1L))
          .otherwise(lit(0L))).as("n_missing_null"),
        // ADVICE r8: the variant and json_structure type LATTICES are not
        // isomorphic (DuckDB splits UBIGINT/BIGINT by sign; variant does
        // not), so an exact schema COUNT is data-dependent. Compare drift
        // as a boolean instead — "more than one observed shape" — with the
        // known sign-lattice asymmetry normalized oracle-side.
        (countDistinct(expr("schema_of_variant(v)")) > 1).cast("long")
          .as("schema_drift"))
      .orderBy(col("event_type"))

  val q208Oracle: String =
    """SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(sum(CASE WHEN json_extract_string(props, '$.missing') IS NULL
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_null,
      |  CAST(count(DISTINCT replace(CAST(json_structure(props) AS VARCHAR),
      |    'UBIGINT', 'BIGINT')) > 1 AS BIGINT) AS schema_drift
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q212: l-diversity release audit (Machanavajjhala et al. 2007) — the
    * homogeneity-attack check k-anonymity (q204) misses: a cell can cover
    * ≥ k distinct users yet expose them anyway when every row carries the
    * SAME sensitive value (all k users in the cell did the same thing —
    * the attacker learns it without identifying anyone). Quasi-identifier
    * is q204's (event_type, day) grid; the sensitive attribute is the
    * typed `$.k` payload field; a cell is releasable iff it is k-anonymous
    * (≥ 5 users) AND l-diverse (≥ 3 distinct sensitive values). Per
    * event_type: the cell census, the k-anonymous-but-homogeneous count
    * (the exposure q204 would have released), row mass on each side, the
    * min sensitive-diversity among released cells (proof obligation:
    * ≥ l), and the exact-ppm share of rows that ONLY l-diversity blocked.
    *
    * Scale stance: identical shuffle topology to q204 — one hash
    * aggregation keyed by the quasi-identifier (the two count-distincts
    * expand into the same shuffle), then a second agg over the bounded
    * |types|×|days| cell frame. The release decision is two integer
    * compares; no windows, no joins. */
  def q212LDiversity(s: SparkSession, dir: String): DataFrame = {
    val (k, l) = (lit(5L), lit(3L))
    val cells = Tables.events(s, dir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        // ADVICE r8 (mirrors q230): NULL sensitive values count as a real
        // (sentinel) diversity value in both engines, never silently drop
        countDistinct(coalesce(
          expr("CAST(get_json_object(props, '$.k') AS BIGINT)"),
          lit(-4611686018427387904L))).as("n_sens"))
    val kAnon = col("n_users") >= k
    val released = kAnon && col("n_sens") >= l
    cells
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(kAnon, lit(1L)).otherwise(lit(0L))).as("n_k_anonymous"),
        sum(when(kAnon && col("n_sens") < l, lit(1L)).otherwise(lit(0L)))
          .as("n_homogeneous"),
        sum(when(released, col("n_rows")).otherwise(lit(0L))).as("rows_released"),
        sum(when(kAnon && col("n_sens") < l, col("n_rows")).otherwise(lit(0L)))
          .as("rows_blocked_diversity"),
        coalesce(min(when(released, col("n_sens"))), lit(0L))
          .as("min_released_diversity"),
        sum(col("n_rows")).as("rows_total"))
      .withColumn("diversity_blocked_ppm",
        expr("rows_blocked_diversity * 1000000 div rows_total"))
      .drop("rows_total")
      .orderBy(col("event_type"))
  }

  val q212Oracle: String =
    """WITH cells AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
      |    count(DISTINCT coalesce(
      |      CAST(json_extract_string(props, '$.k') AS BIGINT),
      |      -4611686018427387904)) AS n_sens
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(sum(CASE WHEN n_users >= 5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_k_anonymous,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens < 3 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_homogeneous,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens >= 3 THEN n_rows ELSE 0 END)
      |    AS BIGINT) AS rows_released,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens < 3 THEN n_rows ELSE 0 END)
      |    AS BIGINT) AS rows_blocked_diversity,
      |  CAST(coalesce(min(CASE WHEN n_users >= 5 AND n_sens >= 3
      |    THEN n_sens END), 0) AS BIGINT) AS min_released_diversity,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens < 3 THEN n_rows ELSE 0 END)
      |    * 1000000 // sum(n_rows) AS BIGINT) AS diversity_blocked_ppm
      |FROM cells GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q210: right-to-erasure propagation audit (GDPR art. 17 / CCPA
    * deletion) — given an erasure-request list of user_ids, delete every
    * event of those users and PROVE the deletion: per event_type, rows
    * before/deleted/after, distinct users erased, and the residual
    * reference count after propagation — which a correct operator makes 0
    * on every row, and which a 100 TB deployment must re-verify per dump
    * because late-arriving data re-introduces erased subjects. The
    * request list here is the user_id % 97 = 0 slice, standing in for the
    * compliance table a real pipeline broadcasts.
    *
    * Scale stance: the request list is subject-count-sized (broadcast);
    * deletion is ONE broadcast anti-join (left_anti — no shuffle of the
    * fact side beyond the scan), and the residual check is the mirror
    * broadcast semi-join over the already-filtered survivors. Counts
    * reduce per event_type. Nothing sorts, nothing windows. */
  def q210ErasurePropagation(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val dels = ev.filter(col("user_id") % 97 === 0)
      .select(col("user_id")).distinct()
    val before = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("rows_before"),
        countDistinct(when(col("user_id") % 97 === 0, col("user_id")))
          .as("users_erased"))
    val after = ev.join(broadcast(dels), Seq("user_id"), "left_anti")
    val residual = after.join(broadcast(dels), Seq("user_id"), "left_semi")
      .groupBy(col("event_type")).agg(count(lit(1)).as("residual_refs"))
    val kept = after.groupBy(col("event_type"))
      .agg(count(lit(1)).as("rows_after"))
    before.join(kept, Seq("event_type"), "left_outer")
      .join(residual, Seq("event_type"), "left_outer")
      .select(col("event_type"), col("rows_before"),
        (col("rows_before") - coalesce(col("rows_after"), lit(0L)))
          .as("rows_deleted"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        col("users_erased"),
        coalesce(col("residual_refs"), lit(0L)).as("residual_refs"))
      .orderBy(col("event_type"))
  }

  val q210Oracle: String =
    """WITH dels AS (
      |  SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
      |b AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS rows_before,
      |    CAST(count(DISTINCT CASE WHEN user_id % 97 = 0 THEN user_id END)
      |      AS BIGINT) AS users_erased
      |  FROM events GROUP BY 1),
      |k AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS rows_after
      |  FROM events WHERE user_id NOT IN (SELECT user_id FROM dels)
      |  GROUP BY 1)
      |SELECT b.event_type, rows_before,
      |  rows_before - coalesce(rows_after, 0) AS rows_deleted,
      |  coalesce(rows_after, 0) AS rows_after, users_erased,
      |  CAST(0 AS BIGINT) AS residual_refs
      |FROM b LEFT JOIN k ON b.event_type = k.event_type
      |ORDER BY b.event_type""".stripMargin

  /** q230: t-closeness release audit (Li, Li & Venkatasubramanian 2007) —
    * the third rung of the privacy ladder, catching the SKEW attack that
    * survives both q204's k-anonymity and q212's l-diversity: a cell can
    * hold ≥ k users and ≥ l distinct sensitive values yet still leak by
    * having its distribution wildly tilted toward one value. t-closeness
    * bounds the Earth Mover's Distance between each cell's sensitive
    * distribution and the global one; for an ORDERED domain the EMD has
    * the exact prefix form (1/(m−1))·Σᵢ |Pᵢ − Qᵢ| over cumulative
    * probabilities — which cross-multiplies to pure integers:
    * emd_ppm = 10⁶·Σᵢ |Cᵢ·N − Gᵢ·n| div ((m−1)·n·N), every product
    * DECIMAL(38)-widened (cell·global count products pass 2^63 at corpus
    * scale — the q161/q214 requirement). The final prefix term is
    * identically zero (Cₘ·N = n·N = Gₘ·n), so summing all m positions IS
    * the m−1-term sum.
    *
    * Scale: same single QI-keyed shuffle as q204/q212 plus one bounded
    * global-value aggregate; the dense (cell × domain) grid comes from a
    * ≤|domain|-row broadcast crossJoin onto the reduced cell frame
    * (PlanSpec-allowlisted — the q162 boundary-probe argument), and every
    * window runs over reduced frames. Release = k-anon ∧ l-diverse ∧
    * EMD ≤ t (k=5, l=3, t=0.2); `n_skewed` counts exactly the cells the
    * first two rungs would have released. */
  def q230TCloseness(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def wide(c: Column): Column = c.cast(DecimalType(38, 0))
    val (k, l, tPpm) = (lit(5L), lit(3L), lit(200000L))
    // ADVICE r8: a NULL sensitive value would diverge between engines
    // (Spark windows sort NULLS FIRST asc, DuckDB NULLS LAST; the cv.v=g.v
    // equi-join drops NULL mass). Coalesce to an ordered sentinel below any
    // real payload value so the assumption is structural, not
    // data-dependent — a NULL becomes a genuine (lowest) domain value in
    // BOTH engines and its mass participates in the EMD.
    val ev = graft.Caches.persist(Tables.events(s, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id"),
        coalesce(expr("CAST(get_json_object(props, '$.k') AS BIGINT)"),
          lit(-4611686018427387904L)).as("v")))
    val gOrd = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val gcum = ev.groupBy(col("v")).agg(count(lit(1)).as("gc"))
      .withColumn("gcum", sum(col("gc")).over(gOrd))
      .withColumn("nglob", sum(col("gc")).over(gAll))
      .withColumn("m", count(lit(1)).over(gAll))
      .select(col("v"), col("gcum"), col("nglob"), col("m"))
    val cellStats = ev.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("v")).as("n_sens"))
    val cellVal = ev.groupBy(col("event_type"), col("day"), col("v"))
      .agg(count(lit(1)).as("cc"))
    val cOrd = Window.partitionBy(col("event_type"), col("day")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val emd = cellStats.select(col("event_type"), col("day"), col("n_rows"))
      .crossJoin(broadcast(gcum))
      .join(cellVal, Seq("event_type", "day", "v"), "left")
      // re-aggregate the (already unique) grid so the prefix window's
      // reduced-input claim is STRUCTURAL — an Aggregate on its unary
      // chain, not just on the join's branches (the PlanSpec window lint
      // stops at multi-child nodes by design); one cheap hash agg over
      // the bounded |cells|·|domain| frame
      .groupBy(col("event_type"), col("day"), col("v"))
      .agg(first(col("n_rows")).as("n_rows"), first(col("m")).as("m"),
        first(col("nglob")).as("nglob"), first(col("gcum")).as("gcum"),
        sum(coalesce(col("cc"), lit(0L))).as("cc"))
      .withColumn("ccum", sum(col("cc")).over(cOrd))
      .groupBy(col("event_type"), col("day"))
      .agg(first(col("n_rows")).as("n_rows"), first(col("m")).as("m"),
        first(col("nglob")).as("nglob"),
        sum(abs(wide(col("ccum")) * wide(col("nglob"))
          - wide(col("gcum")) * wide(col("n_rows")))).as("num"))
      .withColumn("emd_ppm",
        expr("CAST((1000000 * num) div ((m - 1) * CAST(n_rows AS DECIMAL(38,0)) * nglob) AS BIGINT)"))
      .select(col("event_type"), col("day"), col("emd_ppm"))
    val cells = cellStats.join(emd, Seq("event_type", "day"))
    val kl = col("n_users") >= k && col("n_sens") >= l
    val released = kl && col("emd_ppm") <= tPpm
    cells.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(when(kl, 1L).otherwise(0L)).as("n_pass_kl"),
        sum(when(kl && col("emd_ppm") > tPpm, 1L).otherwise(0L)).as("n_skewed"),
        sum(when(released, col("n_rows")).otherwise(0L)).as("rows_released"),
        sum(when(kl && col("emd_ppm") > tPpm, col("n_rows")).otherwise(0L))
          .as("rows_blocked_skew"),
        coalesce(max(when(released, col("emd_ppm"))), lit(0L))
          .as("max_released_emd_ppm"),
        sum(col("n_rows")).as("rows_total"))
      .withColumn("skew_blocked_ppm",
        expr("rows_blocked_skew * 1000000 div rows_total"))
      .drop("rows_total")
      .orderBy(col("event_type"))
  }

  val q230Oracle: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, user_id,
      |    coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT),
      |      -4611686018427387904) AS v
      |  FROM events),
      |g AS (
      |  SELECT v, count(*) AS gc FROM ev GROUP BY 1),
      |gcum AS (
      |  SELECT v,
      |    sum(gc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS gcum,
      |    sum(gc) OVER () AS nglob, count(*) OVER () AS m
      |  FROM g),
      |cs AS (
      |  SELECT event_type, day, count(*) AS n_rows,
      |    count(DISTINCT user_id) AS n_users, count(DISTINCT v) AS n_sens
      |  FROM ev GROUP BY 1, 2),
      |cv AS (
      |  SELECT event_type, day, v, count(*) AS cc FROM ev GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT cs.event_type, cs.day, cs.n_rows, g.v, g.gcum, g.nglob, g.m,
      |    coalesce(cv.cc, 0) AS cc
      |  FROM cs CROSS JOIN gcum g
      |  LEFT JOIN cv ON cv.event_type = cs.event_type AND cv.day = cs.day
      |    AND cv.v = g.v),
      |pre AS (
      |  SELECT event_type, day, n_rows, m, nglob, gcum,
      |    sum(cc) OVER (PARTITION BY event_type, day ORDER BY v
      |      ROWS UNBOUNDED PRECEDING) AS ccum
      |  FROM grid),
      |emd AS (
      |  SELECT event_type, day,
      |    CAST((1000000 * sum(abs(CAST(ccum AS HUGEINT) * nglob
      |        - CAST(gcum AS HUGEINT) * n_rows)))
      |      // ((max(m) - 1) * CAST(max(n_rows) AS HUGEINT) * max(nglob))
      |      AS BIGINT) AS emd_ppm
      |  FROM pre GROUP BY 1, 2),
      |cells AS (
      |  SELECT cs.*, emd.emd_ppm FROM cs JOIN emd USING (event_type, day))
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_cells,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens >= 3 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pass_kl,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens >= 3 AND emd_ppm > 200000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_skewed,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens >= 3 AND emd_ppm <= 200000
      |    THEN n_rows ELSE 0 END) AS BIGINT) AS rows_released,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens >= 3 AND emd_ppm > 200000
      |    THEN n_rows ELSE 0 END) AS BIGINT) AS rows_blocked_skew,
      |  CAST(coalesce(max(CASE WHEN n_users >= 5 AND n_sens >= 3
      |    AND emd_ppm <= 200000 THEN emd_ppm END), 0) AS BIGINT)
      |    AS max_released_emd_ppm,
      |  CAST(sum(CASE WHEN n_users >= 5 AND n_sens >= 3 AND emd_ppm > 200000
      |    THEN n_rows ELSE 0 END) * 1000000 // sum(n_rows) AS BIGINT)
      |    AS skew_blocked_ppm
      |FROM cells
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q222: lagged cross-covariance — "does click volume LEAD purchase
    * volume, and by how many days?", the lead-lag screen run before anyone
    * trusts a conversion attribution (q144 assigns credit within a session;
    * this asks whether the aggregate series even co-move, and at what
    * offset). For L ∈ 0..7 the pairs (x_t, y_{t+L}) are aligned by
    * CALENDAR day (a self-equi-join on day+L over the reduced day frame —
    * not lead(L) rows, which would silently mis-lag across gap days), and
    * the covariance numerator n·Σxy − Σx·Σy is emitted exactly: count
    * products widen to DECIMAL(38,0) BEFORE multiplication (at 100 TB
    * daily counts reach 1e12 and Σxy passes 2^63 — the q161 widening
    * requirement, not pedantry), the result cast back to BIGINT at the
    * reporting grain. A peak flag marks the |cov|-maximal lag via a window
    * over the 8-row frame.
    *
    * Scale: ONE fact-table partial+final aggregate reduces the corpus to
    * the bounded day frame; the lag explode (×8) and self-join touch only
    * that frame. No float enters, so engines agree on every margin. */
  def q222LaggedCrosscov(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def wide(c: Column): Column = c.cast(DecimalType(38, 0))
    val d = graft.Caches.persist(
      Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y")))
    val lagged = d.select(col("day"), col("x"),
        explode(sequence(lit(0L), lit(7L))).as("lag"))
      .join(d.select(col("day").as("yday"), col("y")),
        col("yday") === col("day") + col("lag"))
    val agg = lagged.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(wide(col("x")) * wide(col("y"))).as("sxy"))
      .select(col("lag"), col("n_pairs"),
        (wide(col("n_pairs")) * col("sxy") - wide(col("sx")) * wide(col("sy")))
          .cast("long").as("cov_num"))
    agg
      .withColumn("is_peak",
        (abs(col("cov_num")) === max(abs(col("cov_num"))).over(
          Window.orderBy(col("lag"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .cast("long"))
      .select(col("lag"), col("n_pairs"), col("cov_num"), col("is_peak"))
      .orderBy(col("lag"))
  }

  val q222Oracle: String =
    """WITH d AS (
      |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') AS day,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
      |p AS (
      |  SELECT l.lag, a.x, b.y
      |  FROM d a CROSS JOIN unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS l(lag)
      |  JOIN d b ON b.day = a.day + l.lag),
      |agg AS (
      |  SELECT lag, count(*) AS n_pairs,
      |    sum(x) AS sx, sum(y) AS sy,
      |    sum(CAST(x AS DECIMAL(38, 0)) * CAST(y AS DECIMAL(38, 0))) AS sxy
      |  FROM p GROUP BY 1),
      |c AS (
      |  SELECT lag, n_pairs,
      |    CAST(CAST(n_pairs AS DECIMAL(38, 0)) * sxy
      |       - CAST(sx AS DECIMAL(38, 0)) * CAST(sy AS DECIMAL(38, 0))
      |      AS BIGINT) AS cov_num
      |  FROM agg)
      |SELECT CAST(lag AS BIGINT) AS lag, CAST(n_pairs AS BIGINT) AS n_pairs,
      |  cov_num,
      |  CAST(CASE WHEN abs(cov_num) = max(abs(cov_num)) OVER () THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_peak
      |FROM c ORDER BY lag""".stripMargin

  /** q257: first-order Markov transition matrix over per-user event
    * timelines — the next-event-prediction baseline (and the input to
    * Markov attribution's removal effects): P(next | current) estimated
    * from every adjacent pair in each user's (ts, event_id)-ordered
    * stream, in exact ppm. Ships the full bounded |types|² matrix with
    * per-row transition ranks — WHICH follow-up dominates each state is
    * the product question (recommendation, prefetch, funnel design) this
    * frame answers directly.
    *
    * Scale: pair extraction is one `lead` window partitioned by user_id
    * (a key whose cardinality scales with the data — the lint's
    * requirement); counts reduce by one hash aggregate to the bounded
    * type-pair frame, where the ppm arithmetic and ranking run. */
  def q257MarkovTransitions(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(wU))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val wCur = Window.partitionBy(col("cur_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRank = Window.partitionBy(col("cur_type"))
      .orderBy(col("n").desc, col("next_type").asc)
    pairs
      .withColumn("n_cur", sum(col("n")).over(wCur))
      .withColumn("p_ppm", expr("(n * 1000000L) div n_cur"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .select(col("cur_type"), col("next_type"), col("n"), col("n_cur"),
        col("p_ppm"), col("rk"))
      .orderBy(col("cur_type"), col("rk"))
  }

  val q257Oracle: String =
    """WITH p AS (
      |  SELECT event_type AS cur_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS next_type
      |  FROM events),
      |c AS (
      |  SELECT cur_type, next_type, CAST(count(*) AS BIGINT) AS n
      |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |m AS (
      |  SELECT cur_type, next_type, n,
      |    CAST(sum(n) OVER (PARTITION BY cur_type) AS BIGINT) AS n_cur,
      |    row_number() OVER (PARTITION BY cur_type ORDER BY n DESC, next_type ASC)
      |      AS rk
      |  FROM c)
      |SELECT cur_type, next_type, n, n_cur,
      |  CAST((n * 1000000) // n_cur AS BIGINT) AS p_ppm,
      |  CAST(rk AS BIGINT) AS rk
      |FROM m ORDER BY cur_type, rk""".stripMargin

  /** q259: behavioral-entropy segmentation — per user, the Shannon entropy
    * of their event-type distribution (Shannon '48), the standard
    * diversity-of-behavior feature behind engagement segmentation and bot
    * detection (a bot hammers one event type: H ≈ 0; an explorer spreads:
    * H → log₂|types|). Exact integers end-to-end via the fixed-point log2
    * ([[Text.withLog2fp]]): H_fp = Σ c·(lg n − lg c) div n at 2¹⁶, then
    * users histogram into 1/64-bit bands — the bounded segmentation
    * frame a campaign targets, with band population, mean activity, and
    * mean entropy.
    *
    * Scale: one (user, type) hash aggregate; the per-user total is a
    * window sum over that REDUCED frame partitioned by the scaling
    * user_id key; the log folds are codegen'd per-row expressions; the
    * final histogram is a ≤ ~20-key aggregate. */
  def q259BehaviorEntropy(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cnt = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
      .withColumn("nu", sum(col("c")).over(wU))
    val logged = Text.withLog2fp(Text.withLog2fp(cnt, "nu", "lgn"), "c", "lgc")
    logged
      .groupBy(col("user_id"), col("nu"))
      .agg(sum(expr("c * (lgn - lgc)")).as("hsum"))
      .withColumn("hfp", expr("hsum div nu"))
      .groupBy(expr("hfp div 1024").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        expr("sum(nu) div count(1)").as("mean_events"),
        expr("sum(hfp) div count(1)").as("mean_entropy_fp"))
      .orderBy(col("bucket"))
  }

  def q259Oracle: String = {
    val keep = Seq("user_id", "c", "nu")
    s"""WITH c AS MATERIALIZED (
       |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |n AS MATERIALIZED (
       |  SELECT user_id, c,
       |    CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS nu
       |  FROM c),
       |${Text.uniLog2Ctes("ha_", "n", "nu", keep)},
       |ha2 AS (SELECT ${keep.mkString(", ")}, lg AS lgn FROM ha_lg),
       |${Text.uniLog2Ctes("hb_", "ha2", "c", keep :+ "lgn")},
       |hb2 AS (SELECT ${(keep :+ "lgn").mkString(", ")}, lg AS lgc FROM hb_lg),
       |h AS (
       |  SELECT user_id, nu,
       |    CAST(CAST(sum(c * (lgn - lgc)) AS BIGINT) // nu AS BIGINT) AS hfp
       |  FROM hb2 GROUP BY user_id, nu)
       |SELECT hfp // 1024 AS bucket, CAST(count(*) AS BIGINT) AS n_users,
       |  CAST(CAST(sum(nu) AS BIGINT) // count(*) AS BIGINT) AS mean_events,
       |  CAST(CAST(sum(hfp) AS BIGINT) // count(*) AS BIGINT) AS mean_entropy_fp
       |FROM h GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** q260: Markov multi-touch attribution by removal effects (Anderl et
    * al. 2014, the data-driven successor to last-touch heuristics): model
    * user journeys as a first-order absorbing Markov chain (START →
    * touchpoints → purchase-absorb or drop-off-absorb), then credit each
    * channel by how much the chain's conversion probability FALLS when
    * that channel is removed — removal = its transitions dropped, the
    * lost mass flowing to the drop-off absorber (no renormalization, per
    * the method).
    *
    * Journeys truncate at the FIRST purchase (post-conversion behavior is
    * a different journey); the terminal non-converting step emits an
    * explicit → NULL transition so every row of the matrix sums to its
    * out-mass. Conversion probability comes from 12 unrolled
    * value-iteration rounds v(s) ← Σ p(s,t)·v(t) at 10¹² fixed point
    * (purchase ≡ SCALE, NULL ≡ 0) — the q117/q233 fixed-round discipline,
    * exact integers, bit-stable under any partitioning. All five chain
    * variants (base + 4 removals) iterate TOGETHER as one variant-tagged
    * frame, so the 12 rounds cost 12 joins total, not 60.
    *
    * Scale: the corpus reduces via one user-keyed window + one pair
    * aggregate to the bounded |states|² matrix; everything after —
    * variant explode, 12 iterations, removal arithmetic — runs on
    * ≤ 5·|states|² rows. At 100 TB only the journey build sees data. */
  def q260MarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    val Scale = 1000000000000L
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val seq0 = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("pos", row_number().over(wU))
    val firstBuy = seq0.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("pos")).as("buy_pos"))
    val jour = seq0.join(firstBuy, Seq("user_id"), "left")
      .filter(col("buy_pos").isNull || col("pos") <= col("buy_pos"))
    val wJ = Window.partitionBy(col("user_id")).orderBy(col("pos"))
    // r15: persist — the edge union below consumes `steps` three times, and
    // each branch re-ran the events scan + two windows + the first-buy join
    // (JobTrace: three ~250–340 ms single-task scan jobs per run)
    val steps = graft.Caches.persist(jour
      .withColumn("nxt", lead(col("event_type"), 1).over(wJ))
      .select(col("user_id"), col("pos"), col("event_type"), col("nxt")))
    // START → first event, event → next, terminal non-purchase → NULL
    val edges = steps.filter(col("pos") === 1)
      .select(lit("START").as("src"), col("event_type").as("dst"))
      .unionByName(steps.filter(col("nxt").isNotNull)
        .select(col("event_type").as("src"), col("nxt").as("dst")))
      .unionByName(steps
        .filter(col("nxt").isNull && col("event_type") =!= "purchase")
        .select(col("event_type").as("src"), lit("NULL").as("dst")))
    val cnt = edges.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
    val wSrc = Window.partitionBy(col("src"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val mat = cnt.withColumn("out_c", sum(col("c")).over(wSrc))
      .select(col("src"), col("dst"), expr("(c * 1000000L) div out_c").as("p_ppm"))
    val variants = Seq("base", "click", "view", "signup", "error")
    // r15, guide §2.4 (the q154/q269 compact discipline): the matrix and
    // state frames are bounded (≤ 5·|states|² rows), so they checkpoint as
    // ONE partition and re-declare SinglePartition via coalesce(1) — every
    // in-loop join/aggregate then plans exchange-free (before: 95 jobs /
    // 97 tasks, every round re-exchanged at 32 partitions). The iterate
    // keeps its per-THIRD-round checkpoint: a fully lazy 12-round chain
    // was measured SLOWER on a quiet host (4.1 s vs 2.5 s baseline — the
    // deep unrolled tree's analysis+execution exceeds the checkpoint
    // cost), while every-round checkpoints pay ~6 driver jobs each; three
    // lazy levels per flatten is the measured sweet spot.
    val tagged = graft.Caches.trackCheckpoint(
      mat.withColumn("variant",
        explode(array(variants.map(lit): _*)))
        .filter(col("variant") === "base" ||
          (col("src") =!= col("variant") && col("dst") =!= col("variant")))
        .coalesce(1).localCheckpoint()).coalesce(1)
    val states = graft.Caches.trackCheckpoint(
      tagged.select(col("variant"), col("src").as("state")).distinct()
        .localCheckpoint()).coalesce(1)
    var v = states.select(col("variant"), col("state"), lit(0L).as("v"))
    for (it <- 1 to 12) {
      val vNext = tagged
        .join(v.select(col("variant"), col("state").as("dst"), col("v").as("vd")),
          Seq("variant", "dst"), "left")
        .withColumn("val", expr(
          s"""CASE WHEN dst = 'purchase' THEN ${Scale}L
             |     WHEN dst = 'NULL' THEN 0L
             |     ELSE coalesce(vd, 0L) END""".stripMargin))
        .groupBy(col("variant"), col("src").as("state"))
        .agg(sum(expr("(p_ppm * val) div 1000000L")).as("v"))
      v = states.join(vNext, Seq("variant", "state"), "left")
        .select(col("variant"), col("state"), coalesce(col("v"), lit(0L)).as("v"))
      if (it % 3 == 0)
        v = graft.Caches.trackCheckpoint(v.localCheckpoint()).coalesce(1)
    }
    val pStart = v.filter(col("state") === "START")
      .select(col("variant"), col("v").as("p_conv_scaled"))
    // every variant's edges are a subset of base's, so base has its START
    // row whenever any variant does: the NULL of a 0-row scalar never
    // meets a row, and no guard is needed
    val base = pStart.filter(col("variant") === "base").select(col("p_conv_scaled")).scalar()
    pStart.filter(col("variant") =!= "base")
      .withColumn("base_scaled", base)
      .select(col("variant").as("channel"), col("p_conv_scaled"),
        col("base_scaled"),
        expr("((base_scaled - p_conv_scaled) * 1000000L) div base_scaled")
          .as("removal_effect_ppm"))
      .orderBy(col("channel"))
  }

  def q260Oracle: String = {
    val Scale = 1000000000000L
    val iters = (1 to 12).map { k =>
      s"""v$k AS MATERIALIZED (
         |  SELECT st.variant, st.state, CAST(coalesce(nx.v, 0) AS BIGINT) AS v
         |  FROM states st LEFT JOIN (
         |    SELECT m.variant, m.src AS state,
         |      CAST(sum((m.p_ppm * CASE WHEN m.dst = 'purchase' THEN $Scale
         |                               WHEN m.dst = 'NULL' THEN 0
         |                               ELSE coalesce(pv.v, 0) END) // 1000000)
         |           AS BIGINT) AS v
         |    FROM tagged m LEFT JOIN v${k - 1} pv
         |      ON pv.variant = m.variant AND pv.state = m.dst
         |    GROUP BY 1, 2) nx
         |  ON nx.variant = st.variant AND nx.state = st.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq0 AS MATERIALIZED (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
       |  FROM events),
       |fb AS (SELECT user_id, min(pos) AS buy_pos FROM seq0
       |       WHERE event_type = 'purchase' GROUP BY user_id),
       |jour AS MATERIALIZED (
       |  SELECT s.user_id, s.event_type, s.pos
       |  FROM seq0 s LEFT JOIN fb USING (user_id)
       |  WHERE fb.buy_pos IS NULL OR s.pos <= fb.buy_pos),
       |steps AS MATERIALIZED (
       |  SELECT user_id, pos, event_type,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY pos) AS nxt
       |  FROM jour),
       |edges AS (
       |  SELECT 'START' AS src, event_type AS dst FROM steps WHERE pos = 1
       |  UNION ALL
       |  SELECT event_type, nxt FROM steps WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT event_type, 'NULL' FROM steps
       |  WHERE nxt IS NULL AND event_type <> 'purchase'),
       |cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
       |        FROM edges GROUP BY 1, 2),
       |mat AS MATERIALIZED (
       |  SELECT src, dst,
       |    CAST((c * 1000000) // sum(c) OVER (PARTITION BY src) AS BIGINT) AS p_ppm
       |  FROM cnt),
       |tagged AS MATERIALIZED (
       |  SELECT v.variant, m.src, m.dst, m.p_ppm
       |  FROM mat m, (SELECT unnest(['base', 'click', 'view', 'signup', 'error'])
       |               AS variant) v
       |  WHERE v.variant = 'base'
       |     OR (m.src <> v.variant AND m.dst <> v.variant)),
       |states AS MATERIALIZED (
       |  SELECT DISTINCT variant, src AS state FROM tagged),
       |v0 AS (SELECT variant, state, CAST(0 AS BIGINT) AS v FROM states),
       |$iters,
       |ps AS (SELECT variant, v AS p_conv_scaled FROM v12 WHERE state = 'START'),
       |b AS (SELECT p_conv_scaled AS base_scaled FROM ps WHERE variant = 'base')
       |SELECT ps.variant AS channel, ps.p_conv_scaled, b.base_scaled,
       |  CAST(((b.base_scaled - ps.p_conv_scaled) * 1000000) // b.base_scaled
       |       AS BIGINT) AS removal_effect_ppm
       |FROM ps CROSS JOIN b
       |WHERE ps.variant <> 'base'
       |ORDER BY channel""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q267_dp_noisy_release" -> (q267DpNoisyRelease _),
    "q260_markov_attribution" -> (q260MarkovAttribution _),
    "q259_behavior_entropy" -> (q259BehaviorEntropy _),
    "q257_markov_transitions" -> (q257MarkovTransitions _),
    "q222_lagged_crosscov" -> (q222LaggedCrosscov _),
    "q230_t_closeness" -> (q230TCloseness _),
    "q212_l_diversity" -> (q212LDiversity _),
    "q210_erasure_propagation" -> (q210ErasurePropagation _),
    "q208_variant_extract" -> (q208VariantExtract _),
    "q204_k_anonymity"     -> (q204KAnonymity _),
    "q161_seasonal_anomaly" -> (q161SeasonalAnomaly _),
    "q148_session_stats"   -> (q148SessionStats _),
    "q144_attribution"     -> (q144Attribution _),
    "q145_interval_sweep"  -> (q145IntervalSweep _),
    "q141_event_sequences" -> (q141EventSequences _),
    "q143_cumulative_uniques" -> (q143CumulativeUniques _),
    "q133_ordered_funnel"  -> (q133OrderedFunnel _),
    "q120_temporal_join"   -> (q120TemporalJoin _),
    "q123_rolling_distinct" -> (q123RollingDistinct _),
    "q20_hourly_by_type"   -> (q20HourlyByType _),
    "q21_sessions"         -> (q21Sessions _),
    "q22_json_extract"     -> (q22JsonExtract _),
    "q23_top_events_per_type" -> (q23TopEventsPerType _),
    "q66_session_windows"  -> (q66SessionWindows _),
    "q93_event_funnel"     -> (q93EventFunnel _),
    "q107_cohort_retention" -> (q107CohortRetention _),
    "q108_scd2_intervals"  -> (q108Scd2Intervals _),
  )

  val oracles: Map[String, String] = Map(
    "q267_dp_noisy_release" -> q267Oracle,
    "q260_markov_attribution" -> q260Oracle,
    "q259_behavior_entropy" -> q259Oracle,
    "q257_markov_transitions" -> q257Oracle,
    "q222_lagged_crosscov" -> q222Oracle,
    "q230_t_closeness" -> q230Oracle,
    "q212_l_diversity" -> q212Oracle,
    "q210_erasure_propagation" -> q210Oracle,
    "q208_variant_extract" -> q208Oracle,
    "q204_k_anonymity"     -> q204Oracle,
    "q161_seasonal_anomaly" -> q161Oracle,
    "q148_session_stats"   -> q148Oracle,
    "q144_attribution"     -> q144Oracle,
    "q145_interval_sweep"  -> q145Oracle,
    "q141_event_sequences" -> q141Oracle,
    "q143_cumulative_uniques" -> q143Oracle,
    "q133_ordered_funnel"  -> q133Oracle,
    "q20_hourly_by_type"   -> q20Oracle,
    "q21_sessions"         -> q21Oracle,
    "q22_json_extract"     -> q22Oracle,
    "q23_top_events_per_type" -> q23Oracle,
    "q66_session_windows"  -> q66Oracle,
    "q93_event_funnel"     -> q93Oracle,
    "q107_cohort_retention" -> q107Oracle,
    "q108_scd2_intervals"  -> q108Oracle,
    "q120_temporal_join"   -> q120Oracle,
    "q123_rolling_distinct" -> q123Oracle,
  )
}
