package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._
import Shared._

/** Events analytics: hourly rollups, sessions, funnels, retention,
  * CUSUM, quantile sketches, the streaming replays that must reproduce
  * them, and ingest normalization.
  */
object EventQueries {

  /** Replay-drop directory for the streaming sessionization query. */
  private lazy val sessionsReplayDir: String = TempDirs.create("graft_sessions_replay")

  /** Replay-drop directory for the append-mode hourly query. */
  private lazy val hourlyReplayDir: String = TempDirs.create("graft_hourly_replay")

  /** Replay-drop directory for the streaming histogram query. */
  private lazy val histReplayDir: String = TempDirs.create("graft_hist_replay")

  private lazy val histByTypeReplayDir: String =
    TempDirs.create("graft_hist_by_type_replay")

  /** Replay-drop directory for the streaming CUSUM query. */
  private lazy val cusumReplayDir: String = TempDirs.create("graft_cusum_replay")

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** The CUSUM oracle: hourly counts → per-type k = ⌈mean⌉+2 →
    * the recursion unrolled as a recursive CTE. Shared verbatim by the
    * batch query and the streaming replay.
    */
  private lazy val eventsCusumOracle: String =
    """WITH RECURSIVE h AS (
      |   SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
      |   FROM events GROUP BY date_trunc('hour', ts), event_type),
      | kt AS (SELECT event_type,
      |     (CAST(sum(n_events) AS BIGINT) + count(*) - 1) // count(*) + 2 AS k
      |   FROM h GROUP BY event_type),
      | hr AS (SELECT h.event_type, h.hour, h.n_events, kt.k,
      |     row_number() OVER (PARTITION BY h.event_type ORDER BY h.hour) AS rn
      |   FROM h JOIN kt USING (event_type)),
      | rec AS (
      |   SELECT event_type, hour, n_events, k, rn,
      |     greatest(CAST(0 AS BIGINT), n_events - k) AS s
      |   FROM hr WHERE rn = 1
      |   UNION ALL
      |   SELECT hr.event_type, hr.hour, hr.n_events, hr.k, hr.rn,
      |     greatest(CAST(0 AS BIGINT), rec.s + hr.n_events - hr.k)
      |   FROM hr JOIN rec ON hr.event_type = rec.event_type AND hr.rn = rec.rn + 1)
      | SELECT event_type, hour, n_events, k, s AS cusum, s >= 3 * k AS alarm
      | FROM rec ORDER BY event_type, hour""".stripMargin

  /** The shared register build + rank walk: registers only, no exact
    * pass — the production sketch path. The filter runs on the integer
    * cents carrier (not the raw double) so a price in (0, 0.005) is
    * dropped by BOTH engines identically.
    */
  private lazy val histRegistersCte: String =
    """WITH base AS (
      |   SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |   FROM lineitem
      |   WHERE CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      | b AS (SELECT cents,
      |     greatest(CAST(length(bin(cents)) AS INTEGER) - 1 - 4, 0) AS sh
      |   FROM base),
      | hist AS (SELECT (cents >> sh) << sh AS lo, sh, count(*) AS cnt
      |   FROM b GROUP BY (cents >> sh) << sh, sh),
      | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
      | pct(idx, p_num, p_den) AS (VALUES (1, 1, 2), (2, 9, 10), (3, 99, 100), (4, 999, 1000)),
      | rk AS (SELECT idx, CAST(p_num AS BIGINT) AS p_num, CAST(p_den AS BIGINT) AS p_den,
      |     (p_num * n + p_den - 1) // p_den AS target_rank FROM pct, tot),
      | cum AS (SELECT lo, sh, cnt, sum(cnt) OVER (ORDER BY lo) AS cum FROM hist)""".stripMargin

  /** Per-event_type register build + rank walk + quantile_cont twin —
    * shared verbatim by the batch grouped sketch and its streaming
    * replay (per-group register accumulation across micro-batches).
    */
  private lazy val histByTypeOracle: String =
    """WITH base AS (
      |   SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |   FROM events
      |   WHERE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) > 0),
      | b AS (SELECT event_type, cents,
      |     greatest(CAST(length(bin(cents)) AS INTEGER) - 1 - 4, 0) AS sh
      |   FROM base),
      | hist AS (SELECT event_type, (cents >> sh) << sh AS lo, sh, count(*) AS cnt
      |   FROM b GROUP BY event_type, (cents >> sh) << sh, sh),
      | tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
      |         FROM hist GROUP BY event_type),
      | pct(idx, p_num, p_den) AS (VALUES (1, 1, 2), (2, 9, 10), (3, 99, 100)),
      | rk AS (SELECT event_type, idx, CAST(p_num AS BIGINT) AS p_num,
      |     CAST(p_den AS BIGINT) AS p_den,
      |     (p_num * n + p_den - 1) // p_den AS target_rank FROM pct, tot),
      | cum AS (SELECT event_type, lo, sh, cnt,
      |     sum(cnt) OVER (PARTITION BY event_type ORDER BY lo) AS cum FROM hist),
      | ex AS (SELECT event_type, unnest(qs) AS pc, unnest(range(1, 4)) AS idx
      |   FROM (SELECT event_type, quantile_cont(cents, [0.5, 0.9, 0.99]) AS qs
      |         FROM base GROUP BY event_type))
      | SELECT c.event_type, r.p_num, r.p_den,
      |   CAST(r.target_rank AS BIGINT) AS target_rank,
      |   c.lo AS bucket_lo_cents,
      |   round(c.lo / 100.0, 2) AS est_value,
      |   round(e.pc / 100, 6) AS exact_value,
      |   round((round(e.pc / 100, 6) - round(c.lo / 100.0, 2)) /
      |     round(e.pc / 100, 6), 4) AS rel_err
      | FROM cum c
      | JOIN rk r ON r.event_type = c.event_type
      |   AND c.cum >= r.target_rank AND c.cum - c.cnt < r.target_rank
      | JOIN ex e ON e.event_type = c.event_type AND e.idx = r.idx
      | ORDER BY c.event_type, target_rank""".stripMargin

  /** The log-bucket histogram quantile oracle — direct global
    * histogram + exact-integer rank walk + quantile_cont twin. Shared
    * verbatim by the batch sketch (which merges per-flag partials) and
    * the streaming replay (which accumulates registers across
    * micro-batches): a hash match against either proves that
    * construction collapses to this direct histogram.
    */
  private lazy val histQuantilesOracle: String =
    s"""$histRegistersCte
      | SELECT r.p_num, r.p_den, CAST(r.target_rank AS BIGINT) AS target_rank,
      |   c.lo AS bucket_lo_cents,
      |   (CAST(1 AS BIGINT) << c.sh) AS bucket_width_cents,
      |   round(c.lo / 100.0, 2) AS est_price
      | FROM cum c JOIN rk r ON c.cum >= r.target_rank AND c.cum - c.cnt < r.target_rank
      | ORDER BY target_rank""".stripMargin

  /** The rel_err diagnostic twin: the same walk plus the quantile_cont
    * exact answer — validation only, never the benched production path
    * (the exact pass scans the base data and would dominate at 100×).
    */
  private lazy val histRelErrOracle: String =
    s"""$histRegistersCte,
      | ex AS (SELECT unnest(qs) AS pc, unnest(range(1, 5)) AS idx
      |   FROM (SELECT quantile_cont(cents, [0.5, 0.9, 0.99, 0.999]) AS qs FROM base))
      | SELECT r.p_num, r.p_den, CAST(r.target_rank AS BIGINT) AS target_rank,
      |   c.lo AS bucket_lo_cents,
      |   (CAST(1 AS BIGINT) << c.sh) AS bucket_width_cents,
      |   round(c.lo / 100.0, 2) AS est_price,
      |   round(e.pc / 100, 6) AS exact_price,
      |   round((round(e.pc / 100, 6) - round(c.lo / 100.0, 2)) /
      |     round(e.pc / 100, 6), 4) AS rel_err
      | FROM cum c JOIN rk r ON c.cum >= r.target_rank AND c.cum - c.cnt < r.target_rank
      | JOIN ex e ON e.idx = r.idx
      | ORDER BY target_rank""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // trending: top event types per hour
    QuerySpec("events_hourly_top", (s, d) => EventsOps.hourlyTopTypes(ev(s, d)),
      """WITH c AS (SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        |           FROM events GROUP BY date_trunc('hour', ts), event_type),
        | rk AS (SELECT hour, event_type, n,
        |     CAST(row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type)
        |       AS INTEGER) AS rnk
        |   FROM c)
        | SELECT hour, rnk, event_type, n FROM rk WHERE rnk <= 3
        | ORDER BY hour, rnk""".stripMargin),
    // CUSUM burst monitor: exact integer recursion via the custom
    // running-window aggregate; alarms on sustained rate shifts
    QuerySpec("events_cusum", (s, d) => EventsOps.cusumBursts(ev(s, d)),
      // CUSUM replayed as a recursive CTE — bit-exact integer recursion
      eventsCusumOracle),
    // DAU decomposition: new / returning / resurrected per day
    QuerySpec("events_growth", (s, d) => EventsOps.growthAccounting(ev(s, d)),
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | c AS (SELECT day,
        |     CASE WHEN lag(day, 1) OVER wu IS NULL THEN 'new'
        |          WHEN date_diff('day', lag(day, 1) OVER wu, day) > 7 THEN 'resurrected'
        |          ELSE 'returning' END AS status
        |   FROM d WINDOW wu AS (PARTITION BY user_id ORDER BY day))
        | SELECT day, status, count(*) AS n_users
        | FROM c GROUP BY day, status ORDER BY day, status""".stripMargin),
    // L28 power-user curve: users histogrammed by trailing-28d active days
    QuerySpec("events_l28", (s, d) => EventsOps.activityHistogram(ev(s, d), 28),
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | m AS (SELECT max(day) AS max_day FROM days),
        | iw AS (SELECT user_id, day FROM days, m WHERE day > max_day - INTERVAL 28 DAY),
        | ua AS (SELECT user_id, count(*) AS days_active FROM iw GROUP BY user_id)
        | SELECT days_active, count(*) AS n_users
        | FROM ua GROUP BY days_active ORDER BY days_active""".stripMargin),
    // HDR-style log-bucketed quantile histogram over lineitem prices:
    // per-returnflag partial sketches sum-merged, exact-integer ranks;
    // oracle histograms the table directly → hash proves the merge
    QuerySpec("sketch_hist_quantiles", (s, d) =>
      Sketch.logHistQuantiles(Tables.lineitem(s, d)),
      // HDR log-bucket quantile sketch: the oracle histograms the WHOLE
      // table directly while Spark merges per-returnflag partials — the
      // hash match proves sum-merge associativity (hllUnion pattern).
      // Ranks are exact integers ((num·n+den−1)//den); the quantile_cont
      // twin follows the events_percentiles precedent
      histQuantilesOracle),
    // rel_err diagnostic twin: the same register walk PLUS the exact
    // quantile_cont pass — validation only, kept out of the benched
    // production query (the exact pass would dominate at 100×)
    QuerySpec("sketch_hist_rel_err", (s, d) =>
      Sketch.logHistQuantilesRelErr(Tables.lineitem(s, d)),
      histRelErrOracle),
    // CMS inner-product estimate of the events user_id self-join size
    // (the sessionization pair-explosion pre-flight); est ≥ exact
    QuerySpec("sketch_cms_join_size", (s, d) => Sketch.cmsSelfJoinSize(ev(s, d)),
      // CMS inner product: per-depth Σc² with min over depths — the
      // one-sided join-size estimator; all cells exact BIGINT
      {
        s"""WITH kc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
           | hx AS (SELECT cnt, ($minhashBaseSql) % ${Dedup.minhashP} AS x
           |        FROM (SELECT cnt, md5(CAST(user_id AS VARCHAR)) AS m FROM kc)),
           | hb AS (SELECT cnt, d, $cmsBucketCaseSql AS b
           |        FROM hx, UNNEST(['0','1','2','3']) AS t(d)),
           | cells AS (SELECT d, b, CAST(sum(cnt) AS BIGINT) AS c FROM hb GROUP BY d, b),
           | pd AS (SELECT d, CAST(sum(c * c) AS BIGINT) AS est_d FROM cells GROUP BY d),
           | est AS (SELECT min(est_d) AS est_size FROM pd),
           | ex AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_size,
           |          count(*) AS n_keys FROM kc)
           | SELECT n_keys, exact_size, est_size,
           |   est_size - exact_size AS overcount,
           |   round((est_size - exact_size) * 1.0 / exact_size, 6) AS rel_err
           | FROM est, ex""".stripMargin
      }),
    // per-event-type quantile sketch (grouped register files) with the
    // quantile_cont twin per group
    QuerySpec("sketch_hist_by_type", (s, d) =>
      Sketch.logHistQuantilesByGroup(ev(s, d)),
      // grouped quantile sketch: one register file per event_type
      histByTypeOracle),
    // key-skew pre-flight: heavy keys + log-bucket p50/p99 of the
    // per-key count distribution + suggested salt factors
    QuerySpec("skew_key_stats", (s, d) => Skew.keySkewStats(ev(s, d)),
      // skew pre-flight: quantiles of the key-count distribution read
      // from the log-bucket register file; exact integer ranks and salts
      """WITH kc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        | hist AS (SELECT (cnt >> sh) << sh AS lo, count(*) AS nk
        |   FROM (SELECT cnt,
        |           greatest(CAST(length(bin(cnt)) AS INTEGER) - 1 - 4, 0) AS sh
        |         FROM kc)
        |   GROUP BY (cnt >> sh) << sh),
        | tot AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows FROM kc),
        | cum AS (SELECT lo, nk, sum(nk) OVER (ORDER BY lo) AS cum FROM hist),
        | p50 AS (SELECT lo AS p50_cnt FROM cum, tot
        |         WHERE cum >= (n_keys + 1) // 2 AND cum - nk < (n_keys + 1) // 2),
        | p99 AS (SELECT lo AS p99_cnt FROM cum, tot
        |         WHERE cum >= (99 * n_keys + 99) // 100
        |           AND cum - nk < (99 * n_keys + 99) // 100),
        | top AS (SELECT user_id, cnt FROM kc ORDER BY cnt DESC, user_id LIMIT 5)
        | SELECT t.user_id, t.cnt, round(t.cnt * 1.0 / n_rows, 6) AS share,
        |   n_keys, round(n_rows * 1.0 / n_keys, 2) AS mean_cnt,
        |   p50_cnt, p99_cnt, (t.cnt + p50_cnt - 1) // p50_cnt AS suggested_salt
        | FROM top t, tot, p50, p99
        | ORDER BY t.cnt DESC, t.user_id""".stripMargin),
    // weekly cohort LTV curves over events
    QuerySpec("events_cohort_ltv", (s, d) => EventsOps.cohortLtv(ev(s, d)),
      """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week, value FROM events),
        | fs AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
        | sz AS (SELECT cohort_week, count(*) AS cohort_users FROM fs GROUP BY cohort_week),
        | cells AS (SELECT fs.cohort_week,
        |     CAST(date_diff('day', fs.cohort_week, e.week) / 7 AS BIGINT) AS age_week,
        |     count(DISTINCT e.user_id) AS n_active,
        |     sum(CAST(e.value AS DECIMAL(18,4))) AS v
        |   FROM e JOIN fs USING (user_id)
        |   GROUP BY fs.cohort_week, CAST(date_diff('day', fs.cohort_week, e.week) / 7 AS BIGINT)),
        | cum AS (SELECT cohort_week, age_week, n_active, v,
        |     sum(v) OVER (PARTITION BY cohort_week ORDER BY age_week) AS cum_v
        |   FROM cells)
        | SELECT cohort_week, age_week, cohort_users, n_active,
        |   CAST(v AS DOUBLE) AS value_sum,
        |   round(CAST(cum_v AS DOUBLE) / cohort_users, 4) AS ltv_per_user
        | FROM cum JOIN sz USING (cohort_week)
        | ORDER BY cohort_week, age_week""".stripMargin),
    // top-10 session-opening paths (first 3 event types per session)
    QuerySpec("events_top_paths", (s, d) => EventsOps.topSessionPaths(ev(s, d)),
      // paths: sessionize gap rule, then conditional-aggregate the first
      // three ranked types; ties rank by path text
      """WITH g AS (
        |   SELECT user_id, ts, event_id, event_type,
        |     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |   FROM events),
        | s AS (
        |   SELECT user_id, ts, event_id, event_type,
        |     CASE WHEN prev_ts IS NULL
        |            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |          THEN 1 ELSE 0 END AS is_start
        |   FROM g),
        | sq AS (
        |   SELECT user_id, ts, event_id, event_type,
        |     SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS session_seq
        |   FROM s),
        | rk AS (
        |   SELECT user_id, session_seq, event_type,
        |     row_number() OVER (PARTITION BY user_id, session_seq ORDER BY ts, event_id) AS rn
        |   FROM sq),
        | p AS (
        |   SELECT user_id, session_seq, concat_ws(' > ',
        |       max(CASE WHEN rn = 1 THEN event_type END),
        |       max(CASE WHEN rn = 2 THEN event_type END),
        |       max(CASE WHEN rn = 3 THEN event_type END)) AS path
        |   FROM rk WHERE rn <= 3 GROUP BY user_id, session_seq)
        | SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        | ORDER BY n_sessions DESC, path LIMIT 10""".stripMargin),

    // ---- events analytics (batch twins of the streaming pipeline)
    QuerySpec("events_hourly", (s, d) => EventsOps.hourly(ev(s, d)),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum,
        | count(DISTINCT user_id) AS n_users
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("events_prop_stats", (s, d) => EventsOps.propStats(ev(s, d)),
      """WITH k AS (SELECT event_type,
        |     CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
        |   FROM events)
        | SELECT event_type, count(*) AS n_events,
        |   CAST(sum(k) AS BIGINT) AS k_sum,
        |   round(avg(k), 4) AS k_avg,
        |   min(k) AS k_min, max(k) AS k_max
        | FROM k GROUP BY event_type ORDER BY event_type""".stripMargin),
    QuerySpec("events_sessionize", (s, d) => EventsOps.sessionize(ev(s, d), 30),
      """WITH g AS (
        |   SELECT user_id, ts, event_id, value,
        |     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |   FROM events),
        | s AS (
        |   SELECT user_id, ts, event_id, value,
        |     CASE WHEN prev_ts IS NULL
        |            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |          THEN 1 ELSE 0 END AS is_start
        |   FROM g),
        | sq AS (
        |   SELECT user_id, ts, value,
        |     CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |   FROM s)
        | SELECT user_id, session_seq,
        |   CAST(min(ts) AS TIMESTAMP) AS session_start,
        |   CAST(max(ts) AS TIMESTAMP) AS session_end,
        |   count(*) AS n_events,
        |   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM sq GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin),
    // hourly-volume z-score anomalies per type (rounded z vs 3.0)
    QuerySpec("events_anomaly", (s, d) => EventsOps.hourlyAnomaly(ev(s, d), 3.0),
      """WITH h AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        |             count(*) AS n_events,
        |             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        |           FROM events GROUP BY 1, 2),
        | s AS (SELECT hour, event_type, n_events, value_sum,
        |         avg(value_sum) OVER (PARTITION BY event_type) AS m,
        |         stddev_samp(value_sum) OVER (PARTITION BY event_type) AS sd
        |       FROM h),
        | z AS (SELECT hour, event_type, n_events, value_sum,
        |         CASE WHEN sd > 0 THEN round((value_sum - m) / sd, 4) END AS z
        |       FROM s)
        | SELECT hour, event_type, n_events, value_sum, z,
        |   coalesce(abs(z) > 3.0, FALSE) AS is_anomaly
        | FROM z ORDER BY hour, event_type""".stripMargin),
    // interval (range) join via time-binning: every 50th event opens a
    // 2-hour window; count/sum the same-type events inside each window
    // through a (key, bucket) EQUI-join + exact BETWEEN filter — never
    // a per-key cross product
    QuerySpec("events_interval_join", (s, d) => {
      val events = ev(s, d)
      val iv = events.filter(col("event_id") % 50 === 0)
        .select(col("event_id").as("interval_id"), col("event_type"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      val inside = IntervalJoin.joinBinned(
          events.select("event_id", "event_type", "ts", "value"), iv,
          Seq("event_type"), "ts", "start_ts", "end_ts", binWidthSec = 7200L)
        .groupBy("interval_id", "event_type")
        .agg(count(lit(1)).as("n_inside"),
          Relational.moneySum(col("value")).as("value_sum"))
      iv.select("interval_id", "event_type")
        .join(inside, Seq("interval_id", "event_type"), "left")
        .withColumn("n_inside", coalesce(col("n_inside"), lit(0L)))
        .orderBy("interval_id")
    },
      """WITH iv AS (SELECT event_id AS interval_id, event_type,
        |              ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
        |            FROM events WHERE event_id % 50 = 0)
        | SELECT iv.interval_id, iv.event_type,
        |   count(e.event_id) AS n_inside,
        |   CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM iv LEFT JOIN events e
        |   ON e.event_type = iv.event_type
        |  AND e.ts BETWEEN iv.start_ts AND iv.end_ts
        | GROUP BY iv.interval_id, iv.event_type
        | ORDER BY iv.interval_id""".stripMargin),
    QuerySpec("events_percentiles", (s, d) => EventsOps.valuePercentiles(ev(s, d)),
      // exact interpolated percentiles: Spark `percentile` ≡ DuckDB
      // quantile_cont (rank p·(n-1), linear interpolation — selection +
      // one IEEE op, no fold-order noise)
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | round(quantile_cont(value, 0.99), 6) AS p99,
        | count(value) AS n_values
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    QuerySpec("events_sliding", (s, d) => EventsOps.slidingValue(ev(s, d)),
      // each event lands in exactly two 2h/1h-slide windows: the ones
      // starting at floor(ts, 1h) and one hour earlier
      """WITH cand AS (
        |   SELECT date_trunc('hour', ts) AS w0, event_type, value FROM events),
        | x AS (
        |   SELECT w0 AS ws, event_type, value FROM cand
        |   UNION ALL
        |   SELECT w0 - INTERVAL 1 HOUR, event_type, value FROM cand)
        | SELECT CAST(ws AS TIMESTAMP) AS window_start,
        |   CAST(ws + INTERVAL 2 HOUR AS TIMESTAMP) AS window_end,
        |   event_type, count(*) AS n_events,
        |   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM x GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin),
    // ordered first-touch funnel + cohort retention — the two classic
    // product-analytics aggregates over the events stream
    QuerySpec("events_funnel", (s, d) => EventsOps.funnel(ev(s, d)),
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id),
        | s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
        |        WHERE e.event_type = 'click' AND epoch_us(e.ts) >= epoch_us(s1.t) GROUP BY e.user_id),
        | s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
        |        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= epoch_us(s2.t) GROUP BY e.user_id),
        | c AS (SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM s1
        |       UNION ALL SELECT 2, 'click', count(*) FROM s2
        |       UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        | SELECT stage, event_type, n_users,
        |   round(n_users / lag(n_users, 1) OVER (ORDER BY stage), 4) AS conv_from_prev,
        |   round(n_users / first_value(n_users) OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING), 4) AS conv_from_first
        | FROM c ORDER BY stage""".stripMargin),
    QuerySpec("events_retention", (s, d) => EventsOps.retention(ev(s, d)),
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id),
        | a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | cs AS (SELECT cohort_day, count(*) AS cohort_size FROM f GROUP BY cohort_day),
        | cell AS (SELECT f.cohort_day, date_diff('day', f.cohort_day, a.day) AS day_offset,
        |            count(*) AS n_users
        |          FROM a JOIN f USING (user_id)
        |          GROUP BY f.cohort_day, date_diff('day', f.cohort_day, a.day))
        | SELECT cell.cohort_day, day_offset, n_users, cohort_size,
        |   round(n_users / cohort_size, 4) AS retention
        | FROM cell JOIN cs ON cell.cohort_day = cs.cohort_day
        | ORDER BY cell.cohort_day, day_offset""".stripMargin),
    // first-order Markov transition matrix of user journeys
    QuerySpec("events_transitions", (s, d) => EventsOps.transitionMatrix(ev(s, d)),
      """WITH t AS (
        |   SELECT event_type AS from_type,
        |     lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |   FROM events),
        | c AS (SELECT from_type, to_type, count(*) AS n
        |       FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        | SELECT from_type, to_type, n,
        |   round(n / (SUM(n) OVER (PARTITION BY from_type)), 4) AS p
        | FROM c ORDER BY from_type, to_type""".stripMargin),
    // DAU / trailing-7d WAU / stickiness (exact, explode-contribution)
    QuerySpec("events_dau_wau", (s, d) => EventsOps.activeUsers(ev(s, d)),
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        | contrib AS (SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day
        |             FROM ud, UNNEST(range(0, 7)) t(i)),
        | wau AS (SELECT day, count(*) AS wau FROM contrib GROUP BY day)
        | SELECT dau.day, dau.dau, wau.wau, round(dau.dau / wau.wau, 4) AS stickiness
        | FROM dau JOIN wau ON dau.day = wau.day ORDER BY dau.day""".stripMargin),
    // per-type inter-arrival gap distribution over each user's stream
    QuerySpec("events_interarrival", (s, d) => EventsOps.interArrival(ev(s, d)),
      """WITH g AS (SELECT event_type,
        |     epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |   FROM events),
        | gg AS (SELECT * FROM g WHERE gap_us IS NOT NULL)
        | SELECT event_type, count(*) AS n_gaps,
        |   round(CAST(sum(gap_us) AS BIGINT) / count(*) / CAST(1000000 AS DOUBLE), 6) AS mean_s,
        |   round(quantile_cont(gap_us, 0.5) / CAST(1000000 AS DOUBLE), 6) AS p50_s,
        |   round(quantile_cont(gap_us, 0.9) / CAST(1000000 AS DOUBLE), 6) AS p90_s
        | FROM gg GROUP BY event_type ORDER BY event_type""".stripMargin),

    // streaming CUSUM replay: k calibrated batch-side (the production
    // shape), per-type recursion state carried across three day-cut
    // micro-batches; shares events_cusum's recursive-CTE oracle
    // verbatim. SIDE EFFECT: temp-dir drops.
    QuerySpec("stream_cusum_replay", (s, d) => {
      val dir = cusumReplayDir
      val ev3 = ev(s, d)
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      ev3.filter(col("ts") < cut1).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=a")
      ev3.filter(col("ts") >= cut1 && col("ts") < cut2).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=b")
      ev3.filter(col("ts") >= cut2).coalesce(1)
        .write.mode("overwrite").parquet(dir + "/batch=c")
      graft.streaming.IndicatorStream.stampDropOrder(dir, Seq("a", "b", "c"))
      graft.streaming.CusumStream.runReplay(s, dir + "/batch=*",
        graft.streaming.CusumStream.calibrateK(ev3), "stream_cusum_tbl")
    },
      // the streaming replay shares the batch oracle verbatim (k is
      // calibrated with the identical formula; day-cut drops keep every
      // hour inside one micro-batch)
      eventsCusumOracle),

    // streaming histogram replay: three lineitem drops → micro-batched
    // register accumulation; the final state is fed through the SAME
    // quantile walk as the batch sketch and shares its oracle SQL —
    // hash-green means the streamed register file equals the batch
    // histogram (mergeability live). Drop split is order-invariant
    // (registers sum), so no stamping. SIDE EFFECT: temp-dir drops.
    QuerySpec("stream_hist_replay", (s, d) => {
      val dir = histReplayDir
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice", "l_returnflag")
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        li.filter(pmod(col("l_orderkey"), lit(3)) === r)
          .select("l_extendedprice", "l_returnflag").coalesce(1)
          .write.mode("overwrite").parquet(dir + s"/drop=$tag")
      }
      val name = graft.streaming.SketchStream.runBounded(
        s, dir + "/drop=*", "stream_hist_tbl")
      Sketch.quantilesFromRegisters(s.table(name))
    },
      // the streaming replay accumulates the same registers across
      // micro-batches, so it shares the batch oracle verbatim
      histQuantilesOracle),

    // per-group streaming replay: three event drops → one register
    // file PER event_type accumulated across micro-batches, fed into
    // the SAME per-group quantile walk as the batch sketch — shares
    // sketch_hist_by_type's oracle verbatim, so hash-green proves the
    // per-tenant dashboard shape streams. Drop split is order-invariant
    // (registers sum per group). SIDE EFFECT: temp-dir drops.
    QuerySpec("stream_hist_by_type_replay", (s, d) => {
      val dir = histByTypeReplayDir
      val evs = ev(s, d).select("event_id", "event_type", "value")
      Seq(("a", 0), ("b", 1), ("c", 2)).foreach { case (tag, r) =>
        evs.filter(pmod(col("event_id"), lit(3)) === r)
          .select("event_type", "value").coalesce(1)
          .write.mode("overwrite").parquet(dir + s"/drop=$tag")
      }
      val name = graft.streaming.SketchStream.runBoundedByType(
        s, dir + "/drop=*", "stream_hist_by_type_tbl")
      // localCheckpoint: the walk joins the register file against its
      // own aggregate on event_type, and the memory-sink MemoryPlan
      // leaf can't deduplicate conflicting attribute ids the way file
      // scans do — snapshot the (groups × ≤1024)-row state first
      Sketch.groupQuantilesFromRegisters(s.table(name).localCheckpoint(),
        Sketch.groupCentsBase(evs.select("event_type", "value")))
    },
      // the per-group streaming replay accumulates the same per-type
      // registers across micro-batches, so it shares the batch oracle
      // verbatim (the mergeability proof, per group)
      histByTypeOracle),

    // APPEND-mode streaming hourly replay: every window emits exactly
    // once when the watermark closes it (production sink semantics);
    // sentinel drops close the tail windows, so the replay equals the
    // batch hourly aggregate. SIDE EFFECT: writes drops to a temp dir.
    QuerySpec("stream_hourly_replay", (s, d) => {
      val dir = hourlyReplayDir
      val ev3 = ev(s, d).select("ts", "event_type", "value")
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      def sentinel(at: String) = s.range(1).select(
        lit(at).cast("timestamp").as("ts"),
        lit("__sentinel").as("event_type"), lit(0.0).as("value"))
      Seq(
        ("a", ev3.filter(col("ts") < cut1)),
        ("b", ev3.filter(col("ts") >= cut1 && col("ts") < cut2)),
        ("c", ev3.filter(col("ts") >= cut2)),
        ("d", sentinel("2024-03-01 00:00:00")),
        ("e", sentinel("2024-04-01 00:00:00"))).foreach { case (tag, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(dir + s"/batch=$tag")
      }
      graft.streaming.IndicatorStream.stampDropOrder(dir, Seq("a", "b", "c", "d", "e"))
      val name = graft.streaming.EventStream.runReplayAppend(s, dir, "stream_hourly_tbl")
      s.table(name)
        .filter(col("event_type") =!= "__sentinel")
        .orderBy("hour", "event_type")
    },
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // streaming sessionization replay on the oracle surface: three
    // chronological event drops exercise cross-batch session state,
    // then two far-future sentinel drops (user -1) push the watermark
    // past every gap horizon so the EventTimeTimeout path flushes every
    // real session — the replay must reproduce the batch sessionizer
    // (same oracle SQL as events_sessionize) exactly, open sessions
    // included. SIDE EFFECT: writes the replay drops under a per-JVM
    // temp dir.
    QuerySpec("stream_sessions_replay", (s, d) => {
      val dir = sessionsReplayDir
      val ev3 = ev(s, d).select("user_id", "ts", "value")
      val cut1 = lit("2024-01-11").cast("timestamp")
      val cut2 = lit("2024-01-21").cast("timestamp")
      def sentinel(at: String) = ev3.sparkSession.range(1).select(
        lit(-1L).as("user_id"), lit(at).cast("timestamp").as("ts"),
        lit(0.0).as("value"))
      Seq(
        ("a", ev3.filter(col("ts") < cut1)),
        ("b", ev3.filter(col("ts") >= cut1 && col("ts") < cut2)),
        ("c", ev3.filter(col("ts") >= cut2)),
        ("d", sentinel("2024-03-01 00:00:00")),
        ("e", sentinel("2024-04-01 00:00:00"))).foreach { case (tag, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(dir + s"/batch=$tag")
      }
      graft.streaming.IndicatorStream.stampDropOrder(dir, Seq("a", "b", "c", "d", "e"))
      val name = graft.streaming.SessionStream.runReplay(s, dir, "stream_sessions_tbl", 30)
      val seqW = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      s.table(name)
        .filter(col("user_id") >= 0)
        .withColumn("session_seq", row_number().over(seqW).cast("long"))
        .select("user_id", "session_seq", "session_start", "session_end",
          "n_events", "value_sum")
        .orderBy("user_id", "session_seq")
    },
      // the streaming replay must reproduce the batch sessionizer exactly
      // — identical oracle SQL to events_sessionize
      """WITH g AS (
        |   SELECT user_id, ts, event_id, value,
        |     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |   FROM events),
        | s AS (
        |   SELECT user_id, ts, event_id, value,
        |     CASE WHEN prev_ts IS NULL
        |            OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |          THEN 1 ELSE 0 END AS is_start
        |   FROM g),
        | sq AS (
        |   SELECT user_id, ts, value,
        |     CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |   FROM s)
        | SELECT user_id, session_seq,
        |   CAST(min(ts) AS TIMESTAMP) AS session_start,
        |   CAST(max(ts) AS TIMESTAMP) AS session_end,
        |   count(*) AS n_events,
        |   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        | FROM sq GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin),

    // ---- ingest normalization (P9-P11 + §2.9 scalar functions:
    // upper/trim, to_date, date_format, null-coalesce, casts)
    QuerySpec("ingest_normalize", (s, d) =>
      ev(s, d)
        .withColumn("symbol", upper(trim(col("event_type"))))
        .withColumn("date", to_date(col("ts")))
        .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .withColumn("close",
          coalesce(when(col("value") < 1.0, lit(null)).otherwise(col("value")), lit(0.0)))
        .withColumn("volume", coalesce(col("user_id"), lit(0L)))
        .select("event_id", "symbol", "date", "month", "close", "volume")
        .orderBy("event_id"),
      """SELECT event_id, upper(trim(event_type)) AS symbol,
        | CAST(ts AS DATE) AS date,
        | strftime(ts, '%Y-%m') AS month,
        | coalesce(CASE WHEN value < 1.0 THEN NULL ELSE value END, 0.0) AS close,
        | coalesce(user_id, 0) AS volume
        | FROM events ORDER BY event_id""".stripMargin))
}
