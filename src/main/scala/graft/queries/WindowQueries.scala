package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EventWindows
import graft.sources.Tables

/** §2.2 Event-time windows & temporal ops over the `events` table.
  *
  * DuckDB oracles: `time_bucket` (epoch-aligned, so identical to Spark's
  * `window()` for sizes that divide an hour), gaps-and-islands for session
  * windows, range self-joins for interval join / CEP.
  */
object WindowQueries {
  type Q = (SparkSession, String) => DataFrame
  private def ev(s: SparkSession, dir: String) = Tables.load(s, dir, "events")

  /** Event values are exact 2-decimal amounts, so ×10⁴ scaling to an
    * integer makes every SUM / running-sum over them order-free exact
    * (integers are exact in DOUBLE far past this magnitude even if the
    * aggregation path widens the column). The final divide by 10⁴ is a
    * single IEEE op both engines perform identically — the output stays
    * DOUBLE, which the driver's hash canonicalization expects (a
    * DECIMAL output column fails the gate on representation alone). */
  private def scaleValue(df: DataFrame): DataFrame =
    df.withColumn("value", round(col("value") * 10000).cast("long"))
  private def unscale(df: DataFrame, names: String*): DataFrame =
    names.foldLeft(df)((d, c) =>
      d.withColumn(c, col(c).cast("double") / lit(10000.0)))

  // --- w01: tumbling window aggregate ---
  private val w01: Q = (s, dir) =>
    EventWindows.tumbleAgg(ev(s, dir), col("ts"), "1 hour", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
      .select("window_start", "event_type", "n", "sum_value")
  private val w01Sql =
    """SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
      | event_type, count(*) AS n, round(sum(value),4) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // --- w02: hopping window aggregate (1h size, 30m slide → 2 windows/row) ---
  private val w02: Q = (s, dir) =>
    EventWindows.hopAgg(ev(s, dir), col("ts"), "1 hour", "30 minutes", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
      .select("window_start", "event_type", "n", "sum_value")
  private val w02Sql =
    """SELECT CAST(time_bucket(INTERVAL 30 MINUTES, ts) - k.k * INTERVAL 30 MINUTES AS TIMESTAMP) AS window_start,
      | event_type, count(*) AS n, round(sum(value),4) AS sum_value
      |FROM events CROSS JOIN (VALUES (0),(1)) k(k)
      |GROUP BY 1, 2""".stripMargin

  // --- w03: session windows, 30-minute gap, per user ---
  private val w03: Q = (s, dir) =>
    EventWindows.sessionAgg(ev(s, dir), col("ts"), "30 minutes", Seq(col("user_id")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
      .select("user_id", "session_start", "session_end", "n", "sum_value")
  private val w03Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, value,
      |   CASE WHEN lag(ts) OVER w IS NULL
      |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS ns
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM e)
      |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
      | CAST(max(ts) + INTERVAL 30 MINUTES AS TIMESTAMP) AS session_end,
      | count(*) AS n, round(sum(value),4) AS sum_value
      |FROM g GROUP BY user_id, sid""".stripMargin

  // --- w04: interval join — purchases within (0, +1h] after each click ---
  private val w04: Q = (s, dir) => {
    val e = ev(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    EventWindows.intervalJoin(clicks, purchases,
      col("user_id") === col("p_user"), col("c_ts"), col("p_ts"), "0 SECONDS", "1 HOUR")
      .groupBy("click_id").agg(count(lit(1)).as("n_purchases"))
  }
  private val w04Sql =
    """SELECT a.event_id AS click_id, count(*) AS n_purchases
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      |WHERE a.event_type='click' AND b.event_type='purchase'
      |GROUP BY 1""".stripMargin

  // --- w05: CEP followed-by — signup then purchase within 24h ---
  private val w05: Q = (s, dir) => {
    val e = ev(s, dir)
    val signup = e.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("s_ts"))
    val purchase = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    EventWindows.intervalJoin(signup, purchase,
      col("user_id") === col("p_user"), col("s_ts"), col("p_ts"), "0 SECONDS", "24 HOURS")
      .groupBy("user_id")
      .agg(min(col("s_ts")).as("first_signup"), min(col("p_ts")).as("first_conversion"))
  }
  private val w05Sql =
    """SELECT s.user_id, CAST(min(s.ts) AS TIMESTAMP) AS first_signup,
      | CAST(min(p.ts) AS TIMESTAMP) AS first_conversion
      |FROM events s JOIN events p
      |  ON s.user_id = p.user_id AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS
      |WHERE s.event_type='signup' AND p.event_type='purchase'
      |GROUP BY s.user_id""".stripMargin

  // --- w06: trailing 1h per-key OVER RANGE aggregate ---
  private val w06: Q = (s, dir) =>
    EventWindows.trailingRangeAgg(ev(s, dir), Seq(col("user_id")), col("ts"),
      3600000000L,
      Map("n_1h" -> count(lit(1)), "sum_1h_raw" -> sum(col("value"))))
      .select(col("event_id"), col("n_1h"), round(col("sum_1h_raw"), 4).as("sum_1h"))
  private val w06Sql =
    """SELECT event_id, count(*) OVER w AS n_1h, round(sum(value) OVER w, 4) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  // --- w07: CEP not-followed-by — signups with NO purchase within 24h ---
  private val w07: Q = (s, dir) => {
    val e = ev(s, dir)
    val signup = e.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchase = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    signup.join(purchase,
        col("user_id") === col("p_user") && col("p_ts") > col("ts") &&
          col("p_ts") <= col("ts") + expr("INTERVAL 24 HOURS"), "left_anti")
      .select(col("event_id"), col("user_id"), col("ts"))
  }
  private val w07Sql =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |FROM events s WHERE event_type='signup' AND NOT EXISTS (
      |  SELECT 1 FROM events p WHERE p.event_type='purchase' AND p.user_id = s.user_id
      |   AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS)""".stripMargin

  // --- w08: count windows (Flink countWindow): stats per N events per key ---
  private val w08: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("win_no", ((row_number().over(w) - 1) / 10).cast("int"))
      .groupBy("user_id", "win_no")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
  }
  private val w08Sql =
    """SELECT user_id, CAST((rn - 1) // 10 AS INT) AS win_no, count(*) AS n,
      | round(sum(value),4) AS sum_value
      |FROM (SELECT user_id, value,
      |       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |      FROM events)
      |GROUP BY 1, 2""".stripMargin

  // --- w09: quantified CEP — purchases preceded by clicks within 1h ---
  private val w09: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, -1) // strictly-before trailing hour
    ev(s, dir)
      .withColumn("clicks_1h",
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      .filter(col("event_type") === "purchase" && col("clicks_1h") >= 1)
      .select(col("event_id"), col("user_id"), col("clicks_1h"))
  }
  private val w09Sql =
    """SELECT event_id, user_id, clicks_1h FROM (
      | SELECT event_id, user_id, event_type,
      |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS clicks_1h
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      |   RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
      |) WHERE event_type='purchase' AND clicks_1h >= 1""".stripMargin

  // --- w10: CEP measures — MATCH_RECOGNIZE-style aggregates over the match ---
  // Pattern click{1,} -> purchase within 1h (strict precedence), with measures
  // computed over the matched click set: count, summed value, first click time
  // (reference flink-table-planner-blink MATCH_RECOGNIZE MEASURES clause).
  private val w10: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600000000L, -1)
    ev(s, dir)
      .withColumn("n_clicks",
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      .withColumn("click_value",
        sum(when(col("event_type") === "click", col("value"))).over(w))
      .withColumn("first_click_ts",
        min(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase" && col("n_clicks") >= 1)
      .select(col("event_id"), col("user_id"), col("n_clicks"),
        round(col("click_value"), 4).as("click_value"), col("first_click_ts"))
  }
  private val w10Sql =
    """SELECT event_id, user_id, n_clicks, round(click_value, 4) AS click_value,
      | first_click_ts FROM (
      | SELECT event_id, user_id, event_type,
      |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS n_clicks,
      |  sum(CASE WHEN event_type='click' THEN value END) OVER w AS click_value,
      |  min(CASE WHEN event_type='click' THEN CAST(ts AS TIMESTAMP) END) OVER w AS first_click_ts
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
      |   RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
      |) WHERE event_type='purchase' AND n_clicks >= 1""".stripMargin

  // --- w11: 3-step CEP through the graft.cep.Pattern combinator API ---
  // signup -> click -> purchase within 24h of the signup; every signup event
  // starts a candidate match, each step binds the earliest following event
  // (flink-cep Pattern.begin/followedBy/within, relaxed contiguity).
  private val w11: Q = (s, dir) =>
    graft.cep.Pattern.begin("signup", col("event_type") === "signup")
      .followedBy("click", col("event_type") === "click")
      .followedBy("purchase", col("event_type") === "purchase")
      .within(24L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
  private val w11Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS signup_ts, min(c.ts) AS click_ts
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, signup_ts, click_ts, min(p.ts) AS purchase_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > click_ts
      |                     AND p.ts <= signup_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT user_id AS key, signup_ts, click_ts, purchase_ts FROM m2""".stripMargin

  // --- m01: MATCH_RECOGNIZE SQL front door (graft.cep.MatchRecognize) ---
  // The SQL text plans through the subset parser onto the same Pattern
  // combinators as w11 (reference StreamExecMatch.scala / flink-cep): view,
  // then TWO successive clicks, then a purchase, all within 24h of the view.
  // FIRST/LAST index into the quantified click bindings.
  private val m01: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.ts AS view_ts, FIRST(B.ts) AS first_click_ts,
        |           LAST(B.ts) AS last_click_ts, C.ts AS purchase_ts
        |  PATTERN (A B{2} C)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
  private val m01Sql =
    """WITH a AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT a.user_id, a.ts AS t0, min(b.ts) AS t1
      |       FROM a JOIN b ON b.user_id = a.user_id AND b.ts > a.ts
      |                    AND b.ts <= a.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, t0, t1, min(b.ts) AS t2
      |       FROM m1 JOIN b ON b.user_id = m1.user_id AND b.ts > t1
      |                     AND b.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |m3 AS (SELECT m2.user_id, t0, t1, t2, min(c.ts) AS t3
      |       FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts > t2
      |                     AND c.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT user_id, t0 AS view_ts, t1 AS first_click_ts, t2 AS last_click_ts,
      | t3 AS purchase_ts FROM m3""".stripMargin

  // --- m12: MATCH_NUMBER() — the per-partition match ordinal ---
  // (reference StreamExecMatch MATCH_NUMBER support / SQL standard): ordinal
  // over a partition's matches ordered by the binding timestamps in pattern
  // order. The window runs over the MATCH table (tiny vs facts); the oracle
  // replays the same row_number over the min-bind chain.
  private val m12: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES MATCH_NUMBER() AS match_no, A.ts AS view_ts,
        |           C.ts AS purchase_ts
        |  PATTERN (A B{2} C)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
  private val m12Sql =
    """WITH a AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT a.user_id, a.ts AS t0, min(b.ts) AS t1
      |       FROM a JOIN b ON b.user_id = a.user_id AND b.ts > a.ts
      |                    AND b.ts <= a.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, t0, t1, min(b.ts) AS t2
      |       FROM m1 JOIN b ON b.user_id = m1.user_id AND b.ts > t1
      |                     AND b.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |m3 AS (SELECT m2.user_id, t0, t1, t2, min(c.ts) AS t3
      |       FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts > t2
      |                     AND c.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT user_id,
      |       CAST(row_number() OVER (PARTITION BY user_id ORDER BY t0, t1, t2, t3) AS BIGINT)
      |         AS match_no,
      |       t0 AS view_ts, t3 AS purchase_ts FROM m3""".stripMargin

  // --- m02: MATCH_RECOGNIZE value measures — SUM/COUNT/LAST over bindings ---
  // The reference's MatchRecognizeITCase exercises SUM(A.price)-style
  // aggregate measures; here the SQL text binds click values at the step
  // (Pattern.bind under the hood) and folds them in the MEASURES clause.
  // Equal-timestamp candidates bind by (ts, value) struct-min, replayed by
  // the oracle's row_number ordering.
  private val m02: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.ts AS view_ts, SUM(B.value) AS click_spend,
        |           COUNT(B.ts) AS n_clicks, LAST(B.value) AS last_click_value,
        |           C.value AS purchase_value
        |  PATTERN (A B{2} C)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
  private val m02Sql =
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) t0 FROM events
      |           WHERE event_type='view'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT user_id, t0, t1, v1 FROM (
      |   SELECT a.user_id, a.t0, b.ts AS t1, b.value AS v1,
      |          row_number() OVER (PARTITION BY a.user_id, a.t0 ORDER BY b.ts, b.value) rn
      |   FROM a JOIN b ON b.user_id = a.user_id AND b.ts > a.t0
      |                AND b.ts <= a.t0 + INTERVAL 24 HOURS) WHERE rn = 1),
      |m2 AS (SELECT user_id, t0, t1, v1, t2, v2 FROM (
      |   SELECT m1.user_id, m1.t0, m1.t1, m1.v1, b.ts AS t2, b.value AS v2,
      |          row_number() OVER (PARTITION BY m1.user_id, m1.t0, m1.t1, m1.v1
      |                             ORDER BY b.ts, b.value) rn
      |   FROM m1 JOIN b ON b.user_id = m1.user_id AND b.ts > m1.t1
      |                 AND b.ts <= m1.t0 + INTERVAL 24 HOURS) WHERE rn = 1),
      |m3 AS (SELECT user_id, t0, t1, v1, t2, v2, t3, v3 FROM (
      |   SELECT m2.user_id, m2.t0, m2.t1, m2.v1, m2.t2, m2.v2,
      |          c.ts AS t3, c.value AS v3,
      |          row_number() OVER (PARTITION BY m2.user_id, m2.t0, m2.t1, m2.v1,
      |                             m2.t2, m2.v2 ORDER BY c.ts, c.value) rn
      |   FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts > m2.t2
      |                 AND c.ts <= m2.t0 + INTERVAL 24 HOURS) WHERE rn = 1)
      |SELECT user_id, t0 AS view_ts, v1 + v2 AS click_spend,
      | CAST(2 AS BIGINT) AS n_clicks, v2 AS last_click_value,
      | v3 AS purchase_value FROM m3""".stripMargin

  // --- m03: AFTER MATCH SKIP PAST LAST ROW through the SQL front door ---
  // Greedy per-key non-overlap selection is inherently sequential, so no
  // cross-engine SQL oracle exists (rows-only check); the lowering onto
  // afterMatchSkipPastLastEvent and its semantics are pinned by
  // MatchRecognizeSpec + CepPatternSpec.
  private val m03: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS view_ts, P.ts AS purchase_ts
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (S P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)

  // --- m06: relative DEFINE through the SQL front door ---
  // The reference's most-used real-world MATCH_RECOGNIZE shape
  // (MatchRecognizeITCase's `DEFINE B AS B.price > LAST(A.price, 1)`-style
  // clauses): P's predicate references the value bound at S. The parser
  // lowers the relative conjunct onto followedByIterative + bind — the same
  // compile w14 reaches through the combinator API, so w14's oracle replays
  // it exactly. The self-only conjunct (P.event_type = 'purchase') stays a
  // plain pre-filter pushed into the candidate scan.
  private val m06: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, S.value AS signup_value,
        |           P.ts AS purchase_ts, P.value AS purchase_value
        |  PATTERN (S P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS S.event_type = 'signup',
        |         P AS P.event_type = 'purchase' AND P.value > 2 * S.value
        |)""".stripMargin)
  private def m06Sql = w14Sql // identical semantics to the combinator w14

  // --- m07: B+ quantifier through the SQL front door ---
  // (A B+ C) is the canonical MatchRecognizeITCase pattern shape (reference
  // flink-cep Pattern.java#oneOrMore). The '+' lowers onto
  // Pattern.oneOrMore(): first C = earliest click after the signup, the
  // purchase binds after it, and the emitted run is every click before the
  // purchase binding — FIRST/LAST/COUNT measure the run's boundary
  // timestamps and size. The oracle replays the greedy-run shape with a
  // min-bind chain plus one run-membership join.
  private val m07: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS first_click_ts,
        |           LAST(C.ts) AS last_click_ts, COUNT(C.ts) AS n_clicks,
        |           P.ts AS purchase_ts
        |  PATTERN (S C+ P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m07Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS first_c
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, first_c, min(p.ts) AS p_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > first_c
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT m2.user_id, s_ts AS signup_ts, first_c AS first_click_ts,
      |       max(c.ts) AS last_click_ts, count(*) AS n_clicks, p_ts AS purchase_ts
      |FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts >= first_c AND c.ts < p_ts
      |GROUP BY 1, 2, 3, 6""".stripMargin

  // --- m09: value measures over a '+' run ---
  // (reference MatchRecognizeITCase's `SUM(A.price)` over run patterns): the
  // run aggregate carries running SUM/MIN/MAX and the first/last member's
  // value of a bound column — O(1) state per column, same single keyed
  // equi-join + agg lowering (Pattern.bindRun). The oracle replays m07's
  // greedy-run shape and aggregates the same run members; first/last values
  // use the engine's (ts, value) struct-min/max tie-break on both sides.
  private val m09: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS first_click_ts,
        |           COUNT(C.ts) AS n_clicks, SUM(C.value) AS sum_click_value,
        |           MIN(C.value) AS min_click_value, MAX(C.value) AS max_click_value,
        |           FIRST(C.value) AS first_click_value, LAST(C.value) AS last_click_value,
        |           P.ts AS purchase_ts
        |  PATTERN (S C+ P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
      .withColumn("sum_click_value", round(col("sum_click_value"), 4))
  private val m09Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS first_c
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, first_c, min(p.ts) AS p_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > first_c
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT m2.user_id, s_ts AS signup_ts, first_c AS first_click_ts,
      |       count(*) AS n_clicks, round(sum(c.value), 4) AS sum_click_value,
      |       min(c.value) AS min_click_value, max(c.value) AS max_click_value,
      |       struct_extract(min({'t': c.ts, 'v': c.value}), 'v') AS first_click_value,
      |       struct_extract(max({'t': c.ts, 'v': c.value}), 'v') AS last_click_value,
      |       p_ts AS purchase_ts
      |FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts >= first_c AND c.ts < p_ts
      |GROUP BY 1, 2, 3, 10""".stripMargin

  // --- m18: AVG value measures (Calcite/Flink MATCH_RECOGNIZE aggregate
  // measures — MatchRecognizeITCase's SUM/AVG shapes): over a '+' run the
  // measure is the already-bound running SUM divided by the member count —
  // a pure projection on the match table, no extra aggregation or join.
  // The oracle recomputes avg(value) over the run's members.
  private val m18: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS first_click_ts,
        |           COUNT(C.ts) AS n_clicks, AVG(C.value) AS avg_click_value,
        |           P.ts AS purchase_ts
        |  PATTERN (S C+ P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
      .withColumn("avg_click_value", round(col("avg_click_value"), 4))
  private val m18Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS first_c
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, first_c, min(p.ts) AS p_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > first_c
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT m2.user_id, s_ts AS signup_ts, first_c AS first_click_ts,
      |       count(*) AS n_clicks, round(avg(c.value), 4) AS avg_click_value,
      |       p_ts AS purchase_ts
      |FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts >= first_c AND c.ts < p_ts
      |GROUP BY 1, 2, 3, 6""".stripMargin

  // --- m10: the V-shape — self-referential run conditions ---
  // (reference MatchRecognizeITCase.scala:405,554 `DOWN AS price <
  // LAST(DOWN.price, 1)`, the canonical MATCH_RECOGNIZE query): each D
  // occurrence after the first must have a LOWER value than the run's own
  // previous member; the purchase binds after the run's LAST member. Lowered
  // onto Pattern.followedByRun: the keyed walk segments each key's
  // candidates, ordered (ts, value), into maximal descending chains. The
  // oracle replays the same segmentation with a lag window in SQL.
  private val m10: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(D.ts) AS first_down_ts,
        |           LAST(D.ts) AS last_down_ts, COUNT(D.ts) AS n_down,
        |           FIRST(D.value) AS first_down_value,
        |           LAST(D.value) AS last_down_value, U.ts AS purchase_ts
        |  PATTERN (S D+ U)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         D AS D.value < LAST(D.value, 1) AND D.event_type = 'click',
        |         U AS event_type = 'purchase'
        |)""".stripMargin)
  private val m10Sql =
    """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |seg AS (SELECT user_id, ts, value,
      |        sum(CASE WHEN pv IS NULL OR NOT (value < pv) THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts, value ROWS UNBOUNDED PRECEDING) AS seg
      |        FROM (SELECT *, lag(value) OVER (PARTITION BY user_id ORDER BY ts, value) AS pv FROM c)),
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts,
      |         struct_extract(min({'t': g.ts, 'v': g.value, 'g': g.seg}), 't') AS d1_ts,
      |         struct_extract(min({'t': g.ts, 'v': g.value, 'g': g.seg}), 'g') AS d_seg
      |       FROM s JOIN seg g ON g.user_id = s.user_id AND g.ts > s.ts
      |                        AND g.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, d1_ts,
      |         max(g.ts) AS dlast_ts, count(*) AS n_down,
      |         struct_extract(min({'t': g.ts, 'v': g.value}), 'v') AS first_v,
      |         struct_extract(max({'t': g.ts, 'v': g.value}), 'v') AS last_v
      |       FROM m1 JOIN seg g ON g.user_id = m1.user_id AND g.seg = m1.d_seg
      |                         AND g.ts >= d1_ts AND g.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT m2.user_id, s_ts AS signup_ts, d1_ts AS first_down_ts,
      |       dlast_ts AS last_down_ts, n_down, first_v AS first_down_value,
      |       last_v AS last_down_value, min(p.ts) AS purchase_ts
      |FROM m2 JOIN p ON p.user_id = m2.user_id AND p.ts > dlast_ts
      |               AND p.ts <= s_ts + INTERVAL 24 HOURS
      |GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  // --- m14: the PREV() spelling of the V-shape (the SQL-standard syntax
  // every published MATCH_RECOGNIZE example uses — MatchRecognizeITCase's
  // `price < PREV(price)`): `value < PREV(value)` is rewritten to the
  // LAST(D.value, 1) self-reference before compilation, so this lowers to
  // the same followedByRun plan as m10 and shares its oracle shape.
  private val m14: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(D.ts) AS first_down_ts,
        |           LAST(D.ts) AS last_down_ts, COUNT(D.ts) AS n_down,
        |           FIRST(D.value) AS first_down_value,
        |           LAST(D.value) AS last_down_value, U.ts AS purchase_ts
        |  PATTERN (S D+ U)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         D AS value < PREV(value) AND D.event_type = 'click',
        |         U AS event_type = 'purchase'
        |)""".stripMargin)
  private val m14Sql = m10Sql

  // --- m15: AFTER MATCH SKIP TO LAST variable (flink-cep
  // AfterMatchSkipStrategy.skipToLast, the 4th and final skip strategy):
  // greedy per-key selection restarting AT the kept match's last C binding
  // (inclusive — overlap at the restart point is allowed, unlike SKIP PAST
  // LAST). Greedy selection is inherently sequential, so like m03 there is
  // no cross-engine SQL oracle: rows-only check here + the brute-force
  // threshold property reference in PropertySpec.
  private val m15: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, C.ts AS click_ts, P.ts AS purchase_ts
        |  PATTERN (S C P)
        |  WITHIN INTERVAL '24' HOUR
        |  AFTER MATCH SKIP TO LAST C
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)

  // --- m11: value measures over a '{n,m}' range quantifier ---
  // (the m04 greedy-range shape + the m09 value measures): SUM coalesces
  // the nullable optional-tail expansion, LAST coalesces backwards,
  // MIN/MAX skip nulls (least/greatest on both engines), COUNT counts
  // bound expansions. Each expansion's value binds at that expansion's
  // timestamp via the per-(key, ts) refinement table (min value on ties).
  private val m11: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, SUM(C.value) AS sum_click_value,
        |           LAST(C.value) AS last_click_value, MIN(C.value) AS min_click_value,
        |           MAX(C.value) AS max_click_value, COUNT(C.value) AS n_clicks,
        |           P.ts AS purchase_ts
        |  PATTERN (S C{1,2} P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m11Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS c1
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, c1, min(c.ts) AS c2
      |       FROM m1 LEFT JOIN c ON c.user_id = m1.user_id AND c.ts > c1
      |                          AND c.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |v AS (SELECT user_id, ts, min(value) AS v FROM c GROUP BY 1, 2),
      |m3 AS (SELECT m2.user_id, s_ts, c1, c2, v1.v AS v1, v2.v AS v2
      |       FROM m2 JOIN v v1 ON v1.user_id = m2.user_id AND v1.ts = c1
      |              LEFT JOIN v v2 ON v2.user_id = m2.user_id AND v2.ts = c2),
      |m4 AS (SELECT m3.user_id, s_ts, c1, c2, v1, v2, min(p.ts) AS p_ts
      |       FROM m3 JOIN p ON p.user_id = m3.user_id AND p.ts > coalesce(c2, c1)
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY ALL)
      |SELECT user_id, s_ts AS signup_ts, v1 + coalesce(v2, 0) AS sum_click_value,
      |       coalesce(v2, v1) AS last_click_value, least(v1, v2) AS min_click_value,
      |       greatest(v1, v2) AS max_click_value,
      |       CAST(CASE WHEN c2 IS NULL THEN 1 ELSE 2 END AS BIGINT) AS n_clicks,
      |       p_ts AS purchase_ts
      |FROM m4""".stripMargin

  // --- m08: ALL ROWS PER MATCH — per-event emission with running measures ---
  // (reference StreamExecMatch.scala per-row mode / MatchRecognizeITCase):
  // each (S C{2} P) match emits 4 rows — classifier, the bound event's ts,
  // and COUNT(C.ts) running 0,1,2,2. The oracle computes the one-row match
  // (m01's min-bind chain) and replays the row expansion as a UNION ALL.
  private val m08: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS s_ts, COUNT(C.ts) AS n_c
        |  ALL ROWS PER MATCH
        |  PATTERN (S C{2} P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'view', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m08Sql =
    """WITH a AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT a.user_id, a.ts AS t0, min(b.ts) AS t1
      |       FROM a JOIN b ON b.user_id = a.user_id AND b.ts > a.ts
      |                    AND b.ts <= a.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, t0, t1, min(b.ts) AS t2
      |       FROM m1 JOIN b ON b.user_id = m1.user_id AND b.ts > t1
      |                     AND b.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |m3 AS (SELECT m2.user_id, t0, t1, t2, min(c.ts) AS t3
      |       FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts > t2
      |                     AND c.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT user_id, 'S' AS cls, t0 AS ts, t0 AS s_ts, CAST(0 AS BIGINT) AS n_c FROM m3
      |UNION ALL SELECT user_id, 'C', t1, t0, 1 FROM m3
      |UNION ALL SELECT user_id, 'C', t2, t0, 2 FROM m3
      |UNION ALL SELECT user_id, 'P', t3, t0, 2 FROM m3""".stripMargin

  // --- w20: SLIDING count window — countWindow(size, slide) ---
  // (reference flink-streaming-java/.../datastream/KeyedStream.java
  // countWindow(long size, long slide): every `slide` events per key emit
  // the aggregate of the last `size` events.) Batch shape: a ROWS frame of
  // size-1 preceding rows, emitted only at every slide-th event.
  private val w20: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_last", count(lit(1)).over(w.rowsBetween(-9, 0)))
      .withColumn("sum_last", sum(col("value")).over(w.rowsBetween(-9, 0)))
      .filter(col("rn") % 5 === 0)
      .select(col("user_id"), col("rn").cast("long").as("fire_at"), col("n_last"),
        round(col("sum_last"), 4).as("sum_last"))
  }
  private val w20Sql =
    """SELECT user_id, fire_at, n_last, round(sum_raw, 4) AS sum_last FROM (
      | SELECT user_id,
      |  row_number() OVER w AS fire_at,
      |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last,
      |  sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS sum_raw
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |) WHERE fire_at % 5 = 0""".stripMargin

  // --- w21: CEP strict contiguity — flink-cep next() ---
  // Purchase IMMEDIATELY after signup (no intervening event of any type):
  // the step binds only at the key's earliest event time after the signup,
  // and only when an event at that time is a purchase. The oracle computes
  // the successor time then tests it — identical ts-level adjacency.
  private val w21: Q = (s, dir) =>
    graft.cep.Pattern.begin("signup", col("event_type") === "signup")
      .next("purchase", col("event_type") === "purchase")
      .within(24L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
      .select(col("key").as("user_id"), col("signup_ts"), col("purchase_ts"))
  private val w21Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type FROM events),
      |s AS (SELECT DISTINCT user_id, ts FROM e WHERE event_type='signup'),
      |succ AS (SELECT s.user_id, s.ts AS s_ts, min(e.ts) AS nxt
      |         FROM s JOIN e ON e.user_id = s.user_id AND e.ts > s.ts
      |                      AND e.ts <= s.ts + INTERVAL 24 HOURS
      |         GROUP BY 1, 2)
      |SELECT su.user_id, su.s_ts AS signup_ts, su.nxt AS purchase_ts
      |FROM succ su
      |WHERE EXISTS (SELECT 1 FROM e WHERE e.user_id = su.user_id
      |              AND e.ts = su.nxt AND e.event_type = 'purchase')""".stripMargin

  // --- w19: CEP alternation — (click|view) with CLASSIFIER output ---
  // flink-cep GroupPattern / SQL CLASSIFIER(): the middle step binds the
  // earliest click-OR-view and the match records which branch matched;
  // equal-ts ties break on (ts, branch name), replayed by the oracle's
  // row_number ordering.
  private val w19: Q = (s, dir) =>
    graft.cep.Pattern.begin("signup", col("event_type") === "signup")
      .followedByOneOf("x",
        "click" -> (col("event_type") === "click"),
        "view" -> (col("event_type") === "view"))
      .followedBy("purchase", col("event_type") === "purchase")
      .within(24L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
      .select(col("key").as("user_id"), col("signup_ts"), col("x_ts"),
        col("x_cls"), col("purchase_ts"))
  private val w19Sql =
    """WITH s AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) t0 FROM events
      |           WHERE event_type='signup'),
      |x AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type AS cls FROM events
      |      WHERE event_type IN ('click','view')),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT user_id, t0, t1, cls FROM (
      |   SELECT s.user_id, s.t0, x.ts AS t1, x.cls,
      |          row_number() OVER (PARTITION BY s.user_id, s.t0 ORDER BY x.ts, x.cls) rn
      |   FROM s JOIN x ON x.user_id = s.user_id AND x.ts > s.t0
      |                AND x.ts <= s.t0 + INTERVAL 24 HOURS) WHERE rn = 1),
      |m2 AS (SELECT m1.user_id, t0, t1, cls, min(p.ts) AS t2
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > t1
      |                     AND p.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT user_id, t0 AS signup_ts, t1 AS x_ts, cls AS x_cls,
      | t2 AS purchase_ts FROM m2""".stripMargin

  // --- m04: MATCH_RECOGNIZE range quantifier {n,m} (greedy) ---
  // flink-cep times(from,to).greedy(): one mandatory click then up to one
  // more whenever present; the purchase binds after the LAST bound click.
  // LAST over the range coalesces backwards across the nullable tail;
  // COUNT counts bound expansions. Oracle replays the greedy chain with a
  // LEFT JOIN for the optional occurrence.
  private val m04: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.ts AS view_ts, FIRST(B.ts) AS first_click_ts,
        |           LAST(B.ts) AS last_click_ts, COUNT(B.ts) AS n_clicks,
        |           C.ts AS purchase_ts
        |  PATTERN (A B{1,2} C)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
  private val m04Sql =
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) t0 FROM events
      |           WHERE event_type='view'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT a.user_id, a.t0, min(b.ts) AS t1
      |       FROM a JOIN b ON b.user_id = a.user_id AND b.ts > a.t0
      |                    AND b.ts <= a.t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, t0, t1, min(b.ts) AS t2
      |       FROM m1 LEFT JOIN b ON b.user_id = m1.user_id AND b.ts > t1
      |                          AND b.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |m3 AS (SELECT m2.user_id, t0, t1, t2, min(c.ts) AS t3
      |       FROM m2 JOIN c ON c.user_id = m2.user_id
      |                     AND c.ts > coalesce(t2, t1)
      |                     AND c.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT user_id, t0 AS view_ts, t1 AS first_click_ts,
      | coalesce(t2, t1) AS last_click_ts,
      | CAST(CASE WHEN t2 IS NULL THEN 1 ELSE 2 END AS BIGINT) AS n_clicks,
      | t3 AS purchase_ts FROM m3""".stripMargin

  // --- m05: MATCH_RECOGNIZE alternation (B|C) with a classifier measure ---
  // SQL-text twin of w19: the group binds as variable "C_V" and the
  // `C_V.cls` measure reports which branch matched (CLASSIFIER analog).
  private val m05: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, C_V.ts AS x_ts, C_V.cls AS x_cls,
        |           P.ts AS purchase_ts
        |  PATTERN (S (C|V) P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m05Sql =
    """WITH s AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) t0 FROM events
      |           WHERE event_type='signup'),
      |x AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts,
      |       CASE WHEN event_type='click' THEN 'C' ELSE 'V' END AS cls FROM events
      |      WHERE event_type IN ('click','view')),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT user_id, t0, t1, cls FROM (
      |   SELECT s.user_id, s.t0, x.ts AS t1, x.cls,
      |          row_number() OVER (PARTITION BY s.user_id, s.t0 ORDER BY x.ts, x.cls) rn
      |   FROM s JOIN x ON x.user_id = s.user_id AND x.ts > s.t0
      |                AND x.ts <= s.t0 + INTERVAL 24 HOURS) WHERE rn = 1),
      |m2 AS (SELECT m1.user_id, t0, t1, cls, min(p.ts) AS t2
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > t1
      |                     AND p.ts <= t0 + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT user_id, t0 AS signup_ts, t1 AS x_ts, cls AS x_cls,
      | t2 AS purchase_ts FROM m2""".stripMargin

  // --- w12: SQL-text windowed aggregate — the Flink SQL TUMBLE mapping ---
  // Flink 1.10 SQL writes GROUP BY TUMBLE(ts, INTERVAL '1' HOUR); the Spark
  // SQL spelling of the same thing is GROUP BY window(ts, '1 hour') — this
  // query goes through the SQL front door end-to-end (text in, no DataFrame
  // combinators) to pin that mapping at the correctness gate.
  private val w12: Q = (s, dir) => {
    graft.sources.Tables.registerAll(s, dir)
    s.sql("""SELECT window(ts, '1 hour').start AS window_start, event_type,
            |       count(*) AS n, round(sum(value), 4) AS sum_value
            |FROM events GROUP BY window(ts, '1 hour'), event_type""".stripMargin)
  }
  private val w12Sql = w01Sql // identical semantics to the DataFrame tumble

  // --- w14: CEP with an ITERATIVE condition — relative value predicate ---
  // Flink's IterativeCondition (flink-libraries/flink-cep/.../pattern/
  // conditions/IterativeCondition.java): the purchase step binds only when
  // its value exceeds 2× the value bound at the signup step. The signup's
  // value is carried via bind(); the residual evaluates inside the step's
  // keyed equi-join. Earliest qualifying purchase binds; equal-ts ties break
  // on the lexicographic (ts, value) struct-min, replayed by the oracle's
  // row_number ordering.
  private val w14: Q = (s, dir) =>
    graft.cep.Pattern.begin("signup", col("event_type") === "signup").bind("value")
      .followedByIterative("purchase", col("event_type") === "purchase",
        graft.cep.Pattern.ev("value") > graft.cep.Pattern.bound("signup", "value") * 2)
      .bind("value")
      .within(24L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
      .select(col("key").as("user_id"), col("signup_ts"), col("signup_value"),
        col("purchase_ts"), col("purchase_value"))
  private val w14Sql =
    """WITH s AS (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS signup_ts,
      |            value AS signup_value FROM events WHERE event_type='signup'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events
      |      WHERE event_type='purchase')
      |SELECT user_id, signup_ts, signup_value, purchase_ts, purchase_value FROM (
      |  SELECT s.user_id, s.signup_ts, s.signup_value,
      |         p.ts AS purchase_ts, p.value AS purchase_value,
      |         row_number() OVER (PARTITION BY s.user_id, s.signup_ts, s.signup_value
      |                            ORDER BY p.ts, p.value) AS rn
      |  FROM s JOIN p ON p.user_id = s.user_id AND p.ts > s.signup_ts
      |              AND p.ts <= s.signup_ts + INTERVAL 24 HOURS
      |              AND p.value > 2 * s.signup_value
      |) WHERE rn = 1""".stripMargin

  // --- w15: SQL-text hopping window — the Flink SQL HOP mapping ---
  // Flink 1.10 SQL: GROUP BY HOP(ts, INTERVAL '30' MINUTE, INTERVAL '1' HOUR)
  // (slide before size); Spark SQL spells it window(ts, size, slide). Like
  // w12, the text goes through the SQL front door end-to-end to pin the
  // mapping at the correctness gate (reference Blink
  // WindowAggregateITCase.scala HOP cases).
  private val w15: Q = (s, dir) => {
    graft.sources.Tables.registerAll(s, dir)
    s.sql("""SELECT window(ts, '1 hour', '30 minutes').start AS window_start,
            |       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
            |FROM events
            |GROUP BY window(ts, '1 hour', '30 minutes'), event_type""".stripMargin)
  }
  private val w15Sql = w02Sql // identical semantics to the DataFrame hop

  // --- w16: SQL-text session window — the Flink SQL SESSION mapping ---
  // Flink 1.10 SQL: GROUP BY SESSION(ts, INTERVAL '30' MINUTE); Spark SQL
  // spells it session_window(ts, gap) (reference Blink
  // WindowAggregateITCase.scala SESSION cases).
  private val w16: Q = (s, dir) => {
    graft.sources.Tables.registerAll(s, dir)
    s.sql("""SELECT user_id,
            |       session_window(ts, '30 minutes').start AS session_start,
            |       session_window(ts, '30 minutes').end AS session_end,
            |       count(*) AS n, round(sum(value), 4) AS sum_value
            |FROM events
            |GROUP BY session_window(ts, '30 minutes'), user_id""".stripMargin)
  }
  private val w16Sql = w03Sql // identical semantics to the DataFrame session

  // --- w13: temporal (versioned) table join — FOR SYSTEM_TIME AS OF ---
  // Dim = each customer's order history as priority "versions" (one per
  // (customer, date), ties broken by max orderkey); fact = shipped line
  // items stamped with their customer. Each fact row picks the priority
  // version in effect at its ship date. Union-tag + keyed window — one
  // shuffle, no range join (see Relational.temporalJoin). The oracle takes
  // a DIFFERENT evaluation strategy (correlated latest-version subquery),
  // so agreement is meaningful.
  private val w13: Q = (s, dir) => {
    val o = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    val fact = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"))
    val dim = o.groupBy(col("o_custkey").as("cust"), col("o_orderdate").as("valid_from"))
      .agg(max_by(col("o_orderpriority"), col("o_orderkey")).as("prio"))
    graft.operators.Relational.temporalJoin(fact, dim, "cust", "l_shipdate",
        "valid_from", Seq("prio"))
      .select(col("l_orderkey"), col("l_linenumber"), col("cust"),
        col("l_shipdate"), col("prio").as("prio_asof"))
  }
  private val w13Sql =
    """WITH f AS (SELECT o_custkey AS cust, l_orderkey, l_linenumber,
      |            CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
      |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |dimv AS (SELECT o_custkey AS cust, o_orderdate AS valid_from,
      |          arg_max(o_orderpriority, o_orderkey) AS prio
      |         FROM orders GROUP BY 1, 2)
      |SELECT f.l_orderkey, f.l_linenumber, f.cust, f.l_shipdate,
      | (SELECT v.prio FROM dimv v WHERE v.cust = f.cust
      |   AND v.valid_from <= f.l_shipdate
      |  ORDER BY v.valid_from DESC LIMIT 1) AS prio_asof
      |FROM f""".stripMargin

  // --- w17: TimeEvictor — only the trailing 15 min of each 1h window ---
  // (reference flink-streaming-java/.../windowing/evictors/TimeEvictor.java:
  // evicts elements with ts <= window-max - keep before the function runs)
  private val w17: Q = (s, dir) =>
    graft.operators.EventWindows.timeEvictedTumbleAgg(ev(s, dir), col("ts"),
      "1 hour", "15 minutes", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
      .select("window_start", "event_type", "n", "sum_value")
  private val w17Sql =
    """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value,
      |            CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS ws FROM events),
      |m AS (SELECT *, max(ts) OVER (PARTITION BY ws, event_type) AS mx FROM e)
      |SELECT ws AS window_start, event_type, count(*) AS n,
      | round(sum(value), 4) AS sum_value
      |FROM m WHERE ts > mx - INTERVAL 15 MINUTES GROUP BY 1, 2""".stripMargin

  // --- w18: CountEvictor — only the last 5 events of each 1h window ---
  // (reference .../windowing/evictors/CountEvictor.java)
  private val w18: Q = (s, dir) =>
    graft.operators.EventWindows.countEvictedTumbleAgg(ev(s, dir), col("ts"),
      "1 hour", 5, col("event_id"), Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
      .select("window_start", "event_type", "n", "sum_value")
  private val w18Sql =
    """WITH e AS (SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |            CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS ws FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY ws, event_type
      |        ORDER BY ts DESC, event_id DESC) AS rn FROM e)
      |SELECT ws AS window_start, event_type, count(*) AS n,
      | round(sum(value), 4) AS sum_value
      |FROM r WHERE rn <= 5 GROUP BY 1, 2""".stripMargin

  // --- w22: CONSECUTIVE run contiguity (flink-cep `oneOrMore()
  // .consecutive()`, Pattern.java:463): run members must occupy ADJACENT
  // distinct event times — any intervening time with no click closes the
  // run, and the purchase binds after the run's LAST member. The oracle
  // replays the same time-level gaps-and-islands segmentation.
  private val w22: Q = (s, dir) =>
    graft.cep.Pattern.begin("s", col("event_type") === "signup")
      .followedBy("c", col("event_type") === "click").oneOrMore().consecutive()
      .followedBy("p", col("event_type") === "purchase")
      .within(24L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
      .select(col("key").as("user_id"), col("s_ts").as("signup_ts"),
        col("c_first_ts").as("first_click_ts"), col("c_last_ts").as("last_click_ts"),
        col("c_n").as("n_clicks"), col("p_ts").as("purchase_ts"))
  private val w22Sql =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts,
      |             max(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS isc
      |           FROM events GROUP BY 1, 2),
      |seg0 AS (SELECT *, lag(isc) OVER (PARTITION BY user_id ORDER BY ts) AS pisc FROM e),
      |seg AS (SELECT user_id, ts, isc,
      |        sum(CASE WHEN isc=1 AND (pisc IS NULL OR pisc=0) THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS seg
      |        FROM seg0),
      |c AS (SELECT user_id, ts, seg FROM seg WHERE isc=1),
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS c1
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m1s AS (SELECT m1.user_id, m1.s_ts, m1.c1, c.seg
      |        FROM m1 JOIN c ON c.user_id = m1.user_id AND c.ts = m1.c1),
      |m2 AS (SELECT m1s.user_id, s_ts, c1, max(c.ts) AS clast, count(*) AS n_c
      |       FROM m1s JOIN c ON c.user_id = m1s.user_id AND c.seg = m1s.seg
      |                      AND c.ts >= c1 AND c.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT m2.user_id, s_ts AS signup_ts, c1 AS first_click_ts, clast AS last_click_ts,
      |       n_c AS n_clicks, min(p.ts) AS purchase_ts
      |FROM m2 JOIN p ON p.user_id = m2.user_id AND p.ts > clast
      |              AND p.ts <= s_ts + INTERVAL 24 HOURS
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // --- m13: GROUP pattern `S (C V)+ P` (reference flink-cep GroupPattern
  // .java:30, `Pattern.begin(Pattern...)`, exercised throughout NFAITCase):
  // a quantified SUB-PATTERN — each repetition is a complete click→view
  // sub-sequence, repetitions chain greedily (each starting strictly after
  // the previous one's end), and the purchase binds after the LAST
  // repetition's end. The oracle replays the chain with a recursive CTE
  // over the same pre-reduced sub-match table (one row per click: its
  // earliest view completion), walking next-links to the maximal chain.
  private val m13: Q = (s, dir) =>
    graft.cep.Pattern.begin("s", col("event_type") === "signup")
      .followedByGroup("g",
        "c" -> (col("event_type") === "click"),
        "v" -> (col("event_type") === "view"))
      .oneOrMore()
      .followedBy("p", col("event_type") === "purchase")
      .within(96L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
      .select(col("key").as("user_id"), col("s_ts").as("signup_ts"),
        col("g_first_ts"), col("g_last_ts"), col("g_n").as("n_reps"),
        col("p_ts").as("purchase_ts"))
  private val m13Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |subs AS (
      |  SELECT c.user_id, c.ts AS b_ts, min(v.ts) AS e_ts
      |  FROM c JOIN v ON v.user_id = c.user_id AND v.ts > c.ts
      |              AND v.ts <= c.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, s1.e_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(sub.b_ts) AS b1
      |  FROM s JOIN subs sub ON sub.user_id = s.user_id AND sub.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |chain AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS b_first, sub.b_ts AS b_cur,
      |         sub.e_ts AS e_cur, CAST(1 AS BIGINT) AS n
      |  FROM entry e JOIN subs sub ON sub.user_id = e.user_id AND sub.b_ts = e.b1
      |  WHERE sub.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT ch.user_id, ch.s_ts, ch.w_end, ch.b_first, nx.b_ts, nx.e_ts, ch.n + 1
      |  FROM chain ch
      |  JOIN link l ON l.user_id = ch.user_id AND l.b_ts = ch.b_cur
      |  JOIN subs nx ON nx.user_id = ch.user_id AND nx.b_ts = l.nb
      |  WHERE nx.e_ts <= ch.w_end),
      |best AS (
      |  SELECT user_id, s_ts, w_end, b_first, e_cur, n,
      |         row_number() OVER (PARTITION BY user_id, s_ts ORDER BY n DESC) rn
      |  FROM chain)
      |SELECT b.user_id, b.s_ts AS signup_ts, b.b_first AS g_first_ts,
      |       b.e_cur AS g_last_ts, b.n AS n_reps, min(p.ts) AS purchase_ts
      |FROM best b JOIN p ON p.user_id = b.user_id AND p.ts > b.e_cur AND p.ts <= b.w_end
      |WHERE b.rn = 1
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // --- w23: DeltaEvictor analog (flink-streaming-java/.../evictors/
  // DeltaEvictor.java): only elements within `threshold` of the window's
  // LAST element's value reach the aggregate. Last element = (ts, value)
  // lexicographic max; two hash aggregates joined back shuffle_hash — the
  // w17 no-Sort-on-facts discipline, plan-asserted.
  private val w23: Q = (s, dir) =>
    graft.operators.EventWindows.deltaEvictedTumbleAgg(ev(s, dir), col("ts"),
      "1 hour", col("value"), 50.0, Seq(col("event_type")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
      .select("window_start", "event_type", "n", "sum_value")
  private val w23Sql =
    """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value,
      |            CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS ws FROM events),
      |lastv AS (SELECT ws, event_type,
      |           struct_extract(max({'t': ts, 'v': value}), 'v') AS lv
      |          FROM e GROUP BY 1, 2)
      |SELECT e.ws AS window_start, e.event_type, count(*) AS n,
      | round(sum(e.value), 4) AS sum_value
      |FROM e JOIN lastv l ON l.ws = e.ws AND l.event_type = e.event_type
      |WHERE abs(e.value - l.lv) < 50
      |GROUP BY 1, 2""".stripMargin

  // --- w24: DYNAMIC-gap session windows (flink-streaming-java/.../
  // assigners/DynamicEventTimeSessionWindows.java): each element carries its
  // own gap (purchases hold the session open 30 min, everything else 10),
  // overlapping [ts, ts+gap) ranges merge. Spark's session_window takes the
  // gap as a per-row expression, so the plan is the same single keyed
  // aggregation as w03. Oracle: gaps-and-islands with a RUNNING MAX of the
  // range end (new session iff ts >= max end so far — interval merging over
  // start-sorted rows), (ts, event_id) ordering pins ties on both engines.
  private val w24: Q = (s, dir) => {
    // the dynamic gap must be a CalendarInterval/STRING expression (ANSI
    // day-time intervals are rejected by session_window's gap resolver)
    val gap = when(col("event_type") === "purchase", lit("30 minutes"))
      .otherwise(lit("10 minutes"))
    graft.operators.EventWindows.dynamicSessionAgg(ev(s, dir), col("ts"), gap,
      Seq(col("user_id")),
      Seq(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value")))
      .select("user_id", "session_start", "session_end", "n", "sum_value")
  }
  private val w24Sql =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, value,
      |   ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 30 MINUTES
      |             ELSE INTERVAL 10 MINUTES END AS endt
      |  FROM events),
      |f AS (SELECT *, CASE WHEN max(endt) OVER w IS NULL
      |                      OR ts >= max(endt) OVER w THEN 1 ELSE 0 END AS ns
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS UNBOUNDED PRECEDING) AS sid FROM f)
      |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
      | CAST(max(endt) AS TIMESTAMP) AS session_end,
      | count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM g GROUP BY user_id, sid""".stripMargin

  // --- m16: the m13 GROUP pattern through PURE SQL text — `PATTERN
  // (S (C V)+ P)` parses to followedByGroup + oneOrMore; FIRST(C.ts) /
  // LAST(V.ts) / COUNT(C.ts) address the chain's materialized boundaries.
  // Shares m13's recursive-CTE oracle (same semantics, same window).
  private val m16: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS g_first_ts,
        |           LAST(V.ts) AS g_last_ts, COUNT(C.ts) AS n_reps,
        |           P.ts AS purchase_ts
        |  PATTERN (S (C V)+ P)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m16Sql = m13Sql

  // --- m17: ZERO-or-more sequence group `(C V)*` (GroupPattern oneOrMore
  // .optional): an empty chain keeps the match with null boundaries and
  // count 0, the purchase then binding after the signup itself. Oracle =
  // m13's recursive chain LEFT-JOINED onto all anchors.
  private val m17: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS g_first_ts,
        |           LAST(V.ts) AS g_last_ts, COUNT(C.ts) AS n_reps,
        |           P.ts AS purchase_ts
        |  PATTERN (S (C V)* P)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m17Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |subs AS (
      |  SELECT c.user_id, c.ts AS b_ts, min(v.ts) AS e_ts
      |  FROM c JOIN v ON v.user_id = c.user_id AND v.ts > c.ts
      |              AND v.ts <= c.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, s1.e_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(sub.b_ts) AS b1
      |  FROM s JOIN subs sub ON sub.user_id = s.user_id AND sub.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |chain AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS b_first, sub.b_ts AS b_cur,
      |         sub.e_ts AS e_cur, CAST(1 AS BIGINT) AS n
      |  FROM entry e JOIN subs sub ON sub.user_id = e.user_id AND sub.b_ts = e.b1
      |  WHERE sub.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT ch.user_id, ch.s_ts, ch.w_end, ch.b_first, nx.b_ts, nx.e_ts, ch.n + 1
      |  FROM chain ch
      |  JOIN link l ON l.user_id = ch.user_id AND l.b_ts = ch.b_cur
      |  JOIN subs nx ON nx.user_id = ch.user_id AND nx.b_ts = l.nb
      |  WHERE nx.e_ts <= ch.w_end),
      |best AS (
      |  SELECT user_id, s_ts, b_first, e_cur, n,
      |         row_number() OVER (PARTITION BY user_id, s_ts ORDER BY n DESC) rn
      |  FROM chain),
      |aug AS (
      |  SELECT a.user_id, a.s_ts, a.w_end, b.b_first, b.e_cur,
      |         CAST(coalesce(b.n, 0) AS BIGINT) AS n
      |  FROM (SELECT user_id, ts AS s_ts, ts + INTERVAL 96 HOURS AS w_end FROM s) a
      |  LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
      |    ON b.user_id = a.user_id AND b.s_ts = a.s_ts)
      |SELECT aug.user_id, aug.s_ts AS signup_ts, aug.b_first AS g_first_ts,
      |       aug.e_cur AS g_last_ts, aug.n AS n_reps, min(p.ts) AS purchase_ts
      |FROM aug JOIN p ON p.user_id = aug.user_id
      |              AND p.ts > coalesce(aug.e_cur, aug.s_ts) AND p.ts <= aug.w_end
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // --- m19: VALUE measures over sequence-group MEMBERS (Calcite/Flink
  // MATCH_RECOGNIZE aggregate measures over quantified patterns —
  // MatchRecognizeITCase aggregate-measure shapes): SUM/AVG/MIN/MAX(V.value)
  // and FIRST/LAST(C.value) where C, V are inside the `(C V)+` chain. The
  // chain cogroup carries O(1) running state per bound column (the bindRun
  // shape); values read at the member's bound timestamp, equal-ts ties to
  // the min value, cast to double. Oracle = m13's recursive chain with the
  // same running accumulations threaded through the CTE.
  private val m19: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS g_first_ts,
        |           LAST(V.ts) AS g_last_ts, COUNT(C.ts) AS n_reps,
        |           SUM(V.value) AS sum_view_value, AVG(V.value) AS avg_view_value,
        |           MIN(V.value) AS min_view_value, MAX(V.value) AS max_view_value,
        |           FIRST(C.value) AS first_click_value,
        |           LAST(C.value) AS last_click_value,
        |           P.ts AS purchase_ts
        |  PATTERN (S (C V)+ P)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .withColumn("sum_view_value", round(col("sum_view_value"), 4))
      .withColumn("avg_view_value", round(col("avg_view_value"), 4))
  private val m19Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='view'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |cv AS (SELECT user_id, ts, min(value) AS cval FROM c GROUP BY 1, 2),
      |vv AS (SELECT user_id, ts, min(value) AS vval FROM v GROUP BY 1, 2),
      |subs AS (
      |  SELECT c.user_id, c.ts AS b_ts, min(v.ts) AS e_ts
      |  FROM c JOIN v ON v.user_id = c.user_id AND v.ts > c.ts
      |              AND v.ts <= c.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |subv AS (
      |  SELECT sb.user_id, sb.b_ts, sb.e_ts, cv.cval, vv.vval
      |  FROM subs sb
      |  JOIN cv ON cv.user_id = sb.user_id AND cv.ts = sb.b_ts
      |  JOIN vv ON vv.user_id = sb.user_id AND vv.ts = sb.e_ts),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, s1.e_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(sub.b_ts) AS b1
      |  FROM s JOIN subs sub ON sub.user_id = s.user_id AND sub.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |chain AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS b_first, sub.b_ts AS b_cur,
      |         sub.e_ts AS e_cur, CAST(1 AS BIGINT) AS n,
      |         sub.vval AS sum_vv, sub.vval AS min_vv, sub.vval AS max_vv,
      |         sub.cval AS first_cv, sub.cval AS last_cv
      |  FROM entry e JOIN subv sub ON sub.user_id = e.user_id AND sub.b_ts = e.b1
      |  WHERE sub.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT ch.user_id, ch.s_ts, ch.w_end, ch.b_first, nx.b_ts, nx.e_ts, ch.n + 1,
      |         ch.sum_vv + nx.vval, least(ch.min_vv, nx.vval),
      |         greatest(ch.max_vv, nx.vval), ch.first_cv, nx.cval
      |  FROM chain ch
      |  JOIN link l ON l.user_id = ch.user_id AND l.b_ts = ch.b_cur
      |  JOIN subv nx ON nx.user_id = ch.user_id AND nx.b_ts = l.nb
      |  WHERE nx.e_ts <= ch.w_end),
      |best AS (
      |  SELECT user_id, s_ts, w_end, b_first, e_cur, n, sum_vv, min_vv, max_vv,
      |         first_cv, last_cv,
      |         row_number() OVER (PARTITION BY user_id, s_ts ORDER BY n DESC) rn
      |  FROM chain)
      |SELECT b.user_id, b.s_ts AS signup_ts, b.b_first AS g_first_ts,
      |       b.e_cur AS g_last_ts, b.n AS n_reps,
      |       round(b.sum_vv, 4) AS sum_view_value,
      |       round(b.sum_vv / b.n, 4) AS avg_view_value,
      |       b.min_vv AS min_view_value, b.max_vv AS max_view_value,
      |       b.first_cv AS first_click_value, b.last_cv AS last_click_value,
      |       min(p.ts) AS purchase_ts
      |FROM best b JOIN p ON p.user_id = b.user_id AND p.ts > b.e_cur AND p.ts <= b.w_end
      |WHERE b.rn = 1
      |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11""".stripMargin

  // --- m20: composite ORDER BY `(ts, tiebreak)` (reference
  // StreamExecMatch.scala sorts by time attribute + secondary keys via
  // ComparatorCodeGenerator): the secondary column deterministically picks
  // WHICH equal-timestamp candidate binds. Timestamps are coarsened to the
  // hour so equal-ts candidate sets are real: among a signup-hour's later
  // click events, the one with the LEAST event_id binds — its value (not
  // the hour's min value) is the measure, which is exactly what the
  // tiebreak changes. Oracle: argmin by (ts, event_id) replayed in SQL.
  private val m20: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(
      ev(s, dir).withColumn("ts", date_trunc("hour", col("ts"))),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES S.ts AS signup_ts, C.ts AS click_ts,
        |           C.event_id AS click_id, C.value AS click_value,
        |           P.ts AS purchase_ts
        |  PATTERN (S C P)
        |  WITHIN INTERVAL '72' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m20Sql =
    """WITH e AS (SELECT user_id, event_id,
      |            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
      |            event_type, value FROM events),
      |s AS (SELECT user_id, event_id, ts FROM e WHERE event_type='signup'),
      |c AS (SELECT user_id, event_id, ts, value FROM e WHERE event_type='click'),
      |p AS (SELECT user_id, ts FROM e WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts, min(c.ts) AS c_ts
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 72 HOURS
      |       GROUP BY 1, 2, 3),
      |m1c AS (SELECT m1.user_id, m1.sid, m1.s_ts, m1.c_ts,
      |               min(c.event_id) AS click_id
      |        FROM m1 JOIN c ON c.user_id = m1.user_id AND c.ts = m1.c_ts
      |        GROUP BY 1, 2, 3, 4),
      |m1v AS (SELECT m1c.user_id, m1c.sid, m1c.s_ts, m1c.c_ts, m1c.click_id,
      |               c.value AS click_value
      |        FROM m1c JOIN c ON c.user_id = m1c.user_id
      |                       AND c.event_id = m1c.click_id),
      |agg AS (SELECT v.user_id, v.sid, v.s_ts, v.c_ts, v.click_id,
      |               v.click_value, min(p.ts) AS purchase_ts
      |        FROM m1v v JOIN p ON p.user_id = v.user_id AND p.ts > v.c_ts
      |                         AND p.ts <= v.s_ts + INTERVAL 72 HOURS
      |        GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT user_id, s_ts AS signup_ts, c_ts AS click_ts, click_id,
      |       click_value, purchase_ts
      |FROM agg""".stripMargin

  // --- m21: QUANTIFIED alternation groups `(C|V)+` (flink-cep GroupPattern
  // over oneOf branches, NFAITCase): a '+' run whose members match ANY
  // branch, with per-branch member counts (each member counted under its
  // classifier). Engine: the run aggregate adds one conditional hash-agg
  // count per branch — no extra join or shuffle over the plain C+ run.
  // Oracle: the m07-style run replay with per-type counts.
  private val m21: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(scaleValue(ev(s, dir)),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C_V.ts) AS first_ts,
        |           LAST(C_V.ts) AS last_ts, COUNT(C_V.ts) AS n_members,
        |           COUNT(C.ts) AS n_clicks, COUNT(V.ts) AS n_views,
        |           SUM(C_V.value) AS sum_value, P.ts AS purchase_ts
        |  PATTERN (S (C|V)+ P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .transform(unscale(_, "sum_value"))
  private val m21Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |cv AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type,
      |              CAST(round(value * 10000) AS BIGINT) AS sval
      |       FROM events WHERE event_type IN ('click', 'view')),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(cv.ts) AS first_ts
      |       FROM s JOIN cv ON cv.user_id = s.user_id AND cv.ts > s.ts
      |                     AND cv.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, first_ts, min(p.ts) AS p_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > first_ts
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT m2.user_id, s_ts AS signup_ts, first_ts,
      |       max(cv.ts) AS last_ts, count(*) AS n_members,
      |       CAST(sum(CASE WHEN cv.event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
      |       CAST(sum(CASE WHEN cv.event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
      |       CAST(sum(cv.sval) AS DOUBLE) / CAST(10000 AS DOUBLE) AS sum_value, p_ts AS purchase_ts
      |FROM m2 JOIN cv ON cv.user_id = m2.user_id AND cv.ts >= first_ts AND cv.ts < p_ts
      |GROUP BY 1, 2, 3, 9""".stripMargin

  // --- m22: `PREV(col, n)` with n > 1 (Calcite MATCH_RECOGNIZE arbitrary
  // PREV offsets; flink-cep IterativeCondition at depth): each D member
  // after the first TWO must be below the member two back in the run; the
  // first two members are accepted on the pre-filter alone. Engine: the
  // keyed walk restarts the run at each member that fails against the
  // member two back (a recursion no window expresses). Oracle: the
  // identical walk as a recursive CTE over row-numbered candidates.
  private val m22: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(D.ts) AS first_down_ts,
        |           LAST(D.ts) AS last_down_ts, COUNT(D.ts) AS n_down,
        |           FIRST(D.value) AS first_down_value,
        |           LAST(D.value) AS last_down_value, U.ts AS purchase_ts
        |  PATTERN (S D+ U)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         D AS value < PREV(value, 2) AND D.event_type = 'click',
        |         U AS event_type = 'purchase'
        |)""".stripMargin)
  private val m22Sql =
    """WITH RECURSIVE
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value,
      |       row_number() OVER (PARTITION BY user_id ORDER BY ts, value) AS rn,
      |       lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, value) AS pv2
      |      FROM events WHERE event_type='click'),
      |ok AS (SELECT user_id, ts, value, rn,
      |        (pv2 IS NOT NULL AND value < pv2) AS okn FROM c),
      |walk AS (
      |  SELECT user_id, rn, ts, value, CAST(1 AS BIGINT) AS seg
      |  FROM ok WHERE rn = 1
      |  UNION ALL
      |  SELECT o.user_id, o.rn, o.ts, o.value,
      |         CASE WHEN o.rn - w.seg < 2 THEN w.seg
      |              WHEN o.okn THEN w.seg ELSE CAST(o.rn AS BIGINT) END
      |  FROM walk w JOIN ok o ON o.user_id = w.user_id AND o.rn = w.rn + 1),
      |seg AS (SELECT user_id, ts, value, seg FROM walk),
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts,
      |         struct_extract(min({'t': g.ts, 'v': g.value, 'g': g.seg}), 't') AS d1_ts,
      |         struct_extract(min({'t': g.ts, 'v': g.value, 'g': g.seg}), 'g') AS d_seg
      |       FROM s JOIN seg g ON g.user_id = s.user_id AND g.ts > s.ts
      |                        AND g.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, d1_ts,
      |         max(g.ts) AS dlast_ts, count(*) AS n_down,
      |         struct_extract(min({'t': g.ts, 'v': g.value}), 'v') AS first_v,
      |         struct_extract(max({'t': g.ts, 'v': g.value}), 'v') AS last_v
      |       FROM m1 JOIN seg g ON g.user_id = m1.user_id AND g.seg = m1.d_seg
      |                         AND g.ts >= d1_ts AND g.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3)
      |SELECT m2.user_id, s_ts AS signup_ts, d1_ts AS first_down_ts,
      |       dlast_ts AS last_down_ts, n_down, first_v AS first_down_value,
      |       last_v AS last_down_value, min(p.ts) AS purchase_ts
      |FROM m2 JOIN p ON p.user_id = m2.user_id AND p.ts > dlast_ts
      |               AND p.ts <= s_ts + INTERVAL 24 HOURS
      |GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  // --- m23: ALL ROWS PER MATCH over a '+' RUN (reference StreamExecMatch
  // per-row emission over looping states): one row per matched event
  // including every run MEMBER, measures RUNNING as of each row. Engine:
  // member rows are one keyed join of the match table back onto the run's
  // candidates over [first_ts, last_ts]; running sums are one window per
  // match. Oracle: the m18-style run replay exploded to rows with window
  // running aggregates.
  private val m23: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(D.ts) AS n_so_far,
        |           SUM(D.value) AS sum_so_far, LAST(D.value) AS last_value
        |  ALL ROWS PER MATCH
        |  PATTERN (S D+ U)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', D AS event_type = 'click',
        |         U AS event_type = 'purchase'
        |)""".stripMargin)
      .withColumn("sum_so_far", round(col("sum_so_far"), 4))
  private val m23Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS first_c
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, first_c, min(p.ts) AS p_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > first_c
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |mem AS (SELECT m2.user_id, m2.s_ts, m2.p_ts, c.ts AS d_ts, c.value AS d_v,
      |         count(*) OVER w AS n_run, sum(c.value) OVER w AS sum_run
      |        FROM m2 JOIN c ON c.user_id = m2.user_id
      |                      AND c.ts >= m2.first_c AND c.ts < m2.p_ts
      |        WINDOW w AS (PARTITION BY m2.user_id, m2.s_ts ORDER BY c.ts
      |                     ROWS UNBOUNDED PRECEDING)),
      |tot AS (SELECT user_id, s_ts, p_ts, max(n_run) AS n_all,
      |         struct_extract(max({'t': d_ts, 's': sum_run}), 's') AS sum_all,
      |         struct_extract(max({'t': d_ts, 'v': d_v}), 'v') AS last_all
      |        FROM mem GROUP BY 1, 2, 3)
      |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_so_far, CAST(NULL AS DOUBLE) AS sum_so_far,
      |       CAST(NULL AS DOUBLE) AS last_value
      |FROM m2
      |UNION ALL
      |SELECT user_id, 'D', d_ts, s_ts, n_run, round(sum_run, 4), d_v FROM mem
      |UNION ALL
      |SELECT user_id, 'U', p_ts, s_ts, n_all, round(sum_all, 4), last_all
      |FROM tot""".stripMargin

  // --- m24: ALL ROWS PER MATCH over a SEQUENCE GROUP `(C V)+` (reference
  // flink-table StreamExecMatch row-per-event emission across GroupPattern
  // repetitions; MatchRecognizeITCase ALL-ROWS shapes): one row per bound
  // event — S, every repetition's C and V members, P — with measures
  // RUNNING as of each row. Engine: the repetition chain materializes each
  // repetition's member bindings as arrays (Pattern.materializeGroupRows)
  // and the expansion is closed-form generator expressions over the match
  // table (COUNT at member j of repetition k is k + [j >= pos], running
  // sums fold a slice of the per-repetition value array) — no join, no
  // window, no shuffle beyond the match itself. Oracle: the m13 recursive
  // chain exploded per repetition with window running aggregates.
  private val m24: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(scaleValue(ev(s, dir)),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(C.ts) AS n_c, COUNT(V.ts) AS n_v,
        |           FIRST(C.ts) AS first_c_ts, LAST(V.ts) AS last_v_ts,
        |           SUM(C.value) AS sum_c_value
        |  ALL ROWS PER MATCH
        |  PATTERN (S (C V)+ P)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .transform(unscale(_, "sum_c_value"))
  private val m24Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |cval AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts,
      |                CAST(round(min(value) * 10000) AS BIGINT) AS val
      |         FROM events WHERE event_type='click' GROUP BY 1, 2),
      |subs AS (
      |  SELECT c.user_id, c.ts AS b_ts, min(v.ts) AS e_ts
      |  FROM c JOIN v ON v.user_id = c.user_id AND v.ts > c.ts
      |              AND v.ts <= c.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, s1.e_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(sub.b_ts) AS b1
      |  FROM s JOIN subs sub ON sub.user_id = s.user_id AND sub.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |chain AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, sub.b_ts AS b_cur, sub.e_ts AS e_cur,
      |         CAST(1 AS BIGINT) AS k
      |  FROM entry e JOIN subs sub ON sub.user_id = e.user_id AND sub.b_ts = e.b1
      |  WHERE sub.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT ch.user_id, ch.s_ts, ch.w_end, nx.b_ts, nx.e_ts, ch.k + 1
      |  FROM chain ch
      |  JOIN link l ON l.user_id = ch.user_id AND l.b_ts = ch.b_cur
      |  JOIN subs nx ON nx.user_id = ch.user_id AND nx.b_ts = l.nb
      |  WHERE nx.e_ts <= ch.w_end),
      |best AS (
      |  SELECT user_id, s_ts, w_end, e_cur, k,
      |         row_number() OVER (PARTITION BY user_id, s_ts ORDER BY k DESC) rn
      |  FROM chain),
      |mt AS (
      |  SELECT b.user_id, b.s_ts, b.k AS nreps, min(p.ts) AS p_ts
      |  FROM best b JOIN p ON p.user_id = b.user_id AND p.ts > b.e_cur
      |                    AND p.ts <= b.w_end
      |  WHERE b.rn = 1
      |  GROUP BY 1, 2, 3),
      |rr AS (
      |  SELECT m.user_id, m.s_ts, m.p_ts, m.nreps, ch.k, ch.b_cur, ch.e_cur,
      |         sum(cv.val) OVER w AS rsum,
      |         lag(ch.e_cur) OVER w AS prev_e,
      |         min(ch.b_cur) OVER (PARTITION BY m.user_id, m.s_ts) AS b_first
      |  FROM mt m
      |  JOIN chain ch ON ch.user_id = m.user_id AND ch.s_ts = m.s_ts
      |               AND ch.k <= m.nreps
      |  JOIN cval cv ON cv.user_id = m.user_id AND cv.ts = ch.b_cur
      |  WINDOW w AS (PARTITION BY m.user_id, m.s_ts ORDER BY ch.k
      |               ROWS UNBOUNDED PRECEDING))
      |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_c, CAST(0 AS BIGINT) AS n_v,
      |       CAST(NULL AS TIMESTAMP) AS first_c_ts,
      |       CAST(NULL AS TIMESTAMP) AS last_v_ts,
      |       CAST(NULL AS DOUBLE) AS sum_c_value
      |FROM mt
      |UNION ALL
      |SELECT user_id, 'C', b_cur, s_ts, k, k - 1, b_first, prev_e,
      |       CAST(rsum AS DOUBLE) / CAST(10000 AS DOUBLE) FROM rr
      |UNION ALL
      |SELECT user_id, 'V', e_cur, s_ts, k, k, b_first, e_cur,
      |       CAST(rsum AS DOUBLE) / CAST(10000 AS DOUBLE) FROM rr
      |UNION ALL
      |SELECT user_id, 'P', p_ts, s_ts, nreps, nreps, b_first, e_cur,
      |       CAST(rsum AS DOUBLE) / CAST(10000 AS DOUBLE)
      |FROM rr WHERE k = nreps""".stripMargin

  // --- m25: composite ORDER BY `(ts, tiebreak)` over a '+' RUN (reference
  // StreamExecMatch ComparatorCodeGenerator secondary sort keys applied to
  // looping states): timestamps coarsen to the hour so equal-ts member sets
  // are real; FIRST/LAST member VALUES then read the candidate with the
  // least/greatest (event_id, value) at the boundary hour — exactly what
  // the tiebreak steers (membership and counts are unchanged). Engine:
  // min_by/max_by hash aggregates in the boundary-value table
  // (Pattern.tieBreak) — no sort, no new shuffle. Oracle: m09's run replay
  // with the argmin struct keyed (ts, event_id, value).
  private val m25: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(
      ev(s, dir).withColumn("ts", date_trunc("hour", col("ts"))),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS first_click_ts,
        |           COUNT(C.ts) AS n_clicks,
        |           FIRST(C.value) AS first_click_value,
        |           LAST(C.value) AS last_click_value,
        |           P.ts AS purchase_ts
        |  PATTERN (S C+ P)
        |  WITHIN INTERVAL '72' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m25Sql =
    """WITH e AS (SELECT user_id, event_id,
      |            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
      |            event_type, value FROM events),
      |s AS (SELECT user_id, event_id, ts FROM e WHERE event_type='signup'),
      |c AS (SELECT user_id, event_id, ts, value FROM e WHERE event_type='click'),
      |p AS (SELECT user_id, ts FROM e WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts, min(c.ts) AS first_c
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 72 HOURS
      |       GROUP BY 1, 2, 3),
      |m2 AS (SELECT m1.user_id, sid, s_ts, first_c, min(p.ts) AS p_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > first_c
      |                     AND p.ts <= s_ts + INTERVAL 72 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT m2.user_id, s_ts AS signup_ts, first_c AS first_click_ts,
      |       count(*) AS n_clicks,
      |       struct_extract(min({'t': c.ts, 'e': c.event_id, 'v': c.value}), 'v') AS first_click_value,
      |       struct_extract(max({'t': c.ts, 'e': c.event_id, 'v': c.value}), 'v') AS last_click_value,
      |       p_ts AS purchase_ts
      |FROM m2 JOIN c ON c.user_id = m2.user_id AND c.ts >= first_c AND c.ts < p_ts
      |GROUP BY 1, m2.sid, 2, 3, 7""".stripMargin

  // --- m26: composite ORDER BY `(ts, tiebreak)` over a SEQUENCE GROUP's
  // member value bindings (StreamExecMatch secondary sort keys under a
  // GroupPattern): hour-coarsened timestamps make equal-ts member candidate
  // sets real; each repetition's bound C/V VALUE is then the (event_id,
  // value)-argmin among that hour's candidates — the per-(key, ts) binding
  // table becomes a min_by hash aggregate (Pattern.tieBreak on the group
  // step). Oracle: m19's recursive chain with argmin-struct value tables.
  private val m26: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(
      scaleValue(ev(s, dir).withColumn("ts", date_trunc("hour", col("ts")))),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS g_first_ts,
        |           LAST(V.ts) AS g_last_ts, COUNT(C.ts) AS n_reps,
        |           SUM(V.value) AS sum_view_value,
        |           FIRST(C.value) AS first_click_value,
        |           LAST(C.value) AS last_click_value,
        |           P.ts AS purchase_ts
        |  PATTERN (S (C V)+ P)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .transform(unscale(_, "sum_view_value", "first_click_value",
        "last_click_value"))
  private val m26Sql =
    """WITH RECURSIVE
      |e AS (SELECT user_id, event_id,
      |       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
      |       event_type, value FROM events),
      |s AS (SELECT user_id, event_id, ts FROM e WHERE event_type='signup'),
      |c AS (SELECT user_id, event_id, ts, value FROM e WHERE event_type='click'),
      |v AS (SELECT user_id, event_id, ts, value FROM e WHERE event_type='view'),
      |p AS (SELECT user_id, ts FROM e WHERE event_type='purchase'),
      |cv AS (SELECT user_id, ts,
      |        struct_extract(min({'e': event_id, 'v': value}), 'v') AS cval
      |       FROM c GROUP BY 1, 2),
      |vv AS (SELECT user_id, ts,
      |        struct_extract(min({'e': event_id, 'v': value}), 'v') AS vval
      |       FROM v GROUP BY 1, 2),
      |subs AS (
      |  SELECT c.user_id, c.ts AS b_ts, min(v.ts) AS e_ts
      |  FROM c JOIN v ON v.user_id = c.user_id AND v.ts > c.ts
      |              AND v.ts <= c.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |subv AS (
      |  SELECT sb.user_id, sb.b_ts, sb.e_ts, cv.cval, vv.vval
      |  FROM subs sb
      |  JOIN cv ON cv.user_id = sb.user_id AND cv.ts = sb.b_ts
      |  JOIN vv ON vv.user_id = sb.user_id AND vv.ts = sb.e_ts),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, s1.e_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts,
      |         s.ts + INTERVAL 96 HOURS AS w_end, min(sub.b_ts) AS b1
      |  FROM s JOIN subs sub ON sub.user_id = s.user_id AND sub.b_ts > s.ts
      |  GROUP BY 1, 2, 3, 4),
      |chain AS (
      |  SELECT e.user_id, e.sid, e.s_ts, e.w_end, e.b1 AS b_first,
      |         sub.b_ts AS b_cur, sub.e_ts AS e_cur, CAST(1 AS BIGINT) AS n,
      |         CAST(round(sub.vval * 10000) AS BIGINT) AS sum_vv,
      |         sub.cval AS first_cv, sub.cval AS last_cv
      |  FROM entry e JOIN subv sub ON sub.user_id = e.user_id AND sub.b_ts = e.b1
      |  WHERE sub.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT ch.user_id, ch.sid, ch.s_ts, ch.w_end, ch.b_first, nx.b_ts,
      |         nx.e_ts, ch.n + 1,
      |         ch.sum_vv + CAST(round(nx.vval * 10000) AS BIGINT),
      |         ch.first_cv, nx.cval
      |  FROM chain ch
      |  JOIN link l ON l.user_id = ch.user_id AND l.b_ts = ch.b_cur
      |  JOIN subv nx ON nx.user_id = ch.user_id AND nx.b_ts = l.nb
      |  WHERE nx.e_ts <= ch.w_end),
      |best AS (
      |  SELECT user_id, sid, s_ts, w_end, b_first, e_cur, n, sum_vv, first_cv, last_cv,
      |         row_number() OVER (PARTITION BY user_id, sid, s_ts ORDER BY n DESC) rn
      |  FROM chain)
      |SELECT b.user_id, b.s_ts AS signup_ts, b.b_first AS g_first_ts,
      |       b.e_cur AS g_last_ts, b.n AS n_reps,
      |       CAST(b.sum_vv AS DOUBLE) / CAST(10000 AS DOUBLE) AS sum_view_value,
      |       b.first_cv AS first_click_value, b.last_cv AS last_click_value,
      |       min(p.ts) AS purchase_ts
      |FROM best b JOIN p ON p.user_id = b.user_id AND p.ts > b.e_cur AND p.ts <= b.w_end
      |WHERE b.rn = 1
      |GROUP BY 1, b.sid, 2, 3, 4, 5, 6, 7, 8""".stripMargin

  // --- m27: FOREIGN-variable PREV with offset — `PREV(C.value, 2)` inside
  // P's DEFINE (Calcite accepts arbitrary PREV targets; SQL-standard
  // physical navigation: the value 2 rows before C's bound row in the
  // partition order). Engine: the lag is precomputed once as a keyed window
  // column and bound at C like any payload, so P's condition stays an
  // equi-join residual (rewritePrev's __plag lowering) — no sequential
  // state, no new shuffle pattern. Oracle: the same lag + argmin binding
  // replay.
  private val m27: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES S.ts AS signup_ts, C.ts AS click_ts, C.value AS click_value,
        |           P.ts AS purchase_ts, P.value AS purchase_value
        |  PATTERN (S C P)
        |  WITHIN INTERVAL '72' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase' AND P.value > PREV(C.value, 2)
        |)""".stripMargin)
  private val m27Sql =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, event_type, value,
      |            lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pl2
      |           FROM events),
      |s AS (SELECT user_id, ts FROM e WHERE event_type='signup'),
      |c AS (SELECT user_id, event_id, ts, value, pl2 FROM e WHERE event_type='click'),
      |p AS (SELECT user_id, event_id, ts, value FROM e WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS c_ts
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 72 HOURS
      |       GROUP BY 1, 2),
      |m1b AS (SELECT m1.user_id, s_ts, c_ts,
      |         struct_extract(min({'e': c.event_id, 'v': c.value, 'p': c.pl2}), 'v') AS click_value,
      |         struct_extract(min({'e': c.event_id, 'v': c.value, 'p': c.pl2}), 'p') AS prev2
      |        FROM m1 JOIN c ON c.user_id = m1.user_id AND c.ts = m1.c_ts
      |        GROUP BY 1, 2, 3),
      |m2 AS (SELECT b.user_id, s_ts, c_ts, click_value, prev2, min(p.ts) AS p_ts
      |       FROM m1b b JOIN p ON p.user_id = b.user_id AND p.ts > b.c_ts
      |                        AND p.ts <= b.s_ts + INTERVAL 72 HOURS
      |                        AND p.value > b.prev2
      |       GROUP BY 1, 2, 3, 4, 5)
      |SELECT m2.user_id, s_ts AS signup_ts, c_ts AS click_ts, click_value,
      |       p_ts AS purchase_ts,
      |       struct_extract(min({'e': p.event_id, 'v': p.value}), 'v') AS purchase_value
      |FROM m2 JOIN p ON p.user_id = m2.user_id AND p.ts = m2.p_ts
      |              AND p.value > m2.prev2
      |GROUP BY 1, 2, 3, 4, 5""".stripMargin

  // --- m28: PLAIN-variable self PREV with offset — `C.value >
  // PREV(C.value, 3)` on an UNQUANTIFIED C (physical navigation: the row 3
  // back in the partition, whatever its type — not a run member). Engine:
  // pure pre-filter against the precomputed lag column, pushed into the
  // candidate scan. Oracle: identical lag + binding replay.
  private val m28: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES S.ts AS signup_ts, C.ts AS click_ts, C.value AS click_value,
        |           P.ts AS purchase_ts
        |  PATTERN (S C P)
        |  WITHIN INTERVAL '72' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         C AS event_type = 'click' AND C.value > PREV(C.value, 3),
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m28Sql =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, event_type, value,
      |            lag(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pl3
      |           FROM events),
      |s AS (SELECT user_id, ts FROM e WHERE event_type='signup'),
      |c AS (SELECT user_id, event_id, ts, value FROM e
      |      WHERE event_type='click' AND value > pl3),
      |p AS (SELECT user_id, ts FROM e WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS c_ts
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 72 HOURS
      |       GROUP BY 1, 2),
      |m1b AS (SELECT m1.user_id, s_ts, c_ts,
      |         struct_extract(min({'e': c.event_id, 'v': c.value}), 'v') AS click_value
      |        FROM m1 JOIN c ON c.user_id = m1.user_id AND c.ts = m1.c_ts
      |        GROUP BY 1, 2, 3)
      |SELECT b.user_id, s_ts AS signup_ts, c_ts AS click_ts, click_value,
      |       min(p.ts) AS purchase_ts
      |FROM m1b b JOIN p ON p.user_id = b.user_id AND p.ts > b.c_ts
      |                 AND p.ts <= b.s_ts + INTERVAL 72 HOURS
      |GROUP BY 1, 2, 3, 4""".stripMargin

  // --- m29: ALL ROWS PER MATCH over a quantified ALTERNATION run `(C|V)+`
  // (StreamExecMatch per-row emission over GroupPattern-of-oneOf looping
  // states): one row per bound event; member rows carry their CLASSIFIER
  // (first matching branch) and RUNNING per-branch counts alongside the
  // run aggregates. Engine: the m23 member join-back with the union
  // pre-filter + a classifier column — same single keyed join, branch
  // counts are conditional window sums over it. Oracle: the m21 run replay
  // exploded with window running aggregates.
  private val m29: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(scaleValue(ev(s, dir)),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(C_V.ts) AS n_members,
        |           COUNT(C.ts) AS n_c, COUNT(V.ts) AS n_v,
        |           SUM(C_V.value) AS sum_value, P.ts AS purchase_ts
        |  ALL ROWS PER MATCH
        |  PATTERN (S (C|V)+ P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .transform(unscale(_, "sum_value"))
  private val m29Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |cv AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, event_type, value,
      |              CAST(round(value * 10000) AS BIGINT) AS sval
      |       FROM events WHERE event_type IN ('click', 'view')),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(cv.ts) AS first_ts
      |       FROM s JOIN cv ON cv.user_id = s.user_id AND cv.ts > s.ts
      |                     AND cv.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, first_ts, min(p.ts) AS p_ts
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > first_ts
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |mem AS (SELECT m2.user_id, m2.s_ts, m2.p_ts,
      |         CASE WHEN cv.event_type = 'click' THEN 'C' ELSE 'V' END AS cls,
      |         cv.ts AS m_ts, count(*) OVER w AS r_n,
      |         CAST(sum(CASE WHEN cv.event_type = 'click' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS r_c,
      |         CAST(sum(CASE WHEN cv.event_type = 'view' THEN 1 ELSE 0 END) OVER w AS BIGINT) AS r_v,
      |         sum(cv.sval) OVER w AS r_sum
      |        FROM m2 JOIN cv ON cv.user_id = m2.user_id
      |                       AND cv.ts >= m2.first_ts AND cv.ts < m2.p_ts
      |        WINDOW w AS (PARTITION BY m2.user_id, m2.s_ts
      |                     ORDER BY cv.ts, cv.event_type, cv.value
      |                     ROWS UNBOUNDED PRECEDING)),
      |tot AS (SELECT user_id, s_ts, p_ts, max(r_n) AS n_all,
      |         max(r_c) AS c_all, max(r_v) AS v_all,
      |         struct_extract(max({'n': r_n, 's': r_sum}), 's') AS sum_all
      |        FROM mem GROUP BY 1, 2, 3)
      |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_members, CAST(0 AS BIGINT) AS n_c,
      |       CAST(0 AS BIGINT) AS n_v, CAST(NULL AS DOUBLE) AS sum_value,
      |       CAST(NULL AS TIMESTAMP) AS purchase_ts
      |FROM m2
      |UNION ALL
      |SELECT user_id, cls, m_ts, s_ts, r_n, r_c, r_v,
      |       CAST(r_sum AS DOUBLE) / CAST(10000 AS DOUBLE), CAST(NULL AS TIMESTAMP)
      |FROM mem
      |UNION ALL
      |SELECT user_id, 'P', p_ts, s_ts, n_all, c_all, v_all,
      |       CAST(sum_all AS DOUBLE) / CAST(10000 AS DOUBLE), p_ts
      |FROM tot""".stripMargin

  // --- m30: 3-COLUMN composite ORDER BY `(ts, tie1, tie2)` (StreamExecMatch
  // ComparatorCodeGenerator sorts ARBITRARY secondary key lists): with
  // hour-coarsened timestamps and a deliberately coarse first tiebreak
  // (event_id div 100 — collisions guaranteed within an hour), the second
  // tiebreak must resolve the remaining ties. Engine: the ties thread, in
  // order, as the leading payloads of each step's lexicographic binding
  // refinement — one tiny per-(key, ts, prefix) argmin table per tie, all
  // hash aggregates. Oracle: argmin by the (ts, tie1, tie2) struct.
  private val m30: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(
      ev(s, dir).withColumn("ts", date_trunc("hour", col("ts")))
        .withColumn("tie1", expr("event_id div 100")),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, tie1, event_id
        |  MEASURES S.ts AS signup_ts, C.ts AS click_ts,
        |           C.tie1 AS click_bucket, C.event_id AS click_id,
        |           C.value AS click_value, P.ts AS purchase_ts
        |  PATTERN (S C P)
        |  WITHIN INTERVAL '72' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
  private val m30Sql =
    """WITH e AS (SELECT user_id, event_id, event_id // 100 AS tie1,
      |            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
      |            event_type, value FROM events),
      |s AS (SELECT user_id, event_id, ts FROM e WHERE event_type='signup'),
      |c AS (SELECT user_id, event_id, tie1, ts, value FROM e WHERE event_type='click'),
      |p AS (SELECT user_id, ts FROM e WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts, min(c.ts) AS c_ts
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 72 HOURS
      |       GROUP BY 1, 2, 3),
      |m1b AS (SELECT m1.user_id, sid, s_ts, c_ts,
      |         struct_extract(min({'b': c.tie1, 'e': c.event_id, 'v': c.value}), 'b') AS click_bucket,
      |         struct_extract(min({'b': c.tie1, 'e': c.event_id, 'v': c.value}), 'e') AS click_id,
      |         struct_extract(min({'b': c.tie1, 'e': c.event_id, 'v': c.value}), 'v') AS click_value
      |        FROM m1 JOIN c ON c.user_id = m1.user_id AND c.ts = m1.c_ts
      |        GROUP BY 1, 2, 3, 4)
      |SELECT b.user_id, s_ts AS signup_ts, c_ts AS click_ts, click_bucket,
      |       click_id, click_value, min(p.ts) AS purchase_ts
      |FROM m1b b JOIN p ON p.user_id = b.user_id AND p.ts > b.c_ts
      |                 AND p.ts <= b.s_ts + INTERVAL 72 HOURS
      |GROUP BY 1, b.sid, 2, 3, 4, 5, 6""".stripMargin

  // --- m31: ALL ROWS PER MATCH over TWO '+' runs `(S C+ V+ P)` (the last
  // ALL-ROWS shape the reference emits that we rejected by name): each
  // run's member rows come from its own keyed join-back; spans never
  // overlap (a later run binds strictly after the previous run's span
  // closes), so cross-run measures are closed-form — on V rows the C
  // aggregates are FINAL, on C rows the V aggregates are empty. Oracle:
  // two-stage run replay with per-run running windows.
  private val m31: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(scaleValue(ev(s, dir)),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(C.ts) AS n_c,
        |           SUM(C.value) AS sum_c, COUNT(V.ts) AS n_v,
        |           LAST(V.value) AS last_v, P.ts AS purchase_ts
        |  ALL ROWS PER MATCH
        |  PATTERN (S C+ V+ P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .transform(unscale(_, "sum_c", "last_v"))
  private val m31Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value,
      |             CAST(round(value * 10000) AS BIGINT) AS sval
      |      FROM events WHERE event_type='click'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='view'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |m1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS first_c
      |       FROM s JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                    AND c.ts <= s.ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2),
      |m2 AS (SELECT m1.user_id, s_ts, first_c, min(v.ts) AS first_v
      |       FROM m1 JOIN v ON v.user_id = m1.user_id AND v.ts > first_c
      |                     AND v.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3),
      |m3 AS (SELECT m2.user_id, s_ts, first_c, first_v, min(p.ts) AS p_ts
      |       FROM m2 JOIN p ON p.user_id = m2.user_id AND p.ts > first_v
      |                     AND p.ts <= s_ts + INTERVAL 24 HOURS
      |       GROUP BY 1, 2, 3, 4),
      |cm AS (SELECT m3.user_id, m3.s_ts, c.ts AS m_ts, count(*) OVER w AS r_c,
      |        sum(c.sval) OVER w AS r_sum
      |       FROM m3 JOIN c ON c.user_id = m3.user_id
      |                     AND c.ts >= m3.first_c AND c.ts < m3.first_v
      |       WINDOW w AS (PARTITION BY m3.user_id, m3.s_ts ORDER BY c.ts
      |                    ROWS UNBOUNDED PRECEDING)),
      |ctot AS (SELECT user_id, s_ts, max(r_c) AS c_all,
      |          struct_extract(max({'n': r_c, 's': r_sum}), 's') AS csum_all
      |         FROM cm GROUP BY 1, 2),
      |vm AS (SELECT m3.user_id, m3.s_ts, m3.p_ts, v.ts AS m_ts, v.value AS v_val,
      |        count(*) OVER w AS r_v
      |       FROM m3 JOIN v ON v.user_id = m3.user_id
      |                     AND v.ts >= m3.first_v AND v.ts < m3.p_ts
      |       WINDOW w AS (PARTITION BY m3.user_id, m3.s_ts ORDER BY v.ts
      |                    ROWS UNBOUNDED PRECEDING)),
      |vtot AS (SELECT user_id, s_ts, max(r_v) AS v_all,
      |          struct_extract(max({'t': m_ts, 'v': v_val}), 'v') AS vlast_all
      |         FROM vm GROUP BY 1, 2)
      |SELECT m3.user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_c, CAST(NULL AS DOUBLE) AS sum_c,
      |       CAST(0 AS BIGINT) AS n_v, CAST(NULL AS DOUBLE) AS last_v,
      |       CAST(NULL AS TIMESTAMP) AS purchase_ts
      |FROM m3
      |UNION ALL
      |SELECT user_id, 'C', m_ts, s_ts, r_c,
      |       CAST(r_sum AS DOUBLE) / CAST(10000 AS DOUBLE), CAST(0 AS BIGINT),
      |       CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP)
      |FROM cm
      |UNION ALL
      |SELECT vm.user_id, 'V', vm.m_ts, vm.s_ts, ct.c_all,
      |       CAST(ct.csum_all AS DOUBLE) / CAST(10000 AS DOUBLE), vm.r_v, vm.v_val,
      |       CAST(NULL AS TIMESTAMP)
      |FROM vm JOIN ctot ct ON ct.user_id = vm.user_id AND ct.s_ts = vm.s_ts
      |UNION ALL
      |SELECT m3.user_id, 'P', m3.p_ts, m3.s_ts, ct.c_all,
      |       CAST(ct.csum_all AS DOUBLE) / CAST(10000 AS DOUBLE), vt.v_all,
      |       vt.vlast_all, m3.p_ts
      |FROM m3 JOIN ctot ct ON ct.user_id = m3.user_id AND ct.s_ts = m3.s_ts
      |        JOIN vtot vt ON vt.user_id = m3.user_id AND vt.s_ts = m3.s_ts""".stripMargin

  // --- m32: ALL ROWS PER MATCH over a MIXED group+run pattern
  // `(S (B C)+ V+ P)` (StreamExecMatch emits member rows for ANY pattern
  // shape — flink-table MatchRecognizeITCase; this was the last ALL-ROWS
  // combination rejected by name): the sequence-group repetitions emit
  // their B/C member rows from the materialized repetition arrays (no
  // join) while the V+ run's member rows come from one keyed join-back —
  // cross-shape measures are closed-form because the pattern is
  // sequential (group aggregates FINAL on run rows, run aggregates empty
  // on group rows). Oracle: the m24 recursive chain composed with the
  // m31 run replay.
  private val m32: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(scaleValue(ev(s, dir)),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(B.ts) AS n_b,
        |           SUM(C.value) AS sum_c, COUNT(V.ts) AS n_v,
        |           SUM(V.value) AS sum_v, P.ts AS purchase_ts
        |  ALL ROWS PER MATCH
        |  PATTERN (S (B C)+ V+ P)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
      .transform(unscale(_, "sum_c", "sum_v"))
  private val m32Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |er AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts,
      |              CAST(round(value * 10000) AS BIGINT) AS sval
      |       FROM events WHERE event_type='error'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |cval AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts,
      |                CAST(round(min(value) * 10000) AS BIGINT) AS val
      |         FROM events WHERE event_type='view' GROUP BY 1, 2),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, s1.e_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(sub.b_ts) AS b1
      |  FROM s JOIN subs sub ON sub.user_id = s.user_id AND sub.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |chain AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, sub.b_ts AS b_cur, sub.e_ts AS e_cur,
      |         CAST(1 AS BIGINT) AS k
      |  FROM entry e JOIN subs sub ON sub.user_id = e.user_id AND sub.b_ts = e.b1
      |  WHERE sub.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT ch.user_id, ch.s_ts, ch.w_end, nx.b_ts, nx.e_ts, ch.k + 1
      |  FROM chain ch
      |  JOIN link l ON l.user_id = ch.user_id AND l.b_ts = ch.b_cur
      |  JOIN subs nx ON nx.user_id = ch.user_id AND nx.b_ts = l.nb
      |  WHERE nx.e_ts <= ch.w_end),
      |best AS (
      |  SELECT user_id, s_ts, w_end, e_cur, k,
      |         row_number() OVER (PARTITION BY user_id, s_ts ORDER BY k DESC) rn
      |  FROM chain),
      |mt0 AS (
      |  SELECT bst.user_id, bst.s_ts, bst.w_end, bst.e_cur, bst.k AS nreps,
      |         min(e.ts) AS fe
      |  FROM best bst JOIN er e ON e.user_id = bst.user_id AND e.ts > bst.e_cur
      |                         AND e.ts <= bst.w_end
      |  WHERE bst.rn = 1
      |  GROUP BY 1, 2, 3, 4, 5),
      |mt AS (
      |  SELECT m0.user_id, m0.s_ts, m0.w_end, m0.nreps, m0.fe, min(p.ts) AS p_ts
      |  FROM mt0 m0 JOIN p ON p.user_id = m0.user_id AND p.ts > m0.fe
      |                    AND p.ts <= m0.w_end
      |  GROUP BY 1, 2, 3, 4, 5),
      |rr AS (
      |  SELECT m.user_id, m.s_ts, m.nreps, ch.k, ch.b_cur, ch.e_cur,
      |         sum(cv.val) OVER w AS rsum,
      |         CASE WHEN ch.k = 1 THEN NULL
      |              ELSE sum(cv.val) OVER w - cv.val END AS prev_rsum
      |  FROM mt m
      |  JOIN chain ch ON ch.user_id = m.user_id AND ch.s_ts = m.s_ts
      |               AND ch.k <= m.nreps
      |  JOIN cval cv ON cv.user_id = m.user_id AND cv.ts = ch.e_cur
      |  WINDOW w AS (PARTITION BY m.user_id, m.s_ts ORDER BY ch.k
      |               ROWS UNBOUNDED PRECEDING)),
      |gtot AS (SELECT user_id, s_ts,
      |          struct_extract(max({'k': k, 's': rsum}), 's') AS gsum
      |         FROM rr GROUP BY 1, 2),
      |em AS (
      |  SELECT m.user_id, m.s_ts, m.p_ts, m.nreps, e.ts AS m_ts,
      |         count(*) OVER we AS r_v, sum(e.sval) OVER we AS r_sum
      |  FROM mt m JOIN er e ON e.user_id = m.user_id AND e.ts >= m.fe
      |                     AND e.ts < m.p_ts
      |  WINDOW we AS (PARTITION BY m.user_id, m.s_ts ORDER BY e.ts
      |               ROWS UNBOUNDED PRECEDING)),
      |etot AS (SELECT user_id, s_ts, max(r_v) AS v_all,
      |          struct_extract(max({'n': r_v, 's': r_sum}), 's') AS esum_all
      |         FROM em GROUP BY 1, 2)
      |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_b, CAST(NULL AS DOUBLE) AS sum_c,
      |       CAST(0 AS BIGINT) AS n_v, CAST(NULL AS DOUBLE) AS sum_v,
      |       CAST(NULL AS TIMESTAMP) AS purchase_ts
      |FROM mt
      |UNION ALL
      |SELECT rr.user_id, 'B', rr.b_cur, rr.s_ts, rr.k,
      |       CAST(rr.prev_rsum AS DOUBLE) / CAST(10000 AS DOUBLE),
      |       CAST(0 AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP)
      |FROM rr
      |UNION ALL
      |SELECT rr.user_id, 'C', rr.e_cur, rr.s_ts, rr.k,
      |       CAST(rr.rsum AS DOUBLE) / CAST(10000 AS DOUBLE),
      |       CAST(0 AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS TIMESTAMP)
      |FROM rr
      |UNION ALL
      |SELECT em.user_id, 'V', em.m_ts, em.s_ts, em.nreps,
      |       CAST(g.gsum AS DOUBLE) / CAST(10000 AS DOUBLE), em.r_v,
      |       CAST(em.r_sum AS DOUBLE) / CAST(10000 AS DOUBLE),
      |       CAST(NULL AS TIMESTAMP)
      |FROM em JOIN gtot g ON g.user_id = em.user_id AND g.s_ts = em.s_ts
      |UNION ALL
      |SELECT mt.user_id, 'P', mt.p_ts, mt.s_ts, mt.nreps,
      |       CAST(g.gsum AS DOUBLE) / CAST(10000 AS DOUBLE), et.v_all,
      |       CAST(et.esum_all AS DOUBLE) / CAST(10000 AS DOUBLE), mt.p_ts
      |FROM mt JOIN gtot g ON g.user_id = mt.user_id AND g.s_ts = mt.s_ts
      |        JOIN etot et ON et.user_id = mt.user_id AND et.s_ts = mt.s_ts""".stripMargin

  // --- m33: NESTED group pattern `S ((B C)+ V)+` (flink-cep GroupPattern
  // composes recursively — GroupPattern.java:30 wraps an arbitrary inner
  // Pattern, NFACompiler walks it; this was the last named-error PATTERN
  // shape): one level of group-in-group, lowered as the inner sub-match
  // table (min-join chains, completion monotone in start) + ONE cogroup
  // walking the two-level chain per key — each outer repetition absorbs
  // inner (B C) sub-matches while they complete strictly before the next
  // V (the tail PUNCTUATES repetitions), then binds that V. Oracle: a
  // deterministic-successor recursive CTE whose every step is a pure join
  // against precomputed next-sub / next-V link tables (each walk row has
  // exactly one successor, so the recursion replays the engine's walk).
  private val m33: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(V.ts) AS grp_last_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin)
  private val m33Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsub AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, su.b_ts AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k, CAST(0 AS BIGINT) AS n_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b WHEN mode='newrep' THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e WHEN mode='newrep' THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode='newrep' THEN CAST(1 AS BIGINT) ELSE chain_k END,
      |         CASE WHEN mode='close' THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode='close' THEN inner_done + chain_k ELSE inner_done END,
      |         CASE WHEN mode='close' THEN vts ELSE match_end END,
      |         CASE WHEN mode='close' THEN 'closed' ELSE 'chain' END
      |  FROM (
      |    SELECT w.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN w.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= w.w_end
      |                AND (vn.v_ts IS NULL OR vn.v_ts > w.w_end
      |                     OR nx.e_ts < vn.v_ts) THEN 'extend'
      |           WHEN w.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= w.w_end THEN 'close'
      |           WHEN w.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= w.w_end THEN 'newrep'
      |      END AS mode
      |    FROM walk w
      |    LEFT JOIN link l  ON w.phase='chain' AND l.user_id = w.user_id
      |                      AND l.b_ts = w.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = w.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON w.phase='chain' AND vn.user_id = w.user_id
      |                       AND vn.b_ts = w.cur_b
      |    LEFT JOIN nsub ns ON w.phase='closed' AND ns.user_id = w.user_id
      |                      AND ns.v_ts = w.match_end
      |    LEFT JOIN subs nr ON nr.user_id = w.user_id AND nr.b_ts = ns.nb
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_reps, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m34: ALL ROWS PER MATCH over the NESTED group pattern (m33's
  // per-event twin; StreamExecMatch emits member rows for ANY pattern
  // shape): the chain walk materializes every bound event with its
  // classifier and running repetition counts (`materializeNestedRows`),
  // so the expansion is ONE generator over the match row — no join, no
  // window. Oracle: the m33 deterministic-successor walk re-read as a row
  // source — every 'chain' row IS one inner sub-match (B + C rows), every
  // 'closed' row IS one tail binding (V row), filtered to repetitions
  // that completed (rep index <= the final repetition count).
  private val m34: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(C.ts) AS n_inner
        |  ALL ROWS PER MATCH
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin)
  private val m34Sql = m33Sql.replace(
    """best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_reps, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin,
    """best AS (
      |  SELECT user_id, s_ts, n_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT b.user_id, 'S' AS cls, b.s_ts AS ts, b.s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_reps, CAST(0 AS BIGINT) AS n_inner
      |FROM best b WHERE b.rn = 1
      |UNION ALL
      |SELECT w.user_id, 'B', w.cur_b, w.s_ts, w.n_done,
      |       w.inner_done + w.chain_k - 1
      |FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |UNION ALL
      |SELECT w.user_id, 'C', w.cur_e, w.s_ts, w.n_done,
      |       w.inner_done + w.chain_k
      |FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |UNION ALL
      |SELECT w.user_id, 'V', w.match_end, w.s_ts, w.n_done, w.inner_done
      |FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |WHERE b.rn = 1 AND w.phase = 'closed'""".stripMargin)

  // --- m36: member VALUE measures over the NESTED group pattern (m33's
  // shape, the last named-rejection measure class): SUM/AVG over an inner
  // member, MIN over another, LAST over the tail — bindGroup running
  // aggregates carried through the two-level chain walk, folded per
  // COMPLETED repetition (a failed attempt's values are discarded with
  // it). Oracle: the m33 walk CTE re-read as a row source (the m34
  // convention), values joined per (user_id, ts, event_type) with the
  // engine's equal-ts min tie-break, aggregated per best match.
  private val m36: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(V.ts) AS n_reps,
        |           SUM(B.value) AS sum_b, AVG(B.value) AS avg_b,
        |           MIN(C.value) AS min_c, LAST(V.value) AS last_v
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin)
  private val m36Sql = m33Sql.replace(
    """best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_reps, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin,
    """best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed'),
      |vals AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |                min(value) AS v
      |         FROM events GROUP BY 1, 2, 3),
      |mrows AS (
      |  SELECT w.user_id, b.s_ts, 'B' AS cls, w.cur_b AS ts, w.n_done AS rep
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |  WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |  UNION ALL
      |  SELECT w.user_id, b.s_ts, 'C', w.cur_e, w.n_done
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |  WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |  UNION ALL
      |  SELECT w.user_id, b.s_ts, 'V', w.match_end, w.n_done
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |  WHERE b.rn = 1 AND w.phase = 'closed'),
      |mv AS (
      |  SELECT r.user_id, r.s_ts, r.cls, r.ts, r.rep, v.v
      |  FROM mrows r JOIN vals v ON v.user_id = r.user_id AND v.ts = r.ts
      |   AND v.event_type = CASE r.cls WHEN 'B' THEN 'click'
      |                                 WHEN 'C' THEN 'view' ELSE 'error' END),
      |lastv AS (
      |  SELECT user_id, s_ts, v FROM (
      |    SELECT m.user_id, m.s_ts, m.v,
      |           row_number() OVER (PARTITION BY m.user_id, m.s_ts
      |                              ORDER BY m.rep DESC) AS rn
      |    FROM mv m WHERE m.cls = 'V') WHERE rn = 1)
      |SELECT b.user_id, b.s_ts AS signup_ts, b.n_done AS n_reps,
      |  sum(CASE WHEN m.cls = 'B' THEN m.v END) AS sum_b,
      |  sum(CASE WHEN m.cls = 'B' THEN m.v END)
      |    / count(CASE WHEN m.cls = 'B' THEN 1 END) AS avg_b,
      |  min(CASE WHEN m.cls = 'C' THEN m.v END) AS min_c,
      |  min(l.v) AS last_v
      |FROM best b
      |JOIN mv m ON m.user_id = b.user_id AND m.s_ts = b.s_ts
      |JOIN lastv l ON l.user_id = b.user_id AND l.s_ts = b.s_ts
      |WHERE b.rn = 1
      |GROUP BY 1, 2, 3""".stripMargin)

  // --- m38: ALL ROWS PER MATCH + nested member VALUE measures (the last
  // nested-measure combination, formerly a named rejection): each
  // materialized row carries per-(member, col) vsum/vcnt running
  // snapshots AS OF the row — RUNNING SUM/COUNT/AVG semantics, a failed
  // repetition's values discarded with its rows. Oracle: the m33 walk
  // re-read as a row source (the m34 convention), C values joined per
  // (user_id, ts), running aggregates as SQL window functions over the
  // match's rows (bound events are STRICTLY increasing in time, so ORDER
  // BY ts is a total order within a match).
  private val m38: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, SUM(C.value) AS run_sum_c,
        |           COUNT(C.value) AS n_c, COUNT(V.ts) AS n_reps
        |  ALL ROWS PER MATCH
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin)
  private val m38Sql = m33Sql.replace(
    """best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_reps, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin,
    """best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed'),
      |rws AS (
      |  SELECT b.user_id, b.s_ts, 'S' AS cls, b.s_ts AS ts
      |  FROM best b WHERE b.rn = 1
      |  UNION ALL
      |  SELECT w.user_id, b.s_ts, 'B', w.cur_b
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |  WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |  UNION ALL
      |  SELECT w.user_id, b.s_ts, 'C', w.cur_e
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |  WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |  UNION ALL
      |  SELECT w.user_id, b.s_ts, 'V', w.match_end
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.s_ts = w.s_ts
      |  WHERE b.rn = 1 AND w.phase = 'closed'),
      |cvals AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, min(value) AS v
      |          FROM events WHERE event_type = 'view' GROUP BY 1, 2),
      |enr AS (
      |  SELECT r.user_id, r.s_ts, r.cls, r.ts,
      |         CASE WHEN r.cls = 'C' THEN v.v END AS cv
      |  FROM rws r LEFT JOIN cvals v ON v.user_id = r.user_id
      |   AND v.ts = r.ts AND r.cls = 'C')
      |SELECT user_id, cls, ts, s_ts AS signup_ts,
      |       sum(cv) OVER w AS run_sum_c,
      |       count(cv) OVER w AS n_c,
      |       count(CASE WHEN cls = 'V' THEN 1 END) OVER w AS n_reps
      |FROM enr
      |WINDOW w AS (PARTITION BY user_id, s_ts ORDER BY ts
      |             ROWS UNBOUNDED PRECEDING)""".stripMargin)

  // --- m37: INNER '*' in the nested group — `S ((B C)* V)+` (m33's shape
  // with zero-or-more sub-chains per repetition, the former named
  // rejection): a repetition binds tails ALONE when the earliest
  // first-tail candidate does not come strictly after the earliest
  // completable sub (ties favor the tail — the same earliest-completion
  // rule that punctuates the inner chain). Oracle: the m33
  // deterministic-successor walk extended with a 'tail' mode (tail-only
  // repetition from the closed state) and a tail-first entry — every walk
  // row still has exactly ONE successor.
  private val m37: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B_C_V.ts) AS first_g,
        |           LAST(V.ts) AS last_v, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((B C)* V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin)
  private val m37Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsubx AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |vvx AS (
      |  SELECT v1.user_id, v1.ts AS v_ts, min(v2.ts) AS nv
      |  FROM v v1 LEFT JOIN v v2 ON v2.user_id = v1.user_id AND v2.ts > v1.ts
      |  GROUP BY 1, 2),
      |e0 AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s LEFT JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |v0 AS (
      |  SELECT s.user_id, s.ts AS s_ts, min(v.ts) AS v1
      |  FROM s LEFT JOIN v ON v.user_id = s.user_id AND v.ts > s.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT e0.user_id, e0.s_ts, e0.w_end, e0.b1, su.e_ts AS b1_e, v0.v1
      |  FROM e0 JOIN v0 ON v0.user_id = e0.user_id AND v0.s_ts = e0.s_ts
      |  LEFT JOIN subs su ON su.user_id = e0.user_id AND su.b_ts = e0.b1),
      |walk AS (
      |  SELECT user_id, s_ts, w_end, v1 AS first_ts,
      |         CAST(NULL AS TIMESTAMP) AS cur_b, CAST(NULL AS TIMESTAMP) AS cur_e,
      |         CAST(0 AS BIGINT) AS chain_k, CAST(1 AS BIGINT) AS n_done,
      |         CAST(0 AS BIGINT) AS inner_done, v1 AS match_end, 'closed' AS phase
      |  FROM entry
      |  WHERE v1 IS NOT NULL AND v1 <= w_end
      |    AND (b1 IS NULL OR b1_e IS NULL OR b1_e > w_end OR b1_e >= v1)
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, b1, b1, b1_e,
      |         CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |         CAST(NULL AS TIMESTAMP), 'chain'
      |  FROM entry
      |  WHERE b1 IS NOT NULL AND b1_e IS NOT NULL AND b1_e <= w_end
      |    AND (v1 IS NULL OR v1 > w_end OR b1_e < v1)
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_ts,
      |         CASE WHEN mode = 'extend' THEN nx_b WHEN mode = 'newrep' THEN nr_b END,
      |         CASE WHEN mode = 'extend' THEN nx_e WHEN mode = 'newrep' THEN nr_e END,
      |         CASE WHEN mode = 'extend' THEN chain_k + 1
      |              WHEN mode = 'newrep' THEN CAST(1 AS BIGINT) ELSE chain_k END,
      |         CASE WHEN mode IN ('close', 'tail') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode = 'close' THEN inner_done + chain_k ELSE inner_done END,
      |         CASE WHEN mode = 'close' THEN vts WHEN mode = 'tail' THEN nvts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('close', 'tail') THEN 'closed' ELSE 'chain' END
      |  FROM (
      |    SELECT w.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e, vvx.nv AS nvts,
      |      CASE
      |        WHEN w.phase = 'chain' AND nx.b_ts IS NOT NULL
      |             AND nx.e_ts <= w.w_end
      |             AND (vn.v_ts IS NULL OR vn.v_ts > w.w_end
      |                  OR nx.e_ts < vn.v_ts) THEN 'extend'
      |        WHEN w.phase = 'chain' AND vn.v_ts IS NOT NULL
      |             AND vn.v_ts <= w.w_end THEN 'close'
      |        WHEN w.phase = 'closed' AND vvx.nv IS NOT NULL
      |             AND vvx.nv <= w.w_end
      |             AND (nr.b_ts IS NULL OR nr.e_ts IS NULL
      |                  OR nr.e_ts > w.w_end OR nr.e_ts >= vvx.nv) THEN 'tail'
      |        WHEN w.phase = 'closed' AND nr.b_ts IS NOT NULL
      |             AND nr.e_ts IS NOT NULL AND nr.e_ts <= w.w_end THEN 'newrep'
      |      END AS mode
      |    FROM walk w
      |    LEFT JOIN link l  ON w.phase = 'chain' AND l.user_id = w.user_id
      |                      AND l.b_ts = w.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = w.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON w.phase = 'chain' AND vn.user_id = w.user_id
      |                       AND vn.b_ts = w.cur_b
      |    LEFT JOIN nsubx ns ON w.phase = 'closed' AND ns.user_id = w.user_id
      |                      AND ns.v_ts = w.match_end
      |    LEFT JOIN subs nr ON nr.user_id = w.user_id AND nr.b_ts = ns.nb
      |    LEFT JOIN vvx ON w.phase = 'closed' AND vvx.user_id = w.user_id
      |                  AND vvx.v_ts = w.match_end
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, first_ts, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_ts AS first_g,
      |       match_end AS last_v, n_done AS n_reps, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m35: RELUCTANT quantifiers — the spelling the reference REQUIRES on
  // a quantified final pattern element (StreamExecMatch.scala:203-207
  // rejects greedy-final patterns, so every published Flink 1.10 pattern
  // ending in a quantifier ends in `+?`-family). Mid-pattern `B{2,}?` and
  // final `C+?` both appear; under earliest-match relaxed contiguity both
  // collapse to their minima at parse time (MatchRecognize.normalizeQuant:
  // `{2,}?` -> `{2}`, `+?` -> `{1}`), making this query bit-identical to
  // m01's `(A B{2} C)` by construction — the oracle IS m01's oracle.
  private val m35: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES A.ts AS view_ts, FIRST(B.ts) AS first_click_ts,
        |           LAST(B.ts) AS last_click_ts, C.ts AS purchase_ts
        |  PATTERN (A B{2,}? C+?)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
  private val m35Sql = m01Sql

  // --- w26: CEP TIMED-OUT partial matches (flink-cep PatternStream.select
  // with an OutputTag + PatternTimeoutFunction — the timeout SIDE OUTPUT:
  // a funnel analysis needs the users who STALLED and where, not just the
  // completions): signup → click → error → purchase within 96h; output =
  // the timeout tag — each start that never completed, with its bound
  // greedy prefix (steps after the first unbound one are null — the stuck
  // NFA's state) and the window-expiry timestamp. ONE compiled plan
  // (left-outer relaxed bindings + a split projection), no second event
  // pass. Oracle: the same left-join min-binding chain — a null anchor
  // binds nothing downstream, so prefix truncation is the natural SQL
  // semantics.
  private val w26: Q = (s, dir) => {
    import org.apache.spark.sql.functions.col
    val (_, timeouts) = graft.cep.Pattern
      .begin("s", col("event_type") === "signup")
      .followedBy("b", col("event_type") === "click")
      .followedBy("v", col("event_type") === "error")
      .followedBy("p", col("event_type") === "purchase")
      .within(96L * 3600 * 1000)
      .detectWithTimeouts(ev(s, dir), col("user_id"), col("ts"))
    timeouts.select(col("key").as("user_id"), col("s_ts").as("signup_ts"),
      col("b_ts").as("click_ts"), col("v_ts").as("error_ts"),
      col("timeout_ts"))
  }
  private val w26Sql =
    """WITH s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |e AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |b1 AS (SELECT s.user_id, s.ts AS s_ts, min(c.ts) AS c_ts
      |       FROM s LEFT JOIN c ON c.user_id = s.user_id AND c.ts > s.ts
      |                  AND c.ts <= s.ts + INTERVAL 96 HOURS
      |       GROUP BY 1, 2),
      |b2 AS (SELECT b1.user_id, b1.s_ts, b1.c_ts, min(e.ts) AS e_ts
      |       FROM b1 LEFT JOIN e ON e.user_id = b1.user_id AND e.ts > b1.c_ts
      |                  AND e.ts <= b1.s_ts + INTERVAL 96 HOURS
      |       GROUP BY 1, 2, 3),
      |b3 AS (SELECT b2.user_id, b2.s_ts, b2.c_ts, b2.e_ts, min(p.ts) AS p_ts
      |       FROM b2 LEFT JOIN p ON p.user_id = b2.user_id AND p.ts > b2.e_ts
      |                  AND p.ts <= b2.s_ts + INTERVAL 96 HOURS
      |       GROUP BY 1, 2, 3, 4)
      |SELECT user_id, s_ts AS signup_ts, c_ts AS click_ts, e_ts AS error_ts,
      |       s_ts + INTERVAL 96 HOURS AS timeout_ts
      |FROM b3 WHERE p_ts IS NULL""".stripMargin

  // --- w27: ALL-MATCHES CEP — followedByAny chains (flink-cep
  // Pattern.java:322: every in-window candidate forks a branch; the
  // engine's r14 opt-in all-matches mode). Every strictly-increasing
  // (signup, click, purchase) chain within 24 hours of the signup — the
  // output IS the set of chains, which the oracle derives as the plain
  // 3-way inequality join (the all-matches semantics ARE SQL joins;
  // that is the point of the declarative compile path).
  private val w27: Q = (s, dir) => {
    graft.cep.Pattern.begin("s", col("event_type") === "signup")
      .followedByAny("c", col("event_type") === "click")
      .followedByAny("p", col("event_type") === "purchase")
      .within(24L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
      .select(col("key").as("user_id"), col("s_ts"), col("c_ts"), col("p_ts"))
  }
  private val w27Sql =
    """SELECT s.user_id, CAST(s.ts AS TIMESTAMP) AS s_ts,
      |       CAST(c.ts AS TIMESTAMP) AS c_ts, CAST(p.ts AS TIMESTAMP) AS p_ts
      |FROM events s
      |JOIN events c ON c.user_id = s.user_id AND c.ts > s.ts
      |             AND c.ts <= s.ts + INTERVAL 24 HOURS
      |JOIN events p ON p.user_id = s.user_id AND p.ts > c.ts
      |             AND p.ts <= s.ts + INTERVAL 24 HOURS
      |WHERE s.event_type = 'signup' AND c.event_type = 'click'
      |  AND p.event_type = 'purchase'""".stripMargin

  // --- w28: ALL-COMBINATIONS CEP runs (flink-cep oneOrMore().
  // allowCombinations(), Pattern.java:441: every non-empty ordered subset
  // of the in-window run members is its own match). The oracle replays the
  // SAME bitmask-subset expansion in DuckDB (generate_series over
  // 2^m − 1 + list_filter by bit — DuckDB's lambda index is 1-based where
  // Spark's is 0-based; both walk the sorted member list, so subset k is
  // identical). 12-hour window keeps m ≤ 3 on this corpus — the subset
  // blow-up is the SEMANTICS, bounded here by data, in production by the
  // engine's maxCombinationMembers cap.
  private val w28: Q = (s, dir) => {
    graft.cep.Pattern.begin("s", col("event_type") === "signup")
      .followedBy("p", col("event_type") === "purchase").oneOrMore()
      .allowCombinations()
      .within(12L * 3600 * 1000)
      .detect(ev(s, dir), col("user_id"), col("ts"))
      .select(col("key").as("user_id"), col("s_ts"),
        col("p_n"), col("p_first_ts"), col("p_last_ts"))
  }
  private val w28Sql =
    """WITH anchors AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS s_ts,
      |                        row_number() OVER (
      |                          PARTITION BY user_id, CAST(ts AS TIMESTAMP)) AS a_n
      |                 FROM events WHERE event_type = 'signup'),
      |mem AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
      |        FROM events WHERE event_type = 'purchase'),
      |l AS (SELECT a.user_id, a.s_ts, list(m.ts ORDER BY m.ts) AS ms
      |      FROM anchors a JOIN mem m ON m.user_id = a.user_id
      |        AND m.ts > a.s_ts AND m.ts <= a.s_ts + INTERVAL 12 HOURS
      |      -- a_n: the engine forks one subset family per anchor EVENT, so
      |      -- duplicate (user, ts) signup rows must stay separate groups
      |      -- (collapsing them would also double every member in the list)
      |      GROUP BY 1, 2, a.a_n),
      |e AS (SELECT user_id, s_ts, ms,
      |             unnest(generate_series(1, (1::BIGINT << len(ms)) - 1)) AS mask
      |      FROM l),
      |sel AS (SELECT user_id, s_ts,
      |               list_filter(ms, (x, i) ->
      |                 ((mask // (1::BIGINT << (i - 1))) % 2) = 1) AS sub
      |        FROM e)
      |SELECT user_id, s_ts, len(sub) AS p_n,
      |       sub[1] AS p_first_ts, sub[-1] AS p_last_ts
      |FROM sel""".stripMargin

  // --- w25: CASCADING window re-aggregation (the Flink "cascading window
  // aggregation" pattern — flink-docs window-agg section; coarse windows
  // re-aggregate fine PARTIALS instead of rescanning facts): hourly tumble
  // partials roll up to daily totals. At 100 TB this is the difference
  // between re-reading the fact stream per granularity and one extra
  // metadata-sized aggregation: the daily agg's input is the hourly
  // RESULT (3-4 orders of magnitude smaller). Hours nest exactly in days
  // (UTC), so the cascade is lossless; the oracle computes the daily
  // totals DIRECTLY from facts — equality proves the cascade.
  private val w25: Q = (s, dir) => {
    // accumulate exactly in DECIMAL through both cascade stages (values
    // are 2dp-exact, so the cast is lossless and the sums order-free),
    // emit DOUBLE — the driver's hash canonicalization expects floats.
    val hourly = graft.operators.EventWindows.tumbleAgg(ev(s, dir), col("ts"),
      "1 hour", Seq(col("event_type")),
      Seq(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("sv")))
    hourly
      .groupBy(date_trunc("day", col("window_start")).as("day_start"),
        col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("sv")).cast("double").as("sum_value"))
  }
  private val w25Sql =
    """SELECT CAST(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day_start,
      |       event_type, count(*) AS n,
      |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // --- m39: DEPTH-2 nested group pattern `S (((B C)+ V)+ W)+` (flink-cep
  // GroupPattern composed twice — GroupPattern.java:30 wraps an arbitrary
  // inner Pattern, so group-in-group-in-group is one more recursive
  // composition; this was the r15 depth named rejection): the one-level
  // chain rule RECURSES — each outer repetition is a greedy chain of
  // level-1 repetitions (inner (B C) chain punctuated by the earliest V,
  // then V bound) punctuated by the earliest W, then W bound. Lowered as
  // the inner sub-match table + ONE cogroup walking the three-level chain
  // per key (Pattern.followedByNested2Group). Oracle: the m33
  // deterministic-successor recursive CTE one level deeper — the walk
  // SPECULATIVELY descends into the next level-1 repetition carrying a
  // CHECKPOINT of the committed outer-attempt state (att_mid/att_inner/
  // att_gend), and the absorb-vs-close decision replays the engine's
  // punctuation rule (absorb iff the speculated repetition's end lands
  // strictly before the earliest W after the checkpoint) when the
  // speculation closes; a failed speculation closes the outer repetition
  // from the checkpoint. Every step is a pure join against precomputed
  // next-sub / next-V / next-W link tables, so each walk row has exactly
  // one successor and the recursion replays the engine's walk.
  private val m39: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(W.ts) AS grp_last_ts, COUNT(W.ts) AS n_outer,
        |           COUNT(V.ts) AS n_mid, COUNT(B.ts) AS n_inner
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
  private val m39Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wc.w_ts AS wcand, w2.w_ts AS w2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, mid_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_outer, mid_done AS n_mid,
      |       inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m40: ITERATIVE condition on a nested-group TAIL member (flink-cep
  // IterativeCondition.java:65 reaching inside a GroupPattern — the r15
  // named rejection at the nested-member boundary): `V AS V.value >
  // 2 * S.value` inside `S ((B C)+ V)+` — the tail's acceptance is
  // relative to the match's OWN anchor binding, so both the tail BINDING
  // and the chain PUNCTUATION consider only candidates above the
  // per-anchor threshold (Pattern.bindTailResidual: per-(key, ts) value
  // extremes + a satisfying scan in the walk; inner members stay named
  // rejections — their shared sub-match table would need to be
  // per-anchor). Oracle: the m33 deterministic-successor walk with the
  // V-link tables parametrized BY ANCHOR (joined on (user_id, s_ts) too,
  // v filtered by the threshold) — the punctuation rule then replays
  // over satisfying candidates only, exactly as the engine scans.
  private val m40: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(V.ts) AS grp_last_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view',
        |         V AS event_type = 'error' AND V.value > 2 * S.value
        |)""".stripMargin)
  private val m40Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='error'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(s.value) AS s_val, min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |vnext AS (
      |  SELECT e.user_id, e.s_ts, su.b_ts, min(v.ts) AS v_ts
      |  FROM entry e
      |  JOIN subs su ON su.user_id = e.user_id
      |  LEFT JOIN v ON v.user_id = e.user_id AND v.ts > su.e_ts
      |              AND v.value > 2 * e.s_val
      |  GROUP BY 1, 2, 3),
      |nsub AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, su.b_ts AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k, CAST(0 AS BIGINT) AS n_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b WHEN mode='newrep' THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e WHEN mode='newrep' THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode='newrep' THEN CAST(1 AS BIGINT) ELSE chain_k END,
      |         CASE WHEN mode='close' THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode='close' THEN inner_done + chain_k ELSE inner_done END,
      |         CASE WHEN mode='close' THEN vts ELSE match_end END,
      |         CASE WHEN mode='close' THEN 'closed' ELSE 'chain' END
      |  FROM (
      |    SELECT w.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN w.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= w.w_end
      |                AND (vn.v_ts IS NULL OR vn.v_ts > w.w_end
      |                     OR nx.e_ts < vn.v_ts) THEN 'extend'
      |           WHEN w.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= w.w_end THEN 'close'
      |           WHEN w.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= w.w_end THEN 'newrep'
      |      END AS mode
      |    FROM walk w
      |    LEFT JOIN link l  ON w.phase='chain' AND l.user_id = w.user_id
      |                      AND l.b_ts = w.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = w.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON w.phase='chain' AND vn.user_id = w.user_id
      |                       AND vn.s_ts = w.s_ts AND vn.b_ts = w.cur_b
      |    LEFT JOIN nsub ns ON w.phase='closed' AND ns.user_id = w.user_id
      |                      AND ns.v_ts = w.match_end
      |    LEFT JOIN subs nr ON nr.user_id = w.user_id AND nr.b_ts = ns.nb
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_reps, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m41: member VALUE measures over the DEPTH-2 nested group (m39's
  // shape + the m36 recipe recursed): SUM over an inner member, AVG over
  // the other, MAX over the mid tail, LAST over the outer tail — bindGroup
  // running aggregates folded through TWO pending levels (a level-1
  // repetition's values commit into the outer attempt only when absorbed,
  // the attempt's only when the outer repetition completes — failed
  // speculations discard their values at both levels). Oracle: the m39
  // speculation-checkpoint CTE with value accumulators riding the same
  // transitions as the counts (r1_* on chain rows, att_* at absorb,
  // dn_* at the close modes; the rejected speculation's r1_* die with it).
  private val m41: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(W.ts) AS n_outer,
        |           SUM(B.value) AS sum_b, AVG(C.value) AS avg_c,
        |           MAX(V.value) AS max_v, LAST(W.value) AS last_w
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
  private val m41Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='purchase'),
      |bval AS (SELECT user_id, ts, min(value) AS val FROM b GROUP BY 1, 2),
      |cval AS (SELECT user_id, ts, min(value) AS val FROM c GROUP BY 1, 2),
      |vval AS (SELECT user_id, ts, min(value) AS val FROM v GROUP BY 1, 2),
      |wval AS (SELECT user_id, ts, min(value) AS val FROM w GROUP BY 1, 2),
      |subs0 AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |subs AS (
      |  SELECT su.user_id, su.b_ts, su.e_ts, bv.val AS bv, cv.val AS cv
      |  FROM subs0 su
      |  JOIN bval bv ON bv.user_id = su.user_id AND bv.ts = su.b_ts
      |  JOIN cval cv ON cv.user_id = su.user_id AND cv.ts = su.e_ts),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext0 AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT vn.user_id, vn.b_ts, vn.v_ts, vv.val AS vv
      |  FROM vnext0 vn LEFT JOIN vval vv ON vv.user_id = vn.user_id
      |                                   AND vv.ts = vn.v_ts),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv0 AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT wn.user_id, wn.v_ts, wn.w_ts, wv.val AS wv
      |  FROM wnextv0 wn LEFT JOIN wval wv ON wv.user_id = wn.user_id
      |                                    AND wv.ts = wn.w_ts),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase,
      |         su.bv AS r1_bs, su.cv AS r1_cs,
      |         CAST(NULL AS DOUBLE) AS r1_v,
      |         CAST(0 AS DOUBLE) AS att_bs, CAST(0 AS DOUBLE) AS att_cs,
      |         CAST(NULL AS DOUBLE) AS att_vm,
      |         CAST(0 AS DOUBLE) AS dn_bs, CAST(0 AS DOUBLE) AS dn_cs,
      |         CAST(NULL AS DOUBLE) AS dn_vm, CAST(NULL AS DOUBLE) AS dn_wl
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END,
      |         CASE WHEN mode='extend' THEN r1_bs + nx_bv
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_bv
      |              ELSE r1_bs END,
      |         CASE WHEN mode='extend' THEN r1_cs + nx_cv
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_cv
      |              ELSE r1_cs END,
      |         CASE WHEN mode='closer1' THEN vnv
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(NULL AS DOUBLE)
      |              ELSE r1_v END,
      |         CASE WHEN mode='absorb_spec' THEN att_bs + r1_bs
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS DOUBLE)
      |              ELSE att_bs END,
      |         CASE WHEN mode='absorb_spec' THEN att_cs + r1_cs
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS DOUBLE)
      |              ELSE att_cs END,
      |         CASE WHEN mode='absorb_spec' THEN greatest(att_vm, r1_v)
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS DOUBLE)
      |              ELSE att_vm END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN dn_bs + att_bs
      |              WHEN mode='absorb_close' THEN dn_bs + att_bs + r1_bs
      |              ELSE dn_bs END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN dn_cs + att_cs
      |              WHEN mode='absorb_close' THEN dn_cs + att_cs + r1_cs
      |              ELSE dn_cs END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN greatest(dn_vm, att_vm)
      |              WHEN mode='absorb_close' THEN greatest(dn_vm, att_vm, r1_v)
      |              ELSE dn_vm END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcandv
      |              WHEN mode='absorb_close' THEN w2v
      |              ELSE dn_wl END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e,
      |           nx.bv AS nx_bv, nx.cv AS nx_cv,
      |           vn.v_ts AS vts, vn.vv AS vnv,
      |           wc.w_ts AS wcand, wc.wv AS wcandv,
      |           w2.w_ts AS w2ts, w2.wv AS w2v,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |           nr.bv AS nr_bv, nr.cv AS nr_cv,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, n_done, inner_done, dn_bs, dn_cs, dn_vm, dn_wl,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, n_done AS n_outer,
      |       dn_bs AS sum_b, dn_cs / inner_done AS avg_c,
      |       dn_vm AS max_v, dn_wl AS last_w
      |FROM best WHERE rn = 1""".stripMargin

  // --- m42: ALL ROWS PER MATCH over the DEPTH-2 nested group (m39's
  // per-event twin — StreamExecMatch emits member rows for ANY pattern
  // shape): the three-level walk materializes every COMMITTED bound event
  // with running (reps, mids, subs) counts; rows of rejected level-1
  // speculations and uncommitted outer attempts are discarded with them.
  // Oracle: the m39 speculation-checkpoint CTE builds the SAME committed
  // row list in-state (DuckDB struct-list accumulation) — local rows per
  // level-1 repetition resolve to global counts at ABSORB time
  // (list_transform with the attempt offsets), attempt rows roll into the
  // committed list only at the close modes, exactly the engine's two-level
  // buffer flush — then the best row's list UNNESTs.
  private val m42: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(W.ts) AS n_reps,
        |           COUNT(V.ts) AS n_mids, COUNT(C.ts) AS n_subs
        |  ALL ROWS PER MATCH
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
  private val m42Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase,
      |         [{'ts': su.b_ts, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': CAST(0 AS BIGINT)},
      |          {'ts': su.e_ts, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': CAST(1 AS BIGINT)}] AS r1_rows,
      |         CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, reps BIGINT, mids BIGINT, subs BIGINT)[]) AS att_rows,
      |         CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, reps BIGINT, mids BIGINT, subs BIGINT)[]) AS dn_rows
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END,
      |         CASE WHEN mode='extend' THEN r1_rows ||
      |                [{'ts': nx_b, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': chain_k},
      |                 {'ts': nx_e, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': chain_k + 1}]
      |              WHEN mode='closer1' THEN r1_rows ||
      |                [{'ts': vts, 'cls': 'V', 'md': CAST(1 AS BIGINT), 'sl': chain_k}]
      |              WHEN mode IN ('absorb_spec','newatt') THEN
      |                [{'ts': nr_b, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': CAST(0 AS BIGINT)},
      |                 {'ts': nr_e, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': CAST(1 AS BIGINT)}]
      |              ELSE r1_rows END,
      |         CASE WHEN mode='absorb_spec' THEN att_rows ||
      |                list_transform(r1_rows, x -> {'ts': x.ts, 'cls': x.cls,
      |                  'reps': n_done, 'mids': mid_done + att_mid + x.md,
      |                  'subs': inner_done + att_inner + x.sl})
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt')
      |                THEN CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, reps BIGINT, mids BIGINT, subs BIGINT)[])
      |              ELSE att_rows END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN dn_rows || att_rows ||
      |                [{'ts': wcand, 'cls': 'W', 'reps': n_done + 1,
      |                  'mids': mid_done + att_mid, 'subs': inner_done + att_inner}]
      |              WHEN mode='absorb_close' THEN dn_rows || att_rows ||
      |                list_transform(r1_rows, x -> {'ts': x.ts, 'cls': x.cls,
      |                  'reps': n_done, 'mids': mid_done + att_mid + x.md,
      |                  'subs': inner_done + att_inner + x.sl}) ||
      |                [{'ts': w2ts, 'cls': 'W', 'reps': n_done + 1,
      |                  'mids': mid_done + att_mid + 1, 'subs': inner_done + att_inner + chain_k}]
      |              ELSE dn_rows END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wc.w_ts AS wcand, w2.w_ts AS w2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, n_done, dn_rows,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_reps, CAST(0 AS BIGINT) AS n_mids,
      |       CAST(0 AS BIGINT) AS n_subs
      |FROM best WHERE rn = 1
      |UNION ALL
      |SELECT b.user_id, u.r.cls, u.r.ts, b.s_ts, u.r.reps, u.r.mids, u.r.subs
      |FROM best b, UNNEST(b.dn_rows) AS u(r)
      |WHERE b.rn = 1""".stripMargin

  // --- m43: DEPTH-2 nested group with an inner '*' — `S (((B C)* V)+ W)+`
  // (r16 late add; the m37 inner-'*' recipe RECURSED one level down): a
  // level-1 repetition may be MID-ONLY — mid-first when the earliest
  // first-mid candidate does not come strictly after the earliest
  // completable sub (ties favor the mid). Oracle: the m39
  // speculation-checkpoint CTE with MID-FIRST modes — the entry and every
  // speculation start (absorb, new attempt) choose chain vs mid-only via
  // the same earliest-completion comparison over three extra next-V link
  // tables; a mid-only repetition completes immediately, entering the
  // walk at the 'mid' phase with chain_k = 0.
  private val m43: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, LAST(W.ts) AS grp_last_ts,
        |           COUNT(W.ts) AS n_outer, COUNT(V.ts) AS n_mid,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S (((B C)* V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
  private val m43Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |vafts AS (
      |  SELECT s.user_id, s.ts AS s_ts, min(v.ts) AS nv
      |  FROM s LEFT JOIN v ON v.user_id = s.user_id AND v.ts > s.ts
      |  GROUP BY 1, 2),
      |vaftv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(v2.ts) AS nv
      |  FROM v LEFT JOIN v v2 ON v2.user_id = v.user_id AND v2.ts > v.ts
      |  GROUP BY 1, 2),
      |vaftw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(v.ts) AS nv
      |  FROM w LEFT JOIN v ON v.user_id = w.user_id AND v.ts > w.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s LEFT JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT user_id, s_ts, w_end,
      |         CASE WHEN mf THEN CAST(NULL AS TIMESTAMP) ELSE e_b END AS cur_b,
      |         CASE WHEN mf THEN ev ELSE e_e END AS cur_e,
      |         CASE WHEN mf THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end,
      |         CASE WHEN mf THEN 'mid' ELSE 'chain' END AS phase
      |  FROM (
      |    SELECT e.user_id, e.s_ts, e.w_end, su.b_ts AS e_b, su.e_ts AS e_e,
      |           vf.nv AS ev,
      |           (vf.nv IS NOT NULL AND vf.nv <= e.w_end AND
      |            (su.b_ts IS NULL OR su.e_ts > e.w_end
      |             OR su.e_ts >= vf.nv)) AS mf,
      |           (su.b_ts IS NOT NULL AND su.e_ts <= e.w_end) AS sub_ok
      |    FROM entry e
      |    LEFT JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |    LEFT JOIN vafts vf ON vf.user_id = e.user_id AND vf.s_ts = e.s_ts
      |  ) WHERE mf OR sub_ok
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e
      |              WHEN mode='absorb_specmid' THEN mvnv
      |              WHEN mode='newattmid' THEN wvnv END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              WHEN mode IN ('absorb_specmid','newattmid') THEN CAST(0 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode IN ('absorb_spec','absorb_specmid') THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt','newattmid') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode IN ('absorb_spec','absorb_specmid') THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt','newattmid') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode IN ('absorb_spec','absorb_specmid') THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt','newattmid') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode IN ('closer1','absorb_specmid','newattmid') THEN 'mid'
      |              ELSE 'chain' END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wc.w_ts AS wcand, w2.w_ts AS w2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |           mv.nv AS mvnv, wv2.nv AS wvnv,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN mv.nv IS NOT NULL AND mv.nv <= wk.w_end
      |                       AND (nr.b_ts IS NULL OR nr.e_ts > wk.w_end
      |                            OR nr.e_ts >= mv.nv) THEN 'absorb_specmid'
      |                  WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND wv2.nv IS NOT NULL
      |                AND wv2.nv <= wk.w_end
      |                AND (nr.b_ts IS NULL OR nr.e_ts > wk.w_end
      |                     OR nr.e_ts >= wv2.nv) THEN 'newattmid'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |    LEFT JOIN vaftv mv ON wk.phase='mid' AND mv.user_id = wk.user_id
      |                       AND mv.v_ts = wk.cur_e
      |    LEFT JOIN vaftw wv2 ON wk.phase='closed' AND wv2.user_id = wk.user_id
      |                        AND wv2.w_ts = wk.match_end
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, match_end, n_done, mid_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, match_end AS grp_last_ts,
      |       n_done AS n_outer, mid_done AS n_mid, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m44: ITERATIVE condition on a DEPTH-2 OUTER TAIL (the m40 recipe
  // at depth 2 — r16 late add): `W AS W.value > 2 * S.value` inside
  // `S (((B C)+ V)+ W)+` — the outer tail's acceptance is relative to the
  // match's own anchor binding, so both the W BINDING and the level-1
  // chain PUNCTUATION consider only candidates above the per-anchor
  // threshold (Pattern.bindTailResidual against the three-level walk).
  // Oracle: the m39 speculation-checkpoint CTE with the W-link tables
  // PARAMETRIZED BY ANCHOR (joined on (user_id, s_ts), w filtered by the
  // threshold) — the absorb-vs-close decision then replays over
  // satisfying candidates only, exactly as the engine scans.
  private val m44: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, LAST(W.ts) AS grp_last_ts,
        |           COUNT(W.ts) AS n_outer, COUNT(V.ts) AS n_mid,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase' AND W.value > 2 * S.value
        |)""".stripMargin)
  private val m44Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='purchase'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts,
      |         s.ts + INTERVAL 96 HOURS AS w_end, s.value AS s_val,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3, 4, 5),
      |wnextv AS (
      |  SELECT e.user_id, e.sid, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM entry e
      |  JOIN v ON v.user_id = e.user_id
      |  LEFT JOIN w ON w.user_id = e.user_id AND w.ts > v.ts
      |              AND w.value > 2 * e.s_val
      |  GROUP BY 1, 2, 3),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |walk AS (
      |  SELECT e.user_id, e.sid, e.s_ts, e.w_end,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, sid, s_ts, w_end,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wc.w_ts AS wcand, w2.w_ts AS w2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.sid = wk.sid AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.sid = wk.sid AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, sid, s_ts, match_end, n_done, mid_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, sid
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, match_end AS grp_last_ts,
      |       n_outer, n_mid, n_inner
      |FROM (SELECT user_id, s_ts, match_end, n_done AS n_outer,
      |             mid_done AS n_mid, inner_done AS n_inner
      |      FROM best WHERE rn = 1)""".stripMargin

  // --- m49: ITERATIVE condition on a nested-group INNER member (r17,
  // lifting the r15/r16 named rejection — the deepest IterativeCondition
  // composition, What's-missing #1 of VERDICT r16): `C AS C.value >
  // 2 * S.value` inside `S ((B C)+ V)+` — the condition shapes the inner
  // SUB-MATCH TABLE itself, so the compile is parametrized by the anchor
  // frame's DISTINCT threshold tuples (Pattern.bindInnerResidual: one
  // min-join chain per distinct threshold, per-(key, ts) candidate
  // extremes, the walk selects each anchor's own sub array by exact-
  // double tuple lookup). Oracle: the m33 deterministic-successor walk
  // with the SUBS table (and link/vnext/nsub/entry) parametrized BY
  // ANCHOR — per-event sid, c filtered by the threshold.
  private val m49: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(V.ts) AS grp_last_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view' AND C.value > 2 * S.value,
        |         V AS event_type = 'error'
        |)""".stripMargin)
  private val m49Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |anch AS (
      |  SELECT user_id, event_id AS sid, ts AS s_ts,
      |         ts + INTERVAL 96 HOURS AS w_end, value AS s_val FROM s),
      |subs AS (
      |  SELECT a.user_id, a.sid, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM anch a
      |  JOIN b ON b.user_id = a.user_id
      |  JOIN c ON c.user_id = a.user_id AND c.ts > b.ts
      |        AND c.ts <= b.ts + INTERVAL 96 HOURS
      |        AND c.value > 2 * a.s_val
      |  GROUP BY 1, 2, 3),
      |link AS (
      |  SELECT s1.user_id, s1.sid, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id
      |                 AND s2.sid = s1.sid AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |vnext AS (
      |  SELECT su.user_id, su.sid, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2, 3),
      |nsub AS (
      |  SELECT a.user_id, a.sid, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM anch a
      |  JOIN v ON v.user_id = a.user_id
      |  LEFT JOIN subs su ON su.user_id = a.user_id AND su.sid = a.sid
      |                    AND su.b_ts > v.ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT a.user_id, a.sid, a.s_ts, a.w_end, min(su.b_ts) AS b1
      |  FROM anch a JOIN subs su ON su.user_id = a.user_id
      |                           AND su.sid = a.sid AND su.b_ts > a.s_ts
      |  GROUP BY 1, 2, 3, 4),
      |walk AS (
      |  SELECT e.user_id, e.sid, e.s_ts, e.w_end, su.b_ts AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k, CAST(0 AS BIGINT) AS n_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id
      |                            AND su.sid = e.sid AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, sid, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b WHEN mode='newrep' THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e WHEN mode='newrep' THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode='newrep' THEN CAST(1 AS BIGINT) ELSE chain_k END,
      |         CASE WHEN mode='close' THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode='close' THEN inner_done + chain_k ELSE inner_done END,
      |         CASE WHEN mode='close' THEN vts ELSE match_end END,
      |         CASE WHEN mode='close' THEN 'closed' ELSE 'chain' END
      |  FROM (
      |    SELECT w.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN w.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= w.w_end
      |                AND (vn.v_ts IS NULL OR vn.v_ts > w.w_end
      |                     OR nx.e_ts < vn.v_ts) THEN 'extend'
      |           WHEN w.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= w.w_end THEN 'close'
      |           WHEN w.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= w.w_end THEN 'newrep'
      |      END AS mode
      |    FROM walk w
      |    LEFT JOIN link l  ON w.phase='chain' AND l.user_id = w.user_id
      |                      AND l.sid = w.sid AND l.b_ts = w.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = w.user_id AND nx.sid = w.sid
      |                      AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON w.phase='chain' AND vn.user_id = w.user_id
      |                       AND vn.sid = w.sid AND vn.b_ts = w.cur_b
      |    LEFT JOIN nsub ns ON w.phase='closed' AND ns.user_id = w.user_id
      |                      AND ns.sid = w.sid AND ns.v_ts = w.match_end
      |    LEFT JOIN subs nr ON nr.user_id = w.user_id AND nr.sid = w.sid
      |                      AND nr.b_ts = ns.nb
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, sid, s_ts, first_b, match_end, n_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, sid
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_reps, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m46: ITERATIVE condition on a DEPTH-2 MID member (r17, lifting
  // the r16 named rejection — flink-cep IterativeCondition.java:50
  // composes with ANY NFA state, including a GroupPattern's mid level):
  // `V AS V.value > 2 * S.value` inside `S (((B C)+ V)+ W)+` — the MID's
  // acceptance is relative to the match's own anchor, so the mid BINDING
  // and the inner-chain PUNCTUATION both consider only satisfying
  // candidates (Pattern.bindTailResidual on a mid2 member: the walk's
  // candBind satisfying scan at the level-1 close AND the chain-extend
  // decision — a failing V neither binds nor punctuates, the m40/m44
  // convention one level down; INNER members keep the named rejection).
  // Oracle: the m39 speculation-checkpoint CTE with the V-link table
  // parametrized BY ANCHOR (per-event sid, v filtered by the threshold);
  // the W-links stay plain.
  private val m46: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, LAST(W.ts) AS grp_last_ts,
        |           COUNT(W.ts) AS n_outer, COUNT(V.ts) AS n_mid,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view',
        |         V AS event_type = 'error' AND V.value > 2 * S.value,
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
  private val m46Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts,
      |         s.ts + INTERVAL 96 HOURS AS w_end, s.value AS s_val,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3, 4, 5),
      |vnext AS (
      |  SELECT e.user_id, e.sid, su.b_ts, min(v.ts) AS v_ts
      |  FROM entry e
      |  JOIN subs su ON su.user_id = e.user_id
      |  LEFT JOIN v ON v.user_id = e.user_id AND v.ts > su.e_ts
      |              AND v.value > 2 * e.s_val
      |  GROUP BY 1, 2, 3),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |walk AS (
      |  SELECT e.user_id, e.sid, e.s_ts, e.w_end,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, sid, s_ts, w_end,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wc.w_ts AS wcand, w2.w_ts AS w2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.sid = wk.sid AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, sid, s_ts, match_end, n_done, mid_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, sid
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, match_end AS grp_last_ts,
      |       n_outer, n_mid, n_inner
      |FROM (SELECT user_id, s_ts, match_end, n_done AS n_outer,
      |             mid_done AS n_mid, inner_done AS n_inner
      |      FROM best WHERE rn = 1)""".stripMargin

  // --- m45: composite ORDER BY tiebreak + NESTED-group member VALUES
  // (r16 late add, lifting the r15 named rejection — stale since m36
  // gave nested chains bound member values): `ORDER BY ts, tie1` over
  // the m33 pattern with value measures — equal-timestamp candidates'
  // VALUES argmin by (tie, value) instead of plain (value) min
  // (membership and succession stay time-level, the one-level group
  // tieBreak convention). Ties are MANUFACTURED the m30 way (hour-
  // truncated ts + event_id div 100 tie — 15 signup / 20 view coarse-
  // hour duplicate groups at sf0.01, so the argmin is exercised).
  // Oracle: the m33 walk over the coarsened frame, anchors keyed PER
  // SIGNUP EVENT (duplicate coarse-hour anchors emit duplicate rows,
  // as the engine's per-event anchors do), member values joined per
  // (user, ts, type) as the {tie, value} struct-min's value field.
  private val m45: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(
      ev(s, dir).withColumn("ts", date_trunc("hour", col("ts")))
        .withColumn("tie1", expr("event_id div 100")),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, tie1
        |  MEASURES S.ts AS signup_ts, COUNT(V.ts) AS n_reps,
        |           SUM(B.value) AS sum_b, MIN(C.value) AS min_c,
        |           LAST(V.value) AS last_v
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin)
  private val m45Sql =
    """WITH RECURSIVE
      |e AS (SELECT user_id, event_id, event_id // 100 AS tie1,
      |             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
      |             event_type, value FROM events),
      |s AS (SELECT user_id, event_id, ts FROM e WHERE event_type='signup'),
      |b AS (SELECT user_id, ts FROM e WHERE event_type='click'),
      |c AS (SELECT user_id, ts FROM e WHERE event_type='view'),
      |v AS (SELECT user_id, ts FROM e WHERE event_type='error'),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsub AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts,
      |         s.ts + INTERVAL 96 HOURS AS w_end, min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3, 4),
      |walk AS (
      |  SELECT e.user_id, e.sid, e.s_ts, e.w_end,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k, CAST(0 AS BIGINT) AS n_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, sid, s_ts, w_end,
      |         CASE WHEN mode='extend' THEN nx_b WHEN mode='newrep' THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e WHEN mode='newrep' THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode='newrep' THEN CAST(1 AS BIGINT) ELSE chain_k END,
      |         CASE WHEN mode='close' THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode='close' THEN vts ELSE match_end END,
      |         CASE WHEN mode='close' THEN 'closed' ELSE 'chain' END
      |  FROM (
      |    SELECT w.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN w.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= w.w_end
      |                AND (vn.v_ts IS NULL OR vn.v_ts > w.w_end
      |                     OR nx.e_ts < vn.v_ts) THEN 'extend'
      |           WHEN w.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= w.w_end THEN 'close'
      |           WHEN w.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= w.w_end THEN 'newrep'
      |      END AS mode
      |    FROM walk w
      |    LEFT JOIN link l  ON w.phase='chain' AND l.user_id = w.user_id
      |                      AND l.b_ts = w.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = w.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON w.phase='chain' AND vn.user_id = w.user_id
      |                       AND vn.b_ts = w.cur_b
      |    LEFT JOIN nsub ns ON w.phase='closed' AND ns.user_id = w.user_id
      |                      AND ns.v_ts = w.match_end
      |    LEFT JOIN subs nr ON nr.user_id = w.user_id AND nr.b_ts = ns.nb
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, sid, s_ts, n_done,
      |         row_number() OVER (PARTITION BY user_id, sid
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed'),
      |vals AS (
      |  SELECT user_id, ts, event_type,
      |         struct_extract(min({'t': tie1, 'v': value}), 'v') AS v
      |  FROM e GROUP BY 1, 2, 3),
      |mrows AS (
      |  SELECT w.user_id, b.sid, b.s_ts, 'B' AS cls, w.cur_b AS ts,
      |         w.n_done AS rep
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.sid = w.sid
      |  WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |  UNION ALL
      |  SELECT w.user_id, b.sid, b.s_ts, 'C', w.cur_e, w.n_done
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.sid = w.sid
      |  WHERE b.rn = 1 AND w.phase = 'chain' AND w.n_done + 1 <= b.n_done
      |  UNION ALL
      |  SELECT w.user_id, b.sid, b.s_ts, 'V', w.match_end, w.n_done
      |  FROM walk w JOIN best b ON b.user_id = w.user_id AND b.sid = w.sid
      |  WHERE b.rn = 1 AND w.phase = 'closed'),
      |mv AS (
      |  SELECT r.user_id, r.sid, r.s_ts, r.cls, r.ts, r.rep, v.v
      |  FROM mrows r JOIN vals v ON v.user_id = r.user_id AND v.ts = r.ts
      |   AND v.event_type = CASE r.cls WHEN 'B' THEN 'click'
      |                                 WHEN 'C' THEN 'view' ELSE 'error' END),
      |lastv AS (
      |  SELECT user_id, sid, v FROM (
      |    SELECT m.user_id, m.sid, m.v,
      |           row_number() OVER (PARTITION BY m.user_id, m.sid
      |                              ORDER BY m.rep DESC) AS rn
      |    FROM mv m WHERE m.cls = 'V') WHERE rn = 1)
      |SELECT b.user_id, b.s_ts AS signup_ts, b.n_done AS n_reps,
      |  sum(CASE WHEN m.cls = 'B' THEN m.v END) AS sum_b,
      |  min(CASE WHEN m.cls = 'C' THEN m.v END) AS min_c,
      |  min(l.v) AS last_v
      |FROM best b
      |JOIN mv m ON m.user_id = b.user_id AND m.sid = b.sid
      |JOIN lastv l ON l.user_id = b.user_id AND l.sid = b.sid
      |WHERE b.rn = 1
      |GROUP BY b.user_id, b.sid, b.s_ts, b.n_done""".stripMargin

  // --- m47: composite ORDER BY tiebreak + DEPTH-2 nested-group member
  // VALUES (r17, lifting the r16 named rejection — the last tiebreak
  // composition): `ORDER BY ts, tie1` over the m41 shape — equal-ts
  // candidates' values argmin by (tie, value) at EVERY nesting level
  // (inner members' sub-match value tables, mid and outer-tail candidate
  // value tables — one shared Pattern.tieMinAgg builder, so the
  // convention cannot diverge between depths). Ties MANUFACTURED the
  // m30/m45 way (hour-truncated ts + event_id div 100). Oracle: the m41
  // speculation-checkpoint CTE over the coarsened frame, anchors keyed
  // PER SIGNUP EVENT (the m44/m45 anchor-collapse lesson), member value
  // tables as {tie, value} struct-min per (user, ts, type).
  private val m47: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(
      ev(s, dir).withColumn("ts", date_trunc("hour", col("ts")))
        .withColumn("tie1", expr("event_id div 100")),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, tie1
        |  MEASURES S.ts AS signup_ts, COUNT(W.ts) AS n_outer,
        |           SUM(B.value) AS sum_b, AVG(C.value) AS avg_c,
        |           MAX(V.value) AS max_v, LAST(W.value) AS last_w
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
  private val m47Sql =
    """WITH RECURSIVE
      |e AS (SELECT user_id, event_id, event_id // 100 AS tie1,
      |             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
      |             event_type, value FROM events),
      |s AS (SELECT user_id, event_id, ts FROM e WHERE event_type='signup'),
      |b AS (SELECT user_id, ts FROM e WHERE event_type='click'),
      |c AS (SELECT user_id, ts FROM e WHERE event_type='view'),
      |v AS (SELECT user_id, ts FROM e WHERE event_type='error'),
      |w AS (SELECT user_id, ts FROM e WHERE event_type='purchase'),
      |bval AS (SELECT user_id, ts, struct_extract(min({'t': tie1, 'v': value}), 'v') AS val
      |         FROM e WHERE event_type='click' GROUP BY 1, 2),
      |cval AS (SELECT user_id, ts, struct_extract(min({'t': tie1, 'v': value}), 'v') AS val
      |         FROM e WHERE event_type='view' GROUP BY 1, 2),
      |vval AS (SELECT user_id, ts, struct_extract(min({'t': tie1, 'v': value}), 'v') AS val
      |         FROM e WHERE event_type='error' GROUP BY 1, 2),
      |wval AS (SELECT user_id, ts, struct_extract(min({'t': tie1, 'v': value}), 'v') AS val
      |         FROM e WHERE event_type='purchase' GROUP BY 1, 2),
      |subs0 AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |subs AS (
      |  SELECT su.user_id, su.b_ts, su.e_ts, bv.val AS bv, cv.val AS cv
      |  FROM subs0 su
      |  JOIN bval bv ON bv.user_id = su.user_id AND bv.ts = su.b_ts
      |  JOIN cval cv ON cv.user_id = su.user_id AND cv.ts = su.e_ts),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext0 AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT vn.user_id, vn.b_ts, vn.v_ts, vv.val AS vv
      |  FROM vnext0 vn LEFT JOIN vval vv ON vv.user_id = vn.user_id
      |                                   AND vv.ts = vn.v_ts),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv0 AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT wn.user_id, wn.v_ts, wn.w_ts, wv.val AS wv
      |  FROM wnextv0 wn LEFT JOIN wval wv ON wv.user_id = wn.user_id
      |                                    AND wv.ts = wn.w_ts),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.event_id AS sid, s.ts AS s_ts,
      |         s.ts + INTERVAL 96 HOURS AS w_end, min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3, 4),
      |walk AS (
      |  SELECT e.user_id, e.sid, e.s_ts, e.w_end,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase,
      |         su.bv AS r1_bs, su.cv AS r1_cs,
      |         CAST(NULL AS DOUBLE) AS r1_v,
      |         CAST(0 AS DOUBLE) AS att_bs, CAST(0 AS DOUBLE) AS att_cs,
      |         CAST(NULL AS DOUBLE) AS att_vm,
      |         CAST(0 AS DOUBLE) AS dn_bs, CAST(0 AS DOUBLE) AS dn_cs,
      |         CAST(NULL AS DOUBLE) AS dn_vm, CAST(NULL AS DOUBLE) AS dn_wl
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, sid, s_ts, w_end,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END,
      |         CASE WHEN mode='extend' THEN r1_bs + nx_bv
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_bv
      |              ELSE r1_bs END,
      |         CASE WHEN mode='extend' THEN r1_cs + nx_cv
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_cv
      |              ELSE r1_cs END,
      |         CASE WHEN mode='closer1' THEN vnv
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(NULL AS DOUBLE)
      |              ELSE r1_v END,
      |         CASE WHEN mode='absorb_spec' THEN att_bs + r1_bs
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS DOUBLE)
      |              ELSE att_bs END,
      |         CASE WHEN mode='absorb_spec' THEN att_cs + r1_cs
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS DOUBLE)
      |              ELSE att_cs END,
      |         CASE WHEN mode='absorb_spec' THEN greatest(att_vm, r1_v)
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS DOUBLE)
      |              ELSE att_vm END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN dn_bs + att_bs
      |              WHEN mode='absorb_close' THEN dn_bs + att_bs + r1_bs
      |              ELSE dn_bs END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN dn_cs + att_cs
      |              WHEN mode='absorb_close' THEN dn_cs + att_cs + r1_cs
      |              ELSE dn_cs END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN greatest(dn_vm, att_vm)
      |              WHEN mode='absorb_close' THEN greatest(dn_vm, att_vm, r1_v)
      |              ELSE dn_vm END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcandv
      |              WHEN mode='absorb_close' THEN w2v
      |              ELSE dn_wl END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e,
      |           nx.bv AS nx_bv, nx.cv AS nx_cv,
      |           vn.v_ts AS vts, vn.vv AS vnv,
      |           wc.w_ts AS wcand, wc.wv AS wcandv,
      |           w2.w_ts AS w2ts, w2.wv AS w2v,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |           nr.bv AS nr_bv, nr.cv AS nr_cv,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, sid, s_ts, n_done, inner_done, dn_bs, dn_cs, dn_vm, dn_wl,
      |         row_number() OVER (PARTITION BY user_id, sid
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, n_done AS n_outer,
      |       dn_bs AS sum_b, dn_cs / inner_done AS avg_c,
      |       dn_vm AS max_v, dn_wl AS last_w
      |FROM best WHERE rn = 1""".stripMargin

  // --- m48: DEPTH-3 nested group `S ((((B C)+ V)+ W)+ X)+` (r17, lifting
  // the r16 depth named rejection — flink-cep GroupPattern.java:30 composes
  // recursively without limit, so group-in-group-in-group-in-group is one
  // more composition): the depth-2 rule RECURSES — a LEVEL-2 repetition is
  // a greedy chain of level-1 repetitions punctuated by the earliest W,
  // then W bound; an OUTER repetition is a greedy chain of level-2
  // repetitions punctuated by the earliest X, then X bound (reluctant
  // close and greedy-no-backtracking at every level). W/X split the
  // purchase stream on value (< 50 / >= 50) — the corpus has five event
  // types and the pattern needs six predicates. Lowered via
  // Pattern.followedByNested3Group: the SAME sub-match table and tagged
  // union as depth-2 plus one recursion level in the walk (rep2After
  // chains r1After exactly as the outer chain chains rep2After). Oracle:
  // the m39 speculation-checkpoint CTE with a SECOND checkpoint level —
  // the walk descends into each level-1 repetition carrying the LEVEL-2
  // attempt checkpoint (a2_mid/a2_inner/a2_gend) AND the OUTER attempt
  // checkpoint (ao_m2/ao_mid/ao_inner/ao_gend); a completed level-1 rep
  // replays the W-punctuation rule against the level-2 checkpoint
  // ('mid1'), a completed level-2 rep replays the X-punctuation rule
  // against the outer checkpoint ('mid2'), and failures cascade: a dead
  // inner chain closes level 2 from its checkpoint if it can bind W,
  // else closes the OUTER from its checkpoint if it can bind X. Every
  // row still has exactly ONE successor.
  private val m48: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(X.ts) AS grp_last_ts, COUNT(X.ts) AS n_outer,
        |           COUNT(W.ts) AS n_mid2, COUNT(V.ts) AS n_mid,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((((B C)+ V)+ W)+ X)+)
        |  WITHIN INTERVAL '480' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase' AND W.value < 50,
        |         X AS event_type = 'purchase' AND X.value >= 50
        |)""".stripMargin)
  private val m48Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase' AND value < 50),
      |x AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase' AND value >= 50),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 480 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |xnextw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(x.ts) AS x_ts
      |  FROM w LEFT JOIN x ON x.user_id = w.user_id AND x.ts > w.ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |nsubx AS (
      |  SELECT x.user_id, x.ts AS x_ts, min(su.b_ts) AS nb
      |  FROM x LEFT JOIN subs su ON su.user_id = x.user_id AND su.b_ts > x.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 480 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS a2_mid, CAST(0 AS BIGINT) AS a2_inner,
      |         CAST(NULL AS TIMESTAMP) AS a2_gend,
      |         CAST(0 AS BIGINT) AS ao_m2, CAST(0 AS BIGINT) AS ao_mid,
      |         CAST(0 AS BIGINT) AS ao_inner,
      |         CAST(NULL AS TIMESTAMP) AS ao_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS m2_done,
      |         CAST(0 AS BIGINT) AS mid_done, CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('abs2_spec','absO_spec','newatt') THEN nr_b
      |              ELSE cur_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='close1' THEN vts
      |              WHEN mode IN ('abs2_spec','absO_spec','newatt') THEN nr_e
      |              WHEN mode IN ('chfail2','rej2') THEN wgts
      |              WHEN mode='abs2_close' THEN w2ts
      |              ELSE cur_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('abs2_spec','absO_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN a2_mid + 1
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a2_mid END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN a2_inner + chain_k
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a2_inner END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN cur_e
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE a2_gend END,
      |         CASE WHEN mode='absO_spec' THEN ao_m2 + 1
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_m2 END,
      |         CASE WHEN mode='absO_spec' THEN ao_mid + a2_mid
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_mid END,
      |         CASE WHEN mode='absO_spec' THEN ao_inner + a2_inner
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_inner END,
      |         CASE WHEN mode='absO_spec' THEN cur_e
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE ao_gend END,
      |         CASE WHEN mode IN ('absO_close','chfailO','rejO') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode='absO_close' THEN m2_done + ao_m2 + 1
      |              WHEN mode IN ('chfailO','rejO') THEN m2_done + ao_m2
      |              ELSE m2_done END,
      |         CASE WHEN mode='absO_close' THEN mid_done + ao_mid + a2_mid
      |              WHEN mode IN ('chfailO','rejO') THEN mid_done + ao_mid
      |              ELSE mid_done END,
      |         CASE WHEN mode='absO_close' THEN inner_done + ao_inner + a2_inner
      |              WHEN mode IN ('chfailO','rejO') THEN inner_done + ao_inner
      |              ELSE inner_done END,
      |         CASE WHEN mode='absO_close' THEN x2ts
      |              WHEN mode IN ('chfailO','rejO') THEN xgts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('absO_close','chfailO','rejO') THEN 'closed'
      |              WHEN mode='close1' THEN 'mid1'
      |              WHEN mode IN ('chfail2','abs2_close','rej2') THEN 'mid2'
      |              ELSE 'chain' END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wg.w_ts AS wgts, w2.w_ts AS w2ts,
      |           xg.x_ts AS xgts, x2.x_ts AS x2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'close1'
      |           WHEN wk.phase = 'chain' AND wk.a2_mid > 0
      |                AND wg.w_ts IS NOT NULL AND wg.w_ts <= wk.w_end
      |                THEN 'chfail2'
      |           WHEN wk.phase = 'chain' AND wk.ao_m2 > 0
      |                AND xg.x_ts IS NOT NULL AND xg.x_ts <= wk.w_end
      |                THEN 'chfailO'
      |           WHEN wk.phase = 'mid1' AND (wk.a2_mid = 0
      |                OR wg.w_ts IS NULL OR wg.w_ts > wk.w_end
      |                OR wk.cur_e < wg.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'abs2_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'abs2_close'
      |                  -- no next sub AND no W after the absorbed rep: the
      |                  -- whole level-2 attempt dies, and the OUTER closes
      |                  -- from ITS checkpoint (the chfailO cascade)
      |                  WHEN wk.ao_m2 > 0 AND xg.x_ts IS NOT NULL
      |                       AND xg.x_ts <= wk.w_end THEN 'chfailO' END
      |           WHEN wk.phase = 'mid1' THEN 'rej2'
      |           WHEN wk.phase = 'mid2' AND (wk.ao_m2 = 0
      |                OR xg.x_ts IS NULL OR xg.x_ts > wk.w_end
      |                OR wk.cur_e < xg.x_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absO_spec'
      |                  WHEN x2.x_ts IS NOT NULL AND x2.x_ts <= wk.w_end
      |                  THEN 'absO_close' END
      |           WHEN wk.phase = 'mid2' THEN 'rejO'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wg ON wg.user_id = wk.user_id
      |                        AND wg.v_ts = wk.a2_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid1' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN xnextw xg ON xg.user_id = wk.user_id
      |                        AND xg.w_ts = wk.ao_gend
      |    LEFT JOIN xnextw x2 ON wk.phase='mid2' AND x2.user_id = wk.user_id
      |                        AND x2.w_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid1' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='mid2' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.cur_e
      |    LEFT JOIN nsubx nr0 ON wk.phase='closed' AND nr0.user_id = wk.user_id
      |                        AND nr0.x_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb, nr0.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, m2_done, mid_done,
      |         inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_outer, m2_done AS n_mid2,
      |       mid_done AS n_mid, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m50: ITERATIVE condition on a DEPTH-2 INNER member (r17, lifting
  // the LAST iterative-composition named rejection — VERDICT r16
  // "What's missing" #1 residual): `C AS C.value > 2 * S.value` inside
  // `S (((B C)+ V)+ W)+` — the condition shapes the innermost SUB-MATCH
  // TABLE under the three-level walk, so the m49 per-distinct-threshold-
  // tuple parametrization carries to depth 2 unchanged
  // (Pattern.bindInnerResidual now accepts inner2 members: the compile is
  // keyed by the anchor frame's distinct threshold tuples, tag-0 rows
  // carry the tuple, and the depth-2 walk selects each anchor's own sub
  // array by exact-double lookup before r1After ever runs). Oracle: the
  // m39 speculation-checkpoint CTE with subs/link/vnext/nsubv/nsubw/entry
  // ALL parametrized by per-event anchor (sid, c filtered by the
  // threshold); the v->w links (wnextv) stay plain.
  private val m50: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(W.ts) AS grp_last_ts, COUNT(W.ts) AS n_outer,
        |           COUNT(V.ts) AS n_mid, COUNT(B.ts) AS n_inner
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view' AND C.value > 2 * S.value,
        |         V AS event_type = 'error', W AS event_type = 'purchase'
        |)""".stripMargin)
  private val m50Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, value FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |anch AS (
      |  SELECT user_id, event_id AS sid, ts AS s_ts,
      |         ts + INTERVAL 96 HOURS AS w_end, value AS s_val FROM s),
      |subs AS (
      |  SELECT a.user_id, a.sid, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM anch a
      |  JOIN b ON b.user_id = a.user_id
      |  JOIN c ON c.user_id = a.user_id AND c.ts > b.ts
      |        AND c.ts <= b.ts + INTERVAL 96 HOURS
      |        AND c.value > 2 * a.s_val
      |  GROUP BY 1, 2, 3),
      |link AS (
      |  SELECT s1.user_id, s1.sid, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id
      |                 AND s2.sid = s1.sid AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2, 3),
      |vnext AS (
      |  SELECT su.user_id, su.sid, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2, 3),
      |nsubv AS (
      |  SELECT a.user_id, a.sid, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM anch a
      |  JOIN v ON v.user_id = a.user_id
      |  LEFT JOIN subs su ON su.user_id = a.user_id AND su.sid = a.sid
      |                    AND su.b_ts > v.ts
      |  GROUP BY 1, 2, 3),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT a.user_id, a.sid, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM anch a
      |  JOIN w ON w.user_id = a.user_id
      |  LEFT JOIN subs su ON su.user_id = a.user_id AND su.sid = a.sid
      |                    AND su.b_ts > w.ts
      |  GROUP BY 1, 2, 3),
      |entry AS (
      |  SELECT a.user_id, a.sid, a.s_ts, a.w_end, min(su.b_ts) AS b1
      |  FROM anch a JOIN subs su ON su.user_id = a.user_id
      |                           AND su.sid = a.sid AND su.b_ts > a.s_ts
      |  GROUP BY 1, 2, 3, 4),
      |walk AS (
      |  SELECT e.user_id, e.sid, e.s_ts, e.w_end, e.b1 AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id
      |                            AND su.sid = e.sid AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, sid, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wc.w_ts AS wcand, w2.w_ts AS w2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.sid = wk.sid AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.sid = wk.sid
      |                      AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.sid = wk.sid AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.sid = wk.sid AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.sid = wk.sid AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id AND nr.sid = wk.sid
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, sid, s_ts, first_b, match_end, n_done, mid_done,
      |         inner_done,
      |         row_number() OVER (PARTITION BY user_id, sid
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_outer, mid_done AS n_mid,
      |       inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m51: ALL ROWS PER MATCH over the DEPTH-3 nested group (m48's
  // per-event twin — r18, lifting the r17 named rejection: reference
  // flink-table StreamExecMatch emits member rows for ANY pattern shape,
  // nesting depth included): the depth-parametric walk materializes every
  // COMMITTED bound event with running (reps, mids2, mids, subs) counts —
  // one count per nesting level — and rows of rejected level-1/level-2
  // speculations and uncommitted outer attempts are discarded with them.
  // Oracle: the m48 two-checkpoint CTE carrying THREE row buffers in state
  // (DuckDB struct-list accumulation): r1_rows local to the inner chain,
  // a2_rows local to the level-2 attempt (resolved from r1_rows at ABSORB
  // time with the attempt offsets), ao_rows local to the outer attempt
  // (resolved from a2_rows at level-2 absorb), and dn_rows committed
  // global rows (resolved at the close modes) — exactly the engine's
  // per-level buffer flush, then the best row's list UNNESTs.
  private val m51: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(X.ts) AS n_reps,
        |           COUNT(W.ts) AS n_mids2, COUNT(V.ts) AS n_mids,
        |           COUNT(C.ts) AS n_subs
        |  ALL ROWS PER MATCH
        |  PATTERN (S ((((B C)+ V)+ W)+ X)+)
        |  WITHIN INTERVAL '480' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase' AND W.value < 50,
        |         X AS event_type = 'purchase' AND X.value >= 50
        |)""".stripMargin)
      .select("user_id", "cls", "ts", "signup_ts", "n_reps", "n_mids2",
        "n_mids", "n_subs")
  private val m51Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase' AND value < 50),
      |x AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase' AND value >= 50),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 480 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |xnextw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(x.ts) AS x_ts
      |  FROM w LEFT JOIN x ON x.user_id = w.user_id AND x.ts > w.ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |nsubx AS (
      |  SELECT x.user_id, x.ts AS x_ts, min(su.b_ts) AS nb
      |  FROM x LEFT JOIN subs su ON su.user_id = x.user_id AND su.b_ts > x.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 480 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS a2_mid, CAST(0 AS BIGINT) AS a2_inner,
      |         CAST(NULL AS TIMESTAMP) AS a2_gend,
      |         CAST(0 AS BIGINT) AS ao_m2, CAST(0 AS BIGINT) AS ao_mid,
      |         CAST(0 AS BIGINT) AS ao_inner,
      |         CAST(NULL AS TIMESTAMP) AS ao_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS m2_done,
      |         CAST(0 AS BIGINT) AS mid_done, CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase,
      |         [{'ts': su.b_ts, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': CAST(0 AS BIGINT)},
      |          {'ts': su.e_ts, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': CAST(1 AS BIGINT)}] AS r1_rows,
      |         CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, m2d BIGINT, md2 BIGINT, sl2 BIGINT)[]) AS a2_rows,
      |         CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, m2o BIGINT, mdo BIGINT, slo BIGINT)[]) AS ao_rows,
      |         CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, reps BIGINT, mids2 BIGINT, mids BIGINT, subs BIGINT)[]) AS dn_rows
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('abs2_spec','absO_spec','newatt') THEN nr_b
      |              ELSE cur_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='close1' THEN vts
      |              WHEN mode IN ('abs2_spec','absO_spec','newatt') THEN nr_e
      |              WHEN mode IN ('chfail2','rej2') THEN wgts
      |              WHEN mode='abs2_close' THEN w2ts
      |              ELSE cur_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('abs2_spec','absO_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN a2_mid + 1
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a2_mid END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN a2_inner + chain_k
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a2_inner END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN cur_e
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE a2_gend END,
      |         CASE WHEN mode='absO_spec' THEN ao_m2 + 1
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_m2 END,
      |         CASE WHEN mode='absO_spec' THEN ao_mid + a2_mid
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_mid END,
      |         CASE WHEN mode='absO_spec' THEN ao_inner + a2_inner
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_inner END,
      |         CASE WHEN mode='absO_spec' THEN cur_e
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE ao_gend END,
      |         CASE WHEN mode IN ('absO_close','chfailO','rejO') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode='absO_close' THEN m2_done + ao_m2 + 1
      |              WHEN mode IN ('chfailO','rejO') THEN m2_done + ao_m2
      |              ELSE m2_done END,
      |         CASE WHEN mode='absO_close' THEN mid_done + ao_mid + a2_mid
      |              WHEN mode IN ('chfailO','rejO') THEN mid_done + ao_mid
      |              ELSE mid_done END,
      |         CASE WHEN mode='absO_close' THEN inner_done + ao_inner + a2_inner
      |              WHEN mode IN ('chfailO','rejO') THEN inner_done + ao_inner
      |              ELSE inner_done END,
      |         CASE WHEN mode='absO_close' THEN x2ts
      |              WHEN mode IN ('chfailO','rejO') THEN xgts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('absO_close','chfailO','rejO') THEN 'closed'
      |              WHEN mode='close1' THEN 'mid1'
      |              WHEN mode IN ('chfail2','abs2_close','rej2') THEN 'mid2'
      |              ELSE 'chain' END,
      |         CASE WHEN mode='extend' THEN r1_rows ||
      |                [{'ts': nx_b, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': chain_k},
      |                 {'ts': nx_e, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': chain_k + 1}]
      |              WHEN mode='close1' THEN r1_rows ||
      |                [{'ts': vts, 'cls': 'V', 'md': CAST(1 AS BIGINT), 'sl': chain_k}]
      |              WHEN mode IN ('abs2_spec','absO_spec','newatt') THEN
      |                [{'ts': nr_b, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': CAST(0 AS BIGINT)},
      |                 {'ts': nr_e, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': CAST(1 AS BIGINT)}]
      |              ELSE r1_rows END,
      |         CASE WHEN mode='abs2_spec' THEN a2_rows ||
      |                list_transform(r1_rows, r -> {'ts': r.ts, 'cls': r.cls,
      |                  'm2d': CAST(0 AS BIGINT), 'md2': a2_mid + r.md,
      |                  'sl2': a2_inner + r.sl})
      |              WHEN mode='abs2_close' THEN a2_rows ||
      |                list_transform(r1_rows, r -> {'ts': r.ts, 'cls': r.cls,
      |                  'm2d': CAST(0 AS BIGINT), 'md2': a2_mid + r.md,
      |                  'sl2': a2_inner + r.sl}) ||
      |                [{'ts': w2ts, 'cls': 'W', 'm2d': CAST(1 AS BIGINT),
      |                  'md2': a2_mid + 1, 'sl2': a2_inner + chain_k}]
      |              WHEN mode IN ('chfail2','rej2') THEN a2_rows ||
      |                [{'ts': wgts, 'cls': 'W', 'm2d': CAST(1 AS BIGINT),
      |                  'md2': a2_mid, 'sl2': a2_inner}]
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt')
      |                THEN CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, m2d BIGINT, md2 BIGINT, sl2 BIGINT)[])
      |              ELSE a2_rows END,
      |         CASE WHEN mode='absO_spec' THEN ao_rows ||
      |                list_transform(a2_rows, r -> {'ts': r.ts, 'cls': r.cls,
      |                  'm2o': ao_m2 + r.m2d, 'mdo': ao_mid + r.md2,
      |                  'slo': ao_inner + r.sl2})
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt')
      |                THEN CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, m2o BIGINT, mdo BIGINT, slo BIGINT)[])
      |              ELSE ao_rows END,
      |         CASE WHEN mode='absO_close' THEN dn_rows ||
      |                list_transform(ao_rows, r -> {'ts': r.ts, 'cls': r.cls,
      |                  'reps': n_done, 'mids2': m2_done + r.m2o,
      |                  'mids': mid_done + r.mdo, 'subs': inner_done + r.slo}) ||
      |                list_transform(a2_rows, r -> {'ts': r.ts, 'cls': r.cls,
      |                  'reps': n_done, 'mids2': m2_done + ao_m2 + r.m2d,
      |                  'mids': mid_done + ao_mid + r.md2,
      |                  'subs': inner_done + ao_inner + r.sl2}) ||
      |                [{'ts': x2ts, 'cls': 'X', 'reps': n_done + 1,
      |                  'mids2': m2_done + ao_m2 + 1,
      |                  'mids': mid_done + ao_mid + a2_mid,
      |                  'subs': inner_done + ao_inner + a2_inner}]
      |              WHEN mode IN ('chfailO','rejO') THEN dn_rows ||
      |                list_transform(ao_rows, r -> {'ts': r.ts, 'cls': r.cls,
      |                  'reps': n_done, 'mids2': m2_done + r.m2o,
      |                  'mids': mid_done + r.mdo, 'subs': inner_done + r.slo}) ||
      |                [{'ts': xgts, 'cls': 'X', 'reps': n_done + 1,
      |                  'mids2': m2_done + ao_m2, 'mids': mid_done + ao_mid,
      |                  'subs': inner_done + ao_inner}]
      |              ELSE dn_rows END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wg.w_ts AS wgts, w2.w_ts AS w2ts,
      |           xg.x_ts AS xgts, x2.x_ts AS x2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'close1'
      |           WHEN wk.phase = 'chain' AND wk.a2_mid > 0
      |                AND wg.w_ts IS NOT NULL AND wg.w_ts <= wk.w_end
      |                THEN 'chfail2'
      |           WHEN wk.phase = 'chain' AND wk.ao_m2 > 0
      |                AND xg.x_ts IS NOT NULL AND xg.x_ts <= wk.w_end
      |                THEN 'chfailO'
      |           WHEN wk.phase = 'mid1' AND (wk.a2_mid = 0
      |                OR wg.w_ts IS NULL OR wg.w_ts > wk.w_end
      |                OR wk.cur_e < wg.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'abs2_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'abs2_close'
      |                  -- no next sub AND no W after the absorbed rep: the
      |                  -- whole level-2 attempt dies, and the OUTER closes
      |                  -- from ITS checkpoint (the chfailO cascade)
      |                  WHEN wk.ao_m2 > 0 AND xg.x_ts IS NOT NULL
      |                       AND xg.x_ts <= wk.w_end THEN 'chfailO' END
      |           WHEN wk.phase = 'mid1' THEN 'rej2'
      |           WHEN wk.phase = 'mid2' AND (wk.ao_m2 = 0
      |                OR xg.x_ts IS NULL OR xg.x_ts > wk.w_end
      |                OR wk.cur_e < xg.x_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absO_spec'
      |                  WHEN x2.x_ts IS NOT NULL AND x2.x_ts <= wk.w_end
      |                  THEN 'absO_close' END
      |           WHEN wk.phase = 'mid2' THEN 'rejO'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wg ON wg.user_id = wk.user_id
      |                        AND wg.v_ts = wk.a2_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid1' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN xnextw xg ON xg.user_id = wk.user_id
      |                        AND xg.w_ts = wk.ao_gend
      |    LEFT JOIN xnextw x2 ON wk.phase='mid2' AND x2.user_id = wk.user_id
      |                        AND x2.w_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid1' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='mid2' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.cur_e
      |    LEFT JOIN nsubx nr0 ON wk.phase='closed' AND nr0.user_id = wk.user_id
      |                        AND nr0.x_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb, nr0.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, n_done, dn_rows,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(0 AS BIGINT) AS n_reps, CAST(0 AS BIGINT) AS n_mids2,
      |       CAST(0 AS BIGINT) AS n_mids, CAST(0 AS BIGINT) AS n_subs
      |FROM best WHERE rn = 1
      |UNION ALL
      |SELECT bb.user_id, u.r.cls, u.r.ts, bb.s_ts, u.r.reps, u.r.mids2,
      |       u.r.mids, u.r.subs
      |FROM best bb, UNNEST(bb.dn_rows) AS u(r)
      |WHERE bb.rn = 1""".stripMargin

  // --- m52: DEPTH-4 nested group `S (((((B C)+ V)+ W)+ X)+ Y)+` (r18,
  // closing the former depth >= 4 named error — flink-cep
  // GroupPattern.java:30 composes recursively without limit, and the
  // depth-parametric followedByNestedNGroup walk now matches it: depth is
  // a PARAMETER, not a compile branch). The m48 recursion applied once
  // more: a LEVEL-3 repetition is a greedy chain of level-2 repetitions
  // punctuated by the earliest X, then X bound; an OUTER repetition a
  // greedy chain of level-3 repetitions punctuated by the earliest Y,
  // then Y bound — reluctant close and greedy-no-backtracking at every
  // level. V/W/X/Y split the error+purchase stream on value thirds (the
  // corpus has five event types and the pattern needs seven predicates).
  // Oracle: the m48 speculation-checkpoint CTE with a THIRD checkpoint
  // level — the walk descends carrying the LEVEL-2 (a2), LEVEL-3 (a3)
  // and OUTER (ao) attempt checkpoints; completed reps replay the
  // punctuation rule against the next level up ('mid1'/'mid2'/'mid3'
  // phases) and failures cascade through every level above. Every row
  // still has exactly ONE successor.
  private val m52: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(Y.ts) AS grp_last_ts, COUNT(Y.ts) AS n_outer,
        |           COUNT(X.ts) AS n_mid3, COUNT(W.ts) AS n_mid2,
        |           COUNT(V.ts) AS n_mid, COUNT(B.ts) AS n_inner
        |  PATTERN (S (((((B C)+ V)+ W)+ X)+ Y)+)
        |  WITHIN INTERVAL '960' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase' AND W.value < 30,
        |         X AS event_type = 'purchase' AND X.value >= 30 AND X.value < 70,
        |         Y AS event_type = 'purchase' AND Y.value >= 70
        |)""".stripMargin)
  private val m52Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='view'),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase' AND value < 30),
      |x AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase' AND value >= 30 AND value < 70),
      |y AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase' AND value >= 70),
      |subs AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 960 HOURS
      |  GROUP BY 1, 2),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |xnextw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(x.ts) AS x_ts
      |  FROM w LEFT JOIN x ON x.user_id = w.user_id AND x.ts > w.ts
      |  GROUP BY 1, 2),
      |ynextx AS (
      |  SELECT x.user_id, x.ts AS x_ts, min(y.ts) AS y_ts
      |  FROM x LEFT JOIN y ON y.user_id = x.user_id AND y.ts > x.ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |nsubx AS (
      |  SELECT x.user_id, x.ts AS x_ts, min(su.b_ts) AS nb
      |  FROM x LEFT JOIN subs su ON su.user_id = x.user_id AND su.b_ts > x.ts
      |  GROUP BY 1, 2),
      |nsuby AS (
      |  SELECT y.user_id, y.ts AS y_ts, min(su.b_ts) AS nb
      |  FROM y LEFT JOIN subs su ON su.user_id = y.user_id AND su.b_ts > y.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 960 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end, e.b1 AS first_b,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS a2_mid, CAST(0 AS BIGINT) AS a2_inner,
      |         CAST(NULL AS TIMESTAMP) AS a2_gend,
      |         CAST(0 AS BIGINT) AS a3_m2, CAST(0 AS BIGINT) AS a3_mid,
      |         CAST(0 AS BIGINT) AS a3_inner,
      |         CAST(NULL AS TIMESTAMP) AS a3_gend,
      |         CAST(0 AS BIGINT) AS ao_m3, CAST(0 AS BIGINT) AS ao_m2,
      |         CAST(0 AS BIGINT) AS ao_mid, CAST(0 AS BIGINT) AS ao_inner,
      |         CAST(NULL AS TIMESTAMP) AS ao_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS m3_done,
      |         CAST(0 AS BIGINT) AS m2_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end, first_b,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('abs2_spec','abs3_spec','absO_spec','newatt') THEN nr_b
      |              ELSE cur_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='close1' THEN vts
      |              WHEN mode IN ('abs2_spec','abs3_spec','absO_spec','newatt') THEN nr_e
      |              WHEN mode IN ('chfail2','rej2') THEN wgts
      |              WHEN mode='abs2_close' THEN w2ts
      |              WHEN mode IN ('chfail3','rej3') THEN xgts
      |              WHEN mode='abs3_close' THEN x2ts
      |              ELSE cur_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('abs2_spec','abs3_spec','absO_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN a2_mid + 1
      |              WHEN mode IN ('abs3_spec','abs3_close','chfail3','rej3','absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a2_mid END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN a2_inner + chain_k
      |              WHEN mode IN ('abs3_spec','abs3_close','chfail3','rej3','absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a2_inner END,
      |         CASE WHEN mode IN ('abs2_spec','abs2_close') THEN cur_e
      |              WHEN mode IN ('abs3_spec','abs3_close','chfail3','rej3','absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE a2_gend END,
      |         CASE WHEN mode IN ('abs3_spec','abs3_close') THEN a3_m2 + 1
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a3_m2 END,
      |         CASE WHEN mode IN ('abs3_spec','abs3_close') THEN a3_mid + a2_mid
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a3_mid END,
      |         CASE WHEN mode IN ('abs3_spec','abs3_close') THEN a3_inner + a2_inner
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE a3_inner END,
      |         CASE WHEN mode IN ('abs3_spec','abs3_close') THEN cur_e
      |              WHEN mode IN ('absO_spec','absO_close','chfailO','rejO','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE a3_gend END,
      |         CASE WHEN mode='absO_spec' THEN ao_m3 + 1
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_m3 END,
      |         CASE WHEN mode='absO_spec' THEN ao_m2 + a3_m2
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_m2 END,
      |         CASE WHEN mode='absO_spec' THEN ao_mid + a3_mid
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_mid END,
      |         CASE WHEN mode='absO_spec' THEN ao_inner + a3_inner
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE ao_inner END,
      |         CASE WHEN mode='absO_spec' THEN cur_e
      |              WHEN mode IN ('absO_close','chfailO','rejO','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE ao_gend END,
      |         CASE WHEN mode IN ('absO_close','chfailO','rejO') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode='absO_close' THEN m3_done + ao_m3 + 1
      |              WHEN mode IN ('chfailO','rejO') THEN m3_done + ao_m3
      |              ELSE m3_done END,
      |         CASE WHEN mode='absO_close' THEN m2_done + ao_m2 + a3_m2
      |              WHEN mode IN ('chfailO','rejO') THEN m2_done + ao_m2
      |              ELSE m2_done END,
      |         CASE WHEN mode='absO_close' THEN mid_done + ao_mid + a3_mid
      |              WHEN mode IN ('chfailO','rejO') THEN mid_done + ao_mid
      |              ELSE mid_done END,
      |         CASE WHEN mode='absO_close' THEN inner_done + ao_inner + a3_inner
      |              WHEN mode IN ('chfailO','rejO') THEN inner_done + ao_inner
      |              ELSE inner_done END,
      |         CASE WHEN mode='absO_close' THEN y2ts
      |              WHEN mode IN ('chfailO','rejO') THEN ygts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('absO_close','chfailO','rejO') THEN 'closed'
      |              WHEN mode='close1' THEN 'mid1'
      |              WHEN mode IN ('chfail2','abs2_close','rej2') THEN 'mid2'
      |              WHEN mode IN ('chfail3','abs3_close','rej3') THEN 'mid3'
      |              ELSE 'chain' END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, vn.v_ts AS vts,
      |           wg.w_ts AS wgts, w2.w_ts AS w2ts,
      |           xg.x_ts AS xgts, x2.x_ts AS x2ts,
      |           yg.y_ts AS ygts, y2.y_ts AS y2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'close1'
      |           WHEN wk.phase = 'chain' AND wk.a2_mid > 0
      |                AND wg.w_ts IS NOT NULL AND wg.w_ts <= wk.w_end
      |                THEN 'chfail2'
      |           WHEN wk.phase = 'chain' AND wk.a3_m2 > 0
      |                AND xg.x_ts IS NOT NULL AND xg.x_ts <= wk.w_end
      |                THEN 'chfail3'
      |           WHEN wk.phase = 'chain' AND wk.ao_m3 > 0
      |                AND yg.y_ts IS NOT NULL AND yg.y_ts <= wk.w_end
      |                THEN 'chfailO'
      |           WHEN wk.phase = 'mid1' AND (wk.a2_mid = 0
      |                OR wg.w_ts IS NULL OR wg.w_ts > wk.w_end
      |                OR wk.cur_e < wg.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'abs2_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'abs2_close'
      |                  -- no next sub AND no W after the absorbed rep: the
      |                  -- level-2 attempt dies and the cascade closes the
      |                  -- NEXT level up that can close (level 3, else outer)
      |                  WHEN wk.a3_m2 > 0 AND xg.x_ts IS NOT NULL
      |                       AND xg.x_ts <= wk.w_end THEN 'chfail3'
      |                  WHEN wk.ao_m3 > 0 AND yg.y_ts IS NOT NULL
      |                       AND yg.y_ts <= wk.w_end THEN 'chfailO' END
      |           WHEN wk.phase = 'mid1' THEN 'rej2'
      |           WHEN wk.phase = 'mid2' AND (wk.a3_m2 = 0
      |                OR xg.x_ts IS NULL OR xg.x_ts > wk.w_end
      |                OR wk.cur_e < xg.x_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'abs3_spec'
      |                  WHEN x2.x_ts IS NOT NULL AND x2.x_ts <= wk.w_end
      |                  THEN 'abs3_close'
      |                  WHEN wk.ao_m3 > 0 AND yg.y_ts IS NOT NULL
      |                       AND yg.y_ts <= wk.w_end THEN 'chfailO' END
      |           WHEN wk.phase = 'mid2' THEN 'rej3'
      |           WHEN wk.phase = 'mid3' AND (wk.ao_m3 = 0
      |                OR yg.y_ts IS NULL OR yg.y_ts > wk.w_end
      |                OR wk.cur_e < yg.y_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absO_spec'
      |                  WHEN y2.y_ts IS NOT NULL AND y2.y_ts <= wk.w_end
      |                  THEN 'absO_close' END
      |           WHEN wk.phase = 'mid3' THEN 'rejO'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wg ON wg.user_id = wk.user_id
      |                        AND wg.v_ts = wk.a2_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid1' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN xnextw xg ON xg.user_id = wk.user_id
      |                        AND xg.w_ts = wk.a3_gend
      |    LEFT JOIN xnextw x2 ON wk.phase='mid2' AND x2.user_id = wk.user_id
      |                        AND x2.w_ts = wk.cur_e
      |    LEFT JOIN ynextx yg ON yg.user_id = wk.user_id
      |                        AND yg.x_ts = wk.ao_gend
      |    LEFT JOIN ynextx y2 ON wk.phase='mid3' AND y2.user_id = wk.user_id
      |                        AND y2.x_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid1' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='mid2' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.cur_e
      |    LEFT JOIN nsubx nx3 ON wk.phase='mid3' AND nx3.user_id = wk.user_id
      |                        AND nx3.x_ts = wk.cur_e
      |    LEFT JOIN nsuby nr0 ON wk.phase='closed' AND nr0.user_id = wk.user_id
      |                        AND nr0.y_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb, nx3.nb, nr0.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, first_b, match_end, n_done, m3_done, m2_done,
      |         mid_done, inner_done,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, s_ts AS signup_ts, first_b AS grp_first_ts,
      |       match_end AS grp_last_ts, n_done AS n_outer, m3_done AS n_mid3,
      |       m2_done AS n_mid2, mid_done AS n_mid, inner_done AS n_inner
      |FROM best WHERE rn = 1""".stripMargin

  // --- m57: DEPTH-5 nested group `S ((((((B C)+ V)+ W)+ X)+ Y)+ Z)+`
  // (r20 — the recursive PATTERN parse lifted the SQL front door's former
  // depth-4 cap; the followedByNestedNGroup walk has been depth-parametric
  // since r18, matching reference flink-cep GroupPattern.java:30 which
  // composes recursively without limit). Predicates: the five-way split of
  // the error+purchase stream — V errors, W/X/Y/Z the purchase value
  // QUARTILES (the corpus has five event types and the pattern needs
  // eight predicates). Oracle: GENERATED by [[NestedOracle.countWalk]] —
  // the m48/m52 speculation-checkpoint recursive CTE with the checkpoint
  // levels emitted by a loop instead of spelled case-by-case;
  // `NestedOracleParitySpec` pins the generator at depth 4 against the
  // committed hand-written m52 oracle on the same corpus.
  private val m57: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(Z.ts) AS grp_last_ts, COUNT(Z.ts) AS n_outer,
        |           COUNT(Y.ts) AS n_mid4, COUNT(X.ts) AS n_mid3,
        |           COUNT(W.ts) AS n_mid2, COUNT(V.ts) AS n_mid,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((((((B C)+ V)+ W)+ X)+ Y)+ Z)+)
        |  WITHIN INTERVAL '960' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase' AND W.value < 25,
        |         X AS event_type = 'purchase' AND X.value >= 25 AND X.value < 50,
        |         Y AS event_type = 'purchase' AND Y.value >= 50 AND Y.value < 75,
        |         Z AS event_type = 'purchase' AND Z.value >= 75
        |)""".stripMargin)
  private[graft] val m57Sql = NestedOracle.countWalk(5, 960,
    "event_type='signup'", "event_type='click'", "event_type='view'",
    Seq("event_type='error'",
      "event_type='purchase' AND value < 25",
      "event_type='purchase' AND value >= 25 AND value < 50",
      "event_type='purchase' AND value >= 50 AND value < 75",
      "event_type='purchase' AND value >= 75"))

  // --- m53: ALL ROWS PER MATCH + member VALUE measures over the DEPTH-2
  // nested group (r18, lifting the r16 named mutual exclusion "per-row
  // running value snapshots are one-level only"): each materialized row
  // carries the RUNNING SUM/COUNT of C's bound value AS OF the row (own
  // contribution included) — the value contributions resolve through the
  // same two pending levels as the running counts: a level-1 repetition's
  // values enter the row snapshots at ABSORB time and commit with the
  // outer repetition; rejected speculations discard theirs. Oracle: the
  // m42 committed-row-list CTE with value state at every level — chain
  // (cvs/cvc), outer attempt (avs/avc), committed (dvs/dvc) — and
  // null-aware addition (the engine's vsum stays NULL until the first
  // non-null value; null-valued bindings count 0).
  private val m53: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, SUM(C.value) AS sum_c,
        |           COUNT(C.value) AS cnt_c, MIN(C.value) AS min_c,
        |           MAX(C.value) AS max_c, COUNT(W.ts) AS n_reps
        |  ALL ROWS PER MATCH
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
      .select("user_id", "cls", "ts", "signup_ts", "sum_c", "cnt_c",
        "min_c", "max_c", "n_reps")
  private val m53Sql =
    """WITH RECURSIVE
      |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='signup'),
      |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='click'),
      |cg AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, min(value) AS val
      |       FROM events WHERE event_type='view' GROUP BY 1, 2),
      |v AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='error'),
      |w AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts FROM events WHERE event_type='purchase'),
      |subs0 AS (
      |  SELECT b.user_id, b.ts AS b_ts, min(c.ts) AS e_ts
      |  FROM b JOIN cg c ON c.user_id = b.user_id AND c.ts > b.ts
      |              AND c.ts <= b.ts + INTERVAL 96 HOURS
      |  GROUP BY 1, 2),
      |subs AS (
      |  SELECT s0.user_id, s0.b_ts, s0.e_ts, c.val
      |  FROM subs0 s0 JOIN cg c ON c.user_id = s0.user_id AND c.ts = s0.e_ts),
      |link AS (
      |  SELECT s1.user_id, s1.b_ts, min(s2.b_ts) AS nb
      |  FROM subs s1 LEFT JOIN subs s2 ON s2.user_id = s1.user_id AND s2.b_ts > s1.e_ts
      |  GROUP BY 1, 2),
      |vnext AS (
      |  SELECT su.user_id, su.b_ts, min(v.ts) AS v_ts
      |  FROM subs su LEFT JOIN v ON v.user_id = su.user_id AND v.ts > su.e_ts
      |  GROUP BY 1, 2),
      |nsubv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(su.b_ts) AS nb
      |  FROM v LEFT JOIN subs su ON su.user_id = v.user_id AND su.b_ts > v.ts
      |  GROUP BY 1, 2),
      |wnextv AS (
      |  SELECT v.user_id, v.ts AS v_ts, min(w.ts) AS w_ts
      |  FROM v LEFT JOIN w ON w.user_id = v.user_id AND w.ts > v.ts
      |  GROUP BY 1, 2),
      |nsubw AS (
      |  SELECT w.user_id, w.ts AS w_ts, min(su.b_ts) AS nb
      |  FROM w LEFT JOIN subs su ON su.user_id = w.user_id AND su.b_ts > w.ts
      |  GROUP BY 1, 2),
      |entry AS (
      |  SELECT s.user_id, s.ts AS s_ts, s.ts + INTERVAL 96 HOURS AS w_end,
      |         min(su.b_ts) AS b1
      |  FROM s JOIN subs su ON su.user_id = s.user_id AND su.b_ts > s.ts
      |  GROUP BY 1, 2, 3),
      |walk AS (
      |  SELECT e.user_id, e.s_ts, e.w_end,
      |         su.b_ts AS cur_b, su.e_ts AS cur_e,
      |         CAST(1 AS BIGINT) AS chain_k,
      |         CAST(0 AS BIGINT) AS att_mid, CAST(0 AS BIGINT) AS att_inner,
      |         CAST(NULL AS TIMESTAMP) AS att_gend,
      |         CAST(0 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS mid_done,
      |         CAST(0 AS BIGINT) AS inner_done,
      |         CAST(NULL AS TIMESTAMP) AS match_end, 'chain' AS phase,
      |         su.val AS cvs,
      |         CASE WHEN su.val IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS cvc,
      |         CAST(NULL AS DOUBLE) AS avs, CAST(0 AS BIGINT) AS avc,
      |         CAST(NULL AS DOUBLE) AS dvs, CAST(0 AS BIGINT) AS dvc,
      |         su.val AS cmn, su.val AS cmx,
      |         CAST(NULL AS DOUBLE) AS amn, CAST(NULL AS DOUBLE) AS amx,
      |         CAST(NULL AS DOUBLE) AS dmn, CAST(NULL AS DOUBLE) AS dmx,
      |         [{'ts': su.b_ts, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': CAST(0 AS BIGINT),
      |           'vs': CAST(NULL AS DOUBLE), 'vc': CAST(0 AS BIGINT),
      |           'mn': CAST(NULL AS DOUBLE), 'mx': CAST(NULL AS DOUBLE)},
      |          {'ts': su.e_ts, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': CAST(1 AS BIGINT),
      |           'vs': su.val,
      |           'vc': CASE WHEN su.val IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
      |           'mn': su.val, 'mx': su.val}] AS r1_rows,
      |         CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, reps BIGINT, mids BIGINT, subs BIGINT, vs DOUBLE, vc BIGINT, mn DOUBLE, mx DOUBLE)[]) AS att_rows,
      |         CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, reps BIGINT, mids BIGINT, subs BIGINT, vs DOUBLE, vc BIGINT, mn DOUBLE, mx DOUBLE)[]) AS dn_rows
      |  FROM entry e JOIN subs su ON su.user_id = e.user_id AND su.b_ts = e.b1
      |  WHERE su.e_ts <= e.w_end
      |  UNION ALL
      |  SELECT user_id, s_ts, w_end,
      |         CASE WHEN mode='extend' THEN nx_b
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_b END,
      |         CASE WHEN mode='extend' THEN nx_e
      |              WHEN mode='closer1' THEN vts
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_e END,
      |         CASE WHEN mode='extend' THEN chain_k + 1
      |              WHEN mode IN ('absorb_spec','newatt') THEN CAST(1 AS BIGINT)
      |              ELSE chain_k END,
      |         CASE WHEN mode='absorb_spec' THEN att_mid + 1
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_mid END,
      |         CASE WHEN mode='absorb_spec' THEN att_inner + chain_k
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE att_inner END,
      |         CASE WHEN mode='absorb_spec' THEN cur_e
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS TIMESTAMP)
      |              ELSE att_gend END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN n_done + 1 ELSE n_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN mid_done + att_mid
      |              WHEN mode='absorb_close' THEN mid_done + att_mid + 1
      |              ELSE mid_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN inner_done + att_inner
      |              WHEN mode='absorb_close' THEN inner_done + att_inner + chain_k
      |              ELSE inner_done END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN wcand
      |              WHEN mode='absorb_close' THEN w2ts
      |              ELSE match_end END,
      |         CASE WHEN mode IN ('chfail_close','absorb_close','reject_close') THEN 'closed'
      |              WHEN mode='closer1' THEN 'mid' ELSE 'chain' END,
      |         CASE WHEN mode='extend' THEN
      |                CASE WHEN nx_val IS NULL THEN cvs WHEN cvs IS NULL THEN nx_val ELSE cvs + nx_val END
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_val
      |              ELSE cvs END,
      |         CASE WHEN mode='extend' THEN cvc + (CASE WHEN nx_val IS NULL THEN 0 ELSE 1 END)
      |              WHEN mode IN ('absorb_spec','newatt') THEN
      |                CASE WHEN nr_val IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
      |              ELSE cvc END,
      |         CASE WHEN mode='absorb_spec' THEN
      |                CASE WHEN cvs IS NULL THEN avs WHEN avs IS NULL THEN cvs ELSE avs + cvs END
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS DOUBLE)
      |              ELSE avs END,
      |         CASE WHEN mode='absorb_spec' THEN avc + cvc
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(0 AS BIGINT)
      |              ELSE avc END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN
      |                CASE WHEN avs IS NULL THEN dvs WHEN dvs IS NULL THEN avs ELSE dvs + avs END
      |              WHEN mode='absorb_close' THEN
      |                CASE WHEN dvs IS NULL THEN
      |                       (CASE WHEN avs IS NULL THEN cvs WHEN cvs IS NULL THEN avs ELSE avs + cvs END)
      |                     WHEN avs IS NULL AND cvs IS NULL THEN dvs
      |                     ELSE dvs + COALESCE(avs, 0) + COALESCE(cvs, 0) END
      |              ELSE dvs END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN dvc + avc
      |              WHEN mode='absorb_close' THEN dvc + avc + cvc
      |              ELSE dvc END,
      |         CASE WHEN mode='extend' THEN CASE WHEN cmn IS NULL THEN nx_val WHEN nx_val IS NULL THEN cmn WHEN cmn <= nx_val THEN cmn ELSE nx_val END
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_val
      |              ELSE cmn END,
      |         CASE WHEN mode='extend' THEN CASE WHEN cmx IS NULL THEN nx_val WHEN nx_val IS NULL THEN cmx WHEN cmx >= nx_val THEN cmx ELSE nx_val END
      |              WHEN mode IN ('absorb_spec','newatt') THEN nr_val
      |              ELSE cmx END,
      |         CASE WHEN mode='absorb_spec' THEN CASE WHEN amn IS NULL THEN cmn WHEN cmn IS NULL THEN amn WHEN amn <= cmn THEN amn ELSE cmn END
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS DOUBLE)
      |              ELSE amn END,
      |         CASE WHEN mode='absorb_spec' THEN CASE WHEN amx IS NULL THEN cmx WHEN cmx IS NULL THEN amx WHEN amx >= cmx THEN amx ELSE cmx END
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt') THEN CAST(NULL AS DOUBLE)
      |              ELSE amx END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END
      |              WHEN mode='absorb_close' THEN CASE WHEN dmn IS NULL THEN (CASE WHEN amn IS NULL THEN cmn WHEN cmn IS NULL THEN amn WHEN amn <= cmn THEN amn ELSE cmn END) WHEN (CASE WHEN amn IS NULL THEN cmn WHEN cmn IS NULL THEN amn WHEN amn <= cmn THEN amn ELSE cmn END) IS NULL THEN dmn WHEN dmn <= (CASE WHEN amn IS NULL THEN cmn WHEN cmn IS NULL THEN amn WHEN amn <= cmn THEN amn ELSE cmn END) THEN dmn ELSE (CASE WHEN amn IS NULL THEN cmn WHEN cmn IS NULL THEN amn WHEN amn <= cmn THEN amn ELSE cmn END) END
      |              ELSE dmn END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END
      |              WHEN mode='absorb_close' THEN CASE WHEN dmx IS NULL THEN (CASE WHEN amx IS NULL THEN cmx WHEN cmx IS NULL THEN amx WHEN amx >= cmx THEN amx ELSE cmx END) WHEN (CASE WHEN amx IS NULL THEN cmx WHEN cmx IS NULL THEN amx WHEN amx >= cmx THEN amx ELSE cmx END) IS NULL THEN dmx WHEN dmx >= (CASE WHEN amx IS NULL THEN cmx WHEN cmx IS NULL THEN amx WHEN amx >= cmx THEN amx ELSE cmx END) THEN dmx ELSE (CASE WHEN amx IS NULL THEN cmx WHEN cmx IS NULL THEN amx WHEN amx >= cmx THEN amx ELSE cmx END) END
      |              ELSE dmx END,
      |         CASE WHEN mode='extend' THEN r1_rows ||
      |                [{'ts': nx_b, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': chain_k,
      |                  'vs': cvs, 'vc': cvc, 'mn': cmn, 'mx': cmx},
      |                 {'ts': nx_e, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': chain_k + 1,
      |                  'vs': CASE WHEN nx_val IS NULL THEN cvs WHEN cvs IS NULL THEN nx_val ELSE cvs + nx_val END,
      |                  'vc': cvc + (CASE WHEN nx_val IS NULL THEN 0 ELSE 1 END),
      |                  'mn': CASE WHEN cmn IS NULL THEN nx_val WHEN nx_val IS NULL THEN cmn WHEN cmn <= nx_val THEN cmn ELSE nx_val END, 'mx': CASE WHEN cmx IS NULL THEN nx_val WHEN nx_val IS NULL THEN cmx WHEN cmx >= nx_val THEN cmx ELSE nx_val END}]
      |              WHEN mode='closer1' THEN r1_rows ||
      |                [{'ts': vts, 'cls': 'V', 'md': CAST(1 AS BIGINT), 'sl': chain_k,
      |                  'vs': cvs, 'vc': cvc, 'mn': cmn, 'mx': cmx}]
      |              WHEN mode IN ('absorb_spec','newatt') THEN
      |                [{'ts': nr_b, 'cls': 'B', 'md': CAST(0 AS BIGINT), 'sl': CAST(0 AS BIGINT),
      |                  'vs': CAST(NULL AS DOUBLE), 'vc': CAST(0 AS BIGINT),
      |                  'mn': CAST(NULL AS DOUBLE), 'mx': CAST(NULL AS DOUBLE)},
      |                 {'ts': nr_e, 'cls': 'C', 'md': CAST(0 AS BIGINT), 'sl': CAST(1 AS BIGINT),
      |                  'vs': nr_val,
      |                  'vc': CASE WHEN nr_val IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END,
      |                  'mn': nr_val, 'mx': nr_val}]
      |              ELSE r1_rows END,
      |         CASE WHEN mode='absorb_spec' THEN att_rows ||
      |                list_transform(r1_rows, q -> {'ts': q.ts, 'cls': q.cls,
      |                  'reps': n_done, 'mids': mid_done + att_mid + q.md,
      |                  'subs': inner_done + att_inner + q.sl,
      |                  'vs': CASE WHEN q.vs IS NULL THEN avs WHEN avs IS NULL THEN q.vs ELSE avs + q.vs END,
      |                  'vc': avc + q.vc,
      |                  'mn': CASE WHEN amn IS NULL THEN q.mn WHEN q.mn IS NULL THEN amn WHEN amn <= q.mn THEN amn ELSE q.mn END, 'mx': CASE WHEN amx IS NULL THEN q.mx WHEN q.mx IS NULL THEN amx WHEN amx >= q.mx THEN amx ELSE q.mx END})
      |              WHEN mode IN ('chfail_close','absorb_close','reject_close','newatt')
      |                THEN CAST([] AS STRUCT(ts TIMESTAMP, cls VARCHAR, reps BIGINT, mids BIGINT, subs BIGINT, vs DOUBLE, vc BIGINT, mn DOUBLE, mx DOUBLE)[])
      |              ELSE att_rows END,
      |         CASE WHEN mode IN ('chfail_close','reject_close') THEN dn_rows ||
      |                list_transform(att_rows, q -> {'ts': q.ts, 'cls': q.cls,
      |                  'reps': q.reps, 'mids': q.mids, 'subs': q.subs,
      |                  'vs': CASE WHEN q.vs IS NULL THEN dvs WHEN dvs IS NULL THEN q.vs ELSE dvs + q.vs END,
      |                  'vc': dvc + q.vc,
      |                  'mn': CASE WHEN dmn IS NULL THEN q.mn WHEN q.mn IS NULL THEN dmn WHEN dmn <= q.mn THEN dmn ELSE q.mn END, 'mx': CASE WHEN dmx IS NULL THEN q.mx WHEN q.mx IS NULL THEN dmx WHEN dmx >= q.mx THEN dmx ELSE q.mx END}) ||
      |                [{'ts': wcand, 'cls': 'W', 'reps': n_done + 1,
      |                  'mids': mid_done + att_mid, 'subs': inner_done + att_inner,
      |                  'vs': CASE WHEN avs IS NULL THEN dvs WHEN dvs IS NULL THEN avs ELSE dvs + avs END,
      |                  'vc': dvc + avc,
      |                  'mn': CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END, 'mx': CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END}]
      |              WHEN mode='absorb_close' THEN dn_rows ||
      |                list_transform(att_rows, q -> {'ts': q.ts, 'cls': q.cls,
      |                  'reps': q.reps, 'mids': q.mids, 'subs': q.subs,
      |                  'vs': CASE WHEN q.vs IS NULL THEN dvs WHEN dvs IS NULL THEN q.vs ELSE dvs + q.vs END,
      |                  'vc': dvc + q.vc,
      |                  'mn': CASE WHEN dmn IS NULL THEN q.mn WHEN q.mn IS NULL THEN dmn WHEN dmn <= q.mn THEN dmn ELSE q.mn END, 'mx': CASE WHEN dmx IS NULL THEN q.mx WHEN q.mx IS NULL THEN dmx WHEN dmx >= q.mx THEN dmx ELSE q.mx END}) ||
      |                list_transform(r1_rows, q -> {'ts': q.ts, 'cls': q.cls,
      |                  'reps': n_done, 'mids': mid_done + att_mid + q.md,
      |                  'subs': inner_done + att_inner + q.sl,
      |                  'vs': CASE WHEN q.vs IS NULL THEN
      |                               (CASE WHEN avs IS NULL THEN dvs WHEN dvs IS NULL THEN avs ELSE dvs + avs END)
      |                             WHEN dvs IS NULL AND avs IS NULL THEN q.vs
      |                             ELSE COALESCE(dvs, 0) + COALESCE(avs, 0) + q.vs END,
      |                  'vc': dvc + avc + q.vc,
      |                  'mn': CASE WHEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) IS NULL THEN q.mn WHEN q.mn IS NULL THEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) WHEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) <= q.mn THEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) ELSE q.mn END,
      |                  'mx': CASE WHEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) IS NULL THEN q.mx WHEN q.mx IS NULL THEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) WHEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) >= q.mx THEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) ELSE q.mx END}) ||
      |                [{'ts': w2ts, 'cls': 'W', 'reps': n_done + 1,
      |                  'mids': mid_done + att_mid + 1, 'subs': inner_done + att_inner + chain_k,
      |                  'vs': CASE WHEN cvs IS NULL THEN
      |                               (CASE WHEN avs IS NULL THEN dvs WHEN dvs IS NULL THEN avs ELSE dvs + avs END)
      |                             WHEN dvs IS NULL AND avs IS NULL THEN cvs
      |                             ELSE COALESCE(dvs, 0) + COALESCE(avs, 0) + cvs END,
      |                  'vc': dvc + avc + cvc,
      |                  'mn': CASE WHEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) IS NULL THEN cmn WHEN cmn IS NULL THEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) WHEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) <= cmn THEN (CASE WHEN dmn IS NULL THEN amn WHEN amn IS NULL THEN dmn WHEN dmn <= amn THEN dmn ELSE amn END) ELSE cmn END,
      |                  'mx': CASE WHEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) IS NULL THEN cmx WHEN cmx IS NULL THEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) WHEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) >= cmx THEN (CASE WHEN dmx IS NULL THEN amx WHEN amx IS NULL THEN dmx WHEN dmx >= amx THEN dmx ELSE amx END) ELSE cmx END}]
      |              ELSE dn_rows END
      |  FROM (
      |    SELECT wk.*, nx.b_ts AS nx_b, nx.e_ts AS nx_e, nx.val AS nx_val,
      |           vn.v_ts AS vts,
      |           wc.w_ts AS wcand, w2.w_ts AS w2ts,
      |           nr.b_ts AS nr_b, nr.e_ts AS nr_e, nr.val AS nr_val,
      |      CASE WHEN wk.phase = 'chain' AND nx.b_ts IS NOT NULL
      |                AND nx.e_ts <= wk.w_end
      |                AND NOT (vn.v_ts IS NOT NULL AND vn.v_ts <= wk.w_end
      |                         AND nx.e_ts >= vn.v_ts) THEN 'extend'
      |           WHEN wk.phase = 'chain' AND vn.v_ts IS NOT NULL
      |                AND vn.v_ts <= wk.w_end THEN 'closer1'
      |           WHEN wk.phase = 'chain' AND wk.att_mid > 0
      |                AND wc.w_ts IS NOT NULL AND wc.w_ts <= wk.w_end
      |                THEN 'chfail_close'
      |           WHEN wk.phase = 'mid' AND (wk.att_mid = 0
      |                OR wc.w_ts IS NULL OR wc.w_ts > wk.w_end
      |                OR wk.cur_e < wc.w_ts) THEN
      |             CASE WHEN nr.b_ts IS NOT NULL AND nr.e_ts <= wk.w_end
      |                  THEN 'absorb_spec'
      |                  WHEN w2.w_ts IS NOT NULL AND w2.w_ts <= wk.w_end
      |                  THEN 'absorb_close' END
      |           WHEN wk.phase = 'mid' THEN 'reject_close'
      |           WHEN wk.phase = 'closed' AND nr.b_ts IS NOT NULL
      |                AND nr.e_ts <= wk.w_end THEN 'newatt'
      |      END AS mode
      |    FROM walk wk
      |    LEFT JOIN link l  ON wk.phase='chain' AND l.user_id = wk.user_id
      |                      AND l.b_ts = wk.cur_b
      |    LEFT JOIN subs nx ON nx.user_id = wk.user_id AND nx.b_ts = l.nb
      |    LEFT JOIN vnext vn ON wk.phase='chain' AND vn.user_id = wk.user_id
      |                       AND vn.b_ts = wk.cur_b
      |    LEFT JOIN wnextv wc ON wc.user_id = wk.user_id
      |                        AND wc.v_ts = wk.att_gend
      |    LEFT JOIN wnextv w2 ON wk.phase='mid' AND w2.user_id = wk.user_id
      |                        AND w2.v_ts = wk.cur_e
      |    LEFT JOIN nsubv nv ON wk.phase='mid' AND nv.user_id = wk.user_id
      |                       AND nv.v_ts = wk.cur_e
      |    LEFT JOIN nsubw nw ON wk.phase='closed' AND nw.user_id = wk.user_id
      |                       AND nw.w_ts = wk.match_end
      |    LEFT JOIN subs nr ON nr.user_id = wk.user_id
      |                      AND nr.b_ts = COALESCE(nv.nb, nw.nb)
      |  ) WHERE mode IS NOT NULL),
      |best AS (
      |  SELECT user_id, s_ts, n_done, dn_rows,
      |         row_number() OVER (PARTITION BY user_id, s_ts
      |                            ORDER BY n_done DESC) AS rn
      |  FROM walk WHERE phase = 'closed')
      |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
      |       CAST(NULL AS DOUBLE) AS sum_c, CAST(0 AS BIGINT) AS cnt_c,
      |       CAST(NULL AS DOUBLE) AS min_c, CAST(NULL AS DOUBLE) AS max_c,
      |       CAST(0 AS BIGINT) AS n_reps
      |FROM best WHERE rn = 1
      |UNION ALL
      |SELECT bb.user_id, u.r.cls, u.r.ts, bb.s_ts, u.r.vs, u.r.vc,
      |       u.r.mn, u.r.mx, u.r.reps
      |FROM best bb, UNNEST(bb.dn_rows) AS u(r)
      |WHERE bb.rn = 1""".stripMargin

  // --- m54: reluctant ZERO-MINIMUM quantifier `C*?` — the ELEMENT-ABSENT
  // lowering (r18, upgrading the r17 named rejection: under the engine's
  // documented relaxed-contiguity earliest-match semantics, reluctance
  // prefers zero occurrences and zero is ALWAYS achievable — surplus
  // candidates are ignored, not consumed — so the variable never binds;
  // the m35 reluctant-collapse argument extended to minimum zero). The
  // compiled pattern drops the element; measures over it read null/0.
  // `S C*? P` is therefore signup -> first purchase with COUNT(C)=0,
  // SUM(C.value)=null on every match — which the oracle states directly.
  private val m54: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, P.ts AS purchase_ts,
        |           COUNT(C.ts) AS n_c, SUM(C.value) AS sum_c
        |  PATTERN (S C*? P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
      .select("user_id", "signup_ts", "purchase_ts", "n_c", "sum_c")
  private val m54Sql =
    """SELECT s.user_id, CAST(s.ts AS TIMESTAMP) AS signup_ts,
      |       min(CAST(p.ts AS TIMESTAMP)) AS purchase_ts,
      |       CAST(0 AS BIGINT) AS n_c, CAST(NULL AS DOUBLE) AS sum_c
      |FROM events s JOIN events p
      |  ON p.user_id = s.user_id AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) > CAST(s.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP) + INTERVAL 24 HOURS
      |WHERE s.event_type = 'signup'
      |GROUP BY 1, 2""".stripMargin

  // --- m55: composite ORDER BY tiebreak on a PLAIN alternation (r18,
  // lifting the m20-era named rejection for the unquantified shape —
  // reference StreamExecMatch sorts rows by time attribute + secondary
  // keys BEFORE the NFA sees them, so the tiebreak legitimately steers
  // which same-timestamp event, and hence WHICH BRANCH, binds): the ties
  // lead the binding payload ahead of the classifier — lexicographic
  // (ts, tie1, cls). Quantified alternations keep the named rejection
  // with the impossibility argument (there the classifier feeds
  // per-branch COUNTS, so a tie-steered member changes the aggregate
  // shape, not just which payload is read). Ties manufactured the m30
  // way (hour-truncated ts + event_id div 100). Oracle: anchors per
  // DISTINCT (user, coarse ts, bound tie) — the engine's anchor frame
  // carries the tiebreak as an S bind column, so coarse-duplicate
  // signups stay distinct anchors exactly when their ties differ — the
  // alternation bound by row_number over (ts, tie1, cls).
  private val m55: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(
      ev(s, dir).withColumn("ts", date_trunc("hour", col("ts")))
        .withColumn("tie1", expr("event_id div 100")),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, tie1
        |  MEASURES S.ts AS signup_ts, C_V.ts AS x_ts, C_V.tie1 AS x_tie,
        |           C_V.cls AS x_cls, P.ts AS purchase_ts
        |  PATTERN (S (C|V) P)
        |  WITHIN INTERVAL '72' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .select("user_id", "signup_ts", "x_ts", "x_tie", "x_cls", "purchase_ts")
  private val m55Sql =
    """WITH e AS (SELECT user_id, event_id, event_id // 100 AS tie1,
      |            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
      |            event_type FROM events),
      |s AS (SELECT DISTINCT user_id, ts, tie1 AS tie0 FROM e
      |      WHERE event_type='signup'),
      |x AS (SELECT user_id, ts, tie1,
      |       CASE WHEN event_type='click' THEN 'C' ELSE 'V' END AS cls
      |      FROM e WHERE event_type IN ('click','view')),
      |p AS (SELECT user_id, ts FROM e WHERE event_type='purchase'),
      |m1 AS (SELECT user_id, tie0, t0, t1, tie1, cls FROM (
      |   SELECT s.user_id, s.tie0, s.ts AS t0, x.ts AS t1, x.tie1, x.cls,
      |          row_number() OVER (PARTITION BY s.user_id, s.ts, s.tie0
      |                             ORDER BY x.ts, x.tie1, x.cls) rn
      |   FROM s JOIN x ON x.user_id = s.user_id AND x.ts > s.ts
      |                AND x.ts <= s.ts + INTERVAL 72 HOURS) WHERE rn = 1),
      |m2 AS (SELECT m1.user_id, tie0, t0, t1, tie1, cls, min(p.ts) AS t2
      |       FROM m1 JOIN p ON p.user_id = m1.user_id AND p.ts > t1
      |                     AND p.ts <= t0 + INTERVAL 72 HOURS
      |       GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT user_id, t0 AS signup_ts, t1 AS x_ts, tie1 AS x_tie,
      |       cls AS x_cls, t2 AS purchase_ts FROM m2""".stripMargin

  // --- m56: running FIRST/LAST per-row value snapshots under ALL ROWS
  // (r19, lifting the LAST per-row value named rejection — reference
  // StreamExecMatch emits running measures per row for every aggregate
  // kind): the walk carries a (value, positional bind count) pair per
  // bound member, so a NULL first binding freezes FIRST correctly — the
  // rejection's objection ("positional semantics include null bindings,
  // which a per-row nullable double cannot carry unambiguously") is
  // answered by carrying nullability SEPARATELY in the walk state; the
  // emitted column is the resolved value. Oracle: m42's committed-row
  // walk BYTE-IDENTICAL (reused programmatically below), then running
  // FIRST/LAST/MAX as window functions over the committed row list —
  // valid because the engine's commit-at-absorb discipline makes the
  // snapshot at row r exactly the aggregate over the value-carrying
  // committed rows at-or-before r (discarded speculations never enter
  // the committed list). The oracle's IGNORE-NULLS windows cover the
  // NON-NULL corpus (the testdata value column is non-null); the
  // positional null-freeze semantics the columns carry are pinned by the
  // dedicated hand-corpus spec (MatchRecognizeSpec), which an
  // IGNORE-NULLS replay could not express.
  private val m56: Q = (s, dir) =>
    graft.cep.MatchRecognize.detect(ev(s, dir),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.value) AS first_c,
        |           LAST(C.value) AS last_c, MAX(C.value) AS max_c,
        |           COUNT(W.ts) AS n_reps
        |  ALL ROWS PER MATCH
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '96' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin)
      .select("user_id", "cls", "ts", "signup_ts", "first_c", "last_c",
        "max_c", "n_reps")
  private val m56Sql: String = {
    // reuse m42's walk verbatim: cut at its final SELECT, wrap the two
    // ALL-ROWS selects into a CTE, then window over the committed rows
    val cut = m42Sql.indexOf("SELECT user_id, 'S' AS cls")
    require(cut > 0, "m56Sql: m42Sql anchor not found")
    m42Sql.substring(0, cut).trim + ",\n" +
      """allr AS (
        |SELECT user_id, 'S' AS cls, s_ts AS ts, s_ts AS signup_ts,
        |       CAST(0 AS BIGINT) AS n_reps
        |FROM best WHERE rn = 1
        |UNION ALL
        |SELECT b.user_id, u.r.cls, u.r.ts, b.s_ts, u.r.reps
        |FROM best b, UNNEST(b.dn_rows) AS u(r)
        |WHERE b.rn = 1),
        |cg AS (SELECT user_id, CAST(ts AS TIMESTAMP) ts, min(value) AS val
        |       FROM events WHERE event_type='view' GROUP BY 1, 2)
        |SELECT a.user_id, a.cls, a.ts, a.signup_ts,
        |       first_value(CASE WHEN a.cls='C' THEN cg.val END IGNORE NULLS)
        |         OVER w AS first_c,
        |       last_value(CASE WHEN a.cls='C' THEN cg.val END IGNORE NULLS)
        |         OVER w AS last_c,
        |       max(CASE WHEN a.cls='C' THEN cg.val END) OVER w AS max_c,
        |       a.n_reps
        |FROM allr a LEFT JOIN cg ON cg.user_id = a.user_id AND cg.ts = a.ts
        |WINDOW w AS (PARTITION BY a.user_id, a.signup_ts ORDER BY a.ts
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "w25_cascading_windows" -> w25, "w26_cep_timeout" -> w26,
    "w27_cep_followed_by_any" -> w27, "w28_cep_combinations" -> w28,
    "w17_time_evictor" -> w17, "w18_count_evictor" -> w18, "w19_cep_alternation" -> w19,
    "w20_sliding_count_window" -> w20, "w21_cep_strict" -> w21,
    "w22_cep_consecutive" -> w22, "w23_delta_evictor" -> w23,
    "w24_dynamic_session" -> w24,
    "w12_sql_tumble" -> w12, "w13_temporal_join" -> w13,
    "w14_cep_relative" -> w14, "w15_sql_hop" -> w15, "w16_sql_session" -> w16,
    "w01_tumble_agg" -> w01, "w02_hop_agg" -> w02, "w03_session_agg" -> w03,
    "w04_interval_join" -> w04, "w05_cep_seq" -> w05, "w06_time_range_over" -> w06,
    "w07_not_followed_by" -> w07, "w08_count_window" -> w08, "w09_cep_quantified" -> w09,
    "w10_cep_measures" -> w10, "w11_cep_pattern_api" -> w11,
    "m01_match_recognize" -> m01, "m02_match_measures" -> m02,
    "m03_match_skip" -> m03, "m04_match_range" -> m04, "m05_match_alternation" -> m05,
    "m06_match_relative" -> m06, "m07_match_plus" -> m07, "m08_match_all_rows" -> m08,
    "m09_match_run_sum" -> m09, "m10_match_vshape" -> m10,
    "m11_match_range_sum" -> m11, "m12_match_number" -> m12,
    "m13_group_pattern" -> m13, "m14_match_prev" -> m14,
    "m15_match_skip_to" -> m15, "m16_group_sql" -> m16,
    "m17_group_star" -> m17, "m18_match_avg" -> m18,
    "m19_group_values" -> m19, "m20_order_tiebreak" -> m20,
    "m21_alt_group" -> m21, "m22_prev_offset" -> m22,
    "m23_all_rows_run" -> m23, "m24_all_rows_group" -> m24,
    "m25_run_tiebreak" -> m25, "m26_group_tiebreak" -> m26,
    "m27_prev_foreign" -> m27, "m28_prev_plain" -> m28,
    "m29_all_rows_alt" -> m29, "m30_multi_tiebreak" -> m30,
    "m31_all_rows_two_runs" -> m31, "m32_all_rows_group_run" -> m32,
    "m33_nested_group" -> m33, "m34_all_rows_nested" -> m34,
    "m35_reluctant_quant" -> m35, "m36_nested_values" -> m36, "m37_nested_inner_star" -> m37, "m38_all_rows_nested_values" -> m38,
    "m39_depth2_nested_group" -> m39, "m40_nested_iter_tail" -> m40,
    "m41_depth2_values" -> m41, "m42_all_rows_depth2" -> m42,
    "m43_depth2_inner_star" -> m43, "m44_depth2_iter_tail" -> m44, "m45_nested_tiebreak" -> m45,
    "m46_depth2_iter_mid" -> m46, "m47_depth2_tiebreak" -> m47,
    "m49_nested_iter_inner" -> m49, "m48_depth3_nested_group" -> m48, "m50_depth2_iter_inner" -> m50,
    "m51_all_rows_depth3" -> m51, "m52_depth4_nested_group" -> m52,
    "m53_all_rows_depth2_values" -> m53, "m54_reluctant_absent" -> m54,
    "m55_alternation_tiebreak" -> m55,
    "m56_all_rows_first_last" -> m56,
    "m57_depth5_nested_group" -> m57)

  val oracles: Map[String, String] = Map(
    "w17_time_evictor" -> w17Sql, "w18_count_evictor" -> w18Sql,
    "w19_cep_alternation" -> w19Sql, "w20_sliding_count_window" -> w20Sql,
    "w21_cep_strict" -> w21Sql, "w22_cep_consecutive" -> w22Sql,
    "w23_delta_evictor" -> w23Sql,
    "w24_dynamic_session" -> w24Sql,
    "w12_sql_tumble" -> w12Sql, "w13_temporal_join" -> w13Sql,
    "w14_cep_relative" -> w14Sql, "w15_sql_hop" -> w15Sql, "w16_sql_session" -> w16Sql,
    "w01_tumble_agg" -> w01Sql, "w02_hop_agg" -> w02Sql, "w03_session_agg" -> w03Sql,
    "w04_interval_join" -> w04Sql, "w05_cep_seq" -> w05Sql, "w06_time_range_over" -> w06Sql,
    "w07_not_followed_by" -> w07Sql, "w08_count_window" -> w08Sql,
    "w09_cep_quantified" -> w09Sql, "w10_cep_measures" -> w10Sql,
    "w11_cep_pattern_api" -> w11Sql, "m01_match_recognize" -> m01Sql,
    "m02_match_measures" -> m02Sql, // m03 has no SQL oracle (greedy skip is sequential)
    "m04_match_range" -> m04Sql, "m05_match_alternation" -> m05Sql,
    "m06_match_relative" -> m06Sql, "m07_match_plus" -> m07Sql,
    "m08_match_all_rows" -> m08Sql, "m09_match_run_sum" -> m09Sql,
    "m10_match_vshape" -> m10Sql, "m11_match_range_sum" -> m11Sql,
    "m12_match_number" -> m12Sql, "m13_group_pattern" -> m13Sql,
    "m14_match_prev" -> m14Sql, "m16_group_sql" -> m16Sql,
    "m17_group_star" -> m17Sql, "m18_match_avg" -> m18Sql,
    "m19_group_values" -> m19Sql, "m20_order_tiebreak" -> m20Sql,
    "m21_alt_group" -> m21Sql, "m22_prev_offset" -> m22Sql,
    "m23_all_rows_run" -> m23Sql, "m24_all_rows_group" -> m24Sql,
    "m25_run_tiebreak" -> m25Sql, "m26_group_tiebreak" -> m26Sql,
    "m27_prev_foreign" -> m27Sql, "m28_prev_plain" -> m28Sql,
    "m29_all_rows_alt" -> m29Sql, "m30_multi_tiebreak" -> m30Sql,
    "m31_all_rows_two_runs" -> m31Sql, "m32_all_rows_group_run" -> m32Sql,
    "m33_nested_group" -> m33Sql, "m34_all_rows_nested" -> m34Sql,
    "m35_reluctant_quant" -> m35Sql, "m36_nested_values" -> m36Sql, "m37_nested_inner_star" -> m37Sql, "m38_all_rows_nested_values" -> m38Sql,
    "m39_depth2_nested_group" -> m39Sql, "m40_nested_iter_tail" -> m40Sql,
    "m41_depth2_values" -> m41Sql, "m42_all_rows_depth2" -> m42Sql,
    "m43_depth2_inner_star" -> m43Sql, "m44_depth2_iter_tail" -> m44Sql, "m45_nested_tiebreak" -> m45Sql,
    "m46_depth2_iter_mid" -> m46Sql, "m47_depth2_tiebreak" -> m47Sql,
    "m49_nested_iter_inner" -> m49Sql, "m48_depth3_nested_group" -> m48Sql, "m50_depth2_iter_inner" -> m50Sql,
    "m51_all_rows_depth3" -> m51Sql, "m52_depth4_nested_group" -> m52Sql,
    "m53_all_rows_depth2_values" -> m53Sql, "m54_reluctant_absent" -> m54Sql,
    "m55_alternation_tiebreak" -> m55Sql,
    "m56_all_rows_first_last" -> m56Sql,
    "m57_depth5_nested_group" -> m57Sql,
    "w25_cascading_windows" -> w25Sql, "w26_cep_timeout" -> w26Sql,
    "w27_cep_followed_by_any" -> w27Sql,
    "w28_cep_combinations" -> w28Sql)
}
