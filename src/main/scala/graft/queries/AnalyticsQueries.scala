package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Composite analytics workloads — multi-operator pipelines of the kind the
  * reference runs as end-to-end Table API programs (CTEs + joins + windows +
  * conditional aggregation): signup→purchase funnel, hour-over-hour
  * retention, RFM segmentation with NTILE quintiles.
  */
object AnalyticsQueries {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, dir: String, name: String) = Tables.load(s, dir, name)

  // --- a01: weekly signup→purchase funnel (7-day conversion) ---
  private val a01: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val su = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("s_ts"))
    val pu = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user")).agg(min("ts").as("p_ts"))
    su.join(pu, col("user_id") === col("p_user"), "left_outer")
      .withColumn("converted",
        col("p_ts").isNotNull && col("p_ts") > col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
      .groupBy(date_trunc("week", col("s_ts")).as("signup_week"))
      .agg(count(lit(1)).as("n_signups"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
  }
  private val a01Sql =
    """WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
      |            WHERE event_type='signup' GROUP BY 1),
      |     pu AS (SELECT user_id, min(ts) AS p_ts FROM events
      |            WHERE event_type='purchase' GROUP BY 1)
      |SELECT CAST(date_trunc('week', s_ts) AS TIMESTAMP) AS signup_week,
      | count(*) AS n_signups,
      | CAST(sum(CASE WHEN p_ts IS NOT NULL AND p_ts > s_ts
      |                AND p_ts <= s_ts + INTERVAL 7 DAYS THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
      |FROM su LEFT JOIN pu USING (user_id)
      |GROUP BY 1""".stripMargin

  // --- a02: hour-over-hour retention ---
  private val a02: Q = (s, dir) => {
    val act = t(s, dir, "events")
      .select(col("user_id"), window(col("ts"), "1 hour").getField("start").as("h"))
      .distinct()
    val nxt = act.select(col("user_id").as("u2"), col("h").as("h2"))
    act.join(nxt, col("u2") === col("user_id") &&
        col("h2") === col("h") + expr("INTERVAL 1 HOUR"), "left_outer")
      .groupBy(col("h").as("hour"))
      .agg(count(lit(1)).as("active"),
        sum(when(col("u2").isNotNull, 1L).otherwise(0L)).as("retained"))
  }
  private val a02Sql =
    """WITH act AS (SELECT DISTINCT user_id,
      |             CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS h FROM events)
      |SELECT a.h AS hour, count(*) AS active,
      | CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained
      |FROM act a LEFT JOIN act b
      |  ON b.user_id = a.user_id AND b.h = a.h + INTERVAL 1 HOUR
      |GROUP BY 1""".stripMargin

  // --- a03: RFM segmentation with NTILE quintiles ---
  // The global-ORDER-BY NTILE windows move the whole customer aggregate to
  // ONE partition (WindowExec's no-partition behavior) — fine at dimension
  // scale on one node, the documented ceiling of this variant. a04 is the
  // scale path: identical output, no single-partition window.
  private def rfmBase(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val mx = o.agg(max("o_orderdate").as("mx"))
    o.groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_order"), count(lit(1)).as("frequency"),
        round(sum("o_totalprice"), 2).as("monetary"))
      .crossJoin(broadcast(mx))
      .select(col("o_custkey"),
        datediff(col("mx"), col("last_order")).as("recency_days"),
        col("frequency"), col("monetary"))
  }
  private val a03: Q = (s, dir) =>
    rfmBase(s, dir).select(
      col("o_custkey"), col("recency_days"), col("frequency"), col("monetary"),
      ntile(5).over(Window.orderBy(col("recency_days"), col("o_custkey"))).as("r_score"),
      ntile(5).over(Window.orderBy(col("frequency").desc, col("o_custkey"))).as("f_score"),
      ntile(5).over(Window.orderBy(col("monetary").desc, col("o_custkey"))).as("m_score"))

  // --- a04: RFM quintiles, the 100 TB path ---
  // Same rows as a03 (the oracle is literally a03's SQL — the hash match
  // proves exactness), but each NTILE runs through
  // Relational.globalNtile: approx-percentile range bucketing + per-bucket
  // offsets + a PARTITIONED per-bucket row_number. No relation-sized data
  // ever sits in one partition; the only driver-side state is the bucket
  // boundary/offset metadata (bounded by the bucket parameter).
  private val a04: Q = (s, dir) => graft.operators.CacheScope { scope =>
    import graft.operators.Relational.globalNtiles
    // read by globalNtiles' two driver actions and by the returned plan
    val rfm = scope.pin(rfmBase(s, dir), "a04.rfm")
    // the three scores are mutually independent (each reads only its own
    // rfm column), so ONE fused globalNtiles call runs one boundary action,
    // one counts action and a single three-window plan — the r20 shape
    // (three stacked calls with eager localCheckpoints between) cost six
    // driver actions plus two checkpoint materializations (23 Spark jobs,
    // profiled this round; guide §1.2/§5). Exact same rows: the operator
    // reconstructs the exact global rank from real counts regardless of
    // where the approximate boundaries fall.
    val scored = globalNtiles(rfm, 5, Seq(
      (col("recency_days"), false, "r_score"),
      (col("frequency"), true, "f_score"),
      (col("monetary"), true, "m_score")), col("o_custkey"))
    scored.select("o_custkey", "recency_days", "frequency", "monetary",
      "r_score", "f_score", "m_score")
  }
  private val a03Sql =
    """WITH rfm AS (
      |  SELECT o_custkey,
      |   CAST(date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders)) AS INT) AS recency_days,
      |   count(*) AS frequency, round(sum(o_totalprice),2) AS monetary
      |  FROM orders GROUP BY 1)
      |SELECT o_custkey, recency_days, frequency, monetary,
      | CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_score,
      | CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_score,
      | CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT) AS m_score
      |FROM rfm""".stripMargin

  val queries: Map[String, Q] = Map(
    "a01_funnel" -> a01, "a02_retention" -> a02, "a03_rfm_ntile" -> a03,
    "a04_rfm_scalable" -> a04)
  val oracles: Map[String, String] = Map(
    "a01_funnel" -> a01Sql, "a02_retention" -> a02Sql, "a03_rfm_ntile" -> a03Sql,
    "a04_rfm_scalable" -> a03Sql)
}
