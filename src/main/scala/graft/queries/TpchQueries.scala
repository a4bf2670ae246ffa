package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** TPC-H Q1–Q22 as a SQL-parity sweep: every query is ONE text that runs
  * UNCHANGED through `spark.sql` AND the DuckDB oracle — the closed-surface
  * "same query capabilities" demonstration beyond the operator-shaped q/w/m
  * suites (the reference's own TPC-H coverage lives in
  * flink-end-to-end-tests/flink-tpch-test and the planner's
  * flink-table-planner-blink TpchTest resources).
  *
  * Adaptations, stated once — the driver's TPC-H-ish testdata is narrower
  * than spec TPC-H, so:
  *  - Tables carry no `partsupp` and several columns are absent
  *    (l_commitdate/l_receiptdate/l_shipmode/l_shipinstruct, p_container/
  *    p_mfgr, o_comment/o_shippriority, c_address/c_phone/c_comment,
  *    s_address/s_phone/s_comment). Each query prepends CTEs that
  *    SYNTHESIZE the missing relations/columns DETERMINISTICALLY from key
  *    arithmetic (same text, same values, both engines), preserving every
  *    query's shape — joins, correlated subqueries, EXISTS chains, the
  *    Q19 disjunction, the Q13 anti-pattern LIKE.
  *  - Substitution parameters are re-drawn for the data's actual domains
  *    (nations are NATION_0..24, dates 1995–2001, p_type is one word).
  *  - Money aggregates use exact scaled-integer accumulation
  *    (Σ round(x·10^p) as BIGINT, divided back once) so both engines
  *    produce BIT-IDENTICAL doubles under the driver's full-precision hash
  *    — double summation order differs across engines, and the driver
  *    compare has no tolerance. Averages divide the exact sum by count.
  *  - LIMIT queries carry a key column in ORDER BY making the order total
  *    (spec ties would otherwise make top-N nondeterministic).
  */
object TpchQueries {
  private type Q = (SparkSession, String) => DataFrame

  private val BaseTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Registers only the base tables the text names as a whole word: a
    * false match merely registers an extra view, and a miss fails loudly at
    * analysis. */
  private def runSql(text: String): Q = {
    val named = BaseTables.filter(t => s"(?i)\\b$t\\b".r.findFirstIn(text).isDefined)
    (s, dir) => {
      named.foreach(t => Tables.load(s, dir, t).createOrReplaceTempView(t))
      s.sql(text)
    }
  }

  /** Exact money sum: Σ round(expr·10^dp) in BIGINT, divided back once —
    * bit-identical across engines regardless of summation order (each term
    * is on the dp-grid, so the scaled term rounds to an exact integer). */
  private def xsum(expr: String, dp: Int): String = {
    val p = math.pow(10, dp).toLong
    s"CAST(CAST(sum(CAST(round(($expr) * $p) AS BIGINT)) AS BIGINT) AS DOUBLE) / $p"
  }

  // ---- synthesized relations (deterministic key arithmetic, both engines) ----

  /** partsupp from the lineitem incidence: availqty from pair frequency,
    * supply cost from pure key arithmetic — a 2 dp-grid value by integer
    * construction (rounding an arbitrary double here would hit half-
    * boundaries where Spark's exact-decimal round and DuckDB's fp-multiply
    * round disagree). */
  private val PartsuppCte =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |         CAST(count(*) * 37 % 997 + 1 AS INT) AS ps_availqty,
      |         CAST((l_partkey * 13 + l_suppkey * 7) % 99001 + 100 AS DOUBLE) / 100 AS ps_supplycost
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)""".stripMargin

  private val LineitemxCte =
    """lineitemx AS (
      |  SELECT *,
      |    l_shipdate + INTERVAL '1' DAY * CAST(l_partkey % 30 AS INT) AS l_commitdate,
      |    l_shipdate + INTERVAL '1' DAY * CAST(l_suppkey % 30 AS INT) AS l_receiptdate,
      |    CASE CAST(l_orderkey % 7 AS INT) WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP'
      |      WHEN 2 THEN 'AIR' WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'RAIL'
      |      WHEN 5 THEN 'FOB' ELSE 'REG AIR' END AS l_shipmode,
      |    CASE WHEN l_linenumber % 4 = 1 THEN 'DELIVER IN PERSON' ELSE 'NONE' END AS l_shipinstruct
      |  FROM lineitem)""".stripMargin

  private val PartxCte =
    """partx AS (
      |  SELECT *,
      |    concat('Manufacturer#', CAST(1 + p_partkey % 5 AS VARCHAR(2))) AS p_mfgr,
      |    CASE CAST(p_partkey % 8 AS INT) WHEN 0 THEN 'SM CASE' WHEN 1 THEN 'SM BOX'
      |      WHEN 2 THEN 'MED BAG' WHEN 3 THEN 'MED BOX' WHEN 4 THEN 'LG CASE'
      |      WHEN 5 THEN 'LG BOX' WHEN 6 THEN 'JUMBO PACK' ELSE 'WRAP JAR' END AS p_container
      |  FROM part)""".stripMargin

  private val OrdersxCte =
    """ordersx AS (
      |  SELECT *, 0 AS o_shippriority,
      |    CASE WHEN o_orderkey % 50 = 0 THEN 'special requests handling'
      |         ELSE 'no notes' END AS o_comment
      |  FROM orders)""".stripMargin

  private val CustomerxCte =
    """customerx AS (
      |  SELECT *,
      |    concat('Address_', CAST(c_custkey AS VARCHAR(12))) AS c_address,
      |    concat(CAST(10 + c_nationkey % 25 AS VARCHAR(2)), '-555-',
      |           CAST(1000 + c_custkey % 9000 AS VARCHAR(4))) AS c_phone,
      |    'standard account' AS c_comment
      |  FROM customer)""".stripMargin

  private val SupplierxCte =
    """supplierx AS (
      |  SELECT *,
      |    concat('SAddress_', CAST(s_suppkey AS VARCHAR(12))) AS s_address,
      |    concat(CAST(10 + s_nationkey % 25 AS VARCHAR(2)), '-555-',
      |           CAST(1000 + s_suppkey % 9000 AS VARCHAR(4))) AS s_phone,
      |    CASE WHEN s_suppkey % 20 = 0 THEN 'Customer Complaints recorded'
      |         ELSE 'reliable partner' END AS s_comment
      |  FROM supplier)""".stripMargin

  private def withCtes(ctes: Seq[String], body: String): String =
    if (ctes.isEmpty) body else s"WITH ${ctes.mkString(",\n")}\n$body"

  // ---------------- the 22 query texts ----------------

  private val q01 =
    s"""SELECT l_returnflag, l_linestatus,
       |  sum(l_quantity) AS sum_qty,
       |  ${xsum("l_extendedprice", 2)} AS sum_base_price,
       |  ${xsum("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
       |  ${xsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
       |  sum(l_quantity) / count(*) AS avg_qty,
       |  ${xsum("l_extendedprice", 2)} / count(*) AS avg_price,
       |  ${xsum("l_discount", 2)} / count(*) AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= date '2001-09-01' - INTERVAL '90' DAY
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private val q02 = withCtes(Seq(PartsuppCte, PartxCte, SupplierxCte),
    """SELECT s_acctbal, s_name, n_name, p_partkey, p_mfgr, s_address, s_phone, s_comment
      |FROM partx, supplierx, partsupp, nation, region
      |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      |  AND p_size = 15 AND p_type LIKE '%ANDARD'
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE'
      |  AND ps_supplycost = (
      |    SELECT min(ps_supplycost)
      |    FROM partsupp ps2, supplierx s2, nation n2, region r2
      |    WHERE p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey
      |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      |      AND r2.r_name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin)

  private val q03 = withCtes(Seq(OrdersxCte),
    s"""SELECT l_orderkey,
       |  ${xsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
       |  o_orderdate, o_shippriority
       |FROM customer, ordersx, lineitem
       |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
       |  AND l_orderkey = o_orderkey
       |  AND o_orderdate < date '1996-03-15' AND l_shipdate > date '1996-03-15'
       |GROUP BY l_orderkey, o_orderdate, o_shippriority
       |ORDER BY revenue DESC, o_orderdate, l_orderkey
       |LIMIT 10""".stripMargin)

  private val q04 = withCtes(Seq(LineitemxCte),
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= date '1996-07-01'
      |  AND o_orderdate < date '1996-07-01' + INTERVAL '3' MONTH
      |  AND EXISTS (SELECT * FROM lineitemx
      |              WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin)

  private val q05 =
    s"""SELECT n_name, ${xsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
       |FROM customer, orders, lineitem, supplier, nation, region
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'ASIA'
       |  AND o_orderdate >= date '1996-01-01' AND o_orderdate < date '1997-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC""".stripMargin

  private val q06 =
    s"""SELECT ${xsum("l_extendedprice * l_discount", 4)} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= date '1996-01-01' AND l_shipdate < date '1997-01-01'
       |  AND l_discount BETWEEN 0.04 AND 0.06 AND l_quantity < 24""".stripMargin

  private val q07 =
    s"""SELECT supp_nation, cust_nation, l_year,
       |  ${xsum("volume", 4)} AS revenue
       |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |        CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
       |        l_extendedprice * (1 - l_discount) AS volume
       |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
       |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
       |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
       |        AND c_nationkey = n2.n_nationkey
       |        AND ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_8')
       |          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_7'))
       |        AND l_shipdate BETWEEN date '1996-01-01' AND date '1997-12-31'
       |     ) AS shipping
       |GROUP BY supp_nation, cust_nation, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  private val q08 =
    """SELECT o_year,
      |  CAST(CAST(sum(CAST(round((CASE WHEN nation = 'NATION_8' THEN volume ELSE 0 END) * 10000) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |  / CAST(CAST(sum(CAST(round(volume * 10000) AS BIGINT)) AS BIGINT) AS DOUBLE) AS mkt_share
      |FROM (SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
      |        l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation
      |      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |        AND r_name = 'EUROPE' AND s_nationkey = n2.n_nationkey
      |        AND o_orderdate BETWEEN date '1996-01-01' AND date '1997-12-31'
      |        AND p_type = 'ECONOMY'
      |     ) AS all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  private val q09 = withCtes(Seq(PartsuppCte),
    s"""SELECT nation, o_year, ${xsum("amount", 4)} AS sum_profit
       |FROM (SELECT n_name AS nation,
       |        CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       |        l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity AS amount
       |      FROM part, supplier, lineitem, partsupp, orders, nation
       |      WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
       |        AND ps_partkey = l_partkey AND p_partkey = l_partkey
       |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
       |        AND p_name LIKE '%red%'
       |     ) AS profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin)

  private val q10 = withCtes(Seq(CustomerxCte),
    s"""SELECT c_custkey, c_name,
       |  ${xsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue,
       |  c_acctbal, n_name, c_address, c_phone, c_comment
       |FROM customerx, orders, lineitem, nation
       |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
       |  AND o_orderdate >= date '1996-01-01'
       |  AND o_orderdate < date '1996-01-01' + INTERVAL '3' MONTH
       |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       |GROUP BY c_custkey, c_name, c_acctbal, c_phone, n_name, c_address, c_comment
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin)

  private val q11 = withCtes(Seq(PartsuppCte),
    s"""SELECT ps_partkey, ${xsum("ps_supplycost * ps_availqty", 2)} AS value
       |FROM partsupp, supplier, nation
       |WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |  AND n_name = 'NATION_7'
       |GROUP BY ps_partkey
       |HAVING ${xsum("ps_supplycost * ps_availqty", 2)} > (
       |  SELECT ${xsum("ps_supplycost * ps_availqty", 2)} * 0.001
       |  FROM partsupp, supplier, nation
       |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |    AND n_name = 'NATION_7')
       |ORDER BY value DESC""".stripMargin)

  private val q12 = withCtes(Seq(LineitemxCte),
    """SELECT l_shipmode,
      |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitemx
      |WHERE o_orderkey = l_orderkey AND l_shipmode IN ('MAIL', 'SHIP')
      |  AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
      |  AND l_receiptdate >= date '1996-01-01' AND l_receiptdate < date '1997-01-01'
      |GROUP BY l_shipmode
      |ORDER BY l_shipmode""".stripMargin)

  private val q13 = withCtes(Seq(OrdersxCte),
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN ordersx ON c_custkey = o_custkey
      |        AND o_comment NOT LIKE '%special%requests%'
      |      GROUP BY c_custkey) AS c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin)

  private val q14 =
    """SELECT 100.00 *
      |  CAST(CAST(sum(CAST(round((CASE WHEN p_type LIKE 'PROMO%'
      |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 10000) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |  / CAST(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT) AS DOUBLE)
      |  AS promo_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= date '1996-09-01' AND l_shipdate < date '1996-10-01'""".stripMargin

  private val q15 = withCtes(Seq(SupplierxCte,
    s"""revenue0 AS (
       |  SELECT l_suppkey AS supplier_no,
       |         ${xsum("l_extendedprice * (1 - l_discount)", 4)} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= date '1996-01-01' AND l_shipdate < date '1996-04-01'
       |  GROUP BY l_suppkey)""".stripMargin),
    """SELECT s_suppkey, s_name, s_address, s_phone, total_revenue
      |FROM supplierx, revenue0
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
      |ORDER BY s_suppkey""".stripMargin)

  private val q16 = withCtes(Seq(PartsuppCte, SupplierxCte),
    """SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM partsupp, part
      |WHERE p_partkey = ps_partkey AND p_brand <> 'Brand#3'
      |  AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1, 4, 7, 10, 15, 23, 30, 45, 49)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplierx
      |                         WHERE s_comment LIKE '%Customer%Complaints%')
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)

  private val q17 = withCtes(Seq(PartxCte),
    """SELECT CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100 / 7.0 AS avg_yearly
      |FROM lineitem, partx
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#3' AND p_container = 'MED BOX'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
      |                    WHERE l2.l_partkey = partx.p_partkey)""".stripMargin)

  private val q18 =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |       sum(l_quantity) AS sum_qty
      |FROM customer, orders, lineitem
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  private val q19 = withCtes(Seq(LineitemxCte, PartxCte),
    s"""SELECT ${xsum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
       |FROM lineitemx, partx
       |WHERE p_partkey = l_partkey
       |  AND l_shipmode IN ('AIR', 'REG AIR')
       |  AND l_shipinstruct = 'DELIVER IN PERSON'
       |  AND ((p_brand = 'Brand#1' AND p_container IN ('SM CASE', 'SM BOX')
       |        AND l_quantity >= 1 AND l_quantity <= 11 AND p_size BETWEEN 1 AND 5)
       |    OR (p_brand = 'Brand#2' AND p_container IN ('MED BAG', 'MED BOX')
       |        AND l_quantity >= 10 AND l_quantity <= 20 AND p_size BETWEEN 1 AND 10)
       |    OR (p_brand = 'Brand#3' AND p_container IN ('LG CASE', 'LG BOX')
       |        AND l_quantity >= 20 AND l_quantity <= 30 AND p_size BETWEEN 1 AND 15))""".stripMargin)

  private val q20 = withCtes(Seq(PartsuppCte, SupplierxCte),
    """SELECT s_name, s_address
      |FROM supplierx, nation
      |WHERE s_suppkey IN (
      |    SELECT ps_suppkey FROM partsupp
      |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |      AND ps_availqty > (SELECT 0.5 * sum(l_quantity) FROM lineitem
      |                         WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
      |                           AND l_shipdate >= date '1996-01-01'
      |                           AND l_shipdate < date '1997-01-01'))
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
      |ORDER BY s_name""".stripMargin)

  private val q21 = withCtes(Seq(LineitemxCte),
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitemx l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F' AND l1.l_receiptdate > l1.l_commitdate
      |  AND EXISTS (SELECT * FROM lineitemx l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT * FROM lineitemx l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_receiptdate > l3.l_commitdate)
      |  AND s_nationkey = n_nationkey AND n_name = 'NATION_5'
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin)

  private val q22 = withCtes(Seq(CustomerxCte),
    s"""SELECT cntrycode, count(*) AS numcust, ${xsum("c_acctbal", 2)} AS totacctbal
       |FROM (SELECT substring(c_phone, 1, 2) AS cntrycode, c_acctbal
       |      FROM customerx
       |      WHERE substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17')
       |        AND c_acctbal > (
       |          SELECT ${xsum("c_acctbal", 2)} / count(*) FROM customerx
       |          WHERE c_acctbal > 0.00
       |            AND substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17'))
       |        AND NOT EXISTS (SELECT * FROM orders WHERE o_custkey = c_custkey
       |                        AND o_orderdate >= date '1999-01-01')
       |     ) AS custsale
       |GROUP BY cntrycode
       |ORDER BY cntrycode""".stripMargin)

  private val texts: Map[String, String] = Map(
    "h01_tpch_q01" -> q01, "h02_tpch_q02" -> q02, "h03_tpch_q03" -> q03,
    "h04_tpch_q04" -> q04, "h05_tpch_q05" -> q05, "h06_tpch_q06" -> q06,
    "h07_tpch_q07" -> q07, "h08_tpch_q08" -> q08, "h09_tpch_q09" -> q09,
    "h10_tpch_q10" -> q10, "h11_tpch_q11" -> q11, "h12_tpch_q12" -> q12,
    "h13_tpch_q13" -> q13, "h14_tpch_q14" -> q14, "h15_tpch_q15" -> q15,
    "h16_tpch_q16" -> q16, "h17_tpch_q17" -> q17, "h18_tpch_q18" -> q18,
    "h19_tpch_q19" -> q19, "h20_tpch_q20" -> q20, "h21_tpch_q21" -> q21,
    "h22_tpch_q22" -> q22)

  val queries: Map[String, Q] = texts.map { case (n, t) => n -> runSql(t) }
  /** The oracle IS the query text — one SQL, two engines. */
  val oracles: Map[String, String] = texts
}
