package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.MatchRecognize
import graft.operators.Similarity
import graft.plans.{FlinkDdl, GraftExtensions}

/** SparkSessionExtensions: SQL function registration + optimizer fusion rule
  * (installed onto the live shared session via GraftExtensions.installInto).
  * The MATCH_RECOGNIZE and SQL-scan specs run on a second session built
  * with the extensions, whose parsers bind at construction.
  */
class ExtensionsSpec extends AnyFunSuite with SparkTest {

  private lazy val s = { GraftExtensions.installInto(spark); spark }

  test("array_dot is callable from SQL") {
    val r = s.sql(
      "SELECT array_dot(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d").head()
    assert(r.getDouble(0) == 32.0)
    // non-double arrays would be read as raw bytes by the primitive loop:
    // the analysis-time type check rejects them by name instead
    val ex = intercept[org.apache.spark.sql.AnalysisException](
      s.sql("SELECT array_dot(array(1, 2), array(3, 4))").head())
    assert(ex.getMessage.contains("array<double>"), ex.getMessage)
  }

  test("array_dot nulls the result on null elements, matching the composable form") {
    // primitive getDouble would silently read a null slot as 0.0; the
    // composable aggregate(zip_with(...)) form returns NULL — so must we
    val q = "array_dot(array(1.0d, cast(null as double)), array(2.0d, 3.0d))"
    val composable = "aggregate(zip_with(array(1.0d, cast(null as double)), " +
      "array(2.0d, 3.0d), (x, y) -> x * y), 0.0d, (acc, v) -> acc + v)"
    val r = s.sql(s"SELECT $q AS a, $composable AS b").head()
    assert(r.isNullAt(0) && r.isNullAt(1), r.toString)
    // null-free inputs are unaffected
    assert(s.sql("SELECT array_dot(array(1.0d, 2.0d), array(2.0d, 3.0d)) AS d")
      .head().getDouble(0) == 8.0)
  }

  test("graph_pagerank is a FROM-clause table function (extensions beyond scalars)") {
    import s.implicits._
    // a 3-cycle: symmetric ranks summing to ~1
    Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
      .createOrReplaceTempView("g_edges")
    val r = s.sql("SELECT * FROM graph_pagerank('g_edges', 'src', 'dst', 2)")
      .collect()
    assert(r.length == 3 && r.map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    val total = r.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-6, s"ranks must sum to 1, got $total")
  }

  test("MATCH_RECOGNIZE runs as pure spark.sql text through the parser extension") {
    import org.apache.spark.sql.SparkSession
    // extensions bind at session construction: build a SECOND session on the
    // shared SparkContext (clearing the default so getOrCreate constructs
    // rather than returns), restore the shared session afterwards
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate()
    try {
      import s2.implicits._
      val T0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      def at(min: Long) = new java.sql.Timestamp(T0.getTime + min * 60000)
      Seq(
        (1L, at(0), "view"), (1L, at(10), "click"), (1L, at(20), "click"),
        (1L, at(30), "purchase"), (2L, at(0), "view"), (2L, at(5), "click")
      ).toDF("user_id", "ts", "event_type").createOrReplaceTempView("mr_events")
      // m01's clause shape, with an enclosing SELECT + WHERE to prove the
      // segment composes with ordinary SQL around it
      val rows = s2.sql(
        """SELECT user_id, purchase_ts FROM mr_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts
          |  MEASURES A.ts AS view_ts, FIRST(B.ts) AS first_click_ts,
          |           LAST(B.ts) AS last_click_ts, C.ts AS purchase_ts
          |  PATTERN (A B{2} C)
          |  WITHIN INTERVAL '24' HOUR
          |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
          |         C AS event_type = 'purchase'
          |) WHERE user_id = 1""".stripMargin)
        .as[(Long, java.sql.Timestamp)].collect().toSeq
      assert(rows == Seq((1L, at(30))))
      // a statement without the clause passes through untouched
      assert(s2.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("MATCH_RECOGNIZE front door: EXPLAIN works (eager compile) and a " +
       "non-table FROM source raises the named contract error") {
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate()
    try {
      import s2.implicits._
      val T0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      Seq((1L, T0, "view")).toDF("user_id", "ts", "event_type")
        .createOrReplaceTempView("mr_events2")
      val clause =
        """ MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES A.ts AS view_ts
          |  PATTERN (A) WITHIN INTERVAL '24' HOUR
          |  DEFINE A AS event_type = 'view')""".stripMargin
      // EXPLAIN is plan-only but still compiles the pattern (documented
      // eager-compile contract) — it must succeed and show a real plan
      val planText = s2.sql("EXPLAIN SELECT * FROM mr_events2" + clause)
        .head().getString(0)
      assert(planText.contains("Physical Plan"), planText)
      // a top-level CTE alias RESOLVES (r16 — the former named rejection):
      // the pattern binds to the CTE frame per SQL scope rules
      val cteRows = s2.sql("WITH cte_src AS (SELECT * FROM mr_events2) " +
        "SELECT * FROM cte_src" + clause).collect()
      assert(cteRows.length == 1 && cteRows.head.getAs[Long]("user_id") == 1L,
        cteRows.mkString(","))
      // a CTE alias SHADOWING a real temp view binds the CTE, not the
      // catalog object — the empty-filtered CTE yields NO matches even
      // though the shadowed view has one
      val shadowRows = s2.sql(
        "WITH mr_events2 AS (SELECT * FROM mr_events2 WHERE user_id < 0) " +
          "SELECT * FROM mr_events2" + clause).collect()
      assert(shadowRows.isEmpty, shadowRows.mkString(","))
      // no whitespace after the comma (`,mr_events2 AS (`) — chained CTEs
      // parse and the SECOND alias resolves
      val chainRows = s2.sql("WITH other_cte AS (SELECT 1 AS one)," +
        "mr_events2 AS (SELECT * FROM mr_events2 WHERE user_id < 0) " +
        "SELECT * FROM mr_events2" + clause).collect()
      assert(chainRows.isEmpty, chainRows.mkString(","))
      // a PARENTHESIZED SUBQUERY source (r16 — the former named
      // rejection), bare and aliased
      val subRows = s2.sql("SELECT * FROM (SELECT * FROM mr_events2)" +
        clause).collect()
      assert(subRows.length == 1, subRows.mkString(","))
      val subAliasRows = s2.sql(
        "SELECT * FROM (SELECT * FROM mr_events2 WHERE user_id < 0) AS t" +
          clause).collect()
      assert(subAliasRows.isEmpty, subAliasRows.mkString(","))
      // a non-CTE unresolvable name gets Spark's own resolution error,
      // naming the table
      val e3 = intercept[org.apache.spark.sql.AnalysisException] {
        s2.sql("SELECT * FROM no_such_table_xyz" + clause)
      }
      assert(e3.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") &&
        e3.getMessage.contains("no_such_table_xyz"), e3.getMessage)
      // plain statements with FROM ( and quoted parens pass through
      // untouched (the subquery scan only engages when the statement
      // mentions MATCH_RECOGNIZE, and the paren walk skips literals)
      assert(s2.sql("SELECT * FROM (SELECT '(' AS x) t").head().getString(0) == "(")
      // a quoted '(' inside the clause itself must not break the scan
      val qRows = s2.sql("SELECT * FROM (SELECT user_id, ts, " +
        "concat(event_type, '(') AS event_type FROM mr_events2)" +
        clause.replace("= 'view'", "= 'view('")).collect()
      assert(qRows.length == 1, qRows.mkString(","))
      // parens inside -- line comments, /* */ block comments, and
      // backquoted identifiers must not count toward nesting either
      val cRows = s2.sql("SELECT * FROM (SELECT user_id, ts, -- a ( stray\n" +
        "  /* also ) here */ event_type AS `weird(col` , event_type " +
        "FROM mr_events2)" + clause).collect()
      assert(cRows.length == 1, cRows.mkString(","))
      // a BACKSLASH-escaped quote inside a literal (Spark's default lexer
      // accepts \' and \") must not terminate the literal early — the
      // paren after it sits INSIDE the string (r17 scanner hardening)
      val bsRows = s2.sql("SELECT * FROM (SELECT user_id, ts, " +
        "event_type FROM mr_events2 WHERE event_type != 'a\\'(') " +
        clause).collect()
      assert(bsRows.length == 1, bsRows.mkString(","))
      // Spark supports NESTED bracketed comments (SPARK-28880): a ')'
      // in the outer comment's tail must not count toward nesting
      val ncRows = s2.sql("SELECT * FROM (SELECT user_id, ts, " +
        "/* outer /* inner */ still ) comment */ event_type " +
        "FROM mr_events2)" + clause).collect()
      assert(ncRows.length == 1, ncRows.mkString(","))
      // a WITH clause NOT at statement start binds the CTE, not the
      // same-named catalog object: the empty-filtered CTE inserts no row.
      // The sink is a parquet-backed temp view, because Spark refuses an
      // INSERT into a view over local rows
      val sinkDir = Files.createTempDirectory("mr_sink3").toString
      Seq((1L, "x")).toDF("user_id", "s").write.parquet(s"$sinkDir/t")
      s2.sql(s"CREATE TEMPORARY VIEW mr_sink3 USING parquet OPTIONS (path '$sinkDir/t')")
      s2.sql("INSERT INTO mr_sink3 WITH mr_events2 AS " +
        "(SELECT * FROM mr_events2 WHERE user_id < 0) " +
        "SELECT user_id, 'a' FROM mr_events2" + clause)
      assert(s2.table("mr_sink3").count() == 1L)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  /** Runs `f` on a second session built with the extensions (they bind
    * at session construction) on the shared SparkContext, then restores
    * the shared session. */
  private def withExtensions(f: SparkSession => Unit): Unit = {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate())
    finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  private val T0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def at(min: Long) = new java.sql.Timestamp(T0.getTime + min * 60000)

  /** A one-variable clause: each row satisfying `define` is a match. */
  private def oneVar(define: String): String =
    s""" MATCH_RECOGNIZE (
       |  PARTITION BY user_id ORDER BY ts
       |  MEASURES A.ts AS a_ts
       |  PATTERN (A) WITHIN INTERVAL '24' HOUR
       |  DEFINE A AS $define)""".stripMargin

  private def userIds(df: DataFrame): Seq[Long] =
    df.select("user_id").collect().map(_.getLong(0)).toSeq.sorted

  test("MATCH_RECOGNIZE front door: a temp view keeps its own clause when " +
       "another clause has the same hash") {
    withExtensions { s2 =>
      import s2.implicits._
      Seq((1L, T0, "Aa"), (2L, T0, "BB")).toDF("user_id", "ts", "event_type")
        .createOrReplaceTempView("mr_hash_ev")
      // the two clauses differ only in 'Aa' / 'BB', whose hashes are equal
      assert(oneVar("event_type = 'Aa'").hashCode == oneVar("event_type = 'BB'").hashCode)
      s2.sql("CREATE OR REPLACE TEMP VIEW v_aa AS SELECT user_id FROM mr_hash_ev" +
        oneVar("event_type = 'Aa'"))
      assert(userIds(s2.table("v_aa")) == Seq(1L))
      assert(userIds(s2.sql("SELECT user_id FROM mr_hash_ev" +
        oneVar("event_type = 'BB'"))) == Seq(2L))
      assert(userIds(s2.table("v_aa")) == Seq(1L))
    }
  }

  test("MATCH_RECOGNIZE front door: statements leave the session catalog unchanged") {
    withExtensions { s2 =>
      import s2.implicits._
      Seq((1L, at(0), "view"), (2L, at(5), "click")).toDF("user_id", "ts", "event_type")
        .createOrReplaceTempView("mr_catalog_ev")
      def tables() = s2.catalog.listTables().collect().map(_.name).toSet
      val before = tables()
      val defines = Seq("event_type = 'view'", "event_type = 'click'",
        "user_id = 1", "user_id > 1", "event_type LIKE '%i%'")
      val found = defines.map(d =>
        userIds(s2.sql("SELECT user_id FROM mr_catalog_ev" + oneVar(d))))
      assert(found == Seq(Seq(1L), Seq(2L), Seq(1L), Seq(2L), Seq(1L, 2L)), found)
      assert(tables() == before, (tables() -- before).toString)
    }
  }

  test("MATCH_RECOGNIZE front door: a CTE source binds after INSERT INTO " +
       "and with a column list") {
    withExtensions { s2 =>
      import s2.implicits._
      Seq((1L, at(0), "view"), (2L, at(5), "click")).toDF("user_id", "ts", "event_type")
        .createOrReplaceTempView("mr_cte_ev")
      val view = oneVar("event_type = 'view'")
      val dir = Files.createTempDirectory("mr_cte_sink").toString
      Seq((0L, "seed")).toDF("user_id", "s").write.parquet(s"$dir/t")
      s2.sql(s"CREATE TEMPORARY VIEW mr_cte_sink USING parquet OPTIONS (path '$dir/t')")
      s2.sql("INSERT INTO mr_cte_sink WITH c AS (SELECT * FROM mr_cte_ev) " +
        "SELECT user_id, 'mr' FROM c" + view)
      assert(s2.table("mr_cte_sink").as[(Long, String)].collect().toSet ==
        Set((0L, "seed"), (1L, "mr")))
      assert(userIds(s2.sql("WITH c(user_id, ts, event_type) AS " +
        "(SELECT * FROM mr_cte_ev) SELECT user_id FROM c" + view)) == Seq(1L))
      assert(userIds(s2.sql("WITH c(u, t, e) AS (SELECT * FROM mr_cte_ev) " +
        "SELECT user_id FROM (SELECT u AS user_id, t AS ts, e AS event_type " +
        "FROM c)" + view)) == Seq(1L))
      // a listed CTE shadowing the view binds the CTE, which has no rows
      assert(userIds(s2.sql("WITH mr_cte_ev(user_id, ts, event_type) AS " +
        "(SELECT * FROM mr_cte_ev WHERE user_id < 0) " +
        "SELECT user_id FROM mr_cte_ev" + view)).isEmpty)
    }
  }

  test("MATCH_RECOGNIZE front door: a watermarked streaming view gives " +
       "detectStream's rows") {
    withExtensions { s2 =>
      import s2.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = s2.sqlContext
      val in = MemoryStream[graft.streaming.Event]
      val frame = in.toDF().withWatermark("ts", "10 minutes")
      frame.createOrReplaceTempView("mr_stream_ev")
      val clause =
        """ MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES A.ts AS view_ts, B.ts AS click_ts, C.ts AS purchase_ts
          |  PATTERN (A B C) WITHIN INTERVAL '1' HOUR
          |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
          |         C AS event_type = 'purchase')""".stripMargin
      val viaSql = s2.sql("SELECT * FROM mr_stream_ev" + clause)
      assert(viaSql.isStreaming)
      val queries = Seq(viaSql -> "mr_stream_sql",
        MatchRecognize.detectStream(frame, clause.trim) -> "mr_stream_direct").map {
        case (df, name) =>
          df.writeStream.format("memory").queryName(name).outputMode("append").start()
      }
      def ev(u: Long, min: Long, t: String) = graft.streaming.Event(u, at(min), t, 0.0)
      try {
        Seq(Seq(ev(1, 0, "view"), ev(2, 1, "view"), ev(1, 5, "click")),
          Seq(ev(2, 8, "click"), ev(1, 9, "purchase"), ev(3, 10, "view")),
          Seq(ev(2, 20, "purchase"), ev(3, 21, "purchase")),
          Seq(ev(9, 10000, "flush"))).foreach { b =>
          in.addData(b: _*)
          queries.foreach(_.processAllAvailable())
        }
      } finally queries.foreach(_.stop())
      def rows(name: String) = s2.table(name).collect().map(_.toString).sorted.toSeq
      assert(rows("mr_stream_sql") == rows("mr_stream_direct"))
      assert(rows("mr_stream_sql").length == 2, rows("mr_stream_sql"))
    }
  }

  test("MATCH_RECOGNIZE front door: EXPLAIN launches no job") {
    withExtensions { s2 =>
      import s2.implicits._
      Seq((1L, T0, "view")).toDF("user_id", "ts", "event_type")
        .createOrReplaceTempView("mr_explain_ev")
      val sc = s2.sparkContext
      sc.setJobGroup("graft-mr-explain", "EXPLAIN of MATCH_RECOGNIZE statements")
      val plans = try Seq(
        "EXPLAIN SELECT * FROM mr_explain_ev",
        "EXPLAIN WITH c AS (SELECT * FROM mr_explain_ev) SELECT * FROM c"
      ).map(q => s2.sql(q + oneVar("event_type = 'view'")).head().getString(0))
      finally sc.clearJobGroup()
      assert(plans.forall(_.contains("Physical Plan")), plans.mkString("\n"))
      assert(sc.statusTracker.getJobIdsForGroup("graft-mr-explain").isEmpty)
    }
  }

  test("front-door scanner: a script splits on ';' in code only") {
    val results = FlinkDdl.runScript(spark,
      "SELECT \"a;b\" AS x; SELECT 'it\\'s;ok' AS x;\nSELECT '1' /* c; d */ AS x")
    assert(results.map(_.head().getString(0)) == Seq("a;b", "it's;ok", "1"))
  }

  test("front-door scanner: comments hide quotes and group-window spellings") {
    withExtensions { s2 =>
      import s2.implicits._
      Seq(at(0), at(30), at(70)).toDF("ts").createOrReplaceTempView("gw_comment_ev")
      def counts(sql: String) = s2.sql(sql).collect().map(_.getLong(1)).toSeq.sorted
      assert(counts(
        """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, count(*) AS n -- user's count
          |FROM gw_comment_ev GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)""".stripMargin) ==
        Seq(1L, 2L))
      assert(counts(
        """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws,
          |  -- TUMBLE_END(ts, INTERVAL '2' HOUR) AS we,
          |  /* TUMBLE_END(ts, INTERVAL '3' HOUR) AS we2, */ count(*) AS n
          |FROM gw_comment_ev GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)""".stripMargin) ==
        Seq(1L, 2L))
    }
  }

  test("front-door scanner: literals end where Spark's lexer ends them, " +
       "under either setting of escapedStringLiterals") {
    withExtensions { s2 =>
      import s2.implicits._
      Seq((1L, at(0), "view"), (1L, at(30), "view"), (2L, at(70), "click"))
        .toDF("user_id", "ts", "event_type").createOrReplaceTempView("esc_ev")
      // `'it\''` is one literal under both settings (the setting changes
      // its value, not its end); a raw literal `r'C:\dir\'` has no escapes
      val literals = "'it\\'' AS q, r'C:\\dir\\' AS p"
      for (escaped <- Seq("false", "true")) {
        s2.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
        try {
          val windows = s2.sql(s"SELECT $literals, " +
            "TUMBLE_START(ts, INTERVAL '1' HOUR) AS ws, count(*) AS n " +
            "FROM esc_ev GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)").collect()
          assert(windows.map(_.getLong(3)).toSeq.sorted == Seq(1L, 2L), escaped)
          assert(userIds(s2.sql(s"SELECT * FROM (SELECT user_id, ts, event_type, " +
            s"$literals FROM esc_ev)" + oneVar("event_type = 'view'"))) ==
            Seq(1L, 1L), escaped)
        } finally s2.conf.unset("spark.sql.parser.escapedStringLiterals")
      }
    }
  }

  test("DotProductFusion rewrites the composable aggregate(zip_with) pattern") {
    // parquet-backed input — a local relation would be constant-folded whole
    val v = Similarity.asDouble(col("embedding"))
    val df = graft.sources.Tables.load(s, sfDir, "embeddings")
      .select(aggregate(zip_with(v, v, (x, y) => x * y),
        lit(0.0), (acc, vv) => acc + vv).as("sq_norm"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("array_dot"), s"fusion rule did not fire:\n$optimized")
    assert(df.head().getDouble(0) > 0.0)
  }
}
