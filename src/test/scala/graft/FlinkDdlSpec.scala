package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{FlinkDdl, GraftExtensions}

/** The SQL DDL front door (reference flink-sql-parser SqlCreateTable /
  * SqlWatermark): Flink-dialect CREATE TABLE … WITH ('connector' = …)
  * registers Spark temp views — batch or streaming (watermark ⇒ streaming),
  * with computed columns, option passthrough, and named rejections. */
class FlinkDdlSpec extends AnyFunSuite with SparkTest {

  test("batch DDL over parquet: declared schema, queryable by plain SQL") {
    val n = FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_nation (
         |  n_nationkey BIGINT,
         |  n_name STRING,
         |  n_regionkey BIGINT
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$sfDir/nation.parquet',
         |  'format' = 'parquet'
         |)""".stripMargin)
    assert(n == "ddl_nation")
    val df = spark.table("ddl_nation")
    assert(!df.isStreaming)
    assert(df.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(spark.sql("SELECT count(*) AS c FROM ddl_nation").head().getLong(0) == 25L)
  }

  test("computed columns + PRIMARY KEY NOT ENFORCED + NOT NULL all parse") {
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_nation2 (
         |  n_nationkey BIGINT NOT NULL,
         |  n_name STRING,
         |  name_uc AS upper(n_name),
         |  key2 AS n_nationkey * 2,
         |  PRIMARY KEY (n_nationkey) NOT ENFORCED
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$sfDir/nation.parquet',
         |  'format' = 'parquet'
         |)""".stripMargin)
    val r = spark.sql(
      "SELECT name_uc, key2 FROM ddl_nation2 WHERE n_nationkey = 3").head()
    assert(r.getString(0) == r.getString(0).toUpperCase && r.getLong(1) == 6L)
  }

  test("watermark DDL registers a STREAMING view; windowed agg from pure SQL") {
    val dir = Files.createTempDirectory("ddl_stream").toFile
    val f = new java.io.File(dir, "part1.json")
    val w = new java.io.PrintWriter(f)
    // two 10-minute windows for user 1: [00:00, 00:10) ×2, [00:10, 00:20) ×1
    w.println("""{"user_id":1,"value":2.0,"ts":"2024-01-01T00:01:00.000Z"}""")
    w.println("""{"user_id":1,"value":3.0,"ts":"2024-01-01T00:04:00.000Z"}""")
    w.println("""{"user_id":1,"value":5.0,"ts":"2024-01-01T00:11:00.000Z"}""")
    w.close()
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_stream_events (
         |  user_id BIGINT,
         |  value DOUBLE,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.getAbsolutePath}',
         |  'format' = 'json'
         |)""".stripMargin)
    assert(spark.table("ddl_stream_events").isStreaming)
    // the windowed streaming aggregate, in pure SQL over the DDL table
    val agg = spark.sql(
      """SELECT user_id, window(ts, '10 minutes').start AS ws,
        |       count(*) AS n, sum(value) AS sv
        |FROM ddl_stream_events GROUP BY user_id, window(ts, '10 minutes')""".stripMargin)
    assert(agg.isStreaming)
    val q = agg.writeStream.format("memory").queryName("ddl_agg")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val rows = spark.sql("SELECT n, sv FROM ddl_agg ORDER BY ws")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((2L, 5.0), (1L, 5.0)))
  }

  test("graft.mode = 'batch' overrides the watermark-implies-streaming default") {
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_batch_events (
         |  user_id BIGINT,
         |  event_type STRING,
         |  value DOUBLE,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$sfDir/events.parquet',
         |  'format' = 'parquet',
         |  'graft.mode' = 'batch'
         |)""".stripMargin)
    val df = spark.table("ddl_batch_events")
    assert(!df.isStreaming && df.count() > 0)
  }

  test("csv format options pass through with the format prefix stripped") {
    val dir = Files.createTempDirectory("ddl_csv").toFile
    val f = new java.io.File(dir, "d.csv")
    val w = new java.io.PrintWriter(f)
    w.println("id;name"); w.println("1;alpha"); w.println("2;beta"); w.close()
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_csv (id BIGINT, name STRING) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.getAbsolutePath}',
         |  'format' = 'csv',
         |  'csv.header' = 'true',
         |  'csv.sep' = ';'
         |)""".stripMargin)
    val rows = spark.sql("SELECT id, name FROM ddl_csv ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "alpha"), (2L, "beta")))
  }

  test("PROCTIME() computed column: processing-time windowed aggregate " +
       "driven entirely from DDL text (reference SqlCreateTable proctime attribute)") {
    val dir = Files.createTempDirectory("ddl_proctime").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "e.json"))
    w.println("""{"user_id":1,"value":2.0}""")
    w.println("""{"user_id":1,"value":3.0}""")
    w.println("""{"user_id":2,"value":5.0}""")
    w.close()
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_proctime_events (
         |  user_id BIGINT,
         |  value DOUBLE,
         |  pt AS PROCTIME()
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.getAbsolutePath}',
         |  'format' = 'json',
         |  'graft.mode' = 'streaming'
         |)""".stripMargin)
    assert(spark.table("ddl_proctime_events").isStreaming)
    // the processing-time tumbling window, in pure SQL over the DDL table
    val agg = spark.sql(
      """SELECT user_id, window(pt, '10 seconds').start AS ws, count(*) AS n
        |FROM ddl_proctime_events GROUP BY user_id, window(pt, '10 seconds')""".stripMargin)
    val q = agg.writeStream.format("memory").queryName("ddl_proctime_agg")
      .outputMode("complete").start()
    try { q.processAllAvailable() } finally q.stop()
    val rows = spark.sql(
      "SELECT user_id, sum(n) AS n FROM ddl_proctime_agg GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 2L, 2L -> 1L))
    // batch mode gets the same column: PROCTIME() = evaluation-time clock
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_proctime_batch (
         |  user_id BIGINT,
         |  value DOUBLE,
         |  pt AS PROCTIME()
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.getAbsolutePath}',
         |  'format' = 'json',
         |  'graft.mode' = 'batch'
         |)""".stripMargin)
    val pts = spark.sql("SELECT pt FROM ddl_proctime_batch").collect()
    val now = System.currentTimeMillis()
    assert(pts.length == 3 && pts.forall(r =>
      math.abs(r.getTimestamp(0).getTime - now) < 600000L))
  }

  test("ALTER TABLE RENAME TO / SET properties on DDL tables " +
       "(reference SqlAlterTableRename / SqlAlterTableProperties)") {
    FlinkDdl.execute(spark,
      s"""CREATE TABLE alter_nation (
         |  n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT
         |) WITH ('connector' = 'filesystem',
         |        'path' = '$sfDir/nation.parquet', 'format' = 'parquet')""".stripMargin)
    // RENAME: old name gone, new name queryable, INSERT routing follows
    val renamed = FlinkDdl.executeAlter(spark,
      "ALTER TABLE alter_nation RENAME TO alter_nation2")
    assert(renamed == "alter_nation2")
    assert(!spark.catalog.tableExists("alter_nation"))
    assert(spark.sql("SELECT count(*) AS c FROM alter_nation2").head().getLong(0) == 25L)
    assert(FlinkDdl.isInsert(spark,
      "INSERT INTO alter_nation2 SELECT * FROM alter_nation2"))
    // SET: merged option takes effect on re-registration (csv table gains
    // a header option; row count drops by the header line)
    val dir = Files.createTempDirectory("ddl_alter").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "d.csv"))
    w.println("id"); w.println("1"); w.println("2"); w.close()
    FlinkDdl.execute(spark,
      s"""CREATE TABLE alter_csv (id STRING) WITH (
         |  'connector' = 'filesystem', 'path' = '${dir.getAbsolutePath}',
         |  'format' = 'csv')""".stripMargin)
    assert(spark.table("alter_csv").count() == 3L) // header read as data
    FlinkDdl.executeAlter(spark,
      "ALTER TABLE alter_csv SET ('csv.header' = 'true')")
    assert(spark.table("alter_csv").count() == 2L)
    // ALTERs on non-DDL targets are not intercepted
    assert(!FlinkDdl.isAlter(spark, "ALTER TABLE some_catalog_tbl RENAME TO x"))
  }

  test("CREATE FUNCTION rewrite: Flink LANGUAGE suffix drops, statement " +
       "reaches Spark's native CREATE FUNCTION (reference SqlCreateFunction)") {
    assert(FlinkDdl.rewriteCreateFunction(
      "CREATE TEMPORARY SYSTEM FUNCTION myf AS 'com.x.F' LANGUAGE JAVA") ==
      "CREATE TEMPORARY FUNCTION myf AS 'com.x.F'")
    assert(FlinkDdl.rewriteCreateFunction(
      "CREATE FUNCTION myf AS 'com.x.F' LANGUAGE SCALA") ==
      "CREATE TEMPORARY FUNCTION myf AS 'com.x.F'")
    // non-function statements pass through untouched
    val q = "SELECT 1 AS x"
    assert(FlinkDdl.rewriteCreateFunction(q) == q)
    // end to end via runScript on a plain session: the rewritten statement
    // reaches SPARK's native CREATE FUNCTION — a nonexistent class fails
    // with Spark's own class-resolution error, not a parse rejection,
    // proving the Flink spelling was accepted and mapped
    val e = intercept[Exception](FlinkDdl.runScript(spark,
      "CREATE TEMPORARY SYSTEM FUNCTION gfn AS 'com.example.NoSuchUdf' LANGUAGE JAVA"))
    assert(e.getMessage.contains("NoSuchUdf"), e.getMessage)
  }

  test("database DDL rewrites + USE CATALOG named rejection " +
       "(reference SqlCreateDatabase / SqlAlterDatabase / SqlUseCatalog)") {
    assert(FlinkDdl.rewriteDatabaseDdl(
      "CREATE DATABASE IF NOT EXISTS db1 COMMENT 'x' WITH ('owner' = 'me')") ==
      "CREATE DATABASE IF NOT EXISTS db1 COMMENT 'x' WITH DBPROPERTIES ('owner' = 'me')")
    assert(FlinkDdl.rewriteDatabaseDdl("ALTER DATABASE db1 SET ('k' = 'v')") ==
      "ALTER DATABASE db1 SET DBPROPERTIES ('k' = 'v')")
    // statements without a properties block are already valid Spark
    val plain = "CREATE DATABASE db2"
    assert(FlinkDdl.rewriteDatabaseDdl(plain) == plain)
    // end to end: the rewritten form executes in Spark and DROP cleans up
    FlinkDdl.runScript(spark,
      "CREATE DATABASE IF NOT EXISTS graft_ddl_db WITH ('team' = 'graft'); " +
        "DROP DATABASE graft_ddl_db")
    val e = intercept[RuntimeException](
      FlinkDdl.runScript(spark, "USE CATALOG hive_cat"))
    assert(e.getMessage.contains("library-scoped"), e.getMessage)
  }

  test("Flink group-window SQL spellings: TUMBLE/HOP/SESSION (+_START/_END) " +
       "rewrite to Spark window functions; HOP swaps (slide, size)") {
    import graft.plans.GroupWindowSql
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:04:00"), 3.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:11:00"), 5.0))
      .toDF("user_id", "ts", "value")
    df.createOrReplaceTempView("gw_events")
    // TUMBLE parity vs the native window() API
    val viaFlink = spark.sql(GroupWindowSql.rewrite(
      """SELECT user_id, TUMBLE_START(ts, INTERVAL '10' MINUTE) AS ws,
        |       TUMBLE_END(ts, INTERVAL '10' MINUTE) AS we, count(*) AS n
        |FROM gw_events GROUP BY user_id, TUMBLE(ts, INTERVAL '10' MINUTE)""".stripMargin))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    val viaSpark = df.groupBy(col("user_id"), window(col("ts"), "10 minutes"))
      .count().select(col("user_id"), col("window.start"), col("window.end"), col("count"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(viaFlink == viaSpark && viaFlink.size == 2)
    // HOP: Flink order is (slide, size) — 5-minute slide, 10-minute size
    // must produce 10-minute-WIDE windows every 5 minutes
    val hop = spark.sql(GroupWindowSql.rewrite(
      """SELECT HOP_START(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE) AS ws,
        |       HOP_END(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE) AS we,
        |       count(*) AS n
        |FROM gw_events GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE)""".stripMargin))
      .collect()
    assert(hop.forall(r => r.getTimestamp(1).getTime - r.getTimestamp(0).getTime == 600000L),
      "HOP windows must be SIZE (10 min) wide, not slide-wide")
    assert(hop.map(_.getLong(2)).sum == 6L) // each event in 2 overlapping windows
    // SESSION: 5-minute gap merges 00:01/00:04, splits 00:11
    val sess = spark.sql(GroupWindowSql.rewrite(
      """SELECT SESSION_START(ts, INTERVAL '5' MINUTE) AS ws, count(*) AS n
        |FROM gw_events GROUP BY user_id, SESSION(ts, INTERVAL '5' MINUTE)""".stripMargin))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(sess == Set(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2L),
      (java.sql.Timestamp.valueOf("2024-01-01 00:11:00"), 1L)), sess.toString)
    // TUMBLE_ROWTIME → window.end - 1ms: the cascading-windows idiom from
    // pure Flink text (inner 5-min tumble re-windowed into 10-min buckets
    // must equal a direct 10-min tumble count)
    val cascaded = spark.sql(GroupWindowSql.rewrite(
      """SELECT TUMBLE_START(rt, INTERVAL '10' MINUTE) AS ws, sum(n) AS n
        |FROM (SELECT TUMBLE_ROWTIME(ts, INTERVAL '5' MINUTE) AS rt, count(*) AS n
        |      FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '5' MINUTE))
        |GROUP BY TUMBLE(rt, INTERVAL '10' MINUTE)""".stripMargin))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    val direct = df.groupBy(window(col("ts"), "10 minutes")).count()
      .select(col("window.start"), col("count"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(cascaded == direct && cascaded.size == 2, s"$cascaded != $direct")
    // SESSION_ROWTIME cascades too: session windows rolled into 10-min
    // tumbles (end-1ms lands inside the session's own bucket)
    val sessCascade = spark.sql(GroupWindowSql.rewrite(
      """SELECT TUMBLE_START(rt, INTERVAL '10' MINUTE) AS ws, sum(n) AS n
        |FROM (SELECT SESSION_ROWTIME(ts, INTERVAL '5' MINUTE) AS rt, count(*) AS n
        |      FROM gw_events GROUP BY user_id, SESSION(ts, INTERVAL '5' MINUTE))
        |GROUP BY TUMBLE(rt, INTERVAL '10' MINUTE)""".stripMargin))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    // session [00:01, 00:09) ends 00:09 -> bucket 00:00; session @00:11 -> 00:10
    assert(sessCascade == Map(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00") -> 2L,
      java.sql.Timestamp.valueOf("2024-01-01 00:10:00") -> 1L), sessCascade.toString)
    // _PROCTIME stays a NAMED rejection (no deterministic value to re-export)
    val e = intercept[RuntimeException](GroupWindowSql.rewrite(
      "SELECT TUMBLE_PROCTIME(ts, INTERVAL '10' MINUTE) FROM gw_events"))
    assert(e.getMessage.contains("PROCESSING-time"), e.getMessage)
    // a qualified auxiliary arg (t.ts) matches a bare GROUP BY arg (ts) —
    // Flink's validator resolves both to the same column
    assert(GroupWindowSql.rewrite(
      "SELECT TUMBLE_START(t.ts, INTERVAL '10' MINUTE) AS ws, count(*) AS n " +
        "FROM gw_events t GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
      .contains("window.start"))
    // group-window spellings INSIDE a string literal pass through untouched
    val lit = GroupWindowSql.rewrite(
      "SELECT 'use TUMBLE(ts, INTERVAL ''1'' MINUTE) here' AS hint, count(*) AS n " +
        "FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
    assert(lit.contains("'use TUMBLE(ts, INTERVAL ''1'' MINUTE) here'") &&
      lit.contains("window(ts, '10 minutes')"), lit)
    // ...including literals with BACKSLASH-escaped quotes (Spark's default
    // parser accepts \' — the mask must not flip state mid-literal)
    val lit2 = GroupWindowSql.rewrite(
      "SELECT 'don\\'t touch TUMBLE(ts, INTERVAL \\'1\\' MINUTE)' AS hint, count(*) AS n " +
        "FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
    assert(lit2.contains("don\\'t touch TUMBLE(ts, INTERVAL \\'1\\' MINUTE)") &&
      lit2.contains("window(ts, '10 minutes')"), lit2)
    // ...and DOUBLE-quoted literals (Spark's default parser accepts "..."
    // as a string literal too — a spelling inside one must pass through)
    val lit3 = GroupWindowSql.rewrite(
      "SELECT \"use TUMBLE(ts, INTERVAL '1' MINUTE) or \"\"SESSION\"\"\" AS hint, " +
        "count(*) AS n FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
    assert(lit3.contains("\"use TUMBLE(ts, INTERVAL '1' MINUTE) or \"\"SESSION\"\"\"") &&
      lit3.contains("window(ts, '10 minutes')"), lit3)
    // a double-quoted TUMBLE_PROCTIME must NOT trip the named rejection
    assert(GroupWindowSql.rewrite(
      "SELECT \"TUMBLE_PROCTIME(ts, INTERVAL '1' MINUTE)\" AS doc, count(*) AS n " +
        "FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
      .contains("window(ts, '10 minutes')"))
    // two DIFFERENTLY-qualified time args stay a mismatch (they may be
    // different columns — Flink's validator rejects the same)
    val e3 = intercept[IllegalArgumentException](GroupWindowSql.rewrite(
      "SELECT TUMBLE_START(o.ts, INTERVAL '10' MINUTE) AS ws, count(*) AS n " +
        "FROM gw_events e GROUP BY TUMBLE(e.ts, INTERVAL '10' MINUTE)"))
    assert(e3.getMessage.contains("match no"), e3.getMessage)
    // an auxiliary whose args mismatch the GROUP BY window is a named
    // error (silently mapping it would return the wrong window's bound)
    val e2 = intercept[IllegalArgumentException](GroupWindowSql.rewrite(
      """SELECT TUMBLE_START(ts, INTERVAL '5' MINUTE) AS ws, count(*) AS n
        |FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)""".stripMargin))
    assert(e2.getMessage.contains("match no"), e2.getMessage)
    // ...but MINUTE vs MINUTES across calls is the SAME window, not a mismatch
    assert(GroupWindowSql.rewrite(
      "SELECT TUMBLE_START(ts, INTERVAL '10' MINUTES) AS ws, count(*) AS n " +
        "FROM gw_events GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
      .contains("window.start"))
    // end to end as pure SQL text on a parser-extended session: a
    // STREAMING DDL table + verbatim Flink windowed SQL
    val dir = Files.createTempDirectory("gw_stream").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "e.json"))
    w.println("""{"user_id":1,"value":2.0,"ts":"2024-01-01T00:01:00.000Z"}""")
    w.println("""{"user_id":1,"value":3.0,"ts":"2024-01-01T00:04:00.000Z"}""")
    w.close()
    val prev = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate()
    try {
      s2.sql(
        s"""CREATE TABLE gw_stream_events (
           |  user_id BIGINT, value DOUBLE, ts TIMESTAMP(3),
           |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
           |) WITH ('connector' = 'filesystem',
           |        'path' = '${dir.getAbsolutePath}', 'format' = 'json')""".stripMargin)
      val agg = s2.sql(
        """SELECT user_id, TUMBLE_START(ts, INTERVAL '10' MINUTE) AS ws, count(*) AS n
          |FROM gw_stream_events GROUP BY user_id, TUMBLE(ts, INTERVAL '10' MINUTE)""".stripMargin)
      assert(agg.isStreaming)
      val q = agg.writeStream.format("memory").queryName("gw_agg")
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
      val rows = s2.sql("SELECT n FROM gw_agg").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(2L), rows.mkString(","))
    } finally {
      SparkSession.setDefaultSession(prev); SparkSession.setActiveSession(prev)
    }
  }

  test("JDBC lookup-join from DDL text: streaming enrich against a " +
       "Derby-backed declared table, dimension updates seen next trigger") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val url = "jdbc:derby:memory:graftlookup;create=true"
    // the dimension lives in the DATABASE (the reference's lookup source)
    Seq(("EUR", 1.25), ("GBP", 1.50)).toDF("cur", "rate")
      .write.mode("overwrite").jdbc(url, "rates", new java.util.Properties())
    FlinkDdl.execute(spark,
      s"""CREATE TABLE fx_rates (cur STRING, rate DOUBLE) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'rates')""".stripMargin)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val out = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val q = FlinkDdl.jdbcLookupEnrich(spark,
        in.toDF().toDF("cur", "amount"), "fx_rates", "cur") { b =>
      out ++= b.select(col("cur"), col("amount") * col("rate"))
        .collect().map(r => (r.getString(0), r.getDouble(1)))
      ()
    }
    in.addData(("EUR", 100.0)); q.processAllAvailable()
    // dimension UPDATE in the database: next trigger must see it (the
    // reference's cache-TTL refresh, at micro-batch granularity)
    Seq(("EUR", 2.00), ("GBP", 1.50)).toDF("cur", "rate")
      .write.mode("overwrite").jdbc(url, "rates", new java.util.Properties())
    in.addData(("EUR", 100.0)); q.processAllAvailable()
    q.stop()
    assert(out.toSeq == Seq(("EUR", 125.0), ("EUR", 200.0)), out.toString)
    // non-jdbc declared tables are a named rejection
    val fsDir = Files.createTempDirectory("lk_fs").toString
    FlinkDdl.execute(spark,
      s"""CREATE TABLE lk_fs_t (id BIGINT) WITH ('connector' = 'filesystem',
         |  'path' = '$fsDir', 'format' = 'parquet')""".stripMargin)
    val e = intercept[IllegalArgumentException](
      FlinkDdl.jdbcLookupLoader(spark, "lk_fs_t"))
    assert(e.getMessage.contains("jdbc"), e.getMessage)
    // undeclared names too
    val e2 = intercept[RuntimeException](
      FlinkDdl.jdbcLookupLoader(spark, "nope_not_declared"))
    assert(e2.getMessage.contains("not a DDL-declared table"), e2.getMessage)

    // the PURE-SQL lookup-join spelling: FOR SYSTEM_TIME AS OF proctime
    // strips to the current-snapshot join (which IS its semantics here)
    Seq(("EUR", 100.0), ("GBP", 10.0)).toDF("cur", "amount")
      .withColumn("proctime", org.apache.spark.sql.functions.current_timestamp())
      .createOrReplaceTempView("lk_orders")
    val res = FlinkDdl.runScript(spark,
      """SELECT o.cur, o.amount * r.rate AS converted
        |FROM lk_orders o JOIN fx_rates r FOR SYSTEM_TIME AS OF o.proctime
        |ON o.cur = r.cur""".stripMargin).head
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(res == Map("EUR" -> 200.0, "GBP" -> 15.0), res.toString)
    // event-time versioned lookup is a NAMED rejection (needs w13 buffering)
    val e3 = intercept[RuntimeException](FlinkDdl.runScript(spark,
      """SELECT o.cur FROM lk_orders o JOIN fx_rates r
        |FOR SYSTEM_TIME AS OF o.rowtime ON o.cur = r.cur""".stripMargin))
    assert(e3.getMessage.contains("temporalJoin"), e3.getMessage)
    // Spark's OWN SQL:2011 time travel passes through UNTOUCHED (only
    // proctime/rowtime ATTRIBUTES are the Flink lookup spelling)
    import graft.plans.LookupJoinSql
    val tt = "SELECT * FROM delta_tbl FOR SYSTEM_TIME AS OF TIMESTAMP '2024-01-01 00:00:00'"
    assert(LookupJoinSql.rewrite(tt) == tt)
    val tv = "SELECT * FROM delta_tbl FOR SYSTEM_TIME AS OF 1548751078"
    assert(LookupJoinSql.rewrite(tv) == tv)
    // the direct PROCTIME() operand strips CLEANLY (no dangling parens)
    val pc = LookupJoinSql.rewrite(
      "SELECT 1 FROM a JOIN b FOR SYSTEM_TIME AS OF PROCTIME() ON a.k = b.k")
    assert(!pc.contains("SYSTEM_TIME") && !pc.contains("()"), pc)
  }

  test("lookup cache options: ttl serves the materialized snapshot, " +
       "max-rows is a named guard, bad durations are named errors") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftlkcache;create=true"
    Seq(("EUR", 1.25)).toDF("cur", "rate")
      .write.mode("overwrite").jdbc(url, "crates", new java.util.Properties())
    // reference JdbcLookupOptions: within lookup.cache.ttl the loader
    // serves the cached snapshot — a dimension UPDATE is NOT visible
    // until expiry (here ttl = 1 h: never within the test)
    FlinkDdl.execute(spark,
      s"""CREATE TABLE fx_cached (cur STRING, rate DOUBLE) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'crates',
         |  'lookup.cache.ttl' = '1 h')""".stripMargin)
    val loader = FlinkDdl.jdbcLookupLoader(spark, "fx_cached")
    val r1 = loader().collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(r1 == Set(("EUR", 1.25)), r1.toString)
    Seq(("EUR", 9.99)).toDF("cur", "rate")
      .write.mode("overwrite").jdbc(url, "crates", new java.util.Properties())
    val r2 = loader().collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(r2 == Set(("EUR", 1.25)), s"cached snapshot must survive the UPDATE: $r2")
    // an UNCACHED loader on the same table sees the update immediately
    FlinkDdl.execute(spark,
      s"""CREATE TABLE fx_uncached (cur STRING, rate DOUBLE) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'crates')""".stripMargin)
    val r3 = FlinkDdl.jdbcLookupLoader(spark, "fx_uncached")()
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(r3 == Set(("EUR", 9.99)), r3.toString)
    // max-rows: the snapshot-size guard is a NAMED error, not an eviction
    Seq(("EUR", 1.0), ("GBP", 2.0)).toDF("cur", "rate")
      .write.mode("overwrite").jdbc(url, "crates", new java.util.Properties())
    FlinkDdl.execute(spark,
      s"""CREATE TABLE fx_capped (cur STRING, rate DOUBLE) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'crates',
         |  'lookup.cache.max-rows' = '1')""".stripMargin)
    val e = intercept[IllegalArgumentException](
      FlinkDdl.jdbcLookupLoader(spark, "fx_capped")())
    assert(e.getMessage.contains("max-rows"), e.getMessage)
    // unparseable ttl: named error at loader construction
    FlinkDdl.execute(spark,
      s"""CREATE TABLE fx_badttl (cur STRING, rate DOUBLE) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'crates',
         |  'lookup.cache.ttl' = 'tomorrow')""".stripMargin)
    val e2 = intercept[RuntimeException](
      FlinkDdl.jdbcLookupLoader(spark, "fx_badttl"))
    assert(e2.getMessage.contains("lookup.cache.ttl"), e2.getMessage)
  }

  test("per-key lazy lookup cache: serves a dimension LARGER than " +
       "max-rows, LRU-bounded, batched misses, negative caching") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftlkperkey;create=true"
    // 10-row dimension, cache bounded at 3 key entries: the snapshot
    // loader REFUSES this shape (max-rows guard); the per-key cache is
    // the reference JDBCLookupFunction's answer to it
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "label")
      .write.mode("overwrite").jdbc(url, "bigdim", new java.util.Properties())
    FlinkDdl.execute(spark,
      s"""CREATE TABLE bigdim_t (id BIGINT, label STRING) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'bigdim',
         |  'lookup.cache.max-rows' = '3', 'lookup.cache.ttl' = '1 h')""".stripMargin)
    val lk = new FlinkDdl.JdbcPerKeyLookup(spark, "bigdim_t", "id")
    def run(ks: Seq[Long]): Map[Long, String] =
      lk.enrich(ks.toDF("id")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // batch 1: two misses, both enriched correctly
    assert(run(Seq(1L, 2L)) == Map(1L -> "v1", 2L -> "v2"))
    assert(lk.misses == 2 && lk.hits == 0 && lk.cachedKeys == 2)
    // batch 2: two hits + one miss
    assert(run(Seq(1L, 2L, 3L)) == Map(1L -> "v1", 2L -> "v2", 3L -> "v3"))
    assert(lk.misses == 3 && lk.hits == 2 && lk.cachedKeys == 3)
    // batch 3: a fourth key evicts the LRU entry — the cache stays at the
    // max-rows bound while the DIMENSION stays 10 rows
    assert(run(Seq(4L)) == Map(4L -> "v4"))
    assert(lk.cachedKeys == 3)
    // negative caching: an unmatched key enriches null and the SECOND
    // request is a hit (no re-query — the reference caches empty lists)
    val miss1 = lk.enrich(Seq(99L).toDF("id")).collect()
    assert(miss1.length == 1 && miss1.head.isNullAt(1))
    val missesAfter = lk.misses
    lk.enrich(Seq(99L).toDF("id")).collect()
    assert(lk.misses == missesAfter, "negative entry must be served from cache")
    // cached entries survive a dimension UPDATE within the ttl (expiry is
    // on the monotonic clock, like the snapshot path)
    Seq((4L, "CHANGED")).toDF("id", "label")
      .write.mode("append").jdbc(url, "bigdim", new java.util.Properties())
    assert(run(Seq(4L)) == Map(4L -> "v4"), "cached key must not re-query")
    // a batch with MORE keys than max-rows still enriches completely —
    // the bound caps memory across batches, never a batch's correctness
    val all = run((1L to 10L))
    assert(all == (1L to 10L).map(i => i -> s"v$i").toMap, all.toString)
    assert(lk.cachedKeys == 3)
    // streaming wiring: the foreachBatch twin drives the same cache
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = FlinkDdl.jdbcLookupEnrichPerKey(spark,
        in.toDF().toDF("id"), "bigdim_t", "id") { b =>
      got ++= b.collect().map(r => (r.getLong(0), r.getString(1)))
      ()
    }
    in.addData(5L); q.processAllAvailable(); q.stop()
    assert(got.toSeq == Seq((5L, "v5")), got.toString)
    // non-jdbc / undeclared names stay named rejections
    val e = intercept[RuntimeException](
      new FlinkDdl.JdbcPerKeyLookup(spark, "nope_undeclared", "id"))
    assert(e.getMessage.contains("not a DDL-declared table"), e.getMessage)
    // a key column that is not declared is a named error
    val e2 = intercept[IllegalArgumentException](
      new FlinkDdl.JdbcPerKeyLookup(spark, "bigdim_t", "wrong_col"))
    assert(e2.getMessage.contains("wrong_col"), e2.getMessage)
  }

  test("per-key lookup: query-through without BOTH cache options (the " +
       "reference contract), and misses chunk into bounded IN reads") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftlkquerythrough;create=true"
    (1L to 10L).map(i => (i, s"v$i")).toDF("id", "label")
      .write.mode("overwrite").jdbc(url, "qt_dim", new java.util.Properties())
    // max-rows WITHOUT ttl: the reference (JDBCLookupFunction.java:75-80)
    // builds its Guava cache only when BOTH cacheMaxSize and cacheExpireMs
    // are set — either absent = query-through, never a never-expiring or
    // unbounded cache
    FlinkDdl.execute(spark,
      s"""CREATE TABLE qt_dim_t (id BIGINT, label STRING) WITH (
         |  'connector' = 'jdbc', 'url' = '$url', 'table-name' = 'qt_dim',
         |  'lookup.cache.max-rows' = '3')""".stripMargin)
    val lk = new FlinkDdl.JdbcPerKeyLookup(spark, "qt_dim_t", "id")
    def run(ks: Seq[Long]): Map[Long, String] =
      lk.enrich(ks.toDF("id")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(run(Seq(1L, 2L)) == Map(1L -> "v1", 2L -> "v2"))
    assert(lk.misses == 2 && lk.hits == 0 && lk.cachedKeys == 0,
      "query-through must not populate the cache")
    // the SAME keys again: still misses (re-queried, never served stale)
    assert(run(Seq(1L, 2L)) == Map(1L -> "v1", 2L -> "v2"))
    assert(lk.misses == 4 && lk.hits == 0)
    // a dimension update is visible on the NEXT batch (no stale serving)
    Seq((1L, "NEW")).toDF("id", "label")
      .write.mode("overwrite").jdbc(url, "qt_dim", new java.util.Properties())
    assert(run(Seq(1L)) == Map(1L -> "NEW"))
    // >900 distinct miss keys: the IN pushdown chunks into bounded reads
    // (databases cap IN-list terms) and the union still enriches every
    // present key exactly once, absent keys as nulls
    val big = lk.enrich((1L to 1000L).toDF("id")).collect()
    assert(big.length == 1000, s"got ${big.length} rows")
    val found = big.filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getString(1))
    assert(found.toSeq == Seq(1L -> "NEW"), found.mkString(","))
  }

  test("named rejections: kafka, enforced key, metadata, TIME type") {
    def fails(ddl: String, frag: String): Unit = {
      val e = intercept[RuntimeException](FlinkDdl.execute(spark, ddl))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    fails("""CREATE TABLE k (id BIGINT) WITH ('connector' = 'kafka',
            |'topic' = 't', 'properties.bootstrap.servers' = 'x:9092')""".stripMargin,
      "StreamOps")
    fails("""CREATE TABLE e (id BIGINT, PRIMARY KEY (id)) WITH (
            |'connector' = 'filesystem', 'path' = '/x', 'format' = 'parquet')""".stripMargin,
      "NOT ENFORCED")
    fails("""CREATE TABLE m (id BIGINT, off BIGINT METADATA) WITH (
            |'connector' = 'filesystem', 'path' = '/x', 'format' = 'parquet')""".stripMargin,
      "METADATA")
    fails("""CREATE TABLE t (id BIGINT, t TIME) WITH (
            |'connector' = 'filesystem', 'path' = '/x', 'format' = 'parquet')""".stripMargin,
      "unsupported type")
  }

  test("complex types parse: ARRAY / MAP / ROW / DECIMAL") {
    val dir = Files.createTempDirectory("ddl_json").toFile
    val f = new java.io.File(dir, "d.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"id":1,"xs":[1.5,2.5],"kv":{"a":2},"st":{"x":1,"y":"z"},"d":"1.25"}""")
    w.close()
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_complex (
         |  id BIGINT,
         |  xs ARRAY<DOUBLE>,
         |  kv MAP<STRING, BIGINT>,
         |  st ROW<x BIGINT, y STRING>,
         |  d DECIMAL(10, 2)
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.getAbsolutePath}',
         |  'format' = 'json'
         |)""".stripMargin)
    val r = spark.sql(
      "SELECT xs[1], kv['a'], st.y, d FROM ddl_complex WHERE id = 1").head()
    assert(r.getDouble(0) == 2.5 && r.getLong(1) == 2L && r.getString(2) == "z")
    assert(r.getDecimal(3) == new java.math.BigDecimal("1.25"))
  }

  test("INSERT INTO a DDL-declared filesystem table: batch write through the connector") {
    val sinkDir = Files.createTempDirectory("ddl_sink").toFile.getAbsolutePath
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_ins_src (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
         |WITH ('connector' = 'filesystem', 'path' = '$sfDir/nation.parquet',
         |      'format' = 'parquet')""".stripMargin)
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_ins_sink (key BIGINT, name STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$sinkDir/out',
         |      'format' = 'parquet')""".stripMargin)
    FlinkDdl.executeInsert(spark,
      "INSERT INTO ddl_ins_sink SELECT n_nationkey, n_name FROM ddl_ins_src WHERE n_regionkey = 1")
    val back = spark.read.parquet(s"$sinkDir/out")
    assert(back.schema.fieldNames.toSeq == Seq("key", "name"))
    assert(back.count() == 5) // region 1 has 5 nations
    // a second INSERT appends (Flink INSERT INTO semantics), not overwrites
    FlinkDdl.executeInsert(spark,
      "INSERT INTO ddl_ins_sink SELECT n_nationkey, n_name FROM ddl_ins_src WHERE n_regionkey = 2")
    assert(spark.read.parquet(s"$sinkDir/out").count() == 10)
  }

  test("full Flink SQL script: streaming source DDL -> sink DDL -> INSERT INTO " +
       "starts a bounded streaming job") {
    val srcDir = Files.createTempDirectory("ddl_scr_src").toFile
    val sinkDir = Files.createTempDirectory("ddl_scr_sink").toFile.getAbsolutePath
    val w = new java.io.PrintWriter(new java.io.File(srcDir, "p1.json"))
    w.println("""{"user_id":1,"value":9.5,"ts":"2024-01-01T00:01:00.000Z"}""")
    w.println("""{"user_id":2,"value":0.5,"ts":"2024-01-01T00:02:00.000Z"}""")
    w.println("""{"user_id":3,"value":7.0,"ts":"2024-01-01T00:03:00.000Z"}""")
    w.close()
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_scr_events (
         |  user_id BIGINT, value DOUBLE, ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH ('connector' = 'filesystem', 'path' = '${srcDir.getAbsolutePath}',
         |        'format' = 'json')""".stripMargin)
    FlinkDdl.execute(spark,
      s"""CREATE TABLE ddl_scr_sink (user_id BIGINT, value DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$sinkDir/out',
         |      'format' = 'parquet', 'graft.trigger' = 'availableNow')""".stripMargin)
    // the INSERT is a STREAMING job (source is streaming); availableNow
    // drains the input and returns only when the job is done
    FlinkDdl.executeInsert(spark,
      "INSERT INTO ddl_scr_sink SELECT user_id, value FROM ddl_scr_events WHERE value > 1.0")
    val back = spark.read.parquet(s"$sinkDir/out")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(back == Set((1L, 9.5), (3L, 7.0)), back.toString)
  }

  test("DDL composes with MATCH_RECOGNIZE: CEP SQL over a DDL-declared table " +
       "in one session (the full Flink SQL experience)") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate()
    try {
      val dir = Files.createTempDirectory("ddl_mr").toFile
      val w = new java.io.PrintWriter(new java.io.File(dir, "ev.json"))
      w.println("""{"user_id":1,"event_type":"signup","ts":"2024-01-01T00:00:00.000Z"}""")
      w.println("""{"user_id":1,"event_type":"click","ts":"2024-01-01T00:10:00.000Z"}""")
      w.println("""{"user_id":1,"event_type":"purchase","ts":"2024-01-01T00:20:00.000Z"}""")
      w.println("""{"user_id":2,"event_type":"click","ts":"2024-01-01T00:05:00.000Z"}""")
      w.close()
      s2.sql(
        s"""CREATE TABLE ddl_mr_events (
           |  user_id BIGINT, event_type STRING, ts TIMESTAMP(3)
           |) WITH ('connector' = 'filesystem', 'path' = '${dir.getAbsolutePath}',
           |        'format' = 'json', 'graft.mode' = 'batch')""".stripMargin)
      val rows = s2.sql(
        """SELECT user_id, purchase_ts FROM ddl_mr_events MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES S.ts AS signup_ts, C.ts AS click_ts, P.ts AS purchase_ts
          |  PATTERN (S C P)
          |  WITHIN INTERVAL '24' HOUR
          |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
          |         P AS event_type = 'purchase'
          |)""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toInstant.toString)).toSeq
      assert(rows == Seq((1L, "2024-01-01T00:20:00Z")), rows.toString)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("rate connector: streaming source with computed columns from DDL") {
    FlinkDdl.execute(spark,
      """CREATE TABLE ddl_rate (
        |  ts AS timestamp,
        |  v2 AS value * 2,
        |  WATERMARK FOR timestamp AS timestamp
        |) WITH ('connector' = 'rate', 'rows-per-second' = '500')""".stripMargin)
    val df = spark.table("ddl_rate")
    assert(df.isStreaming)
    assert(df.schema.fieldNames.contains("v2"))
    val q = df.writeStream.format("memory").queryName("ddl_rate_out")
      .outputMode("append").start()
    try {
      Thread.sleep(2500)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ddl_rate_out").selectExpr("value", "v2").collect()
    assert(rows.nonEmpty, "rate source should have produced rows in 2.5s")
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 2))
  }

  test("script CREATE VIEW rewrites to a temp view over DDL tables; DROP TABLE tears down") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate()
    try {
      s2.sql(
        s"""CREATE TABLE ddl_vw_nation (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
           |WITH ('connector' = 'filesystem', 'path' = '$sfDir/nation.parquet',
           |      'format' = 'parquet')""".stripMargin)
      // a PERSISTENT view over a temp view is illegal in Spark — the script
      // form must rewrite to a temporary view to run at all
      s2.sql("CREATE VIEW ddl_big_nations AS SELECT n_name FROM ddl_vw_nation WHERE n_regionkey = 0")
      assert(s2.sql("SELECT count(*) AS c FROM ddl_big_nations").head().getLong(0) == 5L)
      // DROP TABLE removes the DDL table (temp view + registry entry)
      s2.sql("DROP TABLE ddl_vw_nation")
      intercept[org.apache.spark.sql.AnalysisException](s2.table("ddl_vw_nation").count())
      // and a re-declared table with the same name starts clean
      s2.sql(
        s"""CREATE TABLE ddl_vw_nation (n_nationkey BIGINT)
           |WITH ('connector' = 'filesystem', 'path' = '$sfDir/nation.parquet',
           |      'format' = 'parquet')""".stripMargin)
      assert(s2.table("ddl_vw_nation").schema.fieldNames.toSeq == Seq("n_nationkey"))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("runScript executes a whole multi-statement SQL script in order " +
       "(the sql-client -f analog) on a plain session") {
    val sinkDir = Files.createTempDirectory("ddl_script").toFile.getAbsolutePath
    val results = FlinkDdl.runScript(spark,
      s"""-- source over the star schema
         |CREATE TABLE scr_nation (
         |  n_nationkey BIGINT,
         |  n_name STRING,   -- comment after a column
         |  n_regionkey BIGINT
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$sfDir/nation.parquet',
         |  'format' = 'parquet'
         |);
         |
         |CREATE VIEW scr_r0 AS SELECT n_nationkey, n_name FROM scr_nation WHERE n_regionkey = 0;
         |
         |CREATE TABLE scr_sink (k BIGINT, name STRING) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '$sinkDir/out',
         |  'format' = 'parquet'
         |);
         |
         |INSERT INTO scr_sink SELECT n_nationkey, n_name FROM scr_r0;
         |
         |SELECT count(*) AS n FROM scr_sink""".stripMargin)
    assert(results.length == 5)
    // the final SELECT reads the sink table the INSERT just wrote
    assert(results.last.head().getLong(0) == 5L)
    assert(spark.read.parquet(s"$sinkDir/out").count() == 5L)
  }

  test("the DDL statement runs as pure spark.sql text via the parser extension") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate()
    try {
      val conf = s2.sql(
        s"""CREATE TABLE ddl_sql_nation (
           |  n_nationkey BIGINT,
           |  n_name STRING
           |) WITH (
           |  'connector' = 'filesystem',
           |  'path' = '$sfDir/nation.parquet',
           |  'format' = 'parquet'
           |)""".stripMargin).head()
      assert(conf.getString(0) == "ddl_sql_nation")
      assert(s2.sql("SELECT count(*) AS c FROM ddl_sql_nation").head().getLong(0) == 25L)
      // non-DDL statements and Spark-native DDL pass through untouched
      assert(s2.sql("SELECT 1 + 2 AS three").head().getInt(0) == 3)
      s2.sql("CREATE OR REPLACE TEMPORARY VIEW ddl_native AS SELECT 7 AS x")
      assert(s2.sql("SELECT x FROM ddl_native").head().getInt(0) == 7)
      // INSERT INTO a DDL-declared sink works as sql text too
      val sinkDir = Files.createTempDirectory("ddl_sql_sink").toFile.getAbsolutePath
      s2.sql(
        s"""CREATE TABLE ddl_sql_sink (k BIGINT) WITH (
           |'connector' = 'filesystem', 'path' = '$sinkDir/out',
           |'format' = 'parquet')""".stripMargin)
      s2.sql("INSERT INTO ddl_sql_sink SELECT n_nationkey FROM ddl_sql_nation WHERE n_nationkey < 3")
      assert(s2.read.parquet(s"$sinkDir/out").count() == 3)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("comments in the column list and WITH block are skipped through spark.sql") {
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().withExtensions(GraftExtensions.install).getOrCreate()
    try {
      val conf = s2.sql(
        s"""CREATE TABLE ddl_commented (
           |  k BIGINT, -- it's the key
           |  n_name STRING /* a name, (not a key */,
           |  -- key (primary
           |  r BIGINT
           |) WITH (
           |  'connector' = 'filesystem', -- the user's files
           |  'path' = '$sfDir/nation.parquet', /* ' */
           |  'format' = 'parquet'
           |)""".stripMargin).head()
      assert(conf.getString(0) == "ddl_commented")
      assert(s2.table("ddl_commented").schema.fieldNames.toSeq == Seq("k", "n_name", "r"))
      assert(s2.sql("SELECT count(*) FROM ddl_commented").head().getLong(0) == 25L)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
