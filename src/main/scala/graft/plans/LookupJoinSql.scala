package graft.plans

/** The Flink SQL LOOKUP-JOIN spelling — `JOIN dim FOR SYSTEM_TIME AS OF
  * x.proctime ON …` (reference flink-table planner temporal-table-join
  * rules over `SqlSnapshot`; the per-record lookup execution half is
  * flink-connectors/flink-jdbc `JDBCLookupFunction`, see
  * [[FlinkDdl.jdbcLookupEnrich]]).
  *
  * A PROCESSING-time lookup joins the dimension's CURRENT snapshot — in
  * this engine that is exactly what a plain join against the registered
  * table view already does (batch: the table as of planning; streaming
  * foreachBatch: the snapshot re-read each trigger), so the clause is
  * textually STRIPPED when the operand is a proctime attribute — a
  * (possibly qualified) identifier whose last segment is `proctime`, or
  * a direct `PROCTIME()` call. An EVENT-time (`rowtime`-named attribute)
  * versioned lookup has different semantics — each fact must see the
  * version valid AT ITS OWN timestamp, which needs version buffering —
  * and is a NAMED rejection pointing at the implemented paths
  * ([[graft.operators.Relational.temporalJoin]] for batch — the w13
  * idiom — and `StreamOps.temporalJoinStream` for streams).
  *
  * Every OTHER operand passes through UNTOUCHED: `FOR SYSTEM_TIME AS OF
  * TIMESTAMP '…'` / a version number is Spark's own SQL:2011 time-travel
  * syntax over time-travel-capable sources, and hijacking it would break
  * valid Spark SQL session-wide (Spark raises its own error when the
  * relation cannot time-travel). */
object LookupJoinSql {
  private val Rx =
    """(?i)\bFOR\s+SYSTEM_TIME\s+AS\s+OF\s+([\w.]+(?:\(\s*\))?)""".r

  def rewrite(sql: String): String =
    GroupWindowSql.replaceOutside(Rx, sql) { m =>
      val operand = m.group(1)
      val attr = operand.toLowerCase.stripSuffix("()").trim
      val last = attr.split('.').last
      if (last == "proctime") ""
      else if (last == "rowtime") sys.error(
        s"FOR SYSTEM_TIME AS OF $operand: an event-time versioned " +
          "lookup needs version buffering (each fact sees the version valid " +
          "at its own timestamp) — use Relational.temporalJoin (batch, the " +
          "w13 idiom) or StreamOps.temporalJoinStream (streams). The SQL " +
          "front door strips only PROCESSING-time lookups, whose semantics " +
          "ARE the plain current-snapshot join")
      else m.matched // Spark's own time travel (AS OF TIMESTAMP/version)
    }
}
