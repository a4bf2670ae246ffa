package graft.plans

import scala.util.matching.Regex

/** Flink SQL GROUP-WINDOW spellings → Spark's window functions, as a pure
  * text rewrite (reference flink-table/flink-table-planner-blink/.../
  * functions/sql/FlinkSqlOperatorTable.java TUMBLE/HOP/SESSION +
  * auxiliary _START/_END/_ROWTIME group-window operators; the grammar half
  * lives in the calcite extension). The most common Flink SQL idiom —
  * {{{ SELECT TUMBLE_START(ts, INTERVAL '10' MINUTE), count(*)
  *     FROM t GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE) }}}
  * — runs VERBATIM through `spark.sql` once rewritten:
  *
  *  - `TUMBLE(ts, INTERVAL 'n' unit)`       → `window(ts, 'n unit')`
  *  - `HOP(ts, INTERVAL slide, INTERVAL size)` → `window(ts, 'size', 'slide')`
  *    (Flink's argument order is (slide, size); Spark's is (size, slide))
  *  - `SESSION(ts, INTERVAL 'gap' unit)`    → `session_window(ts, 'gap unit')`
  *  - `TUMBLE_START/_END`, `HOP_START/_END` → `window.start` / `window.end`
  *  - `SESSION_START/_END`                  → `session_window.start` / `.end`
  *  - `TUMBLE_ROWTIME`/`HOP_ROWTIME`        → `window.end - INTERVAL '0.001' SECOND`
  *    `SESSION_ROWTIME`                     → same over `session_window`
  *    (the reference's rowtime auxiliary IS end − 1 ms — a time attribute
  *    inside the window, so an ENCLOSING group window over it assigns each
  *    inner window to the right outer bucket: the cascading-windows idiom
  *    runs from pure Flink text. On a stream re-attach the watermark with
  *    `withWatermark` on the derived column; Spark ≥3.4 chains the
  *    stateful windows.)
  *
  * The rewrite applies on batch AND streaming frames exactly as Spark's
  * own window functions do (a GROUP BY window(...) exposes the `window`
  * struct to the SELECT list — same scoping as Flink's auxiliary
  * functions). The `_PROCTIME` auxiliaries remain NAMED rejections:
  * processing time has no deterministic value to re-export.
  *
  * Matches that START inside a string literal, quoted identifier or
  * comment ([[SqlText]]) are left untouched (the interval quotes INSIDE a
  * match are part of the match itself, so they never mask it).
  * Auxiliary-vs-GROUP-BY validation normalizes the time argument to its
  * last identifier segment, so
  * `TUMBLE_START(t.ts, …)` matches `GROUP BY TUMBLE(ts, …)` exactly as
  * Flink's semantic validator resolves both to the same column. */
object GroupWindowSql {

  private val Unit = """(?:SECOND|MINUTE|HOUR|DAY)S?"""
  private val Iv = s"""INTERVAL\\s+'([\\d.]+)'\\s+($Unit)"""
  // the time argument: a column, optionally qualified (t.ts)
  private val Arg = """([\w.]+)"""

  private val TumbleRx = s"""(?i)\\bTUMBLE\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*\\)""".r
  private val TumbleAuxRx = s"""(?i)\\bTUMBLE_(START|END)\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*\\)""".r
  private val HopRx = s"""(?i)\\bHOP\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*,\\s*$Iv\\s*\\)""".r
  private val HopAuxRx = s"""(?i)\\bHOP_(START|END)\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*,\\s*$Iv\\s*\\)""".r
  private val SessionRx = s"""(?i)\\bSESSION\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*\\)""".r
  private val SessionAuxRx = s"""(?i)\\bSESSION_(START|END)\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*\\)""".r
  private val TumbleRowtimeRx = s"""(?i)\\bTUMBLE_ROWTIME\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*\\)""".r
  private val HopRowtimeRx = s"""(?i)\\bHOP_ROWTIME\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*,\\s*$Iv\\s*\\)""".r
  private val SessionRowtimeRx = s"""(?i)\\bSESSION_ROWTIME\\s*\\(\\s*$Arg\\s*,\\s*$Iv\\s*\\)""".r
  private val ProctimeRx = """(?i)\b(TUMBLE|HOP|SESSION)_PROCTIME\s*\(""".r

  private def dur(n: String, unit: String): String =
    s"$n ${unit.toLowerCase.stripSuffix("s")}s"

  private def matchesOutside(rx: Regex, s: String): List[Regex.Match] = {
    val kind = SqlText.classify(s)
    rx.findAllMatchIn(s).filter(m => kind(m.start) == SqlText.Code).toList
  }

  /** replaceAllIn, skipping matches that start inside a literal or comment. */
  private[plans] def replaceOutside(rx: Regex, s: String)(
      f: Regex.Match => String): String = {
    val kind = SqlText.classify(s)
    rx.replaceAllIn(s, m =>
      Regex.quoteReplacement(if (kind(m.start) != SqlText.Code) m.matched else f(m)))
  }

  /** Rewrite every group-window spelling in `sql`; text without them
    * passes through byte-identical. An auxiliary whose arguments do not
    * match any group-window call in the statement is a NAMED error — the
    * rewrite maps it to `window.start/end` of the GROUP BY's window, so a
    * silent mismatch would return the wrong window's bound (Flink's
    * validator rejects the same mismatch). */
  def rewrite(sql: String): String = {
    matchesOutside(ProctimeRx, sql).headOption.foreach { m =>
      sys.error(s"${m.group(1)}_PROCTIME() re-exports a PROCESSING-time " +
        "attribute, which has no deterministic value — use the rowtime " +
        "auxiliary (mapped to window.end - 1ms) or an explicit timestamp")
    }
    // signatures normalize the interval (MINUTE == MINUTES); the time
    // argument matches when the FULL (case-folded) spelling matches, or
    // when exactly one side is unqualified and the last identifier segment
    // agrees (t.ts == ts — Flink's validator resolves both to the same
    // column). Two DIFFERENTLY-qualified args (o.ts vs e.ts) stay a
    // mismatch — they may be different columns, and silently mapping the
    // auxiliary to the other table's window would return the wrong bound.
    def sig1(kind: String, arg: String, n: String, u: String) =
      (arg.toLowerCase, s"$kind ${dur(n, u)}")
    def sig2(kind: String, arg: String, n1: String, u1: String, n2: String, u2: String) =
      (arg.toLowerCase, s"$kind ${dur(n1, u1)} ${dur(n2, u2)}")
    val winSigs =
      matchesOutside(TumbleRx, sql).map(m => sig1("tumble", m.group(1), m.group(2), m.group(3))) ++
        matchesOutside(HopRx, sql).map(m => sig2("hop", m.group(1), m.group(2), m.group(3), m.group(4), m.group(5))) ++
        matchesOutside(SessionRx, sql).map(m => sig1("session", m.group(1), m.group(2), m.group(3)))
    val auxSigs =
      matchesOutside(TumbleAuxRx, sql).map(m => sig1("tumble", m.group(2), m.group(3), m.group(4))) ++
        matchesOutside(HopAuxRx, sql).map(m => sig2("hop", m.group(2), m.group(3), m.group(4), m.group(5), m.group(6))) ++
        matchesOutside(SessionAuxRx, sql).map(m => sig1("session", m.group(2), m.group(3), m.group(4))) ++
        matchesOutside(TumbleRowtimeRx, sql).map(m => sig1("tumble", m.group(1), m.group(2), m.group(3))) ++
        matchesOutside(HopRowtimeRx, sql).map(m => sig2("hop", m.group(1), m.group(2), m.group(3), m.group(4), m.group(5))) ++
        matchesOutside(SessionRowtimeRx, sql).map(m => sig1("session", m.group(1), m.group(2), m.group(3)))
    def argsAgree(a: String, w: String): Boolean =
      a == w ||
        (!a.contains('.') && w.split('.').last == a) ||
        (!w.contains('.') && a.split('.').last == w)
    val orphans = auxSigs.filterNot { case (aArg, aSuf) =>
      winSigs.exists { case (wArg, wSuf) => wSuf == aSuf && argsAgree(aArg, wArg) }
    }
    require(orphans.isEmpty,
      s"group-window auxiliary arguments ${orphans.map(o => s"${o._2}(${o._1})").toSet.mkString(", ")} " +
        "match no group-window call in the statement — the auxiliary must " +
        "repeat the GROUP BY window's exact arguments (Flink validates the " +
        "same way)")
    var out = sql
    out = replaceOutside(TumbleRowtimeRx, out)(_ => "(window.end - INTERVAL '0.001' SECOND)")
    out = replaceOutside(HopRowtimeRx, out)(_ => "(window.end - INTERVAL '0.001' SECOND)")
    out = replaceOutside(SessionRowtimeRx, out)(_ => "(session_window.end - INTERVAL '0.001' SECOND)")
    out = replaceOutside(TumbleAuxRx, out)(m => s"window.${m.group(1).toLowerCase}")
    out = replaceOutside(HopAuxRx, out)(m => s"window.${m.group(1).toLowerCase}")
    out = replaceOutside(SessionAuxRx, out)(m => s"session_window.${m.group(1).toLowerCase}")
    out = replaceOutside(TumbleRx, out)(m =>
      s"window(${m.group(1)}, '${dur(m.group(2), m.group(3))}')")
    // Flink HOP args are (slide, size); Spark window args are (size, slide)
    out = replaceOutside(HopRx, out)(m =>
      s"window(${m.group(1)}, '${dur(m.group(4), m.group(5))}', '${dur(m.group(2), m.group(3))}')")
    out = replaceOutside(SessionRx, out)(m =>
      s"session_window(${m.group(1)}, '${dur(m.group(2), m.group(3))}')")
    out
  }
}
