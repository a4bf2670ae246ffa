package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Parser extension making MATCH_RECOGNIZE reachable from `spark.sql` text —
  * the way Flink SQL users reach CEP (reference flink-table-planner-blink
  * StreamExecMatch.scala plans the clause as a node of the query plan;
  * fixtures MatchRecognizeITCase.scala). Installed via
  * `GraftExtensions` (`spark.sql.extensions=graft.plans.GraftExtensions` or
  * `.withExtensions(GraftExtensions.install)`).
  *
  * The parser is a pure text rewrite: each FROM-clause segment
  * {{{ FROM <source> MATCH_RECOGNIZE ( ... ) }}}
  * becomes a call of the internal table function
  * {{{ FROM graft_match_recognize(X'<clause as UTF-8 hex>', TABLE(<source>)) }}}
  * and the statement goes on to Spark's own parser. `<source>` is a table,
  * view or CTE name, or a parenthesized subquery (`FROM (SELECT …) [AS a]
  * MATCH_RECOGNIZE (…)`; the subquery's alias is dropped). The hex literal
  * carries the clause byte-exact, with no quoting to escape.
  *
  * The table function returns a [[MatchRecognizeRelation]] over the
  * source's plan, and [[ExpandMatchRecognize]] compiles it through
  * [[graft.cep.MatchRecognize.detect]] once Spark's analyzer has resolved
  * the source. So CTE scoping (a CTE shadowing a view, chained CTEs, a
  * WITH after INSERT INTO), subqueries, nested clauses, `EXPLAIN` and
  * unresolvable names (`TABLE_OR_VIEW_NOT_FOUND`) behave as for any other
  * relation, the session catalog is left untouched, and a streaming
  * source keeps its watermark (`detect` routes it to `detectStream`). The
  * pattern compiles during analysis: `EXPLAIN` compiles it too, and runs
  * no job. */
class MatchRecognizeSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    delegate.parsePlan(MatchRecognizeSqlParser.rewrite(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(MatchRecognizeSqlParser.rewrite(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object MatchRecognizeSqlParser {
  /** The internal table function each segment rewrites to. */
  val Function = "graft_match_recognize"

  private val KeywordRx = "(?i)MATCH_RECOGNIZE".r
  private val TableRx = "(?is)\\bFROM\\s+([\\w.]+)\\s+MATCH_RECOGNIZE\\s*\\(".r
  private val SubqueryRx = "(?is)\\bFROM\\s*\\(".r
  // optional `[AS] alias` between a subquery and the clause; the negative
  // lookahead keeps the keyword from parsing as the alias
  private val SubqueryTailRx =
    "(?is)^\\s*(?:(?:AS\\s+)?(?!MATCH_RECOGNIZE\\b)\\w+\\s+)?MATCH_RECOGNIZE\\s*\\(".r

  /** Rewrite every `FROM <source> MATCH_RECOGNIZE (...)` segment, one per
    * pass in text order: a subquery source carries its nested segments
    * into the call, and the next pass rewrites them. Statements without
    * the keyword pass through untouched. */
  def rewrite(sqlText: String): String = {
    if (KeywordRx.findFirstIn(sqlText).isEmpty) return sqlText
    val kind = SqlText.classify(sqlText)
    def inCode(m: scala.util.matching.Regex.Match) = kind(m.start) == SqlText.Code
    // (segment start, source text, index of the clause's open paren)
    val named = TableRx.findAllMatchIn(sqlText).find(inCode)
      .map(m => (m.start, m.group(1), m.end - 1))
    val subquery = SubqueryRx.findAllMatchIn(sqlText).filter(inCode).flatMap { m =>
      val close = SqlText.closeParen(sqlText, m.end - 1)
      if (close < 0) None
      else SubqueryTailRx.findFirstMatchIn(sqlText.substring(close + 1)).map(t =>
        (m.start, sqlText.substring(m.end - 1, close + 1), close + t.end))
    }.nextOption()
    (named ++ subquery).minByOption(_._1) match {
      case None => sqlText
      case Some((start, source, open)) =>
        val close = SqlText.closeParen(sqlText, open)
        require(close >= 0, "unbalanced MATCH_RECOGNIZE parentheses")
        val clause = "MATCH_RECOGNIZE " + sqlText.substring(open, close + 1)
        val hex = clause.getBytes(UTF_8).map(b => f"${b & 0xff}%02X").mkString
        rewrite(sqlText.substring(0, start) +
          s"FROM $Function(X'$hex', TABLE($source))" + sqlText.substring(close + 1))
    }
  }
}
