package graft.plans

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression,
  ExpressionInfo, FunctionTableSubqueryArgumentExpression}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationDef, CTERelationRef,
  LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.functions.ArrayDotProduct

/** SparkSessionExtensions integration — the library's native pieces become
  * first-class SQL citizens:
  *
  *  - `array_dot(a, b)` SQL function backed by the codegen'd
  *    [[graft.functions.ArrayDotProduct]]
  *  - [[DotProductFusion]]: an optimizer rule that rewrites the composable
  *    `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)` pattern
  *    into the native expression, so code written against plain builtins gets
  *    the fast path automatically
  *
  * Enable with:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(GraftExtensions.install)   // programmatic
  *   // or spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * Mirrors the reference's module/function-catalog registration surface
  * (flink-table/flink-table-common/src/main/java/org/apache/flink/table/
  * functions/FunctionDefinition.java and the Blink planner's
  * FlinkSqlOperatorTable).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftExtensions.install(ext)
}

object GraftExtensions {
  val install: SparkSessionExtensions => Unit = { ext =>
    ext.injectFunction((
      new FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "array_dot"),
      (children: Seq[Expression]) => ArrayDotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sorted_intersect"),
      new ExpressionInfo(classOf[graft.functions.SortedIntersectPacked].getName,
        "graft_sorted_intersect"),
      sortedIntersect _))
    ext.injectTableFunction((
      new FunctionIdentifier("graph_pagerank"),
      new ExpressionInfo("graft", "graph_pagerank"),
      pageRankPlan _))
    ext.injectOptimizerRule(_ => DotProductFusion)
    ext.injectPlannerStrategy(_ => TopNPerKeyStrategy)
    // FROM <source> MATCH_RECOGNIZE (...) in spark.sql text: the parser
    // rewrites it to this table function, the rule expands its node
    ext.injectParser((_, parser) => new MatchRecognizeSqlParser(parser))
    ext.injectTableFunction((
      new FunctionIdentifier(MatchRecognizeSqlParser.Function),
      new ExpressionInfo("graft", MatchRecognizeSqlParser.Function),
      matchRecognizePlan _))
    ext.injectResolutionRule(ExpandMatchRecognize)
    // Flink-dialect CREATE TABLE … WITH ('connector' = …) + WATERMARK FOR —
    // the DDL front door; see FlinkDdl
    ext.injectParser((session, parser) => new FlinkDdlSqlParser(session, parser))
  }

  /** `graph_pagerank('<table>', '<src_col>', '<dst_col>', <iters>)` — a
    * TABLE-valued SQL front door onto [[graft.operators.Iterate.pageRank]]
    * (the reference exposes Gelly PageRank only through the DataSet API,
    * flink-libraries/flink-gelly/.../linkanalysis/PageRank.java; here it is
    * a first-class FROM-clause citizen). Returns (id, rank). The iterative
    * fixpoint materializes when the enclosing query is analyzed — the
    * supersteps run as Spark jobs exactly as the combinator path, since an
    * iteration cannot be expressed as a single lazy plan. */
  private def pageRankPlan(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 4,
      "graph_pagerank('<table>', '<src_col>', '<dst_col>', <iters>)")
    def str(e: Expression): String = e.eval() match {
      case null => sys.error("graph_pagerank arguments must be literals")
      case v => v.toString
    }
    val iters = args(3).eval().asInstanceOf[Number].intValue()
    val spark = org.apache.spark.sql.SparkSession.active
    val ranked = graft.operators.Iterate.pageRank(
      spark.table(str(args(0))), str(args(1)), str(args(2)), iters)
    ColumnBridge.logicalPlan(ranked)
  }

  /** `graft_match_recognize(X'<clause>', TABLE(<source>))`, the call
    * [[MatchRecognizeSqlParser]] writes: the clause as UTF-8 bytes over the
    * source's plan. */
  private def matchRecognizePlan(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(clause, source: FunctionTableSubqueryArgumentExpression) if clause.foldable =>
      MatchRecognizeRelation(
        new String(clause.eval().asInstanceOf[Array[Byte]], StandardCharsets.UTF_8),
        source.plan)
    case _ => sys.error(s"${MatchRecognizeSqlParser.Function}(X'<clause>', " +
      "TABLE(<source>)) is written by the MATCH_RECOGNIZE parser — write " +
      "FROM <source> MATCH_RECOGNIZE (...) instead")
  }

  /** `graft_sorted_intersect(a, b[, flagBits])` — the codegen'd merge
    * intersection of two sorted `array<bigint>` columns
    * ([[graft.functions.SortedIntersectPacked]]); `flagBits` (a literal,
    * default 0) carries each element's low bits through a key match. */
  private def sortedIntersect(children: Seq[Expression]): Expression = {
    require(children.length == 2 || children.length == 3,
      "graft_sorted_intersect(a, b[, flagBits])")
    val bits =
      if (children.length == 2) 0
      else {
        // a column reference would throw a raw Cannot-evaluate from eval(),
        // and a fractional literal would silently truncate — name both
        val integral = children(2).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => true
          case _ => false
        }
        if (!children(2).foldable || !integral)
          sys.error("graft_sorted_intersect flagBits must be an integer literal")
        children(2).eval() match {
          // longValue + range check: intValue() would silently truncate an
          // out-of-int-range LongType literal (2^32+2 -> flagBits 2)
          case n: Number if n.longValue() >= 0 && n.longValue() <= 15 =>
            n.intValue()
          case n: Number => sys.error(
            s"graft_sorted_intersect flagBits must be in [0, 15], got ${n.longValue()}")
          case _ => sys.error("graft_sorted_intersect flagBits must be an integer literal")
        }
      }
    graft.functions.SortedIntersectPacked(children(0), children(1), bits)
  }

  /** Install onto an already-running session (extensions normally bind at
    * construction): function via the registry, rule via the public
    * `experimental.extraOptimizations` hook. */
  def installInto(spark: org.apache.spark.sql.SparkSession): Unit = {
    ColumnBridge.registerFunction(spark, "array_dot",
      children => ArrayDotProduct(children(0), children(1)))
    ColumnBridge.registerFunction(
      spark, "graft_sorted_intersect", sortedIntersect _)
    ColumnBridge.registerTableFunction(
      spark, "graph_pagerank", pageRankPlan _)
    if (!spark.experimental.extraOptimizations.contains(DotProductFusion))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DotProductFusion
    if (!spark.experimental.extraStrategies.contains(TopNPerKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopNPerKeyStrategy
  }
}

/** A MATCH_RECOGNIZE clause over its source's plan, as
  * `graft_match_recognize` returns it. It stays unresolved until
  * [[ExpandMatchRecognize]] replaces it with the matches. */
case class MatchRecognizeRelation(clause: String, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Nil
  override lazy val resolved: Boolean = false
  override protected def withNewChildInternal(newChild: LogicalPlan): MatchRecognizeRelation =
    copy(child = newChild)
}

/** Replaces each [[MatchRecognizeRelation]] whose source Spark has
  * resolved with the plan of [[graft.cep.MatchRecognize.detect]] over that
  * source. The source may reference CTEs of the enclosing statement, whose
  * definitions sit outside it: each reference is inlined first, as a
  * projection over the definition that keeps the reference's attributes.
  * The analyzer resolves a subquery on its own before the statement around
  * it, so a node whose CTE definitions are not in the plan at hand waits
  * for the statement's pass, which reaches into subqueries. */
case class ExpandMatchRecognize(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.collectWithSubqueries { case m: MatchRecognizeRelation => m }.isEmpty) plan
    else {
      val ctes = plan.collectWithSubqueries { case d: CTERelationDef => d.id -> d }.toMap
      plan.transformUpWithSubqueries {
        case MatchRecognizeRelation(clause, child) if child.resolved &&
            child.collectWithSubqueries { case r: CTERelationRef => r.cteId }
              .forall(ctes.contains) =>
          val source = child.transformDownWithSubqueries {
            case ref: CTERelationRef =>
              val cte = ctes(ref.cteId)
              Project(ref.output.zip(cte.output).map { case (r, d) =>
                Alias(d, r.name)(exprId = r.exprId) }, cte.child)
          }
          ColumnBridge.logicalPlan(graft.cep.MatchRecognize.detect(
            ColumnBridge.ofRows(session, source), clause))
      }
    }
}

/** Rewrites aggregate(zip_with(a, b, _*_), 0.0, _+_) → ArrayDotProduct(a, b).
  * Same left-to-right float semantics, minus the intermediate array. */
object DotProductFusion extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._

  private def isMultiplyLambda(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(x: NamedExpression, y: NamedExpression, _), Seq(a, b), _) =>
      (x.exprId == a.exprId && y.exprId == b.exprId) ||
        (x.exprId == b.exprId && y.exprId == a.exprId)
    case _ => false
  }
  private def isSumLambda(f: Expression): Boolean = f match {
    case LambdaFunction(Add(x: NamedExpression, y: NamedExpression, _), Seq(acc, v), _) =>
      (x.exprId == acc.exprId && y.exprId == v.exprId) ||
        (x.exprId == v.exprId && y.exprId == acc.exprId)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(ZipWith(a, b, mul), Literal(0.0, _), sum, finish)
        if isMultiplyLambda(mul) && isSumLambda(sum) && isIdentityFinish(finish) =>
      ArrayDotProduct(a, b)
  }

  private def isIdentityFinish(f: Expression): Boolean = f match {
    case LambdaFunction(x: NamedExpression, Seq(acc), _) => x.exprId == acc.exprId
    case _ => false
  }
}
