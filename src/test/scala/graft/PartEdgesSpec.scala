package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.queries.LlmQueries2

/** The co-purchase part-graph edge builders (`LlmQueries2.partEdges*`)
  * have two spellings: a self-join of lineitem on the order id (the
  * directed builder) and a per-order `collect_list` + `transform`/`filter`
  * expansion (the undirected one). This spec keeps the other spelling of
  * each as its reference and compares the two as multisets, in both
  * directions, on a seeded lineitem that holds a part repeated within one
  * order and a null `l_partkey`. */
class PartEdgesSpec extends AnyFunSuite with SparkTest {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-part-edges").toFile
    d.deleteOnExit()
    val rnd = new scala.util.Random(20260)
    val seeded = (1L to 120L).flatMap { o =>
      (1 to 1 + rnd.nextInt(6)).map { ln =>
        Row(o, ln, java.lang.Long.valueOf(1L + rnd.nextInt(40)))
      }
    }
    // order 500: part 7 on lines 1 and 3, a null part on line 2
    val edge = Seq(Row(500L, 1, java.lang.Long.valueOf(7L)), Row(500L, 2, null),
      Row(500L, 3, java.lang.Long.valueOf(7L)), Row(500L, 4, java.lang.Long.valueOf(9L)))
    val schema = StructType(Seq(StructField("l_orderkey", LongType, false),
      StructField("l_linenumber", IntegerType, false),
      StructField("l_partkey", LongType, true)))
    spark.createDataFrame(spark.sparkContext.parallelize(seeded ++ edge, 3), schema)
      .write.parquet(s"${d.getPath}/lineitem.parquet")
    d.getPath
  }

  private def lineitem = spark.read.parquet(s"$dir/lineitem.parquet")

  private def joinUndirected: DataFrame = {
    def side(a: String) =
      lineitem.select(col("l_orderkey"), col("l_partkey").cast("long").as("pk")).as(a)
    side("a").join(side("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
  }

  private def lambdaDirected: DataFrame = lineitem
    .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    .groupBy("l_orderkey").agg(collect_list(struct(
      col("l_linenumber").as("ln"), col("l_partkey").cast("long").as("pk"))).as("xs"))
    .select(explode(expr(
      "flatten(transform(xs, a -> filter(transform(xs, b -> " +
      "IF(a.ln < b.ln AND a.pk != b.pk, struct(a.pk AS src, b.pk AS dst), " +
      "CAST(null AS struct<src:bigint,dst:bigint>))), x -> x IS NOT NULL)))"))
      .as("p"))
    .select(col("p.src").as("src"), col("p.dst").as("dst"))

  private def multiset(df: DataFrame): Map[(Any, Any), Int] =
    df.collect().toSeq.groupBy(r => (r.get(0), r.get(1))).map { case (k, v) => k -> v.size }

  test("undirected lambda edges equal the self-join as a multiset") {
    val got = multiset(LlmQueries2.partEdgesUndirected(spark, dir))
    val want = multiset(joinUndirected)
    assert(got == want)
    assert(got.values.sum > 100, "the seeded orders must pair parts")
    // order 500 pairs 7 → 9 twice (two lines hold part 7); null pairs nothing
    assert(got.getOrElse((7L, 9L), 0) >= 2)
    assert(got.keys.forall { case (a, b) => a != null && b != null })
  }

  test("directed self-join edges equal the lambda expansion as a multiset") {
    val got = multiset(LlmQueries2.partEdgesDirected(spark, dir))
    val want = multiset(lambdaDirected)
    assert(got == want)
    assert(got.values.sum > 100, "the seeded orders must pair parts")
    // the repeated part never pairs with itself; the null part pairs nothing
    assert(!got.contains((7L, 7L)))
    assert(got.keys.forall { case (a, b) => a != null && b != null })
  }

  test("a null order key pairs nothing in either builder") {
    // two lines of one order, and two lines whose order key is null: the
    // self-join (and the DuckDB oracles' JOIN ... ON) pairs only the order
    val d = Files.createTempDirectory("graft-part-edges-null").toFile
    d.deleteOnExit()
    val schema = StructType(Seq(StructField("l_orderkey", LongType, true),
      StructField("l_linenumber", IntegerType, false),
      StructField("l_partkey", LongType, true)))
    val rows = Seq(Row(1L, 1, 10L), Row(1L, 2, 11L), Row(null, 1, 20L), Row(null, 2, 21L),
      Row(2L, 1, 30L), Row(null, 3, 22L))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(s"${d.getPath}/lineitem.parquet")
    val want = Map((10L, 11L) -> 1)
    assert(multiset(LlmQueries2.partEdgesUndirected(spark, d.getPath)) == want)
    assert(multiset(LlmQueries2.partEdgesDirected(spark, d.getPath)) == want)
  }

  test("the directed edge plan is a join without higher-order functions") {
    val p = LlmQueries2.partEdgesDirected(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("Join") && !p.contains("lambda") && !p.contains("ObjectHashAggregate"),
      s"expected a lambda-free self-join:\n$p")
  }
}
