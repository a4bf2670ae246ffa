package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.SortedIntersectPacked

/** The codegen'd merge-intersect behind the triangle edge-iterator
  * (`Iterate.wedgeTriangles` / `flaggedTriangles`): equality with
  * `array_intersect` on sorted distinct input, flag carrying, and the
  * null/empty edges. */
class SortedIntersectSpec extends AnyFunSuite with SparkTest {

  private lazy val s = { graft.plans.GraftExtensions.installInto(spark); spark }
  private def run(q: String) = s.sql(s"SELECT $q AS r").head()

  test("flagBits=0 equals array_intersect on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200) {
      val a = rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(20)).sorted
      val b = rnd.shuffle((0L to 60L).toList).take(rnd.nextInt(20)).sorted
      (a, b)
    }
    val df = rows.toDF("a", "b").select(
      SortedIntersectPacked(col("a"), col("b")).as("mi"),
      sort_array(array_intersect(col("a"), col("b"))).as("ai"))
    // the merge walk emits ascending, so both sides are sorted arrays
    assert(df.filter(col("mi") =!= col("ai")).count() === 0)
  }

  test("flagBits=2 carries each side's low bits through a key match") {
    // keys 5 and 9 shared; flags differ per side: left 5→3, right 5→1;
    // left 9→0, right 9→2. Expected (key<<4)|(fl<<2)|(fr)
    val r = run(
      "graft_sorted_intersect(array(5L*4+3, 9L*4+0, 12L*4+1), " +
        "array(2L*4+2, 5L*4+1, 9L*4+2), 2)")
    assert(r.getSeq[Long](0) === Seq((5L << 4) | (3L << 2) | 1L,
      (9L << 4) | (0L << 2) | 2L))
  }

  test("empty and disjoint inputs yield empty arrays; null input yields null") {
    assert(run("graft_sorted_intersect(cast(array() as array<bigint>), " +
      "cast(array(1) as array<bigint>), 0)").getSeq[Long](0).isEmpty)
    assert(run("graft_sorted_intersect(array(1L, 3L), array(2L, 4L), 0)")
      .getSeq[Long](0).isEmpty)
    assert(run("graft_sorted_intersect(cast(null as array<bigint>), array(1L), 0)")
      .isNullAt(0))
  }

  test("negative keys: signed packed order is walked correctly") {
    // sort_array orders packed longs SIGNED-ascending; the walk must
    // extract keys with arithmetic shifts or negative ids silently skip
    // matches (flagBits=0 and the packed census form both)
    assert(run("graft_sorted_intersect(array(-9L, -3L, 4L), array(-9L, 4L, 7L), 0)")
      .getSeq[Long](0) === Seq(-9L, 4L))
    // keys -2 and 3 shared; packed = key*4 + fl
    val r = run("graft_sorted_intersect(array(-2L*4+1, 3L*4+2), " +
      "array(-5L*4+0, -2L*4+3, 3L*4+0), 2)")
    assert(r.getSeq[Long](0) ===
      Seq((-2L << 4) | (1L << 2) | 3L, (3L << 4) | (2L << 2) | 0L))
  }

  test("flagBits must be an integer literal — fractional and column args are named errors") {
    val e1 = intercept[Exception](
      s.sql("SELECT graft_sorted_intersect(array(1L), array(1L), 2.5)").collect())
    assert(e1.getMessage.contains("integer literal"), e1.getMessage)
    val e2 = intercept[Exception](
      s.sql("SELECT graft_sorted_intersect(array(1L), array(1L), id) FROM range(1)")
        .collect())
    assert(e2.getMessage.contains("integer literal"), e2.getMessage)
    // out-of-int-range LongType literals must not silently truncate
    // (4294967298.intValue() == 2); the range check names them
    val e3 = intercept[Exception](
      s.sql("SELECT graft_sorted_intersect(array(1L), array(1L), 4294967298)")
        .collect())
    assert(e3.getMessage.contains("[0, 15]"), e3.getMessage)
  }

  test("non-bigint input is rejected at analysis time with a named error") {
    val e = intercept[Exception](
      spark.sql("SELECT graft_sorted_intersect(array('a'), array('b'), 0)").collect())
    assert(e.getMessage.contains("sorted_intersect_packed") ||
      e.getMessage.toLowerCase.contains("array<bigint>"))
  }

  test("whole-stage codegen path and interpreted path agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(50) {
      val a = rnd.shuffle((0L to 30L).toList).take(rnd.nextInt(12)).sorted
        .map(k => k * 4 + rnd.nextInt(4))
      val b = rnd.shuffle((0L to 30L).toList).take(rnd.nextInt(12)).sorted
        .map(k => k * 4 + rnd.nextInt(4))
      (a, b)
    }
    val df = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        SortedIntersectPacked(col("a"), col("b"), 2).as("mi"))
    val withCodegen = df.collect()
    val prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val interpreted = rows.toDF("a", "b")
        .select(col("a"), col("b"),
          SortedIntersectPacked(col("a"), col("b"), 2).as("mi")).collect()
      assert(withCodegen.map(_.getSeq[Long](2)).toSeq ===
        interpreted.map(_.getSeq[Long](2)).toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("generated code compiles when the inputs are non-nullable") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeArrayData}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, LongType}
    // flaggedTriangles' collect_list adjacency: non-null arrays of non-null
    // elements, so the expression itself is not nullable
    val t = ArrayType(LongType, containsNull = false)
    val e = SortedIntersectPacked(BoundReference(0, t, nullable = false),
      BoundReference(1, t, nullable = false), 2)
    assert(!e.nullable)
    // compiled directly, without the interpreted fallback that whole-stage
    // codegen takes silently, so a compile error fails the test
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val in = new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(Array(5L * 4 + 3, 9L * 4, 12L * 4 + 1)),
      UnsafeArrayData.fromPrimitiveArray(Array(2L * 4 + 2, 5L * 4 + 1, 9L * 4 + 2))))
    assert(proj(in).getArray(0).toLongArray().toSeq ===
      Seq((5L << 4) | (3L << 2) | 1L, (9L << 4) | (0L << 2) | 2L))
  }
}
