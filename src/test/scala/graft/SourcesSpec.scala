package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** §2.8 — sources & sinks: CSV/JSON/text round-trips, partitioned parquet
  * with partition pruning, rate source, foreachBatch idempotent sink. */
class SourcesSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  private implicit def sqlCtx = spark.sqlContext

  private def tmp() = Files.createTempDirectory("graft_src").toString

  test("Tables.load reads every star-schema table") {
    Tables.all.foreach { n => assert(Tables.load(spark, sfDir, n).count() > 0, n) }
  }

  test("data contract: timestamp columns surface as TIMESTAMP, never NTZ or long") {
    // The r9 testdata regeneration flipped events.ts to parquet timestamp[us]
    // without the UTC flag (Spark: TIMESTAMP_NTZ) and silently crashed 10 CEP
    // queries. Pin the loader's normalization so any future physical-type
    // drift fails here in one second instead of at the driver's gate.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType, LongType}
    Tables.all.foreach { n =>
      val schema = Tables.load(spark, sfDir, n).schema
      schema.fields.filter(f =>
          f.name == "ts" || f.dataType == TimestampNTZType).foreach { f =>
        assert(f.dataType == TimestampType,
          s"$n.${f.name}: expected TIMESTAMP, got ${f.dataType} — Tables.load " +
            "must normalize (nanos-as-long and TIMESTAMP_NTZ both break CEP row access)")
        assert(f.dataType != LongType && f.dataType != TimestampNTZType)
      }
    }
  }

  test("a warm Tables.load infers no schema: it launches no Spark job") {
    val sc = spark.sparkContext
    Tables.load(spark, sfDir, "orders") // cold, unless an earlier test warmed it
    sc.setJobGroup("graft-warm-load", "second load of one table")
    try Tables.load(spark, sfDir, "orders") finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("graft-warm-load").isEmpty)
  }

  test("Tables.load re-infers a table whose files were rewritten") {
    val d = tmp()
    val region = Tables.load(spark, sfDir, "region")
    region.write.parquet(s"$d/region.parquet")
    assert(!Tables.load(spark, d, "region").columns.contains("extra"))
    region.withColumn("extra", org.apache.spark.sql.functions.lit(1))
      .write.mode("overwrite").parquet(s"$d/region.parquet")
    val back = Tables.load(spark, d, "region")
    assert(back.columns.contains("extra"))
    assert(back.count() == region.count())
  }

  test("two loads of one table are distinct relations with fresh attribute IDs") {
    def ids() = Tables.load(spark, sfDir, "nation").queryExecution.analyzed.output
      .map(_.exprId).toSet
    val (a, b) = (ids(), ids())
    assert(a.nonEmpty && (a intersect b).isEmpty, s"shared exprIds: ${a intersect b}")
  }

  test("csv/json/text round-trip") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val d = tmp()
    df.write.option("header", "true").csv(s"$d/csv")
    df.write.json(s"$d/json")
    df.select($"s").write.text(s"$d/text")
    assert(spark.read.option("header", "true").csv(s"$d/csv").count() == 2)
    assert(spark.read.json(s"$d/json").count() == 2)
    assert(spark.read.text(s"$d/text").count() == 2)
  }

  test("orc round-trip with predicate pushdown") {
    val d = tmp()
    Tables.load(spark, sfDir, "orders").write.orc(s"$d/orders_orc")
    val back = spark.read.orc(s"$d/orders_orc").filter($"o_orderkey" === 1L)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"),
      s"expected ORC filter pushdown:\n$plan")
    assert(spark.read.orc(s"$d/orders_orc").count() ==
      Tables.load(spark, sfDir, "orders").count())
  }

  test("partitioned parquet sink prunes partitions on read") {
    val d = tmp()
    Tables.load(spark, sfDir, "orders")
      .write.partitionBy("o_orderstatus").parquet(s"$d/orders_p")
    val scan = spark.read.parquet(s"$d/orders_p").filter($"o_orderstatus" === "F")
    val plan = scan.queryExecution.executedPlan.toString
    assert(scan.count() > 0)
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"expected partition pruning:\n$plan")
  }

  test("rate source streams rows") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .writeStream.format("memory").queryName("rate_t").start()
    try {
      Thread.sleep(1500); q.processAllAvailable()
      assert(spark.table("rate_t").count() > 0)
    } finally q.stop()
  }

  test("streaming parquet sink recovers exactly-once from its checkpoint") {
    val d = tmp()
    val in = MemoryStream[Long]
    def start() = in.toDS().toDF("v").writeStream.format("parquet")
      .option("path", s"$d/out").option("checkpointLocation", s"$d/ck").start()
    val q1 = start()
    in.addData(1L, 2L, 3L); q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart against the same checkpoint
    in.addData(4L, 5L); q2.processAllAvailable(); q2.stop()
    val vals = spark.read.parquet(s"$d/out").selectExpr("v").as[Long].collect().sorted.toSeq
    assert(vals == Seq(1L, 2L, 3L, 4L, 5L), "committed batches must not re-emit on restart")
  }

  test("file-monitoring source picks up files as they land (PROCESS_CONTINUOUSLY analog)") {
    // reference StreamExecutionEnvironment#readFile(FileProcessingMode
    // .PROCESS_CONTINUOUSLY): a directory is a stream; new files become new
    // micro-batches. Spark: readStream over the directory.
    val d = tmp()
    spark.range(3).toDF("v").write.parquet(s"$d/in") // initial backlog
    val stream = spark.readStream.schema("v LONG").parquet(s"$d/in")
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("file_stream_t").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_stream_t").count() == 3, "backlog files read first")
      // a NEW file landing after the query started becomes a later batch
      spark.range(10, 12).toDF("v").write.mode("append").parquet(s"$d/in")
      q.processAllAvailable()
      val vals = spark.table("file_stream_t").as[Long].collect().sorted.toSeq
      assert(vals == Seq(0L, 1L, 2L, 10L, 11L), s"got $vals")
    } finally q.stop()
  }

  test("foreachBatch idempotent sink (exactly-once pattern)") {
    val in = MemoryStream[Long]
    val seen = scala.collection.concurrent.TrieMap[Long, Long]()
    val q = in.toDS().writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], id: Long) =>
      // idempotent upsert keyed by batchId — replays overwrite, not duplicate
      seen.put(id, batch.count())
      ()
    }.start()
    in.addData(1L, 2L, 3L)
    q.processAllAvailable(); q.stop()
    assert(seen.values.sum == 3)
  }
}
