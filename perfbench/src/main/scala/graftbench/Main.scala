package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SparkEntry
import graft.streaming.Event

/** The benchmark's measuring process: one JVM, one Spark session at a time,
  * one client thread issuing work closed-loop.
  *
  * It sets the session up `Setups` times (start, table registration and one
  * untimed warm-up pass each; the first warm-up pass also writes every
  * output for the check), runs a few untimed passes, then runs complete
  * passes until `seconds` have elapsed, and writes everything it measured to
  * `<out>/result.json`. `run.py` turns that file into metrics and checks
  * the outputs. With `--trace 1` every other pass runs with the
  * listeners attached; those passes give the per-layer figures and the
  * listener-free passes in between give the tracing overhead. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, out: String, src: String, work: String,
                        cores: Int, queries: Seq[String])

  /** Set-ups per run: `setup_s` is their median. */
  val Setups = 3
  /** Untimed passes in the measured session before the timed ones, so the
    * JIT has settled on the code the timed passes run: two short batch
    * passes, or one replay, which is longer and runs less distinct code. */
  def settlePasses(workload: String): Int = if (workload == "stream_replay") 1 else 2
  /** The streaming watermark delay, in spans of event time of one
    * micro-batch: out-of-order events (one batch late) stay inside it, late
    * events (four batches late, see run.py) fall behind it. */
  val WatermarkSpans = 1.5

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"), m("src"), m("work"), m("cores").toInt,
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  // Span clock: nanoTime for precision, shifted onto the epoch milliseconds
  // Spark's listener events carry.
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bench = new Bench(a)
    try bench.run()
    finally bench.stop()
  }
}

final class Bench(a: Main.Args) {
  import Main._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 1
  private def span(parent: Int, kind: String, name: String, s: Double, e: Double,
                   attrs: Map[String, Any] = Map.empty): Int = {
    val id = nextSpan; nextSpan += 1
    spans += Span(id, parent, kind, name, s, e, attrs); id
  }
  private def close(id: Int, end: Double): Unit = {
    val i = spans.indexWhere(_.id == id)
    spans(i) = spans(i).copy(endMs = end)
  }

  private val moduleOfFile: Map[String, String] = {
    val root = new File(a.src)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala")).map { f =>
      val rel = root.toPath.relativize(f.toPath)
      f.getName.stripSuffix(".scala") ->
        (if (rel.getNameCount > 1) rel.getName(0).toString else "graft")
    }.toMap
  }
  private val tracer = new Tracer(f => moduleOfFile.getOrElse(f.stripSuffix(".scala"), "bench"))

  private var spark: SparkSession = _
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private val setupTimes = mutable.ArrayBuffer.empty[Double]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val isStream = a.workload == "stream_replay"

  private def newSession(): SparkSession = {
    stop()
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graft-perfbench-${a.workload}")
      // The replay's stateful operators run in one partition and without
      // no-data micro-batches: each partition is a state store committed on
      // every trigger, and a no-data batch after each watermark move doubles
      // the triggers. Both more than doubled a replay's time.
      .config("spark.sql.shuffle.partitions", (if (isStream) 1 else a.cores).toString)
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    s
  }

  def stop(): Unit = if (spark != null) {
    spark.streams.active.foreach(_.stop())
    spark.stop()
    spark = null
  }

  private def mb(bytes: Long): Double = bytes / 1048576.0

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Frees everything the pass left cached: cached frames and persisted or
    * checkpointed RDD blocks. */
  private def clearSession(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Heap in use after full collections, repeated until two readings agree
    * within 1 MB: Spark's cleaner releases broadcast and shuffle blocks only
    * after a collection has found their handles unreachable. */
  private def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); mb(rt.totalMemory() - rt.freeMemory()) }
    var prev = Double.MaxValue
    var cur = used()
    var rounds = 0
    while (rounds < 5 && math.abs(prev - cur) > 1.0) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  // ---------------------------------------------------------------- batch

  private lazy val queryFns = SparkEntry.queries

  /** One pass over the batch queries, in `order`. `checkDir` set: each result
    * is written there as parquet for the output check instead of into the
    * noop sink. Returns the pass record. */
  private def batchPass(passId: Int, order: Seq[String], checkDir: Option[String]): Map[String, Any] = {
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    var peakCached = 0L
    val p0 = nowMs()
    order.filterNot(failures.contains).foreach { name =>
      val q0 = nowMs()
      try {
        val df = queryFns(name)(spark, a.data)
        val q1 = nowMs()
        checkDir match {
          case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          case None => df.write.mode("overwrite").format("noop").save()
        }
        val q2 = nowMs()
        val qs = span(passId, "query", name, q0, q2)
        span(qs, "construct", name, q0, q1)
        span(qs, "action", name, q1, q2)
        samples += Map("name" -> name, "wall_s" -> (q2 - q0) / 1000, "start_ms" -> q0,
          "construct_end_ms" -> q1, "end_ms" -> q2)
        peakCached = math.max(peakCached, cachedBytes())
      } catch {
        case e: Throwable => failures(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
    }
    val p1 = nowMs()
    Map("samples" -> samples.toSeq, "start_ms" -> p0, "end_ms" -> p1,
      "peak_cached_mb" -> mb(peakCached))
  }

  // --------------------------------------------------------------- stream

  /** The replay log: micro-batches in delivery order. */
  private lazy val batches: IndexedSeq[Seq[Event]] = {
    // the log's `ts` is written without a zone; the session runs in UTC
    val df = spark.read.parquet(s"${a.data}/stream.parquet").withColumn("ts", col("ts").cast("timestamp"))
    val byBatch = df.collect().toSeq.groupBy(_.getAs[Int]("batch"))
    require((0 to byBatch.keys.max).forall(byBatch.contains), "the replay log has an empty micro-batch")
    (0 to byBatch.keys.max).map(b => byBatch(b).map(r =>
      Event(r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts"), r.getAs[String]("event_type"),
        r.getAs[Double]("value"))))
  }
  private lazy val watermark: String = {
    val ts = batches.flatten.map(_.ts.getTime)
    s"${((ts.max - ts.min) * WatermarkSpans / batches.size).toLong} milliseconds"
  }

  private var queriesStarted = 0
  /** Each pipeline's rows of the first replay: every later replay must emit
    * the same. */
  private val firstRows = mutable.Map.empty[String, Seq[String]]

  /** One pass of the replay: each pipeline in turn replays the whole log in
    * a fresh query, micro-batch by micro-batch, each timed from append to
    * `processAllAvailable`. With `check`, its rows are then written for
    * the output check. */
  private def streamPass(passId: Int, check: Boolean): Map[String, Any] = {
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val p0 = nowMs()
    Pipelines.all.filterNot(p => failures.contains(p.name)).foreach { p =>
      val s0 = nowMs()
      var events = 0
      try {
        val in = MemoryStream[Event](Encoders.product[Event], spark)
        val rows = mutable.ArrayBuffer.empty[(Long, Row)]
        val sink = new VoidFunction2[DataFrame, java.lang.Long] {
          def call(df: DataFrame, id: java.lang.Long): Unit = {
            val got = df.collect()
            rows.synchronized { got.foreach(r => rows += ((id.longValue, r))) }
          }
        }
        queriesStarted += 1
        val q = p.build(in.toDS(), watermark).writeStream
          .queryName(s"${p.name}_$queriesStarted")
          .option("checkpointLocation", s"${a.work}/checkpoints/$queriesStarted")
          .outputMode("append")
          .foreachBatch(sink)
          .start()
        try {
          batches.zipWithIndex.foreach { case (evs, b) =>
            val t0 = nowMs()
            in.addData(evs)
            q.processAllAvailable()
            val t1 = nowMs()
            events += evs.size
            samples += Map("name" -> p.name, "batch" -> b, "events" -> evs.size,
              "wall_s" -> (t1 - t0) / 1000, "start_ms" -> t0, "end_ms" -> t1)
          }
          val got = rows.synchronized(rows.map(_._2.toString).sorted.toSeq)
          if (firstRows.getOrElseUpdate(p.name, got) != got)
            failures(p.name) = s"a replay emitted ${got.size} rows, the first ${firstRows(p.name).size}"
          if (check) writeRows(p.name, rows.synchronized(rows.toList))
        } finally q.stop()
      } catch {
        case e: Throwable => failures(p.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      }
      span(passId, "pipeline", p.name, s0, nowMs(), Map("events" -> events))
    }
    Map("samples" -> samples.toSeq, "start_ms" -> p0, "end_ms" -> nowMs(),
      "peak_cached_mb" -> mb(cachedBytes()))
  }

  /** Untimed: a pipeline's rows, with the micro-batch that emitted each, as
    * parquet for the output check. */
  private def writeRows(name: String, got: List[(Long, Row)]): Unit = {
    if (got.nonEmpty) {
      val schema = StructType(StructField("batch_id", LongType) +: got.head._2.schema.fields)
      val rows = got.map { case (id, row) => Row.fromSeq(id +: row.toSeq) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"${a.out}/stream/$name")
    }
  }

  // ------------------------------------------------------------ per layer

  private def layers(pass: Map[String, Any], jobs: Seq[JobRec], planNs: Long, execs: Int,
                     progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Map[String, Double] = {
    val p0 = pass("start_ms").asInstanceOf[Double]
    val p1 = pass("end_ms").asInstanceOf[Double]
    val wall = (p1 - p0) / 1000
    val samples = pass("samples").asInstanceOf[Seq[Map[String, Any]]]
    val ivs = jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
    def jobsIn(s: Double, e: Double) = jobs.filter(j => j.startMs >= s - 1 && j.startMs <= e + 1)
    val constructs = samples.filter(_.contains("construct_end_ms")).map(s =>
      (s("start_ms").asInstanceOf[Double], s("construct_end_ms").asInstanceOf[Double]))
    def mod(m: String) = jobs.filter(_.module == m)
    def jobS(js: Seq[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1000.0).sum
    def cpuS(js: Seq[JobRec]) = js.map(_.cpuNs).sum / 1e9
    val cpu = cpuS(jobs)
    val base = Map(
      "queries.construct_s" -> constructs.map { case (s, e) => (e - s) / 1000 }.sum,
      "queries.construct_jobs" -> constructs.map { case (s, e) => jobsIn(s, e).size }.sum.toDouble,
      "queries.construct_self_s" -> constructs.map { case (s, e) =>
        ((e - s) - Trace.covered(ivs, s, e)) / 1000 }.sum,
      "sources.jobs" -> mod("sources").size.toDouble,
      "sources.job_s" -> jobS(mod("sources")),
      "operators.jobs" -> mod("operators").size.toDouble,
      "operators.job_s" -> jobS(mod("operators")),
      "operators.task_cpu_s" -> cpuS(mod("operators")),
      "cep.jobs" -> mod("cep").size.toDouble,
      "cep.job_s" -> jobS(mod("cep")),
      "cep.task_cpu_s" -> cpuS(mod("cep")),
      "plans.jobs" -> mod("plans").size.toDouble,
      "plans.job_s" -> jobS(mod("plans")),
      // jobs the benchmark's own action call launched: the query's plan,
      // whichever module built it
      "queries.action_jobs" -> mod("bench").size.toDouble,
      "queries.action_job_s" -> jobS(mod("bench")),
      "catalyst.plan_s" -> planNs / 1e9,
      "catalyst.executions" -> execs.toDouble,
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> jobs.map(_.stages).sum.toDouble,
      "scheduler.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "scheduler.job_s" -> jobS(jobs),
      "scheduler.driver_only_s" -> (wall - Trace.covered(ivs, p0, p1) / 1000),
      "scheduler.task_failures" -> jobs.map(_.taskFailures).sum.toDouble,
      "executor.task_cpu_s" -> cpu,
      "executor.task_run_s" -> jobs.map(_.runMs).sum / 1000.0,
      "executor.gc_s" -> jobs.map(_.gcMs).sum / 1000.0,
      "executor.core_util" -> (if (wall > 0) cpu / (wall * a.cores) else 0.0),
      "shuffle.read_mb" -> mb(jobs.map(_.shuffleReadB).sum),
      "shuffle.write_mb" -> mb(jobs.map(_.shuffleWriteB).sum),
      "shuffle.spill_mb" -> mb(jobs.map(_.spillB).sum),
      "storage.cached_mb" -> pass("peak_cached_mb").asInstanceOf[Double],
      "storage.persisted_rdds" -> pass("persisted_rdds").asInstanceOf[Int].toDouble)
    // Each sample's wall is split into driver self time (not covered by a
    // job) and job time; the residual is the job time Spark reported outside
    // the span the job started in, as a share of that span.
    val residual = samples.map { s =>
      val (s0, s1) = (s("start_ms").asInstanceOf[Double], s("end_ms").asInstanceOf[Double])
      val own = jobs.filter(j => j.startMs >= s0 - 1 && j.startMs <= s1 + 1)
        .map(j => (j.startMs.toDouble, j.endMs.toDouble))
      val all = Trace.covered(own, Double.MinValue, Double.MaxValue)
      if (s1 > s0) (all - Trace.covered(own, s0, s1)) / (s1 - s0) else 0.0
    }
    base ++ Trace.streaming(progress) + ("trace.residual_frac" -> (if (residual.isEmpty) 0.0 else residual.max))
  }

  /** Spark job spans under the query (or micro-batch) span they ran in. */
  private def jobSpans(passId: Int, p0: Double, p1: Double, jobs: Seq[JobRec]): Unit = {
    val parents = spans.filter(s => (s.kind == "construct" || s.kind == "action" ||
      s.kind == "pipeline") && s.startMs >= p0 && s.endMs <= p1)
    jobs.foreach { j =>
      val parent = parents.find(s => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
        .map(_.id).getOrElse(passId)
      span(parent, "job", j.callSite, j.startMs.toDouble, j.endMs.toDouble,
        Map("job_id" -> j.id, "module" -> j.module, "tasks" -> j.tasks,
          "task_cpu_s" -> j.cpuNs / 1e9))
    }
  }

  // ------------------------------------------------------------------ run

  def run(): Unit = {
    new File(a.out).mkdirs()
    val order0 = a.queries
    val workloadSpan = span(0, "workload", a.workload, nowMs(), Double.NaN)
    def shuffled(passNo: Int) = new Random(a.seed * 1000003L + passNo).shuffle(order0)

    // set-up, repeated: session start plus one untimed warm-up pass
    (0 until Setups).foreach { k =>
      val s0 = nowMs()
      newSession()
      val sid = span(workloadSpan, "setup", s"setup$k", s0, Double.NaN)
      if (isStream) streamPass(sid, check = k == 0)
      else {
        batchPass(sid, order0, if (k == 0) Some(s"${a.out}/check") else None)
        clearSession()
      }
      val s1 = nowMs()
      setupTimes += (s1 - s0) / 1000
      close(sid, s1)
    }

    // untimed passes in the measured session, so the JIT has settled on the
    // code the timed passes run
    val settle = settlePasses(a.workload)
    (1 to settle).foreach { k =>
      val sid = span(workloadSpan, "settle", s"settle$k", nowMs(), Double.NaN)
      if (isStream) streamPass(sid, check = false) else { batchPass(sid, shuffled(-k), None); clearSession() }
      close(sid, nowMs())
    }

    val heapMb = retainedHeapMb()

    // timed passes until the run length is used up
    val deadline = nowMs() + a.seconds * 1000
    var passNo = settle + 1
    // At least three passes: a replay pass takes about half the run length,
    // and runs that stopped after two passes or after three would time
    // different passes (later ones run faster code). A traced run needs two,
    // one of them without listeners.
    val minPasses = if (a.trace) 2 else 3
    while (passNo <= settle + minPasses || nowMs() < deadline) {
      val traced = a.trace && passNo % 2 == 1
      if (traced) tracer.attach(spark)
      val pid = span(workloadSpan, "pass", s"pass$passNo", nowMs(), Double.NaN)
      val order = if (isStream) Nil else shuffled(passNo)
      val rec0 = if (isStream) streamPass(pid, check = false) else batchPass(pid, order, None)
      val cacheMb = mb(cachedBytes())
      val rec = rec0 + ("session_cache_mb" -> cacheMb) +
        ("persisted_rdds" -> spark.sparkContext.getPersistentRDDs.size) +
        ("traced" -> traced) + ("order" -> order)
      val layered = if (traced) {
        tracer.detach(spark)
        val (jobs, planNs, execs, progress) = tracer.take()
        jobSpans(pid, rec("start_ms").asInstanceOf[Double], rec("end_ms").asInstanceOf[Double], jobs)
        rec + ("layers" -> layers(rec, jobs, planNs, execs, progress))
      } else rec
      close(pid, rec("end_ms").asInstanceOf[Double])
      if (!isStream) clearSession()
      passes += layered
      passNo += 1
    }
    val measuredEnd = nowMs()
    close(workloadSpan, measuredEnd)

    if (!isStream) {
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => order0.contains(k) }
      Files.write(Paths.get(s"${a.out}/check/oracle_sql.json"),
        Json.write(oracles).getBytes(StandardCharsets.UTF_8))
    }

    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> a.cores,
      "queries" -> order0, "setups_s" -> setupTimes.toSeq, "passes" -> passes.toSeq,
      "retained_heap_mb" -> heapMb,
      "failures" -> failures.toMap,
      "pipelines" -> (if (isStream) Pipelines.all.map(_.name) else Nil))
    Files.write(Paths.get(s"${a.out}/result.json"), Json.write(result).getBytes(StandardCharsets.UTF_8))
    if (a.trace) {
      val lines = spans.map(s => Json.write(Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
      Files.write(Paths.get(s"${a.out}/spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
