package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Optimization-round tooling: run one declared query (warm rep + timed rep)
  * with a listener that prints per-job wall time and per-stage task totals —
  * the "where does the time go" breakdown the UI would show, in text — and
  * what the timed rep left cached (the bench and `Verify` clear it).
  *
  * Per rep it also prints one `REP` line: wall, Spark jobs, completed
  * stages, task CPU-s, and the generated classes compiled with their
  * compile ms
  * (Spark's `CodegenMetrics` count and `CodeGenerator.compileTime`). Job,
  * stage and class counts do not vary between runs of the same code, so
  * they compare two commits where one rep's wall time cannot. Spark keys
  * its codegen cache by class loader, so rep 1 of the first query listed
  * shows what a fresh session compiles; later reps show what is compiled
  * again in a warm one.
  * Args: <nameSubstring>[,<nameSubstring>...]. Env: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS. */
object Profile {
  def main(args: Array[String]): Unit = {
    val only = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b0 = SparkEntry.localSession(cpus)
    // ad-hoc A/B confs: SPARK_GRAFT_EXTRA_CONF="k=v,k=v"
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF").map(_.split(","))
      .getOrElse(Array.empty).filter(_.contains("="))
      .foldLeft(b0) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var record = false
    val nJobs = new java.util.concurrent.atomic.AtomicInteger()
    val nStages = new java.util.concurrent.atomic.AtomicInteger()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        nJobs.incrementAndGet()
        jobs.put(js.jobId, (js.time, Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, site) = jobs.getOrDefault(je.jobId, (je.time, "?"))
        if (record)
          lines.add(f"JOB ${je.jobId}%4d  ${(je.time - t0) / 1000.0}%7.3f s  $site")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        nStages.incrementAndGet()
        val si = sc.stageInfo
        val m = si.taskMetrics
        cpuNs.addAndGet(m.executorCpuTime)
        if (record && si.completionTime.isDefined && si.submissionTime.isDefined)
          lines.add(f"  stage ${si.stageId}%4d ${si.numTasks}%5d tasks  " +
            f"${(si.completionTime.get - si.submissionTime.get) / 1000.0}%7.3f s wall  " +
            f"exec ${m.executorRunTime / 1000.0}%8.2f s  " +
            f"shW ${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2f MB  " +
            f"shR ${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2f MB  " +
            f"${si.name.take(60)}")
      }
    })
    val onlys = only.split(",").toSeq
    val fns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(n => onlys.exists(n._1.contains))
    // one rep: run to a noop sink, then the REP line (the sleep lets the
    // listener bus deliver the rep's job and stage events)
    def rep(name: String, i: Int, fn: (SparkSession, String) => DataFrame): Double = {
      val (j0, s0, cpu0) = (nJobs.get, nStages.get, cpuNs.get)
      val (c0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      println(f"REP $name $i  wall $t%.3f s  jobs ${nJobs.get - j0}  " +
        f"stages ${nStages.get - s0}  task CPU ${(cpuNs.get - cpu0) / 1e9}%.3f s  " +
        f"classes ${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0} " +
        f"(${(CodeGenerator.compileTime - ns0) / 1e6}%.0f ms compile)")
      t
    }
    fns.foreach { case (name, fn) =>
      // warm rep
      rep(name, 1, fn)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      record = true
      val t = rep(name, 2, fn)
      record = false
      val leftMb = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6
      println(s"==== $name  total ${"%.3f".format(t)} s ====")
      println(f"left cached: ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs, " +
        f"$leftMb%.2f MB")
      lines.forEach(l => println(l))
      lines.clear()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    spark.stop()
  }
}
