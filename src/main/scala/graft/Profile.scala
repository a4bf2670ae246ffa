package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round tooling: run one declared query (warm rep + timed rep)
  * with a listener that prints per-job wall time and per-stage task totals —
  * the "where does the time go" breakdown the UI would show, in text — and
  * what the timed rep left cached (the bench and `Verify` clear it).
  * Args: <nameSubstring>. Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS. */
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
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time, Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, site) = jobs.getOrDefault(je.jobId, (je.time, "?"))
        if (record)
          lines.add(f"JOB ${je.jobId}%4d  ${(je.time - t0) / 1000.0}%7.3f s  $site")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
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
    fns.foreach { case (name, fn) =>
      // warm rep
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      record = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val t = (System.nanoTime() - t0) / 1e9
      record = false
      Thread.sleep(500)
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
