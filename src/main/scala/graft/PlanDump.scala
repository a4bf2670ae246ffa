package graft
import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for selected
  * declared queries to files (plans/<tag>/<name>_<suffix>.txt), so plan
  * claims in OPTIMIZATION_*.md are auditable without running Spark.
  * Args: <outDir> <suffix> [nameSubstring,...]; data dir/cores from the
  * same env vars as the bench. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val only = if (args.length > 2) args(2).split(",").toSeq else Nil
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.contains) }
      .foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: $e")
        }
      }
    spark.stop()
  }
}
