package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (getOrCreate ⇒ one JVM-wide session). */
trait SparkTest {
  lazy val spark: SparkSession = {
    val s = SparkEntry.localSession("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
