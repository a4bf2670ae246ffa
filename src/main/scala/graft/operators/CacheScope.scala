package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the frames the graph, dedup and ranking operators
  * cache: every persist, lineage cut and release goes through a scope.
  *
  * The rule: a frame is cached only while the operator's own actions read
  * it (`count`/`head`/`isEmpty` probes, loop supersteps). `keep` and `cut`
  * register a frame, `free` releases one early (a superseded superstep, an
  * input that dies after the first superstep), and on return the scope
  * releases everything it registered except the checkpoint the returned
  * plan reads. A frame only the returned lazy plan reads is not cached:
  * materializing the result to release it measured 1.4–1.6× on the CEP
  * residual queries (the `Pattern.detect` anchor-frame note), and a
  * never-released cache pins executor memory for the session.
  *
  * Frames that outlive their call — the complete list. `pin` caches one
  * under its name ("In-memory table <name>" in `getPersistentRDDs`); the
  * entry is keyed by the canonical plan, so a repeated call reuses it.
  * Speed entries: `graft.Profile` warm wall at sf0.1 (4 cores, JDK 17,
  * Spark 4.1.2) with → without the pins; "alone" drops one pin and keeps
  * the operator's others:
  *  1. `zipWithIndex.parted` — correctness: `repartitionByRange` samples
  *     its boundaries, and the offset aggregate and the output must read
  *     the same range partitioning.
  *  2. `triangleCounts.edges`, `.degrees`, `.oriented`, `.adjacency` —
  *     i05 5.3/6.7 → 9.4/9.4 s and i15 4.7/6.0 → 8.2/8.0 s without all
  *     four; i05 6.6/7.9 → 9.0/10.2 s without the edges alone. The other
  *     three stand in for each other: each alone is within the spread, but
  *     without two of them (oriented + adjacency, or degrees + oriented)
  *     i05 went 5.95–6.10 → 6.4–7.7 s, and without all three 6.8–7.4 →
  *     7.3–8.4 s (three interleaved runs each). The
  *     adjacency is cached only under the broadcast gate: above it the
  *     keyed joins share its exchange, and caching it measured slower (i17
  *     9.0 → 10.7 s).
  *  3. `jaccardIndex.incidence`, `.degrees` — i07 3.2/4.0 → 5.2/5.5 s
  *     without both; 4.0/4.2 → 4.9/4.9 s without the incidence alone,
  *     4.9/5.1 s without the degrees alone.
  *  4. `adamicAdar.incidence` — i08 2.9/3.9 → 4.7/4.5 s.
  *  5. `edgeMetrics.edges`, `.degrees` — i13 2.1/2.7 → 3.6/3.8 s without
  *     both; 2.4/3.5 → 4.3/4.7 s without the edges alone, 3.8/4.1 s
  *     without the degrees alone.
  *  6. `a04.rfm` — a04 2.3/2.7 → 4.3/3.8 s (read by `globalNtiles`' two
  *     actions and by the returned window plan).
  *
  * `handOver` scopes build the caller-owned [[Iterate.ClusteringBundle]]:
  * nothing is released on return, `pin` registers like `keep`, and the
  * bundle's `unpersist()` frees every frame. */
private[graft] final class CacheScope private (callerOwned: Boolean) {
  private val kept = mutable.ArrayBuffer.empty[DataFrame]
  private val cuts = mutable.LinkedHashMap.empty[Int, org.apache.spark.rdd.RDD[_]]

  /** Persist `df` (MEMORY_AND_DISK) until the scope closes or `free`. */
  def keep(df: DataFrame): DataFrame = {
    kept += df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** The loops' lineage cut: `localCheckpoint`, or a RELIABLE `checkpoint`
    * when the session opts in with BOTH a SparkContext checkpoint dir and
    * `graft.iterate.reliableCheckpoint=true` — local-checkpoint blocks live
    * only in executor storage, so a lost executor mid-loop fails the job.
    * The flag keeps sessions that set a checkpoint dir for other reasons on
    * the default path. On the reliable path a lazy cut is computed once by
    * its first action and once more by the file write; checkpoint files go
    * only with `spark.cleaner.referenceTracking.cleanCheckpoints=true` or
    * at application end. */
  def cut(df: DataFrame, eager: Boolean): DataFrame = {
    val ss = df.sparkSession
    val c =
      if (ss.conf.get("graft.iterate.reliableCheckpoint", "false").toBoolean &&
          ss.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    checkpoints(c).foreach(r => cuts(r.id) = r)
    c
  }

  /** Cache a frame that outlives the call; `name` must be on the list above. */
  def pin(df: DataFrame, name: String): DataFrame = {
    require(CacheScope.Outliving(name), s"$name is not on the outliving-frame list")
    if (callerOwned) keep(df)
    else {
      val d = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      d.sparkSession.sharedState.cacheManager.cacheQuery(d, Some(name), StorageLevel.MEMORY_AND_DISK)
      df
    }
  }

  /** Release one frame now; it must not be read again. A kept frame goes
    * through `Dataset.unpersist`; anything else frees the blocks of the
    * checkpoints its plan reads, which the cache manager never saw. */
  def free(df: DataFrame): Unit =
    if (kept.exists(_ eq df)) { kept -= df; df.unpersist() }
    else checkpoints(df).foreach { r => cuts.remove(r.id); r.unpersist(false) }

  /** The frames a `handOver` body registered, for the caller to free. */
  def frames: Seq[DataFrame] = kept.toList

  private def close(result: Option[DataFrame]): Unit = {
    val live = result.toSeq.flatMap(checkpoints).map(_.id).toSet
    kept.foreach(_.unpersist())
    cuts.foreach { case (id, r) => if (!live(id)) r.unpersist(false) }
  }

  private def checkpoints(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }
}

private[graft] object CacheScope {
  /** Names `pin` accepts: the list in the class doc. */
  val Outliving: Set[String] = Set("zipWithIndex.parted",
    "jaccardIndex.incidence", "jaccardIndex.degrees", "adamicAdar.incidence",
    "triangleCounts.edges", "triangleCounts.degrees", "triangleCounts.oriented",
    "triangleCounts.adjacency", "edgeMetrics.edges", "edgeMetrics.degrees", "a04.rfm")

  /** Run `body`; on return release every frame it registered except the
    * checkpoints the returned plan reads. A failing body releases all. */
  def apply(body: CacheScope => DataFrame): DataFrame = {
    val s = new CacheScope(callerOwned = false)
    val out = try body(s) catch { case t: Throwable => s.close(None); throw t }
    s.close(Some(out))
    out
  }

  /** Run `body` whose frames the caller takes over (see the class doc). */
  def handOver[T](body: CacheScope => T): T = {
    val s = new CacheScope(callerOwned = true)
    try body(s) catch { case t: Throwable => s.close(None); throw t }
  }
}
