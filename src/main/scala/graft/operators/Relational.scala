package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators mirroring the Blink planner's physical
  * operators in the reference:
  *  - Top-N / Rank: flink-table/flink-table-planner-blink/src/main/scala/
  *    org/apache/flink/table/planner/plan/nodes/physical/stream/StreamExecRank.scala
  *  - Deduplicate: .../stream/StreamExecDeduplicate.scala
  *  - Over aggregate: .../stream/StreamExecOverAggregate.scala
  *
  * All are expressed as declarative window functions so Catalyst plans a
  * single shuffle on the partition keys; at 100 TB the partition-by columns
  * are the shuffle keys and state per key is O(n) only within a partition.
  */
object Relational {

  /** Blink Top-N: keep the first `n` rows per group in the given order.
    * `orderBy` must be made deterministic by the caller (unique tie-break). */
  def topNPerGroup(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
                   n: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= n)
  }

  /** Blink Deduplicate: keep exactly one row per key (first in order). */
  def dedupFirstRow(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column]): DataFrame =
    topNPerGroup(df, keys, orderBy, 1).drop("rn")

  /** Deterministic GLOBAL row index by a total order WITHOUT a
    * single-partition window — the reference's DataSetUtils.zipWithIndex
    * (flink-java/src/main/java/org/apache/flink/api/java/utils/
    * DataSetUtils.java:89: count elements per partition, broadcast the
    * per-partition offsets, add the partition-local index), re-expressed
    * Spark-first: range-repartition on the order columns (partition p
    * holds a contiguous range, ids ascending with the range), a
    * PARTITIONED window computes the local index, and the per-partition
    * offsets come from a partition-count aggregate (#partitions rows —
    * metadata-sized, its running sum may sit in one partition) broadcast
    * back. `order` must be a UNIQUE total order (ties straddling a range
    * boundary would otherwise make the index partitioning-dependent).
    * The input is cached (past the call, see [[CacheScope]]) so the offset
    * aggregate and the output read the SAME range partitioning (boundaries
    * come from sampling);
    * `idx` is 1-based, matching `row_number() OVER (ORDER BY ...)`. */
  def zipWithIndex(df: DataFrame, order: Seq[Column],
                   idxCol: String = "idx"): DataFrame = CacheScope { s =>
    val parted = s.pin(df.repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id()), "zipWithIndex.parted")
    val local = parted.withColumn("__local", row_number().over(
      Window.partitionBy(col("__pid")).orderBy(order: _*)))
    // offsets: rows in all EARLIER range partitions — the tiny
    // partition-count table's running sum (≤ #partitions rows)
    val offs = parted.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(
        Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid").as("__opid"), col("__off"))
    local.join(broadcast(offs), col("__pid") === col("__opid"))
      .withColumn(idxCol, col("__off") + col("__local"))
      .drop("__pid", "__local", "__opid", "__off")
  }

  /** Two-pass histogram ranking — the 100 TB path for rank functions whose
    * PARTITION BY has low cardinality: a plain window (q31's 5 order
    * priorities) serializes each partition through one task at ANY cluster
    * size. Pass 1 aggregates a (partition, value) histogram — a keyed
    * map-side-combining shuffle, embarrassingly parallel, output rows =
    * distinct values. Pass 2 runs the window over the TINY histogram (the
    * per-partition sort now touches distinct values, not rows) and
    * broadcast-joins the rank columns back to the fact rows. Emits exactly
    * dense_rank / percent_rank / cume_dist of `ORDER BY valueCol` within
    * `partCol` (6-dp rounding like the window variant): percent_rank =
    * (#smaller)/(total-1), cume_dist = (#<=)/total — integer ratios, so the
    * IEEE division matches any engine's native window functions bit-for-bit.
    *
    * API note (r14): the guard parameter is `broadcastHistBytesThreshold`
    * — ESTIMATED BYTES of the optimized histogram plan (plan-stats
    * sizing), replacing the r13 row-count guard `broadcastHistThreshold`.
    * The rename is deliberate so named-argument callers fail to compile
    * instead of silently reinterpreting a row count as bytes; the default
    * (10 MB) matches Spark's autoBroadcastJoinThreshold order. The same
    * convention applies to `Iterate.summarization`'s
    * `broadcastGroupBytesThreshold`. */
  def histogramRank(df: DataFrame, partCol: Column, valueCol: Column,
                    broadcastHistBytesThreshold: Long = 10000000L): DataFrame = {
    val hist = df.groupBy(partCol.as("__p"), valueCol.as("__v"))
      .agg(count(lit(1)).as("__c"))
    val wOrd = Window.partitionBy(col("__p")).orderBy(col("__v"))
    val wAll = Window.partitionBy(col("__p"))
    val ranks = hist
      .withColumn("__cum", sum(col("__c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__total", sum(col("__c")).over(wAll))
      .select(col("__p"), col("__v"),
        row_number().over(wOrd).cast("long").as("drk"),
        when(col("__total") === 1, lit(0.0))
          .otherwise(round((col("__cum") - col("__c")) / (col("__total") - 1), 6)).as("prk"),
        round(col("__cum") / col("__total"), 6).as("cd"))
    // near-continuous values make the histogram rows-sized — a hard hint
    // there would throw past maxBroadcastTableBytes; hint only under the
    // guarded threshold (AQE still broadcasts at runtime when it fits).
    // The guard reads PLAN-TIME statistics (the i10/summarization
    // convention): a driver-side count was a whole extra job per call,
    // and the estimate errs safe — it upper-bounds by the fact scan, so
    // an over-estimate just defers the broadcast decision to AQE
    val est = ranks.queryExecution.optimizedPlan.stats.sizeInBytes
    val ranksSide =
      if (est <= broadcastHistBytesThreshold) broadcast(ranks) else ranks
    df.join(ranksSide, partCol === col("__p") && valueCol === col("__v"))
      .drop("__p", "__v")
  }

  /** Exact global NTILE(n) ordered by (`value` [DESC], `tie`) WITHOUT the
    * `Window.orderBy`-no-partition trap (WindowExec otherwise moves the
    * whole relation to a single partition — the one thing that cannot
    * survive a 100 TB scale-up). Three phases, all distributed:
    *   1. approx-percentile range BUCKETING: `buckets-1` boundary values
    *      become an array literal; a row's bucket = #boundaries strictly
    *      below its (sign-adjusted) value — strict comparison keeps equal
    *      values in one bucket, so bucketing is order-consistent and the
    *      approximation only affects balance, never correctness;
    *   2. per-bucket counts → prefix OFFSETS (≤ `buckets` rows of metadata,
    *      collected driver-side like the percentile itself — bounded by the
    *      parameter, not the data) carried back as a map literal;
    *   3. per-bucket `row_number` (a PARTITIONED window) + offset = the
    *      exact global row number, mapped to the bucket via the SQL NTILE
    *      remainder rule (first `total % n` buckets get the extra row).
    * `tie` must make the order unique (the NTILE caller's tiebreak column);
    * `value`/`tie` must be non-null. Two driver actions per call (quantile
    * + counts), both over aggregates — persist `df` when stacking calls. */
  def globalNtile(df: DataFrame, n: Int, value: Column, valueDesc: Boolean,
                  tie: Column, asCol: String, buckets: Int = 512): DataFrame =
    globalNtiles(df, n, Seq((value, valueDesc, asCol)), tie, buckets)

  /** Stacked [[globalNtile]]s over MUTUALLY INDEPENDENT value columns in one
    * pass (r21, guide §1.2/§5): each score reads only its own value column,
    * so the boundary probes fuse into ONE aggregate action, the per-bucket
    * counts into ONE tagged-explode collect, and the per-metric score
    * windows stack in a single plan — no intermediate materialization at
    * all, where k stacked single-metric calls cost 2k driver actions plus
    * k−1 eager lineage cuts. Exactness is unchanged: the approximate
    * boundaries only decide a MONOTONE bucketing, and the exact global rank
    * is reconstructed from real bucket counts + the in-bucket row_number,
    * so any boundary set yields the identical NTILE. */
  def globalNtiles(df: DataFrame, n: Int,
                   specs: Seq[(Column, Boolean, String)], tie: Column,
                   buckets: Int = 512): DataFrame = {
    val keyDs = specs.map { case (value, valueDesc, _) =>
      if (valueDesc) lit(0.0) - value.cast("double") else value.cast("double") }
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val bndAggs = keyDs.zipWithIndex.map { case (k, i) =>
      percentile_approx(k, typedLit(probs), lit(10000)).as(s"__b$i") }
    val bndRow = df.agg(bndAggs.head, bndAggs.tail: _*).head()
    val bkts = keyDs.zipWithIndex.map { case (keyD, i) =>
      val bnds: Seq[Double] =
        if (bndRow.isNullAt(i)) Nil else bndRow.getSeq[Double](i)
      size(filter(typedLit(bnds), b => b < keyD))
    }
    val df2 = specs.indices.foldLeft(df) { (d, i) =>
      d.withColumn(s"__bkt$i", bkts(i)) }
    // one tagged pass yields every metric's per-bucket histogram
    val countRows = df2.select(explode(array(specs.indices.map(i =>
        struct(lit(i).as("m"), col(s"__bkt$i").as("b"))): _*)).as("x"))
      .groupBy(col("x.m").as("m"), col("x.b").as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val scored = specs.indices.foldLeft(df2) { (d, i) =>
      val (value, valueDesc, asCol) = specs(i)
      val counts = countRows.collect { case (m, b, c) if m == i => b -> c }
        .sortBy(_._1).toSeq
      val total = counts.map(_._2).sum
      val offsets = counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1)
      val offMap = map_from_arrays(
        typedLit(counts.map(_._1)), typedLit(offsets))
      val ord = (if (valueDesc) value.desc else value.asc) +: Seq(tie)
      val rn = element_at(offMap, col(s"__bkt$i")) +
        row_number().over(Window.partitionBy(col(s"__bkt$i")).orderBy(ord: _*))
      val base = total / n
      val rem = total % n
      // NTILE remainder rule; counts are < 2^53 so the double floors are exact
      val score =
        if (total == 0L) lit(null).cast("int")
        else when(lit(rem) > 0 && rn <= lit(rem * (base + 1)),
            (floor((rn - 1).cast("double") / lit((base + 1).toDouble)) + 1).cast("int"))
          .otherwise(
            (lit(rem) + floor((rn - 1 - rem * (base + 1)).cast("double") /
              lit(math.max(base, 1L).toDouble)) + 1).cast("int"))
      d.withColumn(asCol, score)
    }
    specs.indices.foldLeft(scored) { (d, i) => d.drop(s"__bkt$i") }
  }

  /** Temporal (versioned) table join — the Table API's
    * `FOR SYSTEM_TIME AS OF` / TemporalTableFunction join (reference
    * flink-table/flink-table-api-java/src/main/java/org/apache/flink/table/
    * functions/TemporalTableFunction.java, planner TemporalJoin rules): each
    * fact row is enriched with the dim version whose `validFrom` is the
    * latest at-or-before the fact's timestamp.
    *
    * Scale design: NOT a range join (key equality + ts inequality explodes
    * on hot keys and defeats hash partitioning). Versions and facts are
    * union-tagged and flow through ONE keyed window sorted by (ts, tag) —
    * dim-before-fact on equal ts — carrying the payload with
    * `last(ignoreNulls)`: a single shuffle on the key, linear state.
    * Caller must make versions unique per (key, validFrom). Output: all
    * fact columns + `valCols` (null when no version is valid yet). */
  def temporalJoin(fact: DataFrame, dim: DataFrame, key: String, factTs: String,
                   validFrom: String, valCols: Seq[String]): DataFrame = {
    val factStruct = struct(fact.columns.map(col): _*)
    val f2 = fact.select(col(key).as("__k") +: col(factTs).as("__vts") +:
      lit(1).as("__tag") +: factStruct.as("__f") +:
      valCols.map(c => lit(null).cast(dim.schema(c).dataType).as(c)): _*)
    val d2 = dim.select(col(key).as("__k") +: col(validFrom).as("__vts") +:
      lit(0).as("__tag") +: lit(null).cast(f2.schema("__f").dataType).as("__f") +:
      valCols.map(col): _*)
    val w = Window.partitionBy(col("__k")).orderBy(col("__vts"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f2.unionByName(d2)
      .select(col("__tag") +: col("__f") +:
        valCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c)): _*)
      .filter(col("__tag") === 1)
      .select(col("__f.*") +: valCols.map(col): _*)
  }

  /** Flink OVER-window running aggregate (ROWS UNBOUNDED PRECEDING). */
  def runningAgg(df: DataFrame, partitionBy: Seq[Column], orderBy: Seq[Column],
                 agg: Column, asCol: String): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(asCol, agg.over(w))
  }

  /** DataSet coGroup (reference flink-java/src/main/java/org/apache/flink/
    * api/java/operators/CoGroupOperator.java): both sides grouped on a key,
    * the user function sees the two full groups. One shuffle per side on the
    * key, state bounded by the two groups. */
  def coGroup[K: org.apache.spark.sql.Encoder, L, R, O: org.apache.spark.sql.Encoder](
      left: org.apache.spark.sql.Dataset[L], right: org.apache.spark.sql.Dataset[R])(
      leftKey: L => K, rightKey: R => K)(
      f: (K, Iterator[L], Iterator[R]) => IterableOnce[O]): org.apache.spark.sql.Dataset[O] =
    left.groupByKey(leftKey).cogroup(right.groupByKey(rightKey))(f)
}
