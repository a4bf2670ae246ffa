package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.Pattern

/** The runs of `Pattern.followedByRun` (every PREV offset) and
  * `oneOrMore().consecutive()`, walked on the one keyed pass, against the
  * relational cascade they replaced, kept here as the oracle: a lag and
  * running-sum window segmentation (offset 1, consecutive) or a lag(n)
  * window plus a per-key restart scan (offset n), then a keyed join and
  * min aggregate for the first member, a join to the min segment at that
  * time, a join and aggregate over the segment's members, and two
  * join-backs to a per-(key, ts, segment) value table for the first and
  * last values. Both sides run on seeded event logs with equal
  * timestamps, equal and null runOn values, a null key and null
  * timestamps; rows are compared as multisets, the schema by name and
  * type.
  *
  * Two departures from the former code, both in the reference's favour of
  * being defined: its offset-n scan sorted with a comparator that threw on
  * a null time or a null runOn value, so the reference sorts by the
  * window's own row number instead; and its order among candidates with
  * equal (ts, runOn) was arbitrary, so the bound column besides runOn
  * (`cents`) is a function of it here. */
class RunWalkParitySpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val WinMs = 50L * 60 * 1000
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def et(t: String): Column = col("event_type") === t
  private def win = expr(s"INTERVAL $WinMs MILLISECONDS")

  /** Keys 1..12 plus a null key; timestamps on a 2-minute grid over an
    * hour (many equal timestamps per key); values on 0..5 (many equal
    * values), about one in six null; about one event in thirty with a
    * null timestamp, anchors included; every seventh event twice. */
  private def log(seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("s", "s", "x", "d", "d", "d", "d", "c", "c", "c", "e", "e", "p", "n")
    val rows = (Seq(Option.empty[Long]) ++ (1L to 12L).map(Some(_))).flatMap { k =>
      (0 until 24 + rnd.nextInt(16)).map { _ =>
        val t = types(rnd.nextInt(types.size))
        val at = if (rnd.nextInt(30) == 0) null
          else new Timestamp(t0 + rnd.nextInt(30) * 120000L)
        (k, at, t, if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(6).toDouble))
      }
    }
    (rows ++ rows.indices.filter(_ % 7 == 0).map(rows))
      .toDF("user_id", "ts", "event_type", "value")
      .withColumn("cents", (col("value") * 100).cast("long"))
  }

  // ---- the relational reference ------------------------------------------

  /** One followedByRun step over the prefix frame `out` (key column `__k`),
    * as the former cascade built it. */
  private def refRun(ev: DataFrame, out: DataFrame, name: String, pred: Column,
      runOn: String, acc: (Column, Column) => Column, n: Int, keep: Seq[String],
      prevTs: Column, startTs: String): DataFrame = {
    val ww = Window.partitionBy(col("__rk")).orderBy(col("__rts"), col("__rv"))
    val base = ev.filter(pred).select((col("user_id").as("__rk") +: col("ts").as("__rts") +:
      col(runOn).as("__rv") +: keep.map(c => col(c).as(s"__rm_$c"))): _*)
    val candSeg = if (n == 1) base
        .withColumn("__pv", lag(col("__rv"), 1).over(ww))
        .withColumn("__viol",
          when(col("__pv").isNull || !acc(col("__rv"), col("__pv")), 1L).otherwise(0L))
        .withColumn("__seg", sum(col("__viol"))
          .over(ww.rowsBetween(Window.unboundedPreceding, 0)))
        .drop("__pv", "__viol")
      else {
        val okd = base
          .withColumn("__pvN", lag(col("__rv"), n).over(ww))
          .withColumn("__rn", row_number().over(ww))
          .withColumn("__okN",
            when(col("__pvN").isNotNull && acc(col("__rv"), col("__pvN")), true)
              .otherwise(false))
          .drop("__pvN")
        val outSchema = StructType(base.schema.fields :+ StructField("__seg", LongType))
        val okIdx = okd.schema.fieldIndex("__okN")
        val rnIdx = okd.schema.fieldIndex("__rn")
        val width = base.schema.size
        okd.groupByKey(r => RunWalkParitySpec.keyString(r.get(0)))
          .flatMapGroups { (_, it) =>
            val rows = it.toArray.sortBy(_.getInt(rnIdx))
            var start = 0
            rows.iterator.zipWithIndex.map { case (r, i) =>
              if (i > 0 && i - start >= n && !r.getBoolean(okIdx)) start = i
              Row.fromSeq(r.toSeq.take(width) :+ start.toLong)
            }
          }(org.apache.spark.sql.Encoders.row(outSchema)).toDF()
      }
    val kept0 = out.columns.map(col)
    var o = out.join(candSeg.select(col("__rk"), col("__rts")),
        col("__k") === col("__rk") && col("__rts") > prevTs &&
          col("__rts") <= col(startTs) + win)
      .groupBy(kept0.toIndexedSeq: _*)
      .agg(min(col("__rts")).as(s"${name}_first_ts"))
    val segAt = candSeg.groupBy(col("__rk").as("__sk"), col("__rts").as("__sts"))
      .agg(min(col("__seg")).as("__rseg"))
    o = o.join(segAt, col("__k") === col("__sk") && col(s"${name}_first_ts") === col("__sts"))
      .drop("__sk", "__sts")
    val mem = candSeg.select((col("__rk").as("__k3") +: col("__rts").as("__mts") +:
      col("__seg").as("__mseg") +: keep.map(c => col(s"__rm_$c").as(s"__mm_$c"))): _*)
    val kept1 = o.columns.map(col)
    val aggs = count(lit(1)).as(s"${name}_n") +: keep.flatMap { c => Seq(
      sum(col(s"__mm_$c")).as(s"${name}_sum_$c"),
      min(col(s"__mm_$c")).as(s"${name}_min_$c"),
      max(col(s"__mm_$c")).as(s"${name}_max_$c")) }
    o = o.join(mem, col("__k") === col("__k3") && col("__mseg") === col("__rseg") &&
        col("__mts") >= col(s"${name}_first_ts") && col("__mts") <= col(startTs) + win)
      .groupBy(kept1.toIndexedSeq: _*)
      .agg(max(col("__mts")).as(s"${name}_last_ts"), aggs: _*)
    if (keep.nonEmpty) {
      val vals = candSeg.groupBy(col("__rk").as("__vk"), col("__rts").as("__vts"),
          col("__seg").as("__vseg"))
        .agg(keep.flatMap(c => Seq(min(col(s"__rm_$c")).as(s"__mn_$c"),
          max(col(s"__rm_$c")).as(s"__mx_$c"))).head,
          keep.flatMap(c => Seq(min(col(s"__rm_$c")).as(s"__mn_$c"),
            max(col(s"__rm_$c")).as(s"__mx_$c"))).tail: _*)
      val valCols = Seq("__vk", "__vts", "__vseg") ++ keep.flatMap(c => Seq(s"__mn_$c", s"__mx_$c"))
      def joined(d: DataFrame, tsCol: String, outOf: String => (String, String)) =
        keep.foldLeft(d.join(vals, col("__k") === col("__vk") && col(tsCol) === col("__vts") &&
            col("__rseg") === col("__vseg"), "left")) { (dd, c) =>
          val (alias, src) = outOf(c)
          dd.withColumn(alias, col(src))
        }.drop(valCols: _*)
      o = joined(joined(o, s"${name}_first_ts", c => (s"${name}_first_$c", s"__mn_$c")),
        s"${name}_last_ts", c => (s"${name}_last_$c", s"__mx_$c"))
    }
    o.drop("__rseg")
  }

  /** One oneOrMore().consecutive() step over `out`: gaps and islands over
    * the key's distinct times, as the former cascade built it. */
  private def refConsec(ev: DataFrame, out: DataFrame, name: String, pred: Column,
      prevTs: Column, startTs: String): DataFrame = {
    val ww = Window.partitionBy(col("__rk")).orderBy(col("__rts"))
    val candSeg = ev
      .select(col("user_id").as("__rk"), col("ts").as("__rts"),
        when(pred, 1L).otherwise(0L).as("__isc0"))
      .groupBy(col("__rk"), col("__rts"))
      .agg(max(col("__isc0")).as("__isc"))
      .withColumn("__pisc", lag(col("__isc"), 1).over(ww))
      .withColumn("__viol", when(col("__isc") === 1L &&
        (col("__pisc").isNull || col("__pisc") === 0L), 1L).otherwise(0L))
      .withColumn("__seg", sum(col("__viol")).over(
        ww.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("__isc") === 1L)
      .select(col("__rk"), col("__rts"), col("__seg"))
    val kept0 = out.columns.map(col)
    var o = out.join(candSeg.select(col("__rk"), col("__rts")),
        col("__k") === col("__rk") && col("__rts") > prevTs &&
          col("__rts") <= col(startTs) + win)
      .groupBy(kept0.toIndexedSeq: _*)
      .agg(min(col("__rts")).as(s"${name}_first_ts"))
    val segAt = candSeg.select(col("__rk").as("__sk"),
      col("__rts").as("__sts"), col("__seg").as("__rseg"))
    o = o.join(segAt, col("__k") === col("__sk") && col(s"${name}_first_ts") === col("__sts"))
      .drop("__sk", "__sts")
    val mem = candSeg.select(col("__rk").as("__k3"),
      col("__rts").as("__mts"), col("__seg").as("__mseg"))
    val kept1 = o.columns.map(col)
    o.join(mem, col("__k") === col("__k3") && col("__mseg") === col("__rseg") &&
        col("__mts") >= col(s"${name}_first_ts") && col("__mts") <= col(startTs) + win)
      .groupBy(kept1.toIndexedSeq: _*)
      .agg(max(col("__mts")).as(s"${name}_last_ts"), count(lit(1)).as(s"${name}_n"))
      .drop("__rseg")
  }

  /** A plain `followedBy` binding over `out`: one keyed join, min ts. */
  private def refPlain(ev: DataFrame, out: DataFrame, name: String, pred: Column,
      prevTs: Column, startTs: String): DataFrame = {
    val kept = out.columns.map(col)
    out.join(ev.filter(pred).select(col("user_id").as("__k2"), col("ts").as("__cts")),
        col("__k") === col("__k2") && col("__cts") > prevTs &&
          col("__cts") <= col(startTs) + win)
      .groupBy(kept.toIndexedSeq: _*).agg(min(col("__cts")).as(s"${name}_ts"))
  }

  /** The prefix frame as the walk sees it: the prefix pattern's matches. */
  private def prefix(ev: DataFrame, p: Pattern): DataFrame =
    p.within(WinMs).detect(ev, col("user_id"), col("ts")).withColumnRenamed("key", "__k")

  // ---- comparison --------------------------------------------------------

  /** Asserts equal schemas and row multisets; returns the row count. */
  private def assertSame(what: String, got: DataFrame, want0: DataFrame): Int = {
    val want = want0.withColumnRenamed("__k", "key")
    def fields(d: DataFrame) = d.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(got) == fields(want), s"$what: schema")
    def bag(d: DataFrame) = d.collect().toSeq.map(_.toSeq.toList).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    val (g, w) = (bag(got), bag(want))
    assert(g == w, s"$what: ${g.size} distinct rows vs ${w.size}; only in the walk: " +
      (g.keySet -- w.keySet).take(3) + "; only in the reference: " + (w.keySet -- g.keySet).take(3))
    w.values.sum
  }

  /** Every shape must match somewhere across the seeds, or its parity
    * shows nothing. */
  private def assertMatched(counts: Seq[(Any, Int)]): Unit =
    counts.groupBy(_._1).foreach { case (shape, cs) =>
      assert(cs.map(_._2).sum > 0, s"$shape: no match on any seed")
    }

  private val seeds = Seq(3L, 17L, 42L)
  private def begin = Pattern.begin("s", et("s")).bind("value")
  private val lt: (Column, Column) => Column = _ < _
  private val ge: (Column, Column) => Column = _ >= _

  test("followedByRun at offsets 1, 2 and 3 with bindRun, last or followed " +
       "by a plain step") {
    val matched = for (seed <- seeds; (off, accName, acc) <- Seq((1, "<", lt), (2, "<", lt),
        (3, "<", lt), (1, ">=", ge), (2, ">=", ge)); last <- Seq(true, false)) yield {
      val ev = log(seed)
      val run = begin.followedByRun("d", et("d"), "value", acc, offset = off)
        .bindRun("value", "cents")
      val got = (if (last) run else run.followedBy("p", et("p"))).within(WinMs)
        .detect(ev, col("user_id"), col("ts"))
      val d = refRun(ev, prefix(ev, begin), "d", et("d"), "value", acc, off,
        Seq("value", "cents"), col("s_ts"), "s_ts")
      val want = if (last) d else refPlain(ev, d, "p", et("p"), col("d_last_ts"), "s_ts")
      (off, accName, last) -> assertSame(s"seed $seed offset $off $accName last $last", got, want)
    }
    assertMatched(matched)
  }

  test("oneOrMore().consecutive(), last or followed by a plain step") {
    val matched = for (seed <- seeds; last <- Seq(true, false)) yield {
      val ev = log(seed)
      val run = begin.followedBy("c", et("c")).oneOrMore().consecutive()
      val got = (if (last) run else run.followedBy("p", et("p"))).within(WinMs)
        .detect(ev, col("user_id"), col("ts"))
      val c = refConsec(ev, prefix(ev, begin), "c", et("c"), col("s_ts"), "s_ts")
      val want = if (last) c else refPlain(ev, c, "p", et("p"), col("c_last_ts"), "s_ts")
      last -> assertSame(s"seed $seed last $last", got, want)
    }
    assertMatched(matched)
  }

  test("a prefix longer than the begin step: the anchors arrive as a second " +
       "cogroup side") {
    val pre = begin.followedBy("x", et("x"))
    val matched = for (seed <- seeds; shape <- Seq("offset1", "offset2", "consecutive")) yield {
      val ev = log(seed)
      val got = (shape match {
        case "offset1" => pre.followedByRun("d", et("d"), "value", lt).bindRun("value")
        case "offset2" => pre.followedByRun("d", et("d"), "value", lt, offset = 2)
        case _ => pre.followedBy("d", et("d")).oneOrMore().consecutive()
      }).within(WinMs).detect(ev, col("user_id"), col("ts"))
      val want = shape match {
        case "offset1" => refRun(ev, prefix(ev, pre), "d", et("d"), "value", lt, 1,
          Seq("value"), col("x_ts"), "s_ts")
        case "offset2" => refRun(ev, prefix(ev, pre), "d", et("d"), "value", lt, 2,
          Nil, col("x_ts"), "s_ts")
        case _ => refConsec(ev, prefix(ev, pre), "d", et("d"), col("x_ts"), "s_ts")
      }
      shape -> assertSame(s"seed $seed $shape", got, want)
    }
    assertMatched(matched)
  }

  test("two runs in one pattern, then a plain step") {
    val matched = for (seed <- seeds; second <- Seq("offset2", "consecutive")) yield {
      val ev = log(seed)
      val d = begin.followedByRun("d", et("d"), "value", lt).bindRun("value")
      val got = (if (second == "offset2")
          d.followedByRun("e", et("e"), "value", ge, offset = 2).bindRun("cents")
        else d.followedBy("e", et("e")).oneOrMore().consecutive())
        .followedBy("p", et("p")).within(WinMs).detect(ev, col("user_id"), col("ts"))
      val wd = refRun(ev, prefix(ev, begin), "d", et("d"), "value", lt, 1, Seq("value"),
        col("s_ts"), "s_ts")
      val we = if (second == "offset2")
          refRun(ev, wd, "e", et("e"), "value", ge, 2, Seq("cents"), col("d_last_ts"), "s_ts")
        else refConsec(ev, wd, "e", et("e"), col("d_last_ts"), "s_ts")
      second -> assertSame(s"seed $seed $second",
        got, refPlain(ev, we, "p", et("p"), col("e_last_ts"), "s_ts"))
    }
    assertMatched(matched)
  }

  test("tieBreak() stays a named rejection on followedByRun") {
    // a run's membership is ordered by (ts, runOn); a tiebreak there would
    // reorder the segmentation, not only which value is read
    val e = intercept[IllegalArgumentException](
      begin.followedByRun("d", et("d"), "value", lt).bindRun("value").tieBreak("cents"))
    assert(e.getMessage.contains("tieBreak()"))
  }
}

object RunWalkParitySpec extends Serializable {
  /** The former per-key scan's collision-free grouping string. */
  def keyString(v: Any): String = v match {
    case null => "N"
    case o => val s = String.valueOf(o); s"V${s.length}:$s"
  }
}
