package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.Pattern

/** The sequence group of `Pattern.followedByGroup`, walked as the depth-0
  * nested group, against the relational chain it replaced, kept here as
  * the oracle: a per-key sub-match table built by one keyed join and
  * min-aggregate per member, a per-(key, ts) value table per bindGroup
  * column, a join plus join-back for a single repetition, and a cogroup
  * chain walk over the sub-matches for `+`/`*`. Both sides run on seeded
  * event logs with equal timestamps, a null key, null values and tie
  * columns; rows are compared as multisets, the schema by name and type. */
class GroupWalkParitySpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val WinMs = 50L * 60 * 1000
  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private def et(t: String): Column = col("event_type") === t
  private val bc = Seq("b" -> et("b"), "c" -> et("c"))

  /** Keys 1..12 plus a null key; timestamps on a 2-minute grid over an
    * hour (many equal timestamps per key); about one value in six and one
    * tie in eight null; every seventh event duplicated. About one event
    * in thirty has a null timestamp: only member events, unless
    * `nullTsAnchors` (the relational `+` chain cannot walk a null anchor
    * time). */
  private def log(seed: Long, nullTsAnchors: Boolean = false): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val types = Vector("s", "s", "x", "b", "b", "b", "c", "c", "c", "v", "v", "p", "n")
    val rows = (Seq(Option.empty[Long]) ++ (1L to 12L).map(Some(_))).flatMap { k =>
      (0 until 24 + rnd.nextInt(16)).map { _ =>
        val t = types(rnd.nextInt(types.size))
        val at = if (rnd.nextInt(30) == 0 && (t != "s" || nullTsAnchors)) null
          else new Timestamp(t0 + rnd.nextInt(30) * 120000L)
        (k, at, t,
          if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(10).toDouble),
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(3)))
      }
    }
    // every seventh event twice: identical anchors and members
    (rows ++ rows.indices.filter(_ % 7 == 0).map(rows))
      .toDF("user_id", "ts", "event_type", "value", "tie")
  }

  // ---- the relational reference ------------------------------------------

  /** One group step over the prefix frame `out` (key column `__k`): the
    * relational chain's columns appended, as the former lowering built
    * them. Returns the new frame and the next step's previous binding. */
  private def refGroup(events: DataFrame, out: DataFrame, name: String,
      sub: Seq[(String, Column)], keep: Seq[(String, String)], ties: Seq[String],
      quantified: Boolean, opt: Boolean, rows: Boolean, prevTs: Column,
      startTs: String): (DataFrame, Column) = {
    val win = expr(s"INTERVAL $WinMs MILLISECONDS")
    val key = col("user_id"); val ts = col("ts")
    var subs = events.filter(sub.head._2).select(key.as("__gk"), ts.as("__gb"))
    var prevSub: Column = col("__gb")
    sub.tail.zipWithIndex.foreach { case ((_, p), j) =>
      val cand = events.filter(p).select(key.as("__gk2"), ts.as(s"__gc$j"))
      val kept0 = subs.columns.map(col)
      subs = subs.join(cand, col("__gk") === col("__gk2") &&
          col(s"__gc$j") > prevSub && col(s"__gc$j") <= col("__gb") + win)
        .groupBy(kept0.toIndexedSeq: _*)
        .agg(min(col(s"__gc$j")).as(s"__ge$j"))
      prevSub = col(s"__ge$j")
    }
    keep.zipWithIndex.foreach { case ((m, c), i) =>
      val im = sub.indexWhere(_._1 == m)
      val boundTs = if (im == 0) col("__gb") else col(s"__ge${im - 1}")
      val v = col(c).cast("double")
      val vAgg = if (ties.isEmpty) min(v) else min_by(v, struct(ties.map(col) :+ v: _*))
      val vt = events.filter(sub(im)._2).groupBy(key.as("__vk"), ts.as("__vts"))
        .agg(vAgg.as(s"__gv$i"))
      subs = subs.join(vt, col("__gk") === col("__vk") && boundTs === col("__vts"))
        .drop("__vk", "__vts")
    }
    val gvCols = keep.indices.map(i => col(s"__gv$i"))
    val memTs = col("__gb") +: (0 until sub.size - 1).map(j => col(s"__ge$j"))
    val subPairs = subs.select(((col("__gk") +: col("__gb") +: prevSub.as("__gc") +:
      gvCols) ++ (if (rows) Seq(array(memTs: _*).as("__gmem")) else Nil)): _*)
    val last = col(s"${name}_last_ts")
    val next = if (opt) coalesce(last, prevTs) else last
    if (!quantified) {
      val kept0 = out.columns.map(col)
      val once = out.join(subPairs, col("__k") === col("__gk") && col("__gb") > prevTs &&
          col("__gc") <= col(startTs) + win, if (opt) "left_outer" else "inner")
        .groupBy(kept0.toIndexedSeq: _*)
        .agg(min(col("__gb")).as(s"${name}_first_ts"))
      val back = Seq(col("__gk").as("__gk3"), col("__gb").as("__gb3"),
        col("__gc").as(s"${name}_last_ts")) ++ keep.zipWithIndex.flatMap { case ((m, c), i) =>
          val v = col(s"__gv$i")
          Seq("sum", "min", "max", "first", "last").map(a => v.as(s"${name}_${a}_${m}_$c")) :+
            when(v.isNotNull, 1L).otherwise(0L).as(s"${name}_cnt_${m}_$c")
        }
      return (once.join(subPairs.select(back: _*), col("__k") === col("__gk3") &&
          col(s"${name}_first_ts") === col("__gb3"), if (opt) "left_outer" else "inner")
        .drop("__gk3", "__gb3"), next)
    }
    val anch = out.withColumn("__gprev", prevTs).withColumn("__gwend", col(startTs) + win)
    val aSchema = anch.schema
    val keyIdx = aSchema.fieldIndex("__k")
    val prevIdx = aSchema.fieldIndex("__gprev")
    val wendIdx = aSchema.fieldIndex("__gwend")
    val valFields = keep.flatMap { case (m, c) =>
      Seq("sum", "min", "max", "first", "last").map(a =>
        StructField(s"${name}_${a}_${m}_$c", DoubleType)) :+
        StructField(s"${name}_cnt_${m}_$c", LongType)
    }
    val repFields = if (!rows) Nil else Seq(
      StructField(s"${name}_reps", ArrayType(ArrayType(TimestampType, true), false)),
      StructField(s"${name}_repvals", ArrayType(ArrayType(DoubleType, true), false)))
    val outSchema = StructType(aSchema.fields ++ Seq(
      StructField(s"${name}_first_ts", TimestampType),
      StructField(s"${name}_last_ts", TimestampType),
      StructField(s"${name}_n", LongType)) ++ valFields ++ repFields)
    val gkN = keep.size
    val anchKV = anch.groupByKey(r => GroupWalkParitySpec.keyString(r.get(keyIdx)))
    val subKV = subPairs.groupByKey(r => GroupWalkParitySpec.keyString(r.get(0)))
    val chained = anchKV.cogroup(subKV) { (_, as, ss) =>
      val pairs = ss.toArray.map(r => (r.getTimestamp(1), r.getTimestamp(2),
          Array.tabulate[java.lang.Double](gkN)(j =>
            if (r.isNullAt(3 + j)) null else r.getDouble(3 + j)),
          if (rows) r.getSeq[Timestamp](3 + gkN) else null))
        .sortWith((p, q) => p._1.before(q._1))
      as.flatMap { a =>
        val wEnd = a.getTimestamp(wendIdx)
        var lastEnd = a.getTimestamp(prevIdx)
        var first: Timestamp = null
        var n = 0L; var i = 0; var stop = false
        val vSum, vMin, vMax, vFirst, vLast = new Array[java.lang.Double](gkN)
        val vCnt = new Array[Long](gkN)
        val repTs = scala.collection.mutable.ArrayBuffer.empty[Seq[Timestamp]]
        val repVs = scala.collection.mutable.ArrayBuffer.empty[Seq[java.lang.Double]]
        while (!stop && i < pairs.length) {
          val (b, c, vs, mem) = pairs(i)
          if (!b.after(lastEnd)) i += 1
          else if (c.after(wEnd)) stop = true
          else {
            if (first == null) { first = b; (0 until gkN).foreach(j => vFirst(j) = vs(j)) }
            (0 until gkN).foreach { j =>
              vLast(j) = vs(j)
              if (vs(j) != null) {
                vCnt(j) += 1
                vSum(j) = if (vSum(j) == null) vs(j) else java.lang.Double.valueOf(vSum(j) + vs(j))
                if (vMin(j) == null || vs(j) < vMin(j)) vMin(j) = vs(j)
                if (vMax(j) == null || vs(j) > vMax(j)) vMax(j) = vs(j)
              }
            }
            if (rows) { repTs += mem; repVs += vs.toSeq }
            lastEnd = c; n += 1
          }
        }
        val vals = (0 until gkN).flatMap(j =>
          Seq(vSum(j), vMin(j), vMax(j), vFirst(j), vLast(j), vCnt(j)))
        val repCols: Seq[Any] = if (!rows) Nil else Seq(repTs.toSeq, repVs.toSeq)
        if (n == 0 && !opt) Iterator.empty
        else if (n == 0) Iterator.single(Row.fromSeq(a.toSeq ++ Seq(null, null, 0L) ++
          (0 until gkN).flatMap(_ => Seq(null, null, null, null, null, 0L)) ++
          (if (rows) Seq(Seq.empty, Seq.empty) else Nil)))
        else Iterator.single(Row.fromSeq(a.toSeq ++ Seq(first, lastEnd, n) ++ vals ++ repCols))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    (chained.toDF().drop("__gprev", "__gwend"), next)
  }

  /** A plain `followedBy` binding over `out`: one keyed join, min ts. */
  private def refPlain(events: DataFrame, out: DataFrame, name: String, pred: Column,
      prevTs: Column, startTs: String): DataFrame = {
    val kept = out.columns.map(col)
    out.join(events.filter(pred).select(col("user_id").as("__k2"), col("ts").as("__cts")),
        col("__k") === col("__k2") && col("__cts") > prevTs &&
          col("__cts") <= col(startTs) + expr(s"INTERVAL $WinMs MILLISECONDS"))
      .groupBy(kept.toIndexedSeq: _*).agg(min(col("__cts")).as(s"${name}_ts"))
  }

  /** The prefix frame as the walk sees it: the prefix pattern's matches. */
  private def prefix(events: DataFrame, p: Pattern): DataFrame =
    p.within(WinMs).detect(events, col("user_id"), col("ts"))
      .withColumnRenamed("key", "__k")

  // ---- comparison --------------------------------------------------------

  private def norm(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case r: Row => r.toSeq.map(norm).toList
    case o => o
  }

  /** Asserts equal schemas and row multisets; returns the row count. */
  private def assertSame(what: String, got: DataFrame, want: DataFrame): Int = {
    def fields(d: DataFrame) = d.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(got) == fields(want), s"$what: schema")
    def bag(d: DataFrame) = d.collect().toSeq.map(r => norm(r)).groupBy(identity)
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

  test("quantified (B C)+ and (B C)*: bindGroup on each member, tieBreak, " +
       "materializeGroupRows") {
    val shapes = Seq((false, false, Nil), (true, false, Seq("tie")),
      (false, true, Seq("tie")), (true, true, Nil))
    val matched = for (seed <- seeds; (star, rows, ties) <- shapes) yield {
      val ev = log(seed)
      var p = begin.followedByGroup("g", bc: _*).bindGroup("b", "value")
        .bindGroup("c", "value", "tie")
      if (rows) p = p.materializeGroupRows()
      if (ties.nonEmpty) p = p.tieBreak(ties: _*)
      p = if (star) p.zeroOrMore() else p.oneOrMore()
      val got = p.within(WinMs).detect(ev, col("user_id"), col("ts"))
      val want = refGroup(ev, prefix(ev, begin), "g", bc,
        Seq("b" -> "value", "c" -> "value", "c" -> "tie"), ties, quantified = true,
        opt = star, rows = rows, col("s_ts"), "s_ts")._1.withColumnRenamed("__k", "key")
      (star, rows) -> assertSame(s"seed $seed star $star rows $rows ties $ties", got, want)
    }
    assertMatched(matched)
  }

  test("unquantified groups: bare, optional() and times(2), with bindGroup " +
       "and null anchor times, last or followed by a plain step") {
    val keep = Seq("b" -> "value", "c" -> "value")
    val matched = for (seed <- seeds; shape <- Seq("bare", "optional", "times2");
                       last <- Seq(true, false)) yield {
      val ev = log(seed, nullTsAnchors = true)
      val g = begin.followedByGroup("g", bc: _*).bindGroup("b", "value")
        .bindGroup("c", "value").tieBreak("tie")
      val p = shape match {
        case "bare" => g
        case "optional" => g.optional()
        case _ => g.times(2)
      }
      val got = (if (last) p else p.followedBy("p", et("p"))).within(WinMs)
        .detect(ev, col("user_id"), col("ts"))
      val pre = prefix(ev, begin)
      val (grouped, prev) = shape match {
        case "times2" =>
          val (g1, p1) = refGroup(ev, pre, "g_1", bc, keep, Seq("tie"), quantified = false,
            opt = false, rows = false, col("s_ts"), "s_ts")
          refGroup(ev, g1, "g_2", bc, keep, Seq("tie"), quantified = false, opt = false,
            rows = false, p1, "s_ts")
        case sh =>
          refGroup(ev, pre, "g", bc, keep, Seq("tie"), quantified = false,
            opt = sh == "optional", rows = false, col("s_ts"), "s_ts")
      }
      val want = (if (last) grouped else refPlain(ev, grouped, "p", et("p"), prev, "s_ts"))
        .withColumnRenamed("__k", "key")
      (shape, last) -> assertSame(s"seed $seed $shape last $last", got, want)
    }
    assertMatched(matched)
  }

  test("a longer prefix before the group: the anchors arrive as a second " +
       "cogroup side") {
    val matched = for (seed <- seeds; quantified <- Seq(true, false)) yield {
      val ev = log(seed)
      val pre = begin.followedBy("x", et("x"))
      val bcv = bc :+ ("v" -> et("v"))
      val g = pre.followedByGroup("g", bcv: _*).bindGroup("v", "value")
      val got = (if (quantified) g.oneOrMore() else g).within(WinMs)
        .detect(ev, col("user_id"), col("ts"))
      val want = refGroup(ev, prefix(ev, pre), "g", bcv, Seq("v" -> "value"), Nil,
        quantified, opt = false,
        rows = false, col("x_ts"), "s_ts")._1.withColumnRenamed("__k", "key")
      quantified -> assertSame(s"seed $seed quantified $quantified", got, want)
    }
    assertMatched(matched)
  }

  test("a group followed by a run: (S (B C)+ V+ P)") {
    val matched = for (seed <- seeds) yield {
      val ev = log(seed)
      val got = begin.followedByGroup("g", bc: _*).oneOrMore()
        .followedBy("v", et("v")).oneOrMore()
        .followedBy("p", et("p"))
        .within(WinMs).detect(ev, col("user_id"), col("ts"))
      val (grouped, prev) = refGroup(ev, prefix(ev, begin), "g", bc, Nil, Nil,
        quantified = true, opt = false, rows = false, col("s_ts"), "s_ts")
      // the run binds its first member like a plain step, the next step
      // binds after it, and one keyed join collects the run's members
      // strictly before that binding
      val withV = refPlain(ev, grouped, "v", et("v"), prev, "s_ts")
      val withP = refPlain(ev, withV, "p", et("p"), col("v_ts"), "s_ts")
      val kept = withP.columns.map(col)
      val want = withP.join(ev.filter(et("v")).select(col("user_id").as("__k3"),
            col("ts").as("__rts")),
          col("__k") === col("__k3") && col("__rts") >= col("v_ts") &&
            col("__rts") < col("p_ts"))
        .groupBy(kept.toIndexedSeq: _*)
        .agg(max(col("__rts")).as("v_last_ts"), count(col("__rts")).as("v_n"))
        .withColumnRenamed("v_ts", "v_first_ts")
        .withColumnRenamed("__k", "key")
      "run" -> assertSame(s"seed $seed", got, want)
    }
    assertMatched(matched)
  }
}

object GroupWalkParitySpec extends Serializable {
  /** The relational chain's collision-free per-key grouping string. */
  def keyString(v: Any): String = v match {
    case null => "N"
    case o => val s = String.valueOf(o); s"V${s.length}:$s"
  }
}
