package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** The two sides of the interval-join parity spec: different schemas and
  * column orders, nullable keys. Top level so the encoders need no outer
  * pointer. */
case class IvjLeft(user_id: Option[Long], ts: Timestamp, tag: String)
case class IvjRight(amount: Double, user_id: Option[Long], ts: Timestamp)

/** §2.6 — Structured Streaming analogs of the DataStream API, driven through
  * MemoryStream with real watermarks (late "flush" rows advance event time).
  */
class StreamingSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  private implicit def sqlCtx = spark.sqlContext

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def at(sec: Long) = new Timestamp(T0.getTime + sec * 1000)
  private val FLUSH = Event(999L, at(36000), "noise", 0.0) // pushes watermark far ahead

  private def run[A](name: String, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val q: StreamingQuery = df.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("tumblingAgg finalizes a window once the watermark passes") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(10), "click", 1.0), Event(1, at(20), "click", 2.0), FLUSH)
    val out = run("s_tumble", StreamOps.tumblingAgg(in.toDF(), "10 seconds", "1 minute"))
    val r = out.filter($"event_type" === "click").collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n") == 2L && r(0).getAs[Double]("sum_value") == 3.0)
    assert(r(0).getAs[Timestamp]("window_start") == at(0))
  }

  test("slidingAgg lands one event in size/slide overlapping windows") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(70), "view", 1.0), FLUSH)
    val out = run("s_slide", StreamOps.slidingAgg(in.toDF(), "10 seconds", "1 minute", "30 seconds"))
    val starts = out.filter($"event_type" === "view")
      .select("window_start").as[Timestamp].collect().toSet
    assert(starts == Set(at(30), at(60))) // windows [0:30,1:30) and [1:00,2:00)
  }

  test("sessionAgg merges events within gap; end = last + gap") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(0), "click", 1.0), Event(1, at(10), "click", 2.0), FLUSH)
    val out = run("s_sess", StreamOps.sessionAgg(in.toDF(), "10 seconds", "30 seconds"))
    val r = out.filter($"user_id" === 1).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Timestamp]("session_start") == at(0))
    assert(r(0).getAs[Timestamp]("session_end") == at(40)) // 10s last event + 30s gap
    assert(r(0).getAs[Long]("n") == 2L)
  }

  test("sessionAggDynamic: a purchase's longer gap holds the session open") {
    import org.apache.spark.sql.functions.{when, lit}
    val in = MemoryStream[Event]
    // click gap 30s: click@0 + click@50 would be separate sessions — but the
    // purchase@10 carries a 60s gap, bridging them into one merged range
    in.addData(Event(1, at(0), "click", 1.0), Event(1, at(10), "purchase", 5.0),
      Event(1, at(50), "click", 2.0), FLUSH)
    // session_window's dynamic gap must be a CalendarInterval (or interval
    // STRING) expression — ANSI day-time intervals are rejected by name
    val gap = when($"event_type" === "purchase", lit("60 seconds"))
      .otherwise(lit("30 seconds"))
    val out = run("s_dynsess", StreamOps.sessionAggDynamic(in.toDF(), "10 seconds", gap))
    val r = out.filter($"user_id" === 1).collect()
    assert(r.length == 1, r.mkString(","))
    assert(r(0).getAs[Timestamp]("session_start") == at(0))
    assert(r(0).getAs[Timestamp]("session_end") == at(80)) // click@50 + 30s
    assert(r(0).getAs[Long]("n") == 3L)
  }

  test("dedupWithinWatermark keeps first row per key") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(0), "click", 1.0), Event(1, at(1), "click", 1.0), FLUSH)
    val out = run("s_dedup",
      StreamOps.dedupWithinWatermark(in.toDF(), "1 minute", Seq("user_id", "event_type")))
    assert(out.filter($"user_id" === 1).count() == 1)
  }

  test("dedupKeepLast re-emits each key's latest row (update mode)") {
    val in = MemoryStream[Event]
    val q = StreamOps.dedupKeepLast(in.toDS(), "10 seconds").toDF()
      .writeStream.format("memory").queryName("s_keeplast").outputMode("update").start()
    in.addData(Event(1, at(0), "v1", 1.0), Event(1, at(10), "v2", 2.0))
    q.processAllAvailable()
    in.addData(Event(1, at(5), "stale", 9.0)) // older event time: must NOT displace
    q.processAllAvailable()
    in.addData(Event(1, at(20), "v3", 3.0))
    q.processAllAvailable(); q.stop()
    val revisions = spark.table("s_keeplast").filter($"user_id" === 1)
      .select("event_type").as[String].collect().toSeq
    // one revision per batch: latest-by-event-time each time
    assert(revisions == Seq("v2", "v2", "v3"), s"got $revisions")
  }

  test("countWindowAgg emits one row per N events per key, keeps the tail") {
    val in = MemoryStream[Event]
    val q = StreamOps.countWindowAgg(in.toDS(), "10 seconds", size = 2).toDF()
      .writeStream.format("memory").queryName("s_cntwin").outputMode("append").start()
    in.addData(Event(1, at(0), "a", 1.0), Event(1, at(10), "a", 2.0),
      Event(1, at(20), "a", 4.0))
    q.processAllAvailable()
    in.addData(Event(1, at(30), "a", 8.0)) // completes the second window
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s_cntwin").filter($"user_id" === 1)
      .select("session_start", "session_end", "n", "sum_value")
      .as[(Timestamp, Timestamp, Long, Double)].collect().toSeq.sortBy(_._1.getTime)
    assert(rows == Seq((at(0), at(10), 2L, 3.0), (at(20), at(30), 2L, 12.0)),
      s"got $rows")
  }

  test("sessionize (ProcessFunction analog) emits on event-time timeout") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(0), "click", 1.0), Event(1, at(10), "click", 2.5))
    val df = StreamOps.sessionize(in.toDS(), "5 seconds", 30000L).toDF()
    val q = df.writeStream.format("memory").queryName("s_fmgws").outputMode("append").start()
    q.processAllAvailable()
    in.addData(FLUSH) // watermark jumps past session end ⇒ timer fires
    q.processAllAvailable(); q.stop()
    val r = spark.table("s_fmgws").filter($"user_id" === 1).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Timestamp]("session_start") == at(0))
    assert(r(0).getAs[Timestamp]("session_end") == at(40))
    assert(r(0).getAs[Long]("n") == 2L && r(0).getAs[Double]("sum_value") == 3.5)
  }

  test("cepFollowedBy matches first→second within window, keyed state") {
    val in = MemoryStream[Event]
    in.addData(
      Event(1, at(0), "signup", 0.0), Event(1, at(30), "purchase", 9.0),
      Event(2, at(0), "signup", 0.0), Event(2, at(7200), "purchase", 9.0)) // outside 1h
    val out = run("s_cep",
      StreamOps.cepFollowedBy(in.toDS(), "10 seconds", "signup", "purchase", 3600000L).toDF())
    val r = out.collect()
    assert(r.map(_.getAs[Long]("user_id")).toSet == Set(1L))
    assert(r(0).getAs[Timestamp]("second_ts") == at(30))
  }

  test("streamStreamIntervalJoin joins within (0, +1h] on the same key") {
    val l = MemoryStream[Event]; val r = MemoryStream[Event]
    l.addData(Event(1, at(0), "click", 1.0), FLUSH)
    r.addData(Event(1, at(600), "purchase", 5.0), Event(1, at(7200), "purchase", 7.0), FLUSH)
    val joined = StreamOps.streamStreamIntervalJoin(
      l.toDF().select($"user_id", $"ts", $"event_type"),
      r.toDF().select($"user_id".as("user_id"), $"ts", $"value"), "10 seconds", "10 seconds", "1 HOUR")
    val out = run("s_ssj", joined.select($"value"))
    assert(out.as[Double].collect().toSet == Set(5.0))
  }

  test("streamWindowJoin pairs rows sharing key AND tumbling window (JoinedStreams analog)") {
    val l = MemoryStream[Event]; val r = MemoryStream[Event]
    // clicks at 0:10 and 1:10 — different 1-minute windows; purchase at 0:30
    l.addData(Event(1, at(10), "click", 1.0), Event(1, at(70), "click", 2.0), FLUSH)
    r.addData(Event(1, at(30), "purchase", 5.0), FLUSH)
    val joined = StreamOps.streamWindowJoin(
      l.toDF().select($"user_id", $"ts", $"value".as("l_value")),
      r.toDF().select($"user_id".as("user_id"), $"ts".as("r_ts"), $"value".as("r_value"))
        .withColumnRenamed("r_ts", "ts"),
      "10 seconds", "10 seconds", "1 minute")
    val out = run("s_winjoin", joined.select($"l.user_id".as("uid"), $"l_value", $"r_value"))
    // only the 0:10 click shares the [0:00,1:00) window with the purchase
    // (the FLUSH rows pair with each other under key 999 — ignore them)
    assert(out.filter($"uid" === 1).select("l_value", "r_value")
      .as[(Double, Double)].collect().toSet == Set((1.0, 5.0)))
  }

  test("left-outer stream-stream interval join null-extends once the watermark closes the window") {
    val l = MemoryStream[Event]; val r = MemoryStream[Event]
    l.addData(Event(1, at(0), "click", 1.0), Event(2, at(0), "click", 2.0), FLUSH)
    r.addData(Event(1, at(600), "purchase", 5.0), FLUSH) // user 2 never purchases
    val joined = StreamOps.streamStreamIntervalJoin(
      l.toDF().select($"user_id", $"ts", $"event_type"),
      r.toDF().select($"user_id".as("user_id"), $"ts", $"value"),
      "10 seconds", "10 seconds", "1 HOUR", "left_outer")
    val out = run("s_ssj_outer",
      joined.select(org.apache.spark.sql.functions.col("l.user_id").as("uid"), $"value"))
      .filter($"uid" =!= 999L) // drop the FLUSH row's own null-extension
    val rows = out.as[(Long, Option[Double])].collect().toSet
    assert(rows == Set((1L, Some(5.0)), (2L, None)))
  }

  test("Trigger.AvailableNow drains the backlog then stops (Flink bounded-stream execution)") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(10), "click", 1.0), Event(1, at(20), "click", 2.0))
    val q = in.toDF().groupBy("user_id").count()
      .writeStream.format("memory").queryName("s_avnow").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000), "query must self-terminate after draining")
    val rows = spark.table("s_avnow").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 2L)))
  }

  test("RocksDB state store backs a windowed aggregate (Flink RocksDB state backend analog)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val in = MemoryStream[Event]
      in.addData(Event(1, at(10), "click", 1.0), Event(1, at(20), "click", 2.0), FLUSH)
      val out = run("s_rocksdb", StreamOps.tumblingAgg(in.toDF(), "10 seconds", "1 minute"))
      val r = out.filter($"event_type" === "click").collect()
      assert(r.length == 1 && r(0).getAs[Long]("n") == 2L)
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("update output mode emits revised aggregates (Flink retract-stream analog)") {
    val in = MemoryStream[Event]
    val agg = in.toDF().groupBy($"event_type").count()
    val q = agg.writeStream.format("memory").queryName("s_update")
      .outputMode("update").start()
    in.addData(Event(1, at(0), "click", 1.0)); q.processAllAvailable()
    in.addData(Event(2, at(1), "click", 1.0)); q.processAllAvailable()
    q.stop()
    // update mode appends one REVISION row per changed group per batch:
    // count=1 then count=2 — the upsert/retract stream a downstream sink folds
    val revisions = spark.table("s_update").filter($"event_type" === "click")
      .select("count").as[Long].collect().sorted.toSeq
    assert(revisions == Seq(1L, 2L))
  }

  test("complete output mode re-emits the full result table (Flink dynamic table)") {
    val in = MemoryStream[Event]
    val agg = in.toDF().groupBy($"event_type").count()
    val q = agg.writeStream.format("memory").queryName("s_complete")
      .outputMode("complete").start()
    in.addData(Event(1, at(0), "click", 1.0), Event(1, at(1), "view", 2.0))
    q.processAllAvailable()
    val snapshot = spark.table("s_complete").as[(String, Long)].collect().toMap
    q.stop()
    assert(snapshot == Map("click" -> 1L, "view" -> 1L))
  }

  test("broadcastRulesEnrich picks up rule changes at the next micro-batch") {
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[Event]
    @volatile var rules = Seq((1L, "allow")).toDF("user_id", "action")
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = StreamOps.broadcastRulesEnrich(in.toDF(), () => rules, "user_id") { b =>
      out ++= b.select(col("user_id"), col("action"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      ()
    }
    in.addData(Event(1, at(0), "click", 1.0)); q.processAllAvailable()
    rules = Seq((1L, "block")).toDF("user_id", "action") // broadcast-side update
    in.addData(Event(1, at(10), "click", 1.0)); q.processAllAvailable()
    q.stop()
    assert(out.toSeq == Seq((1L, "allow"), (1L, "block")))
  }

  test("cepFollowedByAnyChain emits EVERY in-window chain via native " +
       "stream-stream joins — batch all-matches parity") {
    val in = MemoryStream[Event]
    val evs = Seq(
      Event(1, at(0), "signup", 1.0), Event(1, at(10), "click", 1.0),
      Event(1, at(20), "click", 1.0), Event(1, at(30), "purchase", 1.0),
      Event(1, at(200), "purchase", 1.0), // outside the 60s window of signup@0
      Event(2, at(0), "signup", 1.0), Event(2, at(5), "purchase", 1.0))
    in.addData(evs: _*); in.addData(FLUSH)
    val out = run("s_any_chain", StreamOps.cepFollowedByAnyChain(
      in.toDS(), "5 seconds",
      Seq("s" -> "signup", "c" -> "click", "p" -> "purchase"), 60000L))
    val got = out.select("user_id", "s_ts", "c_ts", "p_ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getTimestamp(3))).toSet
    // (signup@0, click@10, purchase@30) and (signup@0, click@20, purchase@30);
    // user 2 has no click; purchase@200 is out of window
    assert(got == Set(
      (1L, at(0), at(10), at(30)),
      (1L, at(0), at(20), at(30))), got.toString)
    // parity with the batch all-matches compile on the same data
    import org.apache.spark.sql.functions.col
    val batch = graft.cep.Pattern.begin("s", col("event_type") === "signup")
      .followedByAny("c", col("event_type") === "click")
      .followedByAny("p", col("event_type") === "purchase")
      .within(60000L)
      .detect(evs.toDF(), col("user_id"), col("ts"))
      .select(col("key"), col("s_ts"), col("c_ts"), col("p_ts"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getTimestamp(3))).toSet
    assert(batch == got, s"batch $batch != stream $got")
  }

  test("streamStaticEnrich broadcast-joins a dimension") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(0), "click", 1.0))
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val out = run("s_enrich", StreamOps.streamStaticEnrich(in.toDF(), dim, "user_id"))
    assert(out.select("tier").as[String].collect().toSeq == Seq("gold"))
  }

  test("streamingTopN re-emits the refreshed per-key ranking on change") {
    val in = MemoryStream[Event]
    val q = StreamOps.streamingTopN(in.toDS(), "10 seconds", 2).toDF()
      .writeStream.format("memory").queryName("s_topn").outputMode("update").start()
    in.addData(Event(1, at(10), "click", 5.0), Event(1, at(20), "click", 9.0),
      Event(1, at(30), "click", 7.0))
    q.processAllAvailable()
    in.addData(Event(1, at(40), "click", 8.0)) // displaces 7.0 from the top-2
    in.addData(Event(1, at(50), "click", 1.0)) // below top-2: must NOT re-emit
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s_topn")
      .select("rank", "value").as[(Int, Double)].collect().toSeq
    // batch 1 emits (1,9.0),(2,7.0); batch 2 emits (1,9.0),(2,8.0); batch 3 nothing
    assert(rows.sorted == Seq((1, 9.0), (1, 9.0), (2, 7.0), (2, 8.0)))
  }

  test("sideOutputs routes a single batch pass to every matching sink") {
    val in = MemoryStream[Event]
    in.addData(Event(1, at(0), "click", 1.0), Event(2, at(1), "view", 2.0),
      Event(3, at(2), "click", 3.0))
    val clicks = scala.collection.mutable.ArrayBuffer.empty[Long]
    val others = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamOps.sideOutputs(in.toDF(), Seq(
      ($"event_type" === "click",
        (df: org.apache.spark.sql.DataFrame) => clicks ++= df.select("user_id").as[Long].collect()),
      ($"event_type" =!= "click",
        (df: org.apache.spark.sql.DataFrame) => others ++= df.select("user_id").as[Long].collect())
    )).start()
    q.processAllAvailable(); q.stop()
    assert(clicks.sorted.toSeq == Seq(1L, 3L) && others.toSeq == Seq(2L))
  }

  test("coProcessMatch shares keyed state across two connected streams") {
    val l = MemoryStream[Event]
    val r = MemoryStream[Event]
    val q = StreamOps.coProcessMatch(l.toDS(), r.toDS(), "10 seconds").toDF()
      .writeStream.format("memory").queryName("s_coproc").outputMode("append").start()
    l.addData(Event(1, at(10), "order", 1.0)) // no right side yet: stays in state
    q.processAllAvailable()
    r.addData(Event(1, at(30), "pay", 0.0),   // matches the pending left
      Event(2, at(5), "pay", 0.0))            // no left for user 2: stays pending
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s_coproc")
      .select("user_id", "left_ts", "right_ts").as[(Long, Timestamp, Timestamp)]
      .collect().toSeq
    assert(rows == Seq((1L, at(10), at(30))))
  }

  test("temporalJoinStream: facts wait for the watermark so late versions are honored") {
    val f = MemoryStream[Event]; val v = MemoryStream[Event]
    val q = StreamOps.temporalJoinStream(f.toDS(), v.toDS(), "10 seconds").toDF()
      .writeStream.format("memory").queryName("s_tjoin").outputMode("append").start()
    v.addData(Event(1, at(10), "tier", 1.0))
    f.addData(Event(1, at(20), "order", 5.0), Event(1, at(30), "order", 7.0),
      Event(2, at(15), "order", 9.0)) // user 2 never gets a version
    q.processAllAvailable()
    // this version arrives AFTER the fact at 30s but carries an earlier
    // event time (25s) — the buffered fact must pick it up
    v.addData(Event(1, at(25), "tier", 2.0))
    q.processAllAvailable()
    f.addData(FLUSH); v.addData(FLUSH) // advance the watermark past 30s
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s_tjoin").filter($"user_id" < 999)
      .select("user_id", "fact_ts", "version_ts", "version_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        Option(r.getTimestamp(2)), Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    assert(rows == Set(
      (1L, at(20), Some(at(10)), Some(1.0)),  // version in effect at 20s is v@10
      (1L, at(30), Some(at(25)), Some(2.0)),  // late-arriving v@25 honored
      (2L, at(15), None, None)),              // left-join: no version yet
      s"got $rows")
  }

  test("cepPattern matches a 3-step linear pattern across micro-batches") {
    val in = MemoryStream[Event]
    val steps: Seq[Event => Boolean] = Seq(
      _.event_type == "signup", _.event_type == "click", _.event_type == "purchase")
    val q = StreamOps.cepPattern(in.toDS(), "10 seconds", steps, 3600 * 1000L).toDF()
      .writeStream.format("memory").queryName("s_ceppat").outputMode("append").start()
    in.addData(Event(1, at(10), "signup", 0.0), Event(2, at(10), "signup", 0.0))
    q.processAllAvailable()
    in.addData(Event(1, at(20), "click", 0.0), Event(1, at(30), "purchase", 0.0),
      Event(2, at(20), "click", 0.0)) // user 2 never purchases
    q.processAllAvailable(); q.stop()
    val rows = spark.table("s_ceppat")
      .select("user_id", "step_ts").as[(Long, Seq[Timestamp])].collect().toSeq
    assert(rows == Seq((1L, Seq(at(10), at(20), at(30)))))
  }

  test("processing-time tumbling window closes as the wall clock advances") {
    val in = MemoryStream[Event]
    val q = StreamOps.processingTimeTumbleAgg(in.toDF(), "1 second")
      .writeStream.format("memory").queryName("s_proctime").outputMode("append").start()
    in.addData(Event(1, at(10), "click", 1.0), Event(1, at(99999), "click", 2.0))
    q.processAllAvailable()   // both rows share the batch timestamp bucket
    Thread.sleep(1200)        // wall clock passes the 1s window
    in.addData(Event(9, at(0), "noise", 0.0)) // next batch advances the proc watermark
    q.processAllAvailable(); q.stop()
    val r = spark.table("s_proctime").filter($"event_type" === "click").collect()
    assert(r.length == 1 && r(0).getAs[Long]("n") == 2L,
      s"event times far apart, same processing-time window: ${r.toSeq}")
  }

  test("sessionizeProcessingTime fires on a wall-clock gap, no watermark involved") {
    val in = MemoryStream[Event]
    val q = StreamOps.sessionizeProcessingTime(in.toDS(), gapMs = 500L).toDF()
      .writeStream.format("memory").queryName("s_procsess").outputMode("append").start()
    in.addData(Event(1, at(0), "click", 1.0), Event(1, at(10), "click", 2.5))
    // do NOT processAllAvailable here: a ProcessingTimeTimeout operator keeps
    // scheduling wall-clock timer batches, so the "all available" condition
    // never settles — poll the sink for the timer-emitted session instead
    // (the timer fires ~500ms after the arrival batch with no further input)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def emitted() = spark.table("s_procsess").filter($"user_id" === 1).collect()
    var r = emitted()
    while (r.isEmpty && System.nanoTime() < deadline) { Thread.sleep(100); r = emitted() }
    q.stop()
    assert(r.length == 1, "wall-clock timer must close the session unaided")
    assert(r(0).getAs[Timestamp]("session_start") == at(0) &&
      r(0).getAs[Long]("n") == 2L && r(0).getAs[Double]("sum_value") == 3.5)
  }

  test("lateDataSplit routes sub-watermark rows to the late sink; on-time aggregates unchanged") {
    val in = MemoryStream[Event]
    val lateTs = scala.collection.mutable.ArrayBuffer.empty[Timestamp]
    val onTimeTs = scala.collection.mutable.ArrayBuffer.empty[Timestamp]
    val q = StreamOps.lateDataSplit(in.toDF(), "ts", 60000L,
      onTime = b => onTimeTs ++= b.select("ts").as[Timestamp].collect(),
      late = b => lateTs ++= b.select("ts").as[Timestamp].collect()).start()
    in.addData(Event(1, at(1000), "click", 1.0)) // batch 1: no watermark yet
    q.processAllAvailable()
    // batch 2: watermark = 1000s - 60s = 940s; 100s is late, 1010s on-time
    in.addData(Event(1, at(100), "stale", 1.0), Event(1, at(1010), "click", 2.0))
    q.processAllAvailable(); q.stop()
    assert(lateTs.toSeq == Seq(at(100)), s"late sink got $lateTs")
    assert(onTimeTs.sorted.toSeq == Seq(at(1000), at(1010)),
      s"on-time rows must be exactly the non-late ones: $onTimeTs")
  }

  test("late data beyond the watermark is dropped and observable in metrics") {
    // Flink's allowed-lateness/late-side-output story maps to Spark as:
    // rows older than the watermark are dropped, and the drop count is
    // exposed per-batch via StreamingQueryProgress (numRowsDroppedByWatermark)
    val in = MemoryStream[Event]
    val agg = StreamOps.tumblingAgg(in.toDF(), "10 seconds", "1 minute")
    val q = agg.writeStream.format("memory").queryName("s_late")
      .outputMode("append").start()
    in.addData(Event(1, at(10), "click", 1.0), FLUSH) // watermark -> far future
    q.processAllAvailable()
    in.addData(Event(1, at(20), "click", 2.0)) // hours behind the watermark
    q.processAllAvailable()
    val dropped = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
      .recentProgress.map(p => Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsDroppedByWatermark).sum).sum
    q.stop()
    assert(dropped >= 1, "late row must be counted as dropped by the watermark")
  }

  test("SQL text runs against a STREAMING temp view (Flink streaming SQL analog)") {
    // Flink 1.10 users write TUMBLE SQL against unbounded tables; the Spark
    // mapping is spark.sql over a streaming temp view — the same text as the
    // batch front door (w12), executing incrementally with watermark state
    val in = MemoryStream[Event]
    in.toDF().withWatermark("ts", "10 seconds").createOrReplaceTempView("s_events")
    val agg = spark.sql(
      """SELECT window(ts, '1 minute').start AS window_start, event_type,
        |       count(*) AS n, sum(value) AS sum_value
        |FROM s_events GROUP BY window(ts, '1 minute'), event_type""".stripMargin)
    assert(agg.isStreaming, "the SQL plan must stay a streaming plan")
    in.addData(Event(1, at(10), "click", 1.0), Event(1, at(20), "click", 2.0), FLUSH)
    val out = run("s_sql_stream", agg)
    val r = out.filter($"event_type" === "click").collect()
    assert(r.length == 1 && r(0).getAs[Long]("n") == 2L &&
      r(0).getAs[Double]("sum_value") == 3.0)
  }

  /** State rows in the most recent progress entry that reports any — the
    * state-store row count backing the TTL-eviction assertions below. */
  private def lastStateRows(q: StreamingQuery): Long =
    q.recentProgress.reverse.iterator
      .map(p => Option(p.stateOperators).toSeq.flatten)
      .find(_.nonEmpty).map(_.map(_.numRowsTotal).sum).getOrElse(-1L)

  test("earlyFireTumbleAgg (ContinuousEventTimeTrigger analog) emits revisable partials") {
    val in = MemoryStream[Event]
    val q = StreamOps.earlyFireTumbleAgg(in.toDF(), "10 seconds", "1 minute")
      .format("memory").queryName("s_earlyfire").start()
    in.addData(Event(1, at(10), "click", 1.0))
    q.processAllAvailable() // first fire: partial (1, 1.0), window still open
    in.addData(Event(1, at(20), "click", 2.0))
    q.processAllAvailable() // second fire revises the SAME window
    in.addData(FLUSH)
    q.processAllAvailable(); q.stop()
    val fires = spark.table("s_earlyfire").filter($"event_type" === "click")
      .select("n", "sum_value").as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(fires == Seq((1L, 1.0), (2L, 3.0)),
      s"expected an early partial then a revision, got $fires")
    // the final revision equals the append-mode (on-window-close) result
    val in2 = MemoryStream[Event]
    in2.addData(Event(1, at(10), "click", 1.0), Event(1, at(20), "click", 2.0), FLUSH)
    val append = run("s_earlyfire_append", StreamOps.tumblingAgg(in2.toDF(), "10 seconds", "1 minute"))
      .filter($"event_type" === "click")
      .select("n", "sum_value").as[(Long, Double)].collect().toSeq
    assert(append == Seq(fires.last))
  }

  test("dedupKeepLast evicts a dormant key's state after the idle TTL, output unchanged") {
    val in = MemoryStream[Event]
    val q = StreamOps.dedupKeepLast(in.toDS(), "10 seconds", idleTtlMs = 60000L).toDF()
      .writeStream.format("memory").queryName("s_keeplast_ttl").outputMode("update").start()
    in.addData(Event(1, at(0), "v1", 1.0))
    q.processAllAvailable()
    in.addData(FLUSH) // watermark jumps hours past user 1's 60s idle horizon
    q.processAllAvailable()
    in.addData(Event(999L, at(36010), "noise2", 0.0)) // next batch: timeout fires
    q.processAllAvailable()
    val rows = lastStateRows(q)
    q.stop()
    // user 1 evicted; only the active key 999 retains state
    assert(rows == 1L, s"expected 1 state row after eviction, got $rows")
    // eviction emitted nothing: user 1's output is exactly its one revision
    val u1 = spark.table("s_keeplast_ttl").filter($"user_id" === 1)
      .select("event_type").as[String].collect().toSeq
    assert(u1 == Seq("v1"), s"got $u1")
  }

  test("countWindowAgg discards a dormant key's partial tail after the idle TTL") {
    val in = MemoryStream[Event]
    val q = StreamOps.countWindowAgg(in.toDS(), "10 seconds", size = 2, idleTtlMs = 60000L).toDF()
      .writeStream.format("memory").queryName("s_cntwin_ttl").outputMode("append").start()
    in.addData(Event(1, at(0), "a", 1.0)) // partial window (1 of 2)
    q.processAllAvailable()
    in.addData(FLUSH) // FLUSH key 999 opens its own partial; watermark jumps
    q.processAllAvailable()
    in.addData(Event(999L, at(36010), "noise2", 0.0)) // 999 completes; 1 times out
    q.processAllAvailable()
    val rows = lastStateRows(q)
    q.stop()
    assert(rows == 0L, s"expected 0 state rows (1 evicted, 999 completed), got $rows")
    // the discarded partial never emits
    assert(spark.table("s_cntwin_ttl").filter($"user_id" === 1).count() == 0)
  }

  test("cepFollowedBy prunes expired pending firsts and evicts dormant keys") {
    val in = MemoryStream[Event]
    val q = StreamOps.cepFollowedBy(in.toDS(), "10 seconds", "signup", "purchase", 3600000L).toDF()
      .writeStream.format("memory").queryName("s_cep_ttl").outputMode("append").start()
    in.addData(Event(1, at(0), "signup", 0.0)) // pending first, window 1h
    q.processAllAvailable()
    in.addData(FLUSH) // watermark -> ~10h: user 1's window long closed
    q.processAllAvailable()
    in.addData(Event(999L, at(36010), "noise2", 0.0)) // next batch: timeout fires
    q.processAllAvailable()
    val rows = lastStateRows(q)
    q.stop()
    assert(rows == 0L, s"expected all pending state evicted, got $rows")
    assert(spark.table("s_cep_ttl").count() == 0) // no match ever emitted
  }

  test("cepFollowedBy consume-all policy: one pair per second-event, all pendings consumed") {
    // two in-window pending firsts + one second: the documented policy emits
    // ONE pair (the earliest first) and consumes BOTH pendings — a later
    // second finds nothing. Batch w05/Pattern NO_SKIP would emit two matches;
    // cepPattern is the parity op for that.
    val in = MemoryStream[Event]
    val q = StreamOps.cepFollowedBy(in.toDS(), "10 seconds", "signup", "purchase", 3600000L).toDF()
      .writeStream.format("memory").queryName("s_cep_policy").outputMode("append").start()
    in.addData(Event(1, at(0), "signup", 0.0), Event(1, at(5), "signup", 0.0),
               Event(1, at(10), "purchase", 1.0), Event(1, at(20), "purchase", 2.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("s_cep_policy").as[graft.streaming.PairOut].collect().toSeq
    assert(out == Seq(graft.streaming.PairOut(1, at(0), at(10))),
      s"one pair for the earliest pending, both pendings consumed: $out")
  }

  test("cepFollowedBy timeout at the earliest window close keeps later-window pendings") {
    // two pending firsts with staggered windows (closes at t=60s and t=3000s):
    // the event-time timer arms at the EARLIEST close, so when the watermark
    // passes t=60s the timer fires with no input rows for the key — the first
    // pending must be pruned but the second must SURVIVE the fire and still
    // match a purchase arriving inside its window
    val in = MemoryStream[Event]
    val q = StreamOps.cepFollowedBy(in.toDS(), "0 seconds", "signup", "purchase", 60000L).toDF()
      .writeStream.format("memory").queryName("s_cep_timeout").outputMode("append").start()
    in.addData(Event(1, at(0), "signup", 0.0),    // window closes at 60s
               Event(1, at(2950), "signup", 0.0)) // window closes at 3010s
    q.processAllAvailable()
    in.addData(Event(999L, at(2000), "noise", 0.0)) // wm -> 2000s: fires key 1's timer
    q.processAllAvailable()
    in.addData(Event(999L, at(2001), "noise", 0.0)) // drain the timer fire batch
    q.processAllAvailable()
    in.addData(Event(1, at(2990), "purchase", 1.0)) // inside the surviving window
    q.processAllAvailable()
    val out = spark.table("s_cep_timeout").as[graft.streaming.PairOut].collect().toSeq
    assert(out == Seq(graft.streaming.PairOut(1, at(2950), at(2990))),
      s"the still-open pending must survive the timeout fire: $out")
    q.stop()
  }

  test("iterateBatches: the minus-one feedback loop drains per micro-batch " +
       "(DataStream.iterate analog)") {
    import org.apache.spark.sql.functions.{col, expr}
    val exits = new scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val in = MemoryStream[Event]
    // Flink's IterateExample shape: decrement per hop, exit at 0 — user 1
    // needs 3 hops, user 2 exits on the first
    val q = StreamOps.iterateBatches(in.toDF(), frontier => {
      val dec = frontier.withColumn("value", col("value") - 1)
      (dec.filter(col("value") <= 0), dec.filter(col("value") > 0))
    }) { (out, _) =>
      exits.synchronized {
        exits ++= out.collect().map(r =>
          (r.getAs[Long]("user_id"), r.getAs[Double]("value")))
      }
    }
    try {
      in.addData(Event(1, at(0), "n", 3.0), Event(2, at(0), "n", 1.0))
      q.processAllAvailable()
      in.addData(Event(3, at(1), "n", 2.0)) // a second batch iterates independently
      q.processAllAvailable()
    } finally q.stop()
    // every element exits EXACTLY once, at value 0
    assert(exits.sorted.toList == List((1L, 0.0), (2L, 0.0), (3L, 0.0)),
      exits.toString)
    // a frontier that can never drain fails loudly at the hop bound —
    // cross-batch feedback is rejected, not silently dropped
    val in2 = MemoryStream[Event]
    val q2 = StreamOps.iterateBatches(in2.toDF(),
      frontier => (frontier.limit(0), frontier), maxHops = 3) { (_, _) => () }
    try {
      in2.addData(Event(9, at(0), "n", 1.0))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q2.processAllAvailable())
      assert(e.getMessage.contains("feedback not drained") ||
        Option(e.getCause).exists(_.getMessage.contains("feedback not drained")),
        e.toString)
    } finally q2.stop()
  }

  test("streamStreamIntervalJoin emits the native stream-stream join's rows on all five join types") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.expr
    // micro-batch b spans event time [400b, 400b + 400) s; watermarks lag
    // 2 min (left) and 3 min (right), so an event up to 60 s before its
    // batch's span is out of order but on time, and one 1000 s before it
    // is behind the watermark
    def ts(sec: Long, us: Int = 0) = { val t = at(sec); t.setNanos(us * 1000); t }
    val rnd = new scala.util.Random(23)
    var n = 0
    def lrow(k: Option[Long], t: Timestamp) = { n += 1; IvjLeft(k, t, s"l$n") }
    def rrow(k: Option[Long], t: Timestamp) = { n += 1; IvjRight(n.toDouble, k, t) }
    def key = Some(1L + rnd.nextInt(3))
    var prev = (Seq.empty[IvjLeft], Seq.empty[IvjRight])
    val replay = (0 until 4).map { b =>
      val base = 400L * b
      val fresh = (Seq.fill(10)(lrow(key, ts(base + rnd.nextInt(400), rnd.nextInt(1000000)))),
        Seq.fill(10)(rrow(key, ts(base + rnd.nextInt(400), rnd.nextInt(1000000)))))
      val early = if (b == 0) (Nil, Nil)
        else (Seq.fill(2)(lrow(key, ts(base - 1 - rnd.nextInt(60)))),
          Seq.fill(2)(rrow(key, ts(base - 1 - rnd.nextInt(60)))))
      val late = if (b < 2) (Nil, Nil)
        else (Seq(lrow(key, ts(base - 1000))), Seq(rrow(key, ts(base - 1000))))
      // exact redeliveries, from this batch or the one before
      val again = (rnd.shuffle(fresh._1 ++ prev._1).take(2), rnd.shuffle(fresh._2 ++ prev._2).take(2))
      val nulls = (Seq(lrow(None, ts(base + 100))), Seq(rrow(None, ts(base + 150))))
      // the bounds: right ts == left ts (out), == left ts + 10 min (in),
      // and 1 µs past it (out)
      val bounds = b match {
        case 1 => (Seq(lrow(Some(1L), ts(450)), lrow(Some(2L), ts(500, 1))),
          Seq(rrow(Some(1L), ts(450)), rrow(Some(2L), ts(500, 1))))
        case 2 => (Nil, Seq(rrow(Some(1L), ts(1050)), rrow(Some(2L), ts(1100, 1)),
          rrow(Some(2L), ts(1100, 2))))
        case _ => (Nil, Nil)
      }
      prev = fresh
      val parts = Seq(fresh, early, late, again, nulls, bounds)
      (rnd.shuffle(parts.flatMap(_._1)), rnd.shuffle(parts.flatMap(_._2)))
    } ++ Seq(
      // the flush moves both watermarks past every row above; the last
      // batch is late on both sides and runs the evictions that move allows
      (Seq(lrow(Some(999L), at(100000))), Seq(rrow(Some(999L), at(100000)))),
      (Seq(lrow(Some(1L), at(0))), Seq(rrow(Some(1L), at(0)))))

    val types = Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi")
    def native(l: DataFrame, r: DataFrame, jt: String) =
      l.withWatermark("ts", "2 minutes").as("l").join(r.withWatermark("ts", "3 minutes").as("r"),
        expr("l.user_id = r.user_id AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 10 minutes"), jt)
    def graft(l: DataFrame, r: DataFrame, jt: String) =
      StreamOps.streamStreamIntervalJoin(l, r, "2 minutes", "3 minutes", "10 minutes", jt)
    // one state partition per query: the ten queries share the cores, and
    // the native join commits four stores per partition on every trigger
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val runs = try {
      for (jt <- types; (name, build) <- Seq("native" -> native _, "graft" -> graft _)) yield {
        val l = MemoryStream[IvjLeft]; val r = MemoryStream[IvjRight]
        val q = build(l.toDF(), r.toDF(), jt).writeStream.format("memory")
          .queryName(s"s_ivj_${name}_$jt").outputMode("append").start()
        (jt, name, l, r, q)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try {
      replay.foreach { case (lb, rb) =>
        runs.foreach { case (_, _, l, r, _) => l.addData(lb); r.addData(rb) }
        runs.foreach(_._5.processAllAvailable())
      }
    } finally runs.foreach(_._5.stop())

    def rows(name: String) = spark.table(name).collect().map(_.toSeq).toSeq
    def bag(rs: Seq[Seq[Any]]) = rs.groupBy(identity).view.mapValues(_.size).toMap
    for (jt <- types) {
      val want = rows(s"s_ivj_native_$jt")
      val got = rows(s"s_ivj_graft_$jt")
      // Spark's native full outer join pairs a null key with a null key;
      // here each of those rows comes out unmatched, null-extended
      val expected = if (jt != "full_outer") want else {
        // columns: l.user_id, l.ts, tag, amount, r.user_id, r.ts
        val (nullPairs, rest) = want.partition(w =>
          w(0) == null && w(1) != null && w(4) == null && w(5) != null)
        assert(nullPairs.nonEmpty, "the replay pairs null keys in time")
        rest ++ nullPairs.map(_.take(3) ++ Seq(null, null, null)).distinct ++
          nullPairs.map(Seq(null, null, null) ++ _.drop(3)).distinct
      }
      val (g, w) = (bag(got), bag(expected))
      if (g != w) fail(s"$jt: ${got.size} rows against the native ${want.size}; " +
        s"only here: ${g.toSet -- w.toSet}; only native: ${w.toSet -- g.toSet}")
      assert(got.nonEmpty, jt)
    }
    // the bounds: (450, 1050] and (500 s + 1 µs, 1100 s + 1 µs]
    val inner = rows("s_ivj_graft_inner")
    def partners(t: Timestamp) = inner.filter(_(1) == t).map(_(5)).toSet
    assert(partners(ts(450)).contains(ts(1050)) && !partners(ts(450)).contains(ts(450)))
    assert(partners(ts(500, 1)).contains(ts(1100, 1)) &&
      !partners(ts(500, 1)).contains(ts(1100, 2)) && !partners(ts(500, 1)).contains(ts(500, 1)))
    // one state store per trigger; late rows are counted (the last batch's
    // two, and over the run at least the four of batches 2 and 3); once the
    // watermark has passed every row, only the flush rows that moved it
    // hold state: one key
    for ((jt, name, _, _, q) <- runs) {
      val ops = q.lastProgress.stateOperators
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      if (name == "graft") {
        assert(ops.length == 1, s"$jt: ${ops.length} stateful operators")
        assert(ops.head.numRowsDroppedByWatermark == 2 && dropped >= 6, s"$jt: ${ops.head.json}")
        assert(ops.head.numRowsTotal == 1, s"$jt: ${ops.head.json}")
      }
      val native = runs.find(o => o._1 == jt && o._2 == "native").get._5
      assert(dropped == native.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum, s"$jt $name: late drops differ")
    }
    val e = intercept[IllegalArgumentException](
      StreamOps.streamStreamIntervalJoin(spark.range(1).toDF(), spark.range(1).toDF(),
        "1 minute", "1 minute", "1 minute", "left_anti"))
    assert(e.getMessage.contains("left_anti"), e.getMessage)
  }
}
