package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Event, StateInspect, StreamOps}

/** flink-state-processing-api analog (§2.6): a checkpoint's keyed state as
  * a batch table (statestore / state-metadata readers) and batch-seeded
  * initial state (the savepoint bootstrap path).
  */
class StateProcessingSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  private implicit def sqlCtx = spark.sqlContext

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def at(sec: Long) = new Timestamp(T0.getTime + sec * 1000)

  test("statestore read surfaces each key's live dedup state from a checkpoint") {
    val ckpt = Files.createTempDirectory("graft_state_ck").toString
    val in = MemoryStream[Event]
    in.addData(
      Event(1, at(10), "click", 1.0), Event(1, at(20), "click", 2.0),
      Event(2, at(15), "view", 7.0))
    val q = StreamOps.dedupKeepLast(in.toDF().as[Event], "10 seconds")
      .writeStream.format("memory").queryName("sp_dedup")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()

    // metadata: exactly one stateful operator, with its store listed
    val meta = StateInspect.stateMetadata(spark, ckpt)
      .select("operatorId", "operatorName", "stateStoreName").collect()
    assert(meta.length == 1, meta.mkString(","))
    assert(meta(0).getAs[String]("operatorName") == "flatMapGroupsWithState")
    assert(meta(0).getAs[String]("stateStoreName") == "default")

    // state: one live row per key, value = the key's LATEST event —
    // exactly what readKeyedState would surface from a savepoint
    val st = StateInspect.operatorState(spark, ckpt)
      .selectExpr("key.value AS uid", "value.groupState.*")
    val rows = st.collect().map(r =>
      (r.getAs[Long]("uid"), r.getAs[Timestamp]("ts"), r.getAs[Double]("value"))).toSet
    assert(rows == Set((1L, at(20), 2.0), (2L, at(15), 7.0)), rows.toString)
  }

  test("queryable state: a RUNNING query's keyed state is readable batch-side") {
    // the flink-queryable-state analog (reference flink-queryable-state/
    // .../QueryableStateClient.java): while the streaming query stays UP,
    // an out-of-band batch read of its last COMMITTED batch's state store
    // serves point-in-time lookups — no stop/savepoint needed
    val ckpt = Files.createTempDirectory("graft_qstate_ck").toString
    val in = MemoryStream[Event]
    in.addData(Event(5, at(10), "click", 4.0))
    val q = StreamOps.dedupKeepLast(in.toDF().as[Event], "10 seconds")
      .writeStream.format("memory").queryName("sp_qstate")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      val live1 = StateInspect.operatorState(spark, ckpt)
        .selectExpr("key.value AS uid", "value.groupState.value AS v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(live1 == Set((5L, 4.0)), live1.toString)
      // state evolves while the query keeps running; a fresh read sees it
      in.addData(Event(5, at(30), "click", 9.0), Event(6, at(31), "view", 2.0))
      q.processAllAvailable()
      val live2 = StateInspect.operatorState(spark, ckpt)
        .selectExpr("key.value AS uid", "value.groupState.value AS v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(live2 == Set((5L, 9.0), (6L, 2.0)), live2.toString)
    } finally q.stop()
  }

  test("bootstrapped initial state seeds keys before the first batch") {
    val seeded = Event(42, at(100), "seed", 5.0)
    val initial = Seq(seeded).toDS()
    val in = MemoryStream[Event]
    // the stream's own user-42 event is OLDER than the seed: with empty
    // initial state it would be emitted as the latest; with the bootstrap
    // the seeded row must win every emission
    in.addData(Event(42, at(50), "late", 1.0), Event(7, at(60), "click", 3.0))
    val q = StateInspect.dedupKeepLastBootstrapped(in.toDF().as[Event], "10 seconds", initial)
      .writeStream.format("memory").queryName("sp_boot")
      .outputMode("update").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("sp_boot").as[Event].collect()
    val u42 = out.filter(_.user_id == 42L)
    assert(u42.nonEmpty && u42.forall(e => e.ts == at(100) && e.value == 5.0),
      out.mkString(","))
    assert(out.filter(_.user_id == 7L).map(_.value).toSeq == Seq(3.0))
  }

  test("savepoint ROUND TRIP: a checkpoint's state reads back as a batch " +
       "table and bootstraps a brand-new query (state migration)") {
    // the full ExistingSavepoint -> WritableSavepoint flow: run job A with a
    // checkpoint, stop it, READ its keyed state batch-side, and seed job B
    // (a fresh query, fresh checkpoint) from exactly that state
    val ckpt = Files.createTempDirectory("graft_state_rt").toString
    val inA = MemoryStream[Event]
    inA.addData(Event(1, at(100), "click", 9.0), Event(2, at(40), "view", 4.0))
    val qA = StreamOps.dedupKeepLast(inA.toDF().as[Event], "10 seconds")
      .writeStream.format("memory").queryName("sp_rt_a")
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    qA.processAllAvailable(); qA.stop()

    // savepoint read: per-key latest rows, reshaped to the operator's state type
    val migrated = StateInspect.operatorState(spark, ckpt)
      .selectExpr("value.groupState.user_id", "value.groupState.ts",
        "value.groupState.event_type", "value.groupState.value",
        "value.groupState.skey")
      .as[Event]
    // job B: NEW query, NO checkpoint lineage — only the migrated state.
    // Key 1's in-stream event is OLDER than its migrated row (must lose);
    // key 2's is NEWER (must win); key 3 is cold (sanity).
    val inB = MemoryStream[Event]
    inB.addData(
      Event(1, at(50), "stale", 1.0), Event(2, at(60), "fresh", 6.0),
      Event(3, at(10), "cold", 2.0))
    val qB = StateInspect.dedupKeepLastBootstrapped(
        inB.toDF().as[Event], "10 seconds", migrated)
      .writeStream.format("memory").queryName("sp_rt_b")
      .outputMode("update").start()
    qB.processAllAvailable(); qB.stop()
    val out = spark.table("sp_rt_b").as[Event].collect()
      .map(e => (e.user_id, e.ts, e.value)).toSet
    assert(out == Set(
      (1L, at(100), 9.0), // migrated state survived job A's shutdown
      (2L, at(60), 6.0),  // newer live event superseded the migrated row
      (3L, at(10), 2.0)), out.toString)
  }

  test("bootstrapped sessionize: live events EXTEND the seeded open session") {
    import graft.streaming.SessionAcc
    // key 1 seeded mid-session: started at 0s, last event 30s, 2 events sum 3
    val initial = Seq((1L, SessionAcc(at(0).getTime, at(30).getTime, 2L, 3.0))).toDS()
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDF().as[Event], "5 seconds",
        gapMs = 60000L, initialState = Some(initial))
      .writeStream.format("memory").queryName("sp_boot_sess")
      .outputMode("append").start()
    try {
      // 70s is within the 60s gap of the seeded last (30s) → same session;
      // key 2 opens a fresh one (proves seeding is per-key, not global)
      in.addData(Event(1, at(70), "click", 4.0), Event(2, at(75), "view", 1.0))
      q.processAllAvailable()
      // watermark flush: both sessions time out and emit
      in.addData(Event(9, at(500), "flush", 0.0))
      q.processAllAvailable()
      in.addData(Event(9, at(900), "flush", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sp_boot_sess")
      .selectExpr("user_id", "session_start", "n", "sum_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
      .filter(t => t._1 == 1L || t._1 == 2L).toSet
    // WITHOUT the seed, key 1's session would start at 70s with n=1 sum=4
    assert(out == Set((1L, at(0), 3L, 7.0), (2L, at(75), 1L, 1.0)), out.toString)
  }

  test("savepoint WRITE: a batch frame becomes a real checkpoint a fresh " +
       "query restores from WITHOUT initialState plumbing") {
    import graft.streaming.{SessionAcc, SessionOut}
    val ckpt = Files.createTempDirectory("graft_sp_write").toString
    // WritableSavepoint.withOperator analog: key 1 mid-session
    // (start 0s, last 30s, 2 events, sum 3) written into a real checkpoint
    val stateFrame = Seq((1L, SessionAcc(at(0).getTime, at(30).getTime, 2L, 3.0))).toDS()
    StateInspect.writeSavepoint(spark, ckpt, outputMode = "append") { ev =>
      StreamOps.sessionize(ev, "5 seconds", gapMs = 60000L,
        initialState = Some(stateFrame))
    }
    // the written checkpoint reads back like any savepoint
    val written = StateInspect.operatorState(spark, ckpt)
      .selectExpr("key.value AS uid", "value.groupState.startMs",
        "value.groupState.lastMs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(written == Set((1L, at(0).getTime, at(30).getTime)), written.toString)
    // RESTART: same operator shape, same checkpointLocation, NO
    // initialState anywhere — the restore path is the checkpoint alone
    // (foreachBatch sink: the memory sink does not support recovery)
    // foreachBatch calls are serial on the stream thread — no sync needed
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Timestamp, Long, Double)]
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDF().as[Event], "5 seconds", gapMs = 60000L)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionOut], _: Long) =>
        got ++= batch.collect().map(s => (s.user_id, s.session_start, s.n, s.sum_value))
        ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // 70s is within the 60s gap of the WRITTEN session's last (30s):
      // it must EXTEND the restored session, not open a new one
      in.addData(Event(1, at(70), "click", 4.0), Event(2, at(75), "view", 1.0))
      q.processAllAvailable()
      in.addData(Event(9, at(500), "flush", 0.0)); q.processAllAvailable()
      in.addData(Event(9, at(900), "flush", 0.0)); q.processAllAvailable()
    } finally q.stop()
    val out = got.filter(t => t._1 == 1L || t._1 == 2L).toSet
    // WITHOUT the written savepoint, key 1's session would start at 70s
    // with n=1 sum=4
    assert(out == Set((1L, at(0), 3L, 7.0), (2L, at(75), 1L, 1.0)), out.toString)
  }

  test("bootstrapped cepPattern: a seeded partial match completes from live events") {
    import graft.streaming.{CepPatternAcc, Partial}
    // key 1 restored with signup@10s already bound (one open partial,
    // one-of-three steps); key 2 starts cold
    val initial = Seq((1L, CepPatternAcc(List(Partial(List(at(10).getTime)))))).toDS()
    val steps: Seq[Event => Boolean] = Seq(
      _.event_type == "signup", _.event_type == "click", _.event_type == "purchase")
    val in = MemoryStream[Event]
    val q = StreamOps.cepPattern(in.toDF().as[Event], "5 seconds", steps,
        withinMs = 3600000L, initialState = Some(initial))
      .writeStream.format("memory").queryName("sp_boot_cep")
      .outputMode("append").start()
    try {
      // click + purchase complete the SEEDED partial — no signup ever
      // arrives on the stream for key 1. Key 2 sends the same two events
      // and must NOT match (no seeded signup).
      in.addData(
        Event(1, at(20), "click", 1.0), Event(1, at(30), "purchase", 2.0),
        Event(2, at(20), "click", 1.0), Event(2, at(30), "purchase", 2.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sp_boot_cep")
      .selectExpr("user_id", "step_ts").collect()
      .map(r => (r.getLong(0), r.getSeq[Timestamp](1).toList)).toSet
    assert(out == Set((1L, List(at(10), at(20), at(30)))), out.toString)
  }

  test("savepoint WRITE with a structured restart offset: the kafka-style " +
       "sentinel lands verbatim in the offset log, and malformed json is " +
       "a named error") {
    import graft.streaming.SessionAcc
    val ckpt = Files.createTempDirectory("graft_sp_kafka").toString
    val stateFrame = Seq((1L, SessionAcc(at(0).getTime, at(30).getTime, 2L, 3.0))).toDS()
    // the kafka "earliest" sentinel for a 2-partition topic: the restarted
    // kafka source deserializes this as "nothing consumed, start earliest"
    val kafkaSentinel = """{"events":{"0":-2,"1":-2}}"""
    StateInspect.writeSavepoint(spark, ckpt, outputMode = "append",
        restartSourceOffsetJson = Some(kafkaSentinel)) { ev =>
      StreamOps.sessionize(ev, "5 seconds", gapMs = 60000L,
        initialState = Some(stateFrame))
    }
    val lines = scala.io.Source.fromFile(s"$ckpt/offsets/0", "UTF-8")
      .getLines().toVector
    assert(lines.length == 3 && lines.last == kafkaSentinel, lines.toString)
    // the state itself is source-agnostic and reads back as usual
    val written = StateInspect.operatorState(spark, ckpt)
      .selectExpr("key.value AS uid").collect().map(_.getLong(0)).toSet
    assert(written == Set(1L), written.toString)
    // malformed json / non-structured sentinels are named errors at WRITE
    // time, not opaque deserialization failures on restart
    val e1 = intercept[IllegalArgumentException](
      StateInspect.writeSavepoint(spark,
          Files.createTempDirectory("graft_sp_bad").toString,
          outputMode = "append",
          restartSourceOffsetJson = Some("""{"events":{"0":-2""")) { ev =>
        StreamOps.sessionize(ev, "5 seconds", gapMs = 60000L,
          initialState = Some(stateFrame))
      })
    assert(e1.getMessage.contains("does not parse as json"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      StateInspect.writeSavepoint(spark,
          Files.createTempDirectory("graft_sp_bad2").toString,
          outputMode = "append",
          restartSourceOffsetJson = Some("-1")) { ev =>
        StreamOps.sessionize(ev, "5 seconds", gapMs = 60000L,
          initialState = Some(stateFrame))
      })
    assert(e2.getMessage.contains("not a structured json offset"), e2.getMessage)
    // trailing garbage after a valid object must fail too (readTree alone
    // parses the leading object and ignores the rest)
    val e3 = intercept[IllegalArgumentException](
      StateInspect.writeSavepoint(spark,
          Files.createTempDirectory("graft_sp_bad3").toString,
          outputMode = "append",
          restartSourceOffsetJson = Some("""{"logOffset":-1} oops""")) { ev =>
        StreamOps.sessionize(ev, "5 seconds", gapMs = 60000L,
          initialState = Some(stateFrame))
      })
    assert(e3.getMessage.contains("does not parse as json"), e3.getMessage)
  }

  test("savepoint WRITE restarted on a FILE source ({\"logOffset\":-1}): " +
       "the structured-offset restart replays every file AND restores the " +
       "written session state") {
    import graft.streaming.{SessionAcc, SessionOut}
    val ckpt = Files.createTempDirectory("graft_sp_file").toString
    val dataDir = Files.createTempDirectory("graft_sp_file_data").toString
    // the file source's own "nothing consumed" sentinel: logOffset -1 is
    // before the first file-log entry, so the restart reads from file 0
    val stateFrame = Seq((1L, SessionAcc(at(0).getTime, at(30).getTime, 2L, 3.0))).toDS()
    StateInspect.writeSavepoint(spark, ckpt, outputMode = "append",
        restartSourceOffsetJson = Some("""{"logOffset":-1}""")) { ev =>
      StreamOps.sessionize(ev, "5 seconds", gapMs = 60000L,
        initialState = Some(stateFrame))
    }
    // the restart's input: event FILES written before the restart — all
    // must be replayed from the beginning (the sentinel's contract).
    // One part file per batch with DISTINCT mtimes: the file source
    // orders discovery by modification time, and the watermark needs the
    // flush events in LATER batches (the MemoryStream tests' addData
    // sequencing, expressed as files)
    def writeOne(name: String, mtime: Long, evs: Seq[Event]): Unit = {
      val tmp = Files.createTempDirectory("graft_sp_part").toString
      evs.toDS().coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).head
      val dst = new java.io.File(dataDir, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(mtime))
    }
    val now = System.currentTimeMillis()
    writeOne("f1.json", now - 30000,
      Seq(Event(1, at(70), "click", 4.0), Event(2, at(75), "view", 1.0)))
    writeOne("f2.json", now - 20000, Seq(Event(9, at(500), "flush", 0.0)))
    writeOne("f3.json", now - 10000, Seq(Event(9, at(900), "flush", 0.0)))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Timestamp, Long, Double)]
    val src = spark.readStream
      .schema(Seq.empty[Event].toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .json(dataDir).as[Event]
    val q = StreamOps.sessionize(src, "5 seconds", gapMs = 60000L)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SessionOut], _: Long) =>
        got ++= batch.collect().map(s => (s.user_id, s.session_start, s.n, s.sum_value))
        ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val out = got.filter(t => t._1 == 1L || t._1 == 2L).toSet
    // 70s extends the WRITTEN session (start 0s, n 2+1, sum 3+4): the
    // state restored AND the pre-existing files replayed from offset -1
    assert(out == Set((1L, at(0), 3L, 7.0), (2L, at(75), 1L, 1.0)), out.toString)
  }

  test("bootstrapped cepPattern under skipPastLast: greedy selection resumes " +
       "from the seeded held matches and last kept end") {
    import graft.streaming.{CepPatternAcc, Partial}
    // key 1 restored with two completed matches still held for
    // finalization and a last kept end of 15s: (10s, 20s) starts before
    // that end and is dropped; (18s, 30s) starts after it and is kept,
    // which moves the end to 30s
    val initial = Seq((1L, CepPatternAcc(Nil,
      pending = List(Partial(List(at(20).getTime, at(10).getTime)),
        Partial(List(at(30).getTime, at(18).getTime))),
      lastEndMs = at(15).getTime))).toDS()
    val steps: Seq[Event => Boolean] = Seq(_.event_type == "view", _.event_type == "buy")
    val in = MemoryStream[Event]
    val q = StreamOps.cepPattern(in.toDF().as[Event], "5 seconds", steps,
        withinMs = 60000L, skipPastLast = true, initialState = Some(initial))
      .writeStream.format("memory").queryName("sp_boot_skip")
      .outputMode("append").start()
    try {
      // live: (25s, 35s) starts before the resumed end (30s) and is
      // dropped; (40s, 45s) starts after it and is kept
      in.addData(Event(1, at(25), "view", 0.0), Event(1, at(35), "buy", 0.0),
        Event(1, at(40), "view", 0.0), Event(1, at(45), "buy", 0.0))
      q.processAllAvailable()
      in.addData(Event(9, at(500), "flush", 0.0)); q.processAllAvailable()
      in.addData(Event(9, at(900), "flush", 0.0)); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sp_boot_skip")
      .selectExpr("user_id", "step_ts").collect()
      .map(r => (r.getLong(0), r.getSeq[Timestamp](1).toList)).toSet
    assert(out == Set((1L, List(at(18), at(30))), (1L, List(at(40), at(45)))),
      out.toString)
  }
}
