package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.MatchRecognize
import graft.streaming.Event

/** Streaming MATCH_RECOGNIZE (r19) — the SAME SQL text over an unbounded
  * frame must produce the batch compile's matches. In the reference the
  * clause IS a streaming operator (flink-table-planner-blink
  * StreamExecMatch.scala; flink-cep NFA over a DataStream) — these specs
  * drive `MatchRecognize.detect`'s streaming route (watermark read from the
  * frame's EventTimeWatermark node, lowering onto the StreamOps.cepPattern*
  * twins) through a MemoryStream split across micro-batches with shuffled
  * intra-batch delivery, and compare row-for-row against the batch compile
  * of the identical SQL over the identical events. */
class MatchRecognizeStreamSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._
  private implicit def sqlCtx = spark.sqlContext

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def at(min: Long) = new Timestamp(T0.getTime + min * 60000)
  private def ev(u: Long, min: Long, t: String, v: Double = 0.0) =
    Event(u, at(min), t, v)
  // advances the watermark far past every window; matches no predicate
  private val FLUSH = Event(999L, at(100000), "zz_flush", 0.0)

  /** Batch-vs-stream parity on the same SQL text: the stream delivers
    * `batches` in order (intra-batch order shuffled deterministically by
    * the given seed), flushes, and the collected rows must equal the batch
    * compile's rows over the same events. */
  private def parity(name: String, sql: String, batches: Seq[Seq[Event]],
                     seed: Long = 42L): Unit = {
    val all = batches.flatten :+ FLUSH
    val batch = MatchRecognize.detect(all.toDF(), sql)
    val in = MemoryStream[Event]
    val stream = MatchRecognize.detect(
      in.toDF().withWatermark("ts", "10 minutes"), sql)
    assert(stream.isStreaming)
    assert(stream.columns.toSeq == batch.columns.toSeq,
      s"$name: column mismatch ${stream.columns.toSeq} vs ${batch.columns.toSeq}")
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    val rnd = new scala.util.Random(seed)
    try {
      batches.foreach { b =>
        in.addData(rnd.shuffle(b): _*)
        q.processAllAvailable()
      }
      in.addData(FLUSH)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect().map(_.toString).sorted.toSeq
    val want = batch.collect().map(_.toString).sorted.toSeq
    assert(got == want, s"$name:\n  stream=$got\n  batch =$want")
    assert(want.nonEmpty, s"$name: the parity corpus produced no matches")
  }

  // --- m01-class: linear with times(n) ---
  test("stream parity: PATTERN (A B{2} C) across micro-batch splits") {
    parity("mrs_times",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS view_ts, FIRST(B.ts) AS first_click_ts,
        |           LAST(B.ts) AS last_click_ts, C.ts AS purchase_ts
        |  PATTERN (A B{2} C)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        // global event time is non-decreasing across the splits: a row
        // behind the advancing watermark would be dropped as late data
        // (the correct streaming semantics, not the parity under test)
        Seq(ev(1, 0, "view"), ev(1, 10, "click"), ev(2, 12, "view")),
        Seq(ev(1, 20, "click"), ev(2, 22, "click"), ev(3, 25, "view")),
        Seq(ev(1, 30, "purchase"), ev(3, 31, "click"), ev(3, 33, "click"),
          ev(3, 35, "click"), ev(3, 37, "purchase"))))
  }

  // --- linear with '?' and a {1,2} range (nullable tails emit at expiry) ---
  test("stream parity: optional and range quantifiers") {
    parity("mrs_opt",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, B.ts AS b_ts, C.ts AS c_ts
        |  PATTERN (A B? C)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "purchase")),
        Seq(ev(2, 25, "view"), ev(2, 40, "purchase"))))
    parity("mrs_range",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, FIRST(B.ts) AS b1_ts, LAST(B.ts) AS bl_ts,
        |           COUNT(B.ts) AS n_b, C.ts AS c_ts
        |  PATTERN (A B{1,2} C)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "view"), ev(1, 5, "click"), ev(1, 10, "click"),
          ev(1, 20, "purchase")),
        Seq(ev(2, 25, "view"), ev(2, 35, "click"), ev(2, 45, "purchase"))))
  }

  // --- m11-class: value measures over quantified expansion slots ---
  test("stream parity: value aggregates over '{n,m}' and '?' slots") {
    parity("mrs_range_vals",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, SUM(B.value) AS sum_b,
        |           FIRST(B.value) AS first_b, LAST(B.value) AS last_b,
        |           MIN(B.value) AS min_b, MAX(B.value) AS max_b,
        |           AVG(B.value) AS avg_b, COUNT(B.value) AS n_b,
        |           C.value AS c_v
        |  PATTERN (A B{2,3} C)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "view"), ev(1, 5, "click", 4.0), ev(1, 10, "click", 1.0),
          ev(1, 15, "click", 7.0), ev(1, 20, "purchase", 9.0)),
        Seq(ev(2, 25, "view"), ev(2, 30, "click", 2.0),
          ev(2, 35, "click", 6.0), ev(2, 45, "purchase", 3.0))))
    parity("mrs_opt_vals",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, B.value AS b_v, SUM(B.value) AS sum_b,
        |           C.ts AS c_ts
        |  PATTERN (A B? C)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "view"), ev(1, 10, "click", 5.0), ev(1, 20, "purchase")),
        Seq(ev(2, 25, "view"), ev(2, 40, "purchase"))))
  }

  // --- unquantified alternation + CLASSIFIER ---
  test("stream parity: alternation classifier and CLASSIFIER()") {
    parity("mrs_alt",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, B_C.cls AS which, D.ts AS d_ts,
        |           CLASSIFIER() AS last_var
        |  PATTERN (A (B|C) D)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'error', D AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "view"), ev(1, 10, "click"), ev(1, 20, "purchase")),
        Seq(ev(2, 25, "view"), ev(2, 30, "error"), ev(2, 40, "purchase"))))
  }

  // --- m07/m09-class: '+' run with value aggregates ---
  test("stream parity: S C+ P run with value aggregates") {
    parity("mrs_run",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS first_click_ts,
        |           LAST(C.ts) AS last_click_ts, COUNT(C.ts) AS n_clicks,
        |           SUM(C.value) AS sum_v, MIN(C.value) AS min_v,
        |           MAX(C.value) AS max_v, AVG(C.value) AS avg_v,
        |           FIRST(C.value) AS first_v, LAST(C.value) AS last_v,
        |           P.ts AS purchase_ts
        |  PATTERN (S C+ P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 10, "click", 2.0)),
        Seq(ev(1, 20, "click", 5.0), ev(2, 22, "signup")),
        Seq(ev(1, 30, "purchase"), ev(1, 40, "click", 9.0),
          ev(2, 32, "click", 1.0), ev(2, 38, "purchase"))))
  }

  // --- '*' run: the empty run emits nulls and count 0 ---
  test("stream parity: S C* P zero-or-more run") {
    parity("mrs_star",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.ts) AS first_click_ts,
        |           COUNT(C.ts) AS n_clicks, SUM(C.value) AS sum_v,
        |           P.ts AS purchase_ts
        |  PATTERN (S C* P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 10, "click", 2.0), ev(1, 20, "purchase")),
        Seq(ev(2, 25, "signup"), ev(2, 40, "purchase"))))
  }

  // --- quantified alternation run with per-branch counts ---
  test("stream parity: (B|C)+ alternation run branch counts") {
    parity("mrs_altrun",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(B.ts) AS n_clicks,
        |           COUNT(C.ts) AS n_errors, P.ts AS purchase_ts
        |  PATTERN (S (B|C)+ P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'error', P AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 5, "click"), ev(1, 10, "error")),
        Seq(ev(1, 15, "click"), ev(1, 20, "purchase"),
          ev(2, 22, "signup"), ev(2, 27, "error"), ev(2, 32, "purchase"))))
  }

  // --- the V-shape: self-referential PREV run ---
  test("stream parity: S D+ U with DEFINE D AS value < PREV(value)") {
    parity("mrs_vshape",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS start_ts, FIRST(D.ts) AS drop_first_ts,
        |           LAST(D.ts) AS drop_last_ts, COUNT(D.ts) AS n_drops,
        |           FIRST(D.value) AS first_v, LAST(D.value) AS last_v,
        |           U.ts AS up_ts
        |  PATTERN (S D+ U)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'start',
        |         D AS event_type = 'drop' AND D.value < PREV(D.value),
        |         U AS event_type = 'up'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "start"), ev(1, 5, "drop", 10.0), ev(1, 10, "drop", 8.0)),
        Seq(ev(1, 15, "drop", 6.0), ev(1, 20, "up", 0.0),
          ev(2, 22, "start"), ev(2, 27, "drop", 10.0)),
        Seq(ev(2, 32, "drop", 12.0), ev(2, 37, "up", 0.0))))
  }

  // --- sequence group with one member's value aggregates ---
  test("stream parity: S (B C)+ U group with member values") {
    parity("mrs_grp",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(C.ts) AS grp_last_ts, COUNT(C.ts) AS n_reps,
        |           SUM(C.value) AS sum_c, MIN(C.value) AS min_c,
        |           MAX(C.value) AS max_c, FIRST(C.value) AS first_c,
        |           LAST(C.value) AS last_c, U.ts AS end_ts
        |  PATTERN (S (B C)+ U)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', U AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 5, "click"), ev(1, 10, "view", 3.0)),
        Seq(ev(1, 15, "click"), ev(1, 20, "view", 7.0), ev(1, 25, "purchase")),
        Seq(ev(2, 27, "signup"), ev(2, 32, "click"), ev(2, 37, "view", 4.0),
          ev(2, 47, "purchase"))))
  }

  // --- m33-class nested group ---
  test("stream parity: S ((B C)+ V)+ nested group") {
    parity("mrs_nest",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(V.ts) AS grp_last_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '4' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 5, "click"), ev(1, 10, "view"),
          ev(1, 15, "click"), ev(1, 20, "view")),
        Seq(ev(1, 25, "error"), ev(1, 30, "click"), ev(1, 35, "view"),
          ev(1, 40, "error")),
        Seq(ev(2, 42, "signup"), ev(2, 47, "click"), ev(2, 52, "view"),
          ev(2, 57, "error"))))
  }

  // --- depth-2 nested group with designated-member value aggregates ---
  test("stream parity: S (((B C)+ M)+ T)+ depth-2 nested group with values") {
    parity("mrs_nest2",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(T.ts) AS grp_last_ts, COUNT(T.ts) AS n_reps,
        |           COUNT(M.ts) AS n_mids, COUNT(B.ts) AS n_inner,
        |           SUM(B.value) AS sum_b, MIN(B.value) AS min_b,
        |           MAX(B.value) AS max_b, FIRST(B.value) AS first_b,
        |           LAST(B.value) AS last_b
        |  PATTERN (S (((B C)+ M)+ T)+)
        |  WITHIN INTERVAL '4' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', M AS event_type = 'cart',
        |         T AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 2, "click", 1.0), ev(1, 4, "view"),
          ev(1, 6, "click", 2.0), ev(1, 8, "view"), ev(1, 10, "cart")),
        Seq(ev(1, 12, "click", 3.0), ev(1, 14, "view"), ev(1, 16, "cart"),
          ev(1, 18, "purchase"))))
  }

  // --- m53-class: multi-member values (inner + closer) via the N twin ---
  test("stream parity: depth-2 nested group with multi-member values " +
       "(inner and closer members)") {
    parity("mrs_nest2_mv",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(T.ts) AS n_reps,
        |           COUNT(M.ts) AS n_mids, COUNT(B.ts) AS n_inner,
        |           SUM(B.value) AS sum_b, AVG(B.value) AS avg_b,
        |           SUM(C.value) AS sum_c, MIN(C.value) AS min_c,
        |           SUM(M.value) AS sum_m, LAST(M.value) AS last_m
        |  PATTERN (S (((B C)+ M)+ T)+)
        |  WITHIN INTERVAL '4' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', M AS event_type = 'cart',
        |         T AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 2, "click", 1.0), ev(1, 4, "view", 10.0),
          ev(1, 6, "click", 2.0), ev(1, 8, "view", 20.0), ev(1, 10, "cart", 5.0)),
        Seq(ev(1, 12, "click", 3.0), ev(1, 14, "view", 30.0),
          ev(1, 16, "cart", 7.0), ev(1, 18, "purchase")),
        Seq(ev(2, 20, "signup"), ev(2, 22, "click", 4.0), ev(2, 24, "view", 40.0),
          ev(2, 26, "cart", 9.0), ev(2, 30, "purchase"))))
  }

  // --- depth-1 nested group with final value measures (the N twin) ---
  test("stream parity: S ((B C)+ V)+ depth-1 nested group with final " +
       "value measures") {
    parity("mrs_nest1_vals",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_inner, SUM(B.value) AS sum_b,
        |           LAST(V.value) AS last_v
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '4' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 2, "click", 1.0), ev(1, 4, "view"),
          ev(1, 6, "click", 2.0), ev(1, 8, "view"), ev(1, 10, "error", 5.0)),
        Seq(ev(1, 12, "click", 3.0), ev(1, 14, "view"),
          ev(1, 16, "error", 7.0)),
        Seq(ev(2, 20, "signup"), ev(2, 22, "click", 4.0), ev(2, 24, "view"),
          ev(2, 26, "error", 9.0))))
  }

  // --- ALL ROWS PER MATCH: linear static explode with running measures ---
  test("stream parity: ALL ROWS over a plain linear pattern with running " +
       "value measures and CLASSIFIER()") {
    parity("mrs_allrows_lin",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, B.value AS b_v, CLASSIFIER() AS who,
        |           COUNT(C.ts) AS has_c
        |  ALL ROWS PER MATCH
        |  PATTERN (A B C)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "view"), ev(1, 10, "click", 2.0), ev(1, 20, "purchase")),
        Seq(ev(2, 25, "view"), ev(2, 35, "click", 4.0), ev(2, 45, "purchase"))))
  }

  // --- ALL ROWS over nested groups: the twins' materialized rows ---
  test("stream parity: ALL ROWS over nested groups (depth 1 and depth 2)") {
    parity("mrs_allrows_nest",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(C.ts) AS n_subs, CLASSIFIER() AS who
        |  ALL ROWS PER MATCH
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '4' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 5, "click"), ev(1, 10, "view"),
          ev(1, 15, "click"), ev(1, 20, "view")),
        Seq(ev(1, 25, "error"), ev(1, 30, "click"), ev(1, 35, "view"),
          ev(1, 40, "error")),
        Seq(ev(2, 42, "signup"), ev(2, 47, "click"), ev(2, 52, "view"),
          ev(2, 57, "error"))))
    parity("mrs_allrows_nest2",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(T.ts) AS n_reps,
        |           COUNT(M.ts) AS n_mids, COUNT(C.ts) AS n_subs
        |  ALL ROWS PER MATCH
        |  PATTERN (S (((B C)+ M)+ T)+)
        |  WITHIN INTERVAL '4' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', M AS event_type = 'cart',
        |         T AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 2, "click"), ev(1, 4, "view"),
          ev(1, 6, "click"), ev(1, 8, "view"), ev(1, 10, "cart")),
        Seq(ev(1, 12, "click"), ev(1, 14, "view"), ev(1, 16, "cart"),
          ev(1, 18, "purchase"), ev(1, 20, "click"), ev(1, 22, "view"))))
  }

  // --- m57-class: depth-5 nested group through the SQL door (r20 — the
  // recursive PATTERN parse; the streaming depth-N twin takes any depth) ---
  test("stream parity: depth-5 nested group S ((((((B C)+ V)+ W)+ X)+ Y)+ Z)+") {
    parity("mrs_depth5",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(Z.ts) AS grp_last_ts, COUNT(Z.ts) AS n_outer,
        |           COUNT(Y.ts) AS n_mid4, COUNT(X.ts) AS n_mid3,
        |           COUNT(W.ts) AS n_mid2, COUNT(V.ts) AS n_mid,
        |           COUNT(B.ts) AS n_inner
        |  PATTERN (S ((((((B C)+ V)+ W)+ X)+ Y)+ Z)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'w', X AS event_type = 'x',
        |         Y AS event_type = 'y', Z AS event_type = 'z'
        |)""".stripMargin,
      Seq(
        // user 1: multiplicity at levels 1 (three V-reps) and 2 (two
        // W-reps) — n_outer=1 n_mid4=1 n_mid3=1 n_mid2=2 n_mid=3 n_inner=4
        Seq(ev(1, 0, "signup"), ev(1, 2, "click"), ev(1, 4, "view"),
          ev(1, 6, "click"), ev(1, 8, "view"), ev(1, 10, "error")),
        Seq(ev(1, 12, "click"), ev(1, 14, "view"), ev(1, 16, "error"),
          ev(1, 18, "w"), ev(1, 20, "click"), ev(1, 22, "view"),
          ev(1, 24, "error"), ev(1, 26, "w"), ev(1, 28, "x"),
          ev(1, 30, "y"), ev(1, 32, "z")),
        // user 2: the minimal one-of-each walk
        Seq(ev(2, 40, "signup"), ev(2, 42, "click"), ev(2, 44, "view"),
          ev(2, 46, "error"), ev(2, 48, "w"), ev(2, 50, "x"),
          ev(2, 52, "y"), ev(2, 54, "z"))))
  }

  // --- m56-class: per-row VALUE snapshots under ALL ROWS over nested
  // groups (r20, the last twin-convention gap — reference StreamExecMatch
  // emits running aggregates per row for every measure kind). The batch
  // commit-at-absorb discipline makes the snapshot at row r exactly the
  // aggregate over committed value-carrying rows at-or-before r, so the
  // stream computes it from the twin's committed row list at emit. ---
  test("stream parity: ALL ROWS value snapshots at depth 2 (the m56 text)") {
    parity("mrs_m56",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.value) AS first_c,
        |           LAST(C.value) AS last_c, MAX(C.value) AS max_c,
        |           COUNT(W.ts) AS n_reps
        |  ALL ROWS PER MATCH
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        // user 1: two inner subs then V, a second level-1 rep, W; a second
        // outer rep — running FIRST freezes at 5.0, LAST/MAX advance
        Seq(ev(1, 0, "signup", 1.0), ev(1, 2, "click"), ev(1, 4, "view", 5.0),
          ev(1, 6, "click"), ev(1, 8, "view", 3.0), ev(1, 10, "error")),
        Seq(ev(1, 12, "click"), ev(1, 14, "view", 9.0), ev(1, 16, "error"),
          ev(1, 18, "purchase"), ev(1, 20, "click"), ev(1, 22, "view", 2.0),
          ev(1, 24, "error"), ev(1, 26, "purchase")),
        Seq(ev(2, 30, "signup"), ev(2, 32, "click"), ev(2, 34, "view", 7.0),
          ev(2, 36, "error"), ev(2, 38, "purchase"))))
  }

  test("stream parity: ALL ROWS value snapshots at depth 1 (SUM/AVG/MIN)") {
    parity("mrs_allrows_vals1",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, SUM(C.value) AS sum_c,
        |           AVG(C.value) AS avg_c, MIN(C.value) AS min_c,
        |           COUNT(C.value) AS cnt_c, COUNT(V.ts) AS n_reps
        |  ALL ROWS PER MATCH
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 2, "click"), ev(1, 4, "view", 4.0),
          ev(1, 6, "click"), ev(1, 8, "view", -2.0)),
        Seq(ev(1, 10, "error"), ev(1, 12, "click"), ev(1, 14, "view", 6.0),
          ev(1, 16, "error")),
        Seq(ev(2, 20, "signup"), ev(2, 22, "click"), ev(2, 24, "view", 1.5),
          ev(2, 26, "error"))))
  }

  test("stream parity: ALL ROWS value snapshots at depth 5 (the N twin)") {
    parity("mrs_allrows_vals5",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, SUM(C.value) AS sum_c,
        |           LAST(C.value) AS last_c, COUNT(Z.ts) AS n_outer
        |  ALL ROWS PER MATCH
        |  PATTERN (S ((((((B C)+ V)+ W)+ X)+ Y)+ Z)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'w', X AS event_type = 'x',
        |         Y AS event_type = 'y', Z AS event_type = 'z'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup"), ev(1, 2, "click"), ev(1, 4, "view", 3.0),
          ev(1, 6, "click"), ev(1, 8, "view", 8.0), ev(1, 10, "error")),
        Seq(ev(1, 12, "click"), ev(1, 14, "view", 1.0), ev(1, 16, "error"),
          ev(1, 18, "w"), ev(1, 20, "click"), ev(1, 22, "view", 5.0),
          ev(1, 24, "error"), ev(1, 26, "w"), ev(1, 28, "x"),
          ev(1, 30, "y"), ev(1, 32, "z"))))
  }

  // --- m06-class: iterative (relative) DEFINEs on the linear shape ---
  test("stream parity: relative DEFINE thresholds over earlier bindings " +
       "(the m06 shape: P.value > 2 * S.value)") {
    parity("mrs_iter",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, S.value AS signup_value,
        |           P.ts AS purchase_ts, P.value AS purchase_value
        |  PATTERN (S P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS S.event_type = 'signup',
        |         P AS P.event_type = 'purchase' AND P.value > 2 * S.value
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup", 5.0), ev(1, 10, "purchase", 11.0)),
        Seq(ev(2, 15, "signup", 5.0), ev(2, 25, "purchase", 9.0)),
        Seq(ev(2, 35, "purchase", 12.0), ev(3, 40, "signup", 50.0),
          ev(3, 50, "purchase", 60.0))))
    // unary minus INSIDE a product (the review-batch finding: a 0-minus
    // rewrite at additive precedence would evaluate S.value * -2 as
    // (S.value*0)-2) — and a negated reference
    parity("mrs_iter_neg",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.value AS s_v, P.value AS p_v
        |  PATTERN (S P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         P AS event_type = 'purchase' AND P.value > S.value * -2
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup", -3.0), ev(1, 10, "purchase", 5.0)),
        Seq(ev(1, 20, "purchase", 7.0), ev(2, 25, "signup", 4.0),
          ev(2, 35, "purchase", -7.0))))
    parity("mrs_iter_negref",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.value AS s_v, P.value AS p_v
        |  PATTERN (S P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         P AS event_type = 'purchase' AND P.value < -S.value - 1
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup", 4.0), ev(1, 10, "purchase", -6.0)),
        Seq(ev(2, 15, "signup", -4.0), ev(2, 25, "purchase", 2.5))))
    // multi-reference arithmetic with parens across THREE bindings
    parity("mrs_iter3",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS s_ts, M.value AS m_v, P.value AS p_v
        |  PATTERN (S M P)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         M AS event_type = 'click' AND M.value > S.value + 1,
        |         P AS event_type = 'purchase'
        |              AND P.value >= 2 * (S.value + M.value) - 1
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup", 3.0), ev(1, 5, "click", 3.5),
          ev(1, 10, "click", 5.0)),
        Seq(ev(1, 20, "purchase", 14.0), ev(1, 30, "purchase", 15.0))))
  }

  // --- m40/m49-class: iterative (relative) DEFINEs on nested groups and
  // runs (r20 — anchor-relative thresholds ride the twins' per-partial
  // threshold; reference flink-cep IterativeCondition.java composes with
  // every quantifier) ---
  test("stream parity: relative DEFINE on a nested group's INNER member " +
       "(the m49 shape)") {
    parity("mrs_nest_iter_inner",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(B.ts) AS grp_first_ts,
        |           LAST(V.ts) AS grp_last_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_subs
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view' AND C.value > S.value,
        |         V AS event_type = 'error'
        |)""".stripMargin,
      Seq(
        // user 1 (S.value 5): the view@4 (value 3) FAILS the residual —
        // the sub completes at view@8 (value 9); user 2 (S.value 1):
        // every view passes
        Seq(ev(1, 0, "signup", 5.0), ev(1, 2, "click"), ev(1, 4, "view", 3.0),
          ev(1, 8, "view", 9.0), ev(1, 10, "error")),
        Seq(ev(2, 20, "signup", 1.0), ev(2, 22, "click"), ev(2, 24, "view", 2.0),
          ev(2, 26, "error"), ev(2, 28, "click"), ev(2, 30, "view", 8.0),
          ev(2, 32, "error"))))
  }

  test("stream parity: relative DEFINE on a nested group's TAIL " +
       "(the m40 shape)") {
    parity("mrs_nest_iter_tail",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(V.ts) AS n_reps,
        |           COUNT(B.ts) AS n_subs, LAST(V.ts) AS grp_last_ts
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view',
        |         V AS event_type = 'error' AND V.value > 2 * S.value
        |)""".stripMargin,
      Seq(
        // user 1 (S.value 3, threshold 6): error@10 (value 5) fails — the
        // repetition closes at error@16 (value 8) after absorbing BOTH subs
        Seq(ev(1, 0, "signup", 3.0), ev(1, 2, "click"), ev(1, 4, "view"),
          ev(1, 6, "click"), ev(1, 8, "view"), ev(1, 10, "error", 5.0)),
        Seq(ev(1, 12, "click"), ev(1, 14, "view"), ev(1, 16, "error", 8.0),
          ev(2, 20, "signup", 1.0), ev(2, 22, "click"), ev(2, 24, "view"),
          ev(2, 26, "error", 4.0))))
  }

  test("stream parity: relative DEFINE at depth 2 (the m44 shape, " +
       "the N twin's per-partial threshold)") {
    parity("mrs_nest_iter_d2",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(W.ts) AS n_reps,
        |           COUNT(V.ts) AS n_mids, COUNT(B.ts) AS n_subs
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase' AND W.value >= S.value + 1
        |)""".stripMargin,
      Seq(
        // user 1 (S.value 4, threshold 5): purchase@12 (value 3) fails the
        // residual — the outer repetition closes at purchase@20 (value 7)
        // after absorbing a SECOND level-1 repetition
        Seq(ev(1, 0, "signup", 4.0), ev(1, 2, "click"), ev(1, 4, "view"),
          ev(1, 6, "error"), ev(1, 12, "purchase", 3.0)),
        Seq(ev(1, 14, "click"), ev(1, 16, "view"), ev(1, 18, "error"),
          ev(1, 20, "purchase", 7.0),
          ev(2, 30, "signup", 0.0), ev(2, 32, "click"), ev(2, 34, "view"),
          ev(2, 36, "error"), ev(2, 38, "purchase", 2.0))))
  }

  test("stream parity: relative DEFINEs on the S R+ U run shape") {
    // residual on the RUN member: only clicks above the anchor's value join
    parity("mrs_run_iter",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS s_ts, COUNT(R.ts) AS n_r, SUM(R.value) AS sum_r,
        |           U.ts AS u_ts
        |  PATTERN (S R+ U)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         R AS event_type = 'click' AND R.value > S.value,
        |         U AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "signup", 5.0), ev(1, 2, "click", 3.0),
          ev(1, 4, "click", 8.0), ev(1, 6, "click", 6.0)),
        Seq(ev(1, 10, "purchase"), ev(2, 20, "signup", 0.0),
          ev(2, 22, "click", 1.0), ev(2, 24, "purchase"))))
    // residual on the CLOSE: the purchase must beat twice the anchor
    parity("mrs_run_iter_close",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS s_ts, COUNT(R.ts) AS n_r, U.ts AS u_ts
        |  PATTERN (S R+ U)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', R AS event_type = 'click',
        |         U AS event_type = 'purchase' AND U.value > 2 * S.value
        |)""".stripMargin,
      Seq(
        // user 1 (S.value 3, threshold 6): purchase@6 (value 5) fails —
        // the run keeps extending and closes at purchase@12 (value 9)
        Seq(ev(1, 0, "signup", 3.0), ev(1, 2, "click"), ev(1, 6, "purchase", 5.0)),
        Seq(ev(1, 8, "click"), ev(1, 12, "purchase", 9.0),
          ev(2, 20, "signup", 1.0), ev(2, 22, "click"),
          ev(2, 24, "purchase", 4.0))))
  }

  // --- SKIP PAST LAST ROW on the plain linear shape ---
  test("stream parity: AFTER MATCH SKIP PAST LAST ROW") {
    parity("mrs_skip",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, B.ts AS b_ts
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(ev(1, 0, "view"), ev(1, 5, "view"), ev(1, 10, "purchase")),
        Seq(ev(1, 15, "view"), ev(1, 20, "purchase"))))
  }

  // --- microseconds: the linear walk compares and emits event time in
  // µs, as the batch compile does ---
  test("stream parity: sub-millisecond timestamps, with a pair exactly on " +
       "the WITHIN bound") {
    def us(min: Long, micros: Int) = { val t = at(min); t.setNanos(micros * 1000); t }
    parity("mrs_micros",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS a_ts, B.ts AS b_ts
        |  PATTERN (A B)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        // user 1: B exactly one hour after A (in the window); user 2: B
        // 300 µs past the hour (outside it, though the two times cut to ms
        // are one hour apart); user 3: A and B inside one millisecond, B
        // later
        Seq(Event(1, us(0, 400), "view", 0.0), Event(2, us(0, 600), "view", 0.0),
          Event(3, us(5, 200), "view", 0.0), Event(3, us(5, 700), "purchase", 0.0)),
        Seq(Event(1, us(60, 400), "purchase", 0.0),
          Event(2, us(60, 900), "purchase", 0.0))))
  }

  // --- NULL member values through the twins (r20, lifting the former
  // null-reads-as-0.0 boundary): SQL NULL rides the NaN channel inside
  // the state machines — positional FIRST/LAST freeze on null bindings,
  // null-ignoring SUM/MIN/MAX, non-null COUNT, 3VL residuals ---
  private def parityN(name: String, sql: String,
                      batches: Seq[Seq[(Long, Timestamp, String, Option[Double])]]): Unit = {
    val flush = (999L, at(100000), "zz_flush", Option(0.0))
    val all = batches.flatten :+ flush
    val batch = MatchRecognize.detect(
      all.toDF("user_id", "ts", "event_type", "value"), sql)
    val in = MemoryStream[(Long, Timestamp, String, Option[Double])]
    val stream = MatchRecognize.detect(
      in.toDF().toDF("user_id", "ts", "event_type", "value")
        .withWatermark("ts", "10 minutes"), sql)
    assert(stream.isStreaming)
    assert(stream.columns.toSeq == batch.columns.toSeq,
      s"$name: column mismatch ${stream.columns.toSeq} vs ${batch.columns.toSeq}")
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      in.addData(flush); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect().map(_.toString).sorted.toSeq
    val want = batch.collect().map(_.toString).sorted.toSeq
    assert(got == want, s"$name:\n  stream=$got\n  batch =$want")
    assert(want.nonEmpty, s"$name: the parity corpus produced no matches")
  }

  test("stream parity: NULL values freeze FIRST/LAST in ALL-ROWS snapshots " +
       "(the m56 null-freeze corpus)") {
    parityN("mrs_null_freeze",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, FIRST(C.value) AS first_c,
        |           LAST(C.value) AS last_c, MAX(C.value) AS max_c,
        |           COUNT(C.value) AS cnt_c, COUNT(W.ts) AS n_reps
        |  ALL ROWS PER MATCH
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        // C binds NULL first (FIRST freezes null), then 7.0, then NULL
        // again (LAST goes back to null); MAX ignores nulls, COUNT counts
        // the one non-null binding... then 2 after the second sub
        Seq((1L, at(0), "signup", Some(1.0)), (1L, at(2), "click", Some(0.0)),
          (1L, at(4), "view", None), (1L, at(6), "click", Some(0.0)),
          (1L, at(8), "view", Some(7.0)), (1L, at(10), "error", Some(0.0))),
        Seq((1L, at(12), "click", Some(0.0)), (1L, at(14), "view", None),
          (1L, at(16), "error", Some(0.0)), (1L, at(18), "purchase", Some(0.0)))))
  }

  test("stream parity: NULL values in nested final member aggregates " +
       "(depth 2, the N twin's bindValues)") {
    parityN("mrs_null_nested",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, SUM(C.value) AS sum_c,
        |           MIN(C.value) AS min_c, COUNT(C.value) AS cnt_c,
        |           FIRST(C.value) AS first_c, LAST(C.value) AS last_c,
        |           COUNT(W.ts) AS n_reps
        |  PATTERN (S (((B C)+ V)+ W)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view', V AS event_type = 'error',
        |         W AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq((1L, at(0), "signup", Some(0.0)), (1L, at(2), "click", Some(0.0)),
          (1L, at(4), "view", None), (1L, at(6), "click", Some(0.0)),
          (1L, at(8), "view", Some(3.0)), (1L, at(10), "error", Some(0.0)),
          (1L, at(12), "purchase", Some(0.0))),
        Seq((2L, at(20), "signup", Some(0.0)), (2L, at(22), "click", Some(0.0)),
          (2L, at(24), "view", None), (2L, at(26), "error", Some(0.0)),
          (2L, at(28), "purchase", Some(0.0)))))
  }

  test("stream parity: NULL values on the linear and run shapes") {
    parityN("mrs_null_linear",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.value AS a_v, B.value AS b_v, C.value AS c_v
        |  PATTERN (A B C)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq((1L, at(0), "view", Some(2.0)), (1L, at(5), "click", None)),
        Seq((1L, at(10), "purchase", Some(4.0)))))
    parityN("mrs_null_run",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS s_ts, SUM(R.value) AS sum_r, MIN(R.value) AS min_r,
        |           AVG(R.value) AS avg_r, COUNT(R.value) AS cnt_r,
        |           FIRST(R.value) AS first_r, LAST(R.value) AS last_r,
        |           COUNT(R.ts) AS n_r
        |  PATTERN (S R+ U)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', R AS event_type = 'click',
        |         U AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        // first and last run members bind NULL — FIRST/LAST null, the
        // aggregates see only the middle 6.0/2.0
        Seq((1L, at(0), "signup", Some(0.0)), (1L, at(2), "click", None),
          (1L, at(4), "click", Some(6.0)), (1L, at(6), "click", Some(2.0)),
          (1L, at(8), "click", None)),
        Seq((1L, at(12), "purchase", Some(0.0)),
          (2L, at(20), "signup", Some(0.0)), (2L, at(22), "click", Some(5.0)),
          (2L, at(24), "purchase", Some(0.0)))))
  }

  test("stream parity: NULL anchor value gives 3VL-false residuals " +
       "(linear and nested)") {
    parityN("mrs_null_resid",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS s_ts, P.value AS p_v
        |  PATTERN (S P)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup',
        |         P AS event_type = 'purchase' AND P.value > 2 * S.value
        |)""".stripMargin,
      Seq(
        // user 1's anchor value is NULL: the threshold never passes (3VL)
        // — only user 2 matches
        Seq((1L, at(0), "signup", None), (1L, at(5), "purchase", Some(9.0)),
          (2L, at(10), "signup", Some(1.0))),
        Seq((2L, at(15), "purchase", Some(9.0)))))
    parityN("mrs_null_resid_nested",
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS signup_ts, COUNT(V.ts) AS n_reps
        |  PATTERN (S ((B C)+ V)+)
        |  WITHIN INTERVAL '2' HOUR
        |  DEFINE S AS event_type = 'signup', B AS event_type = 'click',
        |         C AS event_type = 'view' AND C.value > S.value,
        |         V AS event_type = 'error'
        |)""".stripMargin,
      Seq(
        Seq((1L, at(0), "signup", None), (1L, at(2), "click", Some(0.0)),
          (1L, at(4), "view", Some(9.0)), (1L, at(6), "error", Some(0.0)),
          (2L, at(10), "signup", Some(1.0)), (2L, at(12), "click", Some(0.0))),
        Seq((2L, at(14), "view", Some(9.0)), (2L, at(16), "error", Some(0.0)))))
  }

  // --- composite / non-integral PARTITION BY (r20, lifting the one-long-
  // key boundary): the twins group on (user_id, skey) where skey is the
  // length-prefixed collision-free rendering of the key parts (the batch
  // Pattern.keyString format), re-expanded under the user's names and
  // types on output ---
  private def compositeParity(name: String, sql: String,
                              batches: Seq[Seq[(String, Long, Timestamp, String)]]): Unit = {
    val flush = ("zz", 999L, at(100000), "zz_flush")
    val all = batches.flatten :+ flush
    val batch = MatchRecognize.detect(
      all.toDF("region", "user_id", "ts", "event_type"), sql)
    val in = MemoryStream[(String, Long, Timestamp, String)]
    val stream = MatchRecognize.detect(
      in.toDF().toDF("region", "user_id", "ts", "event_type")
        .withWatermark("ts", "10 minutes"), sql)
    assert(stream.isStreaming)
    assert(stream.columns.toSeq == batch.columns.toSeq,
      s"$name: column mismatch ${stream.columns.toSeq} vs ${batch.columns.toSeq}")
    assert(stream.schema.map(_.dataType) == batch.schema.map(_.dataType),
      s"$name: type mismatch ${stream.schema} vs ${batch.schema}")
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      in.addData(flush); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).collect().map(_.toString).sorted.toSeq
    val want = batch.collect().map(_.toString).sorted.toSeq
    assert(got == want, s"$name:\n  stream=$got\n  batch =$want")
    assert(want.nonEmpty, s"$name: the parity corpus produced no matches")
  }

  test("stream parity: composite PARTITION BY (region, user_id)") {
    compositeParity("mrs_composite_key",
      """MATCH_RECOGNIZE (
        |  PARTITION BY region, user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS s_ts, P.ts AS p_ts
        |  PATTERN (S P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', P AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        // same user_id in two regions: the cross-region pair must NOT match
        Seq(("eu", 1L, at(0), "signup"), ("us", 2L, at(0), "signup"),
          ("us", 1L, at(5), "signup")),
        Seq(("us", 2L, at(8), "purchase"), ("eu", 1L, at(10), "purchase"))))
  }

  test("stream parity: colliding composite-key renderings stay distinct") {
    // ("a,b", 1) and ("a", 1) with delimiter-bearing strings: the
    // length-prefixed skey keeps them distinct partitions
    compositeParity("mrs_composite_collide",
      """MATCH_RECOGNIZE (
        |  PARTITION BY region, user_id
        |  ORDER BY ts
        |  MEASURES S.ts AS s_ts, P.ts AS p_ts
        |  PATTERN (S P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', P AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(("V1:a", 1L, at(0), "signup"), ("a", 1L, at(5), "signup")),
        Seq(("V1:a", 1L, at(10), "purchase"), ("a", 1L, at(12), "purchase"))))
  }

  test("stream parity: single NON-integral PARTITION BY column") {
    compositeParity("mrs_string_key",
      """MATCH_RECOGNIZE (
        |  PARTITION BY region
        |  ORDER BY ts
        |  MEASURES S.ts AS s_ts, P.ts AS p_ts
        |  PATTERN (S P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', P AS event_type = 'purchase'
        |)""".stripMargin,
      Seq(
        Seq(("eu", 1L, at(0), "signup"), ("us", 1L, at(2), "signup")),
        Seq(("eu", 1L, at(10), "purchase"))))
  }

  // --- FlinkDdl WATERMARK view → MATCH_RECOGNIZE, the full SQL-script shape ---
  test("FlinkDdl WATERMARK table feeds streaming MATCH_RECOGNIZE end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("mrs_ddl").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "events.json"))
    w.println("""{"user_id":1,"event_type":"view","value":1.0,"ts":"2024-01-01T00:00:00.000Z"}""")
    w.println("""{"user_id":1,"event_type":"click","value":2.0,"ts":"2024-01-01T00:10:00.000Z"}""")
    w.println("""{"user_id":1,"event_type":"click","value":3.0,"ts":"2024-01-01T00:20:00.000Z"}""")
    w.println("""{"user_id":1,"event_type":"purchase","value":4.0,"ts":"2024-01-01T00:30:00.000Z"}""")
    w.println("""{"user_id":9,"event_type":"zz","value":0.0,"ts":"2024-01-02T00:00:00.000Z"}""")
    w.close()
    graft.plans.FlinkDdl.execute(spark,
      s"""CREATE TABLE mrs_ddl_events (
         |  user_id BIGINT,
         |  event_type STRING,
         |  value DOUBLE,
         |  ts TIMESTAMP(3),
         |  WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
         |) WITH (
         |  'connector' = 'filesystem',
         |  'path' = '${dir.getAbsolutePath}',
         |  'format' = 'json'
         |)""".stripMargin)
    val src = spark.table("mrs_ddl_events")
    assert(src.isStreaming)
    // detect() routes streaming frames and reads the DDL watermark itself
    val out = MatchRecognize.detect(src,
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.ts AS view_ts, FIRST(B.ts) AS first_click_ts,
        |           LAST(B.ts) AS last_click_ts, C.ts AS purchase_ts
        |  PATTERN (A B{2} C)
        |  WITHIN INTERVAL '24' HOUR
        |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
        |         C AS event_type = 'purchase'
        |)""".stripMargin)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("mrs_ddl")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("mrs_ddl").collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Long]("user_id") == 1L)
    assert(rows(0).getAs[Timestamp]("purchase_ts") == at(30))
  }

  // --- named boundaries ---
  test("streaming named rejections: ALL ROWS, MATCH_NUMBER, iterative, keys") {
    val in = MemoryStream[Event]
    val src = in.toDF().withWatermark("ts", "1 second")
    def sqlFor(extra: String, pattern: String = "(A B)",
               measures: String = "A.ts AS a_ts, B.ts AS b_ts",
               define: String =
                 "A AS event_type = 'view', B AS event_type = 'click'") =
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES $measures
         |  $extra
         |  PATTERN $pattern
         |  WITHIN INTERVAL '1' HOUR
         |  DEFINE $define
         |)""".stripMargin
    // ALL ROWS composes with linear + nested shapes since r19; runs keep
    // the named rejection
    val allRows = intercept[Exception](MatchRecognize.detect(src, sqlFor(
      "ALL ROWS PER MATCH", pattern = "(A C+ B)",
      measures = "A.ts AS a_ts, COUNT(C.ts) AS n_c",
      define = "A AS event_type = 'view', C AS event_type = 'click', " +
        "B AS event_type = 'purchase'")))
    assert(allRows.getMessage.contains("not with '+'/'*' runs"),
      allRows.getMessage)
    val mn = intercept[Exception](MatchRecognize.detect(src,
      sqlFor("", measures = "MATCH_NUMBER() AS mn, A.ts AS a_ts, B.ts AS b_ts")))
    assert(mn.getMessage.contains("MATCH_NUMBER() is batch-only"))
    // iterative DEFINEs compose with the plain linear shape (r19), with
    // runs and with final nested groups (r20, anchor-relative); SEQUENCE
    // groups still refuse by name
    val iter = intercept[Exception](MatchRecognize.detect(src, sqlFor("",
      pattern = "(A (C D)+ B)",
      measures = "A.ts AS a_ts, COUNT(C.ts) AS n_c",
      define = "A AS event_type = 'view', C AS event_type = 'click', " +
        "D AS event_type = 'cart' AND D.value > 2 * A.value, " +
        "B AS event_type = 'purchase'")))
    assert(iter.getMessage.contains("batch-only through the SQL front door"),
      iter.getMessage)
    val noWm = intercept[Exception](
      MatchRecognize.detect(in.toDF(), sqlFor("")))
    assert(noWm.getMessage.contains("needs an event-time watermark"))
    // a watermark on a DIFFERENT column is not a delay for this query
    // (review batch: headOption used to adopt it silently)
    val wrongCol = intercept[Exception](MatchRecognize.detect(
      in.toDF().withColumn("ts2", org.apache.spark.sql.functions.col("ts")).withWatermark("ts2", "1 second"),
      sqlFor("")))
    assert(wrongCol.getMessage.contains("different column"),
      wrongCol.getMessage)
    // an explicit watermark argument conflicting with the source's own
    // declaration would be silently inert (the twins inherit the source's)
    // — refused by name
    val conflict = intercept[Exception](MatchRecognize.detectStream(
      src, sqlFor(""), watermark = "10 seconds"))
    assert(conflict.getMessage.contains("already declares a watermark"),
      conflict.getMessage)
    val twoVals = intercept[Exception](MatchRecognize.detect(src, sqlFor("",
      pattern = "(A C+ B)",
      measures = "SUM(C.value) AS sv, FIRST(C.user_id) AS fu",
      define = "A AS event_type = 'view', C AS event_type = 'click', " +
        "B AS event_type = 'purchase'")))
    assert(twoVals.getMessage.contains("ONE value column"))
    val shape = intercept[Exception](MatchRecognize.detect(src, sqlFor("",
      pattern = "(A B+ C+ D)",
      measures = "COUNT(B.ts) AS nb, COUNT(C.ts) AS nc",
      define = "A AS event_type = 'view', B AS event_type = 'click', " +
        "C AS event_type = 'cart', D AS event_type = 'purchase'")))
    assert(shape.getMessage.contains("fits none of them"))
  }
}
