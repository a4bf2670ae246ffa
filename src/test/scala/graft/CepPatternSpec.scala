package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cep.Pattern

/** graft.cep.Pattern — flink-cep combinator surface (begin/followedBy/
  * notFollowedBy/times/within) compiled to keyed joins. Hand-built event logs
  * with known matches.
  */
class CepPatternSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def at(min: Long) = new Timestamp(T0.getTime + min * 60000)
  private val HOUR = 3600L * 1000

  // user 1: full signup->click->purchase chain
  // user 2: signup + click but no purchase
  // user 3: purchase arrives outside the window
  private lazy val events = Seq(
    (1L, at(0), "signup"), (1L, at(10), "click"), (1L, at(20), "click"), (1L, at(30), "purchase"),
    (2L, at(0), "signup"), (2L, at(5), "click"),
    (3L, at(0), "signup"), (3L, at(10), "click"), (3L, at(90), "purchase")
  ).toDF("user_id", "ts", "event_type")

  test("begin->followedBy->followedBy binds earliest events within the window") {
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click")
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
      .collect()
    assert(m.length == 1)
    val r = m.head
    assert(r.getAs[Long]("key") == 1L && r.getAs[Timestamp]("click_ts") == at(10) &&
      r.getAs[Timestamp]("purchase_ts") == at(30))
  }

  test("times(n) binds n successive occurrences") {
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").times(2)
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
      .collect()
    assert(m.map(_.getAs[Long]("key")).toSet == Set(1L)) // only user 1 has 2 clicks
    assert(m.head.getAs[Timestamp]("click_1_ts") == at(10) &&
      m.head.getAs[Timestamp]("click_2_ts") == at(20))
  }

  test("afterMatchSkipToFirst/Last: restart at the variable's binding, overlap allowed") {
    // NO_SKIP matches with b{2}: A = (s@0, b@2, b@4, c@6), B = (s@3, b@4,
    // b@5, c@6). SKIP TO FIRST b: threshold after A = 2, B starts at 3 >= 2
    // -> BOTH kept (overlap at the restart point is allowed). SKIP TO LAST
    // b: threshold after A = 4, B starts at 3 < 4 -> dropped.
    val evs = Seq(
      (1L, at(0), "s"), (1L, at(2), "b"), (1L, at(4), "b"),
      (1L, at(3), "s"), (1L, at(5), "b"), (1L, at(6), "c")
    ).toDF("user_id", "ts", "event_type")
    def pat = Pattern.begin("s", $"event_type" === "s")
      .followedBy("b", $"event_type" === "b").times(2)
      .followedBy("c", $"event_type" === "c")
    def run(p: Pattern) = p.within(HOUR).detect(evs, $"user_id", $"ts")
      .select($"key", $"s_ts").as[(Long, Timestamp)].collect().toSet
    val noSkip = run(pat)
    val toFirst = run(pat.afterMatchSkipToFirst("b"))
    val toLast = run(pat.afterMatchSkipToLast("b"))
    assert(noSkip == Set((1L, at(0)), (1L, at(3))), noSkip.toString)
    assert(toFirst == Set((1L, at(0)), (1L, at(3))), toFirst.toString)
    assert(toLast == Set((1L, at(0))), toLast.toString)
    // unknown variable is a named error
    val ex = intercept[IllegalArgumentException](run(pat.afterMatchSkipToLast("zz")))
    assert(ex.getMessage.contains("not a bound pattern variable"), ex.getMessage)
  }

  test("timesOrMore(n): runs shorter than n never match (reference " +
       "Pattern.java:420 — at least n occurrences, greedy)") {
    // user 1: 3 clicks -> matches with n=3; user 2: 1 click -> maximal run
    // too short, NO match; user 3: exactly 2 -> matches
    val events = Seq(
      (1L, at(0), "signup"), (1L, at(5), "click"), (1L, at(6), "click"),
      (1L, at(7), "click"), (1L, at(12), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "click"), (2L, at(10), "purchase"),
      (3L, at(0), "signup"), (3L, at(5), "click"), (3L, at(6), "click"),
      (3L, at(11), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedBy("c", $"event_type" === "click").timesOrMore(2)
      .followedBy("p", $"event_type" === "purchase")
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
      .select($"key", $"c_first_ts", $"c_last_ts", $"c_n", $"p_ts")
      .as[(Long, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    assert(m == Set(
      (1L, at(5), at(7), 3L, at(12)),
      (3L, at(5), at(6), 2L, at(11))), m.toString)
    // timesOrMore(1) IS oneOrMore: user 2 matches again
    val m1 = Pattern.begin("s", $"event_type" === "signup")
      .followedBy("c", $"event_type" === "click").timesOrMore(1)
      .followedBy("p", $"event_type" === "purchase")
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
    assert(m1.count() == 3)
  }

  test("oneOrMore().consecutive(): a gap time closes the run organically") {
    // user 1: clicks at 5,6,7 then a view at 8 breaks the chain — the click
    // at 9 is NOT a member; purchase binds after the run's LAST member (7);
    // user 2: a view at the SAME time as a click does not break (time-level
    // adjacency, any satisfying event counts); user 3: single-member run;
    // user 4: no members -> no match
    val minute = Seq(
      (1L, at(0), "signup"), (1L, at(5), "click"), (1L, at(6), "click"),
      (1L, at(7), "click"), (1L, at(8), "view"), (1L, at(9), "click"),
      (1L, at(12), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "click"), (2L, at(5), "view"),
      (2L, at(6), "click"), (2L, at(10), "purchase"),
      (3L, at(0), "signup"), (3L, at(5), "view"), (3L, at(10), "click"),
      (3L, at(11), "purchase"),
      (4L, at(0), "signup"), (4L, at(5), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedBy("c", $"event_type" === "click").oneOrMore().consecutive()
      .followedBy("p", $"event_type" === "purchase")
      .within(HOUR)
      .detect(minute, $"user_id", $"ts")
      .select($"key", $"s_ts", $"c_first_ts", $"c_last_ts", $"c_n", $"p_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    assert(m == Set(
      (1L, at(0), at(5), at(7), 3L, at(12)),
      (2L, at(0), at(5), at(6), 2L, at(10)),
      (3L, at(0), at(10), at(10), 1L, at(11))), m.toString)
  }

  test("followedByGroup + oneOrMore: greedy (B C)+ repetition chain") {
    // user 1: two clean repetitions (5,10) (15,20), purchase after;
    // user 2: incomplete repetition (B without C) -> no match;
    // user 3: extra B inside rep 1 is absorbed (skip-till-next), chain is
    //   (5,10) (12,14), purchase at 20;
    // user 4: purchase outside the window -> no match;
    // user 5: GREEDY — the chain consumes the second repetition even though
    //   stopping earlier would let the u@12 bind: no match
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(15), "b"), (1L, at(20), "c"), (1L, at(25), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "b"), (2L, at(10), "purchase"),
      (3L, at(0), "signup"), (3L, at(5), "b"), (3L, at(7), "b"), (3L, at(10), "c"),
      (3L, at(12), "b"), (3L, at(14), "c"), (3L, at(20), "purchase"),
      (4L, at(0), "signup"), (4L, at(5), "b"), (4L, at(10), "c"), (4L, at(90), "purchase"),
      (5L, at(0), "signup"), (5L, at(5), "b"), (5L, at(10), "c"), (5L, at(12), "purchase"),
      (5L, at(15), "b"), (5L, at(20), "c")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .oneOrMore()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    assert(m == Set(
      (1L, at(0), at(5), at(20), 2L, at(25)),
      (3L, at(0), at(5), at(14), 2L, at(20))), m.toString)
  }

  test("followedByGroup + zeroOrMore: '(B C)*' keeps matches with an empty chain") {
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"), (1L, at(15), "purchase"),
      (2L, at(0), "signup"), (2L, at(15), "purchase"),          // empty chain
      (3L, at(0), "signup"), (3L, at(5), "b"), (3L, at(15), "purchase") // incomplete rep
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .zeroOrMore()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"u_ts")
      .as[(Long, Option[Timestamp], Option[Timestamp], Long, Timestamp)].collect().toSet
    // user 3's lone b never completes a repetition: the chain is EMPTY (the
    // incomplete sub-match does not bind), u binds after the signup
    assert(m == Set(
      (1L, Some(at(5)), Some(at(10)), 1L, at(15)),
      (2L, None, None, 0L, at(15)),
      (3L, None, None, 0L, at(15))), m.toString)
  }

  test("detectWithTimeouts: full matches split from timed-out partials") {
    // user 1: full match; user 2: stuck after b (no purchase in window);
    // user 3: stuck at b (none at all); user 4: the purchase exists but a
    // missing b means it must NOT surface (prefix truncation); user 5:
    // purchase outside the window -> timeout with b bound
    val evs = Seq(
      (1L, at(0), "s", 1.0), (1L, at(5), "b", 2.0), (1L, at(10), "p", 3.0),
      (2L, at(0), "s", 1.0), (2L, at(5), "b", 2.0),
      (3L, at(0), "s", 1.0),
      (4L, at(0), "s", 1.0), (4L, at(10), "p", 3.0),
      (5L, at(0), "s", 1.0), (5L, at(5), "b", 2.0), (5L, at(90), "p", 3.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val (matches, timeouts) = Pattern.begin("s", $"event_type" === "s")
      .followedBy("b", $"event_type" === "b").bind("value")
      .followedBy("p", $"event_type" === "p")
      .within(HOUR)
      .detectWithTimeouts(evs, $"user_id", $"ts")
    val m = matches.select($"key", $"s_ts", $"b_ts", $"p_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    assert(m == Set((1L, at(0), at(5), at(10))), m.toString)
    val t = timeouts
      .select($"key", $"s_ts", $"b_ts", $"b_value", $"p_ts", $"timeout_ts")
      .as[(Long, Timestamp, Option[Timestamp], Option[Double],
        Option[Timestamp], Timestamp)].collect().toSet
    assert(t == Set(
      (2L, at(0), Some(at(5)), Some(2.0), None, at(60)),
      (3L, at(0), None, None, None, at(60)),
      (4L, at(0), None, None, None, at(60)),
      (5L, at(0), Some(at(5)), Some(2.0), None, at(60))), t.toString)
    // quantified patterns keep detect()'s match-only contract
    val e = intercept[IllegalArgumentException](
      Pattern.begin("s", $"event_type" === "s")
        .followedBy("b", $"event_type" === "b").oneOrMore()
        .within(HOUR).detectWithTimeouts(evs, $"user_id", $"ts"))
    assert(e.getMessage.contains("detectWithTimeouts"), e.getMessage)
  }

  test("followedByNestedGroup + oneOrMore: ((B C)+ V)+ two-level chain") {
    // user 1: two outer reps — rep1 = (5,10)(12,14) then v@20, rep2 =
    //   (25,30) then v@35;
    // user 2: inner chain completes but no v -> no match;
    // user 3: one rep (5,10) v@15, then a dangling b@20 without c -> the
    //   chain ends with the completed rep;
    // user 4: v outside the window -> no match;
    // user 5: the tail PUNCTUATES — v@11 closes rep1 after (5,10) (the
    //   chain may not absorb (12,14) past it), rep2 = (12,14) v@16;
    // user 6: rep1 (5,10) v@12, then a complete dangling inner chain
    //   (15,20) with no v after it -> the dangling rep is discarded;
    // user 7: rep2 anchors at the earliest b after rep1's v.
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(12), "b"), (1L, at(14), "c"), (1L, at(20), "v"),
      (1L, at(25), "b"), (1L, at(30), "c"), (1L, at(35), "v"),
      (2L, at(0), "signup"), (2L, at(5), "b"), (2L, at(10), "c"),
      (3L, at(0), "signup"), (3L, at(5), "b"), (3L, at(10), "c"),
      (3L, at(15), "v"), (3L, at(20), "b"),
      (4L, at(0), "signup"), (4L, at(5), "b"), (4L, at(10), "c"), (4L, at(90), "v"),
      (5L, at(0), "signup"), (5L, at(5), "b"), (5L, at(10), "c"), (5L, at(11), "v"),
      (5L, at(12), "b"), (5L, at(14), "c"), (5L, at(16), "v"),
      (6L, at(0), "signup"), (6L, at(5), "b"), (6L, at(10), "c"), (6L, at(12), "v"),
      (6L, at(15), "b"), (6L, at(20), "c"),
      (7L, at(0), "signup"), (7L, at(5), "b"), (7L, at(10), "c"), (7L, at(12), "v"),
      (7L, at(13), "b"), (7L, at(18), "c"), (7L, at(19), "v")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
      .oneOrMore()
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Long)].collect().toSet
    assert(m == Set(
      (1L, at(0), at(5), at(35), 2L, 3L),
      (3L, at(0), at(5), at(15), 1L, 1L),
      (5L, at(0), at(5), at(16), 2L, 2L),
      (6L, at(0), at(5), at(12), 1L, 1L),
      (7L, at(0), at(5), at(19), 2L, 2L)), m.toString)
  }

  test("followedByNestedGroup + zeroOrMore and a following step") {
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(12), "v"), (1L, at(20), "purchase"),
      (2L, at(0), "signup"), (2L, at(20), "purchase"), // empty chain
      (3L, at(0), "signup"), (3L, at(5), "b"), (3L, at(10), "c"),
      (3L, at(20), "purchase")                          // no v: empty chain
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
      .zeroOrMore()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n", $"u_ts")
      .as[(Long, Option[Timestamp], Option[Timestamp], Long, Long, Timestamp)]
      .collect().toSet
    assert(m == Set(
      (1L, Some(at(5)), Some(at(12)), 1L, 1L, at(20)),
      (2L, None, None, 0L, 0L, at(20)),
      (3L, None, None, 0L, 0L, at(20))), m.toString)
  }

  test("followedByNestedGroup + materializeNestedRows: per-event rows with running counts") {
    // user 1: rep1 = (5,10)(12,14) v@20, rep2 = (25,30) v@35; a dangling
    // b@40 (no c, no v) contributes NO rows
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(12), "b"), (1L, at(14), "c"), (1L, at(20), "v"),
      (1L, at(25), "b"), (1L, at(30), "c"), (1L, at(35), "v"),
      (1L, at(40), "b")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
      .oneOrMore()
      .materializeNestedRows()
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", explode($"g_rows").as("r"))
      .select($"key", $"r.ts", $"r.cls", $"r.reps", $"r.subs")
      .as[(Long, Timestamp, String, Long, Long)].collect().toSet
    assert(m == Set(
      (1L, at(5), "b", 0L, 0L), (1L, at(10), "c", 0L, 1L),
      (1L, at(12), "b", 0L, 1L), (1L, at(14), "c", 0L, 2L),
      (1L, at(20), "v", 1L, 2L),
      (1L, at(25), "b", 1L, 2L), (1L, at(30), "c", 1L, 3L),
      (1L, at(35), "v", 2L, 3L)), m.toString)
  }

  test("followedByNestedGroup: named rejections") {
    val p = Pattern.begin("s", $"event_type" === "signup")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
    // bindGroup on a nested member is SUPPORTED since r15, and composes
    // with materializeNestedRows (per-row running value snapshots) in
    // either order; a non-member name stays a named rejection
    p.bindGroup("b", "value").materializeNestedRows()
    p.materializeNestedRows().bindGroup("b", "value")
    val e1c = intercept[IllegalArgumentException](p.bindGroup("zz", "value"))
    assert(e1c.getMessage.contains("not a member"), e1c.getMessage)
    val e2 = intercept[IllegalArgumentException](p.materializeGroupRows())
    assert(e2.getMessage.contains("followedByNestedGroup"), e2.getMessage)
    // tieBreak composes with nested groups since r16 and with DEPTH-2
    // groups since r17 (member value tables tie-steer at every level
    // through the shared tieMinAgg builder)
    p.tieBreak("value")
    Pattern.begin("s", $"event_type" === "signup")
      .followedByNested2Group("g2",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")))
      .tieBreak("value")
    // a one-step innermost sub-group is rejected by every group builder
    // alike, and the message redirects to none of them
    val one = Seq("b" -> ($"event_type" === "b"))
    val begin = Pattern.begin("s", $"event_type" === "signup")
    for (e <- Seq(
        intercept[IllegalArgumentException](begin.followedByGroup("g", one: _*)),
        intercept[IllegalArgumentException](begin.followedByNestedGroup("g", one,
          Seq("v" -> ($"event_type" === "v")))),
        intercept[IllegalArgumentException](begin.followedByNestedNGroup("g", one,
          Seq(Seq("v" -> ($"event_type" === "v"))))))) {
      assert(e.getMessage.contains("at least two steps"), e.getMessage)
      assert(!e.getMessage.contains("use followedBy"), e.getMessage)
    }
    // unquantified nested group: rejected at compile (detect) time
    val evs = Seq((1L, at(0), "signup")).toDF("user_id", "ts", "event_type")
    val e4 = intercept[IllegalArgumentException](
      p.within(HOUR).detect(evs, $"user_id", $"ts"))
    assert(e4.getMessage.contains("oneOrMore"), e4.getMessage)
  }

  test("followedByNestedGroup innerOptional: ((B C)* V)+ binds tail-only " +
       "repetitions, and equals inner '+' when every repetition has subs") {
    // tail-only reps: V@10 and V@20 precede any completable sub, the
    // sub (25,30) completes before V@35 — walk: [V10][V20][(25,30)+V35]
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(10), "v"), (1L, at(20), "v"),
      (1L, at(25), "b"), (1L, at(30), "c"), (1L, at(35), "v")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")), innerOptional = true)
      .oneOrMore()
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    assert(m == Set((1L, at(10), at(35), 3L, 1L)), m.toString)
    // when every repetition has a completable sub before its tail, the
    // star walk IS the plus walk
    val evs2 = Seq(
      (1L, at(0), "signup"),
      (1L, at(10), "b"), (1L, at(20), "c"), (1L, at(25), "b"),
      (1L, at(30), "c"), (1L, at(40), "v"),
      (1L, at(45), "b"), (1L, at(50), "c"), (1L, at(55), "v")
    ).toDF("user_id", "ts", "event_type")
    def run(opt: Boolean) = Pattern.begin("s", $"event_type" === "signup")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")), innerOptional = opt)
      .oneOrMore()
      .within(HOUR)
      .detect(evs2, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    assert(run(true) == run(false) &&
      run(true) == Set((1L, at(10), at(55), 2L, 3L)), run(true).toString)
  }

  test("innerOptional with TWO tails: a tail-only repetition binds the " +
       "full tail chain, and a missing later tail aborts it") {
    // rep1 is TAIL-ONLY (d@5 e@8 precede the first completable sub);
    // rep2 is a sub + both tails. User 2 opens tail-first but its second
    // tail never arrives: greedy-no-backtracking aborts — no match.
    val evs = Seq(
      (1L, at(0), "s"), (1L, at(5), "d"), (1L, at(8), "e"),
      (1L, at(10), "b"), (1L, at(12), "c"), (1L, at(15), "d"), (1L, at(18), "e"),
      (2L, at(0), "s"), (2L, at(5), "d")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "s")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("d" -> ($"event_type" === "d"), "e" -> ($"event_type" === "e")),
        innerOptional = true)
      .oneOrMore()
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    assert(m == Set((1L, at(5), at(18), 2L, 1L)), m.toString)
  }

  test("quantified alternation (B|C)+: run over the union with per-branch counts") {
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(12), "x"), (1L, at(15), "b"), (1L, at(20), "purchase"),
      (2L, at(0), "signup"), (2L, at(10), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByOneOf("g",
        "b" -> $"event_type".isin("b", "x"), "c" -> $"event_type".isin("c", "x"))
      .oneOrMore()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_n_b", $"g_n_c", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Long, Long, Long, Timestamp)].collect().toSet
    // the 'x' event matches BOTH branches and counts once, under b
    // (classifier = first matching branch); user 2 has no member: no match
    assert(m == Set((1L, at(5), at(15), 4L, 3L, 1L, at(20))), m.toString)
  }

  test("quantified alternation (B|C)*: empty run keeps the match, branch counts 0") {
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(20), "purchase"),
      (2L, at(0), "signup"), (2L, at(10), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByOneOf("g",
        "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .zeroOrMore()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_n", $"g_n_b", $"g_n_c", $"u_ts")
      .as[(Long, Long, Long, Long, Timestamp)].collect().toSet
    assert(m == Set(
      (1L, 1L, 1L, 0L, at(20)),
      (2L, 0L, 0L, 0L, at(10))), m.toString)
  }

  test("bindGroup: running value aggregates over (B C)+ repetitions") {
    val evs = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(5), "b", 10.0), (1L, at(10), "c", 1.0),
      (1L, at(15), "b", 30.0), (1L, at(20), "c", 5.0), (1L, at(25), "purchase", 0.0),
      // user 2: equal-ts tie on c@10 — the minimum value binds (2.0)
      (2L, at(0), "signup", 0.0), (2L, at(5), "b", 7.0), (2L, at(10), "c", 9.0),
      (2L, at(10), "c", 2.0), (2L, at(12), "purchase", 0.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .bindGroup("b", "value").bindGroup("c", "value")
      .oneOrMore()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_n", $"g_sum_b_value", $"g_min_c_value", $"g_max_b_value",
        $"g_first_b_value", $"g_last_c_value", $"g_cnt_c_value")
      .as[(Long, Long, Double, Double, Double, Double, Double, Long)].collect().toSet
    assert(m == Set(
      (1L, 2L, 40.0, 1.0, 30.0, 10.0, 5.0, 2L),
      (2L, 1L, 7.0, 2.0, 7.0, 7.0, 2.0, 1L)), m.toString)
  }

  test("bindGroup: empty (B C)* chain yields null aggregates with count 0") {
    val evs = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(15), "purchase", 0.0),
      (2L, at(0), "signup", 0.0), (2L, at(5), "b", 3.0), (2L, at(10), "c", 4.0),
      (2L, at(15), "purchase", 0.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .bindGroup("c", "value")
      .zeroOrMore()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_n", $"g_sum_c_value", $"g_cnt_c_value")
      .as[(Long, Long, Option[Double], Long)].collect().toSet
    assert(m == Set(
      (1L, 0L, None, 0L),
      (2L, 1L, Some(4.0), 1L)), m.toString)
  }

  test("followedByGroup + times(2): exactly two repetitions, each separately bound") {
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(15), "b"), (1L, at(20), "c"), (1L, at(25), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "b"), (2L, at(10), "c"), (2L, at(15), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .times(2)
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_1_first_ts", $"g_1_last_ts", $"g_2_first_ts", $"g_2_last_ts", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Timestamp, Timestamp)].collect().toSet
    // user 2 has only one repetition: no match
    assert(m == Set((1L, at(5), at(10), at(15), at(20), at(25))), m.toString)
  }

  test("optional group '(B C)?': skipped when no complete sub-match exists") {
    val evs = Seq(
      (1L, at(0), "signup"), (1L, at(5), "b"), (1L, at(10), "c"), (1L, at(15), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "b"), (2L, at(15), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "signup")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .optional()
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"u_ts")
      .as[(Long, Option[Timestamp], Option[Timestamp], Timestamp)].collect().toSet
    // user 2's lone b never completes: the group is skipped, u binds after s
    assert(m == Set(
      (1L, Some(at(5)), Some(at(10)), at(15)),
      (2L, None, None, at(15))), m.toString)
  }

  test("terminal notFollowedBy excludes matched continuations") {
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click")
      .notFollowedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
      .collect()
    // user 1 purchased in-window (excluded); user 2 never did; user 3's
    // purchase is outside the 1h window so the negative pattern matches
    assert(m.map(_.getAs[Long]("key")).toSet == Set(2L, 3L))
  }

  test("optional() binds when present and null-skips when absent") {
    // user 4: signup then purchase with NO click in between
    val ev4 = events.union(Seq((4L, at(0), "signup"), (4L, at(15), "purchase"))
      .toDF("user_id", "ts", "event_type"))
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").optional()
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(ev4, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Long]("key"),
        Option(r.getAs[Timestamp]("click_ts")), r.getAs[Timestamp]("purchase_ts"))).toSet
    // user 1 matches with the click bound; user 4 matches with click skipped
    assert(m == Set((1L, Some(at(10)), at(30)), (4L, None, at(15))))
  }

  test("oneOrMore() binds the whole run before the next step's binding") {
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").oneOrMore()
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
      .collect()
    // user 1: clicks at 10 and 20 both precede the purchase at 30
    assert(m.length == 1 && m.head.getAs[Long]("key") == 1L)
    assert(m.head.getAs[Timestamp]("click_first_ts") == at(10))
    assert(m.head.getAs[Timestamp]("click_last_ts") == at(20))
    assert(m.head.getAs[Long]("click_n") == 2L)
  }

  test("oneOrMore() as the final step runs to the window end") {
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").oneOrMore()
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("click_n"))).toMap
    assert(m == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  private lazy val withUser4 = events.union(Seq(
    (4L, at(0), "signup"), (4L, at(15), "purchase")).toDF("user_id", "ts", "event_type"))

  test("zeroOrMore() matches with an EMPTY run (null bounds, n=0) and with a run") {
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").zeroOrMore()
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(withUser4, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Long]("key"),
        Option(r.getAs[Timestamp]("click_first_ts")), r.getAs[Long]("click_n"),
        r.getAs[Timestamp]("purchase_ts"))).toSet
    // user 1's clicks at 10 and 20 both precede the purchase; user 4 has NO
    // clicks — oneOrMore would drop it, zeroOrMore emits the empty run
    assert(m == Set((1L, Some(at(10)), 2L, at(30)), (4L, None, 0L, at(15))))
  }

  test("zeroOrMore() as the final step emits even with no occurrences") {
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").zeroOrMore()
      .within(HOUR)
      .detect(withUser4, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("click_n"))).toMap
    assert(m == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("until() stops the oneOrMore run at the first stop event") {
    // user 6: signup@0, click@10, error@15, click@20, purchase@30 —
    // until(error) bounds the click run to {10}; purchase still binds
    val ev6 = Seq(
      (6L, at(0), "signup"), (6L, at(10), "click"), (6L, at(15), "error"),
      (6L, at(20), "click"), (6L, at(30), "purchase")
    ).toDF("user_id", "ts", "event_type")
    def base = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").oneOrMore()
    val bounded = base.until($"event_type" === "error")
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR).detect(ev6, $"user_id", $"ts").collect()
    assert(bounded.length == 1)
    assert(bounded.head.getAs[Long]("click_n") == 1L &&
      bounded.head.getAs[Timestamp]("click_last_ts") == at(10))
    val unbounded = base
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR).detect(ev6, $"user_id", $"ts").collect()
    assert(unbounded.head.getAs[Long]("click_n") == 2L,
      "without until() the run extends to the next binding")
  }

  test("afterMatchSkipPastLastEvent keeps only non-overlapping matches") {
    // user 5: s@0 c@10, s@20 c@30, s@25 c@40 — NO_SKIP yields 3 matches;
    // skip-past-last keeps (0,10) and (20,30), discarding the start at 25
    // which lies inside the second kept match
    val ev5 = Seq(
      (5L, at(0), "signup"), (5L, at(10), "click"),
      (5L, at(20), "signup"), (5L, at(25), "signup"), (5L, at(30), "click"),
      (5L, at(40), "click")
    ).toDF("user_id", "ts", "event_type")
    def pat = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click")
      .within(HOUR)
    val all = pat.detect(ev5, $"user_id", $"ts").collect()
    assert(all.length == 3, "NO_SKIP emits one match per start event")
    val kept = pat.afterMatchSkipPastLastEvent()
      .detect(ev5, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Timestamp]("signup_ts"), r.getAs[Timestamp]("click_ts"))).toSet
    assert(kept == Set((at(0), at(10)), (at(20), at(30))))
  }

  test("batch Pattern.detect and streaming cepPattern agree on the same input") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val asEvents = events.collect().map(r =>
      StreamOps.Event(r.getLong(0), r.getTimestamp(1), r.getString(2), 0.0))
    val in = MemoryStream[graft.streaming.Event]
    in.addData(asEvents.toIndexedSeq)
    val q = StreamOps.cepPattern(in.toDS(), "10 seconds",
        Seq(_.event_type == "signup", _.event_type == "click", _.event_type == "purchase"),
        HOUR).toDF()
      .writeStream.format("memory").queryName("s_parity").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_parity")
      .select($"user_id", $"step_ts"(0), $"step_ts"(1), $"step_ts"(2))
      .as[(Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click")
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_ts", $"purchase_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    assert(streaming == batch && batch.nonEmpty)
  }

  test("batch oneOrMore and streaming cepPatternOneOrMore agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // distinct timestamps; user 1 matches with a 2-click run split across
    // batches; user 2 never purchases; user 3's purchase is out of window.
    // Values exercise the bindRun aggregates (sum/min/max/first/last).
    val all = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(10), "click", 4.5), (1L, at(20), "click", 2.0),
      (1L, at(30), "purchase", 9.0),
      (2L, at(0), "signup", 0.0), (2L, at(5), "click", 1.0),
      (3L, at(0), "signup", 0.0), (3L, at(10), "click", 3.0), (3L, at(90), "purchase", 1.0)
    )
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").oneOrMore().bindRun("value")
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_first_ts", $"click_last_ts", $"click_n",
        $"purchase_ts", $"click_sum_value", $"click_min_value", $"click_max_value",
        $"click_first_value", $"click_last_value")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp,
        Double, Double, Double, Double, Double)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "10 seconds",
        _.event_type == "signup", _.event_type == "click", _.event_type == "purchase",
        HOUR).toDF()
      .writeStream.format("memory").queryName("s_run_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(4)); q.processAllAvailable() // split across micro-batches
    in.addData(evs.drop(4)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_run_parity")
      .select("user_id", "first_ts", "run_first_ts", "run_last_ts", "run_n", "last_ts",
        "run_sum_value", "run_min_value", "run_max_value", "run_first_value", "run_last_value")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp,
        Double, Double, Double, Double, Double)].collect().toSet
    assert(streaming == batch && batch.nonEmpty, s"streaming=$streaming batch=$batch")
    // user 1's run: clicks 4.5 then 2.0 -> sum 6.5, min 2.0, max 4.5
    assert(batch.exists(r => r._1 == 1L && r._7 == 6.5 && r._8 == 2.0 &&
      r._9 == 4.5 && r._10 == 4.5 && r._11 == 2.0), s"batch=$batch")
  }

  test("batch timesOrMore(n) and streaming cepPatternOneOrMore(minRun=n) agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: 3-click run (matches at minRun=2); user 2: 1-click run (no
    // match); user 3: exactly 2 (matches), split across micro-batches
    val all = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(5), "click", 1.0), (1L, at(6), "click", 1.0),
      (1L, at(7), "click", 1.0), (1L, at(12), "purchase", 0.0),
      (2L, at(0), "signup", 0.0), (2L, at(5), "click", 1.0), (2L, at(10), "purchase", 0.0),
      (3L, at(0), "signup", 0.0), (3L, at(5), "click", 1.0), (3L, at(6), "click", 1.0),
      (3L, at(11), "purchase", 0.0)
    )
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").timesOrMore(2)
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"click_first_ts", $"click_last_ts", $"click_n", $"purchase_ts")
      .as[(Long, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "10 seconds",
        _.event_type == "signup", _.event_type == "click", _.event_type == "purchase",
        HOUR, minRun = 2).toDF()
      .writeStream.format("memory").queryName("s_tom_parity").outputMode("append").start()
    // split by TIME (not by user): a by-user split would make the second
    // batch's events late against the first batch's watermark
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
      .sortBy(_.ts.getTime)
    val (b1, b2) = evs.partition(_.ts.getTime <= at(6).getTime)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    // a far-future sentinel advances the watermark past every window end
    in.addData(StreamOps.Event(99L, at(600), "noise", 0.0))
    q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_tom_parity")
      .select("user_id", "run_first_ts", "run_last_ts", "run_n", "last_ts")
      .as[(Long, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    assert(streaming == batch, s"streaming=$streaming batch=$batch")
    assert(batch.map(_._1) == Set(1L, 3L) && batch.forall(_._4 >= 2), batch.toString)
  }

  test("batch next() and streaming cepPatternSteps strict agree across micro-batches") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: click IS the next event after signup -> match
    // user 2: a view intervenes before the click -> strict kills it
    // user 3: the next event is outside the window -> no match
    // user 4: two clicks, the immediate one binds
    val all = Seq(
      (1L, at(0), "signup"), (1L, at(10), "click"),
      (2L, at(0), "signup"), (2L, at(5), "view"), (2L, at(10), "click"),
      (3L, at(0), "signup"), (3L, at(70), "click"),
      (4L, at(0), "signup"), (4L, at(5), "click"), (4L, at(10), "click")
    )
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .next("click", $"event_type" === "click")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_ts")
      .as[(Long, Timestamp, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "signup"),
        StreamOps.CepStep(_.event_type == "click", strict = true)), HOUR).toDF()
      .writeStream.format("memory").queryName("s_strict_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(5)); q.processAllAvailable() // split across micro-batches
    in.addData(evs.drop(5)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_strict_parity")
      .as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1))).toSet
    assert(streaming == batch && batch == Set((1L, at(0), at(10)), (4L, at(0), at(5))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch followedByOneOf and streaming cepPatternSteps branches agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 8 goes through a view, user 9 through a click; both then purchase
    val all = Seq(
      (8L, at(0), "signup"), (8L, at(5), "view"), (8L, at(20), "purchase"),
      (9L, at(0), "signup"), (9L, at(7), "click"), (9L, at(15), "purchase"),
      (10L, at(0), "signup"), (10L, at(9), "other")
    )
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedByOneOf("x", "C" -> ($"event_type" === "click"),
        "V" -> ($"event_type" === "view"))
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"x_ts", $"x_cls", $"purchase_ts")
      .as[(Long, Timestamp, Timestamp, String, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "signup"),
        StreamOps.CepStep(_ => false, branches = Seq(
          "C" -> ((e: graft.streaming.Event) => e.event_type == "click"),
          "V" -> ((e: graft.streaming.Event) => e.event_type == "view"))),
        StreamOps.CepStep(_.event_type == "purchase")), HOUR).toDF()
      .writeStream.format("memory").queryName("s_alt_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(4)); q.processAllAvailable()
    in.addData(evs.drop(4)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_alt_parity")
      .as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1), m.step_cls(1), m.step_ts(2))).toSet
    assert(streaming == batch &&
      batch == Set((8L, at(0), at(5), "V", at(20)), (9L, at(0), at(7), "C", at(15))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch notNext and streaming strict negative agree (successor decides)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: purchase IS the next event -> killed; user 2: a view
    // intervenes -> passes (emits as soon as the successor time passes);
    // user 3: no successor at all -> vacuous pass at window expiry
    val all = Seq(
      (1L, at(0), "signup"), (1L, at(5), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "view"), (2L, at(10), "purchase"),
      (3L, at(0), "signup"))
    val batch = Pattern.begin("s", $"event_type" === "signup")
      .notNext("p", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts")
      .as[(Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "signup"),
        StreamOps.CepStep(_.event_type == "purchase", negative = true, strict = true)),
        HOUR).toDF()
      .writeStream.format("memory").queryName("s_notnext_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(3)); q.processAllAvailable() // split across micro-batches
    in.addData(evs.drop(3)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_notnext_parity").as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0))).toSet
    assert(streaming == batch && batch == Set((2L, at(0)), (3L, at(0))),
      s"streaming=$streaming batch=$batch")
  }

  test("strict negative: an out-of-order event AT the successor time still kills") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // batch 1 delivers user 1's signup@0, view@5 (the successor time) and
    // view@10 (past it); the killer purchase@5 arrives only in batch 2 —
    // out of order but ahead of the watermark, so an eager emission at the
    // view@10 event would be unretractable and WRONG. user 2 is the
    // control: same shape, no purchase ever -> emits
    val base = Seq(
      (1L, at(0), "signup"), (1L, at(5), "view"), (1L, at(10), "view"),
      (2L, at(0), "signup"), (2L, at(5), "view"), (2L, at(10), "view"))
    val withKiller = base ++ Seq((1L, at(5), "purchase"))
    val batch = Pattern.begin("s", $"event_type" === "signup")
      .notNext("p", $"event_type" === "purchase")
      .within(HOUR)
      .detect(withKiller.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts")
      .as[(Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "signup"),
        StreamOps.CepStep(_.event_type == "purchase", negative = true, strict = true)),
        HOUR).toDF()
      .writeStream.format("memory").queryName("s_notnext_ooo").outputMode("append").start()
    in.addData(base.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) })
    q.processAllAvailable()
    in.addData(StreamOps.Event(1L, at(5), "purchase", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_notnext_ooo").as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0))).toSet
    assert(streaming == batch && batch == Set((2L, at(0))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch afterMatchSkipPastLastEvent and streaming skipPastLast agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: signups at 0,5,20 with purchases at 10,25 — NO_SKIP yields
    // (0,10),(5,10),(20,25); greedy keeps (0,10) then (20,25): the (5,10)
    // overlap is discarded
    val all = Seq(
      (1L, at(0), "signup"), (1L, at(5), "signup"), (1L, at(10), "purchase"),
      (1L, at(20), "signup"), (1L, at(25), "purchase"))
    val batch = Pattern.begin("s", $"event_type" === "signup")
      .followedBy("p", $"event_type" === "purchase")
      .within(HOUR).afterMatchSkipPastLastEvent()
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"p_ts")
      .as[(Long, Timestamp, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPattern(in.toDS(), "2 hours", Seq(
        (e: graft.streaming.Event) => e.event_type == "signup",
        (e: graft.streaming.Event) => e.event_type == "purchase"),
        HOUR, skipPastLast = true).toDF()
      .writeStream.format("memory").queryName("s_skip_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(3)); q.processAllAvailable() // split across micro-batches
    in.addData(evs.drop(3)); q.processAllAvailable()
    // greedy selection finalizes once the watermark passes each window end
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_skip_parity").as[graft.streaming.PatternMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1))).toSet
    assert(streaming == batch && batch == Set((1L, at(0), at(10)), (1L, at(20), at(25))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch zeroOrMore and streaming allowEmpty agree (empty runs at expiry)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: 2-click run; user 4: no clicks -> empty-run match at expiry;
    // user 5: a click EXISTS but only after the purchase -> batch binds the
    // run and finds no later purchase (no match), streaming's run start
    // must invalidate the held empty candidate
    val all = Seq(
      (1L, at(0), "signup"), (1L, at(10), "click"), (1L, at(20), "click"), (1L, at(30), "purchase"),
      (4L, at(0), "signup"), (4L, at(15), "purchase"),
      (5L, at(0), "signup"), (5L, at(5), "purchase"), (5L, at(10), "click"))
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").zeroOrMore()
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_first_ts", $"click_last_ts", $"click_n", $"purchase_ts")
      .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Long, Timestamp)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "2 hours",
        _.event_type == "signup", _.event_type == "click", _.event_type == "purchase",
        HOUR, allowEmpty = true).toDF()
      .writeStream.format("memory").queryName("s_zero_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(5)); q.processAllAvailable() // split across micro-batches
    in.addData(evs.drop(5)); q.processAllAvailable()
    // empty-run candidates emit once the watermark passes the window end
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_zero_parity")
      .select("user_id", "first_ts", "run_first_ts", "run_last_ts", "run_n", "last_ts")
      .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Long, Timestamp)]
      .collect().toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), Some(at(10)), Some(at(20)), 2L, at(30)),
      (4L, at(0), None, None, 0L, at(15))),
      s"streaming=$streaming batch=$batch")
    // an EMPTY run's value aggregates are NULL (the batch compile's
    // left-join nulls), never a fake 0.0 a consumer could mistake for data
    val emptyAggs = spark.table("s_zero_parity").where("run_n = 0")
      .select("run_sum_value", "run_min_value", "run_max_value",
        "run_first_value", "run_last_value").collect()
    assert(emptyAggs.nonEmpty &&
      emptyAggs.forall(r => (0 until 5).forall(r.isNullAt)),
      emptyAggs.mkString(";"))
  }

  test("batch until() and streaming untilPred agree (run stops at the stop event)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 7: clicks at 5,10 then an error at 15 stops the run; the click
    // at 20 is NOT a member; purchase at 25 closes the match
    val all = Seq(
      (7L, at(0), "signup"), (7L, at(5), "click"), (7L, at(10), "click"),
      (7L, at(15), "error"), (7L, at(20), "click"), (7L, at(25), "purchase"))
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").oneOrMore()
      .until($"event_type" === "error")
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_first_ts", $"click_last_ts", $"click_n", $"purchase_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "2 hours",
        _.event_type == "signup", _.event_type == "click", _.event_type == "purchase",
        HOUR, untilPred = Some(_.event_type == "error")).toDF()
      .writeStream.format("memory").queryName("s_until_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(3)); q.processAllAvailable() // split mid-run
    in.addData(evs.drop(3)); q.processAllAvailable()
    // decisions finalize once the watermark passes the deciding events
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_until_parity")
      .select("user_id", "first_ts", "run_first_ts", "run_last_ts", "run_n", "last_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    assert(streaming == batch && batch == Set((7L, at(0), at(5), at(10), 2L, at(25))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch notFollowedBy and streaming negative step agree (expiry emission)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // signup -> click NOT followed by purchase within the window:
    // user 4 purchases (killed); user 5 doesn't (emitted at expiry);
    // user 6's purchase is OUTSIDE the window (still a match)
    val all = Seq(
      (4L, at(0), "signup"), (4L, at(5), "click"), (4L, at(10), "purchase"),
      (5L, at(0), "signup"), (5L, at(5), "click"),
      (6L, at(0), "signup"), (6L, at(5), "click"), (6L, at(90), "purchase"))
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click")
      .notFollowedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_ts")
      .as[(Long, Timestamp, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "signup"),
        StreamOps.CepStep(_.event_type == "click"),
        StreamOps.CepStep(_.event_type == "purchase", negative = true)), HOUR).toDF()
      .writeStream.format("memory").queryName("s_neg_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(4)); q.processAllAvailable() // split across micro-batches
    in.addData(evs.drop(4)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_neg_parity").as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1))).toSet
    assert(streaming == batch &&
      batch == Set((5L, at(0), at(5)), (6L, at(0), at(5))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch followedByRun and streaming cepPatternRun agree (V-shape parity)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: run 9>7>4, the 8 breaks it, purchase after the break;
    // user 2: single-member run, U arrives while the run is OPEN (held as
    // pending, emitted at window expiry); user 3: U@8 held, then a D
    // extends the run past it (invalidated), violation at 7, U@22 binds
    val all = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(5), "click", 9.0), (1L, at(10), "click", 7.0),
      (1L, at(15), "click", 4.0), (1L, at(20), "click", 8.0), (1L, at(25), "purchase", 1.0),
      (2L, at(0), "signup", 0.0), (2L, at(5), "click", 3.0), (2L, at(10), "purchase", 1.0),
      (3L, at(0), "signup", 0.0), (3L, at(5), "click", 6.0), (3L, at(8), "purchase", 0.0),
      (3L, at(12), "click", 5.0), (3L, at(16), "click", 7.0), (3L, at(22), "purchase", 0.0))
    val batch = Pattern.begin("s", $"event_type" === "signup")
      .followedByRun("d", $"event_type" === "click", "value", _ < _)
      .bindRun("value")
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"d_first_ts", $"d_last_ts", $"d_n",
        $"d_first_value", $"d_last_value", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Double, Double, Timestamp)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternRun(in.toDS(), "2 hours",
        _.event_type == "signup", _.event_type == "click", _ < _,
        _.event_type == "purchase", HOUR).toDF()
      .writeStream.format("memory").queryName("s_vrun_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(7)); q.processAllAvailable() // split mid-run
    in.addData(evs.drop(7)); q.processAllAvailable()
    // user 2's held close needs the window to expire: push the watermark
    // past every window end, then one more batch for the timeouts
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_vrun_parity").as[graft.streaming.VRunMatch].collect()
      .map(m => (m.user_id, m.first_ts, m.run_first_ts, m.run_last_ts, m.run_n,
        m.run_first_value, m.run_last_value, m.last_ts)).toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(5), at(15), 3L, 9.0, 4.0, at(25)),
      (2L, at(0), at(5), at(5), 1L, 3.0, 3.0, at(10)),
      (3L, at(0), at(5), at(12), 2L, 6.0, 5.0, at(22))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch consecutive() and streaming cepPatternOneOrMore(consecutive) agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: clicks 5,6,7 then a view at 8 closes the run (the click at 9
    // is NOT a member — and the run SPLITS across micro-batches); user 2:
    // single-member run; user 3: gap before the first member is fine;
    // user 4: the click at 6 arrives OUT OF ORDER in a later micro-batch
    // (after the view/purchase, still ahead of the watermark) — the batch
    // run is 5,6,7 and an eager streaming emission would have frozen 5,7
    val all = Seq(
      (1L, at(0), "signup"), (1L, at(5), "click"), (1L, at(6), "click"),
      (1L, at(7), "click"), (1L, at(8), "view"), (1L, at(9), "click"),
      (1L, at(12), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "click"), (2L, at(10), "purchase"),
      (3L, at(0), "signup"), (3L, at(4), "view"), (3L, at(8), "click"),
      (3L, at(11), "purchase"),
      (4L, at(0), "signup"), (4L, at(5), "click"), (4L, at(6), "click"),
      (4L, at(7), "click"), (4L, at(8), "view"), (4L, at(9), "purchase"))
    val batch = Pattern.begin("s", $"event_type" === "signup")
      .followedBy("c", $"event_type" === "click").oneOrMore().consecutive()
      .followedBy("p", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"c_first_ts", $"c_last_ts", $"c_n", $"p_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "2 hours",
        _.event_type == "signup", _.event_type == "click", _.event_type == "purchase",
        HOUR, consecutive = true).toDF()
      .writeStream.format("memory").queryName("s_consec_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    // user 4's click@6 is withheld from the first two batches and delivered
    // LATE — after its view@8 and purchase@9, still ahead of the watermark
    val late = StreamOps.Event(4L, at(6), "click", 0.0)
    val onTime = evs.filterNot(e => e.user_id == 4L && e.ts == at(6))
    in.addData(onTime.take(3)); q.processAllAvailable() // split MID-RUN (after click@6)
    in.addData(onTime.drop(3)); q.processAllAvailable()
    in.addData(late); q.processAllAvailable()
    // decisions finalize once the watermark passes: push it beyond every
    // window end, then one more batch for the event-time timeouts
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_consec_parity")
      .select("user_id", "first_ts", "run_first_ts", "run_last_ts", "run_n", "last_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(5), at(7), 3L, at(12)),
      (2L, at(0), at(5), at(5), 1L, at(10)),
      (3L, at(0), at(8), at(8), 1L, at(11)),
      (4L, at(0), at(5), at(7), 3L, at(9))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch followedByGroup and streaming cepPatternGroup agree ((B C)+ parity)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: two clean repetitions; user 2: incomplete repetition (no c)
    // -> no match; user 3: a u arrives BETWEEN repetitions (held, then
    // invalidated by the second repetition; the u@25 binds); user 4:
    // skip-till-next absorbs the extra b inside repetition 1
    val all = Seq(
      (1L, at(0), "s"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(15), "b"), (1L, at(20), "c"), (1L, at(25), "u"),
      (2L, at(0), "s"), (2L, at(5), "b"), (2L, at(10), "u"),
      (3L, at(0), "s"), (3L, at(5), "b"), (3L, at(10), "c"), (3L, at(12), "u"),
      (3L, at(15), "b"), (3L, at(20), "c"), (3L, at(25), "u"),
      (4L, at(0), "s"), (4L, at(5), "b"), (4L, at(7), "b"), (4L, at(10), "c"),
      (4L, at(20), "u"))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .oneOrMore()
      .followedBy("u", $"event_type" === "u")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternGroup(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "u", HOUR).toDF()
      .writeStream.format("memory").queryName("s_grp_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(8)); q.processAllAvailable() // split mid-chain
    in.addData(evs.drop(8)); q.processAllAvailable()
    // held closes emit at window expiry: push the watermark past every
    // window end, then one more batch for the event-time timeouts
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_grp_parity").as[graft.streaming.GrpMatch].collect()
      .map(m => (m.user_id, m.first_ts, m.rep_first_ts, m.rep_last_ts, m.rep_n, m.last_ts))
      .toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(5), at(20), 2L, at(25)),
      (3L, at(0), at(5), at(20), 2L, at(25)),
      (4L, at(0), at(5), at(10), 1L, at(20))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch detectWithTimeouts and streaming cepPatternTimeouts agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      (1L, at(0), "s"), (1L, at(5), "b"), (1L, at(10), "p"), // full match
      (2L, at(0), "s"), (2L, at(5), "b"),                    // stuck at p
      (3L, at(0), "s"),                                      // stuck at b
      (4L, at(0), "s"), (4L, at(10), "p"),                   // p without b
      (5L, at(0), "s"), (5L, at(5), "b"), (5L, at(90), "p")) // p outside window
    val df = all.toDF("user_id", "ts", "event_type")
    val (bm, bt) = Pattern.begin("s", $"event_type" === "s")
      .followedBy("b", $"event_type" === "b")
      .followedBy("p", $"event_type" === "p")
      .within(HOUR)
      .detectWithTimeouts(df, $"user_id", $"ts")
    val batchM = bm.select($"key", $"s_ts", $"b_ts", $"p_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp)].collect()
      .map { case (u, a, b2, c) => (u, Seq(a, b2, c), false, None: Option[Timestamp]) }.toSet
    val batchT = bt.select($"key", $"s_ts", $"b_ts", $"p_ts", $"timeout_ts")
      .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Timestamp)]
      .collect()
      .map { case (u, a, b2, c, to) =>
        (u, Seq(Some(a), b2, c).flatten, true, Some(to)) }.toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternTimeouts(in.toDS(), "2 hours",
        Seq(_.event_type == "s", _.event_type == "b", _.event_type == "p"),
        HOUR).toDF()
      .writeStream.format("memory").queryName("s_to_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(6)); q.processAllAvailable()
    in.addData(evs.drop(6)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_to_parity")
      .as[graft.streaming.CepTimeoutMatch].collect()
      .map(m => (m.user_id, m.bound_ts, m.timed_out, m.timeout_ts)).toSet
    assert(streaming == (batchM ++ batchT),
      s"streaming=$streaming batch=${batchM ++ batchT}")
    assert(batchM.size == 1 && batchT.size == 4, s"m=$batchM t=$batchT")
  }

  test("batch followedByNestedGroup and streaming cepPatternNestedGroup agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // the m33 unit scenarios: punctuated repetitions, dangling subs,
    // tail-before-any-sub skipped, in-progress sub discarded at close
    val all = Seq(
      (1L, at(0), "s"), (1L, at(5), "b"), (1L, at(10), "c"),
      (1L, at(12), "b"), (1L, at(14), "c"), (1L, at(20), "v"),
      (1L, at(25), "b"), (1L, at(30), "c"), (1L, at(35), "v"),
      (2L, at(0), "s"), (2L, at(5), "b"), (2L, at(10), "c"),
      (3L, at(0), "s"), (3L, at(5), "b"), (3L, at(10), "c"),
      (3L, at(15), "v"), (3L, at(20), "b"),
      (5L, at(0), "s"), (5L, at(5), "b"), (5L, at(10), "c"), (5L, at(11), "v"),
      (5L, at(12), "b"), (5L, at(14), "c"), (5L, at(16), "v"),
      (6L, at(0), "s"), (6L, at(5), "b"), (6L, at(10), "c"), (6L, at(12), "v"),
      (6L, at(15), "b"), (6L, at(20), "c"),
      (7L, at(0), "s"), (7L, at(2), "v"), (7L, at(5), "b"), (7L, at(7), "v"),
      (7L, at(10), "c"), (7L, at(12), "v"))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
      .oneOrMore()
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Long)].collect().toSet
    val batchRows = Pattern.begin("s", $"event_type" === "s")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
      .oneOrMore()
      .materializeNestedRows()
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", explode($"g_rows").as("r"))
      .select($"key", $"s_ts", $"r.ts", $"r.cls", $"r.reps", $"r.subs")
      .as[(Long, Timestamp, Timestamp, String, Long, Long)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternNestedGroup(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "v", HOUR,
        materializeRows = true, innerNames = Seq("b", "c"), tailName = "v").toDF()
      .writeStream.format("memory").queryName("s_nest_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(11)); q.processAllAvailable() // split mid-chain
    in.addData(evs.drop(11)); q.processAllAvailable()
    // matches finalize at window expiry: push the watermark past every
    // window end, then one more batch for the event-time timeouts
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val matches = spark.table("s_nest_parity").as[graft.streaming.NestMatch].collect()
    val streaming = matches
      .map(m => (m.user_id, m.first_ts, m.grp_first_ts, m.grp_last_ts,
        m.n_reps, m.n_inner))
      .toSet
    // per-event materialized rows agree with the batch g_rows explode
    val streamingRows = matches.flatMap(m => m.rows.map(r =>
      (m.user_id, m.first_ts, r.ts, r.cls, r.reps, r.subs))).toSet
    assert(streamingRows == batchRows,
      s"rows: streaming=$streamingRows batch=$batchRows")
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(5), at(35), 2L, 3L),
      (3L, at(0), at(5), at(15), 1L, 1L),
      (5L, at(0), at(5), at(16), 2L, 2L),
      (6L, at(0), at(5), at(12), 1L, 1L),
      (7L, at(0), at(5), at(12), 1L, 1L)),
      s"streaming=$streaming batch=$batch")

    // INNER '*' parity: the same corpus under innerOptional — user 7's
    // v@2/v@7 become tail-only repetitions (and the in-progress b@5 sub is
    // discarded at the v@7 close); every all-sub user is unchanged
    val batchStar = Pattern.begin("s", $"event_type" === "s")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")), innerOptional = true)
      .oneOrMore()
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Long)].collect().toSet
    val inS = MemoryStream[graft.streaming.Event]
    val qS = StreamOps.cepPatternNestedGroup(inS.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "v", HOUR, innerOptional = true).toDF()
      .writeStream.format("memory").queryName("s_nest_star_parity")
      .outputMode("append").start()
    inS.addData(evs.take(7)); qS.processAllAvailable() // split mid-chain
    inS.addData(evs.drop(7)); qS.processAllAvailable()
    inS.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); qS.processAllAvailable()
    inS.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); qS.processAllAvailable(); qS.stop()
    val streamingStar = spark.table("s_nest_star_parity")
      .as[graft.streaming.NestMatch].collect()
      .map(m => (m.user_id, m.first_ts, m.grp_first_ts, m.grp_last_ts,
        m.n_reps, m.n_inner))
      .toSet
    assert(streamingStar == batchStar && batchStar == Set(
      (1L, at(0), at(5), at(35), 2L, 3L),
      (3L, at(0), at(5), at(15), 1L, 1L),
      (5L, at(0), at(5), at(16), 2L, 2L),
      (6L, at(0), at(5), at(12), 1L, 1L),
      (7L, at(0), at(2), at(12), 3L, 0L)),
      s"streamingStar=$streamingStar batchStar=$batchStar")
  }

  test("followedByNestedNGroup at DEPTH 5 — nesting depth is a parameter, " +
       "not a compile branch (r18): counts and ALL ROWS at every level") {
    val evs = Seq(
      (1L, at(0), "s"),
      (1L, at(2), "b"), (1L, at(4), "c"), (1L, at(6), "v"),
      (1L, at(8), "b"), (1L, at(10), "c"), (1L, at(12), "v"),
      (1L, at(14), "w"), (1L, at(16), "x"), (1L, at(18), "y"), (1L, at(20), "z")
    ).toDF("user_id", "ts", "event_type")
    def pat = Pattern.begin("s", $"event_type" === "s")
      .followedByNestedNGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq(Seq("v" -> ($"event_type" === "v")),
            Seq("w" -> ($"event_type" === "w")),
            Seq("x" -> ($"event_type" === "x")),
            Seq("y" -> ($"event_type" === "y")),
            Seq("z" -> ($"event_type" === "z"))))
      .oneOrMore()
    val m = pat.within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_mid4_n",
        $"g_mid3_n", $"g_mid2_n", $"g_mid_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(m == Set((1L, at(2), at(20), 1L, 1L, 1L, 1L, 2L, 2L)), m.toString)
    // ALL ROWS at depth 5: one running count per level on every row; the
    // final closer of each level counts its own unit
    val rows = pat.materializeNestedRows().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select(explode($"g_rows").as("r"))
      .select($"r.ts", $"r.cls", $"r.reps", $"r.mids4", $"r.mids3",
        $"r.mids2", $"r.mids", $"r.subs")
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Long)]
      .collect().toSet
    assert(rows == Set(
      (at(2), "b", 0L, 0L, 0L, 0L, 0L, 0L),
      (at(4), "c", 0L, 0L, 0L, 0L, 0L, 1L),
      (at(6), "v", 0L, 0L, 0L, 0L, 1L, 1L),
      (at(8), "b", 0L, 0L, 0L, 0L, 1L, 1L),
      (at(10), "c", 0L, 0L, 0L, 0L, 1L, 2L),
      (at(12), "v", 0L, 0L, 0L, 0L, 2L, 2L),
      (at(14), "w", 0L, 0L, 0L, 1L, 2L, 2L),
      (at(16), "x", 0L, 0L, 1L, 1L, 2L, 2L),
      (at(18), "y", 0L, 1L, 1L, 1L, 2L, 2L),
      (at(20), "z", 1L, 1L, 1L, 1L, 2L, 2L)), rows.toString)
  }

  test("batch followedByNestedNGroup and streaming cepPatternNestedNGroup " +
       "agree at depth 5 AND reproduce the depth-2 twin on its corpus — " +
       "the twin convention is depth-parametric on both sides") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // depth-5 corpus: the depth-parametric spec's two-L1-rep chain, plus
    // a second key exercising two OUTER repetitions through five levels
    val all = Seq(
      (1L, at(0), "s"),
      (1L, at(2), "b"), (1L, at(4), "c"), (1L, at(6), "v"),
      (1L, at(8), "b"), (1L, at(10), "c"), (1L, at(12), "v"),
      (1L, at(14), "w"), (1L, at(16), "x"), (1L, at(18), "y"), (1L, at(20), "z"),
      (2L, at(0), "s"), (2L, at(2), "b"), (2L, at(4), "c"), (2L, at(6), "v"),
      (2L, at(8), "w"), (2L, at(10), "x"), (2L, at(12), "y"), (2L, at(14), "z"),
      (2L, at(16), "b"), (2L, at(18), "c"), (2L, at(20), "v"),
      (2L, at(22), "w"), (2L, at(24), "x"), (2L, at(26), "y"), (2L, at(28), "z"))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByNestedNGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq(Seq("v" -> ($"event_type" === "v")),
            Seq("w" -> ($"event_type" === "w")),
            Seq("x" -> ($"event_type" === "x")),
            Seq("y" -> ($"event_type" === "y")),
            Seq("z" -> ($"event_type" === "z"))))
      .oneOrMore().within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n",
        array($"g_mid4_n", $"g_mid3_n", $"g_mid2_n", $"g_mid_n"), $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Seq[Long], Long)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternNestedNGroup(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        Seq(_.event_type == "v", _.event_type == "w", _.event_type == "x",
            _.event_type == "y", _.event_type == "z"), HOUR).toDF()
      .writeStream.format("memory").queryName("s_nestn_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(14)); q.processAllAvailable()
    in.addData(scala.util.Random.shuffle(evs.drop(14))); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_nestn_parity")
      .as[graft.streaming.NestNMatch].collect()
      .map(m => (m.user_id, m.grp_first_ts, m.grp_last_ts, m.n_reps,
        m.level_counts, m.n_inner))
      .toSet
    assert(streaming == batch && batch == Set(
      (1L, at(2), at(20), 1L, Seq(1L, 1L, 1L, 2L), 2L),
      (2L, at(2), at(28), 2L, Seq(2L, 2L, 2L, 2L), 2L)),
      s"streaming=$streaming batch=$batch")
    // depth-2 through the N twin reproduces the DEDICATED depth-2 twin's
    // corpus results (the m39-shape parity corpus, counts columns)
    val all2 = Seq(
      (4L, at(0), "s"), (4L, at(2), "b"), (4L, at(4), "c"), (4L, at(6), "b"),
      (4L, at(8), "v"), (4L, at(10), "w"),
      (4L, at(12), "b"), (4L, at(14), "c"), (4L, at(16), "w"),
      (4L, at(18), "v"), (4L, at(20), "w"))
    val batch2 = Pattern.begin("s", $"event_type" === "s")
      .followedByNested2Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")))
      .oneOrMore().within(HOUR)
      .detect(all2.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_mid_n",
        $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long, Long)].collect().toSet
    val in2 = MemoryStream[graft.streaming.Event]
    val q2 = StreamOps.cepPatternNestedNGroup(in2.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        Seq(_.event_type == "v", _.event_type == "w"), HOUR).toDF()
      .writeStream.format("memory").queryName("s_nestn2_parity")
      .outputMode("append").start()
    in2.addData(all2.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) })
    q2.processAllAvailable()
    in2.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q2.processAllAvailable()
    in2.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q2.processAllAvailable(); q2.stop()
    val streaming2 = spark.table("s_nestn2_parity")
      .as[graft.streaming.NestNMatch].collect()
      .map(m => (m.user_id, m.grp_first_ts, m.grp_last_ts, m.n_reps,
        m.level_counts.head, m.n_inner))
      .toSet
    assert(streaming2 == batch2 &&
      batch2 == Set((4L, at(2), at(20), 2L, 2L, 2L)),
      s"streaming2=$streaming2 batch2=$batch2")
    // depth 1 through the N entry points: ONE closing level is the
    // ((I...)+ T)+ shape of followedByNestedGroup / cepPatternNestedGroup
    // (key 5: two punctuated reps, a tail with no sub skipped, a dangling
    // sub; key 6: a tail before any sub skipped)
    val all1 = Seq(
      (5L, at(0), "s"), (5L, at(2), "b"), (5L, at(4), "c"), (5L, at(6), "b"),
      (5L, at(8), "c"), (5L, at(10), "v"), (5L, at(12), "v"), (5L, at(14), "b"),
      (5L, at(16), "c"), (5L, at(18), "v"), (5L, at(20), "b"),
      (6L, at(0), "s"), (6L, at(2), "v"), (6L, at(4), "b"), (6L, at(6), "c"),
      (6L, at(8), "v"))
    val inner1 = Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
    val tail1 = Seq("v" -> ($"event_type" === "v"))
    def batch1(p: Pattern) = p.oneOrMore().within(HOUR)
      .detect(all1.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    val viaN1 = batch1(Pattern.begin("s", $"event_type" === "s")
      .followedByNestedNGroup("g", inner1, Seq(tail1)))
    val via1 = batch1(Pattern.begin("s", $"event_type" === "s")
      .followedByNestedGroup("g", inner1, tail1))
    assert(viaN1 == via1 && via1 == Set(
      (5L, at(2), at(18), 2L, 3L), (6L, at(4), at(8), 1L, 1L)),
      s"viaN1=$viaN1 via1=$via1")
    def stream1(name: String,
                mk: org.apache.spark.sql.Dataset[StreamOps.Event] =>
                  org.apache.spark.sql.DataFrame) = {
      val in1 = MemoryStream[graft.streaming.Event]
      val q1 = mk(in1.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      in1.addData(all1.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) })
      q1.processAllAvailable()
      in1.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q1.processAllAvailable()
      in1.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q1.processAllAvailable()
      q1.stop()
      spark.table(name)
        .select($"user_id", $"grp_first_ts", $"grp_last_ts", $"n_reps", $"n_inner")
        .as[(Long, Timestamp, Timestamp, Long, Long)].collect().toSet
    }
    val streamN1 = stream1("s_nestn1_parity", ds =>
      StreamOps.cepPatternNestedNGroup(ds, "2 hours", _.event_type == "s",
        Seq(_.event_type == "b", _.event_type == "c"),
        Seq(_.event_type == "v"), HOUR).toDF())
    val streamD1 = stream1("s_nest1_parity", ds =>
      StreamOps.cepPatternNestedGroup(ds, "2 hours", _.event_type == "s",
        Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "v", HOUR).toDF())
    assert(streamN1 == streamD1 && streamD1 == via1,
      s"streamN1=$streamN1 streamD1=$streamD1 batch=$via1")
  }

  test("materializeNestedRows + bindGroup at DEPTH 3 (r18): per-row " +
       "vsum/vcnt snapshots resolve through three pending levels") {
    val evs = Seq(
      (2L, at(0), "s", 0.0), (2L, at(2), "b", 0.0), (2L, at(4), "c", 0.0),
      (2L, at(6), "v", 0.0), (2L, at(8), "w", 5.0), (2L, at(10), "x", 0.0),
      (2L, at(12), "b", 0.0), (2L, at(14), "c", 0.0), (2L, at(16), "v", 0.0),
      (2L, at(18), "w", 3.0), (2L, at(20), "x", 0.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val m = Pattern.begin("s", $"event_type" === "s")
      .followedByNested3Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")),
        Seq("x" -> ($"event_type" === "x")))
      .bindGroup("w", "value")
      .oneOrMore().materializeNestedRows().within(HOUR)
      .detect(evs, $"user_id", $"ts")
    val agg = m.select($"g_n", $"g_sum_w_value", $"g_cnt_w_value",
        $"g_first_w_value", $"g_last_w_value")
      .as[(Long, Double, Long, Double, Double)].collect().toSet
    assert(agg == Set((2L, 8.0, 2L, 5.0, 3.0)), agg.toString)
    val rows = m.select(explode($"g_rows").as("r"))
      .select($"r.ts", $"r.cls", element_at($"r.vsum", 1),
        element_at($"r.vcnt", 1), element_at($"r.vmin", 1),
        element_at($"r.vmax", 1))
      .as[(Timestamp, String, Option[Double], Long, Option[Double], Option[Double])]
      .collect().toSet
    // running MIN/MAX snapshots (r18): w@8 binds 5.0, w@18 binds 3.0 —
    // min drops to 3.0 only AT w@18, max stays 5.0
    assert(rows == Set(
      (at(2), "b", None, 0L, None, None), (at(4), "c", None, 0L, None, None),
      (at(6), "v", None, 0L, None, None),
      (at(8), "w", Some(5.0), 1L, Some(5.0), Some(5.0)),
      (at(10), "x", Some(5.0), 1L, Some(5.0), Some(5.0)),
      (at(12), "b", Some(5.0), 1L, Some(5.0), Some(5.0)),
      (at(14), "c", Some(5.0), 1L, Some(5.0), Some(5.0)),
      (at(16), "v", Some(5.0), 1L, Some(5.0), Some(5.0)),
      (at(18), "w", Some(8.0), 2L, Some(3.0), Some(5.0)),
      (at(20), "x", Some(8.0), 2L, Some(3.0), Some(5.0))), rows.toString)
  }

  test("tieBreak on a plain alternation step steers WHICH BRANCH " +
       "CLASSIFIES — lexicographic (ts, ties..., cls) binding (r18, " +
       "lifting the m20-era named rejection for the unquantified shape)") {
    // two equal-ts candidates of DIFFERENT branches: without a tiebreak
    // the binding is (ts, cls)-min — branch B; with tieBreak("value") the
    // lower-value candidate binds and the classifier follows it — branch C
    val evs = Seq(
      (1L, at(0), "s", 9.0), (1L, at(5), "b", 2.0), (1L, at(5), "c", 1.0),
      (1L, at(9), "p", 0.0)).toDF("user_id", "ts", "event_type", "value")
    def detectWith(tie: Boolean) = {
      var p = Pattern.begin("s", $"event_type" === "s")
        .followedByOneOf("x", "B" -> ($"event_type" === "b"),
          "C" -> ($"event_type" === "c"))
      if (tie) p = p.tieBreak("value")
      p.followedBy("p", $"event_type" === "p").within(HOUR)
        .detect(evs, $"user_id", $"ts")
    }
    val tied = detectWith(tie = true)
      .select($"x_cls", $"x_value").as[(String, Double)].collect().toSet
    assert(tied == Set(("C", 1.0)), tied.toString)
    val plain = detectWith(tie = false)
      .select($"x_cls").as[String].collect().toSet
    assert(plain == Set("B"), plain.toString)
    // quantified alternation + tieBreak stays out of the SQL front door
    // (per-branch counts), but the Pattern API's run tieBreak is the run
    // VALUE steering — unchanged, pinned elsewhere (m25)
  }

  test("batch followedByNested2Group and streaming cepPatternNested2Group " +
       "agree (micro-batch splits, out-of-order delivery, per-level " +
       "discards, ALL ROWS twin)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // unit scenarios: two-level punctuated repetitions (user 1), no tail
    // (2), tail before any mid skipped (3), in-progress sub discarded at a
    // mid close + completed-but-unabsorbed level-1 rep discarded at a tail
    // close + mid-less tail skipped (4), dangling level-1 rep at window
    // end (5)
    val all = Seq(
      (1L, at(0), "s"), (1L, at(2), "b"), (1L, at(4), "c"),
      (1L, at(6), "b"), (1L, at(8), "c"), (1L, at(10), "v"),
      (1L, at(12), "b"), (1L, at(14), "c"), (1L, at(16), "v"),
      (1L, at(18), "w"),
      (1L, at(20), "b"), (1L, at(22), "c"), (1L, at(24), "v"), (1L, at(26), "w"),
      (2L, at(0), "s"), (2L, at(2), "b"), (2L, at(4), "c"), (2L, at(6), "v"),
      (3L, at(0), "s"), (3L, at(2), "b"), (3L, at(4), "c"), (3L, at(6), "w"),
      (4L, at(0), "s"), (4L, at(2), "b"), (4L, at(4), "c"), (4L, at(6), "b"),
      (4L, at(8), "v"), (4L, at(10), "w"),
      (4L, at(12), "b"), (4L, at(14), "c"), (4L, at(16), "w"),
      (4L, at(18), "v"), (4L, at(20), "w"),
      (5L, at(0), "s"), (5L, at(2), "b"), (5L, at(4), "c"), (5L, at(6), "v"),
      (5L, at(8), "w"), (5L, at(10), "b"), (5L, at(12), "c"), (5L, at(14), "v"))
    def batchPat(rows: Boolean, innerOpt: Boolean = false) = {
      var p = Pattern.begin("s", $"event_type" === "s")
        .followedByNested2Group("g",
          Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
          Seq("v" -> ($"event_type" === "v")),
          Seq("w" -> ($"event_type" === "w")), innerOptional = innerOpt)
        .oneOrMore()
      if (rows) p = p.materializeNestedRows()
      p.within(HOUR)
        .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
    }
    val batch = batchPat(rows = false)
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n",
        $"g_mid_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Long, Long)]
      .collect().toSet
    val batchRows = batchPat(rows = true)
      .select($"key", $"s_ts", explode($"g_rows").as("r"))
      .select($"key", $"s_ts", $"r.ts", $"r.cls", $"r.reps", $"r.mids", $"r.subs")
      .as[(Long, Timestamp, Timestamp, String, Long, Long, Long)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternNested2Group(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "v", _.event_type == "w", HOUR,
        materializeRows = true, innerNames = Seq("b", "c"),
        midName = "v", tailName = "w").toDF()
      .writeStream.format("memory").queryName("s_nest2_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    // split mid-chain AND deliver the second batch out of order: the
    // watermark buffer re-sorts, so intra-batch arrival order must not
    // matter
    in.addData(evs.take(13)); q.processAllAvailable()
    in.addData(scala.util.Random.shuffle(evs.drop(13))); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val matches = spark.table("s_nest2_parity")
      .as[graft.streaming.Nest2Match].collect()
    val streaming = matches
      .map(m => (m.user_id, m.first_ts, m.grp_first_ts, m.grp_last_ts,
        m.n_reps, m.n_mids, m.n_inner))
      .toSet
    val streamingRows = matches.flatMap(m => m.rows.map(r =>
      (m.user_id, m.first_ts, r.ts, r.cls, r.reps, r.mids, r.subs))).toSet
    assert(streamingRows == batchRows,
      s"rows: streaming=$streamingRows batch=$batchRows")
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(2), at(26), 2L, 3L, 4L),
      (4L, at(0), at(2), at(20), 2L, 2L, 2L),
      (5L, at(0), at(2), at(8), 1L, 1L, 1L)),
      s"streaming=$streaming batch=$batch")
    // hand-pinned per-event rows for the discard user: b@6 (in-progress
    // sub at the v@8 close) and w@16 (mid-less tail) bind nothing
    val u4rows = batchRows.filter(_._1 == 4L).map(r => (r._3, r._4, r._5, r._6, r._7))
    assert(u4rows == Set(
      (at(2), "b", 0L, 0L, 0L), (at(4), "c", 0L, 0L, 1L),
      (at(8), "v", 0L, 1L, 1L), (at(10), "w", 1L, 1L, 1L),
      (at(12), "b", 1L, 1L, 1L), (at(14), "c", 1L, 1L, 2L),
      (at(18), "v", 1L, 2L, 2L), (at(20), "w", 2L, 2L, 2L)), u4rows.toString)

    // INNER '*' twin parity: zero-sub mid-first repetitions (user 7 shape)
    val all7 = all ++ Seq((7L, at(0), "s"), (7L, at(2), "v"), (7L, at(4), "v"),
      (7L, at(6), "w"))
    val batchStar = Pattern.begin("s", $"event_type" === "s")
      .followedByNested2Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")), innerOptional = true)
      .oneOrMore().within(HOUR)
      .detect(all7.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n",
        $"g_mid_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Long, Long)]
      .collect().toSet
    val inS = MemoryStream[graft.streaming.Event]
    val qS = StreamOps.cepPatternNested2Group(inS.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "v", _.event_type == "w", HOUR,
        innerOptional = true).toDF()
      .writeStream.format("memory").queryName("s_nest2_star_parity")
      .outputMode("append").start()
    val evs7 = all7.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    inS.addData(evs7.take(9)); qS.processAllAvailable()
    inS.addData(evs7.drop(9)); qS.processAllAvailable()
    inS.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); qS.processAllAvailable()
    inS.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); qS.processAllAvailable(); qS.stop()
    val streamingStar = spark.table("s_nest2_star_parity")
      .as[graft.streaming.Nest2Match].collect()
      .map(m => (m.user_id, m.first_ts, m.grp_first_ts, m.grp_last_ts,
        m.n_reps, m.n_mids, m.n_inner))
      .toSet
    assert(streamingStar == batchStar &&
      batchStar.contains((7L, at(0), at(2), at(6), 1L, 2L, 0L)),
      s"streamingStar=$streamingStar batchStar=$batchStar")
  }

  test("depth-N nested-group walk refuses past maxEventsPerKey with the " +
       "depth-parametrized label (r17 advice: the shared branch used to " +
       "say depth-2 even for deeper groups)") {
    val evs = Seq(
      (2L, at(0), "s"), (2L, at(2), "b"), (2L, at(4), "c"), (2L, at(6), "v"),
      (2L, at(8), "w"), (2L, at(10), "x"),
      (2L, at(12), "b"), (2L, at(14), "c"), (2L, at(16), "v"),
      (2L, at(18), "w"), (2L, at(20), "x")
    ).toDF("user_id", "ts", "event_type")
    val p3 = Pattern.begin("s", $"event_type" === "s")
      .followedByNested3Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")),
        Seq("x" -> ($"event_type" === "x")))
      .oneOrMore().within(HOUR)
    val e = intercept[Exception] {
      p3.detect(evs, $"user_id", $"ts", maxEventsPerKey = 2).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(8).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("maxEventsPerKey") &&
      msgs.contains("depth-3 nested group") &&
      msgs.contains("4-level chain walk"), msgs)
  }

  test("batch depth-2 bindGroup values and streaming " +
       "cepPatternNested2Group(valueInnerIdx) agree — two-level value " +
       "pending with discards at both levels") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // outer rep 1: two level-1 reps with C values 10, 20; a mid-less
    // tail @20 is skipped; outer rep 2 absorbs the value-5 rep; the
    // value-99 sub's level-1 rep never closes — its value must be absent
    val all = Seq(
      (9L, at(0), "s", 0.0), (9L, at(2), "b", 0.0), (9L, at(4), "c", 10.0),
      (9L, at(6), "v", 0.0), (9L, at(8), "b", 0.0), (9L, at(10), "c", 20.0),
      (9L, at(12), "v", 0.0), (9L, at(14), "w", 0.0),
      (9L, at(16), "b", 0.0), (9L, at(18), "c", 5.0), (9L, at(20), "w", 0.0),
      (9L, at(22), "v", 0.0), (9L, at(24), "w", 0.0),
      (9L, at(26), "b", 0.0), (9L, at(28), "c", 99.0), (9L, at(30), "v", 0.0))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByNested2Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")))
      .bindGroup("c", "value")
      .oneOrMore().within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"),
        $"user_id", $"ts")
      .select($"key", $"g_n", $"g_mid_n", $"g_inner_n", $"g_sum_c_value",
        $"g_min_c_value", $"g_max_c_value", $"g_first_c_value",
        $"g_last_c_value", $"g_cnt_c_value")
      .as[(Long, Long, Long, Long, Double, Double, Double, Double, Double, Long)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternNested2Group(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "v", _.event_type == "w", HOUR,
        valueInnerIdx = 1).toDF()
      .writeStream.format("memory").queryName("s_nest2_vals_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(9)); q.processAllAvailable()
    in.addData(evs.drop(9)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_nest2_vals_parity")
      .as[graft.streaming.Nest2Match].collect()
      .map(m => (m.user_id, m.n_reps, m.n_mids, m.n_inner, m.v_sum.get,
        m.v_min.get, m.v_max.get, m.v_first.get, m.v_last.get, m.v_cnt))
      .toSet
    assert(streaming == batch && batch == Set(
      (9L, 2L, 3L, 3L, 35.0, 5.0, 20.0, 10.0, 5.0, 3L)),
      s"streaming=$streaming batch=$batch")
  }

  test("batch followedByNested3Group and streaming cepPatternNested3Group " +
       "agree (three-level chains, rejection-equals-arrival-order, " +
       "per-level discards)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: one outer rep holding 3 level-2 reps / 4 level-1 reps /
    // 5 subs (the m48 hand-walk); user 2: the outer-rejection corpus —
    // in ARRIVAL ORDER the x@10 close needs no rejection machinery at
    // all, which is the causality argument in one corpus; user 3:
    // dangling level-2 rep (no x) emits nothing
    val all = Seq(
      (1L, at(0), "s"), (1L, at(2), "b"), (1L, at(4), "c"),
      (1L, at(5), "b"), (1L, at(6), "c"), (1L, at(8), "v"),
      (1L, at(10), "b"), (1L, at(12), "c"), (1L, at(14), "v"),
      (1L, at(15), "w"),
      (1L, at(16), "b"), (1L, at(18), "c"), (1L, at(20), "v"), (1L, at(22), "w"),
      (1L, at(24), "b"), (1L, at(26), "c"), (1L, at(28), "v"), (1L, at(30), "w"),
      (1L, at(40), "x"),
      (2L, at(0), "s"), (2L, at(2), "b"), (2L, at(4), "c"), (2L, at(6), "v"),
      (2L, at(8), "w"), (2L, at(10), "x"),
      (2L, at(12), "b"), (2L, at(14), "c"), (2L, at(16), "v"),
      (2L, at(18), "w"), (2L, at(20), "x"),
      (3L, at(0), "s"), (3L, at(2), "b"), (3L, at(4), "c"), (3L, at(6), "v"),
      (3L, at(8), "w"))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByNested3Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")),
        Seq("x" -> ($"event_type" === "x")))
      .oneOrMore().within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n",
        $"g_mid2_n", $"g_mid_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Long, Long, Long)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternNested3Group(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "v", _.event_type == "w", _.event_type == "x",
        HOUR).toDF()
      .writeStream.format("memory").queryName("s_nest3_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(12)); q.processAllAvailable() // split mid-chain
    in.addData(scala.util.Random.shuffle(evs.drop(12))); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_nest3_parity")
      .as[graft.streaming.Nest3Match].collect()
      .map(m => (m.user_id, m.first_ts, m.grp_first_ts, m.grp_last_ts,
        m.n_reps, m.n_mids2, m.n_mids, m.n_inner))
      .toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(2), at(40), 1L, 3L, 4L, 5L),
      (2L, at(0), at(2), at(20), 2L, 2L, 2L, 2L)),
      s"streaming=$streaming batch=$batch")
  }

  test("batch bindInnerResidual and streaming cepPatternNestedGroupIter " +
       "agree (per-partial threshold; NaN threshold never binds)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // thr = 2 * s.value. Key 1 (thr 20): c@3 (15) fails, the b@2 sub
    // completes at c@6 (25) — v@4 cannot close (no completed sub) and
    // v@7 closes one long repetition. Key 2 (thr 2): the sub completes
    // at c@3 -> v@4 closes; the NEXT repetition's sub (b@5, c@6) -> v@7
    // closes (n=2). Key 3: null threshold -> no subs, no match.
    val all = Seq(
      (1L, 10.0), (2L, 1.0), (3L, Double.NaN)
    ).flatMap { case (k, sv) =>
      Seq((k, at(0), "s", sv), (k, at(2), "b", 0.0), (k, at(3), "c", 15.0),
        (k, at(4), "v", 100.0), (k, at(5), "b", 0.0), (k, at(6), "c", 25.0),
        (k, at(7), "v", 200.0))
    }
    val batchDf = all.map { case (k, t, e, v) =>
      (k, t, e, if (v.isNaN) null else java.lang.Double.valueOf(v))
    }.toDF("user_id", "ts", "event_type", "value")
    val batch = Pattern.begin("s", $"event_type" === "s")
      .bind("value")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
      .bindInnerResidual("c", "value", ">", col("s_value") * 2)
      .oneOrMore().within(HOUR)
      .detect(batchDf, $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Long)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    // the streaming Event's value rides the residual: C events carry their
    // own value; the anchor's threshold is read once at partial creation
    val q = StreamOps.cepPatternNestedGroupIter(in.toDS(), "2 hours",
        _.event_type == "s", e => 2 * e.value,
        Seq((e, _) => e.event_type == "b",
            (e, thr) => e.event_type == "c" && e.value > thr),
        _.event_type == "v", HOUR).toDF()
      .writeStream.format("memory").queryName("s_nest_iter_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(8)); q.processAllAvailable()
    in.addData(evs.drop(8)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_nest_iter_parity")
      .as[graft.streaming.NestMatch].collect()
      .map(m => (m.user_id, m.first_ts, m.grp_first_ts, m.grp_last_ts,
        m.n_reps, m.n_inner))
      .toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(2), at(7), 1L, 1L),
      (2L, at(0), at(2), at(7), 2L, 2L)),
      s"streaming=$streaming batch=$batch")
  }

  test("batch bindGroup values and streaming cepPatternGroup(valueSubIdx) agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      (1L, at(0), "s", 0.0), (1L, at(5), "b", 1.0), (1L, at(10), "c", 4.0),
      (1L, at(15), "b", 2.0), (1L, at(20), "c", 6.0), (1L, at(25), "u", 0.0),
      (2L, at(0), "s", 0.0), (2L, at(5), "b", 9.0), (2L, at(10), "c", 3.0),
      (2L, at(12), "u", 0.0))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .bindGroup("c", "value")
      .oneOrMore()
      .followedBy("u", $"event_type" === "u")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"g_n", $"g_sum_c_value", $"g_min_c_value",
        $"g_max_c_value", $"g_first_c_value", $"g_last_c_value", $"u_ts")
      .as[(Long, Long, Double, Double, Double, Double, Double, Timestamp)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternGroup(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "u", HOUR, valueSubIdx = 1).toDF()
      .writeStream.format("memory").queryName("s_grpval_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(6)); q.processAllAvailable() // split mid-chain
    in.addData(evs.drop(6)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_grpval_parity").as[graft.streaming.GrpMatch]
      .collect().map(m => (m.user_id, m.rep_n, m.rep_sum_value.get,
        m.rep_min_value.get, m.rep_max_value.get, m.rep_first_value.get,
        m.rep_last_value.get, m.last_ts)).toSet
    assert(streaming == batch && batch == Set(
      (1L, 2L, 10.0, 4.0, 6.0, 4.0, 6.0, at(25)),
      (2L, 1L, 3.0, 3.0, 3.0, 3.0, 3.0, at(12))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch (B|C)+ branch counts and streaming cepPatternOneOrMore agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      (1L, at(0), "s", 0.0), (1L, at(5), "b", 0.0), (1L, at(10), "c", 0.0),
      (1L, at(15), "b", 0.0), (1L, at(20), "u", 0.0),
      (2L, at(0), "s", 0.0), (2L, at(5), "c", 0.0), (2L, at(10), "u", 0.0))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByOneOf("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .oneOrMore()
      .followedBy("u", $"event_type" === "u")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"g_n", $"g_n_b", $"g_n_c", $"u_ts")
      .as[(Long, Long, Long, Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "2 hours",
        _.event_type == "s", e => e.event_type == "b" || e.event_type == "c",
        _.event_type == "u", HOUR,
        branchPreds = Seq(_.event_type == "b", _.event_type == "c")).toDF()
      .writeStream.format("memory").queryName("s_altrun_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(4)); q.processAllAvailable()
    in.addData(evs.drop(4)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_altrun_parity").as[graft.streaming.RunMatch]
      .collect().map(m => (m.user_id, m.run_n, m.branch_counts(0),
        m.branch_counts(1), m.last_ts)).toSet
    assert(streaming == batch && batch == Set(
      (1L, 3L, 2L, 1L, at(20)),
      (2L, 1L, 0L, 1L, at(10))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch followedByRun(offset=2) and streaming cepPatternRun(offset=2) agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: one long segment then a violation closes the run;
    // user 2: the anchor lands MID-SEGMENT — the member after the binding
    // is checked against a PRE-binding segment value (8 < 9 would pass a
    // naive run-local walk as an unchecked second member, but 12 !< 9
    // restarts the key-global segment, so batch keeps n = 1)
    val all = Seq(
      (1L, at(0), "s", 0.0), (1L, at(5), "d", 10.0), (1L, at(10), "d", 9.0),
      (1L, at(15), "d", 8.0), (1L, at(20), "d", 7.0), (1L, at(25), "d", 12.0),
      (1L, at(30), "u", 0.0),
      (2L, at(5), "d", 10.0), (2L, at(10), "d", 9.0), (2L, at(12), "s", 0.0),
      (2L, at(15), "d", 8.0), (2L, at(20), "d", 12.0), (2L, at(25), "u", 0.0))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByRun("d", $"event_type" === "d", "value", _ < _, offset = 2)
      .followedBy("u", $"event_type" === "u")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"d_first_ts", $"d_last_ts", $"d_n", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternRun(in.toDS(), "2 hours",
        _.event_type == "s", _.event_type == "d", _ < _,
        _.event_type == "u", HOUR, offset = 2).toDF()
      .writeStream.format("memory").queryName("s_vrun2_parity")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(7)); q.processAllAvailable()
    in.addData(evs.drop(7)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_vrun2_parity").as[graft.streaming.VRunMatch]
      .collect().map(m => (m.user_id, m.first_ts, m.run_first_ts,
        m.run_last_ts, m.run_n, m.last_ts)).toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(5), at(20), 4L, at(30)),
      (2L, at(12), at(15), at(15), 1L, at(25))),
      s"streaming=$streaming batch=$batch")
  }

  test("late events ahead of the watermark: run/group streaming twins match batch") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // V-shape: D@10 (7.0) arrives AFTER D@15 (4.0) and the U — processed in
    // arrival order the 7.0 would be a violation against 4.0 and the held
    // close would emit a 2-member run; batch (and event-time order) sees
    // 9 > 7 > 4: a 3-member run
    val vAll = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(5), "click", 9.0),
      (1L, at(10), "click", 7.0), (1L, at(15), "click", 4.0),
      (1L, at(20), "purchase", 0.0))
    val vBatch = Pattern.begin("s", $"event_type" === "signup")
      .followedByRun("d", $"event_type" === "click", "value", _ < _)
      .bindRun("value")
      .followedBy("u", $"event_type" === "purchase")
      .within(HOUR)
      .detect(vAll.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"d_first_ts", $"d_last_ts", $"d_n", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val vin = MemoryStream[graft.streaming.Event]
    val vq = StreamOps.cepPatternRun(vin.toDS(), "2 hours",
        _.event_type == "signup", _.event_type == "click", _ < _,
        _.event_type == "purchase", HOUR).toDF()
      .writeStream.format("memory").queryName("s_vrun_late").outputMode("append").start()
    val vevs = vAll.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    vin.addData(vevs.filterNot(_.ts == at(10))); vq.processAllAvailable()
    vin.addData(vevs.filter(_.ts == at(10))); vq.processAllAvailable() // the late D
    vin.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); vq.processAllAvailable()
    vin.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); vq.processAllAvailable(); vq.stop()
    val vStreaming = spark.table("s_vrun_late").as[graft.streaming.VRunMatch].collect()
      .map(m => (m.user_id, m.first_ts, m.run_first_ts, m.run_last_ts, m.run_n, m.last_ts))
      .toSet
    assert(vStreaming == vBatch &&
      vBatch == Set((1L, at(0), at(5), at(15), 3L, at(20))),
      s"streaming=$vStreaming batch=$vBatch")
    // group chain: the c@15 completing repetition 2 arrives after the u@20 —
    // processed in arrival order the completion would invalidate the held
    // close and the match would vanish; batch binds u@20 after repetition 2
    val gAll = Seq(
      (2L, at(0), "s"), (2L, at(5), "b"), (2L, at(10), "c"),
      (2L, at(11), "b"), (2L, at(15), "c"), (2L, at(20), "u"))
    val gBatch = Pattern.begin("s", $"event_type" === "s")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .oneOrMore()
      .followedBy("u", $"event_type" === "u")
      .within(HOUR)
      .detect(gAll.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"u_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val gin = MemoryStream[graft.streaming.Event]
    val gq = StreamOps.cepPatternGroup(gin.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "u", HOUR).toDF()
      .writeStream.format("memory").queryName("s_grp_late").outputMode("append").start()
    val gevs = gAll.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    gin.addData(gevs.filterNot(_.ts == at(15))); gq.processAllAvailable()
    gin.addData(gevs.filter(_.ts == at(15))); gq.processAllAvailable() // the late c
    gin.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); gq.processAllAvailable()
    gin.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); gq.processAllAvailable(); gq.stop()
    val gStreaming = spark.table("s_grp_late").as[graft.streaming.GrpMatch].collect()
      .map(m => (m.user_id, m.first_ts, m.rep_first_ts, m.rep_last_ts, m.rep_n, m.last_ts))
      .toSet
    assert(gStreaming == gBatch &&
      gBatch == Set((2L, at(0), at(5), at(15), 2L, at(20))),
      s"streaming=$gStreaming batch=$gBatch")
  }

  test("batch timesRange and streaming cepPatternSteps range agree ({1,3} greedy)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // u1: full greedy consumption (3 of 3); u2: only the mandatory
    // expansion binds (null tail emitted at expiry); u3: mandatory missing
    // -> no match; u4: greedy — the b@10 kills the early c@8 skip-match
    // and binds expansion 2, c then binds at 30
    val all = Seq(
      (1L, at(0), "s"), (1L, at(5), "b"), (1L, at(10), "b"),
      (1L, at(15), "b"), (1L, at(20), "b"), (1L, at(25), "c"),
      (2L, at(0), "s"), (2L, at(5), "b"), (2L, at(10), "c"),
      (3L, at(0), "s"), (3L, at(5), "c"),
      (4L, at(0), "s"), (4L, at(5), "b"), (4L, at(8), "c"),
      (4L, at(10), "b"), (4L, at(30), "c"))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedBy("b", $"event_type" === "b").timesRange(1, 3)
      .followedBy("c", $"event_type" === "c")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"b_1_ts", $"b_2_ts", $"b_3_ts", $"c_ts")
      .as[(Long, Timestamp, Timestamp, Option[Timestamp], Option[Timestamp], Timestamp)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "s"),
        StreamOps.CepStep(_.event_type == "b", times = 1, timesTo = 3),
        StreamOps.CepStep(_.event_type == "c")), HOUR).toDF()
      .writeStream.format("memory").queryName("s_range_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(7)); q.processAllAvailable() // split mid-expansion
    in.addData(evs.drop(7)); q.processAllAvailable()
    // null-tail matches hold until the window closes
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_range_parity").as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1), Option(m.step_ts(2)),
        Option(m.step_ts(3)), m.step_ts(4))).toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(5), Some(at(10)), Some(at(15)), at(25)),
      (2L, at(0), at(5), None, None, at(10)),
      (4L, at(0), at(5), Some(at(10)), None, at(30))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch group zeroOrMore and streaming cepPatternGroup allowEmpty agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: one repetition; user 2: empty chain (no b/c at all); user 3:
    // incomplete repetition (lone b) binds nothing -> empty chain; user 4:
    // the early u@5 empty-candidate is INVALIDATED by the repetition
    // completing at 15, the u@20 then closes the chain
    val all = Seq(
      (1L, at(0), "s"), (1L, at(5), "b"), (1L, at(10), "c"), (1L, at(15), "u"),
      (2L, at(0), "s"), (2L, at(15), "u"),
      (3L, at(0), "s"), (3L, at(5), "b"), (3L, at(15), "u"),
      (4L, at(0), "s"), (4L, at(5), "u"), (4L, at(10), "b"), (4L, at(15), "c"),
      (4L, at(20), "u"))
    val batch = Pattern.begin("s", $"event_type" === "s")
      .followedByGroup("g", "b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c"))
      .zeroOrMore()
      .followedBy("u", $"event_type" === "u")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"s_ts", $"g_first_ts", $"g_last_ts", $"g_n", $"u_ts")
      .as[(Long, Timestamp, Option[Timestamp], Option[Timestamp], Long, Timestamp)]
      .collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternGroup(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        _.event_type == "u", HOUR, allowEmpty = true).toDF()
      .writeStream.format("memory").queryName("s_grpstar_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(6)); q.processAllAvailable()
    in.addData(evs.drop(6)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_grpstar_parity").as[graft.streaming.GrpMatch].collect()
      .map(m => (m.user_id, m.first_ts, Option(m.rep_first_ts), Option(m.rep_last_ts),
        m.rep_n, m.last_ts)).toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), Some(at(5)), Some(at(10)), 1L, at(15)),
      (2L, at(0), None, None, 0L, at(15)),
      (3L, at(0), None, None, 0L, at(15)),
      (4L, at(0), Some(at(10)), Some(at(15)), 1L, at(20))),
      s"streaming=$streaming batch=$batch")
  }

  test("optional step: batch/streaming parity incl. skip-at-expiry and guard kill") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: click binds; user 2: no click ever -> skip-match (null click_ts)
    // emitted only at window expiry; user 3: a click EXISTS in-window but
    // after the purchase -> batch binds it and finds no later purchase (no
    // match), streaming's guard must kill the pending skip-match
    val all = Seq(
      (1L, at(0), "signup"), (1L, at(10), "click"), (1L, at(20), "purchase"),
      (2L, at(0), "signup"), (2L, at(15), "purchase"),
      (3L, at(0), "signup"), (3L, at(5), "purchase"), (3L, at(10), "click"))
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").optional()
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_ts", $"purchase_ts")
      .as[(Long, Timestamp, Option[Timestamp], Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    // 2h watermark delay so cross-batch events are never late-dropped (the
    // other parity tests' convention)
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "signup"),
        StreamOps.CepStep(_.event_type == "click", optional = true),
        StreamOps.CepStep(_.event_type == "purchase")), HOUR).toDF()
      .writeStream.format("memory").queryName("s_opt_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(4)); q.processAllAvailable() // split across micro-batches
    in.addData(evs.drop(4)); q.processAllAvailable()
    // push the watermark (flush_ts - 2h) past every window end, then one more
    // batch so the event-time timeouts fire and release pending skip-matches
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_opt_parity").as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), Option(m.step_ts(1)), m.step_ts(2))).toSet
    assert(streaming == batch &&
      batch == Set((1L, at(0), Some(at(10)), at(20)), (2L, at(0), None, at(15))),
      s"streaming=$streaming batch=$batch")
  }

  test("times(n) step: batch/streaming parity across micro-batch splits") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      (1L, at(0), "signup"), (1L, at(10), "click"), (1L, at(20), "click"), (1L, at(30), "purchase"),
      (2L, at(0), "signup"), (2L, at(5), "click"), (2L, at(15), "purchase"))
    val batch = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").times(2)
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type"), $"user_id", $"ts")
      .select($"key", $"signup_ts", $"click_1_ts", $"click_2_ts", $"purchase_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternSteps(in.toDS(), "2 hours", Seq(
        StreamOps.CepStep(_.event_type == "signup"),
        StreamOps.CepStep(_.event_type == "click", times = 2),
        StreamOps.CepStep(_.event_type == "purchase")), HOUR).toDF()
      .writeStream.format("memory").queryName("s_times_parity").outputMode("append").start()
    val evs = all.map { case (u, ts, t) => StreamOps.Event(u, ts, t, 0.0) }
    in.addData(evs.take(3)); q.processAllAvailable() // split mid-run
    in.addData(evs.drop(3)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_times_parity").as[graft.streaming.ExMatch].collect()
      .map(m => (m.user_id, m.step_ts(0), m.step_ts(1), m.step_ts(2), m.step_ts(3))).toSet
    assert(streaming == batch &&
      batch == Set((1L, at(0), at(10), at(20), at(30))),
      s"streaming=$streaming batch=$batch")
  }

  // user 1: signup(10)@0; purchase(15)@10 fails >2×, purchase(25)@20 binds
  // user 2: signup(5)@0; purchase(8)@10 never qualifies
  private lazy val valued = Seq(
    (1L, at(0), "signup", 10.0), (1L, at(10), "purchase", 15.0), (1L, at(20), "purchase", 25.0),
    (2L, at(0), "signup", 5.0), (2L, at(10), "purchase", 8.0)
  ).toDF("user_id", "ts", "event_type", "value")

  test("iterative condition binds the earliest event satisfying a relative predicate") {
    val m = Pattern.begin("signup", $"event_type" === "signup").bind("value")
      .followedByIterative("purchase", $"event_type" === "purchase",
        Pattern.ev("value") > Pattern.bound("signup", "value") * 2)
      .bind("value")
      .within(HOUR)
      .detect(valued, $"user_id", $"ts")
      .collect()
    assert(m.length == 1 && m.head.getAs[Long]("key") == 1L)
    assert(m.head.getAs[Timestamp]("purchase_ts") == at(20) &&
      m.head.getAs[Double]("purchase_value") == 25.0 &&
      m.head.getAs[Double]("signup_value") == 10.0,
      "the 15.0 purchase fails 2×10.0; the 25.0 one binds")
  }

  test("iterative notFollowedBy excludes relative continuations") {
    // match signups with NO purchase above 2× their value in-window:
    // user 1 has one (excluded), user 2 does not (kept)
    val m = Pattern.begin("signup", $"event_type" === "signup").bind("value")
      .notFollowedByIterative("purchase", $"event_type" === "purchase",
        Pattern.ev("value") > Pattern.bound("signup", "value") * 2)
      .within(HOUR)
      .detect(valued, $"user_id", $"ts")
      .collect()
    assert(m.map(_.getAs[Long]("key")).toSet == Set(2L))
  }

  test("batch iterative detect and streaming cepPatternIter agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val batch = Pattern.begin("signup", $"event_type" === "signup").bind("value")
      .followedByIterative("purchase", $"event_type" === "purchase",
        Pattern.ev("value") > Pattern.bound("signup", "value") * 2)
      .bind("value")
      .within(HOUR)
      .detect(valued, $"user_id", $"ts")
      .select($"key", $"signup_ts", $"signup_value", $"purchase_ts", $"purchase_value")
      .as[(Long, Timestamp, Double, Timestamp, Double)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternIter(in.toDS(), "10 seconds",
        Seq((e, _) => e.event_type == "signup",
          (e, prior) => e.event_type == "purchase" && e.value > 2 * prior.head.value),
        HOUR).toDF()
      .writeStream.format("memory").queryName("s_iter_parity").outputMode("append").start()
    val evs = valued.collect().map(r =>
      StreamOps.Event(r.getLong(0), r.getTimestamp(1), r.getString(2), r.getDouble(3)))
    in.addData(evs.take(2).toIndexedSeq); q.processAllAvailable() // split across batches
    in.addData(evs.drop(2).toIndexedSeq); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_iter_parity")
      .select($"user_id", $"step_ts"(0), $"step_value"(0), $"step_ts"(1), $"step_value"(1))
      .as[(Long, Timestamp, Double, Timestamp, Double)].collect().toSet
    assert(streaming == batch && batch.nonEmpty, s"streaming=$streaming batch=$batch")
  }

  test("timesRange(n,m) binds greedily up to m occurrences, null tail when fewer") {
    // user 1 has 2 clicks before the purchase (both bind); user 7 has 1
    // (tail expansion stays null, purchase binds after the single click)
    val ev7 = events.union(Seq(
      (7L, at(0), "signup"), (7L, at(10), "click"), (7L, at(30), "purchase")
    ).toDF("user_id", "ts", "event_type"))
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("click", $"event_type" === "click").timesRange(1, 2)
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(ev7, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Timestamp]("click_1_ts"),
        Option(r.getAs[Timestamp]("click_2_ts")), r.getAs[Timestamp]("purchase_ts"))).toSet
    assert(m == Set(
      (1L, at(10), Some(at(20)), at(30)), // greedy: both clicks consumed
      (7L, at(10), None, at(30))))
  }

  test("followedByOneOf binds the earliest of either branch and records the classifier") {
    val ev8 = Seq(
      (8L, at(0), "signup"), (8L, at(5), "view"), (8L, at(10), "click"), (8L, at(20), "purchase"),
      (9L, at(0), "signup"), (9L, at(7), "click"), (9L, at(15), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedByOneOf("x",
        "click" -> ($"event_type" === "click"),
        "view" -> ($"event_type" === "view"))
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(ev8, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Timestamp]("x_ts"),
        r.getAs[String]("x_cls"), r.getAs[Timestamp]("purchase_ts"))).toSet
    assert(m == Set((8L, at(5), "view", at(20)), (9L, at(7), "click", at(15))))
  }

  test("next() enforces strict contiguity: an intervening event breaks the match") {
    val ev = Seq(
      (11L, at(0), "signup"), (11L, at(5), "click"), (11L, at(10), "purchase"),
      (12L, at(0), "signup"), (12L, at(5), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val strict = Pattern.begin("signup", $"event_type" === "signup")
      .next("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(ev, $"user_id", $"ts")
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Timestamp]("purchase_ts"))).toSet
    assert(strict == Set((12L, at(5))), "user 11's click intervenes")
    val relaxed = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(ev, $"user_id", $"ts")
      .collect().map(_.getAs[Long]("key")).toSet
    assert(relaxed == Set(11L, 12L), "followedBy tolerates the gap")
  }

  test("notNext() rejects only when the IMMEDIATE successor matches; vacuous pass on none") {
    val ev = Seq(
      (13L, at(0), "signup"), (13L, at(5), "purchase"),              // immediate purchase: rejected
      (14L, at(0), "signup"), (14L, at(5), "click"), (14L, at(10), "purchase"), // click intervenes: kept
      (15L, at(0), "signup")                                          // nothing follows: kept
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .notNext("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(ev, $"user_id", $"ts")
      .collect().map(_.getAs[Long]("key")).toSet
    assert(m == Set(14L, 15L))
  }

  test("alternation classifier reports the FIRST declared branch on overlap") {
    val ev = Seq(
      (10L, at(0), "signup", 0.0), (10L, at(5), "click", 9.0)
    ).toDF("user_id", "ts", "event_type", "value")
    val m = Pattern.begin("signup", $"event_type" === "signup")
      .followedByOneOf("x",
        "highvalue" -> ($"value" > 5), // the click matches BOTH branches
        "click" -> ($"event_type" === "click"))
      .within(HOUR)
      .detect(ev, $"user_id", $"ts")
      .collect()
    assert(m.length == 1 && m.head.getAs[String]("x_cls") == "highvalue")
  }

  test("batch reps-array materialization and streaming rep_members agree (ALL ROWS group twin)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: two (C V) repetitions then a purchase; the flush event (user
    // 9, far future) pushes the watermark past every window
    val all = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(5), "click", 10.0),
      (1L, at(10), "view", 1.0), (1L, at(15), "click", 20.0),
      (1L, at(20), "view", 2.0), (1L, at(25), "purchase", 0.0),
      (9L, at(2000), "noop", 0.0))
    // batch: the m24 ALL ROWS expansion's member rows (cls, ts)
    val batch = graft.cep.MatchRecognize.detect(
      all.toDF("user_id", "ts", "event_type", "value"),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS s_ts
        |  ALL ROWS PER MATCH
        |  PATTERN (S (C V)+ P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .filter($"cls".isin("C", "V"))
      .select($"user_id", $"cls", $"ts")
      .as[(Long, String, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternGroup(in.toDS(), "10 seconds",
        _.event_type == "signup",
        Seq(_.event_type == "click", _.event_type == "view"),
        _.event_type == "purchase", HOUR, materializeRows = true).toDF()
      .writeStream.format("memory").queryName("s_grp_rows").outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(3)); q.processAllAvailable() // mid-chain batch split
    in.addData(evs.drop(3)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_grp_rows")
      .select($"user_id", $"rep_members")
      .as[(Long, Seq[Seq[Timestamp]])].collect()
      .flatMap { case (u, reps) => reps.flatMap(r =>
        r.zipWithIndex.map { case (ts, j) => (u, Seq("C", "V")(j), ts) }) }
      .toSet
    assert(streaming == batch && batch.size == 4,
      s"streaming=$streaming batch=$batch")
  }

  test("batch run tiebreak (min_by/max_by) and streaming tieOf agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // equal-ts members at BOTH run boundaries; tie = -value, so the
    // tiebreak must pick the LARGEST first value (5.0 at ts10) and the
    // tie-max last value (7.0 at ts15, not the plain value-max 9.0)
    val all = Seq(
      (1L, at(0), "signup", 0.0),
      (1L, at(10), "click", 5.0), (1L, at(10), "click", 1.0),
      (1L, at(15), "click", 7.0), (1L, at(15), "click", 9.0),
      (1L, at(20), "purchase", 0.0),
      (9L, at(2000), "noop", 0.0))
    val batch = graft.cep.MatchRecognize.detect(
      all.toDF("user_id", "ts", "event_type", "value")
        .withColumn("tie", -$"value"),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, tie
        |  MEASURES FIRST(D.value) AS f, LAST(D.value) AS l, COUNT(D.ts) AS n
        |  PATTERN (S D+ P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', D AS event_type = 'click',
        |         P AS event_type = 'purchase'
        |)""".stripMargin)
      .as[(Long, Double, Double, Long)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "10 seconds",
        _.event_type == "signup", _.event_type == "click",
        _.event_type == "purchase", HOUR, tieOf = e => -e.value).toDF()
      .writeStream.format("memory").queryName("s_tie_run").outputMode("append").start()
    in.addData(all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) })
    q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_tie_run")
      .select($"user_id", $"run_first_value", $"run_last_value", $"run_n")
      .as[(Long, Double, Double, Long)].collect().toSet
    assert(streaming == batch && batch == Set((1L, 5.0, 7.0, 4L)),
      s"streaming=$streaming batch=$batch")
  }

  test("batch group-member tiebreak and streaming cepPatternGroup tieOf agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // two equal-ts C candidates (8.0, 2.0): the (tie=-value) argmin binds
    // 8.0, where the default (value) argmin would bind 2.0
    val all = Seq(
      (1L, at(0), "signup", 0.0),
      (1L, at(5), "click", 8.0), (1L, at(5), "click", 2.0),
      (1L, at(10), "view", 1.0), (1L, at(15), "purchase", 0.0),
      (9L, at(2000), "noop", 0.0))
    val batch = graft.cep.MatchRecognize.detect(
      all.toDF("user_id", "ts", "event_type", "value")
        .withColumn("tie", -$"value"),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, tie
        |  MEASURES FIRST(C.value) AS fc, COUNT(C.ts) AS n
        |  PATTERN (S (C V)+ P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', C AS event_type = 'click',
        |         V AS event_type = 'view', P AS event_type = 'purchase'
        |)""".stripMargin)
      .as[(Long, Double, Long)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternGroup(in.toDS(), "10 seconds",
        _.event_type == "signup",
        Seq(_.event_type == "click", _.event_type == "view"),
        _.event_type == "purchase", HOUR, valueSubIdx = 0,
        tieOf = e => -e.value).toDF()
      .writeStream.format("memory").queryName("s_tie_grp").outputMode("append").start()
    in.addData(all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) })
    q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_tie_grp")
      .select($"user_id", $"rep_first_value", $"rep_n")
      .as[(Long, Double, Long)].collect().toSet
    assert(streaming == batch && batch == Set((1L, 8.0, 1L)),
      s"streaming=$streaming batch=$batch")
  }

  test("streamingLag matches the batch lag window across micro-batch splits") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      (1L, at(0), "view", 7.0), (1L, at(2), "view", 3.0),
      (2L, at(1), "view", 4.0), (2L, at(3), "click", 6.0),
      (1L, at(4), "signup", 0.0), (1L, at(6), "click", 10.0),
      (1L, at(8), "purchase", 5.0),
      (9L, at(2000), "noop", 0.0))
    val batch = all.toDF("user_id", "ts", "event_type", "value")
      .withColumn("lag_value", lag($"value", 2).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts")))
      .filter($"user_id" =!= 9L)
      .select($"user_id", $"ts", $"lag_value")
      .as[(Long, Timestamp, Option[Double])].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.streamingLag(in.toDS(), "10 seconds", 2).toDF()
      .writeStream.format("memory").queryName("s_lag").outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(4)); q.processAllAvailable() // split mid-key
    in.addData(evs.drop(4)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_lag")
      .filter($"user_id" =!= 9L)
      .select($"user_id", $"ts", $"lag_value")
      .as[(Long, Timestamp, Option[Double])].collect().toSet
    assert(streaming == batch && batch.size == 7,
      s"streaming=$streaming batch=$batch")
  }

  test("streaming run_members matches the batch ALL-ROWS run expansion") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val all = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(5), "click", 10.0),
      (1L, at(10), "click", 20.0), (1L, at(15), "purchase", 0.0),
      (9L, at(2000), "noop", 0.0))
    // batch: the m23 ALL ROWS member rows (cls = D)
    val batch = graft.cep.MatchRecognize.detect(
      all.toDF("user_id", "ts", "event_type", "value"),
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES S.ts AS s_ts
        |  ALL ROWS PER MATCH
        |  PATTERN (S D+ U)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE S AS event_type = 'signup', D AS event_type = 'click',
        |         U AS event_type = 'purchase'
        |)""".stripMargin)
      .filter($"cls" === "D").select($"user_id", $"ts")
      .as[(Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternOneOrMore(in.toDS(), "10 seconds",
        _.event_type == "signup", _.event_type == "click",
        _.event_type == "purchase", HOUR, materializeRows = true).toDF()
      .writeStream.format("memory").queryName("s_run_rows").outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(2)); q.processAllAvailable() // split mid-run
    in.addData(evs.drop(2)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_run_rows")
      .select($"user_id", explode($"run_members").as("ts"))
      .as[(Long, Timestamp)].collect().toSet
    assert(streaming == batch && batch == Set((1L, at(5)), (1L, at(10))),
      s"streaming=$streaming batch=$batch")
  }

  test("batch two-run pattern and streaming cepPatternTwoRuns agree") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // user 1: clicks 5,10 then views 15,20 then purchase 25; the click@18
    // lands AFTER the view run opened and must NOT count as a C member.
    // user 2 never purchases. Flush event pushes the watermark.
    val all = Seq(
      (1L, at(0), "signup", 0.0), (1L, at(5), "click", 1.0),
      (1L, at(10), "click", 2.0), (1L, at(15), "view", 3.0),
      (1L, at(18), "click", 9.0), (1L, at(20), "view", 4.0),
      (1L, at(25), "purchase", 0.0),
      (2L, at(0), "signup", 0.0), (2L, at(5), "click", 1.0),
      (2L, at(10), "view", 2.0),
      (9L, at(2000), "noop", 0.0))
    val batch = Pattern.begin("S", $"event_type" === "signup")
      .followedBy("C", $"event_type" === "click").oneOrMore()
      .followedBy("V", $"event_type" === "view").oneOrMore()
      .followedBy("P", $"event_type" === "purchase")
      .within(HOUR)
      .detect(all.toDF("user_id", "ts", "event_type", "value"), $"user_id", $"ts")
      .select($"key", $"S_ts", $"C_first_ts", $"C_last_ts", $"C_n",
        $"V_first_ts", $"V_last_ts", $"V_n", $"P_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long,
        Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternTwoRuns(in.toDS(), "10 seconds",
        _.event_type == "signup", _.event_type == "click",
        _.event_type == "view", _.event_type == "purchase", HOUR).toDF()
      .writeStream.format("memory").queryName("s_two_runs").outputMode("append").start()
    val evs = all.map { case (u, ts, t, v) => StreamOps.Event(u, ts, t, v) }
    in.addData(evs.take(4)); q.processAllAvailable() // split mid-run
    in.addData(evs.drop(4)); q.processAllAvailable(); q.stop()
    val streaming = spark.table("s_two_runs")
      .select($"user_id", $"first_ts", $"r1_first_ts", $"r1_last_ts", $"r1_n",
        $"r2_first_ts", $"r2_last_ts", $"r2_n", $"last_ts")
      .as[(Long, Timestamp, Timestamp, Timestamp, Long,
        Timestamp, Timestamp, Long, Timestamp)].collect().toSet
    assert(streaming == batch && batch == Set(
      (1L, at(0), at(5), at(10), 2L, at(15), at(20), 2L, at(25))),
      s"streaming=$streaming batch=$batch")
  }

  test("pattern joins stay keyed equi-joins (no cross product)") {
    val df = Pattern.begin("signup", $"event_type" === "signup")
      .followedBy("purchase", $"event_type" === "purchase")
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // iterative residuals and alternation classifiers must not change that:
    // the relative predicate rides the keyed equi-join as a filter
    val df2 = Pattern.begin("signup", $"event_type" === "signup").bind("value")
      .followedByIterative("purchase", $"event_type" === "purchase",
        Pattern.ev("value") > Pattern.bound("signup", "value") * 2)
      .within(HOUR)
      .detect(valued, $"user_id", $"ts")
    df2.collect()
    val p2 = df2.queryExecution.executedPlan.toString
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"), p2)
    val df3 = Pattern.begin("signup", $"event_type" === "signup")
      .followedByOneOf("x",
        "click" -> ($"event_type" === "click"), "view" -> ($"event_type" === "view"))
      .within(HOUR)
      .detect(events, $"user_id", $"ts")
    df3.collect()
    val p3 = df3.queryExecution.executedPlan.toString
    assert(!p3.contains("CartesianProduct") && !p3.contains("BroadcastNestedLoopJoin"), p3)
  }

  test("followedByAny emits EVERY in-window chain (flink-cep Pattern.java:322) " +
       "— brute-force property reference") {
    val evs = Seq(
      (1L, at(0), "a"), (1L, at(5), "b"), (1L, at(10), "b"), (1L, at(12), "c"),
      (1L, at(20), "c"), (1L, at(70), "c"), // 70 outside the 1h window of a@0? no: 70min > 60min — out
      (2L, at(0), "a"), (2L, at(3), "a"), (2L, at(8), "b"), (2L, at(9), "c"),
      (3L, at(0), "b"), (3L, at(4), "c") // no anchor: no match
    ).toDF("user_id", "ts", "event_type")
    val got = Pattern.begin("a", $"event_type" === "a")
      .followedByAny("b", $"event_type" === "b")
      .followedByAny("c", $"event_type" === "c")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select("key", "a_ts", "b_ts", "c_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getTimestamp(3))).toSet
    // brute force: every (a, b, c) with a.ts < b.ts < c.ts <= a.ts + window
    val raw = Seq(
      (1L, 0L, "a"), (1L, 5L, "b"), (1L, 10L, "b"), (1L, 12L, "c"),
      (1L, 20L, "c"), (1L, 70L, "c"),
      (2L, 0L, "a"), (2L, 3L, "a"), (2L, 8L, "b"), (2L, 9L, "c"),
      (3L, 0L, "b"), (3L, 4L, "c"))
    val want = (for {
      (k1, t1, "a") <- raw
      (k2, t2, "b") <- raw if k2 == k1 && t2 > t1 && t2 <= t1 + 60
      (k3, t3, "c") <- raw if k3 == k1 && t3 > t2 && t3 <= t1 + 60
    } yield (k1, at(t1), at(t2), at(t3))).toSet
    assert(got == want && want.size == 6, s"got $got\nwant $want")
    // bind() payload columns flow through the chain compile
    val withVals = Pattern.begin("a", $"event_type" === "a")
      .followedByAny("b", $"event_type" === "b").bind("event_type")
      .within(HOUR)
      .detect(evs.withColumn("event_type", $"event_type"), $"user_id", $"ts")
    assert(withVals.columns.contains("b_event_type") &&
      withVals.select("b_event_type").collect().forall(_.getString(0) == "b"))
    // mixing first-match and all-match branching is a named rejection
    val e = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedBy("b", $"event_type" === "b")
        .followedByAny("c", $"event_type" === "c"))
    assert(e.getMessage.contains("cannot mix"), e.getMessage)
    // ...and detectWithTimeouts keeps its match-only contract
    val eT = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedByAny("b", $"event_type" === "b")
        .within(HOUR).detectWithTimeouts(evs, $"user_id", $"ts"))
    assert(eT.getMessage.contains("all-matches"), eT.getMessage)
    // so is composing with notFollowedBy / after-match skip
    val e2 = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedByAny("b", $"event_type" === "b")
        .afterMatchSkipPastLastEvent()
        .within(HOUR).detect(evs, $"user_id", $"ts"))
    assert(e2.getMessage.contains("all-matches"), e2.getMessage)
  }

  test("ALL-MATCHES x groups: the named rejection carries the rewrite, and " +
       "the advertised flattening IS the bare-group all-matches object " +
       "(r19, VERDICT r18 stretch item 7)") {
    val evs = Seq(
      (1L, at(0), "a"), (1L, at(5), "x"), (1L, at(8), "x"), (1L, at(12), "y"),
      (1L, at(20), "y"),
      (2L, at(0), "a"), (2L, at(4), "x"), (2L, at(6), "y")
    ).toDF("user_id", "ts", "event_type")
    // a sequence group inside a followedByAny chain refuses by name WITH
    // the rewrite (flatten a bare group; allowCombinations per level for
    // quantified/nested shapes — each level multiplies branches by its
    // own subset lattice)
    val eG = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedByAny("b", $"event_type" === "x")
        .followedByGroup("g", "p" -> ($"event_type" === "x"),
          "q" -> ($"event_type" === "y")).oneOrMore()
        .within(HOUR).detect(evs, $"user_id", $"ts"))
    assert(eG.getMessage.contains("flatten") &&
      eG.getMessage.contains("doubly exponential"), eG.getMessage)
    val eN = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedByAny("b", $"event_type" === "x")
        .followedByNestedGroup("g",
          Seq("p" -> ($"event_type" === "x"), "q" -> ($"event_type" === "y")),
          Seq("t" -> ($"event_type" === "y"))).oneOrMore()
        .within(HOUR).detect(evs, $"user_id", $"ts"))
    assert(eN.getMessage.contains("allowCombinations"), eN.getMessage)
    // the rewrite is real: the flattened chain emits EVERY strictly
    // increasing (a, x, y) assignment — exactly what an all-branches bare
    // group (X Y) would fork (flink-cep GroupPattern members become
    // consecutive NFA states; under followedByAny each forks per
    // candidate)
    val got = Pattern.begin("a", $"event_type" === "a")
      .followedByAny("x", $"event_type" === "x")
      .followedByAny("y", $"event_type" === "y")
      .within(HOUR).detect(evs, $"user_id", $"ts")
      .select("key", "a_ts", "x_ts", "y_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getTimestamp(3))).toSet
    val raw = Seq((1L, 0L, "a"), (1L, 5L, "x"), (1L, 8L, "x"), (1L, 12L, "y"),
      (1L, 20L, "y"), (2L, 0L, "a"), (2L, 4L, "x"), (2L, 6L, "y"))
    val want = (for {
      (k1, t1, "a") <- raw
      (k2, t2, "x") <- raw if k2 == k1 && t2 > t1 && t2 <= t1 + 60
      (k3, t3, "y") <- raw if k3 == k1 && t3 > t2 && t3 <= t1 + 60
    } yield (k1, at(t1), at(t2), at(t3))).toSet
    assert(got == want && want.size == 5, s"got $got\nwant $want")
  }

  test("oneOrMore().allowCombinations() emits every ordered member subset " +
       "(flink-cep Pattern.java:441) — brute-force property reference") {
    val evs = Seq(
      (1L, at(0), "a"), (1L, at(5), "b"), (1L, at(10), "b"), (1L, at(15), "b"),
      (1L, at(70), "b"), // outside the window of a@0
      (2L, at(0), "a"), (2L, at(2), "b"),
      (3L, at(0), "a") // no members: no match (oneOrMore)
    ).toDF("user_id", "ts", "event_type")
    val got = Pattern.begin("a", $"event_type" === "a")
      .followedBy("b", $"event_type" === "b").oneOrMore()
      .allowCombinations()
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select("key", "a_ts", "b_n", "b_first_ts", "b_last_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSet
    // brute force: every non-empty subset of the in-window members
    def subsets(ms: Seq[Long]): Seq[Seq[Long]] =
      (1 to ms.size).flatMap(k => ms.combinations(k).toSeq)
    val want = (subsets(Seq(5L, 10L, 15L)).map(s =>
        (1L, at(0), s.size.toLong, at(s.head), at(s.last))) ++
      subsets(Seq(2L)).map(s => (2L, at(0), s.size.toLong, at(s.head), at(s.last))))
      .toSet
    assert(got == want, s"got $got\nwant $want")
    // user 1: 2^3 - 1 = 7 subsets, but (n, first, last) collapses
    // {5,15} and {5,10,15}? no — n differs; all 7 are distinct tuples
    assert(got.count(_._1 == 1L) == 7 && got.count(_._1 == 2L) == 1)
    // the member cap is a NAMED error, not an OOM
    val e = intercept[Exception](
      Pattern.begin("a", $"event_type" === "a")
        .followedBy("b", $"event_type" === "b").oneOrMore()
        .allowCombinations(maxCombinationMembers = 2)
        .within(HOUR)
        .detect(evs, $"user_id", $"ts").collect())
    assert(e.getMessage != null && (e.getMessage.contains("allowCombinations") ||
      Option(e.getCause).exists(_.getMessage.contains("allowCombinations"))), e.toString)
    // only the canonical two-step shape composes
    val e3 = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedBy("b", $"event_type" === "b")
        .followedBy("c", $"event_type" === "c").oneOrMore()
        .allowCombinations())
    assert(e3.getMessage.contains("two-step"), e3.getMessage)
    // quantifiers on the BEGIN step are a named rejection, not a silent
    // drop (the all-matches compile has no anchor-repetition machinery)
    val e4 = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a").times(2)
        .followedByAny("b", $"event_type" === "b")
        .within(HOUR).detect(evs, $"user_id", $"ts"))
    assert(e4.getMessage.contains("plain begin step"), e4.getMessage)
    // modifiers attached AFTER allowCombinations() are a named rejection too
    val e5 = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedBy("b", $"event_type" === "b").oneOrMore()
        .allowCombinations().consecutive()
        .within(HOUR).detect(evs, $"user_id", $"ts"))
    assert(e5.getMessage.contains("PLAIN oneOrMore"), e5.getMessage)
    // equal-(key, ts) anchor EVENTS each fork their own subset family
    // (the reference NFA forks per event)
    val dup = Seq((1L, at(0), "a"), (1L, at(0), "a"), (1L, at(5), "b"))
      .toDF("user_id", "ts", "event_type")
    val dupOut = Pattern.begin("a", $"event_type" === "a")
      .followedBy("b", $"event_type" === "b").oneOrMore()
      .allowCombinations()
      .within(HOUR).detect(dup, $"user_id", $"ts").collect()
    assert(dupOut.length == 2, dupOut.mkString(","))
  }

  test("allowCombinations with a TRAILING step (A B+ C, Pattern.java:441 " +
       "on a non-final looping state) — brute-force property reference") {
    val evs = Seq(
      (1L, at(0), "a"), (1L, at(5), "b"), (1L, at(10), "b"),
      (1L, at(12), "c"), (1L, at(20), "b"), (1L, at(30), "c"),
      (2L, at(0), "a"), (2L, at(3), "b") // members but no c: all subsets drop
    ).toDF("user_id", "ts", "event_type")
    val got = Pattern.begin("a", $"event_type" === "a")
      .followedBy("b", $"event_type" === "b").oneOrMore()
      .allowCombinations()
      .followedBy("c", $"event_type" === "c")
      .within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select("key", "a_ts", "b_n", "b_first_ts", "b_last_ts", "c_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getTimestamp(5))).toSet
    // brute force: every non-empty subset of the in-window members, each
    // closed by the FIRST c strictly after its last member (in-window);
    // subsets whose chain cannot complete emit nothing
    val members = Seq(5L, 10L, 20L)
    val cs = Seq(12L, 30L)
    val want = (for {
      k <- 1 to members.size
      s <- members.combinations(k)
      c = cs.find(_ > s.last) if c.nonEmpty
    } yield (1L, at(0), s.size.toLong, at(s.head), at(s.last), at(c.get))).toSet
    assert(got == want, s"got $got\nwant $want")
    // subsets whose last member precedes c@12: {5}, {10}, {5,10}
    assert(got.size == 7 && got.count(_._6 == at(12)) == 3)
    // TWO trailing steps chain first-match bindings: d after c
    val evs2 = evs.union(Seq((1L, at(40), "d")).toDF("user_id", "ts", "event_type"))
    val got2 = Pattern.begin("a", $"event_type" === "a")
      .followedBy("b", $"event_type" === "b").oneOrMore()
      .allowCombinations()
      .followedBy("c", $"event_type" === "c")
      .followedBy("d", $"event_type" === "d")
      .within(HOUR)
      .detect(evs2, $"user_id", $"ts")
      .select("b_last_ts", "c_ts", "d_ts")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    // 7 subset rows collapse to 3 distinct (last, c, d) triples
    assert(got2 == Set((at(5), at(12), at(40)), (at(10), at(12), at(40)),
      (at(20), at(30), at(40))), s"got2 $got2")
    // a MODIFIED trailing step is a named rejection, not a silent drop
    val e = intercept[IllegalArgumentException](
      Pattern.begin("a", $"event_type" === "a")
        .followedBy("b", $"event_type" === "b").oneOrMore()
        .allowCombinations()
        .followedBy("c", $"event_type" === "c").optional()
        .within(HOUR).detect(evs, $"user_id", $"ts"))
    assert(e.getMessage.contains("trailing step"), e.getMessage)
  }

  test("followedByNested3Group: hand-walked three-outer-level corpus " +
       "(((b c)+ v)+ w)+ x)+ with reluctant close at every level") {
    // Walk (window 1h): L1 reps A1=(b2..v8, 2 subs: (2,4)(5,6) — (10,12)
    // ends 12 >= v@8 so the inner chain closes reluctantly), A2=(10..v14),
    // A3=(16..v20), A4=(24..v28). L2 reps: B1 absorbs A1+A2 (A2 end 14 <
    // w@15, A3 end 20 >= w@15) + w@15; B2 = A3 + w@22 (A4 end 28 >= 22);
    // B3 = A4 + w@30. Outer: B1+B2+B3 all end before x@40 -> one outer
    // repetition (2..40) with 3 level-2 reps, 4 level-1 reps, 5 subs.
    val evs = Seq(
      (1L, at(0), "s", 0.0),
      (1L, at(2), "b", 0.0), (1L, at(4), "c", 0.0),
      (1L, at(5), "b", 0.0), (1L, at(6), "c", 0.0), (1L, at(8), "v", 0.0),
      (1L, at(10), "b", 0.0), (1L, at(12), "c", 0.0), (1L, at(14), "v", 0.0),
      (1L, at(15), "w", 5.0),
      (1L, at(16), "b", 0.0), (1L, at(18), "c", 0.0), (1L, at(20), "v", 0.0),
      (1L, at(22), "w", 3.0),
      (1L, at(24), "b", 0.0), (1L, at(26), "c", 0.0), (1L, at(28), "v", 0.0),
      (1L, at(30), "w", 7.0),
      (1L, at(40), "x", 9.0)
    ).toDF("user_id", "ts", "event_type", "value")
    def base = Pattern.begin("s", $"event_type" === "s")
      .followedByNested3Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")),
        Seq("x" -> ($"event_type" === "x")))
    val m = base.oneOrMore().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_mid2_n",
        $"g_mid_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long, Long, Long)]
      .collect().toSet
    assert(m == Set((1L, at(2), at(40), 1L, 3L, 4L, 5L)), m.toString)
    // bindGroup on the MID2 member w: values fold per committed outer
    // repetition through all three pending levels
    val mv = base.bindGroup("w", "value").oneOrMore().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"g_sum_w_value", $"g_min_w_value", $"g_max_w_value",
        $"g_first_w_value", $"g_last_w_value", $"g_cnt_w_value")
      .as[(Double, Double, Double, Double, Double, Long)].collect().toSet
    assert(mv == Set((15.0, 3.0, 7.0, 5.0, 7.0, 3L)), mv.toString)
  }

  test("followedByNested3Group: outer REJECTION closes from the checkpoint " +
       "(a speculated level-2 rep ending at/after the earliest x dies), " +
       "and the next outer repetition re-binds it") {
    // B1=(2..w8); x@10 punctuates: the speculated B2=(12..w18) ends 18 >=
    // x@10 -> rejected, outer rep 1 = B1+x@10. Outer rep 2 re-walks B2
    // from scratch and binds x@20. n=2, mid2=2, mid=2, inner=2.
    val evs = Seq(
      (2L, at(0), "s"), (2L, at(2), "b"), (2L, at(4), "c"), (2L, at(6), "v"),
      (2L, at(8), "w"), (2L, at(10), "x"),
      (2L, at(12), "b"), (2L, at(14), "c"), (2L, at(16), "v"),
      (2L, at(18), "w"), (2L, at(20), "x"),
      // key 3: a dangling level-2 attempt (no x ever) -> zero matches
      (3L, at(0), "s"), (3L, at(2), "b"), (3L, at(4), "c"), (3L, at(6), "v"),
      (3L, at(8), "w")
    ).toDF("user_id", "ts", "event_type")
    val m = Pattern.begin("s", $"event_type" === "s")
      .followedByNested3Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")),
        Seq("x" -> ($"event_type" === "x")))
      .oneOrMore().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_mid2_n",
        $"g_mid_n", $"g_inner_n")
      .as[(Long, Timestamp, Timestamp, Long, Long, Long, Long)]
      .collect().toSet
    assert(m == Set((2L, at(2), at(20), 2L, 2L, 2L, 2L)), m.toString)
  }

  test("followedByNested3Group: named rejections and depth-2 equivalence " +
       "controls") {
    val p3 = Pattern.begin("s", $"event_type" === "s")
      .followedByNested3Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")),
        Seq("x" -> ($"event_type" === "x")))
    // materializeNestedRows at depth 3 (r18, lifting the r17 named
    // rejection): the row struct gains the level-2 `mids2` running count —
    // hand-walked on the two-outer-repetition corpus of the previous test
    // (every row commits; the completing row counts its own unit at every
    // level)
    locally {
      val evs = Seq(
        (2L, at(0), "s"), (2L, at(2), "b"), (2L, at(4), "c"), (2L, at(6), "v"),
        (2L, at(8), "w"), (2L, at(10), "x"),
        (2L, at(12), "b"), (2L, at(14), "c"), (2L, at(16), "v"),
        (2L, at(18), "w"), (2L, at(20), "x")
      ).toDF("user_id", "ts", "event_type")
      val rows = p3.oneOrMore().materializeNestedRows().within(HOUR)
        .detect(evs, $"user_id", $"ts")
        .select(explode($"g_rows").as("r"))
        .select($"r.ts", $"r.cls", $"r.reps", $"r.mids2", $"r.mids", $"r.subs")
        .as[(Timestamp, String, Long, Long, Long, Long)]
        .collect().toSet
      assert(rows == Set(
        (at(2), "b", 0L, 0L, 0L, 0L), (at(4), "c", 0L, 0L, 0L, 1L),
        (at(6), "v", 0L, 0L, 1L, 1L), (at(8), "w", 0L, 1L, 1L, 1L),
        (at(10), "x", 1L, 1L, 1L, 1L),
        (at(12), "b", 1L, 1L, 1L, 1L), (at(14), "c", 1L, 1L, 1L, 2L),
        (at(16), "v", 1L, 1L, 2L, 2L), (at(18), "w", 1L, 2L, 2L, 2L),
        (at(20), "x", 2L, 2L, 2L, 2L)), rows.toString)
    }
    // a missing closing level is a named rejection pointing at depth-2
    val e2 = intercept[IllegalArgumentException](
      Pattern.begin("s", $"event_type" === "s")
        .followedByNested3Group("g",
          Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
          Nil, Seq("w" -> ($"event_type" === "w")),
          Seq("x" -> ($"event_type" === "x"))))
    assert(e2.getMessage.contains("followedByNested2Group"), e2.getMessage)
    // CONTROL: on a corpus whose every level-2 repetition holds exactly
    // one level-1 repetition, depth-3 counts collapse onto the depth-2
    // walk of ((b c)+ v w)+ x... composed as (((b c)+ v)+ w)+ with w
    // punctuating trivially — here just pin the zeroOrMore empty chain
    val evs = Seq((4L, at(0), "s")).toDF("user_id", "ts", "event_type")
    val z = p3.zeroOrMore().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_n", $"g_mid2_n", $"g_mid_n", $"g_inner_n")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(z == Set((4L, 0L, 0L, 0L, 0L)), z.toString)
  }

  test("bindInnerResidual on a DEPTH-2 group: the sub-match table is " +
       "per-anchor (two keys, same stream, different thresholds complete " +
       "their subs at different C events), null threshold never binds") {
    // thr = 2 * s.value. Key 1 (thr 20): c@3 (15) fails, the sub completes
    // at c@5 (25) -> level-1 rep binds v@6 (200). Key 2 (thr 2): the sub
    // completes at c@3 -> binds v@4 (100). Key 3: null s.value -> no subs.
    val evs = Seq(
      (1L, at(0), "s", 10.0), (2L, at(0), "s", 1.0),
      (3L, at(0), "s", Double.NaN)
    ).map { case (k, t, e, v) =>
      (k, t, e, if (v.isNaN) null else java.lang.Double.valueOf(v))
    }.flatMap { case (k, _, _, sv) =>
      Seq((k, at(0), "s", sv),
        (k, at(2), "b", java.lang.Double.valueOf(0.0)),
        (k, at(3), "c", java.lang.Double.valueOf(15.0)),
        (k, at(5), "c", java.lang.Double.valueOf(25.0)),
        (k, at(4), "v", java.lang.Double.valueOf(100.0)),
        (k, at(6), "v", java.lang.Double.valueOf(200.0)),
        (k, at(8), "w", java.lang.Double.valueOf(0.0)))
    }.toDF("user_id", "ts", "event_type", "value")
    val m = Pattern.begin("s", $"event_type" === "s")
      .bind("value")
      .followedByNested2Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")))
      .bindInnerResidual("c", "value", ">", col("s_value") * 2)
      .bindGroup("v", "value")
      .oneOrMore().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_first_ts", $"g_last_ts", $"g_n", $"g_mid_n",
        $"g_inner_n", $"g_sum_v_value")
      .as[(Long, Timestamp, Timestamp, Long, Long, Long, Double)]
      .collect().toSet
    assert(m == Set(
      (1L, at(2), at(8), 1L, 1L, 1L, 200.0),
      (2L, at(2), at(8), 1L, 1L, 1L, 100.0)), m.toString)
  }

  test("bindInnerResidual signed-zero threshold: a -0.0-valued threshold " +
       "tuple still finds its compiled sub array (normalized on both sides)") {
    // thr = 2 * s.value with s.value = -0.0 -> threshold -0.0. distinct()
    // may canonicalize signed zeros in its aggregation keys while the
    // anchor frame carries the raw projection; unnormalized, the walk's
    // boxed-Double lookup (which distinguishes -0.0 from 0.0) would hand
    // the anchor an EMPTY sub array -> silent no-match.
    val evs = Seq(
      (1L, at(0), "s", java.lang.Double.valueOf(-0.0)),
      (1L, at(2), "b", java.lang.Double.valueOf(0.0)),
      (1L, at(3), "c", java.lang.Double.valueOf(5.0)),
      (1L, at(4), "v", java.lang.Double.valueOf(0.0))
    ).toDF("user_id", "ts", "event_type", "value")
    // one-level (m49 path)
    val m1 = Pattern.begin("s", $"event_type" === "s").bind("value")
      .followedByNestedGroup("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")))
      .bindInnerResidual("c", "value", ">", col("s_value") * 2)
      .oneOrMore().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_n", $"g_inner_n")
      .as[(Long, Long, Long)].collect().toSet
    assert(m1 == Set((1L, 1L, 1L)), m1.toString)
    // depth-2 (m50 path) — same corpus with a w close
    val evs2 = evs.union(Seq((1L, at(6), "w",
      java.lang.Double.valueOf(0.0))).toDF("user_id", "ts", "event_type", "value"))
    val m2 = Pattern.begin("s", $"event_type" === "s").bind("value")
      .followedByNested2Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")))
      .bindInnerResidual("c", "value", ">", col("s_value") * 2)
      .oneOrMore().within(HOUR)
      .detect(evs2, $"user_id", $"ts")
      .select($"key", $"g_n", $"g_mid_n", $"g_inner_n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(m2 == Set((1L, 1L, 1L, 1L)), m2.toString)
  }

  test("bindInnerResidual composes at DEPTH-3 too: the parametrized " +
       "sub-match selection happens before r1After, so the three-level " +
       "recursion is untouched") {
    // the m50 per-anchor corpus with a w (mid2) and x (outer tail) close:
    // key 1 (thr 20) completes its sub at c@5 and binds v@6 (200); key 2
    // (thr 2) completes at c@3 and binds v@4 (100); both close w@8, x@10
    val evs = Seq((1L, 10.0), (2L, 1.0)).flatMap { case (k, sv) =>
      Seq((k, at(0), "s", sv),
        (k, at(2), "b", 0.0), (k, at(3), "c", 15.0), (k, at(5), "c", 25.0),
        (k, at(4), "v", 100.0), (k, at(6), "v", 200.0),
        (k, at(8), "w", 0.0), (k, at(10), "x", 0.0))
    }.toDF("user_id", "ts", "event_type", "value")
    val m = Pattern.begin("s", $"event_type" === "s").bind("value")
      .followedByNested3Group("g",
        Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
        Seq("v" -> ($"event_type" === "v")),
        Seq("w" -> ($"event_type" === "w")),
        Seq("x" -> ($"event_type" === "x")))
      .bindInnerResidual("c", "value", ">", col("s_value") * 2)
      .bindGroup("v", "value")
      .oneOrMore().within(HOUR)
      .detect(evs, $"user_id", $"ts")
      .select($"key", $"g_n", $"g_mid2_n", $"g_mid_n", $"g_inner_n",
        $"g_sum_v_value")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(m == Set(
      (1L, 1L, 1L, 1L, 1L, 200.0),
      (2L, 1L, 1L, 1L, 1L, 100.0)), m.toString)
  }

  test("depth-3 streaming twin materializes rows and binds multi-member " +
       "values — batch walk parity across shuffled micro-batch splits " +
       "(r19, VERDICT r18 items 3+4)") {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // shape S ((((B C)+ V)+ W)+ X)+ — user 1: two outer repetitions with a
    // multi-sub multi-mid first rep and a dangling sub at window end; user
    // 2: in-progress sub (b@7) discarded at the v close; user 3: dangling
    // level-2 repetition (v@15-closed, never w-closed) discarded at the x
    // close. Values are distinct per event so every aggregate is
    // discriminative.
    def v(u: Long, min: Long) = u * 100.0 + min
    val all = Seq(
      (1L, at(0), "s"), (1L, at(2), "b"), (1L, at(4), "c"),
      (1L, at(6), "b"), (1L, at(8), "c"), (1L, at(10), "v"),
      (1L, at(12), "b"), (1L, at(14), "c"), (1L, at(16), "v"),
      (1L, at(18), "w"),
      (1L, at(20), "b"), (1L, at(22), "c"), (1L, at(24), "v"), (1L, at(26), "w"),
      (1L, at(28), "x"),
      (1L, at(30), "b"), (1L, at(32), "c"), (1L, at(34), "v"), (1L, at(36), "w"),
      (1L, at(38), "x"),
      (1L, at(40), "b"), (1L, at(42), "c"),
      (2L, at(1), "s"), (2L, at(3), "b"), (2L, at(5), "c"), (2L, at(7), "b"),
      (2L, at(9), "v"), (2L, at(11), "w"), (2L, at(13), "x"),
      (3L, at(1), "s"), (3L, at(3), "b"), (3L, at(5), "c"), (3L, at(7), "v"),
      (3L, at(9), "w"), (3L, at(11), "b"), (3L, at(13), "c"), (3L, at(15), "v"),
      (3L, at(17), "x")
    ).map { case (u, ts, t) => (u, ts, t, v(u, (ts.getTime - T0.getTime) / 60000)) }
    val df = all.toDF("user_id", "ts", "event_type", "value")
    def batchPat(rows: Boolean) = {
      var p = Pattern.begin("s", $"event_type" === "s")
        .followedByNested3Group("g",
          Seq("b" -> ($"event_type" === "b"), "c" -> ($"event_type" === "c")),
          Seq("v" -> ($"event_type" === "v")),
          Seq("w" -> ($"event_type" === "w")),
          Seq("x" -> ($"event_type" === "x")))
        .oneOrMore()
      if (rows) p = p.materializeNestedRows()
      else p = p.bindGroup("b", "value").bindGroup("c", "value")
        .bindGroup("v", "value")
      p.within(HOUR).detect(df, $"user_id", $"ts")
    }
    val batchRows = batchPat(rows = true)
      .select($"key", $"s_ts", explode($"g_rows").as("r"))
      .select($"key", $"s_ts", $"r.ts", $"r.cls", $"r.reps", $"r.mids2",
        $"r.mids", $"r.subs")
      .as[(Long, Timestamp, Timestamp, String, Long, Long, Long, Long)]
      .collect().toSet
    val batchVals = batchPat(rows = false)
      .select($"key", $"s_ts", $"g_n", $"g_mid2_n", $"g_mid_n", $"g_inner_n",
        $"g_sum_b_value", $"g_first_b_value", $"g_last_b_value",
        $"g_cnt_b_value",
        $"g_sum_c_value", $"g_min_c_value", $"g_max_c_value",
        $"g_sum_v_value", $"g_cnt_v_value")
      .collect().map(_.toString).toSet
    val in = MemoryStream[graft.streaming.Event]
    val q = StreamOps.cepPatternNestedNGroup(in.toDS(), "2 hours",
        _.event_type == "s", Seq(_.event_type == "b", _.event_type == "c"),
        Seq(_.event_type == "v", _.event_type == "w", _.event_type == "x"),
        HOUR,
        materializeRows = true, innerNames = Seq("b", "c"),
        closerNames = Seq("v", "w", "x"), bindValues = true).toDF()
      .writeStream.format("memory").queryName("s_nestN_rows_vals")
      .outputMode("append").start()
    val evs = all.map { case (u, ts, t, vl) => StreamOps.Event(u, ts, t, vl) }
      .sortBy(_.ts.getTime)
    // mid-chain split, second half delivered shuffled: the watermark
    // buffer re-sorts, so intra-batch arrival order must not matter
    in.addData(evs.take(17)); q.processAllAvailable()
    in.addData(new scala.util.Random(7L).shuffle(evs.drop(17)): _*)
    q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(600), "zzz", 0.0)); q.processAllAvailable()
    in.addData(StreamOps.Event(99L, at(610), "zzz", 0.0)); q.processAllAvailable(); q.stop()
    val matches = spark.table("s_nestN_rows_vals")
      .as[graft.streaming.NestNMatch].collect()
    // rows parity: (reps, mids2, mids, subs) running counts per bound event
    val streamingRows = matches.flatMap(m => m.rows.map(r =>
      (m.user_id, m.first_ts, r.ts, r.cls, r.reps, r.level_counts.head,
        r.level_counts(1), r.subs))).toSet
    assert(streamingRows == batchRows,
      s"rows: streaming=$streamingRows\nbatch=$batchRows")
    // multi-member value parity: member_vals = [b, c, v, w, x]
    val streamingVals = matches.map { m =>
      val Seq(b, c, vv, _, _) = m.member_vals.toSeq
      org.apache.spark.sql.Row(m.user_id, m.first_ts, m.n_reps,
        m.level_counts.head, m.level_counts(1), m.n_inner,
        b.sum.orNull, b.first.orNull, b.last.orNull, b.cnt,
        c.sum.orNull, c.mn.orNull, c.mx.orNull,
        vv.sum.orNull, vv.cnt).toString
    }.toSet
    assert(streamingVals == batchVals,
      s"vals: streaming=$streamingVals\nbatch=$batchVals")
    // hand-pinned discards: user 2's in-progress b@7 binds nothing — the
    // committed b aggregates carry ONLY b@3 (value 203)
    val u2 = matches.find(_.user_id == 2L).get
    assert(u2.member_vals.head.sum.contains(203.0) &&
      u2.member_vals.head.cnt == 1L, u2.toString)
    // user 3's dangling level-2 repetition (sub b@11/c@13, v@15) is
    // discarded at the x close: one committed sub, b sum = b@3 only
    val u3 = matches.find(_.user_id == 3L).get
    assert(u3.member_vals.head.sum.contains(303.0) &&
      u3.n_inner == 1L && u3.level_counts == Seq(1L, 1L), u3.toString)
  }

  test("streaming linear cap: with maxPartials = 2 only the two newest " +
       "starts match, through cepPattern, cepPatternSteps and cepPatternIter") {
    import graft.streaming.{Event, StreamOps}
    import org.apache.spark.sql.{DataFrame, Dataset}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // three signups inside the window, then one purchase: the cap drops the
    // oldest open partial, so the signup at 0 never matches
    val evs = Seq(Event(1L, at(0), "signup", 0.0), Event(1L, at(1), "signup", 0.0),
      Event(1L, at(2), "signup", 0.0), Event(1L, at(3), "purchase", 0.0))
    val signup: Event => Boolean = _.event_type == "signup"
    val purchase: Event => Boolean = _.event_type == "purchase"
    def run(name: String)(op: Dataset[Event] => DataFrame): Set[Seq[Timestamp]] = {
      val in = MemoryStream[Event]
      val q = op(in.toDS()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { in.addData(evs); q.processAllAvailable() } finally q.stop()
      spark.table(name).select($"step_ts").as[Seq[Timestamp]].collect().toSet
    }
    val want = Set(Seq(at(1), at(3)), Seq(at(2), at(3)))
    assert(run("cap_pattern")(StreamOps.cepPattern(_, "10 seconds",
      Seq(signup, purchase), HOUR, maxPartials = 2).toDF()) == want)
    assert(run("cap_steps")(StreamOps.cepPatternSteps(_, "10 seconds",
      Seq(StreamOps.CepStep(signup), StreamOps.CepStep(purchase)), HOUR,
      maxPartials = 2).toDF()) == want)
    assert(run("cap_iter")(StreamOps.cepPatternIter(_, "10 seconds",
      Seq((e, _) => signup(e), (e, _) => purchase(e)), HOUR,
      maxPartials = 2).toDF()) == want)
  }
}
