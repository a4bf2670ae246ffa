package graft.streaming

import java.nio.ByteBuffer
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  InterpretedSafeProjection, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Structured Streaming analogs of the reference's DataStream API:
  *  - windowed aggregates: flink-streaming-java/.../windowing/assigners
  *  - deduplication: Blink StreamExecDeduplicate
  *  - ProcessFunction + keyed state + timers:
  *    flink-streaming-java/.../functions/KeyedProcessFunction.java →
  *    flatMapGroupsWithState with event-time timeout
  *  - intervalJoin: KeyedStream#intervalJoin (IntervalJoinOperator) → both
  *    sides' buffers in one flatMapGroupsWithState, evicted by event time
  *  - CEP followed-by: flink-libraries/flink-cep NFA → NFA-lite in keyed state
  *
  * State scale: every op keys its state by the grouping columns, and the
  * watermark bounds state retention — at 100 TB/day the state store holds
  * only the watermark horizon per key, exactly like Flink's keyed state
  * backend with TTL.
  *
  * Cap policies. The keyed operators that cap what a key holds use one of
  * two policies, chosen by what the operator promises to match:
  *  - Partial-match twins (`cepLinear` under cepPattern, cepPatternSteps
  *    and cepPatternIter, and the run, group, nested, timeout and two-run
  *    twins) keep the NEWEST starts: past `maxPartials` open partials the
  *    oldest is dropped. Every start owes its own match, and the oldest
  *    starts are the closest to window expiry, so they have the least
  *    window left to complete in.
  *  - `cepFollowedBy` and `coProcessMatch` drop the NEWEST arrival once
  *    `maxPending` entries wait. They pair an arrival with the EARLIEST
  *    waiting entry, so the retained earliest entries are exactly the ones
  *    a later arrival matches first, and the matching degrades predictably.
  * The per-operator scaladocs name the cap and refer here.
  */
// State/row types live at package level: Janino-generated encoder code cannot
// construct nested-in-object (outer-pointer) case classes.
/** The cep twins' event. `skey` (r20) carries the collision-free rendering
  * of a COMPOSITE / non-integral partition key (the batch
  * `Pattern.keyString` length-prefix format); the twins group on
  * `(user_id, skey)` and surface it back on their match rows, so the
  * default "" keeps every long-keyed call site byte-identical. */
case class Event(user_id: Long, ts: Timestamp, event_type: String,
                 value: Double, skey: String = "")
case class SessionOut(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                      n: Long, sum_value: Double)
case class PairOut(user_id: Long, first_ts: Timestamp, second_ts: Timestamp)
case class SessionAcc(startMs: Long, lastMs: Long, n: Long, sum: Double)
case class CepAcc(pendingFirstMs: List[Long])
case class Scored(tsMs: Long, value: Double)
case class TopNAcc(top: List[Scored])
case class TopNOut(user_id: Long, rank: Int, value: Double, ts: Timestamp)
case class Tagged(user_id: Long, ts: Timestamp, side: String)
case class CoAcc(leftMs: List[Long], rightMs: List[Long])
case class MatchOut(user_id: Long, left_ts: Timestamp, right_ts: Timestamp)
// the savepoint seed format of cepPattern (epoch ms): an open partial's
// bound step times, newest first
case class Partial(boundMs: List[Long])
// pending = completed matches held for SKIP_PAST_LAST finalization (newest-
// first bound times); lastEndMs = the last emitted match's final bound time
case class CepPatternAcc(partials: List[Partial],
                         pending: List[Partial] = Nil,
                         lastEndMs: Long = Long.MinValue)
case class PatternMatch(user_id: Long, step_ts: Seq[Timestamp],
                        skey: String = "")
// The state of StreamOps.cepLinear, all times in µs.
// A partial: bound times + branch classifiers (newest first; Long.MinValue
// marks a SKIPPED optional step) and, for a pending STRICT step, the
// successor event time observed so far (-1 = none yet). `guards` record
// each skipped step: the skip branch is killed if any event matching that
// step arrives in (fromUs, start + within] — the batch lowering binds an
// optional whenever a candidate exists anywhere in the window
case class Guard(step: Int, fromUs: Long)
// succKilled: for a STRICT-negative pending, whether an event AT the
// currently-known first successor time satisfied the negative predicate —
// the decision is only FINAL once the watermark passes succUs (an
// out-of-order event at or before it can still arrive and change both)
// vals: the bound events' values, parallel to boundUs (newest-first; a
// skipped optional's slot holds a placeholder — the Skip timestamp decides
// nullability on output); tpes: their event types, kept only when some step
// is relative (the key supplies the rest of each prior event)
case class ExPartial(boundUs: List[Long], cls: List[String], succUs: Long,
                     guards: List[Guard] = Nil, succKilled: Boolean = false,
                     vals: List[Double] = Nil, tpes: List[String] = Nil)
// pending = completed matches held until their window closes (a skipped
// optional or a negative terminal: no guard event can then arrive; under
// skip-past-last, every match); lastEndUs = the last kept match's final
// bound time under skip-past-last
case class CepExAcc(partials: List[ExPartial], pending: List[ExPartial] = Nil,
                    lastEndUs: Long = Long.MinValue)
case class ExMatch(user_id: Long, step_ts: Seq[Timestamp], step_cls: Seq[String],
                   step_value: Seq[Option[Double]] = Nil,
                   skey: String = "")
case class IterMatch(user_id: Long, step_ts: Seq[Timestamp], step_value: Seq[Double],
                     skey: String = "")
// oneOrMore runs carry only first/last/count plus running value aggregates
// (sum/min/max and the first/last member's value — the batch bindRun
// columns) — O(1) state per partial
// bCounts: per-branch member counts for a quantified ALTERNATION run
// ((B|C)+ — each member counted under its first matching branch)
// mems: under materializeRows (the ALL-ROWS-over-runs twin), the run's
// member timestamps — state bounded by the window's member count
case class RunPartial(firstMs: Long, runFirstMs: Long, runLastMs: Long,
                      runN: Long, sumVal: Double = 0.0, minVal: Double = 0.0,
                      maxVal: Double = 0.0, firstVal: Double = 0.0,
                      lastVal: Double = 0.0, stopped: Boolean = false,
                      bCounts: List[Long] = Nil,
                      mems: List[Long] = Nil,
                      // iterative (relative) residual threshold — the
                      // anchor's value, read once when the partial opens
                      thr: Double = 0.0,
                      // non-null member value count (NaN-channel nulls
                      // bind positionally but do not count)
                      vCnt: Long = 0L)
// a held EMPTY-run candidate (zeroOrMore): the earliest close-event seen
// while no run member existed — valid only if no member EVER arrives in the
// window, so it emits at window expiry and is invalidated by a run start
case class EmptyRun(firstMs: Long, lastMs: Long)
// a buffered not-yet-finalized event (ts ahead of the watermark): the run /
// group operators process events ONLY once the watermark passes their time,
// in global event-time order, so a late event still ahead of the watermark
// can never be ordered after a decision it should have preceded — the
// cross-micro-batch stream replays exactly the batch compile's sorted scan.
// State cost: the watermark-delay window of events per key (what any
// order-correct CEP engine holds).
case class BufEv(ms: Long, tpe: String, value: Double)
case class RunAcc(partials: List[RunPartial], emptyPending: List[EmptyRun] = Nil,
                  buf: List[BufEv] = Nil)
// self-referential runs additionally carry the run's last accepted value
// (the LAST(D.value, 1) the accept condition compares against), the run's
// first value, a done flag (first violation closes the run), and the
// earliest pending close-event ts (-1 = none) held while the run is open.
// segId: for PREV(col, n>1) runs, the key-global segment the run bound —
// the n-back window spans the whole SEGMENT (which can start before the
// run's first member), so segmentation state lives on the key (VRunAcc),
// not the partial
case class VRunPartial(firstMs: Long, runFirstMs: Long, runLastMs: Long,
                       runN: Long, firstVal: Double, lastVal: Double,
                       done: Boolean, pendingUMs: Long, segId: Long = -1L)
// segLen/recent: the key-global candidate segmentation for offset-n runs
// (current segment id, its length, the last n candidate values newest-first)
case class VRunAcc(partials: List[VRunPartial], buf: List[BufEv] = Nil,
                   segId: Long = 0L, segLen: Long = 0L,
                   recent: List[Double] = Nil)
case class VRunMatch(user_id: Long, first_ts: Timestamp, run_first_ts: Timestamp,
                     run_last_ts: Timestamp, run_n: Long, run_first_value: Double,
                     run_last_value: Double, last_ts: Timestamp,
                     skey: String = "")
// value aggregates are Option so an EMPTY run (zeroOrMore) emits nulls —
// matching the batch compile's left-join nulls, not a fake 0.0
case class RunMatch(user_id: Long, first_ts: Timestamp, run_first_ts: Timestamp,
                    run_last_ts: Timestamp, run_n: Long, last_ts: Timestamp,
                    run_sum_value: Option[Double] = None,
                    run_min_value: Option[Double] = None,
                    run_max_value: Option[Double] = None,
                    run_first_value: Option[Double] = None,
                    run_last_value: Option[Double] = None,
                    branch_counts: Seq[Long] = Nil,
                    run_members: Seq[Timestamp] = Nil,
                    skey: String = "",
                    // non-null member value count (== run_n when the value
                    // column is non-null; COUNT(R.value)'s divisor)
                    run_value_cnt: Long = 0L)
// group-pattern (sub)+ partials: the greedy repetition chain is causal in
// event-time order (events are watermark-finalized before processing, see
// BufEv), so state is O(1) per partial — current sub-step index + the
// in-progress repetition's bounds + chain stats; a close event arriving
// while the chain could still extend is HELD (pendingUMs) and emitted at
// window expiry, invalidated by any later repetition completion
// emptyUMs: under allowEmpty ((sub)*), the earliest close event seen while
// NO repetition has completed — valid only if none EVER completes in the
// window (any completion kills it), emitted at window expiry
// curRepVal / sum..lastVal: running value aggregates of ONE designated
// sub-step's bound value across COMPLETED repetitions (the batch
// bindGroup twin) — the in-progress repetition's value folds in only when
// the repetition completes
// curMems/repMems: under materializeRows (the batch materializeGroupRows
// twin), the in-progress repetition's member times and the per-repetition
// member-time matrix — state bounded by the window's repetition count,
// exactly the batch `<g>_reps` payload
case class GrpPartial(firstMs: Long, gFirstMs: Long, lastRepEndMs: Long,
                      reps: Long, subIdx: Int, curRepStartMs: Long,
                      curRepLastMs: Long, pendingUMs: Long,
                      emptyUMs: Long = -1L, curRepVal: Double = 0.0,
                      sumVal: Double = 0.0, minVal: Double = 0.0,
                      maxVal: Double = 0.0, firstVal: Double = 0.0,
                      lastVal: Double = 0.0,
                      curMems: List[Long] = Nil,
                      repMems: List[List[Long]] = Nil,
                      // non-null designated-member value count (NaN-channel
                      // nulls bind positionally but do not count)
                      vCnt: Long = 0L)
case class GrpAcc(partials: List[GrpPartial], buf: List[BufEv] = Nil)
// streamingLag: each event enriched with the value n rows back in its
// key's event-time order (the PREV physical-navigation twin)
case class LagEv(user_id: Long, ts: Timestamp, event_type: String,
                 value: Double, lag_value: Option[Double])
case class LagAcc(buf: List[BufEv] = Nil, recent: List[Double] = Nil)
// two-run pattern (S A+ B+ U) partial: both runs' boundaries + counts —
// O(1) state per partial (the causal walk needs no member retention)
case class TwoRunPartial(firstMs: Long, r1FirstMs: Long = -1L,
                         r1LastMs: Long = -1L, r1N: Long = 0L,
                         r2FirstMs: Long = -1L, r2LastMs: Long = -1L,
                         r2N: Long = 0L)
case class TwoRunAcc(partials: List[TwoRunPartial], buf: List[BufEv] = Nil)
case class TwoRunMatch(user_id: Long, first_ts: Timestamp,
                       r1_first_ts: Timestamp, r1_last_ts: Timestamp, r1_n: Long,
                       r2_first_ts: Timestamp, r2_last_ts: Timestamp, r2_n: Long,
                       last_ts: Timestamp)
// Nested-group output rows of the depth-specific entry points — thin
// renamings of the depth-N twin's NestNMatch / NestNOutRow (one state
// machine serves every depth; see cepPatternNestedNGroup). vsnap (r20,
// per-row value snapshots under ALL ROWS): one running
// (sum/min/max/first/last/cnt) aggregate per tracked member AS OF the row
case class NestOutRow(ts: Timestamp, cls: String, reps: Long, subs: Long,
                      vsnap: Seq[Nest2Vals] = Nil)
case class NestMatch(user_id: Long, first_ts: Timestamp, grp_first_ts: Timestamp,
                     grp_last_ts: Timestamp, n_reps: Long, n_inner: Long,
                     rows: Seq[NestOutRow] = Nil,
                     skey: String = "")
// running value aggregates of ONE tracked member: (sum, min, max, first,
// last, cnt) — merged through the same pending levels as the counts (sub ->
// level-1 pending at completion, level-l -> level-(l+1) pending at the
// level-l close, outer -> committed at the tail close; discards mirror the
// row buffers)
// NULL member values ride the NaN channel (r20, the batch null
// conventions on the stream): a NaN binding contributes to the POSITIONAL
// first/last and the bind count `bnd`, but not to sum/min/max/cnt —
// SUM/MIN/MAX ignore nulls, COUNT counts non-null, FIRST/LAST freeze on a
// null binding (the m56 batch (value, bind-count) pair design); the
// DataFrame lowering turns emitted NaN back into SQL NULL via nanvl
case class Nest2Vals(sum: Option[Double] = None, mn: Option[Double] = None,
                     mx: Option[Double] = None, first: Option[Double] = None,
                     last: Option[Double] = None, cnt: Long = 0L,
                     bnd: Long = 0L) {
  def add(v: Double): Nest2Vals =
    if (v.isNaN)
      Nest2Vals(sum, mn, mx, first.orElse(Some(v)), Some(v), cnt, bnd + 1)
    else Nest2Vals(
      Some(sum.getOrElse(0.0) + v), Some(mn.fold(v)(math.min(_, v))),
      Some(mx.fold(v)(math.max(_, v))), first.orElse(Some(v)), Some(v),
      cnt + 1, bnd + 1)
  def merge(later: Nest2Vals): Nest2Vals =
    if (later.bnd == 0) this else if (bnd == 0) later
    else Nest2Vals(
      (sum, later.sum) match { case (Some(a), Some(b)) => Some(a + b)
                               case (a, b) => a.orElse(b) },
      (mn, later.mn) match { case (Some(a), Some(b)) => Some(math.min(a, b))
                             case (a, b) => a.orElse(b) },
      (mx, later.mx) match { case (Some(a), Some(b)) => Some(math.max(a, b))
                             case (a, b) => a.orElse(b) },
      first, later.last, cnt + later.cnt, bnd + later.bnd)
}
case class Nest2OutRow(ts: Timestamp, cls: String, reps: Long, mids: Long,
                       subs: Long)
case class Nest2Match(user_id: Long, first_ts: Timestamp,
                      grp_first_ts: Timestamp, grp_last_ts: Timestamp,
                      n_reps: Long, n_mids: Long, n_inner: Long,
                      rows: Seq[Nest2OutRow] = Nil,
                      v_sum: Option[Double] = None, v_min: Option[Double] = None,
                      v_max: Option[Double] = None, v_first: Option[Double] = None,
                      v_last: Option[Double] = None, v_cnt: Long = 0L,
                      skey: String = "")
case class Nest3Match(user_id: Long, first_ts: Timestamp,
                      grp_first_ts: Timestamp, grp_last_ts: Timestamp,
                      n_reps: Long, n_mids2: Long, n_mids: Long, n_inner: Long,
                      skey: String = "")
// nested group partial at ANY depth (the followedByNested{,2,3,N}Group
// twin): the per-level bookkeeping held as sequences — accs(l) = counts of
// units 0..l inside the CURRENT in-progress level-(l+1) repetition (unit-0 =
// inner subs; accs(l)(l) is the completed-child count the level-(l+1)
// closer needs), lastClose(l) = the last unit-l close inside it, tot =
// committed totals per unit (tot.last = outer repetitions). State stays
// O(depth) per partial. Every close is INSIDE its repetition, so every
// absorb-vs-close decision is immediate in event-time order — NO held
// closes at any level (a child completing before the next closer was, by
// arrival order, absorbed first: the batch rule "absorb while completing
// strictly before the first closer opportunity").
// one materialized bound event of the chain: classifier + running
// counts as of the row, INNERMOST FIRST internally (counts(j) = unit-j
// total; the output row reverses to the batch outermost-first order)
case class NestNRow(ms: Long, cls: String, counts: List[Long],
                    v: Double = 0.0)
case class NestNOutRow(ts: Timestamp, cls: String, reps: Long,
                       level_counts: Seq[Long], subs: Long,
                       vsnap: Seq[Nest2Vals] = Nil)
case class NestNPartial(firstMs: Long, gFirstMs: Long = -1L, subIdx: Int = 0,
                        curStartMs: Long = -1L, inSubLastMs: Long = -1L,
                        accs: List[List[Long]] = Nil,
                        lastClose: List[Long] = Nil,
                        tot: List[Long] = Nil,
                        lastTailMs: Long = -1L,
                        // materializeRows (r19): rowBufs(0) = the
                        // in-progress sub's rows, rowBufs(l) = the current
                        // level-l repetition's rows — the discard
                        // hierarchy, depth-parametric; newest-first
                        rowBufs: List[List[NestNRow]] = Nil,
                        doneRows: List[NestNRow] = Nil,
                        // bindValues (r19): per pending level, one running
                        // aggregate PER TRACKED MEMBER (inner members then
                        // closers) — the batch bindGroup surface; merged /
                        // discarded exactly like the counts
                        vals: List[List[Nest2Vals]] = Nil,
                        cVals: List[Nest2Vals] = Nil,
                        // iterative (relative) residual threshold — the
                        // anchor's value, read once when the partial opens
                        thr: Double = 0.0)
case class NestNAcc(partials: List[NestNPartial], buf: List[BufEv] = Nil)
case class NestNMatch(user_id: Long, first_ts: Timestamp,
                      grp_first_ts: Timestamp, grp_last_ts: Timestamp,
                      n_reps: Long, level_counts: Seq[Long], n_inner: Long,
                      rows: Seq[NestNOutRow] = Nil,
                      member_vals: Seq[Nest2Vals] = Nil,
                      skey: String = "")
// timed-out-partials pattern state: one partial per first-step event, the
// bound step timestamps newest-first — O(steps) per partial
case class TimeoutPartial(firstMs: Long, bound: List[Long])
case class TimeoutAcc(partials: List[TimeoutPartial], buf: List[BufEv] = Nil)
case class CepTimeoutMatch(user_id: Long, bound_ts: Seq[Timestamp],
                           timed_out: Boolean, timeout_ts: Option[Timestamp])
case class GrpMatch(user_id: Long, first_ts: Timestamp, rep_first_ts: Timestamp,
                    rep_last_ts: Timestamp, rep_n: Long, last_ts: Timestamp,
                    rep_sum_value: Option[Double] = None,
                    rep_min_value: Option[Double] = None,
                    rep_max_value: Option[Double] = None,
                    rep_first_value: Option[Double] = None,
                    rep_last_value: Option[Double] = None,
                    rep_members: Seq[Seq[Timestamp]] = Nil,
                    skey: String = "",
                    // non-null designated-member value count (== rep_n when
                    // the value column is non-null; COUNT(value)'s divisor)
                    rep_value_cnt: Long = 0L)
case class TjTagged(user_id: Long, ts: Timestamp, side: String,
                    event_type: String, value: Double)
case class TjFact(tsMs: Long, event_type: String, value: Double)
case class TjVersion(tsMs: Long, value: Double)
case class TemporalAcc(facts: List[TjFact], versions: List[TjVersion])
case class TemporalOut(user_id: Long, fact_ts: Timestamp, fact_type: String,
                       fact_value: Double, version_ts: Option[Timestamp],
                       version_value: Option[Double])

/** One side's rows as UnsafeRow bytes and back, for the interval join's
  * state. The encoder is resolved once, where the operator is built
  * ([[RowCodec.apply]]); a task evaluates the resolved serializer and
  * deserializer with interpreted projections, so no trigger analyses or
  * compiles them again. Not thread-safe: each task deserializes its own
  * copy, and with it its own projections. */
private final class RowCodec(serializer: Seq[Expression], deserializer: Expression,
                             width: Int) extends Serializable {
  @transient private lazy val ser = InterpretedUnsafeProjection.createProjection(serializer)
  @transient private lazy val de = InterpretedSafeProjection.createProjection(Seq(deserializer))
  @transient private lazy val in = new GenericInternalRow(1)
  @transient private lazy val unsafe = new UnsafeRow(width)
  def bytes(r: Row): Array[Byte] = { in.update(0, r); ser(in).copy().getBytes }
  def row(b: Array[Byte]): Row = {
    unsafe.pointTo(b, b.length)
    de(unsafe).get(0, deserializer.dataType).asInstanceOf[Row]
  }
}

private object RowCodec {
  def apply(schema: StructType): RowCodec = {
    val enc = ExpressionEncoder(schema, lenient = true).resolveAndBind()
    new RowCodec(enc.serializer, enc.deserializer, schema.size)
  }
}

/** One buffered row of [[StreamOps.streamStreamIntervalJoin]]: its `ts` and
  * the time after which it can pair no more (µs), whether it has paired,
  * and the row itself, decoded or encoded only when needed. */
private final class JoinBuf(val t: Long, val until: Long, var matched: Boolean,
                            codec: RowCodec, private var b: Array[Byte], private var r: Row) {
  def row: Row = { if (r == null) r = codec.row(b); r }
  def bytes: Array[Byte] = { if (b == null) b = codec.bytes(r); b }
}

/** The per-key step of [[StreamOps.streamStreamIntervalJoin]]. Input rows
  * are (k, ts, hi, l, r) with exactly one of `l`/`r` set. The state is one
  * binary buffer per side of (t, until, matched, row bytes) records: an
  * array of structs would make Spark generate and compile its state
  * decoder afresh on every trigger (a new lambda variable id each time). */
private final class IntervalJoinBuffers(semi: Boolean, keepL: Boolean, keepR: Boolean,
                                        lSchema: StructType, rSchema: StructType)
    extends Serializable {
  // resolved here, where the operator is built
  private val codecs = (RowCodec(lSchema), RowCodec(rSchema))

  private def micros(v: Any): Long = v match {
    case t: Timestamp => DateTimeUtils.fromJavaTimestamp(t)
    case i: java.time.Instant => DateTimeUtils.instantToMicros(i)
    case d: java.time.LocalDateTime => DateTimeUtils.localDateTimeToMicros(d)
  }

  private def load(a: Array[Byte], codec: RowCodec): ArrayBuffer[JoinBuf] = {
    val in = ByteBuffer.wrap(a)
    val buf = ArrayBuffer.empty[JoinBuf]
    while (in.hasRemaining) {
      val (t, until, matched) = (in.getLong, in.getLong, in.get != 0)
      val b = new Array[Byte](in.getInt); in.get(b)
      buf += new JoinBuf(t, until, matched, codec, b, null)
    }
    buf
  }

  private def save(buf: ArrayBuffer[JoinBuf]): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    buf.foreach { b =>
      out.writeLong(b.t); out.writeLong(b.until); out.writeBoolean(b.matched)
      out.writeInt(b.bytes.length); out.write(b.bytes)
    }
    bytes.toByteArray
  }

  def apply(key: Row, rows: Iterator[Row], state: GroupState[Row]): Iterator[Row] = {
    val (lc, rc) = codecs
    val (ls, rs) = state.getOption.fold((ArrayBuffer.empty[JoinBuf], ArrayBuffer.empty[JoinBuf]))(
      s => (load(s.getAs[Array[Byte]](0), lc), load(s.getAs[Array[Byte]](1), rc)))
    val out = ArrayBuffer.empty[Row]
    val keyed = !key.isNullAt(0)
    def pair(l: JoinBuf, r: JoinBuf): Unit = if (l.t < r.t && r.t <= l.until) {
      if (!semi) out += Row.fromSeq(l.row.toSeq ++ r.row.toSeq)
      else if (!l.matched) out += l.row
      l.matched = true; r.matched = true
    }
    // new right rows meet the buffered left rows; new left rows then meet
    // every right row, buffered and new, so each pair is made once
    val newL = ArrayBuffer.empty[JoinBuf]
    rows.foreach { v =>
      val t = micros(v.get(1))
      if (v.isNullAt(3)) {
        val b = new JoinBuf(t, t, false, rc, null, v.getStruct(4))
        if (keyed) ls.foreach(pair(_, b))
        rs += b
      } else newL += new JoinBuf(t, micros(v.get(2)), false, lc, null, v.getStruct(3))
    }
    newL.foreach { b => if (keyed) rs.foreach(pair(b, _)); ls += b }
    val wm = state.getCurrentWatermarkMs() * 1000L
    // a semi join is done with a left row once it has matched
    def evict(buf: ArrayBuffer[JoinBuf], done: JoinBuf => Boolean, outer: Boolean,
              extend: Row => Row) = buf.filter { b =>
      val live = b.until > wm && !done(b)
      if (!live && outer && !b.matched) out += extend(b.row)
      live
    }
    val keptL = evict(ls, semi && _.matched, keepL,
      l => Row.fromSeq(l.toSeq ++ Seq.fill(rSchema.size)(null)))
    val keptR = evict(rs, _ => false, keepR,
      r => Row.fromSeq(Seq.fill(lSchema.size)(null) ++ r.toSeq))
    if (keptL.isEmpty && keptR.isEmpty) state.remove()
    else {
      state.update(Row(save(keptL), save(keptR)))
      // fires once the watermark (ms) reaches the earliest `until` (µs)
      val next = (keptL.iterator ++ keptR.iterator).map(_.until).min
      state.setTimeoutTimestamp(math.max(1L, -Math.floorDiv(-next, 1000L) - 1))
    }
    out.iterator
  }
}

object StreamOps {
  type Event = graft.streaming.Event
  val Event = graft.streaming.Event

  /** Apply the op's watermark unless `ts` already carries one from the
    * source (a FlinkDdl `WATERMARK FOR ...` table or an upstream
    * `withWatermark` — the delay metadata survives projections): Spark
    * disallows REDEFINING a watermark mid-plan, and the source's
    * declaration is authoritative (the streaming MATCH_RECOGNIZE route
    * reads its delay from exactly that node). */
  private def tsWatermarked[T](ds: Dataset[T], watermark: String): Dataset[T] =
    if (ds.schema("ts").metadata.contains(
        org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark.delayKey))
      ds
    else ds.withWatermark("ts", watermark)

  /** TUMBLE with watermark-bounded state. */
  def tumblingAgg(events: DataFrame, watermark: String, size: String): DataFrame =
    tsWatermarked(events, watermark)
      .groupBy(window(col("ts"), size).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** HOP (sliding) with watermark-bounded state. */
  def slidingAgg(events: DataFrame, watermark: String, size: String, slide: String): DataFrame =
    tsWatermarked(events, watermark)
      .groupBy(window(col("ts"), size, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** SESSION windows (gap-merged, native session_window). */
  def sessionAgg(events: DataFrame, watermark: String, gap: String): DataFrame =
    tsWatermarked(events, watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** DYNAMIC-gap session windows (reference flink-streaming-java/.../
    * assigners/DynamicEventTimeSessionWindows.java): each element's gap is
    * the per-row `gap` expression; overlapping [ts, ts+gap) ranges merge.
    * Structured Streaming's session_window supports expression gaps under
    * the same watermark state eviction as the static [[sessionAgg]]. */
  def sessionAggDynamic(events: DataFrame, watermark: String,
                        gap: org.apache.spark.sql.Column): DataFrame =
    tsWatermarked(events, watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Processing-time tumbling window (reference flink-streaming-java/.../
    * windowing/assigners/TumblingProcessingTimeWindows.java): rows are
    * bucketed by WALL-clock arrival, the ops-dashboard semantics Flink users
    * reach for when event time doesn't matter. In a micro-batch engine the
    * arrival time is the batch timestamp (`current_timestamp()` is constant
    * per micro-batch), and a zero-delay watermark on it closes windows as
    * the wall clock passes them. */
  def processingTimeTumbleAgg(events: DataFrame, size: String): DataFrame =
    events.withColumn("proc_ts", current_timestamp())
      .withWatermark("proc_ts", "0 seconds")
      .groupBy(window(col("proc_ts"), size).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Early-firing tumbling aggregate — the reference's
    * ContinuousEventTimeTrigger (flink-streaming-java/.../windowing/triggers/
    * ContinuousEventTimeTrigger.java, also CountTrigger+non-purging
    * composition): the window fires repeatedly BEFORE it closes, emitting
    * partial aggregates that later fires revise. In a micro-batch engine the
    * natural fire cadence is the trigger interval itself: the SAME windowed
    * aggregate in UPDATE output mode re-emits each key's revised partial
    * every micro-batch it changes in, and the last revision (once the
    * watermark closes the window) equals the append-mode result. Returns the
    * writer pre-configured for update mode; pair with
    * `.trigger(ProcessingTime("..."))` to set the fire interval. */
  def earlyFireTumbleAgg(events: DataFrame, watermark: String,
                         size: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    tumblingAgg(events, watermark, size).writeStream.outputMode("update")

  /** Processing-time session timer (reference KeyedProcessFunction +
    * `registerProcessingTimeTimer`, TumblingProcessingTimeWindows' timer
    * service): the session closes `gapMs` of WALL time after the key's last
    * arrival, regardless of event-time watermarks — no watermark required.
    * Session bounds in the output are still the observed event times. */
  def sessionizeProcessingTime(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val accEnc = Encoders.product[SessionAcc]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val acc = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(acc.startMs),
              new Timestamp(acc.lastMs + gapMs), acc.n, acc.sum))
          } else {
            var acc = state.getOption.orNull
            rows.foreach { e =>
              val t = e.ts.getTime
              acc = if (acc == null) SessionAcc(t, t, 1L, e.value)
              else SessionAcc(math.min(acc.startMs, t), math.max(acc.lastMs, t),
                acc.n + 1, acc.sum + e.value)
            }
            state.update(acc)
            state.setTimeoutDuration(gapMs) // wall-clock timer, reset on arrival
            Iterator.empty
          }
      }
  }

  /** Keyed dedup under a watermark (Blink deduplicate-keep-first). */
  def dedupWithinWatermark(events: DataFrame, watermark: String, keys: Seq[String]): DataFrame =
    tsWatermarked(events, watermark).dropDuplicatesWithinWatermark(keys)

  /** Blink deduplicate-keep-LAST (reference StreamExecDeduplicate with
    * keepLastRow=true): update-mode stream where each key re-emits its
    * latest row by event time (ties broken by larger value for
    * determinism). The retract/upsert counterpart of
    * [[dedupWithinWatermark]]'s append-mode keep-first.
    *
    * Keep-last semantically wants long-lived state, but Flink pairs
    * StreamExecDeduplicate with state TTL — mirrored here: a key idle past
    * `idleTtlMs` of event time is evicted wholesale (its next event simply
    * re-opens it as if first-seen). */
  def dedupKeepLast(events: Dataset[Event], watermark: String,
                    idleTtlMs: Long = 86400000L): Dataset[Event] = {
    implicit val evEnc = Encoders.product[Event]
    implicit val keyEnc = Encoders.scalaLong
    tsWatermarked(events, watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Event, Event](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[Event], state: GroupState[Event]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val latest = (state.getOption.iterator ++ rows)
              .maxBy(e => (e.ts.getTime, e.value))
            state.update(latest)
            state.setTimeoutTimestamp(
              math.max(latest.ts.getTime, state.getCurrentWatermarkMs()) + idleTtlMs)
            Iterator.single(latest)
          }
      }
  }

  /** Streaming count window (reference DataStream#countWindow,
    * flink-streaming-java/.../datastream/KeyedStream.java): every `size`
    * events per key emit one aggregate row (count/sum/min/max event time);
    * the partial tail stays in O(1) state awaiting its window's fill.
    *
    * A count window never fires on time alone (exactly Flink's semantics),
    * so without a bound a dormant key's partial tail would live forever —
    * Flink users pair countWindow with state TTL, mirrored here: a key idle
    * past `idleTtlMs` of event time has its partial tail DISCARDED (never
    * emitted), the same data loss Flink's state TTL implies. */
  def countWindowAgg(events: Dataset[Event], watermark: String,
                     size: Int, idleTtlMs: Long = 86400000L): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val accEnc = Encoders.product[SessionAcc]
    implicit val keyEnc = Encoders.scalaLong
    tsWatermarked(events, watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var acc = state.getOption.getOrElse(SessionAcc(Long.MaxValue, Long.MinValue, 0L, 0.0))
            val out = Seq.newBuilder[SessionOut]
            var maxTs = state.getCurrentWatermarkMs()
            // deterministic within-batch order (countWindow is order-sensitive)
            rows.toSeq.sortBy(e => (e.ts.getTime, e.event_type, e.value)).foreach { e =>
              val t = e.ts.getTime
              maxTs = math.max(maxTs, t)
              acc = SessionAcc(math.min(acc.startMs, t), math.max(acc.lastMs, t),
                acc.n + 1, acc.sum + e.value)
              if (acc.n == size) {
                out += SessionOut(userId, new Timestamp(acc.startMs),
                  new Timestamp(acc.lastMs), acc.n, acc.sum)
                acc = SessionAcc(Long.MaxValue, Long.MinValue, 0L, 0.0)
              }
            }
            if (acc.n == 0) state.remove()
            else {
              state.update(acc)
              state.setTimeoutTimestamp(maxTs + idleTtlMs)
            }
            out.result().iterator
          }
      }
  }

  /** ProcessFunction analog: explicit sessionization with keyed state and an
    * event-time timer. Emits a session when the watermark passes
    * last-event + gap.
    *
    * `initialState` is the BootstrapTransformation analog generalized past
    * the dedup shape (reference flink-state-processing-api
    * WritableSavepoint.java / BootstrapTransformation.java): each supplied
    * (key, SessionAcc) becomes that key's open session before the first
    * batch, exactly as if a prior run had checkpointed mid-session — a
    * subsequent in-gap event EXTENDS the seeded session rather than opening
    * a new one. As with checkpointed state, a seeded key emits on its next
    * event or timer; seeding alone schedules no timer (the reference's
    * bootstrapped operators behave the same until the job runs). */
  def sessionize(events: Dataset[Event], watermark: String, gapMs: Long,
                 initialState: Option[Dataset[(Long, SessionAcc)]] = None): Dataset[SessionOut] = {
    implicit val outEnc = Encoders.product[SessionOut]
    implicit val accEnc = Encoders.product[SessionAcc]
    implicit val keyEnc = Encoders.scalaLong
    val fn = (userId: Long, rows: Iterator[Event], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val acc = state.get
            state.remove()
            Iterator.single(SessionOut(userId, new Timestamp(acc.startMs),
              new Timestamp(acc.lastMs + gapMs), acc.n, acc.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var acc = state.getOption.orNull
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (acc == null) acc = SessionAcc(t, t, 1L, e.value)
              else if (t - acc.lastMs < gapMs)
                acc = acc.copy(lastMs = math.max(acc.lastMs, t), n = acc.n + 1, sum = acc.sum + e.value)
              else { // gap exceeded within a batch: close the old session inline
                out += SessionOut(userId, new Timestamp(acc.startMs),
                  new Timestamp(acc.lastMs + gapMs), acc.n, acc.sum)
                acc = SessionAcc(t, t, 1L, e.value)
              }
            }
            state.update(acc)
            state.setTimeoutTimestamp(acc.lastMs + gapMs)
            out.result().iterator
          }
    val grouped = tsWatermarked(events, watermark).groupByKey(_.user_id)
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState[SessionAcc, SessionOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout,
          init.groupByKey(_._1).mapValues(_._2))(fn)
      case None =>
        grouped.flatMapGroupsWithState[SessionAcc, SessionOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
    }
  }

  /** CEP followed-by: emit (first, second) when `secondType` arrives within
    * `windowMs` of a pending `firstType` for the same key.
    *
    * MATCH POLICY — deliberately DIFFERENT from batch w05 / `Pattern`'s
    * NO_SKIP default: one second-event emits only the pair with the EARLIEST
    * in-window pending first, and consumes ALL in-window pending firsts
    * (skip-past-last-like dedup, the shape alerting pipelines want — one
    * alert per trigger, not one per dangling first). For exact batch-parity
    * semantics (every first gets its own match) use [[cepPattern]], the
    * documented parity op.
    *
    * Bounds (mirroring [[coProcessMatch]]): at most `maxPending` unmatched
    * first-events per key are retained, dropping the newest arrival when
    * full (the header's cap policies). Pending firsts whose
    * window closed at-or-before the watermark are pruned each batch, and an
    * event-time timeout releases a dormant key's state entirely once every
    * pending window has passed (Flink NFA pruning + state-TTL analog). */
  def cepFollowedBy(events: Dataset[Event], watermark: String,
                    firstType: String, secondType: String, windowMs: Long,
                    maxPending: Int = 1024): Dataset[PairOut] = {
    implicit val outEnc = Encoders.product[PairOut]
    implicit val accEnc = Encoders.product[CepAcc]
    implicit val keyEnc = Encoders.scalaLong
    tsWatermarked(events, watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CepAcc, PairOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[CepAcc]) => {
          // NO hasTimedOut short-circuit: the timer is armed at the EARLIEST
          // pending window close, so when it fires other pendings may still
          // have open windows — fall through to the watermark pruning below,
          // which removes exactly the closed ones and re-arms the timer
          // (the cepPattern/cepPatternIter discipline; rows is empty on a
          // pure timeout fire).
          // deterministic within-batch order on equal timestamps (mirrors
          // cepPattern/coProcessMatch)
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_type, e.value))
          var pending = state.getOption.map(_.pendingFirstMs).getOrElse(Nil)
          val out = Seq.newBuilder[PairOut]
          sorted.foreach { e =>
            val t = e.ts.getTime
            if (e.event_type == firstType) {
              if (pending.size < maxPending) pending = t :: pending // else drop newest
            } else if (e.event_type == secondType) {
              pending.filter(f => t > f && t - f <= windowMs).sorted.headOption.foreach { f =>
                out += PairOut(userId, new Timestamp(f), new Timestamp(t))
              }
              pending = pending.filterNot(f => t > f && t - f <= windowMs)
            }
          }
          // watermark pruning: a pending first whose window closed at-or-
          // before the watermark can never match (every future second > wm)
          val wm = state.getCurrentWatermarkMs()
          pending = pending.filter(f => f + windowMs > wm)
          if (pending.isEmpty) state.remove()
          else {
            state.update(CepAcc(pending))
            state.setTimeoutTimestamp(pending.map(_ + windowMs).min)
          }
          out.result().iterator
        }
      }
  }

  /** Flink intervalJoin on streams (reference flink-streaming-java/.../
    * api/operators/co/IntervalJoinOperator.java): each left row pairs with
    * the right rows of the same `user_id` whose `ts` lies in
    * (left.ts, left.ts + upper].
    *
    * One keyed operator holds both sides' buffers, as Flink's does. The two
    * watermarked sides are tagged, unioned and keyed by `user_id` into one
    * `flatMapGroupsWithState` (Append, event-time timeout) whose state is
    * the key's left and right buffers, so each trigger commits one state
    * store per partition where Spark's symmetric hash join commits four. A
    * new left row is matched against the buffered and the new right rows, a
    * new right row against the buffered left rows, so rows of one batch pair
    * once; a null key never matches. Eviction: a left row leaves once
    * `ts + upper` ≤ the watermark and a right row once its `ts` ≤ the
    * watermark, when no row that can still arrive could pair with it. The
    * timeout is set to the key's earliest eviction, so a key that gets no
    * more data is still cleaned up. Late rows are dropped by Spark's
    * late-event filter on the watermarked `ts`, against the same global
    * watermark (the min of the two sides') the native join uses.
    *
    * `joinType` is `inner`, `left_outer`, `right_outer`, `full_outer` or
    * `left_semi` (Spark's spellings of these, such as "left", work too);
    * any other type is rejected by name. An outer type emits a row that
    * never matched, null-extended, when it is evicted; `left_semi` emits a
    * left row once, at its first match.
    *
    * The output is the native join's: `l.*` then `r.*` (`l.*` alone for
    * `left_semi`), qualified `l` and `r`, and the same rows as a multiset,
    * with one exception: Spark's native full outer join pairs a null
    * `user_id` with a null `user_id`, and this one does not. To keep both
    * watermarks equal, a side that is not preserved drops its null-key rows
    * before its watermark, as Spark's inferred `isnotnull` filter does.
    * Unlike the native join's output, this one cannot feed a stateful
    * operator in the same query: Spark's global-watermark check rejects
    * one downstream of `flatMapGroupsWithState`.
    *
    * State layout: one row per key holding both buffers, each a binary run
    * of (ts, eviction time, matched, UnsafeRow bytes) records. A checkpoint
    * written by the native join, with its four stores per partition, cannot
    * be resumed by this operator. */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
                               leftWm: String, rightWm: String, upper: String,
                               joinType: String = "inner"): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.TypeCoercion
    import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftOuter, LeftSemi, RightOuter}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.{BinaryType, Metadata, StructField}
    val jt = JoinType(joinType)
    require(Seq(Inner, LeftOuter, RightOuter, FullOuter, LeftSemi).contains(jt),
      s"streamStreamIntervalJoin does not support join type '$joinType' " +
        "(supported: inner, left_outer, right_outer, full_outer, left_semi)")
    val keepL = jt == LeftOuter || jt == FullOuter
    val keepR = jt == RightOuter || jt == FullOuter
    def side(df: DataFrame, wm: String, kept: Boolean) =
      (if (kept) df else df.filter(col("user_id").isNotNull))
        .withWatermark("ts", wm).filter(col("ts").isNotNull)
    def whole(df: DataFrame) = struct(df.columns.toIndexedSeq.map(c => col(s"`${c.replace("`", "``")}`")): _*)
    val l = side(left, leftWm, keepL)
    val r = side(right, rightWm, keepR)
    val lt = l.select(col("user_id").as("k"), col("ts"),
      (col("ts") + expr(s"INTERVAL $upper")).as("hi"), whole(l).as("l"))
    val rt = r.select(col("user_id").as("k"), col("ts"), whole(r).as("r"))
    val (lk, rk) = (lt.schema("k").dataType, rt.schema("k").dataType)
    val kt = TypeCoercion.findWiderTypeForTwo(lk, rk).getOrElse(throw new IllegalArgumentException(
      s"streamStreamIntervalJoin: user_id types ${lk.simpleString} and ${rk.simpleString} do not compare"))
    val lType = lt.schema("l").dataType.asInstanceOf[StructType]
    val rType = rt.schema("r").dataType.asInstanceOf[StructType]
    val tagged = lt.select(col("k").cast(kt).as("k"), col("ts"), col("hi"), col("l"),
        lit(null).cast(rType).as("r"))
      .union(rt.select(col("k").cast(kt).as("k"), col("ts"),
        lit(null).cast(lt.schema("hi").dataType).as("hi"), lit(null).cast(lType).as("l"), col("r")))
    val stateSchema = StructType(Seq(StructField("left", BinaryType, false),
      StructField("right", BinaryType, false)))
    def outFields(t: StructType, tag: String, nullable: Boolean) =
      t.fields.zipWithIndex.map { case (f, i) =>
        f.copy(name = s"$tag$i", nullable = f.nullable || nullable, metadata = Metadata.empty)
      }
    val lOut = outFields(lType, "l", keepR)
    val rOut = if (jt == LeftSemi) Array.empty[StructField] else outFields(rType, "r", keepL)
    val step = new IntervalJoinBuffers(jt == LeftSemi, keepL, keepR, lType, rType)
    val out = tagged.groupBy(col("k"))
      .as[Row, Row](Encoders.row(StructType(Seq(tagged.schema("k")))), Encoders.row(tagged.schema))
      .flatMapGroupsWithState[Row, Row](OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        step.apply _)(Encoders.row(stateSchema), Encoders.row(StructType(lOut ++ rOut)))
    // each column gets back its side's name, qualifier and metadata (the
    // `ts` columns keep their event-time marker, as the native join's do)
    val named = lOut.zip(l.schema.fields).map((_, "l")) ++ rOut.zip(r.schema.fields).map((_, "r"))
    out.select(named.toIndexedSeq.map { case ((o, f), q) =>
      ColumnBridge.qualifiedAlias(col(o.name), f.name, q, f.metadata)
    }: _*)
  }

  /** The ALL-MATCHES streaming twin of
    * [[graft.cep.Pattern.followedByAny]] (reference flink-cep
    * Pattern.java:322 applied on a stream: every in-window candidate
    * forks a match branch). The one-candidate-per-step CEP modes need
    * custom state (the cepPattern family); the all-branches mode emits
    * exactly what Spark's NATIVE stream-stream interval joins produce,
    * so the lowering is a cascade of watermarked joins — no custom state,
    * append-mode output, per-key join state bounded by the window (Spark
    * derives the cleanup bound from the two-sided time condition; ≥3.4
    * chains the stateful joins). Emits every strictly-time-increasing
    * chain `s1.ts < s2.ts < … ≤ s1.ts + window` as `user_id` +
    * `<name>_ts` per step — the same columns the batch
    * [[graft.cep.Pattern]] all-matches compile emits, so batch/stream
    * parity is a set-equality check. */
  def cepFollowedByAnyChain(events: Dataset[Event], watermark: String,
                            steps: Seq[(String, String)],
                            windowMs: Long): DataFrame = {
    require(steps.size >= 2, "a chain needs at least two steps (name -> event_type)")
    val wmed = tsWatermarked(events.toDF(), watermark)
    val win = expr(s"INTERVAL $windowMs MILLISECONDS")
    val (n0, t0) = steps.head
    val start = s"${n0}_ts"
    var out = wmed.filter(col("event_type") === t0)
      .select(col("user_id"), col("ts").as(start))
    var prev = start
    val earlier = scala.collection.mutable.ListBuffer(start)
    steps.tail.foreach { case (n, tp) =>
      val cur = s"${n}_ts"
      val cand = wmed.filter(col("event_type") === tp)
        .select(col("user_id").as("__k2"), col("ts").as(cur))
      // the per-hop bound (cur <= prev + window) is IMPLIED by the chain
      // (cur <= start + window and prev > start) — it is spelled out so
      // the join carries a two-sided time constraint on the two EVENT-TIME
      // columns, which is what bounds the join state
      out = out.join(cand,
          col("user_id") === col("__k2") && col(cur) > col(prev) &&
            col(cur) <= col(prev) + win && col(cur) <= col(start) + win)
        .drop("__k2")
      // Spark allows ONE event-time column per stream: keep the newest
      // binding as the watermark carrier and strip the marker from every
      // earlier ts (+0s arithmetic = equal value, fresh unmarked column)
      out = earlier.foldLeft(out)((d, c) =>
        d.withColumn(c, col(c) + expr("INTERVAL 0 SECONDS")))
      earlier += cur
      prev = cur
    }
    out
  }

  /** WINDOW-aligned stream-stream join (reference flink-streaming-java/.../
    * datastream/JoinedStreams.java: `left.join(right).where(key).equalTo(key)
    * .window(TumblingEventTimeWindows.of(size))`): rows of the two streams
    * pair only when they share BOTH the key and the same tumbling window —
    * the window-cohort semantics, distinct from [[streamStreamIntervalJoin]]'s
    * per-row relative range. Spark plans the window equality as a
    * state-cleanup condition, so each side's state holds only the open
    * window's rows per key (exactly Flink's window buffer). */
  def streamWindowJoin(left: DataFrame, right: DataFrame,
                       leftWm: String, rightWm: String, size: String): DataFrame = {
    val l = left.withWatermark("ts", leftWm)
      .withColumn("w", window(col("ts"), size)).as("l")
    val r = right.withWatermark("ts", rightWm)
      .withColumn("w", window(col("ts"), size)).as("r")
    l.join(r, expr("l.user_id = r.user_id AND l.w = r.w"))
  }

  /** Streaming Top-N per key — the Blink streaming Rank operator
    * (reference flink-table-planner-blink/.../physical/stream/
    * StreamExecRank.scala, UpdatableTopNFunction): keyed state holds only the
    * current top `n` rows; whenever an arriving event changes the top set, the
    * refreshed ranking for that key is re-emitted (update semantics, so the
    * sink sees upsert-style rows exactly like Flink's retract stream).
    * State is O(n) per key regardless of stream length; keys idle past
    * `idleTtlMs` (event time) are evicted entirely — the Flink state-TTL
    * analog, so an unbounded key space (user ids) cannot grow state forever. */
  def streamingTopN(events: Dataset[Event], watermark: String, n: Int,
                    idleTtlMs: Long = 86400000L): Dataset[TopNOut] = {
    implicit val outEnc = Encoders.product[TopNOut]
    implicit val accEnc = Encoders.product[TopNAcc]
    implicit val keyEnc = Encoders.scalaLong
    tsWatermarked(events, watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TopNAcc, TopNOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TopNAcc]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.map(_.top).getOrElse(Nil)
            // deterministic order: value desc, then event time asc as tie-break
            val ord = Ordering.by((s: Scored) => (-s.value, s.tsMs))
            val arrived = rows.map(e => Scored(e.ts.getTime, e.value)).toList
            val top = (prev ++ arrived).sorted(ord).take(n)
            val maxTs = (arrived.map(_.tsMs) :+ state.getCurrentWatermarkMs()).max
            state.update(TopNAcc(top))
            state.setTimeoutTimestamp(maxTs + idleTtlMs)
            if (top == prev) Iterator.empty
            else top.iterator.zipWithIndex.map { case (s, i) =>
              TopNOut(userId, i + 1, s.value, new Timestamp(s.tsMs))
            }
          }
      }
  }

  /** Side outputs (reference flink-streaming-java/.../functions/
    * ProcessFunction.java OutputTag): one pass over each micro-batch, routed
    * to per-predicate sinks inside foreachBatch. The batch is persisted so
    * the source is read ONCE regardless of how many outputs exist — the same
    * single-pass guarantee as Flink's side-output collector. */
  def sideOutputs(stream: DataFrame,
                  routes: Seq[(org.apache.spark.sql.Column, DataFrame => Unit)]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.persist()
      try routes.foreach { case (pred, sink) => sink(batch.filter(pred)) }
      finally batch.unpersist()
    }

  /** Connected streams + CoProcessFunction (reference
    * flink-streaming-java/.../datastream/ConnectedStreams.java,
    * CoProcessFunction): two streams keyed the same share one keyed state.
    * Earliest-pending matching: a left event pairs with the earliest
    * unmatched right event for the key (and vice versa), emitted on arrival
    * of the second side. State holds only unmatched timestamps.
    *
    * Bounds: at most `maxPending` unmatched timestamps per key AND side are
    * retained, dropping the newest arrival when full (the header's cap
    * policies). Keys idle past `idleTtlMs` of event time are evicted
    * wholesale (Flink state-TTL analog). */
  def coProcessMatch(left: Dataset[Event], right: Dataset[Event],
                     watermark: String, maxPending: Int = 1024,
                     idleTtlMs: Long = 86400000L): Dataset[MatchOut] = {
    val spark = left.sparkSession
    import spark.implicits._
    implicit val accEnc = Encoders.product[CoAcc]
    // the event-time column must SURVIVE into the stateful operator for the
    // event-time timeout, so Tagged keeps ts and the watermark is declared
    // on the unioned stream
    val tagged = left.map(e => Tagged(e.user_id, e.ts, "L"))
      .unionByName(right.map(e => Tagged(e.user_id, e.ts, "R")))
      .withWatermark("ts", watermark)
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[CoAcc, MatchOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Tagged], state: GroupState[CoAcc]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var acc = state.getOption.getOrElse(CoAcc(Nil, Nil))
            val out = Seq.newBuilder[MatchOut]
            def bounded(pending: List[Long], t: Long): List[Long] =
              if (pending.size < maxPending) t :: pending else pending // drop newest
            var maxTs = state.getCurrentWatermarkMs()
            rows.toSeq.sortBy(t => (t.ts.getTime, t.side)).foreach { t =>
              val tMs = t.ts.getTime
              maxTs = math.max(maxTs, tMs)
              if (t.side == "L") acc.rightMs.sorted.headOption match {
                case Some(r) => out += MatchOut(userId, new Timestamp(tMs), new Timestamp(r))
                  acc = CoAcc(acc.leftMs, acc.rightMs.diff(List(r)))
                case None => acc = CoAcc(bounded(acc.leftMs, tMs), acc.rightMs)
              } else acc.leftMs.sorted.headOption match {
                case Some(l) => out += MatchOut(userId, new Timestamp(l), new Timestamp(tMs))
                  acc = CoAcc(acc.leftMs.diff(List(l)), acc.rightMs)
                case None => acc = CoAcc(acc.leftMs, bounded(acc.rightMs, tMs))
              }
            }
            state.update(acc)
            state.setTimeoutTimestamp(maxTs + idleTtlMs)
            out.result().iterator
          }
      }
  }

  /** Streaming linear CEP — the unbounded counterpart of
    * `graft.cep.Pattern.detect` (reference flink-libraries/flink-cep NFA on
    * DataStream): every event matching step 0 opens a partial match; each
    * later step binds the first following event matching its predicate
    * within `withinMs` of the start. Completed matches emit immediately.
    * Negative (notFollowedBy) endings need window-expiry emission — use
    * [[cepPatternSteps]] with a terminal `negative` step for those. Runs on
    * [[cepLinear]], whose scaladoc gives the state bounds and cap.
    *
    * `skipPastLast` is `Pattern.afterMatchSkipPastLastEvent`'s twin
    * (AfterMatchSkipStrategy.skipPastLastEvent): kept matches must start
    * strictly after the previous kept match's last bound event, greedily in
    * start order. Greedy selection needs start-order finality, so completed
    * matches are HELD until the watermark passes their window end (no
    * earlier-starting match can then still complete) and finalized in
    * (start, end) order against the per-key last-end — emission latency is
    * one window, inherent to the semantics.
    *
    * `initialState`: BootstrapTransformation analog for the CEP shape —
    * each (key, CepPatternAcc), in epoch ms, seeds that key's OPEN PARTIAL
    * MATCHES and skip-past-last frontier (`pending`, `lastEndMs`) before
    * the first batch, as if restored from a prior run's checkpoint: a
    * seeded partial completes from live events exactly where the prior run
    * left off. Seeded keys emit on their next event; seeding alone
    * schedules no timer (checkpoint-restore parity). Composite keys have no
    * savepoint surface: seeds are long-keyed. */
  def cepPattern(events: Dataset[Event], watermark: String,
                 steps: Seq[Event => Boolean], withinMs: Long,
                 maxPartials: Int = 256,
                 skipPastLast: Boolean = false,
                 initialState: Option[Dataset[(Long, CepPatternAcc)]] = None): Dataset[PatternMatch] = {
    implicit val outEnc = Encoders.product[PatternMatch]
    def seeded(p: Partial) = ExPartial(p.boundMs.map(_ * 1000L),
      p.boundMs.map(_ => ""), -1L, vals = p.boundMs.map(_ => 0.0))
    val seed = initialState.map(_.map { case (k, a) =>
      (k, CepExAcc(a.partials.map(seeded), a.pending.map(seeded),
        if (a.lastEndMs == Long.MinValue) Long.MinValue else a.lastEndMs * 1000L))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.product[CepExAcc])))
    cepLinear(events, watermark, steps.map(p => (CepStep(p), None)), withinMs,
        maxPartials, skipPastLast, seed) { m =>
      PatternMatch(m.user_id, m.step_ts, m.skey)
    }
  }

  /** Step descriptor for [[cepPatternSteps]] — the streaming twins of the
    * batch Pattern step kinds: relaxed followedBy (default), STRICT
    * contiguity (`strict = true`, flink-cep `next()`: the step binds only at
    * the key's first event time strictly after the previous binding, and ANY
    * event counts as intervening — so feed the op the key's full event
    * stream, not a pre-filtered one), alternation (`branches` non-empty,
    * flink-cep GroupPattern / followedByOneOf: the first matching branch in
    * declaration order classifies the binding), `optional` (flink-cep
    * `optional()` with the batch compile's greedy semantics: the step binds
    * whenever a candidate exists anywhere in the window, and is skipped —
    * null `step_ts` entry — only when none ever arrives, so skip-matches
    * emit when the watermark passes the window end), and `times` (flink-cep
    * `times(n)`: n successive occurrences, one `step_ts` entry each).
    * `optional` is exclusive with strict/branches/times and cannot be the
    * first step — mirroring the batch combinator's requires. A terminal
    * `negative` step (flink-cep `notFollowedBy`, `Pattern.notFollowedBy`'s
    * twin) must see NO matching event between the last positive binding and
    * the window end: the completed positive prefix holds in state and emits
    * once the watermark passes the window end — the same held-match
    * machinery optional skips use. `negative` + `strict` is `notNext`'s
    * twin: only the key's FIRST event time after the last binding decides
    * (kill if any satisfying event at it, emit as soon as it passes;
    * vacuous pass at window expiry). */
  /** `timesTo > 0` makes the step a GREEDY `{times, timesTo}` range
    * quantifier (batch `Pattern.timesRange(from, to)`'s twin): `times`
    * mandatory occurrences plus up to `timesTo - times` more whenever they
    * exist. Lowered by expansion into mandatory + OPTIONAL step copies —
    * the optional-skip guard machinery already enforces the greedy batch
    * semantics (a skipped expansion survives only if NO candidate ever
    * arrives in the window; because the expansions share one predicate,
    * any later candidate kills the skip branch before it could bind a
    * later expansion, so a null expansion is always a SUFFIX — exactly the
    * batch compile's nullable tail). */
  case class CepStep(pred: Event => Boolean, strict: Boolean = false,
                     branches: Seq[(String, Event => Boolean)] = Nil,
                     optional: Boolean = false, times: Int = 1,
                     negative: Boolean = false, timesTo: Int = 0)

  /** Streaming CEP with per-step contiguity modes and branch classifiers —
    * the unbounded counterpart of `graft.cep.Pattern.next/followedByOneOf`
    * (reference flink-cep Pattern.java#next and GroupPattern.java; the NFA
    * does all contiguity modes on streams). Semantics match the batch
    * compile: a strict step must bind at the earliest event time strictly
    * after the previous binding (equal-timestamp events each get a chance;
    * a strictly later time kills the partial), an alternation step binds the
    * first event satisfying any branch and records WHICH in `step_cls`
    * (empty string for plain steps), an optional step skips only when no
    * candidate ever arrives in the window (skip-matches hold in state and
    * emit once the watermark passes the window end), times(n) binds n
    * successive occurrences, and a terminal `negative` step
    * (notFollowedBy) holds the completed positive prefix the same way —
    * killed by any matching event before the window closes, emitted via
    * the event-time timeout otherwise. Runs on [[cepLinear]]. */
  def cepPatternSteps(events: Dataset[Event], watermark: String,
                      steps: Seq[CepStep], withinMs: Long,
                      maxPartials: Int = 256): Dataset[ExMatch] = {
    implicit val outEnc = Encoders.product[ExMatch]
    cepLinear(events, watermark, steps.map(s => (s, None)), withinMs,
      maxPartials)(identity)
  }

  /** Streaming linear CEP with ITERATIVE conditions — the unbounded
    * counterpart of `graft.cep.Pattern.followedByIterative` (reference
    * flink-libraries/flink-cep/.../pattern/conditions/IterativeCondition
    * .java:65, `ctx.getEventsForPattern`): each step predicate sees the
    * candidate event AND the prior bound events (oldest first), so relative
    * conditions like "purchase.value > 2 × signup.value" work on streams.
    * Emits both timestamps and values of the bound events. `steps.head` is
    * called with an empty prior list. Runs on [[cepLinear]]. */
  def cepPatternIter(events: Dataset[Event], watermark: String,
                     steps: Seq[(Event, List[Event]) => Boolean], withinMs: Long,
                     maxPartials: Int = 256): Dataset[IterMatch] = {
    implicit val outEnc = Encoders.product[IterMatch]
    cepLinear(events, watermark, steps.map(f => (CepStep(_ => true), Some(f))),
        withinMs, maxPartials) { m =>
      IterMatch(m.user_id, m.step_ts, m.step_value.map(_.get), m.skey)
    }
  }

  /** A relative (iterative) step condition: the candidate event and the
    * partial's prior bound events, oldest first, skipped optionals left out. */
  private[graft] type Prior = (Event, List[Event]) => Boolean

  // Spark keeps event time in µs: the linear walk compares and emits in µs,
  // and rounds its event-time timeouts (ms) up so they never fall before the
  // watermark
  private def micros(ts: Timestamp): Long = DateTimeUtils.fromJavaTimestamp(ts)
  private def tsOf(us: Long): Timestamp = DateTimeUtils.toJavaTimestamp(us)
  private def ceilMs(us: Long): Long = Math.floorDiv(us + 999L, 1000L)

  /** The one linear streaming CEP walk: [[cepPattern]], [[cepPatternSteps]],
    * [[cepPatternIter]] and MATCH_RECOGNIZE's linear streaming lowering all
    * run on it. `steps` are [[CepStep]]s (strict, optional, `times`,
    * alternation, terminal negative), each with an optional relative
    * condition ([[Prior]]) that must hold as well when the step binds;
    * `toOut` shapes each match for its caller.
    *
    * Times are compared and emitted in µs, the precision Spark keeps; the
    * window bound is inclusive (`t <= start + withinMs`). Within a batch,
    * rows are processed in (ts, type, value) order. The walk DECIDES ON
    * ARRIVAL: a step binds the first matching event the key has seen so
    * far. So an event that reaches a key after later events of that key,
    * still inside the watermark, can bind differently from batch (where it
    * would have bound first). The run, group and nested twins decide on the
    * watermark-finalized prefix instead (see [[BufEv]]).
    *
    * Without skip-past-last, a match with no skipped optional and no
    * negative terminal emits as soon as its last step binds; the others are
    * held until the watermark passes their window end (a strict negative
    * decides as soon as the watermark passes its first successor time).
    * With `skipPastLast` every completed match is held until its window
    * closes, then the ripe ones are finalized greedily in (start, end)
    * order against the key's last kept end (`CepExAcc.lastEndUs`).
    *
    * State per key: the open partials and held matches, at most
    * `maxPartials` open partials (newest starts kept: the header's cap
    * policies), pruned against the watermark, with an event-time timeout at
    * the earliest window end so a key that stops sending events still
    * releases its state (Flink NFA pruning + state-TTL analog). A partial
    * carries its bound times, branch classes and values (and the bound
    * event types when some step is relative: with the key, that rebuilds
    * the prior events). `initialState` seeds keys as if restored from a
    * checkpoint.
    *
    * State layout: one `CepExAcc` per (key, skey), times in µs. A checkpoint
    * written by the earlier per-entry-point walks of cepPattern,
    * cepPatternSteps and cepPatternIter (`CepPatternAcc`, `CepExAcc` and
    * `CepIterAcc` states in ms) cannot be resumed by this operator. */
  private[graft] def cepLinear[O: Encoder](events: Dataset[Event], watermark: String,
      steps: Seq[(CepStep, Option[Prior])], withinMs: Long, maxPartials: Int,
      skipPastLast: Boolean = false,
      initialState: Option[Dataset[(Long, CepExAcc)]] = None)(
      toOut: ExMatch => O): Dataset[O] = {
    require(steps.count(_._1.negative) <= 1 && !steps.dropRight(1).exists(_._1.negative),
      "a negative step must be the single terminal step")
    val negStep: Option[CepStep] = steps.lastOption.map(_._1).filter(_.negative)
    negStep.foreach(s => require(s.branches.isEmpty && !s.optional && s.times == 1 &&
      steps.last._2.isEmpty, "a negative step is unquantified, branch-free and not relative"))
    // strict negative (notNext twin): only the key's FIRST event time after
    // the last binding decides — any satisfying event at that time kills,
    // otherwise the match emits as soon as that time passes (vacuous pass
    // at window expiry when no successor arrives)
    val negStrict = negStep.exists(_.strict)
    val positives: Seq[(CepStep, Option[Prior])] = steps.filterNot(_._1.negative).flatMap {
      case (s, rel) =>
        require(s.times >= 1, "times must be >= 1")
        require(!(s.optional && s.times > 1), "optional and times(n) are exclusive")
        require(!(s.optional && s.strict), "optional and strict are exclusive")
        require(!(s.optional && s.branches.nonEmpty), "optional and branches are exclusive")
        if (s.timesTo > 0) {
          // {from, to} range: from mandatory + (to - from) optional copies —
          // the skip-guard machinery supplies the greedy semantics
          require(s.timesTo > s.times, "timesTo must exceed times")
          require(!s.optional && !s.strict && s.branches.isEmpty,
            "a range step is plain (no optional/strict/branches)")
          Seq.fill(s.times)((s.copy(times = 1, timesTo = 0), rel)) ++
            Seq.fill(s.timesTo - s.times)((s.copy(times = 1, timesTo = 0, optional = true), rel))
        } else Seq.fill(s.times)((s.copy(times = 1), rel))
    }
    // the negative step (if any) sits at index nPos so guards address it
    val expanded: IndexedSeq[CepStep] = (positives.map(_._1) ++ negStep).toIndexedSeq
    val rels: IndexedSeq[Option[Prior]] = positives.map(_._2).toIndexedSeq
    val hasRel = rels.exists(_.nonEmpty)
    val nPos = positives.size
    require(nPos >= 1 && expanded.size >= 2, "a pattern needs at least two steps")
    require(!expanded.head.strict, "the first step has no predecessor to be strict after")
    require(!expanded.head.optional, "the first step cannot be optional")
    val withinUs = withinMs * 1000L
    val Skip = Long.MinValue
    def predOf(s: CepStep): Event => Boolean =
      if (s.branches.nonEmpty) e => s.branches.exists(_._2(e)) else s.pred
    def clsOf(s: CepStep, e: Event): String =
      s.branches.find(_._2(e)).map(_._1).getOrElse("")
    // one more binding: the bound time, class, value and (for relative
    // steps) event type, newest first
    def bind(p: ExPartial, t: Long, cls: String, e: Event): ExPartial =
      p.copy(boundUs = t :: p.boundUs, cls = cls :: p.cls, succUs = -1L,
        vals = e.value :: p.vals,
        tpes = if (hasRel) e.event_type :: p.tpes else Nil)
    // skip-fork: while the next unbound step is optional, branch off a
    // partial that marks it skipped and guards against any candidate
    // arriving later in the window
    def forkFrom(p0: ExPartial): (List[ExPartial], List[ExPartial]) = {
      val open = List.newBuilder[ExPartial]; val pend = List.newBuilder[ExPartial]
      open += p0
      var cur = p0
      var more = true
      while (more && cur.boundUs.length < nPos &&
             expanded(cur.boundUs.length).optional) {
        val i = cur.boundUs.length
        val from = cur.boundUs.find(_ != Skip).get
        cur = ExPartial(Skip :: cur.boundUs, "" :: cur.cls, -1L,
          Guard(i, from) :: cur.guards, vals = 0.0 :: cur.vals,
          tpes = if (hasRel) "" :: cur.tpes else Nil)
        if (cur.boundUs.length == nPos) {
          // completed through skips: a negative terminal adds its own guard
          // (no matching event from the last REAL binding to window end)
          pend += cur.copy(guards =
            negStep.map(_ => Guard(nPos, from)).toList ++ cur.guards)
          more = false
        } else open += cur
      }
      (open.result(), pend.result())
    }
    val unbound = ExPartial(Nil, Nil, -1L)
    val fn = (gkey: (Long, String), rows: Iterator[Event], state: GroupState[CepExAcc]) => {
      val acc = state.getOption.getOrElse(CepExAcc(Nil))
      var partials = acc.partials
      var pending = acc.pending
      var lastEnd = acc.lastEndUs
      val out = Seq.newBuilder[O]
      def emit(p: ExPartial): Unit = out += toOut(ExMatch(gkey._1,
        p.boundUs.reverse.map(us => if (us == Skip) null else tsOf(us)), p.cls.reverse,
        p.boundUs.reverse.lazyZip(p.vals.reverse).map((us, v) =>
          if (us == Skip) None else Some(v)), gkey._2))
      // the partial's bound events, oldest first (the list is newest first)
      def priors(p: ExPartial): List[Event] = {
        var prior = List.empty[Event]
        p.boundUs.lazyZip(p.tpes).lazyZip(p.vals).foreach { (us, tpe, v) =>
          if (us != Skip) prior = Event(gkey._1, tsOf(us), tpe, v, gkey._2) :: prior
        }
        prior
      }
      def binds(i: Int, e: Event, p: ExPartial): Boolean =
        predOf(expanded(i))(e) && rels(i).forall(_(e, priors(p)))
      rows.map(e => (micros(e.ts), e)).toSeq
        .sortBy { case (t, e) => (t, e.event_type, e.value) }.foreach { case (t, e) =>
        // guard pass FIRST: an in-window candidate for a skipped optional
        // invalidates the skip branch (the main branch binds it instead);
        // a STRICT negative guard is excluded here — only the first
        // successor time decides it (handled below)
        def guardHit(p: ExPartial): Boolean =
          p.guards.exists(g => !(negStrict && g.step == nPos) &&
            t > g.fromUs &&
            t <= p.boundUs.last + withinUs && predOf(expanded(g.step))(e))
        partials = partials.filterNot(guardHit)
        pending = pending.filterNot(guardHit)
        if (negStrict) {
          val negPred = predOf(expanded(nPos))
          pending = pending.map { p =>
            val start = p.boundUs.last
            val from = p.guards.find(_.step == nPos).get.fromUs
            if (t > from && t <= start + withinUs) {
              // track the EARLIEST successor time seen and whether any
              // event AT it satisfies the negative predicate; nothing is
              // emitted or killed here — an out-of-order event at or
              // before succUs can arrive in a later micro-batch (still
              // ahead of the watermark) and change the decision, so it
              // finalizes only once the watermark passes succUs
              if (p.succUs < 0 || t < p.succUs)
                p.copy(succUs = t, succKilled = negPred(e))
              else if (t == p.succUs && negPred(e)) p.copy(succKilled = true)
              else p
            } else p
          }
        }
        partials = partials.flatMap { p =>
          val i = p.boundUs.length
          val start = p.boundUs.last
          val step = expanded(i)
          val prevReal = p.boundUs.find(_ != Skip).get
          if (start + withinUs < t) Nil // window expired
          else if (t <= prevReal) List(p) // not after the previous binding
          else {
            val succKnown = p.succUs >= 0
            val succ = if (succKnown) p.succUs else t
            if (step.strict && t > succ) Nil // successor time passed unbound
            else if ((!step.strict || t == succ) && binds(i, e, p)) {
              val b = bind(p, t, clsOf(step, e), e)
              if (b.boundUs.length == nPos) {
                // a negative terminal guards (lastBinding, window end]
                val done = b.copy(guards = negStep.map(_ => Guard(nPos, t)).toList ++ p.guards)
                // a match with skips or a negative terminal, and every
                // match under skip-past-last, emits only at window expiry
                if (done.guards.isEmpty && !skipPastLast) emit(done)
                else pending = done :: pending
                Nil
              } else {
                val (open, pend) = forkFrom(b)
                pending = pend ++ pending
                open
              }
            } else if (step.strict && !succKnown) List(p.copy(succUs = t))
            else List(p)
          }
        }
        if (binds(0, e, unbound)) {
          val sp = bind(unbound, t, clsOf(expanded.head, e), e)
          if (nPos == 1) {
            // single positive step + negative terminal: the start IS the
            // completed prefix — straight to pending with its guard
            pending = sp.copy(guards = negStep.map(_ => Guard(nPos, t)).toList) ::
              pending
          } else {
            val (open, pend) = forkFrom(sp)
            pending = pend ++ pending
            partials = (open ++ partials).take(maxPartials)
          }
        }
      }
      // watermark pruning: a partial whose window closed at-or-before the
      // watermark can never complete (no event <= watermark will arrive)
      val wm = state.getCurrentWatermarkMs() * 1000L
      partials = partials.filter(_.boundUs.last + withinUs > wm)
      // a strict-negative pending is decided early, at its successor time,
      // once the watermark has STRICTLY passed that time (flatMapGroupsWithState
      // still delivers events at ts == wm, so `<= wm` could finalize before a
      // same-timestamp out-of-order killer arrives) — and only when no
      // skip guard could still fire against it. Skip-past-last waits for
      // the window end, which start-order finality needs.
      def decidesEarly(p: ExPartial): Boolean =
        !skipPastLast && negStrict && p.succUs >= 0 &&
          p.guards.forall(_.step == nPos) && p.succUs < p.boundUs.last + withinUs
      // held matches whose window closed can no longer be invalidated;
      // succKilled: an event AT the final successor time satisfied the
      // negative predicate — the match is dead, drop it silently
      val (ripe, wait) = pending.partition(p =>
        p.boundUs.last + withinUs <= wm || (decidesEarly(p) && p.succUs < wm))
      val live = ripe.filterNot(_.succKilled)
      // SKIP_PAST_LAST finalization: matches whose window closed are final
      // in start order (no earlier-starting match can appear); keep those
      // starting strictly after the previous kept match's end
      if (skipPastLast)
        live.sortBy(p => (p.boundUs.last, p.boundUs.max)).foreach { p =>
          if (p.boundUs.last > lastEnd) { lastEnd = p.boundUs.max; emit(p) }
        }
      else live.foreach(emit)
      pending = wait
      // the greedy frontier only constrains starts <= lastEnd; once the
      // watermark passes it no admissible start can violate it, so the
      // state fully releases
      if (partials.isEmpty && pending.isEmpty && lastEnd <= wm) state.remove()
      else if (partials.isEmpty && pending.isEmpty) {
        state.update(CepExAcc(Nil, Nil, lastEnd))
        state.setTimeoutTimestamp(ceilMs(lastEnd + 1)) // > wm by the branch guard
      } else {
        state.update(CepExAcc(partials, pending, lastEnd))
        // wake early when a strict-negative decision will be final at its
        // successor time (which is >= wm here, else it was ripe above)
        state.setTimeoutTimestamp(ceilMs((partials.map(_.boundUs.last + withinUs) ++
          pending.map(p => if (decidesEarly(p)) p.succUs else p.boundUs.last + withinUs)).min))
      }
      out.result().iterator
    }
    implicit val accEnc = Encoders.product[CepExAcc]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    val grouped = tsWatermarked(events, watermark).groupByKey(e => (e.user_id, e.skey))
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState[CepExAcc, O](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout,
          init.groupByKey(r => (r._1, "")).mapValues(_._2))(fn)
      case None =>
        grouped.flatMapGroupsWithState[CepExAcc, O](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
    }
  }

  /** Late-data side output + allowedLateness analog (reference
    * flink-streaming-java/.../datastream/WindowedStream.java:158,
    * `allowedLateness` / `sideOutputLateData`): Structured Streaming DROPS
    * sub-watermark rows inside stateful aggregations with no routing hook,
    * so the split happens in `foreachBatch` against a driver-maintained
    * watermark — max event time seen in PRIOR batches minus `delayMs`, the
    * same definition Spark itself uses, and the same runtime state a Flink
    * periodic WatermarkGenerator keeps (reset on restart exactly like the
    * generator; rows are then simply on-time again, which only widens the
    * on-time set — safe for the Flink contract).
    *
    * Rows with ts < watermark go to `late`, the rest to `onTime`; the first
    * batch has no watermark yet, so everything is on-time. The batch is
    * persisted so the source micro-batch is read once for both routes. */
  def lateDataSplit(stream: DataFrame, tsCol: String, delayMs: Long,
                    onTime: DataFrame => Unit, late: DataFrame => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val maxSeenMs = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val prevMax = maxSeenMs.get()
      batch.persist()
      try {
        if (prevMax == Long.MinValue) {
          late(batch.limit(0)); onTime(batch)
        } else {
          val wm = new Timestamp(prevMax - delayMs)
          late(batch.filter(col(tsCol) < lit(wm)))
          onTime(batch.filter(col(tsCol) >= lit(wm)))
        }
        val m = batch.agg(max(col(tsCol))).head.get(0)
        if (m != null) maxSeenMs.getAndUpdate(cur => math.max(cur, m.asInstanceOf[Timestamp].getTime))
        ()
      } finally batch.unpersist()
    }
  }

  // ---------- Kafka source/sink (the reference's most-used connector) ----------
  // FlinkKafkaConsumer/Producer analog (reference flink-connectors/
  // flink-connector-kafka/src/main/java/org/apache/flink/streaming/
  // connectors/kafka/FlinkKafkaConsumer.java, FlinkKafkaProducer.java) over
  // Spark's built-in `kafka` format. Semantics mapping:
  //  - setStartFromEarliest/Latest/GroupOffsets  → startingOffsets =
  //    "earliest"/"latest" (group offsets have no SS equivalent: Structured
  //    Streaming owns offsets in the query CHECKPOINT, not in Kafka's
  //    consumer-group store — pass a checkpointLocation to the writer).
  //  - Flink exactly-once (offsets in checkpoint + transactional producer) →
  //    SS offsets in checkpoint + idempotent/transactional sink; the kafka
  //    writer is at-least-once, end-to-end exactly-once needs downstream
  //    dedup exactly as with FlinkKafkaProducer.Semantic.AT_LEAST_ONCE.
  // The wire schema Spark's kafka source emits (and [[decodeKafka]] parses)
  // is fixed: key/value BINARY, topic STRING, partition INT, offset LONG,
  // timestamp TIMESTAMP, timestampType INT.

  /** Raw kafka source stream (wire schema, see above). Requires the
    * spark-sql-kafka connector on the classpath at `load()` time. */
  def kafkaRaw(spark: org.apache.spark.sql.SparkSession, bootstrap: String,
               topics: String, startingOffsets: String = "earliest",
               options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics)
      .option("startingOffsets", startingOffsets)
      .options(options)
      .load()

  /** Decode the kafka wire schema into typed columns — the
    * SimpleStringSchema / KafkaDeserializationSchema analog. Kept separate
    * from [[kafkaRaw]] so the transform is testable against any source with
    * the same schema (MemoryStream substitution in specs). */
  def decodeKafka(raw: DataFrame): DataFrame =
    raw.select(col("key").cast("string").as("key"),
      col("value").cast("string").as("value"),
      col("topic"), col("partition"), col("offset"), col("timestamp"))

  /** FlinkKafkaConsumer analog: subscribe + decode. */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession, bootstrap: String,
                  topics: String, startingOffsets: String = "earliest"): DataFrame =
    decodeKafka(kafkaRaw(spark, bootstrap, topics, startingOffsets))

  /** Encode arbitrary columns into the kafka producer record shape:
    * key = `keyCol` as string, value = JSON of `valueCols`. */
  def encodeKafka(df: DataFrame, keyCol: org.apache.spark.sql.Column,
                  valueCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.select(keyCol.cast("string").as("key"),
      to_json(struct(valueCols: _*)).as("value"))

  /** FlinkKafkaProducer analog: writer configured for the `kafka` format.
    * `checkpointDir` carries the source offsets that make the pipeline
    * restart-consistent (the Flink checkpoint analog). */
  def kafkaSink(encoded: DataFrame, bootstrap: String, topic: String,
                checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    encoded.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** Event-time temporal join on streams — the reference's
    * TemporalRowtimeJoin (flink-table-planner-blink/.../runtime/operators/
    * join/temporal/TemporalRowTimeJoinOperator.java, planned from
    * `FOR SYSTEM_TIME AS OF fact.rowtime`): each fact row is enriched with
    * the version row whose event time is the latest at-or-before the
    * fact's. Facts BUFFER until the watermark passes their timestamp, so a
    * version that arrives late (but with an earlier event time) is still
    * honored — the semantics batch `Relational.temporalJoin` gives
    * retrospectively. Left-join: facts with no valid version emit None.
    *
    * State per key: pending facts (watermark-bounded) + versions pruned to
    * the latest at-or-below the watermark and everything newer (older
    * versions are dominated for every future fact). Event-time timeout
    * fires emission when the watermark passes a pending fact. */
  def temporalJoinStream(facts: Dataset[Event], versions: Dataset[Event],
                         watermark: String): Dataset[TemporalOut] = {
    val spark = facts.sparkSession
    import spark.implicits._
    implicit val accEnc = Encoders.product[TemporalAcc]
    val tagged = facts.map(e => TjTagged(e.user_id, e.ts, "F", e.event_type, e.value))
      .unionByName(versions.map(e => TjTagged(e.user_id, e.ts, "V", e.event_type, e.value)))
      .withWatermark("ts", watermark)
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[TemporalAcc, TemporalOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[TjTagged], state: GroupState[TemporalAcc]) =>
          var acc = state.getOption.getOrElse(TemporalAcc(Nil, Nil))
          rows.toSeq.sortBy(t => (t.ts.getTime, t.side)).foreach { t =>
            if (t.side == "V")
              acc = acc.copy(versions = TjVersion(t.ts.getTime, t.value) :: acc.versions)
            else
              acc = acc.copy(facts = TjFact(t.ts.getTime, t.event_type, t.value) :: acc.facts)
          }
          val wm = state.getCurrentWatermarkMs()
          val (ready, pending) = acc.facts.partition(_.tsMs <= wm)
          val out = ready.sortBy(_.tsMs).map { f =>
            val v = acc.versions.filter(_.tsMs <= f.tsMs)
              .sortBy(-_.tsMs).headOption
            TemporalOut(userId, new Timestamp(f.tsMs), f.event_type, f.value,
              v.map(x => new Timestamp(x.tsMs)), v.map(_.value))
          }
          // prune versions dominated for every future fact (ts > wm)
          val latestBelow = acc.versions.filter(_.tsMs <= wm)
            .sortBy(-_.tsMs).headOption
          val keptVersions = latestBelow match {
            case Some(lb) => acc.versions.filter(_.tsMs >= lb.tsMs)
            case None => acc.versions
          }
          if (pending.isEmpty && keptVersions.isEmpty) state.remove()
          else {
            state.update(TemporalAcc(pending, keptVersions))
            // wake when the watermark passes the oldest pending fact; with
            // only versions left, an idle horizon bounds dim-state lifetime
            val next = if (pending.nonEmpty) pending.map(_.tsMs).min
                       else wm + 86400000L
            state.setTimeoutTimestamp(math.max(next, wm + 1))
          }
          out.iterator
      }
  }

  /** The finalized prefix of the twins that decide on it (see [[BufEv]]):
    * the key's buffer and the new rows split at the watermark `wm` (ms).
    * Rows before it come back as events in (ms, type, tie, value) order;
    * the rest stay buffered. */
  private def finalizedPrefix(userId: Long, buf: List[BufEv], rows: Iterator[Event],
                              wm: Long, tieOf: Event => Double = _.value): (List[Event], List[BufEv]) = {
    val (ready, held) = (buf ++ rows.map(e => BufEv(e.ts.getTime, e.event_type, e.value)))
      .partition(_.ms < wm)
    (ready.map(b => Event(userId, new Timestamp(b.ms), b.tpe, b.value))
      .sortBy(e => (e.ts.getTime, e.event_type, tieOf(e), e.value)), held)
  }

  /** A finalized-prefix twin's event-time timeout: its earliest due time,
    * floored at `wm + 1` (a buffered row at `wm` finalizes only once the
    * watermark passes it). */
  private def wakeAt(wm: Long, due: Seq[Long]): Long = math.max(wm + 1, due.min)

  /** Streaming counterpart of `Pattern.oneOrMore()`: A B+ C — a first
    * event opens a partial, B-run occurrences accumulate as O(1) stats
    * (first/last/count plus the `bindRun` value aggregates: running
    * sum/min/max and the first/last member's value, no member list), and
    * the earliest C strictly after the run's first B completes the match.
    * Same semantics as the batch compile (run = B events before the C
    * binding, window from the first event); equal-timestamp run/close
    * events follow the deterministic (ts, type, value) processing order, so
    * keep step predicates disjoint for exact batch parity. Watermark
    * pruning + event-time state eviction as in [[cepPattern]].
    * `untilPred` is `Pattern.until`'s twin: once a matching event arrives
    * strictly after the run's first occurrence, the run stops accepting
    * members (the first occurrence and the closing step are unaffected) —
    * causal, one boolean of extra state.
    * `allowEmpty` is `Pattern.zeroOrMore`'s twin (A B* C): a close event
    * seen while no run member exists is HELD as an empty-run candidate —
    * the batch compile binds a run whenever any member exists anywhere in
    * the window, so the empty match is valid only if none ever arrives: a
    * run start invalidates it, window expiry emits it (null run
    * timestamps, count 0, null value aggregates — batch left-join parity).
    * `consecutive` is `Pattern.consecutive()`'s twin (flink-cep
    * `oneOrMore().consecutive()`): run members must occupy ADJACENT
    * distinct event times — a time with no matching event closes the run
    * organically. Processed per distinct TIME (any satisfying event at a
    * time counts — the time-level adjacency convention); excludes
    * untilPred/allowEmpty and emits null value aggregates, matching the
    * batch consecutive() surface.
    *
    * Out-of-order correctness: every decision (membership, gap-stops-run,
    * close binding, empty-run invalidation) is made on the
    * watermark-FINALIZED event prefix in global event-time order (see
    * [[BufEv]]) — matches therefore emit when the watermark passes the
    * deciding event, never on arrival, and a late event within the
    * watermark delay can never produce a wrong already-emitted row. */
  def cepPatternOneOrMore(events: Dataset[Event], watermark: String,
                          firstPred: Event => Boolean, runPred: Event => Boolean,
                          lastPred: Event => Boolean, withinMs: Long,
                          maxPartials: Int = 256,
                          untilPred: Option[Event => Boolean] = None,
                          allowEmpty: Boolean = false,
                          consecutive: Boolean = false,
                          branchPreds: Seq[Event => Boolean] = Nil,
                          tieOf: Event => Double = _.value,
                          materializeRows: Boolean = false,
                          minRun: Int = 1,
                          thresholdOf: Event => Double = null,
                          runRes: (Event, Double) => Boolean = null,
                          lastRes: (Event, Double) => Boolean = null): Dataset[RunMatch] = {
    require(!(consecutive && (untilPred.nonEmpty || allowEmpty)),
      "consecutive excludes until/allowEmpty (the batch consecutive() surface)")
    // iterative (relative) residuals against the match's own anchor (r20,
    // the cepPatternNestedGroupIter design on the run twin — reference
    // flink-cep IterativeCondition.java composes with every quantifier):
    // the threshold is read once when the partial opens; a run member /
    // close candidate must additionally satisfy its residual against it
    require((runRes == null && lastRes == null) || thresholdOf != null,
      "residual conditions need thresholdOf")
    require(runRes == null || !consecutive,
      "run residuals compose with the plain (non-consecutive) run path")
    // minRun > 1 is Pattern.timesOrMore's streaming twin: a start whose
    // maximal run holds fewer than minRun members never matches. The engine
    // emits one match per start with no skip-strategy interplay, so the
    // filter on the emitted run count is EXACTLY the batch semantics.
    require(minRun >= 1, s"minRun must be >= 1 (got $minRun)")
    require(minRun == 1 || !allowEmpty,
      "minRun > 1 excludes allowEmpty (a zero-member run can never reach it)")
    // branchPreds: the quantified-alternation twin ((B|C)+ — batch
    // followedByOneOf().oneOrMore()): each member counts once, under its
    // first matching branch, emitted as branch_counts in pattern order
    require(branchPreds.isEmpty || !consecutive,
      "branch counts compose with the plain run path only")
    implicit val outEnc = Encoders.product[RunMatch]
    implicit val accEnc = Encoders.product[RunAcc]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    val matches = tsWatermarked(events, watermark)
      .groupByKey(e => (e.user_id, e.skey))
      .flatMapGroupsWithState[RunAcc, RunMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (gkey: (Long, String), rows: Iterator[Event], state: GroupState[RunAcc]) =>
          val userId = gkey._1
          var partials = state.getOption.map(_.partials).getOrElse(Nil)
          var emptyPending = state.getOption.map(_.emptyPending).getOrElse(Nil)
          val out = Seq.newBuilder[RunMatch]
          val wm = state.getCurrentWatermarkMs()
          // finalized-prefix processing (see BufEv): events are buffered
          // until the watermark passes their time, then processed in global
          // event-time order — a late member/close event still ahead of the
          // watermark can therefore never arrive after a decision it should
          // have preceded (run membership, gap-stops-run, close binding)
          // equal-ts processing order (ms, type, tie, value): tieOf is the
          // composite-ORDER-BY tiebreak twin — first/last member VALUES
          // follow arrival order at the boundary timestamps, reproducing
          // the batch min_by/max_by((tie, value)) boundary reads
          val (sorted, held) = finalizedPrefix(userId,
            state.getOption.map(_.buf).getOrElse(Nil), rows, wm, tieOf)
          if (consecutive) sorted.groupBy(_.ts.getTime).toSeq.sortBy(_._1)
            .foreach { case (t, evs) =>
              val anyMember = evs.exists(runPred)
              partials = partials.flatMap { p =>
                if (t > p.firstMs + withinMs) None // window expired
                else {
                  var q = p
                  if (!q.stopped && t > q.firstMs) {
                    if (q.runFirstMs < 0) {
                      // a gap before the first member does not stop the run
                      if (anyMember) q = q.copy(runFirstMs = t, runLastMs = t, runN = 1)
                    } else if (t > q.runLastMs) {
                      if (anyMember) q = q.copy(runLastMs = t, runN = q.runN + 1)
                      else q = q.copy(stopped = true) // non-member time: closed
                    }
                  }
                  if (evs.exists(lastPred) && q.runFirstMs >= 0 && t > q.runLastMs) {
                    out += RunMatch(userId, new Timestamp(q.firstMs),
                      new Timestamp(q.runFirstMs), new Timestamp(q.runLastMs),
                      q.runN, new Timestamp(t))
                    None // completed
                  } else Some(q)
                }
              }
              evs.filter(firstPred).foreach { _ =>
                partials = (RunPartial(t, -1L, -1L, 0L) :: partials).take(maxPartials)
              }
            }
          else sorted.foreach { e =>
            val t = e.ts.getTime
            // one-hot branch increment: first matching branch in order
            def bInc(cur: List[Long]): List[Long] = {
              val base = if (cur.isEmpty) List.fill(branchPreds.size)(0L) else cur
              val hit = branchPreds.indexWhere(_(e))
              if (hit < 0) base else base.updated(hit, base(hit) + 1L)
            }
            def lastOk(p: RunPartial): Boolean =
              lastPred(e) && (lastRes == null || lastRes(e, p.thr))
            def runOk(p: RunPartial): Boolean =
              runPred(e) && (runRes == null || runRes(e, p.thr))
            partials = partials.flatMap { p =>
              if (t > p.firstMs + withinMs) None // window expired
              else if (lastOk(p) && p.runFirstMs >= 0 && t > p.runFirstMs) {
                out += RunMatch(userId, new Timestamp(p.firstMs),
                  new Timestamp(p.runFirstMs), new Timestamp(p.runLastMs),
                  p.runN, new Timestamp(t), Some(p.sumVal), Some(p.minVal),
                  Some(p.maxVal), Some(p.firstVal), Some(p.lastVal),
                  if (branchPreds.isEmpty) Nil else p.bCounts,
                  if (!materializeRows) Nil else p.mems.map(new Timestamp(_)),
                  run_value_cnt = p.vCnt)
                None // completed
              } else if (lastOk(p) && p.runFirstMs < 0 && allowEmpty && t > p.firstMs) {
                // hold the EARLIEST empty-run close; a run start invalidates
                // it, window expiry emits it
                if (!emptyPending.exists(_.firstMs == p.firstMs))
                  emptyPending = EmptyRun(p.firstMs, t) :: emptyPending
                Some(p) // the run may still start
              } else if (untilPred.exists(_(e)) && p.runFirstMs >= 0 && t > p.runFirstMs) {
                Some(p.copy(stopped = true)) // run stops accepting members
              } else if (runOk(p) && t > p.firstMs && !p.stopped) {
                if (p.runFirstMs < 0) {
                  // a member exists: the batch compile binds the run, so the
                  // empty-run candidate for this start is invalid
                  emptyPending = emptyPending.filterNot(_.firstMs == p.firstMs)
                  Some(p.copy(runFirstMs = t, runLastMs = t, runN = 1,
                    sumVal = e.value, minVal = e.value, maxVal = e.value,
                    firstVal = e.value, lastVal = e.value,
                    vCnt = if (e.value.isNaN) 0L else 1L,
                    bCounts = bInc(Nil),
                    mems = if (materializeRows) List(t) else Nil))
                } else
                  // equal-ts members arrive value-ascending (the sort order),
                  // so overwriting lastVal on t >= runLast reproduces the
                  // batch (ts, value) max tie-break; firstVal set once is
                  // the (ts, value) min. NULL (NaN-channel) member values
                  // contribute positionally to first/last but not to
                  // sum/min/max/vCnt — the batch null-ignoring aggregates
                  Some(p.copy(runLastMs = math.max(p.runLastMs, t), runN = p.runN + 1,
                    sumVal = if (e.value.isNaN) p.sumVal
                      else if (p.sumVal.isNaN) e.value else p.sumVal + e.value,
                    minVal = if (e.value.isNaN) p.minVal
                      else if (p.minVal.isNaN) e.value
                      else math.min(p.minVal, e.value),
                    maxVal = if (e.value.isNaN) p.maxVal
                      else if (p.maxVal.isNaN) e.value
                      else math.max(p.maxVal, e.value),
                    lastVal = if (t >= p.runLastMs) e.value else p.lastVal,
                    vCnt = p.vCnt + (if (e.value.isNaN) 0L else 1L),
                    bCounts = bInc(p.bCounts),
                    mems = if (materializeRows) p.mems :+ t else Nil))
              } else Some(p)
            }
            if (firstPred(e))
              partials = (RunPartial(t, -1L, -1L, 0L,
                thr = if (thresholdOf == null) 0.0 else thresholdOf(e))
                :: partials).take(maxPartials)
          }
          // STRICT comparisons: an event AT the window-end time may still be
          // buffered (finalization is ms < wm), and it could start/extend a
          // run — window ends are final only once the watermark strictly passes
          partials = partials.filter(_.firstMs + withinMs >= wm)
          // held empty-run candidates whose window closed can no longer be
          // invalidated: emit with null run columns and count 0
          val (ripe, waiting) = emptyPending.partition(_.firstMs + withinMs < wm)
          ripe.foreach(er => out += RunMatch(userId, new Timestamp(er.firstMs),
            null, null, 0L, new Timestamp(er.lastMs),
            branch_counts =
              if (branchPreds.isEmpty) Nil else List.fill(branchPreds.size)(0L)))
          emptyPending = waiting
          if (partials.isEmpty && emptyPending.isEmpty && held.isEmpty) state.remove()
          else {
            state.update(RunAcc(partials, emptyPending, held))
            state.setTimeoutTimestamp(wakeAt(wm,
              partials.map(_.firstMs + withinMs) ++
                emptyPending.map(_.firstMs + withinMs) ++
                held.map(_.ms)))
          }
          if (gkey._2.isEmpty) out.result().iterator
          else out.result().map(_.copy(skey = gkey._2)).iterator
      }
    if (minRun == 1) matches else matches.filter(_.run_n >= minRun)
  }

  /** Streaming counterpart of `Pattern.followedByRun` — the V-shape
    * (S D+ U with `DEFINE D AS D.value < LAST(D.value, 1)`): the run
    * extends while each D candidate satisfies `accept(current, previous)`
    * against the run's OWN previous member's value, closes at the first
    * violation, and U binds strictly after the run's LAST member. The
    * self-referential condition is causal IN EVENT-TIME ORDER — the run
    * state is just the last accepted value — so events are buffered until
    * the watermark passes them and processed as a globally ordered prefix
    * (see [[BufEv]]), which is exactly why the batch segmentation window
    * has this O(1)-state-per-partial streaming twin. The one
    * non-causal corner: a U arriving while the run is still open (a later
    * D could extend the run past it and invalidate it) is HELD as a
    * pending close and emitted when the run closes — at the first
    * violation, or at window expiry via the event-time timeout. O(1) state
    * per partial; `maxPartials` cap (newest starts kept: the header's cap
    * policies), watermark pruning and event-time eviction as in
    * [[cepPattern]]. Equal-timestamp events follow the deterministic
    * (ts, type, value) processing order — keep step predicates disjoint
    * for exact batch parity. */
  def cepPatternRun(events: Dataset[Event], watermark: String,
                    firstPred: Event => Boolean, runPred: Event => Boolean,
                    accept: (Double, Double) => Boolean,
                    lastPred: Event => Boolean, withinMs: Long,
                    maxPartials: Int = 256,
                    offset: Int = 1): Dataset[VRunMatch] = {
    require(offset >= 1, s"offset must be >= 1 (got $offset)")
    implicit val outEnc = Encoders.product[VRunMatch]
    implicit val accEnc = Encoders.product[VRunAcc]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    tsWatermarked(events, watermark)
      .groupByKey(e => (e.user_id, e.skey))
      .flatMapGroupsWithState[VRunAcc, VRunMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (gkey: (Long, String), rows: Iterator[Event], state: GroupState[VRunAcc]) =>
          val userId = gkey._1
          var partials = state.getOption.map(_.partials).getOrElse(Nil)
          // offset > 1 (PREV(col, n)): the n-back window spans the whole
          // key-global SEGMENT (batch parity — the segment can begin before
          // a run's first bound member), so segmentation state lives on the
          // key: current segment id, its length, the last n values
          var segId = state.getOption.map(_.segId).getOrElse(0L)
          var segLen = state.getOption.map(_.segLen).getOrElse(0L)
          var recent = state.getOption.map(_.recent).getOrElse(Nil)
          val out = Seq.newBuilder[VRunMatch]
          def emit(p: VRunPartial, uMs: Long): Unit =
            out += VRunMatch(userId, new Timestamp(p.firstMs),
              new Timestamp(p.runFirstMs), new Timestamp(p.runLastMs),
              p.runN, p.firstVal, p.lastVal, new Timestamp(uMs))
          val wm = state.getCurrentWatermarkMs()
          // finalized-prefix processing (see BufEv): the accept-chain is
          // causal only in event-time order — a late D still ahead of the
          // watermark must extend the run before any later violation/close
          // is decided, so events are buffered until the watermark passes
          val (ready, held) = finalizedPrefix(userId,
            state.getOption.map(_.buf).getOrElse(Nil), rows, wm)
          ready.foreach { e =>
            val t = e.ts.getTime
            // key-global segmentation update for offset-n runs: the walk's
            // restart rule (first n members of a segment unchecked, then
            // accept vs the value n back)
            val isCand = offset > 1 && runPred(e)
            val restarted = if (!isCand) false else {
              val viol = segLen >= offset && !accept(e.value, recent(offset - 1))
              if (viol || segLen == 0L) {
                if (viol) segId += 1
                segLen = 1L; recent = List(e.value)
              } else {
                segLen += 1L; recent = (e.value :: recent).take(offset)
              }
              viol
            }
            partials = partials.flatMap { p =>
              if (t > p.firstMs + withinMs) {
                // window expired: an open run with a held close completes
                // at the boundary (no further in-window event can extend it)
                if (p.runFirstMs >= 0 && p.pendingUMs >= 0) emit(p, p.pendingUMs)
                None
              } else if (runPred(e) && t > p.firstMs && !p.done) {
                if (p.runFirstMs < 0)
                  Some(p.copy(runFirstMs = t, runLastMs = t, runN = 1,
                    firstVal = e.value, lastVal = e.value, segId = segId))
                else if (if (offset == 1) accept(e.value, p.lastVal)
                         else !restarted && p.segId == segId) {
                  // extension past a held close invalidates it (U must be
                  // strictly after the run's final member)
                  Some(p.copy(runLastMs = t, runN = p.runN + 1,
                    lastVal = e.value, pendingUMs = -1L))
                } else if (p.pendingUMs >= 0) { emit(p, p.pendingUMs); None }
                else Some(p.copy(done = true))
              } else if (lastPred(e) && p.runFirstMs >= 0 && t > p.runLastMs) {
                if (p.done) { emit(p, t); None }
                else if (p.pendingUMs < 0) Some(p.copy(pendingUMs = t))
                else Some(p)
              } else Some(p)
            }
            if (firstPred(e))
              partials = (VRunPartial(t, -1L, -1L, 0L, 0.0, 0.0, false, -1L)
                :: partials).take(maxPartials)
          }
          // strict: an event AT the window end may still be buffered and
          // could extend the run past the held close — expiry is final only
          // once the watermark strictly passes the window end
          val (expired, alive) = partials.partition(_.firstMs + withinMs < wm)
          expired.foreach(p =>
            if (p.runFirstMs >= 0 && p.pendingUMs >= 0) emit(p, p.pendingUMs))
          partials = alive
          if (partials.isEmpty && held.isEmpty) state.remove()
          else {
            state.update(VRunAcc(partials, held, segId, segLen, recent))
            state.setTimeoutTimestamp(wakeAt(wm,
              partials.map(_.firstMs + withinMs) ++ held.map(_.ms)))
          }
          if (gkey._2.isEmpty) out.result().iterator
          else out.result().map(_.copy(skey = gkey._2)).iterator
      }
  }

  /** Streaming counterpart of `Pattern.followedByGroup(...).oneOrMore()` —
    * the GROUP pattern `S (sub0 sub1 ...)+ U` (reference flink-cep
    * GroupPattern.java:30): repetitions of the whole sub-sequence chain
    * greedily, each sub-step binding the earliest in-key event strictly
    * after the previous binding, each repetition starting strictly after
    * the previous repetition's END; U binds after the LAST repetition's
    * end. The chain is causal in EVENT-TIME order, so events are buffered
    * until the watermark passes them and processed as a globally ordered
    * prefix (see [[BufEv]]); partial state beyond the buffer is O(1): the
    * current sub-step index, the in-progress repetition's bounds, and the
    * chain stats (first start / last end / count). The one non-causal
    * corner mirrors [[cepPatternRun]]: a U arriving while the window could
    * still admit another repetition is HELD and emitted at window expiry —
    * any later repetition completion invalidates it (the batch chain is
    * greedy-maximal, so the U must follow the FINAL repetition). Watermark
    * pruning, event-time eviction, the `maxPartials` cap (the header's cap
    * policies) and the deterministic (ts, type, value) processing order
    * follow the cepPattern family; keep step predicates disjoint for exact
    * batch parity.
    * `allowEmpty` is the `(sub)*` twin (`followedByGroup(...).zeroOrMore()`):
    * a close seen while NO repetition has completed is held as an
    * empty-chain candidate — any completion kills it (the chain then
    * exists), window expiry emits it (null boundaries, count 0). */
  def cepPatternGroup(events: Dataset[Event], watermark: String,
                      firstPred: Event => Boolean,
                      subPreds: Seq[Event => Boolean],
                      lastPred: Event => Boolean, withinMs: Long,
                      maxPartials: Int = 256,
                      allowEmpty: Boolean = false,
                      valueSubIdx: Int = -1,
                      materializeRows: Boolean = false,
                      tieOf: Event => Double = _.value): Dataset[GrpMatch] = {
    require(subPreds.size >= 2, "a group sub-pattern needs at least two steps")
    // valueSubIdx >= 0: the batch bindGroup twin — running value aggregates
    // (sum/min/max/first/last) of THAT sub-step's bound value across
    // COMPLETED repetitions; the in-progress repetition's value folds in
    // only when the repetition completes (an incomplete sub-match binds
    // nothing, the batch convention)
    require(valueSubIdx < subPreds.size, s"valueSubIdx $valueSubIdx out of range")
    implicit val outEnc = Encoders.product[GrpMatch]
    implicit val accEnc = Encoders.product[GrpAcc]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    tsWatermarked(events, watermark)
      .groupByKey(e => (e.user_id, e.skey))
      .flatMapGroupsWithState[GrpAcc, GrpMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (gkey: (Long, String), rows: Iterator[Event], state: GroupState[GrpAcc]) =>
          val userId = gkey._1
          var partials = state.getOption.map(_.partials).getOrElse(Nil)
          val out = Seq.newBuilder[GrpMatch]
          def emit(p: GrpPartial): Unit =
            out += GrpMatch(userId, new Timestamp(p.firstMs),
              new Timestamp(p.gFirstMs), new Timestamp(p.lastRepEndMs),
              p.reps, new Timestamp(p.pendingUMs),
              if (valueSubIdx < 0) None else Some(p.sumVal),
              if (valueSubIdx < 0) None else Some(p.minVal),
              if (valueSubIdx < 0) None else Some(p.maxVal),
              if (valueSubIdx < 0) None else Some(p.firstVal),
              if (valueSubIdx < 0) None else Some(p.lastVal),
              if (!materializeRows) Nil
              else p.repMems.map(_.map(new Timestamp(_))),
              rep_value_cnt = if (valueSubIdx < 0) 0L else p.vCnt)
          // (sub)*: an empty-chain match — null boundaries, count 0, the
          // close that was held while no repetition had completed
          def emitEmpty(p: GrpPartial): Unit =
            out += GrpMatch(userId, new Timestamp(p.firstMs),
              null, null, 0L, new Timestamp(p.emptyUMs))
          val wm = state.getCurrentWatermarkMs()
          // finalized-prefix processing (see BufEv): the greedy sub-step
          // chain is causal only in event-time order — a late sub-step event
          // still ahead of the watermark must advance the chain before any
          // later completion/close is decided, so events are buffered until
          // the watermark passes. Equal-ts order (ms, type, tie, value):
          // tieOf is the composite-ORDER-BY tiebreak twin — the first
          // in-order event advancing a sub-step is the one whose value
          // BINDS, matching the batch min_by((tie, value)) member binding
          val (ready, held) = finalizedPrefix(userId,
            state.getOption.map(_.buf).getOrElse(Nil), rows, wm, tieOf)
          ready.foreach { e =>
            val t = e.ts.getTime
            partials = partials.flatMap { p =>
              if (t > p.firstMs + withinMs) {
                // window expired: a held close completes the chain (no
                // further in-window repetition can extend past it); under
                // allowEmpty a chain-less partial emits its held close with
                // null boundaries
                if (p.reps >= 1 && p.pendingUMs >= 0) emit(p)
                else if (allowEmpty && p.reps == 0 && p.emptyUMs >= 0) emitEmpty(p)
                None
              } else {
                val anchor = if (p.subIdx == 0) p.lastRepEndMs else p.curRepLastMs
                if (p.subIdx < subPreds.size && subPreds(p.subIdx)(e) && t > anchor) {
                  if (p.subIdx == subPreds.size - 1) {
                    // repetition completes: extend the chain; a held close
                    // at or before this completion is no longer the final
                    // repetition's successor — invalidate it, along with
                    // any held EMPTY-chain close (the chain now exists).
                    // The designated sub-step's value folds into the chain
                    // aggregates now (and only now)
                    val gFirst = if (p.reps == 0) p.curRepStartMs else p.gFirstMs
                    val cur = if (valueSubIdx == subPreds.size - 1) e.value
                              else p.curRepVal
                    val firstRep = p.reps == 0
                    Some(p.copy(gFirstMs = gFirst, lastRepEndMs = t,
                      reps = p.reps + 1, subIdx = 0, curRepStartMs = -1L,
                      curRepLastMs = -1L, pendingUMs = -1L, emptyUMs = -1L,
                      curRepVal = 0.0,
                      // NULL (NaN-channel) designated values bind
                      // positionally (first/last) but are ignored by the
                      // null-ignoring sum/min/max and the non-null count
                      sumVal = if (cur.isNaN) { if (firstRep) Double.NaN else p.sumVal }
                        else if (firstRep || p.sumVal.isNaN) cur
                        else p.sumVal + cur,
                      minVal = if (cur.isNaN) { if (firstRep) Double.NaN else p.minVal }
                        else if (firstRep || p.minVal.isNaN) cur
                        else math.min(p.minVal, cur),
                      maxVal = if (cur.isNaN) { if (firstRep) Double.NaN else p.maxVal }
                        else if (firstRep || p.maxVal.isNaN) cur
                        else math.max(p.maxVal, cur),
                      firstVal = if (firstRep) cur else p.firstVal,
                      lastVal = cur,
                      vCnt = (if (firstRep) 0L else p.vCnt) +
                        (if (cur.isNaN) 0L else 1L),
                      curMems = Nil,
                      repMems = if (materializeRows) p.repMems :+ (p.curMems :+ t)
                                else Nil))
                  } else if (p.subIdx == 0)
                    Some(p.copy(subIdx = 1, curRepStartMs = t, curRepLastMs = t,
                      curRepVal = if (valueSubIdx == 0) e.value else p.curRepVal,
                      curMems = if (materializeRows) List(t) else Nil))
                  else Some(p.copy(subIdx = p.subIdx + 1, curRepLastMs = t,
                    curRepVal = if (valueSubIdx == p.subIdx) e.value else p.curRepVal,
                    curMems = if (materializeRows) p.curMems :+ t else Nil))
                } else if (lastPred(e) && p.reps >= 1 && t > p.lastRepEndMs &&
                           p.pendingUMs < 0) {
                  Some(p.copy(pendingUMs = t)) // held: emitted at expiry
                } else if (allowEmpty && lastPred(e) && p.reps == 0 &&
                           t > p.firstMs && p.emptyUMs < 0) {
                  Some(p.copy(emptyUMs = t)) // held empty-chain close
                } else Some(p)
              }
            }
            if (firstPred(e))
              partials = (GrpPartial(t, -1L, t, 0L, 0, -1L, -1L, -1L)
                :: partials).take(maxPartials)
          }
          // strict: an event AT the window end may still be buffered and
          // could complete another repetition past the held close — expiry
          // is final only once the watermark strictly passes the window end
          val (expired, alive) = partials.partition(_.firstMs + withinMs < wm)
          expired.foreach { p =>
            if (p.reps >= 1 && p.pendingUMs >= 0) emit(p)
            else if (allowEmpty && p.reps == 0 && p.emptyUMs >= 0) emitEmpty(p)
          }
          partials = alive
          if (partials.isEmpty && held.isEmpty) state.remove()
          else {
            state.update(GrpAcc(partials, held))
            state.setTimeoutTimestamp(wakeAt(wm,
              partials.map(_.firstMs + withinMs) ++ held.map(_.ms)))
          }
          if (gkey._2.isEmpty) out.result().iterator
          else out.result().map(_.copy(skey = gkey._2)).iterator
      }
  }

  /** Streaming linear CEP with TIMED-OUT partials — the twin of
    * `Pattern.detectWithTimeouts` (reference flink-cep PatternStream.java
    * `select(OutputTag, PatternTimeoutFunction, PatternSelectFunction)`):
    * one unified Append stream where `timed_out=false` rows are full
    * matches (emitted as soon as the final step binds on the
    * watermark-finalized prefix — every binding is the earliest candidate
    * after the previous one, so it is final once processed in event-time
    * order) and `timed_out=true` rows carry a stuck partial's bound prefix
    * plus the window-expiry timestamp, emitted when the watermark passes
    * the window end. One partial per first-step event (the batch
    * one-match-per-start convention), O(steps) state per partial,
    * maxPartials cap and BufEv ordering as in the other cep twins. */
  def cepPatternTimeouts(events: Dataset[Event], watermark: String,
                         preds: Seq[Event => Boolean], withinMs: Long,
                         maxPartials: Int = 256,
                         tieOf: Event => Double = _.value): Dataset[CepTimeoutMatch] = {
    require(preds.size >= 2, "a pattern needs at least two steps")
    implicit val outEnc = Encoders.product[CepTimeoutMatch]
    implicit val accEnc = Encoders.product[TimeoutAcc]
    implicit val keyEnc = Encoders.scalaLong
    tsWatermarked(events, watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TimeoutAcc, CepTimeoutMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TimeoutAcc]) =>
          var partials = state.getOption.map(_.partials).getOrElse(Nil)
          val out = Seq.newBuilder[CepTimeoutMatch]
          def emitTimeout(p: TimeoutPartial): Unit =
            out += CepTimeoutMatch(userId,
              p.bound.reverse.map(new Timestamp(_)), timed_out = true,
              Some(new Timestamp(p.firstMs + withinMs)))
          val wm = state.getCurrentWatermarkMs()
          val (ready, held) = finalizedPrefix(userId,
            state.getOption.map(_.buf).getOrElse(Nil), rows, wm, tieOf)
          ready.foreach { e =>
            val t = e.ts.getTime
            partials = partials.flatMap { p =>
              if (t > p.firstMs + withinMs) { emitTimeout(p); None }
              else {
                val idx = p.bound.size // next step to bind
                if (idx < preds.size && preds(idx)(e) && t > p.bound.head) {
                  if (idx == preds.size - 1) {
                    out += CepTimeoutMatch(userId,
                      (t :: p.bound).reverse.map(new Timestamp(_)),
                      timed_out = false, None)
                    None
                  } else Some(p.copy(bound = t :: p.bound))
                } else Some(p)
              }
            }
            if (preds.head(e))
              partials = (TimeoutPartial(t, List(t)) :: partials).take(maxPartials)
          }
          val (expired, alive) = partials.partition(_.firstMs + withinMs < wm)
          expired.foreach(emitTimeout)
          partials = alive
          if (partials.isEmpty && held.isEmpty) state.remove()
          else {
            state.update(TimeoutAcc(partials, held))
            state.setTimeoutTimestamp(wakeAt(wm,
              partials.map(_.firstMs + withinMs) ++ held.map(_.ms)))
          }
          out.result().iterator
      }
  }

  /** Streaming NESTED group `S ((I...)+ T)+` — the twin of
    * `Pattern.followedByNestedGroup` (the m33 batch shape; reference
    * flink-cep GroupPattern composing recursively), and the depth-1 case of
    * [[cepPatternNestedNGroup]] (one closing level holding the tail): this
    * entry point only renames the N twin's fields. The tail PUNCTUATES
    * repetitions: each outer repetition is one-or-more complete inner
    * sub-sequences followed by the tail event — absorb the next sub-match
    * only while it completes strictly BEFORE the first tail opportunity. A
    * tail with no completed sub in the current repetition is skipped
    * (skip-till-next) unless `innerOptional` (the `((I...)* T)+` twin: a
    * zero-sub close is the batch tail-first repetition, and the group's
    * first boundary is then that tail). The match finalizes at window
    * expiry and carries first/last boundaries plus outer and total-inner
    * repetition counts — the batch `<g>_first_ts/_last_ts/_n/_inner_n`
    * columns. `materializeRows` (the batch `materializeNestedRows` twin)
    * adds every committed bound event as (ts, cls, running reps, running
    * subs), and `rowValues` the running per-member value snapshots AS OF
    * the row (`vsnap`, indexed inner members then the tail).
    * `thresholdOf`/`innerRes`/`tailRes` (r20): iterative (relative)
    * residual conditions against the match's OWN anchor — the threshold is
    * read once when the partial opens (reference flink-cep
    * IterativeCondition.java composes with every quantifier). */
  def cepPatternNestedGroup(events: Dataset[Event], watermark: String,
                            firstPred: Event => Boolean,
                            innerPreds: Seq[Event => Boolean],
                            tailPred: Event => Boolean, withinMs: Long,
                            maxPartials: Int = 256,
                            materializeRows: Boolean = false,
                            innerNames: Seq[String] = Nil,
                            tailName: String = "T",
                            tieOf: Event => Double = _.value,
                            innerOptional: Boolean = false,
                            rowValues: Boolean = false,
                            thresholdOf: Event => Double = null,
                            innerRes: Seq[(Event, Double) => Boolean] = Nil,
                            tailRes: (Event, Double) => Boolean = null): Dataset[NestMatch] = {
    implicit val outEnc = Encoders.product[NestMatch]
    cepPatternNestedNGroup(events, watermark, firstPred, innerPreds,
      Seq(tailPred), withinMs, maxPartials, tieOf, innerOptional,
      materializeRows, innerNames, Seq(tailName), rowValues = rowValues,
      thresholdOf = thresholdOf, innerRes = innerRes,
      closerRes = if (tailRes == null) Nil else Seq(tailRes))
      .map(m => NestMatch(m.user_id, m.first_ts, m.grp_first_ts,
        m.grp_last_ts, m.n_reps, m.n_inner,
        m.rows.map(r => NestOutRow(r.ts, r.cls, r.reps, r.subs, r.vsnap)),
        m.skey))
  }

  /** Streaming DEPTH-2 nested group `S (((I...)+ M)+ T)+` — the twin of
    * `Pattern.followedByNested2Group` (the m39 batch shape; r18). The
    * depth-2 case of [[cepPatternNestedNGroup]]: this entry point names the
    * level-1 count (`n_mids`, `mids` per row) and, when `valueInnerIdx >=
    * 0`, exposes THAT inner step's running value aggregates over committed
    * structure (`v_sum` .. `v_cnt`, the batch bindGroup twin at depth 2) —
    * a sub's value enters the level-1 pending state at the sub's
    * completion, a level-1 repetition's at its mid close, and the outer
    * attempt's only at the tail close; discards mirror the count discards
    * at every level. */
  def cepPatternNested2Group(events: Dataset[Event], watermark: String,
                             firstPred: Event => Boolean,
                             innerPreds: Seq[Event => Boolean],
                             midPred: Event => Boolean,
                             tailPred: Event => Boolean, withinMs: Long,
                             maxPartials: Int = 256,
                             materializeRows: Boolean = false,
                             innerNames: Seq[String] = Nil,
                             midName: String = "M",
                             tailName: String = "T",
                             tieOf: Event => Double = _.value,
                             innerOptional: Boolean = false,
                             valueInnerIdx: Int = -1): Dataset[Nest2Match] = {
    require(valueInnerIdx < innerPreds.size,
      s"valueInnerIdx $valueInnerIdx out of range")
    implicit val outEnc = Encoders.product[Nest2Match]
    val bindValues = valueInnerIdx >= 0
    cepPatternNestedNGroup(events, watermark, firstPred, innerPreds,
      Seq(midPred, tailPred), withinMs, maxPartials, tieOf, innerOptional,
      materializeRows, innerNames, Seq(midName, tailName),
      bindValues = bindValues)
      .map { m =>
        val v = if (bindValues) m.member_vals(valueInnerIdx) else Nest2Vals()
        Nest2Match(m.user_id, m.first_ts, m.grp_first_ts, m.grp_last_ts,
          m.n_reps, m.level_counts.head, m.n_inner,
          m.rows.map(r => Nest2OutRow(r.ts, r.cls, r.reps,
            r.level_counts.head, r.subs)),
          v.sum, v.mn, v.mx, v.first, v.last, v.cnt, m.skey)
      }
  }

  /** Streaming DEPTH-3 nested group `S ((((I...)+ M)+ N)+ T)+` — the twin
    * of `Pattern.followedByNested3Group` (r18). Delegates to the
    * depth-parametric [[cepPatternNestedNGroup]] — ONE absorb-vs-close
    * state machine for every depth (a hand-rolled depth-3 copy existed
    * for one commit and was deleted by review: two parallel walks would
    * silently diverge on the next semantics fix) — and names the output
    * columns the batch way (`n_mids2`/`n_mids`). */
  def cepPatternNested3Group(events: Dataset[Event], watermark: String,
                             firstPred: Event => Boolean,
                             innerPreds: Seq[Event => Boolean],
                             midPred: Event => Boolean,
                             mid2Pred: Event => Boolean,
                             tailPred: Event => Boolean, withinMs: Long,
                             maxPartials: Int = 256,
                             tieOf: Event => Double = _.value,
                             innerOptional: Boolean = false): Dataset[Nest3Match] = {
    implicit val outEnc = Encoders.product[Nest3Match]
    cepPatternNestedNGroup(events, watermark, firstPred, innerPreds,
      Seq(midPred, mid2Pred, tailPred), withinMs, maxPartials, tieOf,
      innerOptional)
      .map(m => Nest3Match(m.user_id, m.first_ts, m.grp_first_ts,
        m.grp_last_ts, m.n_reps, m.level_counts.head, m.level_counts(1),
        m.n_inner, skey = m.skey))
  }

  /** Streaming nested group at ANY depth — the twin of the
    * depth-parametric `Pattern.followedByNestedNGroup` (r18: the batch walk
    * takes ANY nesting depth, so the stream side must too, or the twin
    * convention re-opens one depth up every round). `closerPreds(l)` closes
    * each level-(l+1) repetition, outermost last — depth =
    * `closerPreds.size` >= 1. This is the ONE nested-group state machine:
    * [[cepPatternNestedGroup]], [[cepPatternNested2Group]],
    * [[cepPatternNested3Group]] and [[cepPatternNestedGroupIter]] only
    * rename its fields. The causality argument
    * is depth-inductive: every close is inside its repetition, so
    * absorb-vs-close at EVERY level is immediate in arrival order over
    * the watermark-finalized prefix — no held closes, O(depth) state per
    * partial (per-level child counts, per-level accumulated lower-unit
    * counts, per-level last-close timestamps). A closer with no completed
    * child in its current repetition is skipped (skip-till-next) —
    * `innerOptional` lets the level-1 closer bind childless — and a
    * closer binding discards ALL in-progress state below its level (the
    * batch chain ends at the last absorbed child, recursively). Emits
    * first/last boundaries, the outer repetition count, one count per
    * intermediate level (outermost first — the batch `mid{D-1}_n ..
    * mid_n` column order) and the total inner count, at window expiry.
    * `materializeRows` (r19) emits every committed bound event with its
    * classifier and running per-level counts via the per-level row-buffer
    * discard hierarchy (in-progress sub < each in-progress level <
    * committed);
    * `bindValues` (r19) carries one running (sum/min/max/first/last/cnt)
    * aggregate per member — inner members then closers — per pending
    * level, merged and discarded exactly like the counts (the batch
    * bindGroup surface; `member_vals` on the output).
    * Equal-timestamp decisions resolve by the (ms, type, tie, value)
    * processing order; maxPartials, watermark pruning and event-time
    * eviction as in the other cep twins. */
  def cepPatternNestedNGroup(events: Dataset[Event], watermark: String,
                             firstPred: Event => Boolean,
                             innerPreds: Seq[Event => Boolean],
                             closerPreds: Seq[Event => Boolean],
                             withinMs: Long,
                             maxPartials: Int = 256,
                             tieOf: Event => Double = _.value,
                             innerOptional: Boolean = false,
                             materializeRows: Boolean = false,
                             innerNames: Seq[String] = Nil,
                             closerNames: Seq[String] = Nil,
                             bindValues: Boolean = false,
                             rowValues: Boolean = false,
                             thresholdOf: Event => Double = null,
                             innerRes: Seq[(Event, Double) => Boolean] = Nil,
                             closerRes: Seq[(Event, Double) => Boolean] = Nil): Dataset[NestNMatch] = {
    require(innerPreds.size >= 2, "the inner sub-group needs at least two steps")
    require(closerPreds.nonEmpty,
      "a nested group needs at least one closing level")
    require(!materializeRows || (innerNames.size == innerPreds.size &&
      closerNames.size == closerPreds.size),
      "materializeRows needs one classifier name per inner step and per closer")
    require(!rowValues || materializeRows,
      "rowValues rides the materialized rows")
    require(innerRes.isEmpty || innerRes.size == innerPreds.size,
      "innerRes needs one residual (or pass-through) per inner step")
    require(closerRes.isEmpty || closerRes.size == closerPreds.size,
      "closerRes needs one residual (or pass-through) per closing level")
    require((innerRes.isEmpty && closerRes.isEmpty) || thresholdOf != null,
      "residual conditions need thresholdOf")
    val nD = closerPreds.size
    val nInner = innerPreds.size
    // tracked value members (bindValues): inner members 0..nInner-1 then
    // closers nInner..nInner+nD-1 — the batch bindGroup member universe
    val nMembers = nInner + nD
    implicit val outEnc = Encoders.product[NestNMatch]
    implicit val accEnc = Encoders.product[NestNAcc]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    val zeroAccs: List[List[Long]] =
      (1 to nD).map(l => List.fill(l)(0L)).toList
    val zeroClose: List[Long] = List.fill(nD)(-1L)
    val zeroBufs: List[List[NestNRow]] =
      if (materializeRows) List.fill(nD + 1)(Nil) else Nil
    val zeroMemberVals: List[Nest2Vals] =
      if (bindValues) List.fill(nMembers)(Nest2Vals()) else Nil
    val zeroVals: List[List[Nest2Vals]] =
      if (bindValues) List.fill(nD + 1)(zeroMemberVals) else Nil
    def mergeVals(into: List[Nest2Vals], unit: List[Nest2Vals]): List[Nest2Vals] =
      into.lazyZip(unit).map(_ merge _)
    def addVal(vs: List[Nest2Vals], member: Int, v: Double): List[Nest2Vals] =
      vs.updated(member, vs(member).add(v))
    tsWatermarked(events, watermark)
      .groupByKey(e => (e.user_id, e.skey))
      .flatMapGroupsWithState[NestNAcc, NestNMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (gkey: (Long, String), rows: Iterator[Event], state: GroupState[NestNAcc]) =>
          val userId = gkey._1
          var partials = state.getOption.map(_.partials).getOrElse(Nil)
          val out = Seq.newBuilder[NestNMatch]
          val rowMemberIdx: Map[String, Int] =
            if (!rowValues) Map.empty
            else (innerNames ++ closerNames).zipWithIndex.toMap
          def emit(p: NestNPartial): Unit =
            out += NestNMatch(userId, new Timestamp(p.firstMs),
              new Timestamp(p.gFirstMs), new Timestamp(p.lastTailMs),
              p.tot(nD), (nD - 1 to 1 by -1).map(p.tot(_)), p.tot.head,
              if (!materializeRows) Nil
              else if (!rowValues)
                p.doneRows.reverse.map(r => NestNOutRow(new Timestamp(r.ms),
                  r.cls, r.counts(nD), (nD - 1 to 1 by -1).map(r.counts(_)),
                  r.counts.head))
              else {
                // per-row running member snapshots over the COMMITTED row
                // list (exact: the commit-at-absorb discipline means a
                // committed row's snapshot is the aggregate over committed
                // rows at-or-before it; discarded speculations vanished
                // with their rows)
                var cur = Vector.fill(rowMemberIdx.size)(Nest2Vals())
                p.doneRows.reverse.map { r =>
                  val i = rowMemberIdx(r.cls)
                  cur = cur.updated(i, cur(i).add(r.v))
                  NestNOutRow(new Timestamp(r.ms), r.cls, r.counts(nD),
                    (nD - 1 to 1 by -1).map(r.counts(_)), r.counts.head, cur)
                }
              },
              if (!bindValues) Nil else p.cVals)
          val wm = state.getCurrentWatermarkMs()
          val (ready, held) = finalizedPrefix(userId,
            state.getOption.map(_.buf).getOrElse(Nil), rows, wm, tieOf)
          ready.foreach { e =>
            val t = e.ts.getTime
            partials = partials.flatMap { p =>
              if (t > p.firstMs + withinMs) {
                if (p.tot(nD) >= 1) emit(p)
                None
              } else {
                // a fresh unit anchors strictly after the last close at
                // the deepest level holding one
                def freshAnchor: Long = {
                  var l = 0
                  while (l < nD && p.accs(l)(l) == 0L) l += 1
                  if (l < nD) p.lastClose(l)
                  else math.max(p.lastTailMs, p.firstMs)
                }
                val subAnchor =
                  if (p.subIdx > 0) p.inSubLastMs
                  else if (p.accs.head.head > 0) p.lastClose.head
                  else freshAnchor
                // which closer (if any) fires: the SHALLOWEST level whose
                // predicate matches and whose current repetition has a
                // completed child (keep closer predicates disjoint for
                // exact batch parity, the twin convention)
                def closerAt: Int = {
                  var l = 1
                  while (l <= nD) {
                    val hasChild = p.accs(l - 1)(l - 1) >= 1
                    if (closerPreds(l - 1)(e) &&
                        (closerRes.isEmpty || closerRes(l - 1)(e, p.thr)) &&
                        (hasChild || (l == 1 && innerOptional)) &&
                        t > (if (hasChild) p.lastClose(l - 1) else freshAnchor))
                      return l
                    l += 1
                  }
                  0
                }
                // running count of unit j as of a row at closing level
                // `closeLvl` (0 = an inner-member row): committed totals
                // plus the in-progress accumulations from the CLOSED unit
                // up (accs(closeLvl-1) is the unit this close absorbs;
                // units inside deeper in-progress repetitions are
                // discarded by it)
                def rowCounts(closeLvl: Int, inc: Boolean): List[Long] =
                  (0 to nD).toList.map { j =>
                    val acc = (math.max(closeLvl - 1, j) until nD)
                      .map(lp => p.accs(lp)(j)).sum
                    p.tot(j) + acc + (if (inc && j == closeLvl) 1L else 0L)
                  }
                if (p.subIdx < innerPreds.size && innerPreds(p.subIdx)(e) &&
                    (innerRes.isEmpty || innerRes(p.subIdx)(e, p.thr)) &&
                    t > subAnchor) {
                  val vals1 =
                    if (!bindValues) Nil
                    else {
                      val base = if (p.subIdx == 0)
                        p.vals.updated(0, zeroMemberVals) else p.vals
                      base.updated(0, addVal(base(0), p.subIdx, e.value))
                    }
                  if (p.subIdx == innerPreds.size - 1) {
                    // sub completes: its rows and values move up to level 1
                    val gF = if (p.gFirstMs < 0) p.curStartMs else p.gFirstMs
                    val bufs1 =
                      if (!materializeRows) Nil
                      else {
                        val subRows = NestNRow(t, innerNames.last,
                          rowCounts(0, inc = true), e.value) ::
                          (if (p.subIdx == 0) Nil else p.rowBufs.head)
                        p.rowBufs.updated(0, Nil)
                          .updated(1, subRows ::: p.rowBufs(1))
                      }
                    val vals2 =
                      if (!bindValues) Nil
                      else vals1.updated(0, zeroMemberVals)
                        .updated(1, mergeVals(vals1(1), vals1(0)))
                    Some(p.copy(gFirstMs = gF,
                      accs = p.accs.updated(0, List(p.accs.head.head + 1)),
                      lastClose = p.lastClose.updated(0, t),
                      subIdx = 0, curStartMs = -1L, inSubLastMs = -1L,
                      rowBufs = bufs1, vals = vals2))
                  } else {
                    val bufs1 =
                      if (!materializeRows) Nil
                      else p.rowBufs.updated(0,
                        NestNRow(t, innerNames(p.subIdx),
                          rowCounts(0, inc = false), e.value) ::
                          (if (p.subIdx == 0) Nil else p.rowBufs.head))
                    if (p.subIdx == 0)
                      Some(p.copy(subIdx = 1, curStartMs = t, inSubLastMs = t,
                        rowBufs = bufs1, vals = vals1))
                    else Some(p.copy(subIdx = p.subIdx + 1, inSubLastMs = t,
                      rowBufs = bufs1, vals = vals1))
                  }
                } else {
                  val l = closerAt
                  if (l == 0) Some(p)
                  else {
                    // unit-l completes: absorb its counts one level up (or
                    // commit when it IS the outer repetition), then discard
                    // every in-progress unit below it
                    val gF = if (p.gFirstMs < 0) t else p.gFirstMs // childless close
                    val unit = p.accs(l - 1) // counts of units 0..l-1
                    // the closer's row joins the unit it closes; the row
                    // buffers below level l are discarded with their units
                    val closedRows =
                      if (!materializeRows) Nil
                      else NestNRow(t, closerNames(l - 1),
                        rowCounts(l, inc = true), e.value) :: p.rowBufs(l)
                    // the closer is itself a tracked member of the unit
                    val unitVals =
                      if (!bindValues) Nil
                      else addVal(p.vals(l), nInner + (l - 1), e.value)
                    if (l == nD) {
                      val tot2 = p.tot.zipWithIndex.map { case (v, j) =>
                        if (j < nD) v + unit(j) else v + 1L }
                      Some(p.copy(gFirstMs = gF, tot = tot2, lastTailMs = t,
                        accs = zeroAccs, lastClose = zeroClose,
                        subIdx = 0, curStartMs = -1L, inSubLastMs = -1L,
                        rowBufs = zeroBufs,
                        doneRows = if (!materializeRows) Nil
                          else closedRows ::: p.doneRows,
                        vals = zeroVals,
                        cVals = if (!bindValues) Nil
                          else mergeVals(p.cVals, unitVals)))
                    } else {
                      val parent = p.accs(l).zipWithIndex.map { case (v, j) =>
                        if (j < l) v + unit(j) else v + 1L }
                      val accs2 = p.accs.zipWithIndex.map { case (a, i) =>
                        if (i == l) parent
                        else if (i < l) zeroAccs(i)
                        else a }
                      val close2 = p.lastClose.zipWithIndex.map { case (v, i) =>
                        if (i == l) t else if (i < l) -1L else v }
                      val bufs2 =
                        if (!materializeRows) Nil
                        else p.rowBufs.zipWithIndex.map { case (b, i) =>
                          if (i == l + 1) closedRows ::: b
                          else if (i <= l) Nil
                          else b }
                      val vals2 =
                        if (!bindValues) Nil
                        else p.vals.zipWithIndex.map { case (v, i) =>
                          if (i == l + 1) mergeVals(v, unitVals)
                          else if (i <= l) zeroMemberVals
                          else v }
                      Some(p.copy(gFirstMs = gF, accs = accs2,
                        lastClose = close2,
                        subIdx = 0, curStartMs = -1L, inSubLastMs = -1L,
                        rowBufs = bufs2, vals = vals2))
                    }
                  }
                }
              }
            }
            if (firstPred(e))
              partials = (NestNPartial(t, accs = zeroAccs,
                lastClose = zeroClose,
                tot = List.fill(nD + 1)(0L),
                rowBufs = zeroBufs, vals = zeroVals,
                cVals = zeroMemberVals,
                thr = if (thresholdOf == null) 0.0 else thresholdOf(e))
                :: partials).take(maxPartials)
          }
          val (expired, alive) = partials.partition(_.firstMs + withinMs < wm)
          expired.foreach(p => if (p.tot(nD) >= 1) emit(p))
          partials = alive
          if (partials.isEmpty && held.isEmpty) state.remove()
          else {
            state.update(NestNAcc(partials, held))
            state.setTimeoutTimestamp(wakeAt(wm,
              partials.map(_.firstMs + withinMs) ++ held.map(_.ms)))
          }
          if (gkey._2.isEmpty) out.result().iterator
          else out.result().map(_.copy(skey = gkey._2)).iterator
      }
  }

  /** Streaming nested group with an ITERATIVE INNER residual — the twin of
    * `Pattern.followedByNestedGroup(...).bindInnerResidual(...)` (the m49
    * batch shape on the stream; r18): an inner member's acceptance is
    * relative to the match's OWN anchor — `thresholdOf` reads the
    * threshold off the partial-opening event ONCE (NaN = a null anchor
    * binding: SQL 3VL, the partial never binds any sub), and `innerPreds`
    * take (event, threshold). Where the batch compile parametrizes the
    * shared sub-match table by DISTINCT threshold tuples, the stream needs
    * none of that: each partial CARRIES its own threshold, so this is
    * [[cepPatternNestedGroup]] with the predicates moved into `innerRes`. */
  def cepPatternNestedGroupIter(events: Dataset[Event], watermark: String,
                                firstPred: Event => Boolean,
                                thresholdOf: Event => Double,
                                innerPreds: Seq[(Event, Double) => Boolean],
                                tailPred: Event => Boolean, withinMs: Long,
                                maxPartials: Int = 256,
                                tieOf: Event => Double = _.value): Dataset[NestMatch] =
    cepPatternNestedGroup(events, watermark, firstPred,
      innerPreds.map(_ => (_: Event) => true), tailPred, withinMs,
      maxPartials, tieOf = tieOf, thresholdOf = thresholdOf,
      // NaN threshold: no inner step ever binds (SQL 3VL — the anchor's
      // referenced binding was null)
      innerRes = innerPreds.map(f =>
        (e: Event, thr: Double) => !thr.isNaN && f(e, thr)))

  /** Streaming physical-lag enrichment — the MATCH_RECOGNIZE `PREV(V.col,
    * n)` navigation twin (the m27/m28 batch lowering precomputes the same
    * lag as a keyed window column): each event is emitted exactly once,
    * watermark-finalized in `(ts, type, tie, value)` order, carrying the
    * value of the row n positions BACK in its key's event-time order (None
    * for a key's first n rows). State per key: the held not-yet-final
    * buffer plus the last n finalized values — O(n), no event retention
    * after finalization. Compose with the cep ops by filtering on
    * `lag_value` before pattern detection — the same composition the batch
    * engine uses (the lag column rides the candidate scan as an ordinary
    * payload). */
  def streamingLag(events: Dataset[Event], watermark: String, n: Int,
                   tieOf: Event => Double = _.value): Dataset[LagEv] = {
    require(n >= 1, "lag offset must be >= 1")
    implicit val outEnc = Encoders.product[LagEv]
    implicit val accEnc = Encoders.product[LagAcc]
    implicit val keyEnc = Encoders.scalaLong
    tsWatermarked(events, watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LagAcc, LagEv](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[LagAcc]) =>
          val wm = state.getCurrentWatermarkMs()
          val acc = state.getOption.getOrElse(LagAcc())
          val (ready, held) = finalizedPrefix(userId, acc.buf, rows, wm, tieOf)
          var recent = acc.recent // newest-first, length <= n
          val out = ready.map { e =>
            val lagV = recent.lift(n - 1)
            recent = (e.value :: recent).take(n)
            LagEv(userId, e.ts, e.event_type, e.value, lagV)
          }
          if ((held.isEmpty && recent.isEmpty) ||
              (state.hasTimedOut && ready.isEmpty && held.isEmpty)) {
            // idle-TTL expiry (the dedupKeepLast convention): the grace
            // timer fired with NOTHING buffered — a pure idle firing —
            // so drop the n-value tail instead of re-arming forever
            // (unbounded key-count state). A timeout that finalizes held
            // rows is NOT idle: the tail must survive for later batches.
            state.remove()
          } else {
            state.update(LagAcc(held, recent))
            // wake when the earliest held row finalizes; an idle key (no
            // held rows) keeps its n-value tail for a bounded grace period,
            // then evicts — the dedupKeepLast idle-TTL convention
            if (held.nonEmpty)
              state.setTimeoutTimestamp(wakeAt(wm, held.map(_.ms)))
            else state.setTimeoutTimestamp(wm + 24L * 3600 * 1000)
          }
          out.iterator
      }
  }

  /** Streaming twin of the TWO-RUN pattern `(S A+ B+ U)` (the m31 batch
    * shape, ONE ROW PER MATCH): run A binds its first occurrence after S
    * and collects members until run B's first occurrence; B collects until
    * the close event, which binds the EARLIEST `lastPred` event after B
    * opens. Every decision is causal in event-time order (each run's upper
    * bound is the NEXT binding, which arrives later in event time), so the
    * watermark-finalized prefix walk needs NO held closes and O(1) state
    * per partial — boundaries and counts only, never members. Window
    * expiry just drops the partial (emission only ever happens on a close
    * event). maxPartials cap, watermark pruning and event-time eviction as
    * in [[cepPattern]]. */
  def cepPatternTwoRuns(events: Dataset[Event], watermark: String,
                        firstPred: Event => Boolean,
                        run1Pred: Event => Boolean,
                        run2Pred: Event => Boolean,
                        lastPred: Event => Boolean, withinMs: Long,
                        maxPartials: Int = 256): Dataset[TwoRunMatch] = {
    implicit val outEnc = Encoders.product[TwoRunMatch]
    implicit val accEnc = Encoders.product[TwoRunAcc]
    implicit val keyEnc = Encoders.scalaLong
    tsWatermarked(events, watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TwoRunAcc, TwoRunMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[TwoRunAcc]) =>
          var partials = state.getOption.map(_.partials).getOrElse(Nil)
          val out = Seq.newBuilder[TwoRunMatch]
          val wm = state.getCurrentWatermarkMs()
          val (ready, held) = finalizedPrefix(userId,
            state.getOption.map(_.buf).getOrElse(Nil), rows, wm)
          ready.foreach { e =>
            val t = e.ts.getTime
            partials = partials.flatMap { p =>
              if (t > p.firstMs + withinMs) None // window expired
              else if (lastPred(e) && p.r2FirstMs >= 0 && t > p.r2FirstMs) {
                out += TwoRunMatch(userId, new Timestamp(p.firstMs),
                  new Timestamp(p.r1FirstMs), new Timestamp(p.r1LastMs), p.r1N,
                  new Timestamp(p.r2FirstMs), new Timestamp(p.r2LastMs), p.r2N,
                  new Timestamp(t))
                None // completed
              } else if (run2Pred(e) && p.r1FirstMs >= 0 && t > p.r1FirstMs) {
                // run B: opens at its first occurrence after A's first
                // binding; A stops collecting the moment B opens
                if (p.r2FirstMs < 0)
                  Some(p.copy(r2FirstMs = t, r2LastMs = t, r2N = 1))
                else Some(p.copy(r2LastMs = math.max(p.r2LastMs, t),
                  r2N = p.r2N + 1))
              } else if (run1Pred(e) && t > p.firstMs && p.r2FirstMs < 0) {
                // run A members: only until B opens (the batch upper bound
                // is B's first binding)
                if (p.r1FirstMs < 0)
                  Some(p.copy(r1FirstMs = t, r1LastMs = t, r1N = 1))
                else Some(p.copy(r1LastMs = math.max(p.r1LastMs, t),
                  r1N = p.r1N + 1))
              } else Some(p)
            }
            if (firstPred(e))
              partials = (TwoRunPartial(t) :: partials).take(maxPartials)
          }
          partials = partials.filter(_.firstMs + withinMs >= wm)
          if (partials.isEmpty && held.isEmpty) state.remove()
          else {
            state.update(TwoRunAcc(partials, held))
            state.setTimeoutTimestamp(wakeAt(wm,
              partials.map(_.firstMs + withinMs) ++ held.map(_.ms)))
          }
          out.result().iterator
      }
  }

  /** Stream-static enrichment (broadcast dimension join). */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left_outer")

  /** Broadcast state analog (Flink BroadcastConnectedStream /
    * BroadcastProcessFunction, flink-streaming-java/.../datastream/
    * BroadcastConnectedStream.java): a small, slowly-changing rule set
    * visible to every task. In Structured Streaming the idiomatic mechanism
    * is foreachBatch — each micro-batch re-loads the current rules snapshot
    * and broadcast-joins it, so rule updates take effect at the next trigger
    * (same refresh granularity as Flink's broadcast-side elements). */
  def broadcastRulesEnrich(stream: DataFrame, loadRules: () => DataFrame,
                           key: String)(sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
      sink(batch.join(broadcast(loadRules()), Seq(key), "left_outer"))
    }.start()

  /** `DataStream.iterate()` analog (reference flink-streaming-java/src/main/
    * java/org/apache/flink/streaming/api/datastream/DataStream.java:537,
    * IterativeStream.java): elements loop through a step function via a
    * feedback edge until they exit.
    *
    * Spark's dataflow is acyclic, so the TRUE cyclic topology — feedback
    * rows re-entering the SOURCE across micro-batches with unbounded loop
    * lifetime — is not representable and is rejected here by design rather
    * than approximated with an external re-ingestion hack. What IS
    * expressible, and what the reference's own canonical IterateExample
    * (minus-one until zero) actually needs, is a feedback loop that DRAINS:
    * per micro-batch, `step` maps the frontier to (exit rows, feedback
    * rows); feedback re-enters `step` within the same batch until empty.
    * This runs each hop as a distributed job over the full frontier —
    * nothing is collected to the driver — with `localCheckpoint` severing
    * the per-hop lineage growth exactly as [[graft.operators.Iterate]]'s
    * batch fixpoints do (the scale discipline for iterative plans).
    *
    * `maxHops` is the safety analog of Flink's `maxWaitTimeMillis` loop
    * bound: a frontier still non-empty after `maxHops` FAILS the batch
    * loudly (a silent drop would violate exactly-once per-element exit). */
  def iterateBatches(stream: DataFrame,
                     step: DataFrame => (DataFrame, DataFrame),
                     maxHops: Int = 100)(
                     emit: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
      var frontier: DataFrame = batch.toDF()
      var hops = 0
      while (!frontier.isEmpty) {
        if (hops >= maxHops) sys.error(
          s"iterateBatches: feedback not drained after $maxHops hops in " +
            s"batch $id — the loop must converge per micro-batch " +
            "(cross-batch feedback is a cyclic topology Spark rejects)")
        val (out, feedback) = step(frontier)
        emit(out, id)
        frontier = feedback.localCheckpoint(true)
        hops += 1
      }
    }.start()
}
